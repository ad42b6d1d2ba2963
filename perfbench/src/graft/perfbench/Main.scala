package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}
import graft.functions.Sketches
import graft.sources.Tables
import org.apache.spark.BenchBridge
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: set up, measure one workload, write the
  * raw result JSON to `--out`. perfbench/run.py launches it and turns the
  * raw result into the reported metrics.
  *
  * Modes:
  *  - `run`: a measured run of `--workload`;
  *  - `record`: checksum every batch query once (the expected values);
  *  - `invariance`: checksum queries under shuffle partitions 1 and 4. */
object Main {

  final case class Args(mode: String, workload: String, seed: Long, seconds: Int,
                        trace: Boolean, data: String, work: String, out: String,
                        cores: Int, queries: Seq[String])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    Args(kv.getOrElse("mode", "run"), kv.getOrElse("workload", ""),
      kv.getOrElse("seed", "1").toLong, kv.getOrElse("seconds", "10").toInt,
      kv.getOrElse("trace", "0") == "1", kv("data"), kv("work"), kv("out"),
      kv.getOrElse("cores", "4").toInt,
      kv.get("queries").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil))
  }

  def session(a: Args, shufflePartitions: Int): SparkSession = {
    val s = GraftSession.localBuilder(a.cores.toString)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.local.dir", s"${a.work}/local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val result = a.mode match {
      case "run" => run(a)
      case "record" => record(a)
      case "invariance" => invariance(a)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    Files.writeString(Paths.get(a.out), result.render)
  }

  private def sf(a: Args, tier: String) = s"${a.data}/$tier"

  /** ns per call of the two sketch reducers over `texts`' own tokens. */
  private def reduceNs(texts: Seq[String]): Json.V = {
    val toks = texts.iterator.flatMap(t => Stream.tokens(t).iterator).take(200000).toArray
    val cms = new Sketches.CmsAggregator()
    var buf = cms.zero
    val t0 = System.nanoTime()
    toks.foreach(t => buf = cms.reduce(buf, t))
    val t1 = System.nanoTime()
    val fm = new Sketches.FmAggregator()
    val sample = texts.take(50000)
    var r = fm.zero
    val t2 = System.nanoTime()
    sample.foreach(t => r = fm.reduce(r, t))
    val t3 = System.nanoTime()
    Json.obj("cms_reduce_ns" -> Json.num((t1 - t0).toDouble / math.max(1, toks.length)),
      "fm_reduce_ns" -> Json.num((t3 - t2).toDouble / math.max(1, sample.length)),
      "cms_calls" -> Json.num(toks.length.toLong), "fm_calls" -> Json.num(sample.length.toLong))
  }

  def run(a: Args): Json.V = {
    val mainEpochMs = System.currentTimeMillis()
    val trace = new Trace(a.trace, s"${a.workload}-${a.seed}-${ProcessHandle.current().pid()}")
    val layers = new Layers(detail = a.trace)
    val spark = session(a, a.cores)
    val sc = spark.sparkContext
    sc.addSparkListener(layers)
    if (a.trace) spark.listenerManager.register(layers.planner)
    val sessionEpochMs = System.currentTimeMillis()

    // -- set-up: warm-up at sf0.001 and input preparation --
    val warmDir = sf(a, "sf0.001")
    val dataDir = sf(a, "sf0.1")
    val warm = new Batch.Runner(spark, warmDir, new Trace(false, "warm"), layers, "warm")
    val prepared = a.workload match {
      case "stream_cms" =>
        Stream.warmUp(spark, a.seed, layers, s"${a.work}/warm")
        Some(Stream.prepare(a.seed, a.seconds.toDouble))
      case "trend_queries" =>
        Batch.TrendQueries.foreach(q => warm.run(q, -1, 0L)); None
      case "corpus_batch" =>
        Batch.CorpusWarmUp.foreach(q => warm.run(q, -1, 0L)); None
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    BenchBridge.drainListenerBus(sc)
    layers.current = "idle"
    val setupEndEpochMs = System.currentTimeMillis()

    // -- measured phase --
    val m0 = System.nanoTime()
    val body: Seq[(String, Json.V)] = trace(s"run:${a.workload}") { root =>
      a.workload match {
        case "stream_cms" =>
          Seq("stream" -> Stream.run(spark, prepared.get, trace, layers,
            s"${a.work}/stream", root, a.cores, check = true, label = "stream"))
        case w =>
          val runner = new Batch.Runner(spark, dataDir, trace, layers, "op")
          val (ops, passes) =
            if (w == "trend_queries") Batch.trend(runner, a.seed, a.seconds, trace, root)
            else Batch.corpus(runner, trace, root)
          Seq("ops" -> Json.arr(ops.map(_.toJson)), "passes_s" -> Json.nums(passes))
      }
    }
    val measuredS = (System.nanoTime() - m0) / 1e9
    BenchBridge.drainListenerBus(sc)

    val extra: Seq[(String, Json.V)] = if (!a.trace) Nil else {
      val held = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      val texts = prepared.map(_.tweets.map(_.text)).getOrElse(
        Tables.documents(spark, dataDir).select("text").collect().toSeq
          .flatMap(r => Option(r.getString(0))))
      Seq("layers" -> layers.toJson, "spans" -> trace.toJson,
        "storage_held_bytes" -> Json.num(held), "functions" -> reduceNs(texts),
        "trace_origin_epoch_ms" -> Json.num(trace.originEpochMs))
    }
    val res = Json.obj((Seq(
      "workload" -> Json.str(a.workload), "seed" -> Json.num(a.seed),
      "cores" -> Json.num(a.cores.toLong), "traced" -> Json.bool(a.trace),
      "main_epoch_ms" -> Json.num(mainEpochMs),
      "session_epoch_ms" -> Json.num(sessionEpochMs),
      "setup_end_epoch_ms" -> Json.num(setupEndEpochMs),
      "measured_s" -> Json.num(measuredS)) ++ body ++ extra): _*)
    spark.stop()
    res
  }

  /** Checksum of each named query (default: both batch suites) at sf0.1. */
  def record(a: Args): Json.V = {
    val spark = session(a, a.cores)
    val names = if (a.queries.nonEmpty) a.queries
                else Batch.TrendQueries ++ Batch.CorpusQueries
    val r = names.map { q =>
      val t0 = System.nanoTime()
      try {
        val c = Checksum.of(SparkEntry.queries(q)(spark, sf(a, "sf0.1")))
        q -> Json.obj("rows" -> Json.num(c.rows), "sum" -> Json.str(c.sum),
          "seconds" -> Json.num((System.nanoTime() - t0) / 1e9))
      } catch { case e: Throwable => q -> Json.obj("error" -> Json.str(e.getMessage.take(300))) }
    }
    spark.stop()
    Json.obj(r: _*)
  }

  /** Checksums of the named queries at sf0.1 under 1 and 4 shuffle
    * partitions, one session each. */
  def invariance(a: Args): Json.V = {
    val per = Seq(1, 4).map { parts =>
      val spark = session(a, parts)
      val r = a.queries.map { q =>
        val c = Checksum.of(SparkEntry.queries(q)(spark, sf(a, "sf0.1")))
        q -> Json.obj("rows" -> Json.num(c.rows), "sum" -> Json.str(c.sum))
      }
      spark.stop()
      parts.toString -> Json.obj(r: _*)
    }
    Json.obj(per: _*)
  }
}
