package graft.perfbench

import graft.SparkEntry
import org.apache.spark.BenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The two batch workloads. Each operation is one registered query: its
  * `SparkEntry.queries` builder, then the checksum action over its result.
  * Both are timed; the comparison with the expected value is left to the
  * runner script, outside the timed path. */
object Batch {

  /** A dashboard's trend and sketch queries (closed loop, one client). */
  val TrendQueries: Seq[String] = Seq(
    "q_edw_trend", "q_edw_enriched", "q_decayed_types", "q_sliding_trend",
    "q_burst_kleinberg", "q_cusum_change", "q_rank_movers", "q_top_keywords",
    "q_keyword_cms", "q_heavy_hitters")

  /** Iterative builders, then the shuffle-heavy pair and span queries. */
  val CorpusQueries: Seq[String] = Seq(
    "q_ppmi_svd", "q_opq_codebooks", "q_textrank", "q_jaccard_pairs",
    "q_suffix_scrub")

  /** Corpus builders run once per JVM in production, so corpus_batch warms
    * only the shared machinery (tokenizing, shuffles, checkpoints) on other
    * queries, and its pass pays each builder's first execution. */
  val CorpusWarmUp: Seq[String] = Seq("q_tfidf_top")

  final case class Op(label: String, name: String, pass: Int, startMs: Double, buildS: Double,
                      actionS: Double, rows: Long, sum: String,
                      buildJobs: Long, actionJobs: Long, error: String) {
    def latencyS: Double = buildS + actionS
    def toJson: Json.V = Json.obj(
      "name" -> Json.str(name), "pass" -> Json.num(pass.toLong),
      "start_ms" -> Json.num(startMs), "build_s" -> Json.num(buildS),
      "action_s" -> Json.num(actionS), "latency_s" -> Json.num(latencyS),
      "rows" -> Json.num(rows), "sum" -> Json.str(sum),
      "build_jobs" -> Json.num(buildJobs), "action_jobs" -> Json.num(actionJobs),
      "error" -> (if (error == null) Json.nul else Json.str(error)))
  }

  /** Seed-permuted order of `names` (Fisher-Yates on a seeded RNG). */
  def permuted(names: Seq[String], seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(names)

  /** Runs queries against the tier at `dir`; `prefix` keeps its call labels
    * apart from another runner's (the warm-up's). */
  final class Runner(spark: SparkSession, dir: String, trace: Trace,
                     layers: Layers, prefix: String) {
    private val sc = spark.sparkContext
    private var seq = 0

    private def inGroup[T](label: String)(body: => T): T = {
      sc.setJobGroup(label, label, interruptOnCancel = false)
      layers.current = label
      try body finally sc.clearJobGroup()
    }

    /** Build, then checksum, one query. Errors become a failed operation. */
    def run(name: String, pass: Int, parent: Long): Op = {
      seq += 1
      val label = s"$prefix$seq:$name"
      val start = trace.nowNs
      var buildS = 0.0
      var actionS = 0.0
      val result = trace(s"query:$name", parent) { qid =>
        try {
          val t0 = System.nanoTime()
          val df: DataFrame = inGroup(s"$label:build") {
            trace("queries.build", qid)(_ => SparkEntry.queries(name)(spark, dir))
          }
          val t1 = System.nanoTime()
          buildS = (t1 - t0) / 1e9
          val r = inGroup(s"$label:action") {
            trace("queries.action", qid)(_ => Checksum.of(df))
          }
          actionS = (System.nanoTime() - t1) / 1e9
          Right(r)
        } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
      layers.current = "idle"
      if (trace.enabled) BenchBridge.drainListenerBus(sc)
      result match {
        case Right(r) => Op(label, name, pass, start / 1e6, buildS, actionS, r.rows, r.sum,
          0L, 0L, null)
        case Left(err) => Op(label, name, pass, start / 1e6, buildS, actionS, -1L, "", 0L, 0L,
          err.take(500))
      }
    }

    /** Fill in per-operation job counts once the listener bus has drained. */
    def withJobs(ops: Seq[Op]): Seq[Op] = {
      BenchBridge.drainListenerBus(sc)
      ops.map(op => op.copy(buildJobs = layers.jobsOf(s"${op.label}:build"),
        actionJobs = layers.jobsOf(s"${op.label}:action")))
    }
  }

  /** trend_queries: whole passes over the permuted suite, started while the
    * previous pass's duration still fits in the measuring window. */
  def trend(runner: Runner, seed: Long, seconds: Int, trace: Trace,
            root: Long): (Seq[Op], Seq[Double]) = {
    val order = permuted(TrendQueries, seed)
    val ops = Vector.newBuilder[Op]
    val passes = Vector.newBuilder[Double]
    val t0 = System.nanoTime()
    var last = 0.0
    var pass = 0
    while (pass == 0 || (System.nanoTime() - t0) / 1e9 + last <= seconds) {
      val p0 = System.nanoTime()
      trace(s"pass:$pass", root) { pid => order.foreach(q => ops += runner.run(q, pass, pid)) }
      last = (System.nanoTime() - p0) / 1e9
      passes += last
      pass += 1
    }
    (runner.withJobs(ops.result()), passes.result())
  }

  /** corpus_batch: one pass over the suite, in its fixed order. */
  def corpus(runner: Runner, trace: Trace, root: Long): (Seq[Op], Seq[Double]) = {
    val p0 = System.nanoTime()
    val ops = trace("pass:0", root)(pid => CorpusQueries.map(q => runner.run(q, 0, pid)))
    (runner.withJobs(ops), Seq((System.nanoTime() - p0) / 1e9))
  }
}
