package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.functions.Sketches
import graft.sources.SyntheticTweets
import graft.streaming.TrendJobs
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, MemoryStream}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

/** stream_cms: an open-loop tweet stream into `TrendJobs.cmsJob`.
  *
  * One generator thread offers seeded `SyntheticTweets`, serialized as the
  * reference producer's JSON, to a single-partition in-memory source (the
  * reference's one-partition topic) on a fixed schedule that does not slow
  * when the job does. The job runs with the reference's as-fast-as-possible
  * trigger and the parquet sinks `StreamMain` uses. An event's latency runs
  * from its due time until the CMS-estimates sink call of its micro-batch
  * returns. */
object Stream {

  /** The offered load, in cycles of `cycleS` seconds: a steady Poisson
    * rate well below what one partition sustains, a quiet gap, a burst above
    * capacity, and quiet again while the burst drains. One partition
    * sustains ~7-10k events/s on 4 cores, but only ~5k/s while the host runs
    * slow, and near that limit every slow batch grows the next one; 2,000/s
    * stays clear of it. The gap lets the job fall idle, so each burst meets
    * an idle job: a first micro-batch takes its first few events, and the
    * second all the rest, because the burst is shorter than a micro-batch.
    * How long a burst takes to drain then depends on the job's speed, not
    * on where the burst falls within a running micro-batch. A drain lasts
    * about a second, so a run has a burst in each cycle, and the drain rate
    * is taken over all of them. */
  final case class Schedule(rate: Double, gapS: Double, burstRate: Double,
                            burstS: Double, quietS: Double, cycleS: Double)

  val DefaultSchedule: Schedule = Schedule(rate = 2000.0, gapS = 1.5,
    burstRate = 24000.0, burstS = 0.1, quietS = 1.5, cycleS = 7.5)

  /** The set-up's warm-up: one stream on the default schedule. The JIT
    * compiler needs dozens of micro-batches before the per-batch path stops
    * getting faster; a shorter warm-up leaves the measured batches on that
    * curve, where their speed differs from one JVM to the next. */
  val WarmUpSeconds: Double = 15.0

  def warmUp(spark: SparkSession, seed: Long, layers: Layers, dir: String): Unit =
    run(spark, prepare(seed + 1000003L, WarmUpSeconds), new Trace(false, "warm"), layers,
      dir, 0L, 1, check = false, label = "warm")

  /** Due times (ns from the stream's start) of a seeded Poisson arrival
    * process over `seconds`, the index of each cycle's first event, and the
    * first and last event index of each burst. */
  def dueTimes(seed: Long, seconds: Double,
               s: Schedule): (Array[Long], Seq[Int], Seq[(Int, Int)]) = {
    val rnd = new scala.util.Random(seed * 31 + 7)
    val out = mutable.ArrayBuilder.make[Long]
    val cycles = math.max(1, math.round(seconds / s.cycleS).toInt)
    val cycle = seconds / cycles
    val steady = cycle - s.gapS - s.burstS - s.quietS
    require(steady > 0, s"a run of $seconds s leaves no steady phase")
    def arrivals(from: Double, to: Double, rate: Double): Unit = {
      var t = from - math.log(1.0 - rnd.nextDouble()) / rate
      while (t < to) { out += (t * 1e9).toLong; t += -math.log(1.0 - rnd.nextDouble()) / rate }
    }
    val starts = mutable.ArrayBuffer[Int]()
    val bursts = (0 until cycles).map { c =>
      starts += out.length
      arrivals(c * cycle, c * cycle + steady, s.rate)
      val first = out.length
      val b0 = c * cycle + steady + s.gapS
      arrivals(b0, b0 + s.burstS, s.burstRate)
      (first, out.length - 1)
    }
    (out.result(), starts.toSeq, bursts)
  }

  private def jsonOf(t: SyntheticTweets.Tweet): String =
    Json.obj("text" -> Json.str(t.text), "created_at" -> Json.str(t.created_at),
      "sentiment" -> Json.str(t.sentiment),
      "entities" -> Json.arr(t.entities.map(Json.str))).render

  private def keyOf(text: String, createdMicros: Long, sentiment: String,
                    entities: Seq[String]): String =
    s"$text\u0001$createdMicros\u0001$sentiment\u0001${entities.mkString("\u0002")}"

  def tokens(text: String): Array[String] = text.split("\\s+").filter(_.nonEmpty)

  /** The reference's estimates for one batch, recomputed in-process. */
  def expectedEstimates(texts: Iterator[String]): Map[String, Long] = {
    val agg = new Sketches.CmsAggregator()
    var buf = agg.zero
    texts.foreach(t => tokens(t).foreach(tok => buf = agg.reduce(buf, tok)))
    Sketches.TrackedKeywords.map(k => k -> Sketches.cmsEstimate(buf, k)).toMap
  }

  final case class Progress(batchId: Long, rows: Long, startEpochMs: Long,
                            durations: Map[String, Long], startOffset: Long,
                            endOffset: Long)

  private def offsetOf(json: String): Long =
    if (json == null || json == "null") -1L else json.trim.toLong

  final class Prepared(val due: Array[Long], val cycles: Seq[Int], val bursts: Seq[(Int, Int)],
                       val tweets: IndexedSeq[SyntheticTweets.Tweet],
                       val json: Array[String])

  def prepare(seed: Long, seconds: Double, s: Schedule = DefaultSchedule): Prepared = {
    val (due, cycles, bursts) = dueTimes(seed, seconds, s)
    val tweets = SyntheticTweets.generate(seed, due.length).toIndexedSeq
    new Prepared(due, cycles, bursts, tweets, tweets.map(jsonOf).toArray)
  }

  /** Run the job over `p`'s schedule; returns the raw result object. */
  def run(spark: SparkSession, p: Prepared, trace: Trace, layers: Layers,
          dir: String, root: Long, threads: Int, check: Boolean,
          label: String): Json.V = {
    val n = p.due.length
    val out = s"$dir/out"
    val source = MemoryStream[String](1)(Encoders.STRING, spark.sqlContext)
    val cmsDone = new ConcurrentHashMap[Long, java.lang.Long]()
    val rawMs = new ConcurrentHashMap[Long, java.lang.Double]()
    val cmsMs = new ConcurrentHashMap[Long, java.lang.Double]()
    val sinkSpans = new ConcurrentHashMap[Long, Seq[(String, Long, Long)]]()

    def parquet(sub: String)(b: DataFrame, id: Long): Unit =
      b.withColumn("batch_id", lit(id)).write.mode("append").parquet(s"$out/$sub")
    def timed(into: ConcurrentHashMap[Long, java.lang.Double], name: String,
              write: (DataFrame, Long) => Unit)(b: DataFrame, id: Long): Unit = {
      val s = trace.nowNs
      write(b, id)
      val e = trace.nowNs
      into.put(id, (e - s) / 1e6)
      sinkSpans.merge(id, Seq((name, s, e)), (a, b) => a ++ b)
      if (name == "sinks.cms") cmsDone.put(id, e)
    }

    val progress = new java.util.concurrent.ConcurrentLinkedQueue[(java.util.UUID, Progress)]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val pr = e.progress
        if (pr.numInputRows > 0) {
          val src = pr.sources.head
          progress.add(pr.id -> Progress(pr.batchId, pr.numInputRows,
            java.time.Instant.parse(pr.timestamp).toEpochMilli,
            pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
            offsetOf(src.startOffset), offsetOf(src.endOffset)))
        }
      }
    }
    spark.streams.addListener(listener)
    layers.current = label
    val query = TrendJobs.cmsJob(source.toDF(), s"$dir/ckpt",
      timed(rawMs, "sinks.raw", parquet("tweets")),
      timed(cmsMs, "sinks.cms", parquet("cms_estimates")),
      trigger = Trigger.ProcessingTime(0L))

    // the generator: one thread, sleeping until each event is due and then
    // offering every event that is due by now in one append
    val chunkOffset = new Array[Long](n)
    val addNs = new Array[Long](n)
    var lateMax = 0L
    val origin = trace.nowNs + 200L * 1000 * 1000
    val streamSpan = trace("stream", root) { _ =>
      val gen = new Thread(() => {
        var i = 0
        while (i < n) {
          val dueAbs = origin + p.due(i)
          var now = trace.nowNs
          while (now < dueAbs) { LockSupport.parkNanos(dueAbs - now); now = trace.nowNs }
          var j = i
          while (j < n && origin + p.due(j) <= now) j += 1
          val off = source.addData(p.json.slice(i, j).toSeq).asInstanceOf[LongOffset].offset
          lateMax = math.max(lateMax, now - dueAbs)
          var k = i
          while (k < j) { chunkOffset(k) = off; addNs(k) = now; k += 1 }
          i = j
        }
      }, "perfbench-generator")
      gen.start()
      gen.join()
      query.processAllAvailable()
      query.stop()
      trace.nowNs
    }
    org.apache.spark.BenchBridge.drainListenerBus(spark.sparkContext)
    spark.streams.removeListener(listener)
    val endNs = trace.nowNs
    layers.current = "idle"

    // the listener hears every query of the session; keep this one's
    val batches = progress.asScala.toSeq.collect { case (id, b) if id == query.id => b }
      .sortBy(_.batchId)
    // micro-batch spans from the progress events, with the sink calls as children
    if (trace.enabled) {
      val epochToNs = (ms: Long) => (ms - trace.originEpochMs) * 1000000L
      batches.foreach { b =>
        val s = epochToNs(b.startEpochMs)
        val bid = trace.record("streaming.batch", 0L, s,
          s + b.durations.getOrElse("triggerExecution", 0L) * 1000000L)
        Option(sinkSpans.get(b.batchId)).getOrElse(Nil).foreach { case (name, a, z) =>
          trace.record(name, bid, a, z) }
      }
    }

    // which micro-batch carried each event: the source's offset ranges
    val batchOfOffset = mutable.HashMap[Long, Long]()
    batches.foreach(b => ((b.startOffset + 1) to b.endOffset).foreach(o => batchOfOffset(o) = b.batchId))
    val batchOf = Array.tabulate(n)(k => batchOfOffset.getOrElse(chunkOffset(k), -1L))

    // -- output checks, outside the timed path --
    val check0 = System.nanoTime()
    val failedEvents = if (check) failures(spark, p, out, batchOf, threads) else 0L
    val checkS = (System.nanoTime() - check0) / 1e9

    // -- end-to-end numbers --
    val doneOf = (k: Int) => Option(cmsDone.get(batchOf(k))).map(_.longValue)
    val latMs = (p.cycles :+ n).sliding(2).map { case Seq(a, z) =>
      (a until z).flatMap(k => doneOf(k).map(d => (d - (origin + p.due(k))) / 1e6)) }.toSeq
    val lastDone = (0 until n).flatMap(doneOf).maxOption.getOrElse(endNs)
    // each burst's drain: from its first event's due time until its last
    // event's result is written, and the events written in between
    val drains = p.bursts.filter { case (first, last) => first <= last }.map { case (first, last) =>
      val t0 = origin + p.due(first)
      val t1 = doneOf(last).getOrElse(endNs)
      ((0 until n).count(k => doneOf(k).exists(d => d > t0 && d <= t1)), (t1 - t0) / 1e9)
    }
    // backlog: offered but not yet written, sampled just before each write
    val dones = batches.flatMap(b => Option(cmsDone.get(b.batchId)).map(_.longValue)).sorted
    val addedSorted = addNs.sorted
    val doneSorted = (0 until n).flatMap(doneOf).sorted.toArray
    def countLe(a: Array[Long], t: Long): Int = {
      val i = java.util.Arrays.binarySearch(a, t)
      if (i >= 0) { var j = i; while (j + 1 < a.length && a(j + 1) == t) j += 1; j + 1 } else -i - 1
    }
    val backlog = dones.map(t => countLe(addedSorted, t) - countLe(doneSorted, t - 1)).maxOption.getOrElse(0)

    Json.obj(
      "events" -> Json.num(n.toLong),
      "failed_events" -> Json.num(failedEvents),
      "latency_ms_by_cycle" -> Json.arr(latMs.map(Json.nums)),
      "wall_s" -> Json.num((lastDone - origin) / 1e9),
      "drain_events_per_s" -> Json.num(drains.map(_._1).sum / drains.map(_._2).sum),
      "drains" -> Json.arr(drains.map { case (w, sec) =>
        Json.obj("events" -> Json.num(w.toLong), "seconds" -> Json.num(sec)) }),
      "gen_late_ms_max" -> Json.num(lateMax / 1e6),
      "backlog_max_events" -> Json.num(backlog.toLong),
      "window_epoch_ms" -> Json.nums(Seq(origin, streamSpan).map(ns =>
        trace.originEpochMs + ns / 1e6)),
      "check_s" -> Json.num(checkS),
      "batches" -> Json.arr(batches.map(b => Json.obj(
        "id" -> Json.num(b.batchId), "rows" -> Json.num(b.rows),
        "start_epoch_ms" -> Json.num(b.startEpochMs),
        "durations_ms" -> Json.obj(b.durations.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.num(v) }: _*),
        "raw_write_ms" -> Option(rawMs.get(b.batchId)).map(x => Json.num(x.doubleValue)).getOrElse(Json.nul),
        "cms_write_ms" -> Option(cmsMs.get(b.batchId)).map(x => Json.num(x.doubleValue)).getOrElse(Json.nul)))))
  }

  /** Events that did not reach the raw sink exactly once in their own
    * micro-batch, or whose micro-batch's estimates differ from an
    * in-process recompute over the texts the generator offered; plus any
    * raw row of a micro-batch that carried no offered event. */
  private def failures(spark: SparkSession, p: Prepared, out: String,
                       batchOf: Array[Long], threads: Int): Long = {
    val n = p.due.length
    val byBatch = (0 until n).groupBy(batchOf(_))
    val rawRows = spark.read.parquet(s"$out/tweets")
      .selectExpr("batch_id", "text", "created_at", "sentiment", "entities").collect()
    val rawByBatch = rawRows.groupBy(_.getLong(0)).map { case (b, rs) =>
      b -> rs.toSeq.map { r =>
        val ts = r.getTimestamp(2)
        keyOf(r.getString(1), ts.getTime / 1000 * 1000000L + ts.getNanos / 1000,
          r.getString(3), r.getSeq[String](4))
      }.groupBy(identity).view.mapValues(_.size).toMap
    }
    val estimates = spark.read.parquet(s"$out/cms_estimates")
      .selectExpr("batch_id", "keyword", "estimated_count").collect()
      .groupBy(_.getLong(0)).map { case (b, rs) =>
        b -> rs.map(r => r.getString(1) -> r.get(2).toString.toLong).toMap }
    val pool = Executors.newFixedThreadPool(math.max(1, threads))
    val verdicts = new ConcurrentHashMap[Long, java.lang.Boolean]()
    byBatch.foreach { case (b, idx) =>
      pool.submit(new Runnable { def run(): Unit = {
        val expectRaw = idx.map { k =>
          val t = p.tweets(k)
          val at = java.time.Instant.parse(t.created_at)
          keyOf(t.text, at.getEpochSecond * 1000000L + at.getNano / 1000, t.sentiment,
            t.entities)
        }.groupBy(identity).view.mapValues(_.size).toMap
        val ok = b >= 0 && rawByBatch.get(b).contains(expectRaw) &&
          estimates.get(b).contains(expectedEstimates(idx.iterator.map(p.tweets(_).text)))
        verdicts.put(b, ok)
      }})
    }
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.MINUTES)
    val strayRows = rawByBatch.keySet.diff(byBatch.keySet).toSeq
      .map(b => rawByBatch(b).values.sum.toLong).sum
    (0 until n).count(k => !verdicts.getOrDefault(batchOf(k), false)) + strayRows
  }
}
