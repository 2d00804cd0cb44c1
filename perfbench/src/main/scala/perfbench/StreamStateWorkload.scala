package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructType, TimestampType}

import graft.streaming.StreamIngest

/** The Structured Streaming state store: `StreamIngest.statefulCountsWithTtl`
  * over a file source admitting one generated file per trigger
  * (`Trigger.AvailableNow`, `maxFilesPerTrigger=1`) into a noop sink.
  * Event time advances with the file index, so the TTL keeps tens of
  * thousands of entities live. The sink's output is summarised per trigger
  * through `observe` and checked against a plain-Scala model of the
  * operator fed the same files in the same order.
  */
final class StreamStateWorkload(spark: SparkSession, tr: Tracer, seed: Long) extends Workload {
  import StreamStateWorkload._

  private var dir: Path = _
  private var files: Array[(Path, Array[Event])] = _
  private var progress: Seq[StreamingQueryProgress] = Nil
  /** process CPU time when each trigger's progress arrived */
  private val cpuAt = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  def setup(d: Path): Unit = {
    dir = d
    files = Gen.streamFiles(P, seed, T0, MaxFiles, d.resolve("in"))
  }

  def run(seconds: Int, out: Outcome): Unit = {
    val events = spark.readStream.schema(EventsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.resolve("in").toString)
    val n = col("_2")
    val counted = StreamIngest.statefulCountsWithTtl(events, TtlSecs)
      .observe("out",
        count(lit(1)).as("rows"),
        sum(when(n === -1L, 1L).otherwise(0L)).as("tombstones"),
        sum(when(n >= 0L, n).otherwise(0L)).as("n_sum"),
        sum(col("_3")).as("last_sum"))
    // progress arrives through a StreamingQueryListener: every trigger's
    // durations, state-operator counters and observed output
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        cpuAt.put(e.progress.batchId, Clock.cpuNs())
        seen.add(e.progress)
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    var q: StreamingQuery = null
    out.op("stream_state query") {
      tr.span("op.stream") {
        q = counted.writeStream.format("noop").outputMode("append")
          .option("checkpointLocation", dir.resolve("checkpoint").toString)
          .trigger(Trigger.AvailableNow())
          .start()
        // warm-up triggers first, then `seconds` of timed triggers
        while (q.isActive && seen.size < WarmTriggers) Thread.sleep(10)
        val deadline = System.nanoTime() + seconds * 1000000000L
        while (q.isActive && System.nanoTime() < deadline) Thread.sleep(10)
        q.stop()
        q.exception.foreach(e => throw e)
      }
    }
    tr.drain()
    spark.streams.removeListener(listener)
    progress = seen.asScala.toSeq.filter(p => q != null && p.id == q.id && p.numInputRows > 0)
    out.check(timedProgress.nonEmpty, s"no timed trigger completed (${progress.size} in all)")
  }

  private def timedProgress: Seq[StreamingQueryProgress] = progress.filter(_.batchId >= WarmTriggers)

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Every completed trigger's observed output equals the model's. */
  def verify(out: Outcome): Unit = {
    val model = new TtlModel(TtlSecs)
    val byBatch = progress.map(p => p.batchId -> p).toMap
    val last = if (progress.isEmpty) -1L else progress.map(_.batchId).max
    (0L to last).foreach { b =>
      val want = model.batch(files(b.toInt)._2)
      byBatch.get(b) match {
        case None => out.check(ok = false, s"trigger $b reported no progress")
        case Some(p) =>
          val r = p.observedMetrics.get("out")
          val got = if (r == null) null
            else Seq(r.getAs[Long]("rows"), r.getAs[Long]("tombstones"),
              r.getAs[Long]("n_sum"), r.getAs[Long]("last_sum"))
          out.check(got == want.productIterator.toSeq, s"trigger $b: observed $got, model $want")
          out.check(p.stateOperators.head.numRowsTotal == model.live,
            s"trigger $b: ${p.stateOperators.head.numRowsTotal} state rows, model ${model.live}")
      }
    }
  }

  def opMs: Seq[Double] = timedProgress.map(dur(_, "triggerExecution"))
  def workPerS: Double =
    Stats.ratio(timedProgress.map(_.numInputRows.toDouble).sum, opMs.sum / 1000.0)
  def cpuMsPerOp: Double = timedProgress.map(_.batchId).maxOption.fold(0.0) { last =>
    Stats.ratio((cpuAt.get(last) - cpuAt.get(WarmTriggers - 1L)) / 1e6, timedProgress.size)
  }

  def perLayer(out: Outcome): Map[String, Double] = {
    val ps = timedProgress
    def mean(f: StreamingQueryProgress => Double) = Stats.mean(ps.map(f))
    def op(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      mean(p => f(p.stateOperators.head))
    val ops = ps.map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val wall = dur(p, "triggerExecution")
      val work = tr.sparkOfBatch(p.batchId)
      val fake = Span(0, 0, "op.trigger", p.batchId, "", start, start + wall)
      SparkLayer.Op(wall, wall - Tracer.covered(
        work.jobs.map { case (a, b) => (a.toDouble, b.toDouble) }.toSeq, fake), Seq(work))
    }
    Map(
      "state.add_batch_ms" -> mean(dur(_, "addBatch")),
      "state.wal_commit_ms" -> mean(dur(_, "walCommit")),
      "state.commit_offsets_ms" -> mean(dur(_, "commitOffsets")),
      "state.latest_offset_ms" -> mean(dur(_, "latestOffset")),
      "state.planning_ms" -> mean(dur(_, "queryPlanning")),
      "state.rows_total" -> op(_.numRowsTotal.toDouble),
      "state.rows_updated" -> op(_.numRowsUpdated.toDouble),
      "state.rows_removed" -> op(_.numRowsRemoved.toDouble),
      "state.commit_ms" -> op(_.commitTimeMs.toDouble),
      "state.memory_bytes" -> op(_.memoryUsedBytes.toDouble),
      "state.watermark_dropped" -> op(_.numRowsDroppedByWatermark.toDouble)
    ) ++ SparkLayer.of(ops)
  }
}

object StreamStateWorkload {
  /** 100k-entity population, 5k events per file, ten minutes of event time
    * per file, 2 % of events up to two files late. */
  val P: GenParams = GenParams(entities = 100000, skew = 0.6, batchEvents = 5000,
    advanceSecs = 600, lateFrac = 0.02, futureFrac = 0.0, replayEvery = 0)
  /** State lives six files' worth of event time past an entity's last
    * event, so timed triggers both add and evict state. */
  val TtlSecs: Long = 6 * P.advanceSecs
  val T0: Long = 1700006400L
  val MaxFiles = 60
  /** the state reaches its steady size (the TTL window) during warm-up */
  val WarmTriggers = 10

  val EventsSchema: StructType = new StructType()
    .add("event_id", LongType).add("ts", TimestampType).add("user_id", LongType)
    .add("event_type", StringType).add("value", DoubleType).add("props", StringType)

  private final case class St(n: Long, last: Long, timeoutMs: Long)

  /** Plain-Scala model of `statefulCountsWithTtl` under Spark's event-time
    * semantics. A batch runs with two watermarks: rows at or behind the
    * previous batch's watermark are dropped as late, and timeouts compare
    * against the current one, which is the largest event time seen before
    * the batch. Groups with data update first; then every other state whose
    * timeout lies behind the watermark emits its tombstone. */
  final class TtlModel(ttlSecs: Long) {
    private val state = mutable.HashMap.empty[Long, St]
    private var lateWmMs = 0L
    private var wmMs = 0L
    private var seenMs = 0L
    def live: Long = state.size.toLong

    /** (rows, tombstones, Σn, Σlast) emitted for one batch. */
    def batch(evs: Array[Event]): (Long, Long, Long, Long) = {
      var rows, tombs, nSum, lastSum = 0L
      def emit(n: Long, last: Long): Unit = {
        rows += 1; lastSum += last
        if (n == -1L) tombs += 1 else nSum += n
      }
      val kept = evs.filter(e => e.tsMicros > lateWmMs * 1000L)
      val touched = mutable.HashSet.empty[Long]
      kept.groupBy(_.user).foreach { case (uid, es) =>
        touched += uid
        val prev = state.get(uid)
        val n = prev.map(_.n).getOrElse(0L) + es.length
        val last = math.max(prev.map(_.last).getOrElse(0L),
          es.map(e => Math.floorDiv(e.tsMicros, 1000L) / 1000L).max)
        val timeoutMs = (last + ttlSecs) * 1000L
        emit(n, last)
        if (timeoutMs < wmMs) { state.remove(uid); emit(-1L, last) }
        else state(uid) = St(n, last, timeoutMs)
      }
      state.toSeq.filter { case (uid, s) => !touched(uid) && s.timeoutMs < wmMs }.foreach {
        case (uid, s) => state.remove(uid); emit(-1L, s.last)
      }
      if (evs.nonEmpty) seenMs = math.max(seenMs, evs.map(e => Math.floorDiv(e.tsMicros, 1000L)).max)
      lateWmMs = wmMs
      wmMs = seenMs
      (rows, tombs, nSum, lastSum)
    }
  }
}
