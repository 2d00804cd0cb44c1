package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.fold.{EntityFold, TypedTask}
import graft.ingest.EventTasks
import graft.ops.{TaskCodec, UpdateAlgebra}
import graft.streaming.StreamIngest
import graft.streaming.StreamIngest.MergeOnReadSnapshotStore

/** NERD's write path: a closed loop of micro-batches through
  * `StreamIngest.runBatchExactlyOnce` onto a pre-loaded merge-on-read store,
  * each commit followed by a read-after-write lookup through `store.read()`;
  * every `replayEvery`-th batch also re-submits an earlier batch id, which
  * must change nothing. One client.
  */
final class IngestWorkload(spark: SparkSession, tr: Tracer, seed: Long) extends Workload {
  import IngestWorkload._

  private var store: MergeOnReadSnapshotStore = _
  private var storeDir: Path = _
  private var batches: Array[Gen.Batch] = _
  /** entity → events_meta.total the store must hold (generator's count) */
  private val expected = mutable.HashMap.empty[Long, Long]

  private val timed = mutable.ArrayBuffer.empty[Timed]
  private val readMs = mutable.ArrayBuffer.empty[Double]
  private val replayMs = mutable.ArrayBuffer.empty[Double]
  private var windowCpuNs = 0L

  def setup(dir: Path): Unit = {
    batches = Gen.ingestBatches(P, seed, T0, MaxBatches, dir.resolve("in"))
    val pre = Gen.preload(P, seed, T0, PreloadExtra)
    Gen.write(dir.resolve("preload").resolve("part-00000.parquet"), pre)
    storeDir = dir.resolve("store")
    store = new MergeOnReadSnapshotStore(spark, storeDir.toString, NumBuckets, MaxDeltas)
    StreamIngest.runBatch(store, spark.read.parquet(dir.resolve("preload").toString), T0)
    expected.clear()
    pre.foreach(e => expected(e.user) = expected.getOrElse(e.user, 0L) + 1)
  }

  private def total(json: String): Long =
    Mapper.readTree(json).get("events_meta").get("total").asLong()

  private def commit(b: Gen.Batch, out: Outcome): Option[Double] = {
    val t0 = System.nanoTime()
    out.op(s"batch ${b.idx}")(tr.span("op.batch") {
      StreamIngest.runBatchExactlyOnce(store, spark.read.parquet(b.path.toString),
        b.nowEpoch, b.idx.toLong, MaxAgeDays)
    }).map { _ =>
      val ms = (System.nanoTime() - t0) / 1e6
      b.valid.foreach(e => expected(e.user) = expected.getOrElse(e.user, 0L) + 1)
      ms
    }
  }

  /** Read-after-write: a few entities the batch touched, hottest first. */
  private def freshRead(b: Gen.Batch, rnd: SplittableRandom, out: Outcome): Unit = {
    val byUser = b.valid.groupBy(_.user)
    val hottest = byUser.maxBy { case (u, es) => (es.length, -u) }._1
    val users = b.valid.map(_.user).distinct.sorted
    val ids = (hottest +: Seq.fill(ReadKeys - 1)(users(rnd.nextInt(users.length)))).distinct
    val t0 = System.nanoTime()
    out.op(s"fresh read after batch ${b.idx}")(tr.span("store.read") {
      store.read().where(col("eid").isin(ids: _*)).select("eid", "json").collect()
    }).foreach { rows =>
      readMs += (System.nanoTime() - t0) / 1e6
      val got = rows.map(r => r.getLong(0) -> total(r.getString(1))).toMap
      out.check(ids.forall(id => got.get(id).contains(expected(id))),
        s"fresh read after batch ${b.idx}: got $got, expected ${ids.map(i => i -> expected(i))}")
    }
  }

  /** Re-submit an already committed batch id: nothing may change. */
  private def replay(b: Gen.Batch, out: Outcome): Unit = {
    val versions = store.versionCount
    val ledger = store.committedBatchIds
    val t0 = System.nanoTime()
    out.op(s"replay of batch ${b.idx}")(tr.span("store.replay") {
      StreamIngest.runBatchExactlyOnce(store, spark.read.parquet(b.path.toString),
        b.nowEpoch, b.idx.toLong, MaxAgeDays)
    }).foreach { _ =>
      replayMs += (System.nanoTime() - t0) / 1e6
      out.check(store.versionCount == versions && store.committedBatchIds == ledger,
        s"replay of batch ${b.idx} changed the store")
    }
  }

  def run(seconds: Int, out: Outcome): Unit = {
    timed.clear(); readMs.clear(); replayMs.clear()
    val rnd = new SplittableRandom(seed ^ 0x1E57L)
    var next = 0
    var deadline = Long.MaxValue
    var cpu0 = 0L
    // the timed window ends on a compaction-cycle boundary, so every run
    // times the same mix of plain and compacting batches
    while (next < batches.length && (next < WarmBatches || System.nanoTime() < deadline ||
      timed.size % MaxDeltas != 0)) {
      val b = batches(next)
      val before = store.versionCount
      val ms = commit(b, out)
      next += 1
      val isTimed = next > WarmBatches
      ms.foreach { m =>
        val after = store.versionCount
        val compacted = after <= before
        if (isTimed) {
          // layer counters read from the store's own files, outside the timer
          val latest = if (tr.enabled && !compacted) Some(latestVersion) else None
          timed += Timed(b, m, compacted, after,
            latest.map(v => manifestBuckets(storeDir.resolve(s"v$v"))),
            latest.map(v => parquetRows(storeDir.resolve(s"v$v"))))
        }
      }
      freshRead(b, rnd, out)
      if (isTimed && timed.size % P.replayEvery == 0)
        replay(batches(rnd.nextInt(next - 1)), out)
      if (next == WarmBatches) {
        // the window opens after the last warm-up batch and its read
        tr.discard()
        readMs.clear()
        deadline = System.nanoTime() + seconds * 1000000000L
        cpu0 = Clock.cpuNs()
      }
    }
    windowCpuNs = Clock.cpuNs() - cpu0
  }

  private def latestVersion: Long =
    Files.list(storeDir).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit)).map(_.drop(1).toLong).max

  def verify(out: Outcome): Unit = {
    val got = store.read().select("eid", "json").collect()
      .map(r => r.getLong(0) -> total(r.getString(1))).toMap
    val wrong = expected.filter { case (id, n) => !got.get(id).contains(n) }
    out.check(wrong.isEmpty && got.size == expected.size,
      s"store totals: ${wrong.size} entities differ from the generator's count " +
        s"(store ${got.size} entities, expected ${expected.size}), e.g. ${wrong.take(3)}")
  }

  def opMs: Seq[Double] = timed.map(_.ms).toSeq
  def workPerS: Double =
    Stats.ratio(timed.map(_.batch.events.length.toDouble).sum, opMs.sum / 1000.0)
  /** includes each batch's read-after-write lookup and the replays */
  def cpuMsPerOp: Double = Stats.ratio(windowCpuNs / 1e6, timed.size)

  def perLayer(out: Outcome): Map[String, Double] = {
    // batches commit in index order and warm-up spans are discarded, so the
    // i-th batch span is batch WarmBatches + i
    val timedIdx = timed.map(_.batch.idx).toSet
    val opSpans = tr.named("op.batch").zipWithIndex
      .filter { case (_, i) => timedIdx.contains(WarmBatches + i) }.map(_._1)
    val reads = tr.named("store.read")
    val work = opSpans.flatMap(tr.subtree)
    val plain = timed.filterNot(_.compacted)
    val compactions = timed.filter(_.compacted)
    val applyMs = Stats.mean(plain.map(_.ms).toSeq)
    val touched = plain.map(t => t.batch.valid.map(_.user).distinct.length.toDouble).toSeq
    val rewritten = plain.flatMap(_.rowsRewritten).map(_.toDouble).toSeq
    val inputBytes = timed.map(_.batch.bytes.toDouble).sum
    val written = work.map(_.writtenBytes.toDouble).sum
    val n = timed.size.toDouble
    Map(
      "fold.entities_touched" -> Stats.mean(touched),
      "fold.entities_passthrough" -> Stats.mean(rewritten.zip(touched).map { case (r, t) => r - t }),
      "fold.touched_frac" -> Stats.ratio(touched.sum, rewritten.sum),
      "store.apply_ms" -> applyMs,
      "store.compact_ms" -> (if (compactions.isEmpty) 0.0
        else Stats.mean(compactions.map(_.ms).toSeq) - applyMs),
      "store.compactions" -> compactions.size.toDouble,
      "store.buckets_touched_frac" ->
        Stats.mean(plain.flatMap(_.bucketsTouched).map(_.toDouble / NumBuckets).toSeq),
      "store.bytes_written" -> Stats.ratio(written, n),
      "store.files_written" -> Stats.ratio(work.map(_.writtenFiles.toDouble).sum, n),
      "store.write_amp" -> Stats.ratio(written, inputBytes),
      "store.versions_live" -> Stats.mean(timed.map(_.versionsLive.toDouble).toSeq),
      "store.read_ms" -> Stats.mean(readMs.toSeq),
      "store.read_files" -> Stats.ratio(reads.map(s => tr.sparkOf(s).scanFiles.toDouble).sum, reads.size),
      "store.fresh_read_p50_ms" -> Stats.median(readMs.toSeq),
      "store.fresh_read_p90_ms" -> Stats.quantile(readMs.toSeq, 0.9),
      "store.replay_noop_ms" -> Stats.mean(replayMs.toSeq)
    ) ++ SparkLayer.ofSpans(tr, opSpans) ++ ingestCounts(out) ++ opsTimings()
  }

  /** `validate` and `preAggregated` counted on the last few timed batches,
    * after the loop; `validate` must keep exactly the generator's valid set. */
  private def ingestCounts(out: Outcome): Map[String, Double] = {
    val sample = timed.takeRight(CountSample).map(_.batch).toSeq
    val counts = sample.map { b =>
      val valid = StreamIngest.validate(spark.read.parquet(b.path.toString), b.nowEpoch, MaxAgeDays)
      val nValid = valid.count()
      out.check(nValid == b.valid.length,
        s"validate kept $nValid events of batch ${b.idx}, generator says ${b.valid.length}")
      (b.events.length.toDouble, nValid.toDouble, EventTasks.preAggregated(valid).count().toDouble)
    }
    val k = counts.size.toDouble
    val (in, valid, tasks) = (counts.map(_._1).sum, counts.map(_._2).sum, counts.map(_._3).sum)
    Map(
      "ingest.events_in" -> Stats.ratio(in, k),
      "ingest.events_valid" -> Stats.ratio(valid, k),
      "ingest.late_dropped" -> Stats.ratio(in - valid, k),
      "ingest.tasks_out" -> Stats.ratio(tasks, k),
      "ingest.preagg_ratio" -> Stats.ratio(tasks, valid))
  }

  /** Single-thread timings of the op codec and algebra on this run's own
    * tasks (the last timed batch) and stored records. */
  private def opsTimings(): Map[String, Double] = if (timed.isEmpty) Map.empty else {
    val b = timed.last.batch
    implicit val enc = EntityFold.typedTaskEncoder
    val tasks: Array[TypedTask] = EventTasks.preAggregated(
      StreamIngest.validate(spark.read.parquet(b.path.toString), b.nowEpoch, MaxAgeDays)).collect()
    val ids = tasks.map(_.eid).distinct.take(OpsRecords)
    val recs: Map[Long, String] = store.read().where(col("eid").isin(ids: _*))
      .select("eid", "json").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val withRec = tasks.filter(t => recs.contains(t.eid))
    val rendered = tasks.map(t => TaskCodec.render(t.ops))
    val parsedRecs = withRec.map(t => TaskCodec.parseRec(recs(t.eid)))
    def usPer(n: Int)(body: => Unit): Double = {
      body // warm
      val t0 = System.nanoTime()
      var reps = 0
      while (reps == 0 || System.nanoTime() - t0 < OpsLoopNs) { body; reps += 1 }
      (System.nanoTime() - t0) / 1e3 / (reps.toDouble * n)
    }
    val recParse = usPer(withRec.length)(withRec.foreach(t => TaskCodec.parseRec(recs(t.eid))))
    val parseApply = usPer(withRec.length)(withRec.foreach(t =>
      UpdateAlgebra.applyTask(Some(TaskCodec.parseRec(recs(t.eid))), t.ops, b.nowEpoch, t.eid)))
    Map(
      "ops.render_us_per_task" -> usPer(tasks.length)(tasks.foreach(t => TaskCodec.render(t.ops))),
      "ops.parse_us_per_task" -> usPer(rendered.length)(rendered.foreach(TaskCodec.parse)),
      "ops.apply_us_per_task" -> math.max(0.0, parseApply - recParse),
      "ops.rec_parse_us" -> recParse,
      "ops.rec_render_us" -> usPer(parsedRecs.length)(parsedRecs.foreach(TaskCodec.recToJson)),
      "ops.rec_json_bytes" -> Stats.mean(recs.values.map(_.getBytes("UTF-8").length.toDouble).toSeq))
  }
}

object IngestWorkload {
  /** One timed batch, with the store counters read after it. */
  private final case class Timed(batch: Gen.Batch, ms: Double, compacted: Boolean,
                                 versionsLive: Int, bucketsTouched: Option[Int],
                                 rowsRewritten: Option[Long])

  /** 12k-entity population with hot IPs; 1k-event batches one hour apart,
    * 3 % late and 2 % future events, a replay every 5th batch. */
  val P: GenParams = GenParams(entities = 12000, skew = 1.1, batchEvents = 1000,
    advanceSecs = 3600, lateFrac = 0.03, futureFrac = 0.02, replayEvery = 5)
  val T0: Long = 1700006400L // 2023-11-15T00:00:00Z
  val PreloadExtra = 12000
  val NumBuckets = 16
  val MaxDeltas = 3
  val MaxAgeDays = 7
  val WarmBatches = 4
  val MaxBatches = 80
  val ReadKeys = 4
  val CountSample = 5
  val OpsRecords = 500
  val OpsLoopNs: Long = 150L * 1000000L
  private val Mapper = new ObjectMapper()

  /** Buckets named in a version's manifest. */
  def manifestBuckets(version: Path): Int =
    Mapper.readTree(version.resolve("_buckets.json").toFile).get("buckets").size()

  /** Rows in the parquet files under `dir`, read from their footers. */
  def parquetRows(dir: Path): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val files = Files.walk(dir)
    try files.iterator().asScala.filter(_.toString.endsWith(".parquet")).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), conf))
      try r.getRecordCount finally r.close()
    }.sum
    finally files.close()
  }
}
