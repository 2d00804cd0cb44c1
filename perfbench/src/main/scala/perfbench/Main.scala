package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Operation and check accounting for one run. */
final class Outcome {
  var attempted = 0L
  var failed = 0L

  private def fail(what: String): Unit = synchronized {
    failed += 1
    if (failed <= 20) System.err.println(s"[perfbench] FAILED: $what")
  }

  /** One output check. */
  def check(ok: Boolean, what: => String): Unit = {
    synchronized(attempted += 1)
    if (!ok) fail(what)
  }

  /** One operation: a throw counts as a failure and yields None. */
  def op[T](what: => String)(body: => T): Option[T] = {
    synchronized(attempted += 1)
    try Some(body)
    catch { case NonFatal(e) => fail(s"$what: $e"); None }
  }
}

/** One benchmark workload. `setup` may run several times, each into a fresh
  * directory; the last one is what `run` uses. */
trait Workload {
  /** Generate the inputs and build what the timed loop reads. */
  def setup(dir: Path): Unit
  /** Untimed warm-up, then the closed loop for `seconds`. */
  def run(seconds: Int, out: Outcome): Unit
  /** Independent output checks on what the loop produced. */
  def verify(out: Outcome): Unit
  /** Latency of every timed operation, in ms. */
  def opMs: Seq[Double]
  /** Work completed per second of timed operations. */
  def workPerS: Double
  /** Process CPU time over the timed window per timed operation, in ms. */
  def cpuMsPerOp: Double
  /** Per-layer metrics; names must be in [[Metrics.PerLayer]]. */
  def perLayer(out: Outcome): Map[String, Double]
}

object Main {
  val Usage = "usage: Main --workload <ingest|stream_state|serve|refresh> --seed <n> " +
    "--seconds <n> --trace <0|1> --work <dir> | --gen <dir> --seed <n>"
  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (opts.contains("gen")) { GenCheck.writeAll(Paths.get(opts("gen")), opts("seed").toLong); return }
    if (opts.contains("train")) { train(Paths.get(opts("train")).toAbsolutePath); return }
    val workload = opts.getOrElse("workload", sys.error(Usage))
    val seed = opts.getOrElse("seed", sys.error(Usage)).toLong
    val seconds = opts.getOrElse("seconds", sys.error(Usage)).toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work", sys.error(Usage))).toAbsolutePath
    val traceDir = opts.get("trace-dir").map(Paths.get(_).toAbsolutePath)
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    def phase(name: String): Unit =
      System.err.println(f"[perfbench] $name done at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val spark = Session.build(work)
    phase("session")
    val code = try {
      val tracer = new Tracer(spark, trace)
      val w = make(workload, spark, tracer, seed)
      val setupS = (1 to SetupReps).map { i =>
        val dir = work.resolve(s"setup-$i")
        val (_, ms) = Clock.ms(w.setup(dir))
        // the previous set-up is garbage once this one is built
        if (i > 1) Session.deleteTree(work.resolve(s"setup-${i - 1}"))
        phase(s"set-up $i")
        ms / 1000.0
      }
      val out = new Outcome
      // full collections outside every timed interval, after set-up and
      // after the loop: the two points where the run holds the most
      val liveSetupMb = Stats.liveMemMb()
      w.run(seconds, out)
      phase("run")
      val liveMb = math.max(liveSetupMb, Stats.liveMemMb())
      w.verify(out)
      phase("verify")
      val metrics: Seq[(String, Double, String)] =
        if (!trace) {
          val e2e = Map(
            "setup_s" -> Stats.median(setupS),
            "live_mem_mb" -> liveMb,
            "op_p50_ms" -> Stats.median(w.opMs),
            "work_per_s" -> w.workPerS,
            "cpu_ms_per_op" -> w.cpuMsPerOp)
          Metrics.EndToEnd.map { case (n, u) => (n, e2e.getOrElse(n, sys.error(s"missing $n")), u) }
        } else {
          tracer.drain()
          val pl = w.perLayer(out) ++ Map(
            "trace.ops" -> w.opMs.size.toDouble,
            "trace.op_p50_ms" -> Stats.median(w.opMs),
            "trace.op_p90_ms" -> Stats.quantile(w.opMs, 0.9),
            "trace.spans" -> tracer.spans.size.toDouble)
          val unknown = pl.keySet -- Metrics.PerLayer.map(_._1)
          require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
          traceDir.foreach(d => tracer.writeSpans(d.resolve(s"spans-$workload-seed$seed.jsonl")))
          Metrics.PerLayer.map { case (n, u) => (n, pl.getOrElse(n, 0.0), u) }
        }
      phase("metrics")
      val bad = metrics.filter(m => m._2.isNaN || m._2.isInfinite).map(_._1)
      require(bad.isEmpty, s"metrics without a value: ${bad.mkString(", ")}")
      println(Json.obj(Seq(
        "correct" -> (out.failed == 0),
        "attempted" -> out.attempted,
        "failed" -> out.failed,
        "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }
          .to(mutable.LinkedHashMap))))
      0
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] run aborted: $e")
        e.printStackTrace()
        1
    } finally spark.stop()
    System.out.flush()
    sys.exit(code)
  }

  val Workloads = Seq("ingest", "stream_state", "serve", "refresh")

  def make(name: String, spark: SparkSession, tracer: Tracer, seed: Long): Workload = name match {
    case "ingest"       => new IngestWorkload(spark, tracer, seed)
    case "stream_state" => new StreamStateWorkload(spark, tracer, seed)
    case "serve"        => new ServeWorkload(spark, tracer, seed)
    case "refresh"      => new RefreshWorkload(spark, tracer, seed)
    case other          => sys.error(s"unknown workload $other")
  }

  /** One untimed pass over every workload (set-up, warm-up, checks), so a
    * JVM started with a class-archive dump option records every class the
    * benchmark loads. */
  def train(work: Path): Unit = {
    val spark = Session.build(work)
    try Workloads.foreach { name =>
      val w = make(name, spark, new Tracer(spark, enabled = true), 1L)
      w.setup(work.resolve(name))
      val out = new Outcome
      w.run(0, out)
      w.verify(out)
      w.perLayer(out)
    } finally spark.stop()
  }
}

object Session {
  /** The one session every workload shares: 4 local cores, 4 shuffle
    * partitions, everything Spark spills or stores kept under `work`. */
  def build(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("nerdspark-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.kryo.registrator", "graft.GraftKryoRegistrator")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val paths = Files.walk(p)
    try paths.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
    finally paths.close()
  }
}

/** Metric names and units; BENCHMARK.json lists the same. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "live_mem_mb" -> "MiB",
    "op_p50_ms" -> "ms",
    "work_per_s" -> "1/s",
    "cpu_ms_per_op" -> "ms")

  val PerLayer: Seq[(String, String)] = Seq(
    "ingest.events_in" -> "count",
    "ingest.events_valid" -> "count",
    "ingest.late_dropped" -> "count",
    "ingest.tasks_out" -> "count",
    "ingest.preagg_ratio" -> "ratio",
    "ops.render_us_per_task" -> "us",
    "ops.parse_us_per_task" -> "us",
    "ops.apply_us_per_task" -> "us",
    "ops.rec_parse_us" -> "us",
    "ops.rec_render_us" -> "us",
    "ops.rec_json_bytes" -> "bytes",
    "fold.entities_touched" -> "count",
    "fold.entities_passthrough" -> "count",
    "fold.touched_frac" -> "ratio",
    "store.apply_ms" -> "ms",
    "store.compact_ms" -> "ms",
    "store.compactions" -> "count",
    "store.buckets_touched_frac" -> "ratio",
    "store.bytes_written" -> "bytes",
    "store.files_written" -> "count",
    "store.write_amp" -> "ratio",
    "store.versions_live" -> "count",
    "store.read_ms" -> "ms",
    "store.read_files" -> "count",
    "store.fresh_read_p50_ms" -> "ms",
    "store.fresh_read_p90_ms" -> "ms",
    "store.replay_noop_ms" -> "ms",
    "state.add_batch_ms" -> "ms",
    "state.wal_commit_ms" -> "ms",
    "state.commit_offsets_ms" -> "ms",
    "state.latest_offset_ms" -> "ms",
    "state.planning_ms" -> "ms",
    "state.rows_total" -> "count",
    "state.rows_updated" -> "count",
    "state.rows_removed" -> "count",
    "state.commit_ms" -> "ms",
    "state.memory_bytes" -> "bytes",
    "state.watermark_dropped" -> "count",
    "query.detail_ms" -> "ms",
    "query.search_ms" -> "ms",
    "query.page_ms" -> "ms",
    "query.count_ms" -> "ms",
    "query.bulk_ms" -> "ms",
    "query.prefix_ms" -> "ms",
    "query.planning_ms" -> "ms",
    "query.exec_ms" -> "ms",
    "query.rows_scanned_per_result" -> "ratio",
    "query.files_read" -> "count",
    "derive.snapshot_ms" -> "ms",
    "derive.typeshares_ms" -> "ms",
    "derive.reputation_ms" -> "ms",
    "derive.threat_ms" -> "ms",
    "derive.exchanges" -> "count",
    "derive.shuffle_bytes" -> "bytes",
    "derive.spill_bytes" -> "bytes",
    "tags.compile_ms" -> "ms",
    "tags.evaluate_ms" -> "ms",
    "sinks.export_ms" -> "ms",
    "sinks.export_bytes" -> "bytes",
    "spark.jobs_per_op" -> "count",
    "spark.driver_gap_ms" -> "ms",
    "spark.task_cpu_ms" -> "ms",
    "spark.gc_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes",
    "trace.ops" -> "count",
    "trace.op_p50_ms" -> "ms",
    "trace.op_p90_ms" -> "ms",
    "trace.spans" -> "count")
}
