package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.derive.{Derive, Reputation, ThreatCategorize}
import graft.derive.Reputation.RepSource
import graft.derive.ThreatCategorize.CatRule
import graft.sinks.Exports
import graft.tagsdsl.Tags
import graft.tagsdsl.Tags.TagDef

/** NERD's scheduled analytics: one full re-derivation and export pass over a
  * month of event history per operation — snapshot, type shares,
  * multi-source reputation, threat categories, tags, and the CSV exports.
  * Passes repeat back to back, at least one; the first runs in a fresh JVM,
  * as a scheduled job does. One client. The serve workload's traced run
  * runs one pass to measure these layers.
  */
final class RefreshWorkload(spark: SparkSession, tr: Tracer, seed: Long) extends Workload {
  import RefreshWorkload._

  private var dir: Path = _
  private var aged0to30 = 0L
  private val passMs = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var windowCpuNs = 0L

  def setup(d: Path): Unit = {
    dir = d
    val evs = Gen.history(P, seed, TodayStart, HistoryDays, HistoryEvents, 4, d.resolve("events"))
    val todayDay = TodayStart / Gen.Day
    aged0to30 = evs.count { e =>
      val age = todayDay - Math.floorDiv(e.epochSec, Gen.Day)
      age >= 0 && age <= 30
    }.toLong
  }

  private def out(name: String) = dir.resolve("out").resolve(name).toString

  private def writeParquet(df: DataFrame, name: String): Unit =
    df.write.mode("overwrite").parquet(out(name))

  /** One full pass; every output lands under `out/`. */
  private def pass(): Unit = tr.span("op.pass") {
    val events = spark.read.parquet(dir.resolve("events").toString)
    tr.span("derive.snapshot")(writeParquet(Derive.snapshot(events, Today), "snapshot"))
    tr.span("derive.typeshares")(writeParquet(Derive.typeShares(events, Today), "typeshares"))
    tr.span("derive.reputation")(
      writeParquet(Reputation.multiSource(events, Today, RepSources), "reputation"))
    tr.span("derive.threat") {
      val withK = events.withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      writeParquet(ThreatCategorize.summary(ThreatCategorize.classify(withK, CatRules), Today),
        "threat")
    }
    val snap = spark.read.parquet(out("snapshot"))
    val tagged = tr.span("tags.compile")(Tags.evaluate(snap, TagDefs))
    tr.span("tags.evaluate")(writeParquet(tagged, "tags"))
    tr.span("sinks.export") {
      Exports.writeCsv(Exports.ipRepFrame(snap), out("ip_rep"))
      Exports.writeCsv(Exports.blocklistFrame(snap, BlockThreshold), out("blocklist"))
      Exports.writeCsv(Exports.categoryFrame(spark.read.parquet(out("typeshares")), Category),
        out("category"))
    }
  }

  def run(seconds: Int, o: Outcome): Unit = {
    passMs.clear()
    val deadline = System.nanoTime() + seconds * 1000000000L
    val cpu0 = Clock.cpuNs()
    do {
      val t0 = System.nanoTime()
      o.op("refresh pass")(pass()).foreach(_ => passMs += (System.nanoTime() - t0) / 1e6)
    } while (System.nanoTime() < deadline)
    windowCpuNs = Clock.cpuNs() - cpu0
  }

  /** CSV data lines (header excluded) and bytes under an export directory. */
  private def csv(name: String): (Long, Long) = {
    val files = Files.list(Path.of(out(name))).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".csv")).toSeq
    (files.map(f => Files.readAllLines(f).size - 1L).sum, files.map(Files.size).sum)
  }

  /** Checks on the last pass's outputs. */
  def verify(o: Outcome): Unit = {
    val snap = spark.read.parquet(out("snapshot")).select("entity", "rep", "total30").collect()
    val total30 = snap.map(_.getLong(2)).sum
    o.check(total30 == aged0to30,
      s"sum of total30 is $total30, generator counts $aged0to30 events aged 0-30 days")
    o.check(csv("ip_rep")._1 == snap.length,
      s"ip_rep export has ${csv("ip_rep")._1} rows, snapshot ${snap.length}")
    val blocked = snap.count(_.getDouble(1) >= BlockThreshold).toLong
    o.check(csv("blocklist")._1 == blocked && blocked > 0,
      s"blocklist export has ${csv("blocklist")._1} rows, $blocked entities at rep >= $BlockThreshold")
    val inCategory = spark.read.parquet(out("typeshares")).select("event_type").collect()
      .count(_.getString(0) == Category).toLong
    o.check(csv("category")._1 == inCategory && inCategory > 0,
      s"category export has ${csv("category")._1} rows, type shares hold $inCategory")
  }

  def opMs: Seq[Double] = passMs.toSeq
  def workPerS: Double = Stats.ratio(HistoryEvents * passMs.size.toDouble, passMs.sum / 1000.0)
  def cpuMsPerOp: Double = Stats.ratio(windowCpuNs / 1e6, passMs.size)

  def perLayer(o: Outcome): Map[String, Double] = {
    val timed = tr.named("op.pass")
    val inTimed = timed.flatMap(tr.descendants)
    val n = timed.size.toDouble
    def meanMs(name: String) = Stats.mean(inTimed.filter(_.name == name).map(_.wallMs))
    val derive = inTimed.filter(_.layer == "derive").map(tr.sparkOf)
    Map(
      "derive.snapshot_ms" -> meanMs("derive.snapshot"),
      "derive.typeshares_ms" -> meanMs("derive.typeshares"),
      "derive.reputation_ms" -> meanMs("derive.reputation"),
      "derive.threat_ms" -> meanMs("derive.threat"),
      "derive.exchanges" -> Stats.ratio(derive.map(_.exchanges.toDouble).sum, n),
      "derive.shuffle_bytes" -> Stats.ratio(derive.map(_.shuffleWrite.toDouble).sum, n),
      "derive.spill_bytes" -> Stats.ratio(derive.map(_.spill.toDouble).sum, n),
      "tags.compile_ms" -> meanMs("tags.compile"),
      "tags.evaluate_ms" -> meanMs("tags.evaluate"),
      "sinks.export_ms" -> meanMs("sinks.export"),
      "sinks.export_bytes" -> Seq("ip_rep", "blocklist", "category").map(csv(_)._2.toDouble).sum
    ) ++ SparkLayer.ofSpans(tr, timed)
  }
}

object RefreshWorkload {
  /** 10k-entity population, 20k events over 32 days (ages 1-32, so the
    * 30-day window excludes the oldest two days). */
  val P: GenParams = GenParams(entities = 10000, skew = 1.0, batchEvents = 0,
    advanceSecs = 0, lateFrac = 0.0, futureFrac = 0.0, replayEvery = 0)
  val TodayStart: Long = 1700006400L
  val Today = "2023-11-15"
  val HistoryDays = 32
  val HistoryEvents = 20000
  val BlockThreshold = 0.1
  val Category = "error"

  /** The reference's warden reputation plus a half-life and an undecayed
    * source, as in the repository's combined-reputation query. */
  val RepSources: Seq[RepSource] = Seq(
    RepSource("warden", lit(true), scaleEvents = 10d, scaleDetectors = Some(2d),
      dateRange = 14, timeDecay = "linear"),
    RepSource("flux", col("event_type") === "error", scaleEvents = 5d,
      dateRange = 14, timeDecay = "half_life", halfLife = 3d, trustFactor = 0.8),
    RepSource("watch", col("value") > 150d, scaleEvents = 3d,
      dateRange = 7, timeDecay = "none", trustFactor = 0.5))

  val CatRules: Seq[CatRule] = Seq(
    CatRule("scan", "src", col("event_type") === "error" && col("k") >= 50),
    CatRule("abuse", "dst", col("event_type").isin("signup", "login")),
    CatRule("fraud", "src", col("event_type") === "purchase" && col("value") > 100))

  val TagDefs: Seq[TagDef] = Seq(
    TagDef("error_host", "'error' in types_arr"),
    TagDef("high_activity", "total7 > 50 and nodes_7d >= 2", Some("7d events: {total7}")),
    TagDef("rep_score", "rep * 10"),
    TagDef("quiet", "not (total1 > 0) and total30 >= 5"),
    TagDef("volume", "total30 / 50"))
}
