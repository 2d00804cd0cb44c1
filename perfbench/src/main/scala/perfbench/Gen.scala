package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.SplittableRandom

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** One row of the `events` table. `tsMicros` is UTC epoch microseconds. */
final case class Event(id: Long, tsMicros: Long, user: Long, etype: String,
                       value: Double, k: Int) {
  def epochSec: Long = Math.floorDiv(tsMicros, 1000000L)
}

/** Generator parameters, shared by every workload.
  *
  * @param entities    entity population (distinct IPs that can ever appear)
  * @param skew        Zipf exponent of the entity popularity: hot IPs and a
  *                    long tail (0 = uniform)
  * @param batchEvents events per generated file (one micro-batch or trigger)
  * @param advanceSecs event-time advance from one file to the next
  * @param lateFrac    share of events older than the 7-day reception window
  * @param futureFrac  share of events more than 5 minutes in the future
  * @param replayEvery every n-th ingest batch re-submits an earlier batch id
  */
final case class GenParams(entities: Int, skew: Double, batchEvents: Int,
                           advanceSecs: Long, lateFrac: Double, futureFrac: Double,
                           replayEvery: Int)

/** Zipf(s) sampler over ranks 0..n-1 by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val c = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / math.pow(i + 1.0, s); c(i) = acc; i += 1 }
    i = 0
    while (i < n) { c(i) /= acc; i += 1 }
    c
  }
  def sample(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Seeded generator of `events` files (`event_id, ts, user_id, event_type,
  * value, props`). The same seed and parameters give byte-identical files;
  * every file is written with parquet-mr directly, so no Spark job runs.
  */
object Gen {
  val Day: Long = 86400L
  val Types: Array[String] = Array("error", "click", "view", "signup", "purchase")
  private val TypeCdf = Array(0.30, 0.55, 0.75, 0.88, 1.0)

  /** Entities live in one /10-sized block so that /16 prefixes hold many of
    * them; rank → id is a bijection that scatters the hot ranks. */
  val IdBase: Long = 0x0A000000L
  val IdBits: Int = 22
  def entityId(rank: Int): Long =
    IdBase + ((rank.toLong * 0x9E3779B1L) & ((1L << IdBits) - 1))

  private val Schema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional int64 event_id;
      |  optional int64 ts (TIMESTAMP(MICROS,true));
      |  optional int64 user_id;
      |  optional binary event_type (STRING);
      |  optional double value;
      |  optional binary props (STRING);
      |}""".stripMargin)

  /** Write `events` as one snappy parquet file; returns its size in bytes. */
  def write(path: Path, events: Iterable[Event]): Long = {
    Files.createDirectories(path.getParent)
    val f = new SimpleGroupFactory(Schema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withType(Schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try events.foreach { e =>
      w.write(f.newGroup()
        .append("event_id", e.id)
        .append("ts", e.tsMicros)
        .append("user_id", e.user)
        .append("event_type", e.etype)
        .append("value", e.value)
        .append("props", s"""{"k": ${e.k}}"""))
    } finally w.close()
    Files.size(path)
  }

  /** Pin modification times so a file stream source admits files in index
    * order. */
  def setMtime(path: Path, epochSec: Long): Unit =
    Files.setLastModifiedTime(path, FileTime.fromMillis(epochSec * 1000L))

  private def etype(r: SplittableRandom): String = {
    val u = r.nextDouble()
    var i = 0
    while (TypeCdf(i) < u) i += 1
    Types(i)
  }

  /** A timestamp inside second `sec`, with a microsecond part that is never
    * a whole millisecond and never within 0.1 s of a second boundary — so
    * no generated time can tie with a watermark or a TTL deadline. */
  def micros(sec: Long, r: SplittableRandom): Long =
    sec * 1000000L + 100001L + 1000L * r.nextInt(800)

  final class Source(p: GenParams, seed: Long) {
    val rnd = new SplittableRandom(seed)
    val zipf = new Zipf(p.entities, p.skew)
    private var nextId = 0L
    def event(tsMicros: Long, rank: Int): Event = {
      val id = nextId
      nextId += 1
      Event(id, tsMicros, entityId(rank), etype(rnd),
        math.round(1.0 + rnd.nextDouble() * 49900.0) / 100.0, rnd.nextInt(100))
    }
    def hotRank(): Int = zipf.sample(rnd)
  }

  // ---------------------------------------------------------------- ingest

  /** One ingest micro-batch file and the events `validate` must keep. */
  final case class Batch(idx: Int, nowEpoch: Long, path: Path, bytes: Long,
                         events: Array[Event], valid: Array[Event])

  def isValid(e: Event, nowEpoch: Long): Boolean =
    e.epochSec > nowEpoch - 7 * Day && e.epochSec <= nowEpoch + 300

  /** Store preload: every entity of the population gets at least one event
    * in the week before `t0`, hot entities more. */
  def preload(p: GenParams, seed: Long, t0: Long, extra: Int): Array[Event] = {
    val src = new Source(p, seed ^ 0x5EED0001L)
    val out = Array.newBuilder[Event]
    for (rank <- 0 until p.entities)
      out += src.event(micros(t0 - 1 - src.rnd.nextLong(6 * Day), src.rnd), rank)
    for (_ <- 0 until extra)
      out += src.event(micros(t0 - 1 - src.rnd.nextLong(6 * Day), src.rnd), src.hotRank())
    out.result()
  }

  /** `n` micro-batches after `t0`: batch i is processed at
    * `t0 + (i + 1) * advanceSecs`; most events are minutes to hours old,
    * a stated share is late (> 7 days) or in the future (> 5 minutes). */
  def ingestBatches(p: GenParams, seed: Long, t0: Long, n: Int, dir: Path): Array[Batch] = {
    val src = new Source(p, seed ^ 0x5EED0002L)
    Array.tabulate(n) { i =>
      val now = t0 + (i + 1) * p.advanceSecs
      val evs = Array.fill(p.batchEvents) {
        val u = src.rnd.nextDouble()
        val sec =
          if (u < p.lateFrac) now - 7 * Day - 3600 - src.rnd.nextLong(3 * Day)
          else if (u < p.lateFrac + p.futureFrac) now + 3600 + src.rnd.nextLong(Day)
          else now - 600 - math.min((-math.log(1 - src.rnd.nextDouble()) * 3600).toLong, 5 * Day)
        src.event(micros(sec, src.rnd), src.hotRank())
      }
      val path = dir.resolve(f"batch-$i%05d.parquet")
      Batch(i, now, path, write(path, evs), evs, evs.filter(isValid(_, now)))
    }
  }

  // ---------------------------------------------------------- stream_state

  /** Files for the stateful stream: file j holds event times in
    * `[t0 + j*advance, t0 + (j+1)*advance)`, except `lateFrac` of its events,
    * which fall up to two files' worth of time back. */
  def streamFiles(p: GenParams, seed: Long, t0: Long, n: Int, dir: Path): Array[(Path, Array[Event])] = {
    val src = new Source(p, seed ^ 0x5EED0003L)
    Array.tabulate(n) { j =>
      val lo = t0 + j * p.advanceSecs
      val evs = Array.fill(p.batchEvents) {
        val back = if (src.rnd.nextDouble() < p.lateFrac) src.rnd.nextLong(2 * p.advanceSecs) else 0L
        src.event(micros(lo + src.rnd.nextLong(p.advanceSecs) - back, src.rnd), src.hotRank())
      }.sortBy(_.tsMicros)
      val path = dir.resolve(f"part-$j%05d.parquet")
      write(path, evs)
      setMtime(path, 1000000000L + j)
      (path, evs)
    }
  }

  // ------------------------------------------------------ serve / refresh

  /** An event history of `days` days ending the day before `today` (epoch
    * day start), written as `files` parquet files. */
  def history(p: GenParams, seed: Long, todayStart: Long, days: Int, total: Int,
              files: Int, dir: Path): Array[Event] = {
    val src = new Source(p, seed ^ 0x5EED0004L)
    val evs = Array.fill(total) {
      src.event(micros(todayStart - 1 - src.rnd.nextLong(days * Day), src.rnd), src.hotRank())
    }.sortBy(_.tsMicros)
    val per = (evs.length + files - 1) / files
    evs.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      write(dir.resolve(f"events-$i%05d.parquet"), chunk)
    }
    evs
  }
}

/** Writes a reduced copy of every workload's generated inputs for one seed,
  * without Spark — what the generator's determinism test compares. */
object GenCheck {
  def writeAll(dir: Path, seed: Long): Unit = {
    Gen.ingestBatches(IngestWorkload.P, seed, IngestWorkload.T0, 8, dir.resolve("ingest"))
    Gen.write(dir.resolve("preload").resolve("part-00000.parquet"),
      Gen.preload(IngestWorkload.P, seed, IngestWorkload.T0, 1000))
    Gen.streamFiles(StreamStateWorkload.P, seed, StreamStateWorkload.T0, 8, dir.resolve("stream"))
    Gen.history(ServeWorkload.P, seed, ServeWorkload.TodayStart, ServeWorkload.HistoryDays,
      20000, 2, dir.resolve("serve"))
    Gen.history(RefreshWorkload.P, seed, RefreshWorkload.TodayStart, RefreshWorkload.HistoryDays,
      20000, 2, dir.resolve("refresh"))
  }
}
