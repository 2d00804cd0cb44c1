package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable
import scala.math.BigDecimal.RoundingMode

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.derive.Derive
import graft.functions.EdgeCodec
import graft.query.Search
import graft.query.Search.SearchFilter

/** NERD's web/API read side: closed-loop requests from `Clients` threads
  * against a fixed entity snapshot (`Derive.snapshot`, written
  * range-partitioned and sorted by entity). Request ids follow the ingest
  * skew. Every response is checked, after the loop, against a plain-Scala
  * evaluation over the snapshot collected once in set-up.
  */
final class ServeWorkload(spark: SparkSession, tr: Tracer, seed: Long) extends Workload {
  import ServeWorkload._

  private var dir: Path = _
  private var snap: DataFrame = _
  private var model: Array[Rec] = _
  private var byId: Map[Long, Rec] = _
  private val done = mutable.ArrayBuffer.empty[Done]
  private var wallS = 0.0
  private var windowCpuNs = 0L

  def setup(d: Path): Unit = {
    dir = d
    Gen.history(P, seed, TodayStart, HistoryDays, HistoryEvents, 4, dir.resolve("events"))
    Derive.snapshot(spark.read.parquet(dir.resolve("events").toString), Today)
      .repartitionByRange(SnapshotFiles, col("entity")).sortWithinPartitions("entity")
      .write.parquet(dir.resolve("snapshot").toString)
    snap = spark.read.parquet(dir.resolve("snapshot").toString)
    model = snap.select("entity", "rep", "total", "total1", "types_arr").collect().map { r =>
      Rec(r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3),
        r.getSeq[String](4).toSet)
    }.sortBy(_.entity)
    byId = model.map(r => r.entity -> r).toMap
  }

  /** Each client draws its request kinds from a shuffled deck holding the
    * mix exactly, so every run sees the stated shares. */
  private final class Client(seed: Long) {
    private val rnd = new SplittableRandom(seed)
    private val zipf = new Zipf(P.entities, P.skew)
    private var deck = List.empty[Char]
    private def id() = Gen.entityId(zipf.sample(rnd))
    private def pick[T](xs: Array[T]): T = xs(rnd.nextInt(xs.length))

    def next(): Req = {
      if (deck.isEmpty) deck = shuffle(Mix.toList)
      val kind = deck.head
      deck = deck.tail
      kind match {
        case 'd' => Detail(id())
        case 's' => TopK(pick(MinTotals), pick(Gen.Types), pick(SortCols), rnd.nextBoolean())
        case 'p' => Page(pick(MinReps), 500 + rnd.nextInt(2500))
        case 'c' =>
          val a = rnd.nextInt(Gen.Types.length)
          val b = (a + 1 + rnd.nextInt(Gen.Types.length - 1)) % Gen.Types.length
          Count(Seq(Gen.Types(a), Gen.Types(b)), pick(MinTotals))
        case 'b' => Bulk(Array.fill(BulkIps)(
          if (rnd.nextDouble() < 0.9) id() else Gen.entityId(rnd.nextInt(1 << Gen.IdBits))))
        case _ =>
          val lo = Gen.IdBase + (rnd.nextInt(1 << (Gen.IdBits - 16)).toLong << 16)
          Prefix(lo, lo + 65535L)
      }
    }

    private def shuffle(xs: List[Char]): List[Char] = {
      val a = xs.toArray
      for (i <- a.indices.reverse) {
        val j = rnd.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toList
    }
  }

  /** Issue one request through the public Search API. */
  private def serve(r: Req): Resp = r match {
    case Detail(id) => tr.span("query.detail") {
      Search.search(snap, SearchFilter(entityIn = Some(Seq(id))), "rep", asc = false, 1)
        .select("entity", "rep", "total").collect().map(x => (x.getLong(0), x.getDouble(1), x.getLong(2))).toSeq
    }
    case TopK(minTotal, typ, key, asc) => tr.span("query.search") {
      Search.search(snap, SearchFilter(minTotal = Some(minTotal), typesAny = Some(Seq(typ))),
        key, asc, TopKLimit).select("entity").collect().map(_.getLong(0)).toSeq
    }
    case Page(minRep, skip) => tr.span("query.page") {
      Search.searchPage(snap, SearchFilter(minRep = Some(minRep)), "rep", asc = false, skip, PageLimit)
        .select("entity").collect().map(_.getLong(0)).toSeq
    }
    case Count(types, minTotal) => tr.span("query.count") {
      Seq(Search.countEndpoint(snap, SearchFilter(typesAll = Some(types), minTotal = Some(minTotal)))
        .collect().head.getLong(0))
    }
    case Bulk(ids) => tr.span("query.bulk") {
      EdgeCodec.unpackDoubles(Search.bulkRepBinary(snap, EdgeCodec.packIps(ids))).toSeq
    }
    case Prefix(lo, hi) => tr.span("query.prefix") {
      Search.prefixSummary(snap.filter(col("entity").between(lo, hi)), PrefixBits).collect()
        .map(x => (x.getLong(0), x.getDouble(1), x.getLong(2), x.getDouble(3))).toSeq
    }
  }

  /** The same request evaluated in plain Scala over the collected snapshot. */
  private def expect(r: Req): Resp = r match {
    case Detail(id) => byId.get(id).map(x => (x.entity, x.rep, x.total)).toSeq
    case TopK(minTotal, typ, key, asc) =>
      val hits = model.filter(x => x.total >= minTotal && x.types(typ))
      val k: Rec => Double = key match {
        case "rep" => _.rep
        case "total" => _.total.toDouble
        case "total1" => _.total1.toDouble
        case "entity" => _.entity.toDouble
      }
      hits.sortBy(x => (if (asc) k(x) else -k(x), x.entity)).take(TopKLimit).map(_.entity).toSeq
    case Page(minRep, skip) =>
      model.filter(_.rep >= minRep).sortBy(x => (-x.rep, x.entity))
        .slice(skip, skip + PageLimit).map(_.entity).toSeq
    case Count(types, minTotal) =>
      Seq(model.count(x => x.total >= minTotal && types.forall(x.types)).toLong)
    case Bulk(ids) => ids.map(id => byId.get(id).map(_.rep).getOrElse(0.0)).toSeq
    case Prefix(lo, hi) =>
      model.filter(x => x.entity >= lo && x.entity <= hi).groupBy(_.entity >> PrefixBits)
        .toSeq.sortBy(_._1).map { case (p, xs) =>
          val avg = BigDecimal(xs.map(_.rep).sum / (1L << PrefixBits))
            .setScale(10, RoundingMode.HALF_UP).setScale(6, RoundingMode.HALF_UP).toDouble
          (p, avg, xs.length.toLong, xs.map(_.rep).max)
        }
  }

  /** Responses agree; averaged prefix scores may differ by one unit in the
    * 6th decimal, where a sum's last bit lands on a rounding boundary. */
  private def agree(got: Resp, want: Resp): Boolean = (got, want) match {
    case (g: Seq[_], w: Seq[_]) => g.length == w.length && g.zip(w).forall {
      case ((p1, a1: Double, n1, m1), (p2, a2: Double, n2, m2)) =>
        p1 == p2 && n1 == n2 && m1 == m2 && math.abs(a1 - a2) <= 1.000001e-6
      case (a, b) => a == b
    }
    case _ => false
  }

  /** `Clients` closed-loop clients, each drawing from its own request
    * stream, until `seconds` have passed; every completed request with its
    * latency. */
  private def loop(seconds: Double, streamSeed: Long, out: Outcome): Seq[Done] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val all = mutable.ArrayBuffer.empty[Done]
    val threads = (0 until Clients).map { c =>
      val t = new Thread(() => {
        val client = new Client(streamSeed * 31 + c)
        val mine = mutable.ArrayBuffer.empty[Done]
        var i = 0L
        while (System.nanoTime() < deadline) {
          val req = client.next()
          val s = System.nanoTime()
          out.op(s"request $req")(tr.span("op.request", req = c * 1000000L + i + 1)(serve(req)))
            .foreach(resp => mine += Done(req, resp, (System.nanoTime() - s) / 1e6))
          i += 1
        }
        all.synchronized(all ++= mine)
      }, s"serve-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    all.toSeq
  }

  def run(seconds: Int, out: Outcome): Unit = {
    // warm-up: the same loop on other request streams, untimed and unchecked
    loop(WarmSeconds, seed ^ 0x3A3AL, out)
    tr.discard()
    val t0 = System.nanoTime()
    val cpu0 = Clock.cpuNs()
    done.clear()
    done ++= loop(seconds, seed, out)
    wallS = (System.nanoTime() - t0) / 1e9
    windowCpuNs = Clock.cpuNs() - cpu0
  }

  def verify(out: Outcome): Unit =
    done.foreach(d => out.check(agree(d.resp, expect(d.req)),
      s"${d.req}: got ${d.resp.take(5)}, expected ${expect(d.req).take(5)}"))

  def opMs: Seq[Double] = done.map(_.ms).toSeq
  def workPerS: Double = Stats.ratio(done.size, wallS)
  def cpuMsPerOp: Double = Stats.ratio(windowCpuNs / 1e6, done.size)

  /** Query-layer metrics, plus the derive, tags and sinks layers from one
    * refresh pass after the loop: the batch analytics that produce what
    * this workload serves. */
  def perLayer(out: Outcome): Map[String, Double] = {
    val refresh = new RefreshWorkload(spark, tr, seed)
    refresh.setup(dir.resolve("refresh"))
    refresh.run(0, out)
    refresh.verify(out)
    tr.drain()
    val analytics = refresh.perLayer(out).filter { case (k, _) =>
      Set("derive", "tags", "sinks")(k.takeWhile(_ != '.'))
    }
    val ops = tr.named("op.request")
    val queries = tr.spans.filter(_.layer == "query")
    val work = queries.map(tr.sparkOf)
    val nq = work.map(_.queries).sum.toDouble
    val resultRows = done.map(_.resp.length.toDouble).sum
    def meanMs(name: String) = Stats.mean(tr.named(name).map(_.wallMs))
    Map(
      "query.detail_ms" -> meanMs("query.detail"),
      "query.search_ms" -> meanMs("query.search"),
      "query.page_ms" -> meanMs("query.page"),
      "query.count_ms" -> meanMs("query.count"),
      "query.bulk_ms" -> meanMs("query.bulk"),
      "query.prefix_ms" -> meanMs("query.prefix"),
      "query.planning_ms" -> Stats.ratio(work.map(_.planningMs).sum, nq),
      "query.exec_ms" -> Stats.ratio(work.map(_.execMs).sum, nq),
      "query.rows_scanned_per_result" -> Stats.ratio(work.map(_.scanRows.toDouble).sum, resultRows),
      "query.files_read" -> Stats.ratio(work.map(_.scanFiles.toDouble).sum, nq)
    ) ++ SparkLayer.ofSpans(tr, ops) ++ analytics
  }
}

object ServeWorkload {
  type Resp = Seq[Any]
  final case class Rec(entity: Long, rep: Double, total: Long, total1: Long, types: Set[String])

  sealed trait Req
  final case class Detail(id: Long) extends Req
  final case class TopK(minTotal: Long, typ: String, sortKey: String, asc: Boolean) extends Req
  final case class Page(minRep: Double, skip: Int) extends Req
  final case class Count(types: Seq[String], minTotal: Long) extends Req
  final case class Bulk(ids: Array[Long]) extends Req {
    override def toString: String = s"Bulk(${ids.length} ips)"
  }
  final case class Prefix(lo: Long, hi: Long) extends Req
  final case class Done(req: Req, resp: Resp, ms: Double)

  /** 20k-entity population with the ingest skew; 60k events over 14 days. */
  val P: GenParams = GenParams(entities = 20000, skew = 1.1, batchEvents = 0,
    advanceSecs = 0, lateFrac = 0.0, futureFrac = 0.0, replayEvery = 0)
  val TodayStart: Long = 1700006400L
  val Today = "2023-11-15"
  val HistoryDays = 14
  val HistoryEvents = 60000
  val SnapshotFiles = 8
  val Clients = 2
  /** Request kinds by share: 40 % detail, 20 % top-k search, 10 % each of
    * deep page, count, bulk lookup and prefix summary. */
  val Mix = "ddddsspcbx"
  /** Untimed warm-up of the full loop; latency still falls somewhat over a
    * window's first seconds (see the README). */
  val WarmSeconds = 8.0
  val TopKLimit = 20
  val PageLimit = 50
  val BulkIps = 1000
  val PrefixBits = 8
  val MinTotals: Array[Long] = Array(1L, 2L, 5L, 10L)
  val MinReps: Array[Double] = Array(0.0, 0.01, 0.05)
  val SortCols: Array[String] = Search.SortKeys.values.toArray.distinct.sorted
}
