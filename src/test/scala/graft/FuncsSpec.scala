package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import graft.functions.Funcs

/** Scalar-function edge cases (SURVEY §2.9): ip codec roundtrips over the
  * full 32-bit range, reserved-range boundaries, and next_step arithmetic.
  */
class FuncsSpec extends AnyFunSuite with SparkSuite {

  test("ipstr2int(int2ipstr(x)) == x across the 32-bit range (property)") {
    import spark.implicits._
    val ips = Gen.listOfN(200, Gen.chooseNum(0L, 4294967295L)).sample.get
      .:+(0L).:+(4294967295L).:+(2147483648L) // boundaries
    val got = ips.toDF("ip")
      .select(col("ip"), Funcs.ipstr2int(Funcs.int2ipstr(col("ip"))).as("rt"))
      .as[(Long, Long)].collect()
    got.foreach { case (ip, rt) => assert(ip === rt, s"roundtrip broke at $ip") }
  }

  test("reserved ranges classify their boundaries and miss their neighbors") {
    import spark.implicits._
    val cases = Funcs.ReservedRanges.flatMap { case (name, lo, hi) =>
      Seq((lo, name), (hi, name)) ++
        (if (lo > 0) Seq((lo - 1, null: String)) else Nil)
    }.toMap // later entries may overwrite neighbors that fall in another range
    val got = cases.keys.toSeq.toDF("ip")
      .select(col("ip"), Funcs.reservedRange(col("ip")).as("cls"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    Funcs.ReservedRanges.foreach { case (name, lo, hi) =>
      assert(got(lo) == name && got(hi) == name, s"boundary of $name")
    }
  }

  test("nextStep yields the smallest base + k*step strictly above minimum") {
    import spark.implicits._
    val rows = Seq((0L, 13L, 7L), (0L, 14L, 7L), (100L, 100L, 10L), (5L, 3L, 4L))
    val got = rows.toDF("base", "minimum", "step")
      .select(Funcs.nextStep(col("base"), col("minimum"), col("step")).cast("long"))
      .as[Long].collect().toSeq
    assert(got === Seq(14L, 21L, 110L, 5L))
    got.zip(rows).foreach { case (ns, (b, m, st)) =>
      assert(ns > m && (ns - b) % st === 0)
    }
  }

  test("matchStr ignores case, separators, and surrounding space") {
    import spark.implicits._
    val got = Seq(("Zeu_S", "the zeus-malware family"), ("emotet", "EMO.TET rules"),
      ("agent", "nothing here")).toDF("needle", "hay")
      .select(Funcs.matchStr(col("needle"), col("hay")))
      .as[Boolean].collect().toSeq
    assert(got === Seq(true, true, false))
  }

  test("latest_k equals sort+slice on random data, including duplicates and k > n (property)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{call_function, collect_list, lit, slice, sort_array}
    graft.GraftExtensions.register(spark)
    // values drawn from a SMALL domain so boundary duplicates are common —
    // the case where a wrong tie-break would diverge from sort+slice
    val rows = Gen.listOfN(400, Gen.zip(Gen.chooseNum(0, 7), Gen.chooseNum(0L, 50L)))
      .sample.get
    val df = rows.toDF("g", "v").repartition(4)
    val k = 5
    val got = df.groupBy(col("g"))
      .agg(call_function("latest_k", col("v"), lit(k)).as("ring"))
    val want = df.groupBy(col("g"))
      .agg(org.apache.spark.sql.functions.expr(
        s"slice(sort_array(collect_list(v)), greatest(size(collect_list(v)) - ${k - 1}, 1), $k)")
        .as("ring"))
    val g = got.collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    val w = want.collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    assert(g === w)
    // k larger than any group: every value comes back, ascending
    val all = df.groupBy(col("g"))
      .agg(call_function("latest_k", col("v"), lit(10000)).as("ring"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    val allWant = rows.groupBy(_._1).map { case (gk, vs) => gk -> vs.map(_._2).sorted }
    assert(all === allWant)
  }

  // vec_sum's buffer: the running element-wise sum; empty = no non-null row yet
  private val vecSum = graft.functions.VecSum(
    org.apache.spark.sql.catalyst.expressions.BoundReference(0,
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType), nullable = true))
  private def vecRow(v: Double*) = org.apache.spark.sql.catalyst.InternalRow(
    if (v.isEmpty) null else new org.apache.spark.sql.catalyst.util.GenericArrayData(v.toArray))

  test("vec_sum update skips null rows") {
    var buf = vecSum.createAggregationBuffer()
    buf = vecSum.update(buf, vecRow())
    assert(buf.isEmpty)
    buf = vecSum.update(buf, vecRow(1.0, 2.0))
    buf = vecSum.update(buf, vecRow())
    buf = vecSum.update(buf, vecRow(3.0, 4.0))
    assert(buf.toSeq == Seq(4.0, 6.0))
  }

  test("vec_sum merge with an empty side returns the other side") {
    val empty = vecSum.createAggregationBuffer()
    assert(vecSum.merge(empty, Array(1.0, 2.0)).toSeq == Seq(1.0, 2.0))
    assert(vecSum.merge(Array(1.0, 2.0), empty).toSeq == Seq(1.0, 2.0))
    assert(vecSum.merge(empty, vecSum.createAggregationBuffer()).isEmpty)
    assert(vecSum.merge(Array(1.0, 2.0), Array(0.5, -2.0)).toSeq == Seq(1.5, 0.0))
  }

  test("vec_sum serialize/deserialize round-trips the buffer bit for bit") {
    for (buf <- Seq(Array.emptyDoubleArray, Array(1.5, -0.0, Double.NaN,
        Double.PositiveInfinity, Double.MinPositiveValue))) {
      val back = vecSum.deserialize(vecSum.serialize(buf))
      assert(back.map(java.lang.Double.doubleToRawLongBits).toSeq ==
        buf.map(java.lang.Double.doubleToRawLongBits).toSeq)
    }
  }

  test("vec_sum of an all-null group is null; other groups skip their nulls") {
    import spark.implicits._
    import org.apache.spark.sql.functions.call_function
    graft.GraftExtensions.register(spark)
    assert(vecSum.eval(vecSum.createAggregationBuffer()) == null)
    val df = Seq[(Int, Option[Seq[Double]])](
      (0, None), (0, None),
      (1, Some(Seq(1.0, 2.0))), (1, None), (1, Some(Seq(3.0, 4.0))))
      .toDF("g", "v").repartition(2)
    val got = df.groupBy(col("g")).agg(call_function("vec_sum", col("v")).as("s"))
      .collect().map(r => r.getInt(0) -> Option(r.getSeq[Double](1))).toMap
    assert(got == Map(0 -> None, 1 -> Some(Seq(4.0, 6.0))))
  }

  test("vec_sum raises on a vector length mismatch") {
    val buf = vecSum.update(vecSum.createAggregationBuffer(), vecRow(1.0, 2.0))
    intercept[IllegalArgumentException](vecSum.update(buf, vecRow(1.0, 2.0, 3.0)))
    intercept[IllegalArgumentException](vecSum.merge(Array(1.0), Array(1.0, 2.0)))
  }
}
