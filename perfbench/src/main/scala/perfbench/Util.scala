package perfbench

/** Minimal JSON rendering for the result line and the span file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated quantile (`q` in [0, 1]) of `xs`; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toArray
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  /** `a / b`, or 0 when there is nothing to divide by. */
  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Memory the JVM still holds after a full collection, in MiB: live heap,
    * metaspace and code cache (non-heap pools), and direct and mapped
    * buffers. Unlike resident memory it does not depend on how much of the
    * fixed heap the collector happens to touch. */
  def liveMemMb(): Double = {
    import java.lang.management.{BufferPoolMXBean, ManagementFactory}
    import scala.jdk.CollectionConverters._
    val mem = ManagementFactory.getMemoryMXBean
    val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala
    def collect(): Double = {
      System.gc()
      (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed +
        buffers.map(_.getMemoryUsed).sum) / (1024.0 * 1024.0)
    }
    // what one collection finds unreachable, cleaner threads (the JDK's,
    // Spark's ContextCleaner) release only afterwards, and one reading in a
    // few came out 70 MiB high: collect until two readings agree
    var prev = collect()
    var cur = prev
    var tries = 0
    do {
      Thread.sleep(200)
      prev = cur
      cur = collect()
      tries += 1
    } while (tries < 10 && math.abs(cur - prev) > prev / 100)
    cur
  }
}

/** Wall-clock and CPU-time helpers. */
object Clock {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole process (every thread) so far, in ns. */
  def cpuNs(): Long = os.getProcessCpuTime

  def ms[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}
