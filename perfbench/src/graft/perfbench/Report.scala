package graft.perfbench

import scala.collection.mutable

/** A growable sample of measurements (latencies in ms, sizes, ...). */
final class Samples {
  private val buf = mutable.ArrayBuffer[Double]()
  def add(v: Double): Unit = synchronized { buf += v }
  def count: Int = synchronized(buf.size)
  def values: Array[Double] = synchronized(buf.toArray)
  def pct(q: Double): Double = Samples.pct(values, q)
}

object Samples {
  /** Percentile by linear interpolation between closest ranks; 0 when
    * there is no sample. */
  def pct(xs: Array[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** One reported number: value, unit and the sample count behind it. */
final case class Metric(value: Double, unit: String, samples: Long)

/** What a workload hands back: the op tally, the end-to-end metrics every
  * workload reports, its own named metrics, and the traced run's layer
  * metrics. */
final class Report {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  val endToEnd = mutable.LinkedHashMap[String, Metric]()
  val named = mutable.LinkedHashMap[String, Metric]()
  val layers = mutable.LinkedHashMap[String, Metric]()
  val info = mutable.LinkedHashMap[String, String]()

  /** Record `n` failed or wrong-result ops (the first few reasons are
    * printed). */
  def fail(why: String, n: Long = 1): Unit = synchronized {
    failed += n
    if (failures.size < 10) failures += why
  }

  def lat(map: mutable.LinkedHashMap[String, Metric], name: String,
      s: Samples, q: Double): Unit =
    map(name) = Metric(s.pct(q), "ms", s.count)

  /** Print every metric with its unit and sample count, then the result
    * line (last line of stdout) with exactly the declared metrics: every
    * end-to-end metric must have been measured; a layer a workload leaves
    * idle reads 0. */
  def print(trace: Boolean, e2e: Seq[(String, String)], layerSpec: Seq[(String, String)]): Unit = {
    val missing = e2e.map(_._1).filterNot(endToEnd.contains)
    require(missing.isEmpty, s"end-to-end metrics not measured: ${missing.mkString(", ")}")
    if (trace) layerSpec.foreach { case (n, u) => if (!layers.contains(n)) layers(n) = Metric(0.0, u, 0) }
    val declared = if (trace) layerSpec else e2e
    val src = if (trace) layers else endToEnd
    declared.foreach { case (n, u) =>
      require(src(n).unit == u, s"metric $n measured in ${src(n).unit}, declared in $u")
    }
    info.foreach { case (k, v) => println(s"input $k = $v") }
    failures.foreach(f => println(s"failure: $f"))
    def show(kind: String, m: mutable.LinkedHashMap[String, Metric]): Unit =
      m.foreach { case (k, x) =>
        println(f"$kind%-9s $k%-40s ${x.value}%14.4f ${x.unit}%-6s n=${x.samples}")
      }
    show("e2e", endToEnd)
    show("workload", named)
    if (trace) show("layer", layers)
    val body = declared.map(_._1).map { k =>
      s""""$k": {"value": ${num(src(k).value)}, "unit": "${src(k).unit}"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$body}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}
