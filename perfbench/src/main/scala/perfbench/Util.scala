package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Minimal JSON rendering; values are passed pre-rendered. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]; 0 for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = (s.length - 1) * p / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

object Sys {
  /** Peak resident set of this process in MB (VmHWM), or the JVM's
    * committed memory where /proc is unavailable. */
  def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    val hwm =
      if (f.exists())
        scala.io.Source.fromFile(f).getLines().find(_.startsWith("VmHWM:"))
          .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      else None
    hwm.getOrElse {
      val rt = Runtime.getRuntime
      rt.totalMemory().toDouble / (1024 * 1024)
    }
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmrf)
    f.delete(); ()
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}
