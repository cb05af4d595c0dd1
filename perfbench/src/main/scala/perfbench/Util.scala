package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Minimal JSON output and the statistics the benchmark reports. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  /** Parses a JSON file into java collections (Jackson ships with Spark). */
  def read(path: String): Any = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.readValue(new File(path), classOf[Object])
  }
  def obj(a: Any): Map[String, Any] = a.asInstanceOf[java.util.Map[String, Any]].asScala.toMap
  def arr(a: Any): Seq[Any] = a.asInstanceOf[java.util.List[Any]].asScala.toSeq
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Highest percentile with at least ten samples above it, or None. */
  def tailLevel(n: Int): Option[Double] =
    if (n < 20) None else Some(math.min(0.99, math.floor(100.0 * (n - 10) / n) / 100.0))

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

object Disk {
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
  def delete(path: String): Unit = deleteRecursively(Paths.get(path))

  /** (regular files, total bytes) under a directory. */
  def census(path: String): (Long, Long) = {
    val p = Paths.get(path)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally s.close()
    }
  }

  def readString(path: String): String = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")

  /** Peak resident set of this JVM in MB (VmHWM). */
  def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}
