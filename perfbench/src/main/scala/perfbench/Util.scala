package perfbench

import java.io.File
import java.nio.file.{Files, Path}

/** One reported number: a value, its unit, and the sample count behind it
  * (1 for a single measurement). `detail` says how it was derived. */
final case class Metric(value: Double, unit: String, n: Long = 1, detail: String = "")

/** Sample statistics with the reporting rule the benchmark uses: a median,
  * and as "tail" the highest percentile that still has at least ten
  * samples beyond it (nearest rank). */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** (percentile, value) of the highest percentile with >= 10 samples
    * strictly above its rank. Below 20 samples no percentile above the
    * median has ten beyond it, and the median is returned as p50. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    if (s.length < 20) (50.0, median(xs))
    else (100.0 * (s.length - 10) / s.length, s(s.length - 11))
  }

  def tailLabel(pct: Double): String =
    if (pct == 50.0) "median (under 20 samples no higher percentile has 10 beyond it)"
    else f"p$pct%.1f (highest percentile with 10 samples beyond it)"
}

/** Minimal JSON writer for the result file (maps, sequences, numbers,
  * strings, booleans); keeps the benchmark free of extra libraries. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Metric =>
      apply(Map("value" -> m.value, "unit" -> m.unit, "n" -> m.n, "detail" -> m.detail))
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
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
    b += '"'
    b.toString
  }
}

object Disk {
  def bytesUnder(dir: String): Long = {
    val root = new File(dir)
    if (!root.exists()) 0L
    else {
      val st = Files.walk(root.toPath)
      try st.filter(p => Files.isRegularFile(p)).mapToLong((p: Path) => Files.size(p)).sum()
      finally st.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val root = new File(dir)
    if (root.exists()) {
      val st = Files.walk(root.toPath)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally st.close()
    }
  }

  def write(path: String, text: String): Unit = {
    val p = new File(path).toPath
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes("UTF-8"))
  }
}

object Clock {
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secs(t0))
  }
}
