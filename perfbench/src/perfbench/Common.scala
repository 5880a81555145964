package perfbench

import java.io.File

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  /** Full precision; non-finite values (which JSON cannot hold) as 0. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that still has at least ten samples above it,
    * as (percentile, value). With ten samples or fewer no percentile has
    * ten beyond it; the maximum is reported, as percentile 100. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.length
    if (n <= 10) (100.0, s.last)
    else {
      val rank = n - 10 // 1-based rank of the value with ten samples above it
      (100.0 * rank / n, s(rank - 1))
    }
  }
}

object Fs {
  def files(dir: File): Seq[File] =
    if (!dir.exists) Seq.empty
    else if (dir.isFile) Seq(dir)
    else Option(dir.listFiles).toSeq.flatten.flatMap(files)

  /** Data files only: Spark's `.crc` side files and `_SUCCESS` markers
    * are bookkeeping, not stored data. */
  def dataFiles(dir: File): Seq[File] =
    files(dir).filter(f => !f.getName.endsWith(".crc") && f.getName != "_SUCCESS")

  def bytes(dir: File): Long = dataFiles(dir).map(_.length).sum

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(rm)
    f.delete(): Unit
  }
}
