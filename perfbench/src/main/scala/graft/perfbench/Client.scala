package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** The closed-loop client: one call at a time, each timed from issue to
  * return. A call that throws is recorded as failed with its elapsed
  * time — it stays in every latency figure and in the failure count. */
final class Client {
  final case class Op(kind: String, seconds: Double, ok: Boolean)

  val ops = ArrayBuffer.empty[Op]
  val errors = ArrayBuffer.empty[String]

  def op[A](kind: String)(f: => A): Option[A] = {
    val t0 = System.nanoTime()
    try {
      val r = f
      ops += Op(kind, (System.nanoTime() - t0) / 1e9, ok = true)
      Some(r)
    } catch {
      case NonFatal(e) =>
        ops += Op(kind, (System.nanoTime() - t0) / 1e9, ok = false)
        errors += s"$kind: ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").take(300)
        None
    }
  }

  def seconds(kinds: String*): Seq[Double] =
    ops.filter(o => kinds.isEmpty || kinds.contains(o.kind))
      .map(_.seconds).toSeq

  def attempted: Int = ops.size
  def failed: Int = ops.count(!_.ok)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The highest percentile with at least ten samples beyond it:
    * (value, percentile). Below 20 samples that percentile would not
    * even reach the median, so it is reported as not available (NaN). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n < 20) (Double.NaN, Double.NaN)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }

  /** Bytes of every file under a directory tree (data, log, deletion
    * vectors, checksums). */
  def bytesUnder(root: String): Long = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val st = java.nio.file.Files.walk(p)
      try st.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally st.close()
    }
  }
}
