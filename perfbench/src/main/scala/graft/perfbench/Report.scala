package graft.perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.Row

/** Correctness-gate helpers shared by the workloads. */
object Checks {
  /** Run a check; an exception inside it is a failed gate, not a crash. */
  def guard(what: String)(f: => Seq[String]): Seq[String] =
    try f
    catch {
      case NonFatal(e) =>
        Seq(s"$what threw ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").take(300))
    }

  /** Same rows in any order; doubles equal to a relative 1e-9. */
  def sameRows(what: String, expected: Seq[Row], actual: Seq[Row])
  : Seq[String] = {
    def key(r: Row) = r.toSeq.map {
      case d: Double => f"$d%.6e"
      case x => String.valueOf(x)
    }.mkString("|")
    val e = expected.sortBy(key); val a = actual.sortBy(key)
    val same = e.size == a.size && e.zip(a).forall { case (x, y) =>
      x.size == y.size && (0 until x.size).forall { i =>
        (x.get(i), y.get(i)) match {
          case (p: Double, q: Double) => close(p, q)
          case (p, q) => p == q
        }
      }
    }
    if (same) Nil
    else Seq(s"$what: expected ${e.size} rows (${e.take(3).mkString(", ")}" +
      s"), got ${a.size} (${a.take(3).mkString(", ")})")
  }

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a),
      math.abs(b)))
}

/** The printed tables and the machine-readable result line. */
final class Report(workload: String, seed: Long, seconds: Double,
                   traced: Boolean) {

  private def fmt(v: Double): String =
    if (v.isNaN) "n/a"
    else if (v == 0.0 || (math.abs(v) >= 0.001 && math.abs(v) < 1e7))
      f"$v%.4f" else f"$v%.4e"

  def printEndToEnd(e2e: Seq[(String, Double, String, Int)],
                    extra: Seq[(String, Double, String, Int)],
                    c: Client, tailPct: Double, genS: Double,
                    sessionS: Double, setups: Seq[Double]): Unit = {
    println(s"== $workload  seed=$seed  seconds=$seconds  " +
      s"trace=${if (traced) 1 else 0}  client=closed loop, 1 client, " +
      "local[4]")
    println(s"${c.attempted} calls, ${c.failed} failed; set-up: inputs " +
      f"$genS%.3f s (median) + session $sessionS%.3f s + initial state " +
      s"${setups.map(x => f"$x%.3f").mkString("/")} s (median)")
    println(f"${"metric"}%-22s ${"value"}%14s ${"unit"}%-6s ${"n"}%6s")
    (e2e ++ extra).foreach { case (n, v, u, k) =>
      println(f"$n%-22s ${fmt(v)}%14s $u%-6s $k%6d")
    }
    println(f"${"fail_ratio"}%-22s ${fmt(c.failed.toDouble /
      math.max(1, c.attempted))}%14s ${"ratio"}%-6s ${c.attempted}%6d" +
      s"  (${c.failed} failed of ${c.attempted})")
    if (!tailPct.isNaN)
      println(f"(op_tail_s is the p$tailPct%.1f of ${c.attempted} calls)")
    println("calls in order: " + c.ops.map(o =>
      f"${o.kind}=${o.seconds}%.3f").mkString(" "))
    val kinds = c.ops.map(_.kind).distinct
    kinds.foreach { k =>
      val xs = c.seconds(k)
      println(f"  call $k%-18s n=${xs.size}%4d p50=${
        fmt(Stats.median(xs))} s  max=${fmt(xs.max)} s")
    }
  }

  def printLayers(layers: Seq[Layers.Metric]): Unit = {
    println(f"${"per-layer metric"}%-36s ${"value"}%14s ${"unit"}%-6s " +
      f"${"samples"}%8s  per call")
    layers.foreach { l =>
      val per = if (l.samples > 0 && l.perCall)
        fmt(l.value / l.samples) else ""
      println(f"${l.name}%-36s ${fmt(l.value)}%14s ${l.unit}%-6s " +
        f"${l.samples}%8d  $per")
    }
  }

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def json(correct: Boolean, attempted: Int, failed: Int,
           metrics: Seq[(String, Double, String)],
           oracle: Seq[(String, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      s"${str(n)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
    val os = oracle.map { case (q, p) => s"[${str(q)}, ${str(p)}]" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}, "oracle": [${os.mkString(", ")}]}"""
  }
}
