package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Operations the run's timed passes attempted, and how many of them
  * failed (a throw or a failed check). */
final class Tally {
  var attempted = 0L
  var failed = 0L
  private var failures = List.empty[String]

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures ::= what
    System.err.println(s"[perfbench] FAILED $what")
  }
  def messages: Seq[String] = failures.reverse
}

/** Shared session plumbing for the workloads. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val scratch: String,
                val data: String, val seed: Long, val cores: Int) {
  val tally = new Tally

  /** Time spent inside [[untimed]] blocks of the current pass. */
  var pausedNs = 0L

  /** Runs a check in the middle of a pass without charging it to the pass. */
  def untimed[A](body: => A): A = {
    val t0 = System.nanoTime()
    try tracer.span("untimed")(body) finally pausedNs += System.nanoTime() - t0
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def rm(path: String): Unit = {
    val p = new java.io.File(path)
    if (p.exists()) org.apache.commons.io.FileUtils.deleteDirectory(p)
  }
}

/** A workload: an untimed set-up, then timed passes (each one closed-loop
  * sequence of operations), each followed by its untimed output checks. */
trait Workload {
  /** Items of input one pass processes (corpus docs, or documents rows). */
  def docsPerPass: Long
  def setup(): Unit
  def pass(k: Int): Unit
  def check(k: Int): Unit
  /** Output digest per operation of the last checked pass, for pinning. */
  def digests: Seq[(String, String)] = Seq.empty
  /** Per-layer metrics this workload adds to those taken from the spans
    * and Spark's counters. */
  def layerMetrics: Map[String, Double] = Map.empty
}
