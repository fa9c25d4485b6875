package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run in one fresh JVM:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --scratch DIR --out DIR --pins FILE --docs N`.
  *
  * Sets the workload up (untimed), then runs timed passes until `--seconds`
  * have gone by, checking each pass's outputs after it. The first pass is
  * the JVM's first: it pays for query planning, code generation and JIT
  * compilation, as a user's one run of the job does. Untraced runs report the end-to-end metrics; traced runs report
  * per-layer metrics from the spans and Spark's stage counters, and write
  * the spans to `--out`.
  * The result is the last stdout line, after the `PERFBENCH_RESULT` tag. */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors

    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // The query workloads use `graft.Bench`'s scan split; the pipeline keeps
    // Spark's default, as `graft.tools.PipelineMain` does (an 8m open cost
    // would give each of the many small bucket files its own task).
    if (workload != "extract")
      builder.config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "8m")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val run = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
    val tracer = new Tracer(spark.sparkContext, run, enabled = trace)
    val ctx = new Ctx(spark, tracer, opt("scratch"), opt("data"), seed, cores)
    val w: Workload = workload match {
      case "extract" => new ExtractWorkload(ctx, opt("docs").toInt)
      case "neardup" => new QueryWorkload(ctx, QueryWorkload.NearDup ++ QueryWorkload.BoardSample,
        pins(opt("pins")))
      case other => sys.error(s"unknown workload $other")
    }

    tracer.span("setup")(w.setup())
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    // Closed loop: one pass after another until the run's time is up.
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val walls = ArrayBuffer.empty[Double]
    var k = 0
    while (k < 1 || System.nanoTime() < deadline) {
      ctx.pausedNs = 0L
      val t0 = System.nanoTime()
      tracer.span("pass")(w.pass(k))
      walls += (System.nanoTime() - t0 - ctx.pausedNs) / 1e9
      tracer.span("check")(w.check(k))
      k += 1
    }
    val wallS = Stats.median(walls.toSeq)
    val failedRatio = ctx.tally.failed.toDouble / math.max(1L, ctx.tally.attempted)
    val peakRssMb = vmHwmMb()
    System.err.println(f"[perfbench] $workload seed=$seed passes=$k setup_s=$setupS%.3f " +
      f"wall_s=$wallS%.3f docs_per_s=${w.docsPerPass / wallS}%.1f failed_ratio=$failedRatio " +
      s"(${ctx.tally.failed}/${ctx.tally.attempted}) peak_rss_mb=${peakRssMb.round} " +
      s"pass_walls=${walls.map(x => f"$x%.3f").mkString(",")}")

    val out = opt("out")
    Files.createDirectories(Paths.get(out))
    if (w.digests.nonEmpty)
      Files.writeString(Paths.get(s"$out/digests-$run.json"), w.digests
        .map { case (q, d) => s"  ${Json.str(q)}: ${Json.str(d)}" }.mkString("{\n", ",\n", "\n}\n"))

    val metrics: Map[String, Double] =
      if (!trace) Map(
        "setup_s" -> setupS,
        "wall_s" -> wallS,
        "docs_per_s" -> w.docsPerPass / wallS)
      else {
        tracer.drain()
        val layers = layerMetrics(tracer, tracer.spans.filter(_.name == "pass").toSeq)
        val all = layers ++ w.layerMetrics ++ Map(
          "failed_ratio" -> failedRatio,
          "peak_rss_mb" -> peakRssMb,
          "trace.wall_s" -> wallS)
        Files.writeString(Paths.get(s"$out/spans-$run.json"), tracer.toJson)
        all
      }

    val q = (s: String) => Json.str(s)
    val body = metrics.toSeq.sortBy(_._1).map { case (n, v) => s"${q(n)}:${Json.num(v)}" }
      .mkString("{", ",", "}")
    println(s"PERFBENCH_RESULT {${q("correct")}:${ctx.tally.failed == 0}," +
      s"${q("attempted")}:${ctx.tally.attempted},${q("failed")}:${ctx.tally.failed}," +
      s"${q("failures")}:${ctx.tally.messages.map(q).mkString("[", ",", "]")}," +
      s"${q("metrics")}:$body}")
    spark.stop()
  }

  /** Per-layer numbers from the traced passes, each the median over them:
    * every child span's duration (`<name>_s`), the time no child span
    * covers, and Spark's stage counters summed over the pass. */
  private def layerMetrics(t: Tracer, passes: Seq[Span]): Map[String, Double] = {
    def med(f: Span => Double) = Stats.median(passes.map(f))
    val names = passes.flatMap(t.children).map(_.name).distinct.filterNot(_ == "untimed")
    val spanTimes = names.map { n =>
      s"${n}_s" -> med(p => t.children(p).filter(_.name == n).map(_.seconds).sum)
    }.toMap
    def counter(f: StageCounters => Double) = med(p => t.stagesUnder(p).map(f).sum)
    val spark = Map(
      "spark.executor_run_s" -> counter(_.runMs / 1e3),
      "spark.executor_cpu_s" -> counter(_.cpuNs / 1e9),
      "spark.gc_s" -> counter(_.gcMs / 1e3),
      "spark.shuffle_write_bytes" -> counter(_.shuffleWrite.toDouble),
      "spark.shuffle_read_bytes" -> counter(_.shuffleRead.toDouble),
      "spark.spill_bytes" -> counter(_.spill.toDouble),
      "spark.input_bytes" -> counter(_.input.toDouble),
      "spark.output_bytes" -> counter(_.output.toDouble),
      "spark.tasks" -> counter(_.tasks.toDouble),
      // max over median task time in the pass's longest stage
      "spark.task_skew" -> med { p =>
        val st = t.stagesUnder(p).filter(_.taskMs.nonEmpty)
        if (st.isEmpty) 0.0
        else {
          val longest = st.maxBy(_.wallMs)
          longest.taskMs.max / math.max(1.0, Stats.median(longest.taskMs.map(_.toDouble).toSeq))
        }
      })
    spanTimes ++ spark + ("trace.uncovered_s" -> med(t.selfSeconds))
  }

  private def pins(path: String): Map[String, String] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Map.empty
    else "\"(q_[a-z0-9_]+)\"\\s*:\\s*\"([-0-9:]+)\"".r
      .findAllMatchIn(Files.readString(p)).map(m => m.group(1) -> m.group(2)).toMap
  }

  /** The JVM's peak resident set (`VmHWM`), in MiB. */
  private def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }
}
