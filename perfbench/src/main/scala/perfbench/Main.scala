package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import graft.index.VectorIndex

/** Benchmark entry point.
  *
  * Usage: perfbench.Main --workload <serve|serve-truncate|bulk|curate> --seed <n>
  *   --seconds <s> --trace <0|1> --tmp <dir>
  *
  * Prints a host line, a human-readable summary line, and as its last
  * line one JSON object with `correct`, `attempted`, `failed` and
  * `metrics`: the end-to-end metrics when `--trace 0`, the per-layer
  * metrics when `--trace 1`. */
object Main {
  val SetupRepeats = 5

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "tmp")
    require(args.length % 2 == 0 && opts.keySet == known,
      s"usage: --workload <name> --seed <n> --seconds <s> --trace <0|1> --tmp <dir>; got ${args.mkString(" ")}")
    val name = opts("workload")
    val trace = opts("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val tmp = new java.io.File(opts("tmp"))
    val ctx = new Ctx(opts("seed").toLong, opts("seconds").toDouble, new Tracer(trace), tmp)
    val load0 = loadAverage()
    val (sparkS, spark) =
      if (Set("bulk", "curate").contains(name)) { val (s, ss) = Stats.timed(session(tmp)); (s, Some(ss)) }
      else (0.0, None)
    // the listener is attached in the traced run only, so the
    // end-to-end runs pay nothing for it
    val counters = spark.map { s =>
      val c = new SparkCounters(s.sparkContext, ctx.tracer)
      if (trace) s.sparkContext.addSparkListener(c)
      c
    }
    val workload: Workload = name match {
      case "serve" => new Serve(name, VectorIndex.DefaultScaleAlpha)
      case "serve-truncate" => new Serve(name, 0.0)
      case "bulk" => new Bulk(spark.get, counters.get)
      case "curate" => new Curate(spark.get, counters.get)
      case w => throw new IllegalArgumentException(s"unknown workload $w (serve, serve-truncate, bulk, curate)")
    }
    val outcome =
      try run(ctx, workload, counters)
      finally spark.foreach(_.stop())
    val host = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory() / 1048576).toString,
      "jdk" -> quote(System.getProperty("java.version")),
      "spark" -> quote(org.apache.spark.SPARK_VERSION),
      "spark_start_s" -> f"$sparkS%.3f",
      "loadavg_before" -> f"$load0%.2f",
      "loadavg_after" -> f"${loadAverage()}%.2f")
    println(s"""{"host": {${host.map { case (k, v) => s""""$k": $v""" }.mkString(", ")}}}""")
    outcome.notes.foreach(println)
    val metrics = if (trace) outcome.perLayer else outcome.endToEnd
    val failed = ctx.checks.failed
    println(s"""{"correct": ${failed == 0}, "attempted": ${ctx.checks.attempted}, "failed": $failed, """ +
      s""""metrics": {${metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""").mkString(", ")}}}""")
    System.out.flush()
  }

  private def run(ctx: Ctx, w: Workload, counters: Option[SparkCounters]): Outcome = {
    // input generation runs on this thread alone, so its CPU time is
    // this thread's; only the last generation's inputs stay reachable,
    // so mem_mb counts what the workload holds, not discarded inputs.
    // setup_s is the median generation plus the one construction the
    // workload measures (construction takes 10-50 s, too long to repeat)
    var in: Option[w.In] = None
    val setups = (1 to SetupRepeats).map { _ =>
      in = None
      val c0 = Stats.threadCpuNs()
      val (wall, next) = Stats.timed(w.setup(ctx))
      in = Some(next)
      Phase(wall, Stats.seconds(Stats.threadCpuNs() - c0))
    }
    val jit = ManagementFactory.getCompilationMXBean
    val (gc0, gcS0) = Stats.gcTotals()
    val jit0 = jit.getTotalCompilationTime
    val m = w.measure(ctx, in.get)
    val (gc1, gcS1) = Stats.gcTotals()
    val jitS = (jit.getTotalCompilationTime - jit0) / 1000.0
    val lat = m.loops.flatMap(_.latNs).toArray
    val queries = lat.length.toLong * m.queriesPerCall
    val blockCpu = m.loops.flatMap(_.blockCpuNs)
    require(blockCpu.nonEmpty, "the query loop ended before its first CPU block")
    // query CPU time scaled to the reference host speed (see
    // Calibration) on the workloads whose work is like the kernel's
    val calib = Stats.median(m.loops.flatMap(_.calibNs))
    val speed = if (w.calibrated) Calibration.ReferenceNs / calib else 1.0
    val setupCpuS = Stats.median(setups.map(_.cpuS)) + m.build.cpuS
    val queryCpuUs = Stats.median(blockCpu) / m.queriesPerCall / 1000
    val endToEnd = Seq(
      Metric("setup_s", setupCpuS, "s"),
      Metric("mem_mb", m.memMb, "MB"),
      Metric("query_cpu_us", queryCpuUs * speed, "us"),
      Metric("recall_at_10", m.recall, "ratio"))
    val perLayer = LayerReport(ctx.tracer, counters.filter(_ => ctx.tracer.enabled), m.extra ++ Map(
      "jvm.gc_s" -> (gcS1 - gcS0),
      "jvm.gc_count" -> (gc1 - gc0).toDouble,
      "jvm.jit_s" -> jitS,
      "jvm.heap_after_setup_mb" -> m.memMb,
      "trace.overhead_query_p50_ms" -> QueryLoop.overheadMs(m.loops)))
    def ms(ns: Long) = f"${ns / 1e6}%.3f ms"
    val p99 = if (lat.length >= 1000) ms(Stats.percentile(lat, 99)) else "n/a (< 1000 calls)"
    val notes = Seq(
      s"wall: calls=${lat.length} p50=${ms(Stats.percentile(lat, 50))} p99=$p99 " +
        f"qps=${queries / m.query.wallS}%.1f build=${m.build.wallS}%.3f s jit=$jitS%.1f s gc=${gcS1 - gcS0}%.1f s " +
        f"settle=${m.loops.map(_.settleS).sum}%.1f s " +
        s"cpu_blocks=${blockCpu.length} cpu_us_per_query_p10/p50/p90=" +
        Seq(10, 50, 90).map(p => f"${Stats.percentile(blockCpu.map(_.round).toArray, p) / 1000.0 / m.queriesPerCall}%.1f").mkString("/") + " " +
        s"setups=${setups.map(s => f"${s.wallS}%.3f").mkString(",")} s " +
        f"calibration_ms=${calib / 1e6}%.3f unscaled_query_cpu_us=$queryCpuUs%.1f",
      s"checks: ${ctx.checks.summary} failed_frac=${num(ctx.checks.failed.toDouble / math.max(1L, ctx.checks.attempted))}" +
        (if (ctx.checks.failures.nonEmpty) s" FAILED: ${ctx.checks.failures.mkString(" ")}" else ""))
    Outcome(endToEnd, perLayer, notes ++ m.notes)
  }

  private def session(tmp: java.io.File): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "8")
      // uncompressed shuffle blocks make the traced byte counters a
      // function of the data alone: compressed sizes also depend on
      // row order, which some of the program's plans leave open
      .config("spark.shuffle.compress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(tmp, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(tmp, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def loadAverage(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def quote(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric value $d is not a number")
    java.math.BigDecimal.valueOf(d).toPlainString
  }
}
