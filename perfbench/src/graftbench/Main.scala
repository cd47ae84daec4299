package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One workload: how it lands its inputs, what a pass and a resume run,
  * how its outputs are checked, and which per-layer numbers it reads off
  * a traced pass.
  */
trait Workload {
  /** Generates the inputs from the run's seed and lands them under `dir`.
    * Set-up repeats this; returns named sub-timings in seconds. */
  def land(ctx: Ctx, dir: String): Map[String, Double]
  /** Points the workload at the landed inputs; returns the frames the
    * cache guard keeps cached across passes. */
  def use(ctx: Ctx, dir: String): Seq[DataFrame]
  /** Input documents one pass processes (the docs_per_s numerator). */
  def inputDocs: Long
  def pass(ctx: Ctx): Unit
  /** Untimed: simulates the failure the resume recovers from. */
  def crash(ctx: Ctx): Unit
  def resume(ctx: Ctx): Unit
  /** Output checks; `stage` is "fresh" after the first pass and "final"
    * after the last resume. */
  def check(ctx: Ctx, stage: String): Check
  /** Per-layer metrics read off one traced pass and its resume. */
  def layers(pass: Seq[(TraceSpan, EngineStats)], resume: Seq[(TraceSpan, EngineStats)])
      : Map[String, Double]
  /** Trace-only probes run after the measured window, with the checks
    * of what they ran. */
  def probes(ctx: Ctx, warmPassS: Double): (Map[String, Double], Check)
}

object Main {
  val Workloads: Seq[String] = Seq("pdf_extract", "near_dup")

  /** End-to-end metrics, printed on untraced runs. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cold_pass_s" -> "s", "docs_per_s" -> "1/s", "resume_s" -> "s")

  /** Per-layer metrics, printed on traced runs. A layer a workload does
    * not call reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "setup.session_s" -> "s", "setup.input_s" -> "s", "setup.input_first_s" -> "s",
    "setup.lm_build_s" -> "s",
    "codec.decode_us" -> "us", "stats.docinfo_us" -> "us", "classify.us" -> "us",
    "reflow.paragraph_us" -> "us", "assemble.us" -> "us", "extract.kernel_us" -> "us",
    "extract.accounted_pct" -> "%",
    "lm.calls" -> "calls/doc", "lm.score_us" -> "us", "lm.kernel_pct" -> "%",
    "job.scan_s" -> "s", "job.extract_s" -> "s", "job.sink_s" -> "s",
    "job.bucketize_s" -> "s", "job.rerun_noop_s" -> "s", "job.chunks_reextracted" -> "count",
    "crawl.cold_pass_s" -> "s", "crawl.pass_s" -> "s",
    "crawl.cycles" -> "count", "crawl.cycle_s" -> "s", "crawl.docs_landed" -> "count",
    "crawl.jobs_per_cycle" -> "jobs/cycle", "crawl.cycle_max_s" -> "s",
    "crawl.empty_cycle_s" -> "s", "html.extract_us" -> "us",
    "dedup.ngram_pairs_s" -> "s", "dedup.clusters_s" -> "s", "dedup.minhash_pairs_s" -> "s",
    "dedup.incremental_pairs_s" -> "s", "dedup.pairs_out" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.busy_share" -> "ratio", "spark.executor_cpu_s" -> "s", "spark.deser_s" -> "s",
    "spark.gc_s" -> "s", "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B",
    "spark.shuffle_records" -> "count", "spark.spill_bytes" -> "B", "spark.input_bytes" -> "B",
    "spark.output_bytes" -> "B", "spark.task_skew" -> "ratio", "spark.planning_ms" -> "ms",
    "spark.codegen_compiles" -> "count", "spark.codegen_compile_ms" -> "ms",
    "spark.persisted_after" -> "count",
    "cold.planning_ms" -> "ms", "cold.codegen_compiles" -> "count",
    "cold.codegen_compile_ms" -> "ms", "cold.executor_cpu_s" -> "s",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "trace.overhead_pct" -> "%")

  /** Set-up lands the inputs this many times and reports the median. */
  val SetupRepeats = 3
  /** Passes before the measured warm ones: the cold pass and one warm-up
    * pass, during which the JIT is still compiling the hot paths. */
  val Unmeasured = 2
  /** Measured warm passes a run makes at least, whatever --seconds says. */
  val MinWarm = 3

  def workload(name: String, seed: Long): Workload = name match {
    case "pdf_extract" => new PdfExtract(seed)
    case "near_dup" => new NearDup(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def engineMetrics(e: EngineStats, wallS: Double, cores: Int): Map[String, Double] = Map(
    "spark.jobs" -> e.jobs.toDouble, "spark.stages" -> e.stages.toDouble,
    "spark.tasks" -> e.tasks.toDouble,
    "spark.busy_share" -> e.runMs / 1000.0 / (wallS * cores),
    "spark.executor_cpu_s" -> e.cpuNs / 1e9, "spark.deser_s" -> e.deserMs / 1000.0,
    "spark.gc_s" -> e.gcMs / 1000.0,
    "spark.shuffle_write_bytes" -> e.shuffleWrite.toDouble,
    "spark.shuffle_read_bytes" -> e.shuffleRead.toDouble,
    "spark.shuffle_records" -> e.shuffleRecords.toDouble,
    "spark.spill_bytes" -> e.spill.toDouble, "spark.input_bytes" -> e.inputBytes.toDouble,
    "spark.output_bytes" -> e.outputBytes.toDouble, "spark.task_skew" -> e.skew,
    "spark.planning_ms" -> e.planningMs.toDouble,
    "spark.codegen_compiles" -> e.codegenCompiles.toDouble,
    "spark.codegen_compile_ms" -> e.codegenMs,
    "spark.persisted_after" -> e.persistedAfter.toDouble)

  private def catalogJson: String = {
    def list(xs: Seq[(String, String)]) =
      xs.map { case (n, u) => s"""{"name": ${Json.str(n)}, "unit": ${Json.str(u)}}""" }
        .mkString("[", ", ", "]")
    s"""{"workloads": ${Workloads.map(Json.str).mkString("[", ", ", "]")}, """ +
      s""""end_to_end": ${list(EndToEnd)}, "per_layer": ${list(PerLayer)}}"""
  }

  /** The result line: every metric of the catalog, each with its unit. */
  def resultJson(correct: Boolean, check: Check, catalog: Seq[(String, String)],
      values: Map[String, Double]): String = {
    val missing = catalog.map(_._1).filterNot(values.contains)
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    val ms = catalog.map { case (n, u) =>
      s"""${Json.str(n)}: {"value": ${Json.num(values(n))}, "unit": ${Json.str(u)}}"""
    }
    s"""{"correct": $correct, "attempted": ${check.attempted}, "failed": ${check.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (args.contains("--list-metrics")) { println(catalogJson); return }
    val name = kv.getOrElse("workload", sys.error("--workload required"))
    val seed = kv.getOrElse("seed", "1").toLong
    val seconds = kv.getOrElse("seconds", "10").toDouble
    val trace = kv.getOrElse("trace", "0") == "1"
    val work = kv.getOrElse("work", sys.error("--work required"))
    val code = try run(name, seed, seconds, trace, work) catch {
      case e: Throwable =>
        System.err.println(s"graftbench: run failed: $e")
        e.printStackTrace()
        2
    }
    System.out.flush()
    sys.exit(code)
  }

  private def session(cores: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  private def fmt(d: Double): String = f"$d%.3f"

  def run(name: String, seed: Long, seconds: Double, trace: Boolean, work: String): Int = {
    val w = workload(name, seed)
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores, work)
    try {
      val listener = if (trace) Some(new EngineListener) else None
      listener.foreach { l =>
        spark.sparkContext.addSparkListener(l)
        spark.listenerManager.register(l)
      }
      val tracer = new Tracer(spark.sparkContext, listener)
      val ctx = new Ctx(spark, cores, seed, work, tracer)
      val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

      // ---- set-up: LM model build once, input landing repeated ----
      val lmBuildS = Stats.seconds(graft.lm.CharLm.score("stellungnahme entwurf", "multi"))
      val landings = (0 until SetupRepeats).map { r =>
        val dir = ctx.path(s"input-$r")
        val (subs, s) = Stats.time(w.land(ctx, dir))
        (dir, s, subs)
      }
      val inputS = Stats.median(landings.map(_._2))
      val inputs = w.use(ctx, landings.last._1)
      landings.init.foreach(l => ctx.deleteDir(l._1))
      val setupS = sessionS + lmBuildS + inputS
      System.err.println(f"graftbench: $name seed=$seed set-up $setupS%.2f s " +
        f"(session $sessionS%.2f, lm $lmBuildS%.2f, input median $inputS%.2f of ${landings.map(_._2).map(x => f"$x%.2f").mkString("/")})")

      // ---- measured window: cold pass, then warm passes ----
      var checks = Check(0, 0, Nil)
      val samples = scala.collection.mutable.ArrayBuffer.empty[PassSample]
      val resumes = scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)]
      val steal = new Steal
      val t0 = System.nanoTime()
      var i = 0
      def elapsed = (System.nanoTime() - t0) / 1e9
      def warmCount(traced: Boolean) = samples.drop(Unmeasured).count(_.traced == traced)
      while (i < Unmeasured || elapsed < seconds || warmCount(false) < MinWarm ||
        (trace && warmCount(true) < MinWarm)) {
        // traced runs trace the cold pass and, after the warm-up, the warm
        // ones in the order T U U T, T U U T, ... so that neither side
        // sits earlier in the JIT's warm-up on average
        val traced = trace &&
          (i == 0 || (i >= Unmeasured && Set(0, 3)((i - Unmeasured) % 4)))
        tracer.on = traced
        Guard.reset(spark, inputs)
        val lm0 = graft.lm.Scorer.lmCallCount
        val (((_, engine), jvmS), wallS) =
          Stats.time(Jvm.measure(tracer.pass("pass")(w.pass(ctx))))
        val lmPerDoc = (graft.lm.Scorer.lmCallCount - lm0).toDouble / w.inputDocs
        if (i == 0) checks += w.check(ctx, "fresh")
        w.crash(ctx)
        Guard.reset(spark, inputs)
        val (_, resumeS) = Stats.time(tracer.pass("resume")(w.resume(ctx)))
        val layers =
          if (!traced) Map.empty[String, Double]
          else w.layers(tracer.callsOf(tracer.lastPassId("pass")),
            tracer.callsOf(tracer.lastPassId("resume"))) +
            ("lm.calls" -> lmPerDoc)
        samples += PassSample(wallS, traced, engine, jvmS, layers)
        resumes += ((resumeS, traced))
        tracer.on = false
        System.err.println(f"graftbench: pass $i ${if (traced) "traced" else "untraced"} " +
          f"$wallS%.3f s, resume $resumeS%.3f s")
        i += 1
      }
      steal.stop()
      checks += w.check(ctx, "final")
      val warm = samples.drop(Unmeasured)
      val warmUntraced = warm.filter(!_.traced)
      val passS = Stats.median(warmUntraced.map(_.wallS))
      val failedFrac = checks.failed.toDouble / checks.attempted
      checks.notes.foreach(n => System.err.println(s"graftbench: check: $n"))
      val notesShown = checks.notes.length

      val values: Map[String, Double] =
        if (!trace) Map(
          "setup_s" -> setupS,
          "cold_pass_s" -> samples.head.wallS,
          "docs_per_s" -> w.inputDocs / passS,
          "resume_s" -> Stats.median(resumes.drop(Unmeasured).filter(!_._2).map(_._1)))
        else {
          val tracedWarm = warm.filter(_.traced)
          val tracedS = Stats.median(tracedWarm.map(_.wallS))
          val perPass = tracedWarm.map { s =>
            engineMetrics(s.engine, s.wallS, cores) ++ s.layers ++
              Map("jvm.gc_s" -> s.jvm.gcS, "jvm.heap_peak_mb" -> s.jvm.heapPeakMb)
          }
          val medians = perPass.flatMap(_.keys).distinct
            .map(k => k -> Stats.median(perPass.flatMap(_.get(k)))).toMap
          val cold = samples.head.engine
          val landed = landings.map(_._3)
          val subMedians = landed.flatMap(_.keys).distinct
            .map(k => k -> Stats.median(landed.flatMap(_.get(k)))).toMap
          val (probes, probeCheck) = w.probes(ctx, tracedS)
          checks += probeCheck
          val kernel = KernelLayers.probe(seed)
          checks += KernelLayers.accounted(kernel)
          PerLayer.map(_._1 -> 0.0).toMap ++ medians ++ subMedians ++ probes ++ kernel ++ Map(
            "setup.session_s" -> sessionS, "setup.input_s" -> inputS,
            "setup.input_first_s" -> landings.head._2,
            "setup.lm_build_s" -> lmBuildS,
            "cold.planning_ms" -> cold.planningMs.toDouble,
            "cold.codegen_compiles" -> cold.codegenCompiles.toDouble,
            "cold.codegen_compile_ms" -> cold.codegenMs,
            "cold.executor_cpu_s" -> cold.cpuNs / 1e9,
            "trace.overhead_pct" -> (tracedS / passS - 1) * 100)
        }
      val catalog = if (trace) PerLayer else EndToEnd
      if (trace) {
        tracer.write(java.nio.file.Paths.get(work).getParent.getParent
          .resolve("traces").resolve(s"$name-seed$seed.jsonl"))
        Report.tables(tracer, name)
      }
      if (trace) checks.notes.drop(notesShown).foreach(n => System.err.println(s"graftbench: check: $n"))
      val correct = checks.failed == 0
      println(s"workload $name seed $seed passes ${samples.length} (cold, warm-up, ${warm.length} warm, " +
        s"${warm.count(_.traced)} traced)")
      println(s"  passes (s): cold ${fmt(samples.head.wallS)}, warm-up ${fmt(samples(1).wallS)}, warm " +
        warm.map(p => fmt(p.wallS) + (if (p.traced) "t" else "")).mkString(" ") +
        s"; resumes: ${resumes.map(r => fmt(r._1)).mkString(" ")}; host steal ${fmt(steal.share * 100)} %")
      catalog.foreach { case (n, u) => println(f"  $n%-28s ${values(n)}%14.4f $u") }
      println(f"  ${"failed_frac"}%-28s $failedFrac%14.4f share (${checks.failed}/${checks.attempted})")
      println(resultJson(correct, checks, catalog, values))
      if (correct) 0 else 1
    } finally spark.stop()
  }
}
