package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and prints its result as the last line
  * of stdout. See perfbench/README.md for the metrics. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, launchMs: Long, cores: Int, expected: String,
                        record: Option[String], traceOut: String, xmx: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1", m("work"),
      m("launch-ms").toLong, m("cores").toInt, m("expected"), m.get("record"),
      m("trace-out"), m("xmx"))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, with
    * that percentile. Below 20 samples that percentile would sit in the
    * lower half, so the maximum stands in for it. */
  private def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size < 20) (s.last, 100.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }

  private def opMedians(ops: Seq[OpResult]): String =
    ops.groupBy(_.name).toSeq.map { case (k, v) => k -> median(v.map(_.seconds)) }.sortBy(-_._2)
      .map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")

  private def vmHwmMb: Double =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1000.0

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def metric(name: String, v: Double, unit: String): String =
    s""""$name":{"value":${num(v)},"unit":"$unit"}"""

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val mainStart = System.currentTimeMillis()
    val workload = Workload.all.getOrElse(o.workload,
      sys.error(s"unknown workload ${o.workload}; known: ${Workload.all.keys.toSeq.sorted.mkString(", ")}"))

    val (spark, sessionS) = Workload.secondsOf(SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/local")
      .config("spark.hadoop.hadoop.tmp.dir", s"${o.work}/tmp/hadoop")
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    val expected: Map[String, Digest] =
      if (o.record.isDefined) Map.empty
      else scala.io.Source.fromFile(o.expected).getLines()
        .map(_.split("\t")).collect { case Array(w, k, r, s, x) if w == o.workload =>
          k -> Digest.parse(r, s, x) }.toMap
    val seen = mutable.LinkedHashMap.empty[String, Digest]
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]

    def check(results: Seq[OpResult], digests: Seq[(String, Digest)]): Unit = {
      attempted += results.size
      results.foreach(r => r.error.foreach(e => failures += s"${r.name}: $e"))
      val bad = digests.filter { case (k, d) =>
        val want = if (o.record.isDefined) seen.getOrElseUpdate(k, d) else expected.getOrElse(k, null)
        want != d
      }
      bad.foreach { case (k, d) => failures += s"$k: digest ${d.render} != ${expected.get(k).map(_.render)}" }
      val badOps = bad.map(_._1).toSet
      failed += results.count(r => r.error.nonEmpty || badOps(r.name)) +
        bad.count { case (k, _) => !results.exists(_.name == k) }
    }

    // ---- set-up: stage the inputs into a fresh root, build the
    // persisted indexes, then the untimed warm passes
    val ctx0 = new Ctx(spark, None, o.seed)
    val dir = s"${o.work}/data"
    val (inputBytes, stageS) = Workload.secondsOf(workload.stage(ctx0, dir))
    val stamps0 = Fs.stamps(ctx0.tmpDir).keySet
    val (_, buildS) = Workload.secondsOf(workload.build(ctx0, dir))
    val buildOnceBuilds = (Fs.stamps(ctx0.tmpDir).keySet -- stamps0).size
    val order = new scala.util.Random(o.seed)
    val jit0 = Workload.jitNanos
    val proc0 = Workload.processCpuNanos
    val warm = (1 to Main.WarmPasses).map { k =>
      val c0 = Workload.cpuNanos
      val ((results, digests), s) = Workload.secondsOf(workload.pass(ctx0, dir, -k, order))
      val cpu = (Workload.cpuNanos - c0) / 1e9
      check(results, digests())
      if (workload.isInstanceOf[Medallion]) Fs.deleteTree(s"$dir/pass-$k")
      (s, cpu)
    }
    // set-up is everything from the JVM's launch to the first timed op
    val setupS = (System.currentTimeMillis() - o.launchMs) / 1000.0

    // ---- timed passes (with --trace 1: half untraced, then half traced)
    final case class PassStat(seconds: Double, cpu: Double, processCpu: Double, ops: Seq[OpResult],
                              lakeBytes: Long, lakeFiles: Long)
    var passNo = 0
    def runPasses(ctx: Ctx, budget: Double): Seq[PassStat] = {
      val t0 = System.nanoTime()
      val out = mutable.ArrayBuffer.empty[PassStat]
      while (out.isEmpty || (System.nanoTime() - t0) / 1e9 < budget) {
        passNo += 1
        val startMs = System.currentTimeMillis()
        val (c0, p0) = (Workload.cpuNanos, Workload.processCpuNanos)
        val ((results, digests), s) = Workload.secondsOf(
          ctx.within("pass", s"pass-$passNo")(workload.pass(ctx, dir, passNo, order)))
        val cpu = (Workload.cpuNanos - c0) / 1e9
        val processCpu = (Workload.processCpuNanos - p0) / 1e9
        check(results, digests())
        val (lb, lf) = workload.lakeBytes(ctx, dir, passNo, startMs)
        if (workload.isInstanceOf[Medallion]) Fs.deleteTree(s"$dir/pass$passNo")
        out += PassStat(s, cpu, processCpu, results, lb, lf)
      }
      out.toSeq
    }

    val lines = mutable.ArrayBuffer.empty[String]
    val machine = Seq(
      "nproc" -> o.cores.toString,
      "mem_total_kb" -> java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/meminfo"))
        .asScala.find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1)).getOrElse("0"),
      "jvm" -> s"\"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}\"",
      "spark" -> s"\"${spark.version}\"",
      "xmx" -> s"\"${o.xmx}\"",
      "master" -> s"\"local[${o.cores}]\"").map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

    val metrics: String = if (!o.trace) {
      val passes = runPasses(ctx0, o.seconds)
      lines += s"""{"detail":{"workload":"${o.workload}","seed":${o.seed},"passes":${passes.size},""" +
        s""""launch_to_main_s":${num((mainStart - o.launchMs) / 1000.0)},"session_s":${num(sessionS)},""" +
        s""""stage_s":${num(stageS)},"build_s":${num(buildS)},""" +
        s""""warm_pass_s":[${warm.map(w => num(w._1)).mkString(",")}],""" +
        s""""warm_cpu_s":[${warm.map(w => num(w._2)).mkString(",")}],""" +
        s""""input_bytes":$inputBytes,"pass_s_all":[${passes.map(p => num(p.seconds)).mkString(",")}],""" +
        s""""cpu_s_all":[${passes.map(p => num(p.cpu)).mkString(",")}],""" +
        s""""process_cpu_s_all":[${passes.map(p => num(p.processCpu)).mkString(",")}],""" +
        s""""jit_cpu_s":${num((Workload.jitNanos - jit0) / 1e9)},""" +
        s""""op_median_s":${opMedians(passes.flatMap(_.ops))},"machine":$machine}}"""
      Seq(
        metric("setup_s", setupS, "s"),
        metric("cpu_s", median(passes.map(_.cpu)), "s")).mkString("{", ",", "}")
    } else {
      val untraced = runPasses(ctx0, o.seconds / 2)
      val trace = new Trace(spark, s"${o.workload}-seed${o.seed}-${mainStart}")
      val ctx = new Ctx(spark, Some(trace), o.seed)
      val heap = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
      heap.foreach(_.resetPeakUsage())
      val gc0 = gcSeconds
      trace.attach()
      val (traced, tracedS) = Workload.secondsOf(ctx.within("run", o.workload)(runPasses(ctx, o.seconds / 2)))
      trace.detach()
      val gc = gcSeconds - gc0
      val heapPeakMb = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
      val n = traced.size.toDouble
      val ops = traced.flatMap(_.ops)
      val st = trace.stages.toSeq
      def perPass(v: Double) = v / n
      def opSum(f: OpResult => Double) = perPass(ops.map(f).sum)
      val stageNames = Seq("ingest", "cleanse", "anonymize", "reports", "readable", "export",
        "profile", "audit")
      val families = Seq("Reports", "Windows", "Profile", "Quality", "Anonymize", "Dedup",
        "SetSimilarity", "Similarity", "Clustering", "CorpusStats", "Ngrams")
      val skew = st.filter(s => s.taskMillis.size >= 2).flatMap { s =>
        val med = median(s.taskMillis.map(_.toDouble))
        if (med >= 5) Some(s.taskMillis.max / med) else None
      }
      val lakeBytes = perPass(traced.map(_.lakeBytes.toDouble).sum)
      val (tailV, tailP) = tail(ops.map(_.seconds))
      val overhead = median(traced.map(_.seconds)) - median(untraced.map(_.seconds))
      val self = trace.selfSeconds
      val layerMetrics = Seq(
        stageNames.map(sn => metric(s"pipeline.${sn}_s",
          if (workload.isInstanceOf[Medallion]) opSum(r => if (r.name == sn) r.seconds else 0.0) else 0.0,
          "s")),
        Seq(
          metric("sources.lake_bytes_written", lakeBytes, "bytes"),
          metric("sources.lake_files_written", perPass(traced.map(_.lakeFiles.toDouble).sum), "count"),
          metric("lake_bytes_per_input_byte", lakeBytes / inputBytes.toDouble, "ratio"),
          metric("driver.build_s", opSum(_.build), "s"),
          metric("driver.plan_s", opSum(_.plan), "s"),
          metric("driver.exec_s", opSum(_.exec), "s"),
          metric("driver.gap_s", perPass(trace.gapSeconds), "s"),
          metric("spark.jobs", perPass(trace.jobs.toDouble), "count"),
          metric("spark.task_cpu_s", perPass(st.map(_.cpuNanos).sum / 1e9), "s"),
          metric("spark.executor_busy_frac",
            st.map(_.runMillis).sum / 1000.0 / (o.cores * traced.map(_.seconds).sum), "ratio"),
          metric("spark.low_parallel_stages",
            perPass(st.count(s => s.tasks < o.cores && s.recordsIn > Main.LowParallelRows).toDouble),
            "count"),
          metric("spark.task_skew_max", if (skew.isEmpty) 1.0 else skew.max, "ratio"),
          metric("spark.codegen_max_method_bytes", Plans.codegenMaxMethodBytes.toDouble, "bytes"),
          metric("spark.shuffle_read_bytes", perPass(st.map(_.shuffleRead).sum.toDouble), "bytes"),
          metric("spark.shuffle_write_bytes", perPass(st.map(_.shuffleWrite).sum.toDouble), "bytes"),
          metric("spark.spill_bytes", perPass(st.map(_.spill).sum.toDouble), "bytes"),
          metric("spark.dup_scans", opSum(_.dupScans.toDouble), "count"),
          metric("spark.failed_tasks", st.map(_.failedTasks).sum.toDouble, "count")),
        families.map(f => metric(s"operators.${f}_s", opSum(r => if (r.family == f) r.seconds else 0.0), "s")),
        Seq(
          metric("streaming.Sessions_s", opSum(r => if (r.family == "Sessions") r.seconds else 0.0), "s"),
          metric("streaming.batches", perPass(trace.streamBatches.toDouble), "count"),
          metric("streaming.batch_p50_s", median(trace.streamBatchMillis.map(_ / 1000.0).toSeq), "s"),
          metric("sources.build_once_builds", buildOnceBuilds.toDouble, "count"),
          metric("sources.build_once_reuses", perPass(ops.count(_.buildOnce.contains(true)).toDouble),
            "count"),
          metric("jvm.gc_s", perPass(gc), "s"),
          metric("jvm.heap_peak_mb", heapPeakMb, "MB"),
          metric("failed_frac", failed.toDouble / attempted, "ratio"),
          metric("pass_s", median(untraced.map(_.seconds)), "s"),
          metric("op_p50_s", median(ops.map(_.seconds)), "s"),
          metric("op_tail_s", tailV, "s"),
          metric("peak_rss_mb", vmHwmMb, "MB"),
          metric("trace.overhead_s", overhead, "s"))).flatten
      trace.write(o.traceOut)
      val selfJson = self.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
      val summary = s"""{"workload":"${o.workload}","seed":${o.seed},"run":"${trace.runId}",""" +
        s""""traced_passes":${traced.size},"untraced_passes":${untraced.size},""" +
        s""""op_samples":${ops.size},"op_tail_percentile":${num(tailP)},""" +
        s""""traced_pass_s":${num(median(traced.map(_.seconds)))},""" +
        s""""untraced_pass_s":${num(median(untraced.map(_.seconds)))},""" +
        s""""traced_wall_s":${num(tracedS)},"self_s":$selfJson,"streaming_batches":${trace.streamBatches},""" +
        s""""sql_actions":${trace.actions},"machine":$machine,""" +
        s""""metrics":${layerMetrics.mkString("{", ",", "}")}}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(o.traceOut + ".summary.json"), summary + "\n")
      lines += s"""{"detail":$summary}"""
      layerMetrics.mkString("{", ",", "}")
    }

    o.record.foreach { path =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
        seen.map { case (k, d) => s"${o.workload}\t$k\t${d.render}\n" }.mkString)
    }
    spark.stop()
    failures.take(20).foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    lines.foreach(println)
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$metrics}""")
    System.out.flush()
    // engine thread pools may outlive the session; do not wait on them
    sys.exit(0)
  }

  /** Untimed passes before the timed ones. The first compiles every
    * query's generated code; after the second, the per-pass CPU is
    * within a few percent of where it settles. */
  val WarmPasses = 2

  /** A stage reading more rows than this on fewer tasks than cores is
    * counted as a low-parallelism stage. */
  val LowParallelRows = 10000L
}
