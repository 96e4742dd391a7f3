package graftbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark: one workload, one seed, one process.
  *
  *   graftbench.Main --workload ingest|corpus --seed N
  *     --seconds S --trace 0|1 --cores N --work DIR [--spans FILE]
  *
  * Phases: session start; SetupReps set-ups from the seed (the last one's
  * tables are used); one untimed warm-up pass; a fixed CPU calibration
  * loop; the timed phase, a closed loop of cycles on this one thread until
  * S seconds have passed; the correctness checks. With --trace 1 the timed
  * phase alternates untraced and traced cycles: the per-layer metrics come
  * from the traced ones and the tracing overhead from the pair.
  *
  * The gated end-to-end metrics count CPU time, not wall time: on a shared
  * host the wall time of the same run swung by 2x within minutes while the
  * process's CPU time moved far less. Set-up counts the whole process's CPU
  * (JIT included: warming is its job); the timed phase counts the process's
  * CPU less the JIT compiler threads' ([[Util.cpuMs]]), GC included. Wall
  * figures are printed beside them.
  *
  * The warehouse is a plain `file://` directory. Traced runs register
  * [[CountingFs]] as the `file` filesystem to count the calls made on it.
  *
  * Prints a human-readable report, then, as the last line, one JSON object
  * {correct, attempted, failed, metrics}.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val cores = a.getOrElse("cores", "4").toInt
    val work = new java.io.File(a("work")).getAbsoluteFile
    require(Set("ingest", "corpus")(workload), s"unknown workload $workload")

    val spark = session(cores, work, trace)
    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, seed, cores, work, tracer)
    val wl: Workload = workload match {
      case "ingest" => new Ingest(ctx)
      case "corpus" => new Corpus(ctx)
    }
    // set-up, timed in wall seconds and in process CPU seconds
    val sessionWall = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val sessionCpu = Util.processCpuMs() / 1000
    def phase(body: => Unit): (Double, Double) = {
      val c0 = Util.processCpuMs()
      val w = Util.time(body)._2
      (w, (Util.processCpuMs() - c0) / 1000)
    }
    val reps = (0 until SetupReps).map(r => phase(wl.setup(s"s$r")))
    val (warmWall, warmCpu) = phase(wl.warmup())
    val setupWall = sessionWall + Util.median(reps.map(_._1)) + warmWall
    val setupCpu = sessionCpu + Util.median(reps.map(_._2)) + warmCpu

    val calibMs = calibrate()
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    val jit = ManagementFactory.getCompilationMXBean
    val jit0 = jit.getTotalCompilationTime
    val jitCpu0 = Util.jitCpuMs()
    heapPools.foreach(_.resetPeakUsage())

    ctx.recording = true
    val cycles = mutable.ArrayBuffer[Cycle]()
    val t0 = tracer.nowMs
    val minCycles = if (trace) 2 else 1
    var c = 0
    while (c < minCycles || tracer.nowMs - t0 < seconds * 1000) {
      tracer.on = trace && c % 2 == 1
      ctx.cycle = c
      val (w0, c0, s0) = (tracer.nowMs, Util.cpuMs(), Util.cpuTicks())
      wl.cycle(c)
      cycles += Cycle(tracer.nowMs - w0, Util.cpuMs() - c0,
        Util.stealShare(s0, Util.cpuTicks()), tracer.on)
      c += 1
    }
    tracer.on = false
    val timedMs = tracer.nowMs - t0
    ctx.recording = false
    val gcMs = (gcBeans.map(_.getCollectionTime).sum - gc0).toDouble
    val jitMs = (jit.getTotalCompilationTime - jit0).toDouble
    val jitCpuMs = Util.jitCpuMs() - jitCpu0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    val ops = ctx.ops.toSeq
    val failed = ops.count(!_.ok)
    val checks = wl.verify() :+
      (("every operation succeeded", failed == 0, s"$failed of ${ops.size} failed"))
    val untraced = cycles.toSeq.filterNot(_.traced)
    val workOps = ops.filter(_.cls != "read")
    val workRows = workOps.filter(_.ok).map(_.rows).sum.toDouble

    def say(s: String): Unit = println(s"[bench] $s")
    def secs(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString(" ")
    say(s"workload=$workload seed=$seed trace=${if (trace) 1 else 0} cores=$cores " +
      s"nproc=${Runtime.getRuntime.availableProcessors} java=${System.getProperty("java.version")} " +
      f"heap_max_mb=${Runtime.getRuntime.maxMemory / 1048576.0}%.0f calib_ms=$calibMs%.3f")
    say(f"setup: session $sessionWall%.3f s wall / $sessionCpu%.3f s cpu, set-ups ${secs(reps.map(_._1))} s wall / " +
      f"${secs(reps.map(_._2))} s cpu, warm-up $warmWall%.3f s wall / $warmCpu%.3f s cpu")
    say(f"timed: ${cycles.size} cycles in ${timedMs / 1000}%.3f s; per cycle wall ${secs(cycles.map(_.wallMs / 1000).toSeq)} s, " +
      s"cpu ${secs(cycles.map(_.cpuMs / 1000).toSeq)} s, host steal ${secs(cycles.map(_.stealShare).toSeq)}, " +
      f"gc $gcMs%.0f ms, jit $jitMs%.0f ms ($jitCpuMs%.0f ms cpu)" +
      (if (trace) " (odd cycles traced)" else ""))
    say(f"wall: setup_wall_s = $setupWall%.3f, wall_s = ${Util.median(untraced.map(_.wallMs / 1000))}%.3f, " +
      f"rows_per_s = ${workRows / (timedMs / 1000)}%.1f, op_p50_ms = ${Util.median(ops.map(_.ms))}%.2f; " +
      f"work_cpu_p50_ms = ${Util.median(workOps.map(_.cpuMs))}%.2f")
    ops.groupBy(_.cls).toSeq.sortBy(_._1).foreach { case (cls, os) =>
      val ms = os.map(_.ms)
      say(f"${cls}_p50_ms = ${Util.pct(ms, 0.5)}%.2f ms (n=${os.size}), ${cls}_p75_ms = " +
        f"${Util.pct(ms, 0.75)}%.2f ms (${os.size - math.ceil(0.75 * os.size).toInt} samples beyond), " +
        f"cpu p50 ${Util.median(os.map(_.cpuMs))}%.2f ms")
    }
    ops.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, os) =>
      say(f"  op $n%-32s n=${os.size}%3d p50=${Util.median(os.map(_.ms))}%9.2f ms wall ${Util.median(os.map(_.cpuMs))}%9.2f ms cpu")
    }
    wl.extras().foreach { case (n, v, u) => say(f"$n = $v%.4f $u") }
    say(f"error_rate = ${failed.toDouble / math.max(1, ops.size)}%.4f ($failed of ${ops.size})")
    checks.foreach { case (n, ok, detail) =>
      say(s"${if (ok) "check PASS" else "CHECK FAILED"} $n: $detail")
    }
    val correct = checks.forall(_._2)
    if (!correct) System.err.println("[bench] CORRECTNESS CHECK FAILED — see the lines above")

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupCpu, "s"),
        ("cycle_cpu_s", Util.median(untraced.map(_.cpuMs / 1000)), "s"))
      else {
        val l = new Layers(ctx, wl, cycles.toSeq, calibMs, gcMs, jitMs, heapPeakMb)
        val layers = l.metrics()
        a.get("spans").foreach(f => writeSpans(ctx, new java.io.File(f)))
        l.breakdown().foreach(line => say(s"traced op $line"))
        layers.foreach { case (n, v, u) => say(f"layer $n%-40s $v%14.4f $u") }
        layers
      }
    val json = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    spark.stop()
    println(s"""{"correct": $correct, "attempted": ${ops.size}, "failed": $failed, "metrics": $json}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def session(cores: Int, work: java.io.File, trace: Boolean): SparkSession = {
    val local = (n: String) => new java.io.File(work, n).getAbsolutePath
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.sorting.enabled", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.maxFields", "300")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", local("tmp"))
      .config("spark.sql.warehouse.dir", local("spark-warehouse"))
      .config("spark.sql.streaming.checkpointLocation", local("ckpt"))
      .config("spark.sql.catalog.bench", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.bench.warehouse", s"file://${local("wh")}")
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
      .config(s"spark.hadoop.${CountingFs.RootKey}", local("wh"))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val fs = new org.apache.hadoop.fs.Path(s"file://${local("wh")}")
      .getFileSystem(s.sessionState.newHadoopConf())
    require(fs.isInstanceOf[CountingFs] == trace, s"warehouse filesystem is ${fs.getClass.getName}")
    s
  }

  /** A fixed pure-CPU loop; its median time tells machine drift apart
    * from a change in the program. */
  def calibrate(): Double = {
    var sink = 0.0
    val ts = (1 to 7).map { _ =>
      Util.time {
        var x = 0x9E3779B97F4A7C15L
        var d = 0.0
        var i = 0
        while (i < 20000000) {
          x = x * 6364136223846793005L + 1442695040888963407L
          d += (x >>> 11).toDouble * 1e-19
          i += 1
        }
        sink += d
      }._2 * 1000
    }
    if (sink == 42.0) println(sink)
    Util.median(ts)
  }

  private def writeSpans(ctx: Ctx, f: java.io.File): Unit = {
    f.getParentFile.mkdirs()
    val out = new java.io.PrintWriter(f, "UTF-8")
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    try {
      ctx.ops.filter(_.traced).foreach { o =>
        // the operation's own span carries its filesystem counter deltas
        val fs = o.fs.toSeq.sorted.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")
        ctx.tracer.tree(o.id).zipWithIndex.foreach { case ((s, parent), i) =>
          out.println(s"""{"op": ${o.id}, "span": $i, "parent": $parent, "name": ${q(s.name)}, """ +
            s""""layer": ${q(s.layer)}, "start_ms": ${num(s.startMs)}, "end_ms": ${num(s.endMs)}""" +
            (if (s.layer == "client") s""", "fs": $fs}""" else "}"))
        }
      }
    } finally out.close()
  }
}
