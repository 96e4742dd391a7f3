package graftbench

/** Per-layer metrics of a traced run, from the traced cycles' operations:
  * listener counts and phases, filesystem counters, spans, and the probes
  * each workload runs after its timed phase. A metric whose layer a
  * workload does not reach reads 0.
  */
final class Layers(ctx: Ctx, wl: Workload, cycles: Seq[Cycle],
                   calibMs: Double, gcMs: Double, jitMs: Double, heapPeakMb: Double) {

  /** Per operation name, over the traced cycles: latency, filesystem calls
    * by kind and path category, and task counts. */
  def breakdown(): Seq[String] = {
    val tr = ctx.tracer
    ctx.ops.toSeq.filter(o => o.traced && o.ok).groupBy(_.name).toSeq.sortBy(_._1).map { case (name, os) =>
      def fs(kind: String) = CountingFs.Categories.map { c =>
        os.map(_.fs.getOrElse(s"$kind.$c", 0L)).sum.toDouble / os.size
      }.map(v => f"$v%.1f").mkString("/")
      val ts = os.map(o => tr.ops.getOrElse(o.id, new OpTrace))
      f"$name%-28s n=${os.size} p50=${Util.median(os.map(_.ms))}%.0f ms; per op: create ${fs("create")}, " +
        s"link ${fs("link")}, rename ${fs("rename")}, delete ${fs("delete")}, open ${fs("open")}, " +
        s"stat ${fs("stat")} (data/manifest/marker/tmp/other); " +
        f"jobs ${ts.map(_.jobs).sum.toDouble / os.size}%.1f, tasks ${ts.map(_.tasks).sum.toDouble / os.size}%.1f, " +
        f"empty tasks ${ts.map(_.emptyTasks).sum.toDouble / os.size}%.1f"
    }
  }

  def metrics(): Seq[(String, Double, String)] = {
    val tr = ctx.tracer
    val ops = ctx.ops.filter(o => o.traced && o.ok).toSeq
    val traces = ops.map(o => o -> tr.ops.getOrElse(o.id, new OpTrace))
    val commits = ops.filter(_.cls == "commit")
    val reads = ops.filter(_.cls == "read")
    def per(os: Seq[OpRec], total: Double): Double = if (os.isEmpty) 0.0 else total / os.size
    def perOp(f: OpTrace => Double): Double = per(ops, traces.map(x => f(x._2)).sum)
    def fs(os: Seq[OpRec], kind: String, cats: Seq[String] = CountingFs.Categories): Double =
      os.map(o => cats.map(c => o.fs.getOrElse(s"$kind.$c", 0L)).sum).sum.toDouble
    def stageMs(name: String): Double = Util.median(ops.filter(_.name == name).map(_.ms)) match {
      case x if x.isNaN => 0.0
      case x => x
    }
    def spanMs(name: String): Double = {
      val withSpan = ops.map(o => tr.tree(o.id).collect { case (s, _) if s.name == name => s.ms }.sum)
        .filter(_ > 0)
      if (withSpan.isEmpty) 0.0 else withSpan.sum / withSpan.size
    }
    val tasks = traces.map(_._2.tasks).sum
    val walls = ops.map(_.ms).sum
    val driverGap = ops.map { o =>
      val jobs = tr.jobSpans(o.id).map(s => (math.max(s.startMs, o.startMs), math.min(s.endMs, o.endMs)))
        .filter(x => x._2 > x._1)
      o.ms - tr.covered(jobs)
    }.sum
    val readRows = reads.map(_.rows).sum
    val scanned = traces.filter(_._1.cls == "read").map(_._2.rowsScanned).sum
    val pruningReads = reads.filter(o => ctx.liveFiles.contains(o.id))
    val liveRead = pruningReads.map(o => ctx.liveFiles(o.id)).sum
    val progress = tr.streamProgress.toSeq
    def streamMs(key: String): Double =
      if (progress.isEmpty) 0.0 else Util.median(progress.map(_.getOrElse(key, 0L).toDouble))
    val selfTimes = ops.map(o => tr.selfTimes(o.id))
    def selfMs(layer: String): Double = per(ops, selfTimes.map(_.getOrElse(layer, 0.0)).sum)
    val traced = cycles.filter(_.traced).map(_.cpuMs)
    val untraced = cycles.filterNot(_.traced).map(_.cpuMs)
    val steal = cycles.map(_.stealShare).filterNot(_.isNaN)
    val probes = wl.layerProbes()

    Seq(
      ("driver.analysis_ms", perOp(_.analysisMs), "ms"),
      ("driver.optimization_ms", perOp(_.optimizationMs), "ms"),
      ("driver.planning_ms", perOp(_.planningMs), "ms"),
      ("driver.plans_per_op", perOp(_.plans.toDouble), "count"),
      ("sources.fs_create_per_commit", per(commits, fs(commits, "create")), "count"),
      ("sources.fs_link_per_commit", per(commits, fs(commits, "link")), "count"),
      ("sources.fs_rename_per_commit", per(commits, fs(commits, "rename")), "count"),
      ("sources.fs_delete_per_commit", per(commits, fs(commits, "delete")), "count"),
      ("sources.fs_open_per_commit", per(commits, fs(commits, "open")), "count"),
      ("sources.fs_stat_per_commit", per(commits, fs(commits, "stat")), "count"),
      ("sources.fs_list_per_commit", per(commits, fs(commits, "list")), "count"),
      ("sources.fs_ms_per_commit", per(commits, fs(commits, "nanos", Seq("all")) / 1e6), "ms"),
      ("sources.files_added_per_commit", per(commits, fs(commits, "create", Seq("data"))), "count"),
      ("sources.bytes_written_per_commit", per(commits, fs(commits, "bytes")), "B"),
      ("sources.files_opened_per_read", per(reads, fs(reads, "open", Seq("data"))), "count"),
      ("sources.files_pruned_share",
        if (liveRead == 0) 0.0 else 1.0 - fs(pruningReads, "open", Seq("data")) / liveRead, "ratio"),
      ("sources.manifest_opens_per_read", per(reads, fs(reads, "open", Seq("manifest"))), "count"),
      ("sources.manifest_stats_per_read", per(reads, fs(reads, "stat", Seq("manifest"))), "count"),
      ("sources.rows_scanned_per_row_returned", if (readRows == 0) 0.0 else scanned.toDouble / readRows, "ratio"),
      ("sources.commits", wl.historyTables.map { t =>
        ctx.sql(s"SELECT count(*) FROM graft_history('${ctx.Cat}', '$t')").collect().head.getLong(0)
      }.sum.toDouble, "count"),
      ("sources.commit_retries", fs(ops, "lost_link", Seq("all")), "count"),
      ("exec.jobs_per_op", perOp(_.jobs.toDouble), "count"),
      ("exec.stages_per_op", perOp(_.stages.toDouble), "count"),
      ("exec.tasks_per_op", perOp(_.tasks.toDouble), "count"),
      ("exec.empty_task_share", if (tasks == 0) 0.0 else traces.map(_._2.emptyTasks).sum.toDouble / tasks, "ratio"),
      ("exec.core_busy_share", if (walls == 0) 0.0 else traces.map(_._2.taskMs).sum / (walls * ctx.cores), "ratio"),
      ("exec.driver_gap_ms", per(ops, driverGap), "ms"),
      ("exec.shuffle_write_bytes", perOp(_.shuffleWriteBytes.toDouble), "B"),
      ("exec.shuffle_read_bytes", perOp(_.shuffleReadBytes.toDouble), "B"),
      ("exec.spill_bytes", perOp(_.spillBytes.toDouble), "B"),
      ("operators.minhash_lsh_ms", stageMs("Dedup.minhashLshPairs"), "ms"),
      ("operators.prefix_jaccard_ms", stageMs("Dedup.prefixJaccardPairs"), "ms"),
      ("operators.ivf_train_ms", stageMs("IvfIndex.lloydTrain"), "ms"),
      ("operators.ivf_assign_ms", stageMs("IvfIndex.assign"), "ms"),
      ("operators.ann_search_ms", stageMs("IVF top-10 search"), "ms"),
      ("operators.lsh_candidate_yield", probes.getOrElse("operators.lsh_candidate_yield", 0.0), "ratio"),
      ("operators.batch_enrich_ms", spanMs("BatchEnrich.enrichCounted"), "ms"),
      ("operators.enrich_failed_chunks", probes.getOrElse("operators.enrich_failed_chunks", 0.0), "count"),
      ("functions.etl_chain_ms", probes.getOrElse("functions.etl_chain_ms", 0.0), "ms"),
      ("functions.quality_ms", stageMs("quality columns"), "ms"),
      ("streaming.trigger_ms", streamMs("triggerExecution"), "ms"),
      ("streaming.add_batch_ms", streamMs("addBatch"), "ms"),
      ("streaming.query_planning_ms", streamMs("queryPlanning"), "ms"),
      ("streaming.wal_commit_ms", streamMs("walCommit"), "ms"),
      ("client.self_ms_per_op", selfMs("client"), "ms"),
      ("driver.self_ms_per_op", selfMs("driver"), "ms"),
      ("sources.self_ms_per_op", selfMs("sources"), "ms"),
      ("exec.self_ms_per_op", selfMs("exec"), "ms"),
      ("operators.self_ms_per_op", selfMs("operators"), "ms"),
      ("functions.self_ms_per_op", selfMs("functions"), "ms"),
      ("streaming.self_ms_per_op", selfMs("streaming"), "ms"),
      ("env.calib_ms", calibMs, "ms"),
      ("env.gc_ms", gcMs, "ms"),
      ("env.jit_ms", jitMs, "ms"),
      ("env.heap_peak_mb", heapPeakMb, "MB"),
      ("env.steal_share", if (steal.isEmpty) 0.0 else steal.sum / steal.size, "ratio"),
      ("env.trace_overhead_share",
        if (traced.isEmpty || untraced.isEmpty) 0.0 else Util.median(traced) / Util.median(untraced) - 1, "ratio"))
  }
}
