package perfbench

import org.apache.spark.SparkContext

/** Per-layer metrics of one traced pass, derived from the spans and the
  * listener records taken while it ran. Every metric is emitted on every
  * workload; a layer a workload bypasses reads 0. Self times are reported
  * as shares of the pass, so they compare across workloads. */
object Layers {

  val opsStages = Seq("quality", "exact", "minhash", "candidates", "clusters", "tfidf", "ann", "semdedup")
  val families = Seq("bm25", "agg", "versioned")
  val selfLayers = Seq("engine", "ops", "store", "stream", "spark", "harness")

  /** (name, unit, better) of every per-layer metric. */
  val declared: Seq[(String, String, String)] = Seq(
    ("engine.sql_s", "s", "lower"), ("engine.calls", "count", "lower"),
    ("catalyst.analysis_s", "s", "lower"), ("catalyst.optimize_s", "s", "lower"),
    ("catalyst.physical_s", "s", "lower"), ("catalyst.plan_nodes", "count", "lower"),
    ("catalyst.scans", "count", "lower"), ("catalyst.exchanges", "count", "lower"),
    ("exec.actions", "count", "lower"), ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"), ("exec.tasks", "count", "lower"),
    ("exec.task_s", "s", "lower"), ("exec.cpu_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"), ("exec.busy_frac", "frac", "higher"), ("exec.gap_s", "s", "lower"),
    ("shuffle.write_bytes", "B", "lower"), ("shuffle.read_bytes", "B", "lower"),
    ("shuffle.fetch_wait_s", "s", "lower"), ("spill.bytes", "B", "lower"), ("scan.bytes", "B", "lower"),
    ("scan.records", "count", "lower"), ("scan.files", "count", "lower"),
  ) ++ opsStages.map(s => (s"ops.${s}_s", "s", "lower")) ++ Seq(
    ("ops.lsh_pair_yield", "ratio", "higher"), ("ops.ann_recall_at10", "ratio", "higher"),
  ) ++ families.flatMap(f => Seq("trigger", "compact", "read").map(k =>
    (s"store.$f.${k}_s", "s", "lower"))) ++ Seq(
    ("store.bytes_written", "B", "lower"), ("store.files_created", "count", "lower"),
    ("store.files_live", "count", "lower"), ("store.bytes_live", "B", "lower"),
    ("store.write_amp", "B/B", "lower"), ("store.space_amp", "B/B", "lower"),
    ("store.replay_noops", "count", "higher"), ("store.fsck_findings", "count", "lower"),
    ("stream.triggers", "count", "lower"), ("stream.add_batch_s", "s", "lower"),
    ("stream.overhead_s", "s", "lower"), ("stream.planning_s", "s", "lower"),
    ("stream.wal_s", "s", "lower"), ("stream.get_batch_s", "s", "lower"),
    ("jvm.gc_s", "s", "lower"), ("jvm.blocks_held_mb", "MB", "lower"),
  ) ++ selfLayers.map(l => (s"self.${l}_frac", "frac", "lower")) ++ Seq(
    ("trace.overhead_frac", "frac", "lower"), ("trace.unattributed_jobs", "count", "lower"),
  )

  def collect(p: PassOut, wall: Double, tr: Tracer, jobs: Seq[JobRec],
              plan: PlanTotals, triggers: Seq[Trigger], gcMs: Long, slots: Int,
              sc: SparkContext): Unit = {
    val m = p.layer
    def put[N](k: String, v: N)(implicit n: Numeric[N]): Unit = m(k) = n.toDouble(v)

    val sql = tr.spans.filter(_.name == "graft.engine.GraftEngine.sql")
    put("engine.sql_s", sql.map(_.seconds).sum)
    put("engine.calls", sql.size)

    put("catalyst.analysis_s", plan.analysisMs / 1e3)
    put("catalyst.optimize_s", plan.optimizeMs / 1e3)
    put("catalyst.physical_s", plan.physicalMs / 1e3)
    put("catalyst.plan_nodes", plan.nodes)
    put("catalyst.scans", plan.scans)
    put("catalyst.exchanges", plan.exchanges)
    put("scan.files", plan.files)
    put("exec.actions", plan.actions)

    put("exec.jobs", jobs.size)
    put("exec.stages", jobs.map(_.stages).sum)
    put("exec.tasks", jobs.map(_.tasks).sum)
    put("exec.task_s", jobs.map(_.runMs).sum / 1e3)
    put("exec.cpu_s", jobs.map(_.cpuNs).sum / 1e9)
    put("exec.gc_s", jobs.map(_.gcMs).sum / 1e3)
    put("exec.busy_frac", jobs.map(_.runMs).sum / 1e3 / (wall * slots))
    put("exec.gap_s", wall - union(jobs.map(j => (j.start, if (j.end < 0) j.start else j.end))) / 1e3)
    put("shuffle.write_bytes", jobs.map(_.shW).sum)
    put("shuffle.read_bytes", jobs.map(_.shR).sum)
    put("shuffle.fetch_wait_s", jobs.map(_.fetchMs).sum / 1e3)
    put("spill.bytes", jobs.map(_.spill).sum)
    put("scan.bytes", jobs.map(_.inBytes).sum)
    put("scan.records", jobs.map(_.inRecs).sum)
    put("trace.unattributed_jobs", jobs.count(j => tr.owner(j.group).isEmpty && j.streamQuery.isEmpty))

    opsStages.foreach(s => put(s"ops.${s}_s", p.stages.getOrElse(s"ops.$s", 0.0)))
    for (f <- families; k <- Seq("trigger", "compact", "read"))
      put(s"store.$f.${k}_s", p.stages.getOrElse(s"store.$f.$k", 0.0))

    val live = triggers.filter(_.rows > 0)
    def phase(keys: String*): Double = live.map(t => keys.map(t.phases.getOrElse(_, 0L)).sum).sum / 1e3
    put("stream.triggers", live.size)
    put("stream.add_batch_s", phase("addBatch"))
    put("stream.overhead_s", phase("triggerExecution") - phase("addBatch"))
    put("stream.planning_s", phase("queryPlanning"))
    put("stream.wal_s", phase("walCommit", "commitOffsets"))
    put("stream.get_batch_s", phase("getBatch", "latestOffset"))

    put("jvm.gc_s", gcMs / 1e3)
    put("jvm.blocks_held_mb",
      sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0)

    // self time: a span's duration minus the part its children cover
    val childSum = tr.spans.groupBy(_.parent).map { case (k, v) => k -> v.map(_.seconds).sum }
    val self = tr.spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => s.seconds - childSum.getOrElse(s.id, 0.0)).sum }
    val covered = childSum.getOrElse(0, 0.0)
    selfLayers.foreach { l =>
      val v = if (l == "harness") wall - covered else self.getOrElse(l, 0.0)
      put(s"self.${l}_frac", v / wall)
    }
  }

  /** Total length of the union of [start, end] intervals. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }
}
