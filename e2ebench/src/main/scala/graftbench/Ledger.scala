package graftbench

/** Per-layer numbers of one traced call, from its spans, the Spark jobs and
  * tasks the benchmark's listener saw, and the file scans of its queries.
  *
  * Scans of the call's own warehouse read written tables back (lineage,
  * summaries); all other scans read input (`sources`). The wall after the
  * last results write is the readback time. */
object LayerLedger {
  private val ResultTables = Set[Any]("results", EvalScore.DetailTable)

  def apply(w: Workload, out: java.nio.file.Path, call: Span, jobs: Vector[JobRec],
      stages: Map[Int, StageAgg], scans: Seq[Scan], tracer: Tracer, cores: Int): Map[String, Double] = {
    val spans = tracer.within(call.startNs, call.endNs)
    val writes = spans.filter(s => (s.name == "io.overwritePartitions" || s.name == "io.appendTable") &&
      ResultTables.contains(s.attrs.getOrElse("table", "")))
    val appends = writes.filter(_.name == "io.appendTable")
    val drains = spans.filter(_.name == "streaming.drain")
    val writeEnd = if (writes.isEmpty) call.startNs else writes.map(_.endNs).max

    // scans of the call's own warehouse read written tables back; the rest read input
    val wh = w.tablesDir(out).toUri.getPath.stripSuffix("/")
    val (readback, fileScans) = scans.partition(_.roots.forall(_.startsWith(wh)))
    val input = fileScans ++ drains.map(s =>
      Scan(Nil, s.attrs("scan_bytes").asInstanceOf[Long], s.attrs("scan_rows").asInstanceOf[Long]))
    val all = stages.values.toSeq
    def total(f: StageAgg => Long): Double = all.map(f).sum.toDouble
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

    val wall = call.seconds
    val runS = total(_.runMs) / 1e3
    // driver time outside every job: the union of job intervals, clipped to the call
    val covered = jobs.filter(_.endMs >= 0).map(j => (j.startNs max call.startNs, j.endNs min call.endNs))
      .sortBy(_._1).foldLeft((0L, call.startNs)) { case ((acc, reach), (s, e)) =>
        if (e <= reach) (acc, reach) else (acc + e - (s max reach), e)
      }._1
    val commit = writes.map { s =>
      val inside = jobs.filter(j => j.startNs >= s.startNs && j.startNs <= s.endNs)
      if (inside.isEmpty) 0.0 else (s.endNs - inside.map(_.endNs).max).max(0L) / 1e9
    }.sum
    val scanBytes = input.map(_.bytes).sum.toDouble
    val metricStage = if (w.name == "eval_score" && all.nonEmpty) Some(all.maxBy(_.runMs)) else None
    val busy = runS / (wall * cores)

    Map(
      "io.results_write_s" -> writes.map(_.seconds).sum,
      "io.commit_s" -> commit,
      "io.files_written" -> Workloads.dataFiles(w.tablesDir(out)).length.toDouble,
      "io.bytes_written" -> total(_.outBytes),
      "io.readback_bytes" -> readback.map(_.bytes).sum.toDouble,
      "io.readback_s" -> (if (writes.isEmpty) 0.0 else (call.endNs - writeEnd) / 1e9),
      "io.append_s" -> mean(appends.map(_.seconds)),
      "streaming.batch_s" -> mean(drains.map(_.seconds)),
      "streaming.batches" -> (if (drains.isEmpty) 0.0 else appends.length.toDouble),
      "sources.scan_bytes" -> scanBytes,
      "sources.scan_records" -> input.map(_.rows).sum.toDouble,
      "sources.input_passes" -> (if (w.inputBytes > 0) scanBytes / w.inputBytes else 0.0),
      "shuffle.write_bytes" -> total(_.shWriteBytes),
      "shuffle.read_bytes" -> total(_.shReadBytes),
      "shuffle.write_s" -> total(_.shWriteNs) / 1e9,
      "shuffle.fetch_wait_s" -> total(_.fetchWaitMs) / 1e3,
      "jobs.eval_tasks" -> metricStage.map(_.tasks.toDouble).getOrElse(0.0),
      "jobs.eval_busy_share" -> metricStage.map(_ => busy).getOrElse(0.0),
      "spark.jobs" -> jobs.length.toDouble,
      "spark.tasks" -> total(_.tasks.toLong),
      "spark.executor_run_s" -> runS,
      "spark.executor_cpu_s" -> total(_.cpuNs) / 1e9,
      "spark.gc_s" -> total(_.gcMs) / 1e3,
      "spark.busy_share" -> busy,
      "spark.driver_gap_s" -> (call.endNs - call.startNs - covered) / 1e9,
      "spark.job_wall_s" -> jobs.filter(_.endMs >= 0).map(j => (j.endMs - j.startMs) / 1e3).sum)
  }
}
