package graft.perfbench

/** Per-layer numbers of one traced pass: each layer is a module of the
  * engine, and an op's jobs, stages and tasks count towards its owner.
  */
object Layers {
  /** The seven per-layer metrics, in the order they are reported. */
  val perLayer: Seq[String] =
    Seq("build_s", "run_s", "driver_s", "build_jobs", "run_jobs", "single_task_stages", "busy_core_s")

  /** Pass-level metrics under the `Exec` prefix. */
  val execMetrics: Seq[String] = Seq("shuffle_mb", "spill_mb", "replication", "task_skew")

  /** `cores`: stages with at least this many tasks count for `task_skew`. */
  def of(pass: PassRun, t: Tracer, cores: Int): Map[String, Double] = {
    val jobs = t.jobsOf(pass.index)
    val stages = t.stagesOf(pass.index)
    val moduleOf = pass.ops.map(r => r.op.name -> r.op.module).toMap
    val layer = Workloads.layerNames.flatMap { l =>
      val ok = pass.ops.filter(r => r.op.module == l && r.ok)
      val lj = jobs.filter(j => moduleOf.get(j.op).contains(l))
      val ls = stages.filter { case (j, _) => moduleOf.get(j.op).contains(l) }.map(_._2)
      val driverMs = ok.map { r =>
        val iv = lj.filter(j => j.op == r.op.name && j.phase == "build").map(j => (j.start, j.end))
        r.buildEnd - r.buildStart - Tracer.covered(iv, r.buildStart, r.buildEnd)
      }.sum
      Seq(
        "build_s" -> ok.map(_.buildS).sum,
        "run_s" -> ok.map(_.runS).sum,
        "driver_s" -> driverMs / 1e3,
        "build_jobs" -> lj.count(_.phase == "build").toDouble,
        "run_jobs" -> lj.count(_.phase == "run").toDouble,
        "single_task_stages" -> ls.count(_.numTasks == 1).toDouble,
        "busy_core_s" -> ls.map(_.runMs).sum / 1e3
      ).map { case (k, v) => s"$l.$k" -> v }
    }
    val all = stages.map(_._2)
    val input = all.map(_.inputRecords).sum
    val skews = all.filter(_.taskMs.size >= cores).map { s =>
      val d = s.taskMs.sorted
      d.last.toDouble / math.max(1L, d(d.size / 2))
    }
    (layer ++ Seq(
      "Exec.shuffle_mb" -> all.map(_.shuffleWriteBytes).sum / 1e6,
      "Exec.spill_mb" -> all.map(_.diskSpill).sum / 1e6,
      "Exec.replication" -> (if (input > 0) all.map(_.shuffleWriteRecords).sum.toDouble / input else 0.0),
      "Exec.task_skew" -> (if (skews.isEmpty) 0.0 else skews.max)
    )).toMap
  }

  /** Whole-pass counts, compared across traced runs for repeatability. */
  def counts(pass: PassRun, t: Tracer): Map[String, Double] = {
    val stages = t.stagesOf(pass.index).map(_._2)
    Map(
      "jobs" -> t.jobsOf(pass.index).size.toDouble,
      "stages" -> stages.size.toDouble,
      "single_task_stages" -> stages.count(_.numTasks == 1).toDouble,
      "tasks" -> stages.map(_.numTasks).sum.toDouble,
      "shuffle_mb" -> stages.map(_.shuffleWriteBytes).sum / 1e6)
  }

  /** Spans of one traced pass: pass → op → phase → job → stage. */
  def spans(workload: String, pass: PassRun, t: Tracer): Seq[Map[String, Any]] = {
    val passId = s"p${pass.index}"
    val passSpan = Map("id" -> passId, "parent" -> workload, "kind" -> "pass",
      "name" -> pass.kind, "start" -> pass.start, "end" -> pass.end)
    val opSpans = pass.ops.flatMap { r =>
      val opId = s"$passId/${r.op.name}"
      Seq(
        Map("id" -> opId, "parent" -> passId, "kind" -> "op", "name" -> r.op.name,
          "module" -> r.op.module, "start" -> r.buildStart, "end" -> r.runEnd,
          "rows" -> r.rows, "error" -> r.error),
        Map("id" -> s"$opId/build", "parent" -> opId, "kind" -> "phase", "name" -> "build",
          "start" -> r.buildStart, "end" -> r.buildEnd),
        Map("id" -> s"$opId/run", "parent" -> opId, "kind" -> "phase", "name" -> "run",
          "start" -> r.buildEnd, "end" -> r.runEnd))
    }
    val jobSpans = t.jobsOf(pass.index).map { j =>
      Map("id" -> s"job${j.id}", "parent" -> s"$passId/${j.op}/${j.phase}", "kind" -> "job",
        "name" -> s"job ${j.id}", "start" -> j.start, "end" -> j.end)
    }
    val stageSpans = t.stagesOf(pass.index).map { case (j, s) =>
      Map("id" -> s"stage${s.id}", "parent" -> s"job${j.id}", "kind" -> "stage",
        "name" -> s"stage ${s.id}", "start" -> s.submit, "end" -> s.complete,
        "tasks" -> s.numTasks, "run_ms" -> s.runMs, "shuffle_write_bytes" -> s.shuffleWriteBytes,
        "shuffle_write_records" -> s.shuffleWriteRecords, "input_records" -> s.inputRecords,
        "disk_spill_bytes" -> s.diskSpill)
    }
    passSpan +: (opSpans ++ jobSpans ++ stageSpans)
  }
}
