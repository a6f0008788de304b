package graftbench

/** Per-layer figures of a traced run, each per traced round. Every name
  * is reported on every workload; a layer a workload never calls reads 0.
  * trace.overhead_s is added by run.py, which knows the untraced runs. */
object Layers {
  val SpanSeconds = Seq("engine.Detector.detect", "engine.Profiler.profileScalars",
    "engine.Profiler.profileCategorical", "text.TextProfiler.profile",
    "engine.SyntheticPipeline.writeCsv", "ops.Dedup.minhashCandidates")
  val WithJobs = Seq("engine.SyntheticPipeline.profileTable", "engine.SyntheticPipeline.generate",
    "engine.SyntheticPipeline.validate", "ops.Curation.curate", "ops.Dedup.lshJaccardDedup",
    "ops.Dedup.dedupCorpus")
  val Ivf = Seq("build", "append", "applyChanges", "search", "driftReport", "compact",
    "rebuild").map(f => s"ops.IvfIndex.$f")
  val WorkloadNames = Seq("ops.Dedup.candidate_pairs", "ops.Dedup.verified_pairs",
    "ops.Dedup.useful_ratio", "streaming.triggerExecution_ms", "streaming.addBatch_ms",
    "streaming.queryPlanning_ms", "streaming.walCommit_ms", "streaming.commitOffsets_ms",
    "streaming.latestOffset_ms", "streaming.triggers_per_feed", "streaming.state_rows",
    "streaming.state_memory_bytes", "ops.IvfIndex.files_written", "ops.IvfIndex.bytes_written")

  def compute(run: Run, wl: Workload, rounds: Seq[Main.Round],
              gcS: Double, jitS: Double): Map[String, Double] = {
    val tr = run.tracer
    val c = run.counters
    val traced = rounds.count(_.traced)
    val per = math.max(1, traced).toDouble
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    def byName(name: String) = tr.spans.filter(s => s.name == name && s.endNs >= 0)
    def seconds(name: String) = byName(name).map(_.seconds).sum / per
    def jobsOf(name: String) = byName(name).toSeq.flatMap(s => c.forSpans(tr.subtree(s.id))._1)

    WithJobs.foreach { n =>
      out(s"$n.s") = seconds(n)
      out(s"$n.jobs") = jobsOf(n).size / per
    }
    SpanSeconds.foreach(n => out(s"$n.s") = seconds(n))
    Ivf.foreach { n =>
      out(s"$n.s") = seconds(n)
      out(s"$n.jobs") = jobsOf(n).size / per
      out(s"$n.outside_jobs_s") = byName(n).map { s =>
        val js = c.forSpans(tr.subtree(s.id))._1
        s.seconds - c.jobBusySeconds(js, s.startMs, s.endMs)
      }.sum / per
    }
    val figures = wl.layerFigures(rounds.indices.filter(rounds(_).traced).toSet)
    WorkloadNames.foreach(n => out(n) = figures.getOrElse(n, 0.0))

    // Spark counters of the traced rounds: jobs under a round span, plus
    // the streaming query's jobs, which run on the query's own thread
    // (no span) while a traced round is open
    val roundSpans = wl.roundSpans.map(tr.spans(_)).toSeq
    val inRounds = roundSpans.flatMap(s => tr.subtree(s.id)).toSet
    val unspanned = c.forSpans(Set(-1))._1
      .filter(j => roundSpans.exists(s => j.startMs >= s.startMs && j.startMs <= s.endMs))
    val (spanJobs, _, _) = c.forSpans(inRounds)
    val jobIds = (spanJobs ++ unspanned).map(_.id).toSet
    val (_, nStages, agg) = c.forJobs(jobIds)
    out("spark.jobs") = jobIds.size / per
    out("spark.stages") = nStages / per
    out("spark.tasks") = agg.tasks / per
    out("spark.shuffle_write_bytes") = agg.shuffleWrite / per
    out("spark.shuffle_read_bytes") = agg.shuffleRead / per
    out("spark.spill_bytes") = agg.spill / per
    out("spark.input_bytes") = agg.input / per
    out("spark.executor_cpu_s") = agg.cpuNs / 1e9 / per
    out("spark.executor_run_s") = agg.runMs / 1e3 / per
    out("spark.task_gc_s") = agg.gcMs / 1e3 / per
    out("jvm.gc_s") = gcS / per
    out("jvm.jit_compile_s") = jitS / per
    out("jvm.code_cache_mb") = run.codeCacheMb()
    out.toMap
  }
}
