package graft.perfbench

import Main.Metric

/** Per-layer metrics of a traced run, from the spans the benchmark
  * recorded around its calls into each layer and the Spark counters
  * attributed to them. A layer a workload does not exercise reads 0.
  */
object Layers {

  val Names: Seq[String] = Seq("bench", "core", "stage", "runs", "pipeline", "index", "text", "queries")

  def metrics(env: Env): Seq[Metric] = {
    val v = new TraceView(env.tracer.spans, env.counters.jobs.values.toSeq)
    def s(us: Long): Double = us / 1e6
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def durs(name: String): Seq[Double] = v.named(name).map(x => s(x.durUs))
    def sec(name: String, xs: Seq[Double]) = Metric(name, med(xs), "s")
    def count(name: String, x: Double) = Metric(name, x, "count")

    // runs: the ledger commits after a build, and the runstatus
    // bookkeeping before the first output job starts
    val runsSpans = v.named("runs.commit") ++ v.named("runs.status_open")
    val pipelineJobs = v.named("pipeline.job")
    val outputsBuilt = math.max(pipelineJobs.size, 1).toDouble
    def perJob(f: JobRec => Long): Seq[Double] = pipelineJobs.map(x => v.jobsOf(x).map(f).sum.toDouble)
    val inputBytes = env.value("input_bytes").getOrElse(0.0)
    val bytesRead = med(perJob(_.bytesRead))

    val indexOps = v.named("index.append") ++ v.named("index.compact")
    val serves = v.named("text.serve")
    val resultRows = env.get("text.result_rows").sum

    val warmPasses = env.get(RegistryMix.WarmRequest).map(_.toLong).toSet
    def warm(q: String): Seq[Span] = v.named(s"queries.$q").filter(x => warmPasses(x.request))
    val queries = RegistryMix.Queries.flatMap { q =>
      Seq(sec(s"queries.${q}_s", env.get(s"queries.${q}_s")),
        count(s"queries.$q.stages", med(warm(q).map(x => v.jobsOf(x).map(_.stages).sum.toDouble))))
    }
    val queryDriverOnly = RegistryMix.Queries.map(q => med(warm(q).map(x => s(v.driverOnlyUs(x))))).sum

    val jobs = v.allJobs
    val steps = v.named("bench.step") ++ v.named("bench.build")
    val selfByLayer = v.spans.groupBy(_.layer).map { case (l, xs) => l -> xs.map(v.selfUs).sum }

    Seq(
      sec("core.list_s", durs("core.list")),
      count("core.inputs_listed", env.value("core.inputs_listed").getOrElse(0.0)),
      sec("runs.of_s", durs("runs.of")),
      count("runs.commits", med(env.get("runs.commits"))),
      count("runs.jobs_per_output", runsSpans.map(x => v.jobsOf(x).size).sum / outputsBuilt),
      Metric("runs.driver_only_s", runsSpans.map(x => s(v.driverOnlyUs(x))).sum / outputsBuilt, "s"),
      Metric("runs.bytes", env.value("runs.bytes").getOrElse(0.0), "bytes"),
      sec("stage.get_work_s", durs("stage.get_work")),
      sec("stage.process_outputs_s", durs("stage.process_outputs")),
      sec("stage.insert_runs_s", durs("stage.insert_runs")),
      count("stage.outputs_rebuilt", med(env.get("outputs_rebuilt"))),
      Metric("stage.rebuild_amplification", med(env.get("rebuild_amplification")), "ratio"),
      sec("pipeline.job_p50_s", durs("pipeline.job")),
      Metric("pipeline.job_max_s", (0.0 +: durs("pipeline.job")).max, "s"),
      Metric("pipeline.queue_wait_s", (0.0 +: env.get("pipeline.queue_wait_s")).max, "s"),
      Metric("pipeline.bytes_read", bytesRead, "bytes"),
      Metric("pipeline.read_amplification", if (inputBytes > 0) bytesRead / inputBytes else 0.0, "ratio"),
      Metric("pipeline.shuffle_bytes", med(perJob(_.shuffleBytes)), "bytes"),
      Metric("pipeline.spill_bytes", med(perJob(_.spillBytes)), "bytes"),
      sec("index.build_s", durs("index.build")),
      sec("index.append_s", durs("index.append")),
      sec("index.compact_s", durs("index.compact")),
      count("index.files", env.value("index.files").getOrElse(0.0)),
      Metric("index.bytes", env.value("index.bytes").getOrElse(0.0), "bytes"),
      sec("index.driver_only_s", indexOps.map(x => s(v.driverOnlyUs(x)))),
      sec("text.serve_s", durs("text.serve")),
      count("text.jobs_per_serve", med(serves.map(x => v.jobsOf(x).size.toDouble))),
      Metric("text.rows_read_per_result",
        if (resultRows > 0) serves.map(x => v.jobsOf(x).map(_.recordsRead).sum).sum / resultRows else 0.0,
        "ratio"),
      sec("text.driver_only_s", serves.map(x => s(v.driverOnlyUs(x))))
    ) ++ queries ++ Seq(
      Metric("queries.driver_only_s", queryDriverOnly, "s"),
      count("queries.leaked_rdds", env.get("leaked_rdds").sum / math.max(env.get("mix_pass_s").size + 1, 1)),
      count("spark.jobs", jobs.size),
      count("spark.stages", jobs.map(_.stages).sum),
      count("spark.tasks", jobs.map(_.tasks).sum),
      Metric("spark.task_s", jobs.map(_.taskUs).sum / 1e6, "s"),
      count("spark.failed_tasks", jobs.map(_.failedTasks).sum)
    ) ++ Names.map(l => Metric(s"$l.self_s", s(selfByLayer.getOrElse(l, 0L)), "s")) ++ Seq(
      Metric("trace.uncovered_s", steps.map(x => s(v.selfUs(x))).sum, "s"),
      Metric("trace.overhead_pct", env.overheadPct, "%"),
      count("trace.spans", v.spans.size))
  }
}
