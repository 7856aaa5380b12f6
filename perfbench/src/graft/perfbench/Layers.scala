package graft.perfbench

import scala.jdk.CollectionConverters._

/** Per-layer figures of a traced run, per operation (means over the
  * traced operations unless the name says otherwise). Each layer is a
  * module of the program; every figure comes from the benchmark's own
  * spans and listeners. A layer a workload does not use reads 0. */
object Layers {

  def compute(ctx: Ctx, sessionS: Double, tracedOps: Seq[Double],
              untracedOpS: Double): Map[String, (Double, String)] = {
    val tr = ctx.tracer
    val rec = ctx.recorder
    val ops = tr.all.filter(_.name == "op")
    val n = ops.size.toDouble
    val inOps = ops.flatMap(tr.subtree)
    def named(p: String => Boolean) = inOps.filter(s => p(s.name))
    def figures(spans: Seq[Span]) = ExecFigures.of(rec, spans.flatMap(tr.subtree).map(_.id).toSet)
    def secs(spans: Seq[Span]) = spans.map(_.seconds).sum
    def med(k: String) = ctx.samples.get(k).map(v => Stats.median(v.toSeq)).getOrElse(0.0)

    val all = figures(ops)
    val opWall = secs(ops)
    val (hotTasks, hotCpu, hotSkew) = all.hotStage

    val construct = named(_ == "construct")
    val materialize = named(_ == "materialize")
    val constructS = secs(construct)
    val constructJobs = figures(construct).jobs.size

    val shards = named(_.startsWith("ingestShard:"))
    // sampled spans submit no jobs of their own: attribute by start time
    val shardJobs = rec.jobs.asScala.count { j =>
      val t = tr.toNs(j.startMs)
      shards.exists(s => t >= s.startNs && t <= s.endNs)
    }
    val finalizeS = secs(named(_ == "finalizePipeline"))
    val constructFig = figures(construct)

    val train = named(_ == "LoanPipeline.train")
    val trainFig = figures(train)

    val writeBytes =
      if (ctx.samples.contains("write_bytes")) med("write_bytes")
      else all.tasks.map(_.writeBytes).sum / n
    val inputBytes = Seq("corpus_bytes", "tables_bytes", "loan_bytes")
      .flatMap(ctx.inputs.get).headOption.map(_.toString.toDouble).getOrElse(0.0)

    Map(
      "session.start_s" -> (sessionS, "s"),
      "sources.read_bytes" -> (all.tasks.map(_.readBytes).sum / n, "bytes"),
      "sources.read_rows" -> (all.tasks.map(_.readRows).sum / n, "rows"),
      "sources.write_bytes" -> (writeBytes, "bytes"),
      "sources.files_written" -> (med("files_written"), "count"),
      "sources.write_amp" -> (if (inputBytes > 0) writeBytes / inputBytes else 0.0, "ratio"),
      "ops.construct_s" -> (constructS / n, "s"),
      "ops.construct_jobs" -> (constructJobs / n, "count"),
      "ops.construct_share" -> (
        if (constructS + secs(materialize) > 0) constructS / (constructS + secs(materialize))
        else 0.0, "ratio"),
      "curation.shard_ingest_s" -> (
        if (shards.isEmpty) 0.0 else Stats.median(shards.map(_.seconds)), "s"),
      "curation.finalize_s" -> (finalizeS / n, "s"),
      "curation.jobs_per_shard" -> (
        if (shards.isEmpty) 0.0 else shardJobs.toDouble / shards.size, "count"),
      "curation.single_task_job_share" -> (
        if (shards.isEmpty || constructFig.jobs.isEmpty) 0.0
        else constructFig.singleTaskJobs.toDouble / constructFig.jobs.size, "ratio"),
      "plans.catalyst_ms" -> (all.sqls.map(_.catalystMs).sum / n, "ms"),
      "plans.nodes" -> (med("plan_nodes"), "count"),
      "exec.s" -> (all.execSeconds / n, "s"),
      "exec.jobs" -> (all.jobs.size / n, "count"),
      "exec.stages" -> (all.stages / n, "count"),
      "exec.tasks" -> (all.tasks.size / n, "count"),
      "exec.sql_execs" -> (all.sqls.size / n, "count"),
      "exec.task_cpu_s" -> (all.taskCpuS / n, "s"),
      "exec.core_util" -> (if (opWall > 0) all.taskRunS / (opWall * Main.Cores) else 0.0, "ratio"),
      "exec.hot_stage_tasks" -> (hotTasks.toDouble, "count"),
      "exec.hot_stage_cpu_s" -> (hotCpu, "s"),
      "exec.hot_stage_skew" -> (hotSkew, "ratio"),
      "exec.shuffle_read_bytes" -> (all.tasks.map(_.shuffleRead).sum / n, "bytes"),
      "exec.shuffle_write_bytes" -> (all.tasks.map(_.shuffleWrite).sum / n, "bytes"),
      "exec.spill_bytes" -> (all.tasks.map(_.spill).sum / n, "bytes"),
      "exec.gc_s" -> (all.tasks.map(_.gcMs).sum / 1e3 / n, "s"),
      "exec.failed_tasks" -> (
        if (all.tasks.isEmpty) 0.0 else all.tasks.count(_.failed).toDouble / all.tasks.size,
        "ratio"),
      "functions.kernel_ns_per_doc" -> (med("kernel_ns_per_doc"), "ns"),
      "ml.fit_jobs" -> (trainFig.jobs.size / n, "count"),
      "ml.lr_iterations" -> (med("lr_iterations"), "count"),
      "ml.job_overhead_ms" -> (
        if (trainFig.jobs.isEmpty) 0.0
        else (secs(train) - trainFig.taskRunS / Main.Cores) * 1e3 / trainFig.jobs.size, "ms"),
      "ml.scorer_build_ms" -> (med("scorer_build_ms"), "ms"),
      "ml.score_alloc_bytes" -> (med("score_alloc_bytes"), "bytes"),
      "trace.overhead_share" -> (
        if (untracedOpS > 0) Stats.median(tracedOps) / untracedOpS - 1 else 0.0, "ratio"))
  }
}
