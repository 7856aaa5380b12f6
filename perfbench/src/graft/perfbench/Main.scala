package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.GraftSession
import graft.functions.GraftFunctions

/** One benchmark run in one JVM: set up (session, function
  * registration, seeded inputs, warm-up), run the workload's operation
  * in a closed loop for the given seconds, check the outputs, and write
  * the result as JSON to `--out`. The JVM's working directory is the
  * run's own scratch directory.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <file>
  */
object Main {
  val Cores = 4
  /** Input generation is repeated this many times per run and its
    * median enters `setup_s`; the warm-up runs once. */
  val GenerateReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.all.getOrElse(a("workload"),
      throw new IllegalArgumentException(s"unknown workload ${a("workload")}; " +
        s"known: ${Workloads.all.keys.toSeq.sorted.mkString(", ")}"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val out = new File(a("out"))
    val work = new File(".").getAbsoluteFile.getParentFile

    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$Cores]", Cores).getOrCreate()
    GraftFunctions.register(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("WARN")
    val recorder = new Recorder
    spark.sparkContext.addSparkListener(recorder)
    spark.listenerManager.register(recorder)
    val ctx = new Ctx(spark, seed, work, new Tracer(spark, recorder, s"${wl.name}-$seed"))

    def timed(body: => Unit): Double = {
      val p0 = System.nanoTime()
      body
      Workloads.hygiene(spark)
      (System.nanoTime() - p0) / 1e9
    }
    val generateS = (1 to GenerateReps).map(_ => timed(wl.generate(ctx)))
    val warmUpS = timed(wl.warmUp(ctx))
    val setupS = sessionS + Stats.median(generateS) + warmUpS

    var attempted = 0
    var failed = 0
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    /** Closed loop: operations back to back until `budget` seconds
      * pass and at least `min` operations ran. */
    def loop(budget: Double, min: Int): Seq[Double] = {
      val times = scala.collection.mutable.ArrayBuffer[Double]()
      val start = System.nanoTime()
      do {
        Workloads.hygiene(spark)
        val jobsBefore = recorder.jobCount.get()
        attempted += 1
        try {
          times += ctx.tracer.span("op")(wl.op(ctx))
          if (recorder.jobCount.get() == jobsBefore)
            throw new IllegalStateException("operation ran no Spark job")
        } catch {
          case e: Exception =>
            failed += 1
            errors += s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        }
      } while (((System.nanoTime() - start) / 1e9 < budget || times.size < min) && failed == 0)
      times.toSeq
    }

    recorder.peakTaskMem.set(0)
    val untracedOps = loop(if (traced) seconds / 2 else seconds, wl.minOps)
    val peakMb = recorder.peakTaskMem.get() / 1048576.0
    val tracedOps = if (traced) {
      Workloads.hygiene(spark)
      recorder.clear()
      recorder.detailed = true
      ctx.samples.clear()
      try loop(seconds / 2, 1) finally recorder.detailed = false
    } else Nil
    if (traced) wl.probeLayers(ctx)

    val (checks, dumps) =
      if (failed == 0) wl.check(ctx)
      else (Nil, Nil)
    attempted += checks.size
    failed += checks.count(!_.ok)

    val opS = if (untracedOps.nonEmpty) Stats.median(untracedOps) else 0.0
    val endToEnd = Map(
      "setup_s" -> (setupS, "s"),
      "op_s" -> (opS, "s"),
      "peak_task_mem_mb" -> (peakMb, "MiB"))
    val perLayer =
      if (traced && tracedOps.nonEmpty)
        Layers.compute(ctx, sessionS, tracedOps, opS)
      else Map.empty[String, (Double, String)]

    val medians = ctx.samples.map { case (k, v) => k -> Stats.median(v.toSeq) }
    val headline = wl.name match {
      case "loan_train_score" => Seq("loan_fit_s", "batch_score_rows_per_s",
        "score_p50_us", "score_p99_us").flatMap(k => medians.get(k).map(k -> _))
      case "curation_ingest" => Seq("curation_s" -> opS)
      case "neardup_pairs" => Seq("neardup_s" -> opS)
      case _ => Seq("relational_s" -> opS)
    }
    val detail = Map(
      "workload" -> wl.name, "seed" -> seed, "seconds" -> seconds,
      "ops" -> untracedOps.size, "op_s_all" -> untracedOps,
      "op_s_traced_all" -> tracedOps,
      "setup" -> Map("session_start_s" -> sessionS, "generate_s_all" -> generateS,
        "warm_up_s" -> warmUpS),
      "metrics" -> (headline.toMap ++ Map("setup_s" -> setupS,
        "peak_task_mem_mb" -> peakMb,
        "fail_ratio" -> failed.toDouble / math.max(attempted, 1))),
      "medians" -> medians.toMap,
      "inputs" -> ctx.inputs.toMap,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "errors" -> errors.toSeq,
      "confs" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap)
    val result = Map(
      "attempted" -> attempted, "failed" -> failed,
      "end_to_end" -> endToEnd.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> perLayer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "dumps" -> dumps.map(d => Map("query" -> d.query, "dir" -> d.dir, "sql" -> d.sql,
        "tables_dir" -> d.tablesDir)),
      "detail" -> detail,
      "spans" -> ctx.tracer.all.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "run_id" -> s.runId, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "self_s" -> ctx.tracer.selfSeconds(s))))
    Files.write(out.toPath, Json(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** The highest of p99.99 / p99.9 / p99 with at least ten samples
    * beyond it (p99 when none is supported), and its value. */
  def tailPercentile(xs: Seq[Double]): (Double, Double) = {
    val p = Seq(99.99, 99.9, 99.0).find(p => xs.size * (100 - p) / 100 >= 10).getOrElse(99.0)
    (p, Stats.quantile(xs, p / 100))
  }

  /** Minimal JSON rendering of maps, sequences, strings and numbers. */
  def Json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => Json(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
        case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => Json(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => Json(k.toString) + ":" + Json(x) }.mkString("{", ",", "}")
    case m: java.util.Map[_, _] => Json(m.asScala)
    case xs: Iterable[_] => xs.map(Json).mkString("[", ",", "]")
    case other => Json(other.toString)
  }
}
