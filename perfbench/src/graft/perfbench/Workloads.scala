package graft.perfbench

import java.io.File

import scala.collection.mutable

import graft.SparkEntry
import graft.functions.GraftFunctions.{hashed_shingles, minhash_signature}
import graft.ml.LoanPipeline.LoanInput
import graft.ml.{LoanPipeline, LoanScorer}
import graft.plans.PlanGuard
import graft.sources.Tables
import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one run shares between set-up, the timed operations and the
  * checks. `work` is the run's own directory (the JVM's working
  * directory); every input and every file the program writes lands
  * under it. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: File,
                val tracer: Tracer) {
  val recorder: Recorder = tracer.recorder
  /** Input summary, reported with the run. */
  val inputs = mutable.LinkedHashMap[String, Any]()
  /** Headline figures of the timed operations, by name. */
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  def path(rel: String): String = new File(work, rel).getAbsolutePath

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += v

  def timed[T](name: String)(body: => T): (T, Double) = tracer.span(name) {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** Result of one output check; a failed check counts as a failed operation. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A registry result to compare against its DuckDB oracle: the dumped
  * parquet directory, the oracle SQL and the tables it reads. */
final case class OracleDump(query: String, dir: String, sql: String, tablesDir: String)

trait Workload {
  def name: String
  /** Timed operations per run at least, whatever `--seconds` says. */
  def minOps: Int = 1
  /** Generate the seeded inputs: part of set-up, repeated. */
  def generate(ctx: Ctx): Unit
  /** Run the operation's code paths once on a small input: part of set-up. */
  def warmUp(ctx: Ctx): Unit
  /** One timed operation; returns its headline seconds (`op_s`). */
  def op(ctx: Ctx): Double
  /** Output checks on the last operation, outside the timed region. */
  def check(ctx: Ctx): (Seq[Check], Seq[OracleDump])
  /** Traced runs only: layer measurements outside the operations. */
  def probeLayers(ctx: Ctx): Unit = ()
}

object Workloads {
  val all: Map[String, Workload] =
    Seq(LoanTrainScore, CurationIngest, NeardupPairs, RelationalScan)
      .map(w => w.name -> w).toMap

  /** Drop cached tables and persisted RDDs the last operation left. */
  def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
  }

  /** The shingle-hash and minhash kernels alone over the cached
    * corpus, median of three → `noop`. */
  def kernel(ctx: Ctx, tablesDir: String): Unit = {
    val docs = Tables.documents(ctx.spark, tablesDir).cache()
    val n = docs.count()
    val times = (1 to 3).map { _ =>
      ctx.timed("functions.minhash_signature")(ctx.noop(docs.select(
        minhash_signature(hashed_shingles(col("text"), 2), 16).as("sig"))))._2
    }
    docs.unpersist(true)
    ctx.sample("kernel_ns_per_doc", Stats.median(times) * 1e9 / n)
  }

  def dirBytes(f: File): (Long, Int) =
    if (f.isFile) (f.length, 1)
    else Option(f.listFiles).fold((0L, 0))(_.map(dirBytes)
      .foldLeft((0L, 0)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) })
}

/** Registry queries run as one operation: each is built (the call that
  * returns its DataFrame, with every eager job it runs) and then fully
  * written to the `noop` sink. */
abstract class RegistryWorkload extends Workload {
  def queries: Seq[String]
  /** The tables directory the queries read in the timed operations. */
  def tablesDir(ctx: Ctx): String
  protected val last = mutable.LinkedHashMap[String, DataFrame]()

  def runQuery(ctx: Ctx, q: String): Double = {
    val fn = SparkEntry.queries(q)
    val (_, s) = ctx.timed(q) {
      val (df, _) = ctx.timed("construct")(fn(ctx.spark, tablesDir(ctx)))
      ctx.timed("materialize")(ctx.noop(df))
      last(q) = df
    }
    ctx.sample(q, s)
    s
  }

  def op(ctx: Ctx): Double = {
    val s = queries.map(q => runQuery(ctx, q)).sum
    if (ctx.tracer.enabled)
      ctx.sample("plan_nodes", queries.map(q => PlanGuard.nodeCount(last(q))).sum)
    s
  }

  def check(ctx: Ctx): (Seq[Check], Seq[OracleDump]) = {
    val oracles = SparkEntry.oracleSql
    val dumps = queries.map { q =>
      val out = ctx.path(s"checks/$q")
      last(q).write.mode("overwrite").parquet(out)
      OracleDump(q, out, oracles(q), tablesDir(ctx))
    }
    (Nil, dumps)
  }
}

object LoanTrainScore extends Workload {
  val name = "loan_train_score"
  val Rows = 100000L
  val WarmRows = 20000L
  val Requests = 50000
  val CheckedRequests = 500

  private var table = ""
  private var requests: Array[LoanInput] = Array.empty
  private var lastBundle: LoanPipeline.LoanModelBundle = _
  private var lastScorer: LoanScorer = _

  /** Seeded single-row requests: a tenth trigger the rule override, a
    * tenth carry NaN in `rate_of_interest` and a tenth in `LTV` (the
    * two imputed fields a [[LoanInput]] can leave missing; the other
    * two are integers). */
  def makeRequests(seed: Long, n: Int): Array[LoanInput] = {
    val r = new java.util.SplittableRandom(seed)
    Array.fill(n) {
      val kind = r.nextInt(10)
      val base = LoanInput(6500 + 10000 * r.nextInt(2, 150), 2.75 + 3.0 * r.nextDouble(),
        8000 + 10000 * r.nextInt(6, 384), 60 * r.nextInt(0, 1302), r.nextInt(500, 901),
        2.81 + 108.24 * r.nextDouble())
      kind match {
        case 0 => base.copy(income = r.nextInt(0, 30000),
          loan_amount = r.nextInt(200001, 1506501), property_value = r.nextInt(68000, 100000))
        case 1 => base.copy(rate_of_interest = Double.NaN)
        case 2 => base.copy(LTV = Double.NaN)
        case _ => base
      }
    }
  }

  def generate(ctx: Ctx): Unit = {
    table = Inputs.writeLoan(ctx.spark, ctx.seed, Rows, ctx.path("inputs/loan"))
    requests = makeRequests(ctx.seed, Requests)
  }

  def warmUp(ctx: Ctx): Unit = {
    val warm = Inputs.writeLoan(ctx.spark, ctx.seed + 1, WarmRows, ctx.path("inputs/loan_warm"))
    val b = LoanPipeline.train(ctx.spark, warm, ctx.seed)
    val scorer = LoanScorer.fromModel(b.model)
    ctx.noop(LoanPipeline.scoreWithOverride(b.model, Tables.loan(ctx.spark, warm)))
    requests.foreach(scorer.decide)
  }

  def op(ctx: Ctx): Double = {
    val spark = ctx.spark
    val (bundle, fitS) = ctx.timed("LoanPipeline.train")(
      LoanPipeline.train(spark, table, ctx.seed))
    val (scorer, buildS) = ctx.timed("LoanScorer.fromModel")(LoanScorer.fromModel(bundle.model))
    val (scored, batchS) = ctx.timed("LoanPipeline.scoreWithOverride") {
      val (df, _) = ctx.timed("construct")(
        LoanPipeline.scoreWithOverride(bundle.model, Tables.loan(spark, table)))
      ctx.timed("materialize")(ctx.noop(df))
      df
    }
    if (ctx.tracer.enabled) ctx.sample("plan_nodes", PlanGuard.nodeCount(scored))
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val lat = new Array[Double](requests.length)
    val (_, _) = ctx.timed("LoanScorer.decide") {
      val a0 = mx.getThreadAllocatedBytes(tid)
      var i = 0
      while (i < requests.length) {
        val t0 = System.nanoTime()
        scorer.decide(requests(i))
        lat(i) = (System.nanoTime() - t0) / 1e3
        i += 1
      }
      ctx.sample("score_alloc_bytes", (mx.getThreadAllocatedBytes(tid) - a0).toDouble / requests.length)
    }
    ctx.sample("loan_fit_s", fitS)
    ctx.sample("scorer_build_ms", buildS * 1e3)
    ctx.sample("batch_score_rows_per_s", Rows / batchS)
    ctx.sample("score_p50_us", Stats.median(lat.toSeq))
    val (pct, tail) = Main.tailPercentile(lat.toSeq)
    ctx.sample("score_p99_us", tail)
    ctx.inputs("score_tail_percentile") = pct
    ctx.sample("lr_iterations", bundle.model.stages.collectFirst {
      case m: LogisticRegressionModel => m.summary.totalIterations.toDouble
    }.getOrElse(0.0))
    lastBundle = bundle
    lastScorer = scorer
    fitS
  }

  def check(ctx: Ctx): (Seq[Check], Seq[OracleDump]) = {
    val spark = ctx.spark
    val b = lastBundle
    val df = Tables.loan(spark, table)
    val nulls = df.agg(count(lit(1)), Tables.loanImputeCols.map(c =>
      count(when(col(c).isNull, lit(1)))): _*).head()
    ctx.inputs("loan_rows") = nulls.getLong(0)
    Tables.loanImputeCols.zipWithIndex.foreach { case (c, i) =>
      ctx.inputs(s"loan_nulls.$c") = nulls.getLong(i + 1)
    }
    ctx.inputs("loan_bytes") = Workloads.dirBytes(new File(table))._1
    // the split train() made, reproduced from its own fitted preprocessing
    val prep = b.model.stages(0).asInstanceOf[PipelineModel]
    val Array(tr, te) = prep.transform(df).randomSplit(Array(0.8, 0.2), ctx.seed)
    val (trN, teN) = (tr.count(), te.count())
    val counts = Check("loan.split_counts",
      b.trainCount == trN && b.testCount == teN && trN + teN == Rows,
      s"train ${b.trainCount} (expected $trN), test ${b.testCount} (expected $teN), rows $Rows")
    val floor = Inputs.generatorAuc(spark, table) - 0.01
    ctx.inputs("loan_auc_floor") = floor
    ctx.inputs("loan_auc") = b.auc
    ctx.inputs("loan_accuracy") = b.accuracy
    val auc = Check("loan.auc_floor", b.auc >= floor, f"auc ${b.auc}%.4f, floor $floor%.4f")
    val sample = makeRequests(ctx.seed ^ 0x5eedL, CheckedRequests)
    val rows = LoanPipeline.scoreInputs(spark, b.model, sample.toSeq)
      .select("loan_amount", "rate_of_interest", "property_value", "income",
        "Credit_Score", "LTV", "prediction_final", "decision").collect()
    def same(a: Double, b: Double) = a == b || (a.isNaN && b.isNaN)
    val mismatches = sample.zip(rows).count { case (in, r) =>
      val echoed = r.getInt(0) == in.loan_amount && same(r.getDouble(1), in.rate_of_interest) &&
        r.getInt(2) == in.property_value && r.getInt(3) == in.income &&
        r.getInt(4) == in.Credit_Score && same(r.getDouble(5), in.LTV)
      !echoed || lastScorer.decide(in) != ((r.getDouble(6), r.getString(7)))
    }
    val decide = Check("loan.decide_matches_pipeline",
      rows.length == sample.length && mismatches == 0,
      s"$mismatches of ${sample.length} requests differ")
    (Seq(counts, auc, decide), Nil)
  }
}

object CurationIngest extends RegistryWorkload {
  val name = "curation_ingest"
  val queries = Seq("q221_incremental_curation")
  /** q221 is a chain of about 100 short jobs, so CPU taken by other
    * tenants of the host moves one operation by up to 30%; the median
    * of two halves the effect of a burst. */
  override val minOps = 2
  val Docs = 5000L
  val WarmDocs = 400L
  /** Low duplication: 2% exact copies, so stage 1 has work but little. */
  val DupShare = 0.02

  def tablesDir(ctx: Ctx): String = ctx.path("inputs/corpus")

  /** q221 keeps its pipeline state under the working directory, in a
    * directory named after the tables directory. */
  def stateDir(ctx: Ctx): File = new File(ctx.work,
    "target/tmp/q221_pipeline_" + tablesDir(ctx).replaceAll("[^A-Za-z0-9.]", "_"))

  def generate(ctx: Ctx): Unit =
    Inputs.corpus(ctx.spark, ctx.seed, Docs, DupShare, 1, 0.0)
      .write.mode("overwrite").parquet(tablesDir(ctx) + "/documents.parquet")

  def warmUp(ctx: Ctx): Unit = {
    val warm = ctx.path("inputs/corpus_warm")
    Inputs.corpus(ctx.spark, ctx.seed + 1, WarmDocs, DupShare, 1, 0.0)
      .write.mode("overwrite").parquet(warm + "/documents.parquet")
    ctx.noop(SparkEntry.queries(queries.head)(ctx.spark, warm))
  }

  override def op(ctx: Ctx): Double = {
    val sampler = if (ctx.tracer.enabled) {
      val s = new CallSampler(Thread.currentThread(),
        new File(stateDir(ctx), "manifest"), 2)
      s.start(); Some(s)
    } else None
    val secs = try super.op(ctx) finally sampler.foreach { s =>
      val parent = ctx.tracer.all.reverse.find(_.name == "construct")
      s.finish().foreach { case (label, t0, t1) =>
        ctx.tracer.add(Span(s"${parent.map(_.id).getOrElse("")}/$label", label,
          parent.map(_.id).getOrElse(""), ctx.tracer.runId, t0, t1))
      }
    }
    val committed = graft.ops.CurationPipeline.committedShards(ctx.spark,
      graft.ops.CurationPipeline.Dirs(stateDir(ctx).getPath))
    if (committed != Set("s0", "s1", "s2"))
      throw new IllegalStateException(s"q221 committed shards $committed, expected s0, s1, s2")
    val (bytes, files) = Workloads.dirBytes(stateDir(ctx))
    ctx.sample("write_bytes", bytes.toDouble)
    ctx.sample("files_written", files.toDouble)
    secs
  }

  override def probeLayers(ctx: Ctx): Unit = Workloads.kernel(ctx, tablesDir(ctx))

  override def check(ctx: Ctx): (Seq[Check], Seq[OracleDump]) = {
    val (bytes, files) = Workloads.dirBytes(new File(tablesDir(ctx)))
    ctx.inputs("corpus_docs") = ctx.spark.read.parquet(tablesDir(ctx) + "/documents.parquet").count()
    ctx.inputs("corpus_bytes") = bytes
    ctx.inputs("corpus_files") = files
    super.check(ctx)
  }
}

object NeardupPairs extends RegistryWorkload {
  val name = "neardup_pairs"
  val queries = Seq("q203_containment_pairs", "q192_prefix_jaccard",
    "q149_minhash_pairs_md5", "q164_edit_distance_pairs", "q187_neardup_eval")
  val Docs = 1000L
  val DupShare = 0.2
  val Variants = 2
  val EditRate = 0.08
  val WarmDocs = 200L

  def tablesDir(ctx: Ctx): String = ctx.path("inputs/corpus")

  def generate(ctx: Ctx): Unit =
    Inputs.corpus(ctx.spark, ctx.seed, Docs, DupShare, Variants, EditRate)
      .write.mode("overwrite").parquet(tablesDir(ctx) + "/documents.parquet")

  def warmUp(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val warm = ctx.path("inputs/corpus_warm")
    Inputs.corpus(spark, ctx.seed + 1, WarmDocs, DupShare, Variants, EditRate)
      .write.mode("overwrite").parquet(warm + "/documents.parquet")
    queries.foreach(q => ctx.noop(SparkEntry.queries(q)(spark, warm)))
  }

  override def probeLayers(ctx: Ctx): Unit = Workloads.kernel(ctx, tablesDir(ctx))

  override def check(ctx: Ctx): (Seq[Check], Seq[OracleDump]) = {
    val docs = ctx.spark.read.parquet(tablesDir(ctx) + "/documents.parquet")
    ctx.inputs("corpus_docs") = docs.count()
    ctx.inputs("injected_neardup_pairs") = docs.filter(col("doc_id") >= Docs).count()
    ctx.inputs("corpus_bytes") = Workloads.dirBytes(new File(tablesDir(ctx)))._1
    ctx.inputs("bigram_pair_work") = Inputs.bigramPairWork(docs)
    super.check(ctx)
  }
}

object RelationalScan extends RegistryWorkload {
  val name = "relational_scan"
  val queries = Seq("q01_pricing_summary", "q04_large_join", "q07_window_topk",
    "q59_topk_custom_op", "q62_listagg", "q65_in_subquery", "q72_salted_join")
  val Copies = 4

  def tablesDir(ctx: Ctx): String = ctx.path("inputs/scaled")

  def generate(ctx: Ctx): Unit =
    Inputs.writeRelational(ctx.spark, ctx.seed, Inputs.Sf01, Copies,
      ctx.path("inputs/base"), tablesDir(ctx))

  def warmUp(ctx: Ctx): Unit =
    queries.foreach(q => ctx.noop(SparkEntry.queries(q)(ctx.spark, ctx.path("inputs/base"))))

  override def check(ctx: Ctx): (Seq[Check], Seq[OracleDump]) = {
    Seq("customer", "orders", "lineitem").foreach { t =>
      ctx.inputs(s"$t.rows") = Tables.table(ctx.spark, tablesDir(ctx), t).count()
    }
    ctx.inputs("copies") = Copies
    ctx.inputs("tables_bytes") = Workloads.dirBytes(new File(tablesDir(ctx)))._1
    super.check(ctx)
  }
}
