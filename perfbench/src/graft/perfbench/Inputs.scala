package graft.perfbench

import graft.ScaleBench
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, TimestampNTZType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Seeded input generators. Every value is a pure function of
  * (seed, row id, column salt) through `xxhash64`, so the same seed
  * writes the same tables whatever the partitioning. Generators write
  * only under the directory they are given. */
object Inputs {

  /** Uniform double in [0, 1) from the seed, the row's `id` and a salt. */
  def u(seed: Long, salt: Int, extra: Column*): Column = {
    val h = xxhash64((Seq(lit(seed), col("id"), lit(salt)) ++ extra): _*)
    shiftrightunsigned(h, 11).cast(DoubleType) / lit(9007199254740992.0)
  }

  /** Standard normal (Box-Muller over two salted uniforms). */
  def gauss(seed: Long, salt: Int): Column =
    sqrt(lit(-2.0) * log(u(seed, salt) + lit(1e-300))) *
      cos(lit(2 * math.Pi) * u(seed, salt + 1000))

  /** One of `values`, drawn with the given weights (need not sum to 1). */
  def pick(seed: Long, salt: Int, values: Seq[(String, Double)]): Column = {
    val total = values.map(_._2).sum
    val x = u(seed, salt)
    val cum = values.map(_._2 / total).scanLeft(0.0)(_ + _).tail
    val branches = values.map(_._1).zip(cum).init
    branches.foldLeft(when(lit(false), lit(null).cast("string"))) {
      case (w, (v, c)) => w.when(x < c, lit(v))
    }.otherwise(lit(values.last._1))
  }

  /** Null with probability `p`, else `c`. */
  def nullable(seed: Long, salt: Int, p: Double, c: Column): Column =
    when(u(seed, salt) >= p, c)

  private def uniform(seed: Long, salt: Int, lo: Double, hi: Double): Column =
    lit(lo) + u(seed, salt) * (hi - lo)

  // ---------------------------------------------------------------- loan

  /** Generator constants for the six model features: (mean, sd) of the
    * TRUE value, used to z-score inside the label's logistic function. */
  final case class Feature(name: String, mean: Double, sd: Double, beta: Double)

  val LoanFeatures: Seq[Feature] = Seq(
    Feature("loan_amount", 334000.0, 180000.0, 0.35),
    Feature("rate_of_interest", 4.02, 0.55, 0.80),
    Feature("property_value", 487000.0, 260000.0, -0.45),
    Feature("income", 6900.0, 4200.0, -0.60),
    Feature("Credit_Score", 700.0, 115.0, -0.40),
    Feature("LTV", 73.9, 16.0, 0.70))

  /** Intercept giving ≈ 26% positives (the reference's 259/999). */
  val LoanIntercept: Double = -1.25

  /** Per-column null probabilities from FIXTURES.md §1 (count / 999). */
  val LoanNullRates: Map[String, Double] = Map(
    "loan_limit" -> 24 / 999.0, "approv_in_adv" -> 5 / 999.0,
    "rate_of_interest" -> 257 / 999.0, "Interest_rate_spread" -> 259 / 999.0,
    "Upfront_charges" -> 288 / 999.0, "property_value" -> 101 / 999.0,
    "income" -> 76 / 999.0, "age" -> 2 / 999.0, "LTV" -> 101 / 999.0,
    "dtir1" -> 175 / 999.0)

  /** The loan table (the pinned 34-column [[Tables.loanSchema]]) as a
    * frame: domains, constants, null rates and the literal `NA` of
    * FIXTURES.md §1; `Status` is Bernoulli(sigmoid(intercept + Σ β·z))
    * over the six features' TRUE (pre-null) values. */
  def loanFrame(spark: SparkSession, seed: Long, rows: Long): DataFrame = {
    def clip(c: Column, lo: Double, hi: Double) = least(greatest(c, lit(lo)), lit(hi))
    val loan = (lit(6500) + lit(10000) *
      round(clip(exp(lit(3.35) + lit(0.55) * gauss(seed, 11)), 2, 150))).cast(IntegerType)
    val rate = round(clip(lit(4.02) + lit(0.55) * gauss(seed, 12), 2.75, 5.75), 3)
    val prop = (lit(8000) + lit(10000) *
      round(clip(exp(lit(3.75) + lit(0.5) * gauss(seed, 19)), 6, 384))).cast(IntegerType)
    val income = (lit(60) * round(clip(exp(lit(4.6) + lit(0.6) * gauss(seed, 24)), 0, 1302)))
      .cast(IntegerType)
    val score = (lit(500) + floor(u(seed, 26) * 401)).cast(IntegerType)
    val ltv = round(clip(lit(73.9) + lit(16.0) * gauss(seed, 30), 2.81, 111.05), 6)
    val truth = Map("loan_amount" -> loan, "rate_of_interest" -> rate,
      "property_value" -> prop, "income" -> income, "Credit_Score" -> score,
      "LTV" -> ltv)
    val logit = LoanFeatures.foldLeft(lit(LoanIntercept)) { (acc, f) =>
      acc + lit(f.beta) * (truth(f.name).cast(DoubleType) - lit(f.mean)) / lit(f.sd)
    }
    def nul(name: String, salt: Int, c: Column) = nullable(seed, salt, LoanNullRates(name), c)
    val cols: Seq[Column] = Seq(
      (lit(24890L) + col("id")).cast(IntegerType).as("ID"),
      lit(2019).as("year"),
      nul("loan_limit", 103, pick(seed, 3, Seq("cf" -> 0.93, "ncf" -> 0.07))).as("loan_limit"),
      pick(seed, 4, Seq("Male" -> 0.28, "Female" -> 0.19, "Joint" -> 0.28,
        "Sex Not Available" -> 0.25)).as("Gender"),
      nul("approv_in_adv", 105, pick(seed, 5, Seq("pre" -> 0.16, "nopre" -> 0.84))).as("approv_in_adv"),
      pick(seed, 6, Seq("type1" -> 0.76, "type2" -> 0.14, "type3" -> 0.10)).as("loan_type"),
      pick(seed, 7, Seq("p1" -> 0.23, "p2" -> 0.02, "p3" -> 0.38, "p4" -> 0.37)).as("loan_purpose"),
      pick(seed, 8, Seq("l1" -> 0.96, "l2" -> 0.04)).as("Credit_Worthiness"),
      pick(seed, 9, Seq("opc" -> 0.01, "nopc" -> 0.99)).as("open_credit"),
      pick(seed, 10, Seq("b/c" -> 0.14, "nob/c" -> 0.86)).as("business_or_commercial"),
      loan.as("loan_amount"),
      nul("rate_of_interest", 112, rate).as("rate_of_interest"),
      nul("Interest_rate_spread", 113,
        round(lit(0.44) + lit(0.5) * gauss(seed, 13), 4)).as("Interest_rate_spread"),
      nul("Upfront_charges", 114, round(uniform(seed, 14, 0.0, 6000.0), 2)).as("Upfront_charges"),
      when(u(seed, 15) < 0.83, lit(360)).otherwise(
        element_at(array(lit(96), lit(120), lit(180), lit(240), lit(300)),
          (floor(u(seed, 115) * 5) + 1).cast(IntegerType))).as("term"),
      pick(seed, 16, Seq("neg_amm" -> 0.1, "not_neg" -> 0.9)).as("Neg_ammortization"),
      pick(seed, 17, Seq("int_only" -> 0.05, "not_int" -> 0.95)).as("interest_only"),
      pick(seed, 18, Seq("lpsm" -> 0.02, "not_lpsm" -> 0.98)).as("lump_sum_payment"),
      nul("property_value", 119, prop).as("property_value"),
      lit("sb").as("construction_type"),
      pick(seed, 21, Seq("pr" -> 0.93, "sr" -> 0.02, "ir" -> 0.05)).as("occupancy_type"),
      lit("home").as("Secured_by"),
      pick(seed, 23, Seq("1U" -> 0.98, "2U" -> 0.01, "3U" -> 0.005, "4U" -> 0.005)).as("total_units"),
      nul("income", 124, income).as("income"),
      pick(seed, 25, Seq("EXP" -> 0.25, "EQUI" -> 0.10, "CRIF" -> 0.33, "CIB" -> 0.32)).as("credit_type"),
      score.as("Credit_Score"),
      pick(seed, 27, Seq("CIB" -> 0.5, "EXP" -> 0.5)).as("co-applicant_credit_type"),
      nul("age", 128, pick(seed, 28, Seq("<25" -> 0.01, "25-34" -> 0.13, "35-44" -> 0.22,
        "45-54" -> 0.24, "55-64" -> 0.22, "65-74" -> 0.14, ">74" -> 0.04))).as("age"),
      pick(seed, 29, Seq("to_inst" -> 0.64, "not_inst" -> 0.35, "NA" -> 0.01))
        .as("submission_of_application"),
      nul("LTV", 130, ltv).as("LTV"),
      pick(seed, 31, Seq("North" -> 0.5, "south" -> 0.43, "central" -> 0.06,
        "North-East" -> 0.01)).as("Region"),
      lit("direct").as("Security_Type"),
      when(u(seed, 33) < lit(1.0) / (lit(1.0) + exp(-logit)), lit(1)).otherwise(lit(0))
        .as("Status"),
      nul("dtir1", 134, (lit(5) + floor(u(seed, 34) * 57)).cast(IntegerType)).as("dtir1"))
    spark.range(0, rows, 1, 4).select(cols: _*)
  }

  /** Write the loan table as a headered CSV directory (nulls as empty
    * fields, the loader's convention) and return its path. */
  def writeLoan(spark: SparkSession, seed: Long, rows: Long, dir: String): String = {
    loanFrame(spark, seed, rows).write.mode("overwrite")
      .option("header", "true").csv(dir)
    dir
  }

  /** AUC of the generator's own logit over mean-imputed features: the
    * ceiling a linear model on the imputed features can be held to. */
  def generatorAuc(spark: SparkSession, path: String): Double = {
    val df = Tables.loan(spark, path)
    val means = df.agg(avg(col("rate_of_interest")), avg(col("property_value")),
      avg(col("income")), avg(col("LTV"))).head()
    val imputed = Map("rate_of_interest" -> means.getDouble(0),
      "property_value" -> means.getDouble(1), "income" -> means.getDouble(2),
      "LTV" -> means.getDouble(3))
    val logit = LoanFeatures.foldLeft(lit(LoanIntercept)) { (acc, f) =>
      val x = imputed.get(f.name).fold(col(f.name).cast(DoubleType))(m =>
        coalesce(col(f.name).cast(DoubleType), lit(m)))
      acc + lit(f.beta) * (x - lit(f.mean)) / lit(f.sd)
    }
    graft.ml.LoanPipeline.auc(df.select(logit.as("rawPrediction"),
      col(Tables.loanLabelCol).cast(DoubleType).as(Tables.loanLabelCol)))
  }

  // ------------------------------------------------------------- corpora

  /** The 30-word vocabulary of the testdata `documents` corpus. */
  val Vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  private val vocabSql = Vocab.map(w => s"'$w'").mkString("array(", ",", ")")

  /** Seeded documents corpus in the testdata `documents` schema: `n`
    * base documents (ids 0 until n) of 10–100 vocabulary tokens, plus,
    * for a seeded `dupShare` of them, `variants` copies (ids from n) with
    * each token replaced with probability `editRate` (0 = exact copies). */
  def corpus(spark: SparkSession, seed: Long, n: Long, dupShare: Double,
             variants: Int, editRate: Double): DataFrame = {
    val base = spark.range(0, n, 1, 4).select(
      col("id").as("doc_id"),
      expr(s"array_join(transform(sequence(1, 10 + cast(pmod(xxhash64(${seed}L, id, 1), 91) as int)), " +
        s"i -> element_at($vocabSql, 1 + cast(pmod(xxhash64(${seed}L, id, 2, i), 30) as int))), ' ')")
        .as("text"),
      pick(seed, 3, Seq("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15,
        "de" -> 0.14)).as("lang"),
      concat(lit("src"), (col("id") % 20).cast("string")).as("source"))
    val chosen = base.withColumn("id", col("doc_id"))
      .filter(u(seed, 4) < dupShare)
      .withColumn("v", explode(sequence(lit(1), lit(variants))))
    val variantDocs = chosen.select(
      (lit(n) + col("doc_id") * variants + col("v") - 1).as("doc_id"),
      expr(s"array_join(transform(split(text, ' '), (t, i) -> " +
        s"if(pmod(xxhash64(${seed}L, doc_id, v, i, 5), 1000000) < ${(editRate * 1e6).toLong}, " +
        s"element_at($vocabSql, 1 + cast(pmod(xxhash64(${seed}L, doc_id, v, i, 6), 30) as int)), t)), ' ')")
        .as("text"),
      col("lang"), col("source"))
    base.unionByName(variantDocs)
      .withColumn("n_chars", length(col("text")).cast(LongType))
  }

  /** Σ over word-bigram posting lists of (list length)² — the pair work
    * every inverted-index candidate generator pays. */
  def bigramPairWork(docs: DataFrame): Long =
    docs.select(col("doc_id"), expr("transform(sequence(1, size(split(text, ' ')) - 1), " +
        "i -> concat(split(text, ' ')[i - 1], ' ', split(text, ' ')[i]))").as("g"))
      .select(col("doc_id"), explode(array_distinct(col("g"))).as("g"))
      .groupBy("g").count()
      .agg(sum(col("count") * col("count"))).head().getLong(0)

  // ---------------------------------------------------------- relational

  /** Base-table row counts (the testdata sf0.1 shapes). */
  final case class Shape(customer: Long, supplier: Long, part: Long,
                         orders: Long, lineitem: Long, events: Long,
                         documents: Long, embeddings: Long)

  val Sf01: Shape = Shape(15000, 1000, 20000, 150000, 600000, 10000, 500, 200)

  private def ntz(daysFrom1995: Column, secs: Column = lit(0L)): Column =
    timestamp_seconds(lit(788918400L) + daysFrom1995.cast(LongType) * 86400L + secs)
      .cast(TimestampNTZType)

  /** The ten testdata tables at `shape`, in the testdata schemas, each
    * written in a seed-permuted row order to `dir/<table>.parquet`. */
  def writeTables(spark: SparkSession, seed: Long, shape: Shape, dir: String): Unit = {
    def r(n: Long) = spark.range(0, n, 1, 4)
    def money(salt: Int, lo: Double, hi: Double) = round(uniform(seed, salt, lo, hi), 2)
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").map(_ -> 1.0)
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> r(5).select(col("id").cast(IntegerType).as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          (col("id") + 1).cast(IntegerType)).as("r_name")),
      "nation" -> r(25).select(col("id").cast(IntegerType).as("n_nationkey"),
        concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
        (col("id") % 5).cast(IntegerType).as("n_regionkey")),
      "customer" -> r(shape.customer).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        floor(u(seed, 41) * 25).cast(IntegerType).as("c_nationkey"),
        money(42, -999.99, 9999.99).as("c_acctbal"),
        pick(seed, 43, segs).as("c_mktsegment")),
      "supplier" -> r(shape.supplier).select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        floor(u(seed, 51) * 25).cast(IntegerType).as("s_nationkey"),
        money(52, -999.99, 9999.99).as("s_acctbal")),
      "part" -> r(shape.part).select(col("id").as("p_partkey"),
        concat_ws(" ", pick(seed, 61, Seq("large", "hot", "blue", "small", "green").map(_ -> 1.0)),
          pick(seed, 62, Seq("ring", "bolt", "nut", "gear", "pipe").map(_ -> 1.0))).as("p_name"),
        concat(lit("Brand#"), (floor(u(seed, 63) * 25) + 1).cast("string")).as("p_brand"),
        pick(seed, 64, Seq("LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO").map(_ -> 1.0)).as("p_type"),
        (floor(u(seed, 65) * 50) + 1).cast(IntegerType).as("p_size"),
        round(lit(900.0) + (col("id") % 1000) * 0.1, 2).as("p_retailprice")),
      "orders" -> r(shape.orders).select(col("id").as("o_orderkey"),
        floor(u(seed, 71) * shape.customer).cast(LongType).as("o_custkey"),
        pick(seed, 72, Seq("O" -> 0.49, "F" -> 0.49, "P" -> 0.02)).as("o_orderstatus"),
        money(73, 1000.0, 500000.0).as("o_totalprice"),
        ntz(floor(u(seed, 74) * 2404)).as("o_orderdate"),
        pick(seed, 75, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
          .map(_ -> 1.0)).as("o_orderpriority")),
      "lineitem" -> r(shape.lineitem).select(
        floor(u(seed, 81) * shape.orders).cast(LongType).as("l_orderkey"),
        floor(u(seed, 82) * shape.part).cast(LongType).as("l_partkey"),
        floor(u(seed, 83) * shape.supplier).cast(LongType).as("l_suppkey"),
        (floor(u(seed, 84) * 7) + 1).cast(IntegerType).as("l_linenumber"),
        (floor(u(seed, 85) * 50) + 1).cast(DoubleType).as("l_quantity"),
        money(86, 900.0, 105000.0).as("l_extendedprice"),
        (floor(u(seed, 87) * 11) / 100).as("l_discount"),
        (floor(u(seed, 88) * 9) / 100).as("l_tax"),
        pick(seed, 89, Seq("N" -> 0.5, "A" -> 0.25, "R" -> 0.25)).as("l_returnflag"),
        pick(seed, 90, Seq("O" -> 0.5, "F" -> 0.5)).as("l_linestatus"),
        ntz(floor(u(seed, 91) * 2499) + 1).as("l_shipdate")),
      "events" -> r(shape.events).select(col("id").as("event_id"),
        ntz(lit(3287), floor(u(seed, 101) * 2592000).cast(LongType)).as("ts"),
        floor(u(seed, 102) * 1500).cast(LongType).as("user_id"),
        pick(seed, 103, Seq("signup", "click", "error", "view", "purchase").map(_ -> 1.0))
          .as("event_type"),
        money(104, 0.0, 200.0).as("value"),
        format_string("{\"k\": %d}", floor(u(seed, 105) * 100).cast(LongType)).as("props")),
      "documents" -> corpus(spark, seed, shape.documents, 0.0, 1, 0.0),
      "embeddings" -> r(shape.embeddings).select(col("id").as("vec_id"),
        expr(s"transform(sequence(1, 64), i -> cast((pmod(xxhash64(${seed}L, id, i, 111), 2000) - 1000) / 1000.0 as float))")
          .as("embedding"),
        floor(u(seed, 112) * 10).cast(IntegerType).as("label")))
    tables.foreach { case (name, df) =>
      df.withColumn("__perm", xxhash64((lit(seed) +: df.columns.toSeq.map(col)): _*))
        .repartition(4).sortWithinPartitions("__perm").drop("__perm")
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
  }

  /** The relational inputs: base tables re-keyed ×`copies` through the
    * public [[ScaleBench.materialize]]. */
  def writeRelational(spark: SparkSession, seed: Long, shape: Shape,
                      copies: Int, baseDir: String, outDir: String): Unit = {
    writeTables(spark, seed, shape, baseDir)
    ScaleBench.materialize(spark, baseDir, outDir, copies)
  }
}
