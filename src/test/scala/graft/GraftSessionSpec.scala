package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.internal.SQLConf

import scala.jdk.CollectionConverters._

class GraftSessionSpec extends SparkSpec {

  test("GraftSession configures AQE/skew/UTC and resolves custom SQL functions") {
    assert(spark.sql("SELECT cosine_sim(array(3.0d, 0.0d), array(7.0d, 0.0d))")
      .collect()(0).getDouble(0) === 1.0)
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") === "true")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
  }

  test("every registered custom function resolves in SQL") {
    val r = spark.sql(
      """SELECT
        |  tokens_in_set('the cat the', array('the')) AS t,
        |  ngrams_in_set('the cat', array('the', 'cat')) AS n,
        |  size(minhash_signature(hashed_shingles('a b c', 2), 8)) AS m,
        |  size(hashed_shingles('a b c d', 2)) AS h
        |""".stripMargin).collect()(0)
    assert(r.getInt(0) === 2)
    assert(r.getInt(1) === 2)
    assert(r.getInt(2) === 8)
    assert(r.getInt(3) === 3)
    // the aggregate registers too
    import spark.implicits._
    val agg = Seq(1L, 2L, 3L).toDF("v")
    agg.createOrReplaceTempView("rs_v")
    assert(spark.sql("SELECT size(reservoir_sample(v, 2)) FROM rs_v")
      .collect()(0).getInt(0) === 2)
  }

  test("conf list: page size follows the master's thread count, " +
      "shuffle partitions pass through") {
    val cores = Runtime.getRuntime.availableProcessors
    val cases = Seq(
      // (master, task threads, shuffle partitions)
      ("local[4]", 4, 4),
      ("local[32]", 32, 32),
      ("local[8, 4]", 8, 16),
      ("local[*]", cores, 3))
    for ((master, threads, partitions) <- cases) {
      assert(GraftSession.masterThreads(master) === threads, master)
      val confs = GraftSession.confs(master, partitions).toMap
      assert(confs("spark.buffer.pageSize") ===
        GraftSession.tungstenPageSize(cores = threads).toString, master)
      assert(confs("spark.sql.shuffle.partitions") === partitions.toString,
        master)
    }
  }

  test("the test session runs the conf list of local[4] with 4 partitions") {
    GraftSession.confs("local[4]", 4).foreach { case (k, v) =>
      assert(spark.conf.get(k) === v, k)
    }
  }

  test("confs left at Spark's defaults keep their default values") {
    val confs = GraftSession.confs("local[4]", 4).toMap
    Seq("spark.sql.adaptive.enabled", "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.files.maxPartitionBytes")
      .foreach(k => assert(!confs.contains(k), k))
    val sql = spark.sessionState.conf
    assert(sql.adaptiveExecutionEnabled)
    assert(sql.getConf(SQLConf.SKEW_JOIN_ENABLED))
    assert(sql.filesMaxPartitionBytes === 134217728L)
  }

  test("sessions are built only in GraftSession.scala") {
    val builderCall = """SparkSession\s*\.\s*builder""".r
    val allowed = Paths.get("src/main/scala/graft/GraftSession.scala")
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found"))
    val offenders = roots.flatMap { root =>
      val files = Files.walk(root)
      try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filter { p: Path =>
      p != allowed && builderCall.findFirstIn(Files.readString(p)).nonEmpty
    }
    assert(offenders.isEmpty,
      s"build sessions through GraftSession, not in: ${offenders.mkString(", ")}")
  }
}
