package graft

import graft.functions.GraftExtensions
import org.apache.spark.graftbridge.MasterBridge
import org.apache.spark.sql.SparkSession

/** The one session factory: every main, the test session and the
  * benchmark build their session here, so the oracle and the tests run
  * the configuration that is timed. [[confs]] is the engine's whole
  * conf list, and [[builder]] adds the extensions:
  *
  *  - shuffle partitions sized to the actual parallelism instead of
  *    the 200 default (AQE, on by Spark default, coalesces down, but
  *    the ceiling should reflect the cluster);
  *  - Tungsten page size derived from the master's task-thread count
  *    ([[tungstenPageSize]]; `local[N]` and `local[N, F]` give N,
  *    `local[*]` and any non-local master the JVM's available
  *    processors);
  *  - UTC session timezone (oracle/cross-engine parity) and no UI;
  *  - the shuffled-hash join strategy ([[confs]]);
  *  - the engine's custom Catalyst functions injected via
  *    [[GraftExtensions]] so `cosine_sim` & co. resolve in SQL.
  */
object GraftSession {

  /** Tungsten page size scaled to memory-per-TASK, not
    * memory-per-executor — the round-15 100×-at-default-heap find.
    * Spark's auto-computed page size tracks the heap (128 MB pages at
    * an 8 GiB local[32] heap), but a page is the GRANULARITY of
    * execution-memory accounting: every sorter/hash-map consumer
    * holds at least one page or dies, so at 256 MB-per-task (8 GiB /
    * 32 cores) the pool fits only ~36 live 128 MB pages while ~32
    * tasks × 3–6 consumers each need one — the q188/q206 100× power
    * iterations failed with UNABLE_TO_ACQUIRE_MEMORY (and G1's
    * GCLocker thrashed on the humongous long[] allocations) INSTEAD
    * of spilling, at any shuffle width. Sizing pages at
    * execPool / (cores × 12) — ~12 one-page consumers per concurrent
    * task before the pool is even half-committed — restores the
    * spill-not-die contract the memory model promises
    * ([[graft.ops.Graph]] scaladoc); floor 1 MiB, cap 64 MiB (Spark's
    * own ceiling), power-of-two. On a real cluster at ≥ 1 GiB/core
    * this computes the same 64 MiB Spark picks — the knob only moves
    * where memory-per-task is tight, exactly where it must. */
  def tungstenPageSize(heapBytes: Long = Runtime.getRuntime.maxMemory(),
                       cores: Int): Long = {
    val execPool = ((heapBytes - (300L << 20)) * 0.6).toLong max (64L << 20)
    val raw = execPool / (cores.toLong * 12L)
    val clamped = raw.max(1L << 20).min(64L << 20)
    java.lang.Long.highestOneBit(clamped)
  }

  /** Task threads the master runs: 1 for `local`, N for `local[N]` and
    * `local[N, F]`, the available processors for `local[*]` and any
    * non-local master. */
  def masterThreads(master: String): Int = {
    val n = MasterBridge.localThreads(master)
    if (n > 0) n else Runtime.getRuntime.availableProcessors
  }

  /** Every engine conf, for a session on `master` with
    * `shufflePartitions` shuffle partitions.
    *
    * The two join-strategy confs date from optimization round 19.
    * Sort-merge was the de-facto strategy for all non-broadcast joins;
    * the q188 final adaptive plan showed each PageRank iteration
    * re-SORTING the data-sized edge table for its SMJ even though the
    * exchange itself was reused (sorts sit above the reused exchange
    * and re-run per join). A shuffled-hash join does the same keyed
    * join with a per-partition hash build of the SMALLER side — no
    * sort of either side — and its memory bound (build-side bytes per
    * partition) is exactly the node-sized-state-per-task budget the
    * graph/dedup operators already provision for their aggregations.
    *
    * Both knobs are SCALE-ADAPTIVE rather than local-tuned (guide
    * §3.1/§9):
    *  - `preferSortMergeJoin=false` lets the static planner pick SHJ
    *    when its size conditions hold (stats-based, falls back to SMJ
    *    when the build side may not fit);
    *  - `adaptive.maxShuffledHashJoinLocalMapThreshold=64m` lets AQE
    *    rewrite a planned SMJ to SHJ at runtime when every
    *    post-shuffle build partition is measured ≤ 64 MB — the
    *    RUNTIME guard that keeps the choice correct at any corpus
    *    size (a 100 TB run whose build partitions exceed the bound
    *    keeps sort-merge exactly where it is needed).
    * 64 MB per partition matches the advisory shuffle-partition size
    * AQE already targets, so "build fits a partition" and "partition
    * is well-sized" are the same budget. */
  def confs(master: String, shufflePartitions: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.buffer.pageSize" ->
      tungstenPageSize(cores = masterThreads(master)).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" ->
      (64L << 20).toString)

  /** A builder with [[confs]] and [[GraftExtensions]] applied; a caller
    * chains any conf of its own (Faults' plugin, the test warehouse)
    * before `getOrCreate`. */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    confs(master, shufflePartitions).foldLeft(
      SparkSession.builder().master(master).appName("graft")) {
      case (b, (k, v)) => b.config(k, v)
    }.withExtensions(new GraftExtensions)

  /** Build (or attach to) a session. A session built here carries
    * [[GraftExtensions]], so every custom function resolves without
    * [[graft.functions.GraftFunctions.register]]. */
  def getOrCreate(master: String, shufflePartitions: Int): SparkSession =
    builder(master, shufflePartitions).getOrCreate()
}
