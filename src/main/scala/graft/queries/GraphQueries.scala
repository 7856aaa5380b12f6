package graft.queries

import graft.QueryDef
import graft.ops.Graph
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Round-10 block: graph centrality — the engine's second
  * graph-analytics family next to the connected-components closure
  * (q103/q108/q129). Link-graph centrality is a standard corpus
  * quality prior (host-level PageRank over a web crawl); here the
  * graph is the co-purchase bipartite graph (customer —bought from—
  * supplier, distinct pairs from orders⋈lineitem), the natural
  * data-sized graph the benchmark tables define.
  *
  * The whole power iteration is fixed-point integer arithmetic
  * ([[Graph.pageRankFp]]), so the DuckDB oracle replays every step in
  * a recursive CTE and the final ranks hash-compare exactly — the
  * seeded-KMeans verification discipline applied to a graph loop.
  * Oracle notes (learned on q173's family, re-learned here):
  * correlated per-element LEFT JOINs inside the recursive member are
  * re-evaluated PER LIST ELEMENT by DuckDB's de-correlation (30 s
  * where the single-aggregate shape runs in 0.2 s), and MATERIALIZED
  * CTEs referenced from a recursive member re-materialize per
  * iteration — both shapes are avoided; the symmetrized edge list
  * guarantees every node has in-edges, so the oracle's inner-join
  * iteration body covers the full node set (the Spark side keeps the
  * general left join).
  */
object GraphQueries {

  /** Supplier node-id offset: above any scalebench-shifted key
    * (copies ≤ 100 shift by copy·2^33 < 2^40). */
  private val Off = 1L << 41
  private val Iters = 5

  /** Co-purchase PageRank: top-10 customers and top-10 suppliers by
    * fixed-point rank. Two shuffles per iteration (edges⋈ranks on the
    * pre-partitioned src; contribution sum with map-side partials);
    * the top-10-per-kind filter rides the WindowGroupLimit rewrite
    * (rank ≤ k pushes a per-task top-k, no full sort). */
  val q188CopurchasePagerank = QueryDef(
    "q188_copurchase_pagerank",
    s"""WITH RECURSIVE e0 AS (
       |  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |), edges AS (
       |  SELECT cust AS src, supp + $Off AS dst FROM e0
       |  UNION ALL
       |  SELECT supp + $Off AS src, cust AS dst FROM e0
       |), deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
       |           FROM edges GROUP BY src),
       |consts AS (SELECT 1000000000000 // CAST(count(*) AS BIGINT) AS init,
       |       3000000000000 // (20 * CAST(count(*) AS BIGINT)) AS base
       |       FROM deg),
       |pr(i, rs) AS (
       |  SELECT 0, (SELECT list({'node': src, 'r': consts.init} ORDER BY src)
       |             FROM deg, consts)
       |  UNION ALL
       |  SELECT i + 1,
       |    (SELECT list({'node': ct.node, 'r': consts.base + ct.s}
       |            ORDER BY ct.node)
       |     FROM (SELECT e.dst AS node, SUM((17 * y.r) // (20 * dg.d)) AS s
       |           FROM (SELECT unnest(rs) AS y)
       |           JOIN edges e ON e.src = y.node
       |           JOIN deg dg ON dg.src = e.src
       |           GROUP BY e.dst) ct, consts)
       |  FROM pr WHERE i < $Iters)
       |SELECT kind, node_key, rank_fp, degree, rnk FROM (
       |  SELECT CASE WHEN x.node >= $Off THEN 'supp' ELSE 'cust' END AS kind,
       |         CASE WHEN x.node >= $Off THEN x.node - $Off ELSE x.node END
       |           AS node_key,
       |         x.r AS rank_fp, dg.d AS degree,
       |         CAST(ROW_NUMBER() OVER (
       |           PARTITION BY (x.node >= $Off)
       |           ORDER BY x.r DESC, x.node) AS INT) AS rnk
       |  FROM (SELECT unnest(rs) AS x FROM pr WHERE i = $Iters)
       |  JOIN deg dg ON dg.src = x.node
       |) WHERE rnk <= 10
       |ORDER BY kind, rnk""".stripMargin) { (s, d) =>
    val pairs = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
    val edges = pairs.select(col("cust").as("src"), (col("supp") + Off).as("dst"))
      .unionByName(pairs.select((col("supp") + Off).as("src"), col("cust").as("dst")))
    val pr = Graph.pageRankFp(edges, "src", "dst", iters = Iters)
    val w = Window.partitionBy("kind").orderBy(col("rank_fp").desc, col("node"))
    pr.select(
        when(col("node") >= Off, lit("supp")).otherwise(lit("cust")).as("kind"),
        when(col("node") >= Off, col("node") - Off).otherwise(col("node")).as("node_key"),
        col("rank_fp"), col("degree"), col("node"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 10)
      .select("kind", "node_key", "rank_fp", "degree", "rnk")
      .orderBy("kind", "rnk")
  }

  /** Personalized PageRank from a curated customer seed set
    * ([[Graph.personalizedPageRankFp]]) — trust propagation: walks
    * restart at every 50th customer, so rank concentrates in the
    * seeds' co-purchase neighborhoods instead of measuring global
    * centrality (q188). Same integer fixed-point arithmetic, same
    * recursive-CTE replay — the only oracle changes are the
    * seed-indicator init and teleport term (LEFT-JOIN shaped, the
    * de-correlation-safe form q188's scaladoc mandates). */
  val q197PersonalizedPagerank = QueryDef(
    "q197_personalized_pagerank",
    s"""WITH RECURSIVE e0 AS (
       |  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |), edges AS (
       |  SELECT cust AS src, supp + $Off AS dst FROM e0
       |  UNION ALL
       |  SELECT supp + $Off AS src, cust AS dst FROM e0
       |), deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
       |           FROM edges GROUP BY src),
       |seeds AS (SELECT DISTINCT cust AS node FROM e0 WHERE cust % 50 = 0),
       |consts AS (SELECT 1000000000000 // CAST(count(*) AS BIGINT) AS init,
       |       3000000000000 // (20 * CAST(count(*) AS BIGINT)) AS base
       |       FROM seeds),
       |pr(i, rs) AS (
       |  SELECT 0, (SELECT list({'node': deg.src,
       |               'r': CASE WHEN sd.node IS NULL THEN 0
       |                    ELSE consts.init END} ORDER BY deg.src)
       |             FROM deg LEFT JOIN seeds sd ON sd.node = deg.src, consts)
       |  UNION ALL
       |  SELECT i + 1,
       |    (SELECT list({'node': ct.node,
       |             'r': (CASE WHEN sd.node IS NULL THEN 0
       |                   ELSE consts.base END) + ct.s} ORDER BY ct.node)
       |     FROM (SELECT e.dst AS node, SUM((17 * y.r) // (20 * dg.d)) AS s
       |           FROM (SELECT unnest(rs) AS y)
       |           JOIN edges e ON e.src = y.node
       |           JOIN deg dg ON dg.src = e.src
       |           GROUP BY e.dst) ct
       |     LEFT JOIN seeds sd ON sd.node = ct.node, consts)
       |  FROM pr WHERE i < $Iters)
       |SELECT kind, node_key, rank_fp, degree, is_seed, rnk FROM (
       |  SELECT CASE WHEN x.node >= $Off THEN 'supp' ELSE 'cust' END AS kind,
       |         CASE WHEN x.node >= $Off THEN x.node - $Off ELSE x.node END
       |           AS node_key,
       |         x.r AS rank_fp, dg.d AS degree,
       |         CASE WHEN sd.node IS NULL THEN 0 ELSE 1 END AS is_seed,
       |         CAST(ROW_NUMBER() OVER (
       |           PARTITION BY (x.node >= $Off)
       |           ORDER BY x.r DESC, x.node) AS INT) AS rnk
       |  FROM (SELECT unnest(rs) AS x FROM pr WHERE i = $Iters)
       |  JOIN deg dg ON dg.src = x.node
       |  LEFT JOIN seeds sd ON sd.node = x.node
       |) WHERE rnk <= 10
       |ORDER BY kind, rnk""".stripMargin) { (s, d) =>
    val pairs = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
    val edges = pairs.select(col("cust").as("src"), (col("supp") + Off).as("dst"))
      .unionByName(pairs.select((col("supp") + Off).as("src"), col("cust").as("dst")))
    val seeds = Tables.customer(s, d)
      .filter(col("c_custkey") % 50 === 0)
      .select(col("c_custkey").as("node"))
    val pr = Graph.personalizedPageRankFp(edges, "src", "dst",
      seeds, "node", iters = Iters)
    val w = Window.partitionBy("kind").orderBy(col("rank_fp").desc, col("node"))
    pr.select(
        when(col("node") >= Off, lit("supp")).otherwise(lit("cust")).as("kind"),
        when(col("node") >= Off, col("node") - Off).otherwise(col("node")).as("node_key"),
        col("rank_fp"), col("degree"), col("is_seed"), col("node"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 10)
      .select("kind", "node_key", "rank_fp", "degree", "is_seed", "rnk")
      .orderBy("kind", "rnk")
  }

  /** Bounded BFS hop distance from the same seed set
    * ([[Graph.seedDistance]]): how many co-purchase links separate
    * every node from curated content, rolled up to a per-kind
    * distance histogram (bounded output whatever the graph size).
    * The oracle's recursive CTE uses UNION dedup so the frontier
    * stays polynomial — path enumeration on this dense bipartite
    * graph would be exponential. */
  val q198SeedDistance = QueryDef(
    "q198_seed_distance",
    s"""WITH RECURSIVE e0 AS (
       |  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |), edges AS (
       |  SELECT cust AS src, supp + $Off AS dst FROM e0
       |  UNION ALL
       |  SELECT supp + $Off AS src, cust AS dst FROM e0
       |), seeds AS (SELECT DISTINCT cust AS node FROM e0 WHERE cust % 50 = 0),
       |bfs(node, dd) AS (
       |  SELECT node, 0 FROM seeds
       |  UNION
       |  SELECT e.dst, b.dd + 1 FROM bfs b
       |  JOIN edges e ON e.src = b.node WHERE b.dd < 3
       |), md AS (SELECT node, CAST(min(dd) AS INT) AS dist
       |          FROM bfs GROUP BY node)
       |SELECT CASE WHEN node >= $Off THEN 'supp' ELSE 'cust' END AS kind,
       |  dist, CAST(count(*) AS BIGINT) AS n_nodes,
       |  CAST(min(CASE WHEN node >= $Off THEN node - $Off ELSE node END)
       |    AS BIGINT) AS min_key,
       |  CAST(max(CASE WHEN node >= $Off THEN node - $Off ELSE node END)
       |    AS BIGINT) AS max_key
       |FROM md GROUP BY 1, 2
       |ORDER BY kind, dist""".stripMargin) { (s, d) =>
    val pairs = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
    val edges = pairs.select(col("cust").as("src"), (col("supp") + Off).as("dst"))
      .unionByName(pairs.select((col("supp") + Off).as("src"), col("cust").as("dst")))
    val seeds = Tables.customer(s, d)
      .filter(col("c_custkey") % 50 === 0)
      .select(col("c_custkey").as("node"))
    Graph.seedDistance(edges, "src", "dst", seeds, "node", maxHops = 3)
      .select(
        when(col("node") >= Off, lit("supp")).otherwise(lit("cust")).as("kind"),
        col("d").cast("int").as("dist"),
        when(col("node") >= Off, col("node") - Off).otherwise(col("node"))
          .as("node_key"))
      .groupBy("kind", "dist")
      .agg(count(lit(1)).as("n_nodes"),
        min(col("node_key")).as("min_key"),
        max(col("node_key")).as("max_key"))
      .orderBy("kind", "dist")
  }

  /** Exact triangle counting ([[Graph.triangleCounts]]) over the
    * support-thresholded co-purchase projection: parts are linked
    * when they appear together in ≥ 2 distinct orders. The support
    * threshold is the density guard — the RAW projection of a
    * bipartite order⋈part graph is near-complete (1.2 M edges on
    * 20 k parts at sf0.1) and any triangle count over it measures
    * noise; support ≥ 2 keeps the repeat co-purchases (3.8 k edges),
    * which is exactly the market-basket "minimum support" move.
    *
    * Per-order pair generation is bounded by order size (≤ 7 line
    * items per order at any corpus scale — the blow-up adds ORDERS,
    * not lines per order), so the projection is linear in lineitem;
    * the (degree, id) orientation inside the operator bounds wedge
    * generation at O(m^1.5). Output: top-10 parts by triangle
    * membership plus the global triangle count — bounded at any
    * scale. The oracle replays every step including the orientation
    * tie-break, so the hash check covers the exact wedge order. */
  val q205TriangleCounts = QueryDef(
    "q205_triangle_counts",
    """WITH lo AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |pe AS (
      |  SELECT a.p AS p1, b.p AS p2
      |  FROM lo a JOIN lo b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM
      |        (SELECT p1 AS n FROM pe UNION ALL SELECT p2 AS n FROM pe)
      |        GROUP BY n),
      |oe AS (SELECT CASE WHEN (da.d, p1) < (db.d, p2) THEN p1 ELSE p2 END AS s,
      |              CASE WHEN (da.d, p1) < (db.d, p2) THEN p2 ELSE p1 END AS t,
      |              CASE WHEN (da.d, p1) < (db.d, p2) THEN db.d ELSE da.d END AS dt
      |       FROM pe JOIN deg da ON da.n = pe.p1 JOIN deg db ON db.n = pe.p2),
      |tri AS (SELECT e1.s AS x, e1.t AS y, e2.t AS z
      |        FROM oe e1 JOIN oe e2 ON e1.s = e2.s
      |          AND (e1.dt, e1.t) < (e2.dt, e2.t)
      |        JOIN oe e3 ON e3.s = e1.t AND e3.t = e2.t),
      |pn AS (SELECT n AS node, CAST(count(*) AS BIGINT) AS tri FROM
      |       (SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
      |        UNION ALL SELECT z FROM tri) GROUP BY n)
      |SELECT kind, node_key, tri, rnk FROM (
      |  SELECT 'node' AS kind, node AS node_key, tri,
      |         CAST(ROW_NUMBER() OVER (ORDER BY tri DESC, node) AS INT) AS rnk
      |  FROM pn) WHERE rnk <= 10
      |UNION ALL
      |SELECT 'total', CAST(-1 AS BIGINT),
      |       CAST(COALESCE((SELECT SUM(tri) FROM pn), 0) // 3 AS BIGINT),
      |       CAST(0 AS INT)
      |ORDER BY kind, rnk""".stripMargin) { (s, d) =>
    val lo = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val pe = lo.as("x").join(lo.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("p1"), col("y.p").as("p2"))
      .agg(count(lit(1)).as("supp"))
      .filter(col("supp") >= 2)
      .select("p1", "p2")
    val tri = Graph.triangleCounts(pe, "p1", "p2")
    val w = Window.orderBy(col("tri").desc, col("node"))
    val top = tri
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= 10)
      .select(lit("node").as("kind"), col("node").as("node_key"),
        col("tri"), col("rnk"))
    val total = tri
      .agg(coalesce(sum(col("tri")), lit(0L)).as("st"))
      .select(lit("total").as("kind"), lit(-1L).as("node_key"),
        expr("st div 3").as("tri"), lit(0).as("rnk"))
    top.unionByName(total).orderBy("kind", "rnk")
  }

  /** Incremental edge sidecar → PageRank ([[Graph.writeEdgeSidecar]]
    * family): the co-purchase edge list is ingested in three
    * order-partitioned batches — with batch 0 deliberately appended
    * TWICE to exercise the idempotence contract (PageRank depends
    * only on the edge set; set-union appends make a duplicated batch
    * a no-op even before compaction) — then compacted and fed to
    * [[Graph.pageRankFromEdgeSidecar]]. The oracle is **q188's own
    * SQL verbatim**, so the hash check proves incremental == one-shot
    * bit-for-bit (the q204 discipline applied to the graph family). */
  val q206PagerankSidecar = QueryDef(
    "q206_pagerank_sidecar",
    q188CopurchasePagerank.oracle.get) { (s, d) =>
    val dir = {
      val sf = d.replaceAll("[^A-Za-z0-9.]", "_")
      s"target/tmp/q206_edge_sidecar_$sf"
    }
    graft.sources.Sinks.wipeForRebuild(s, dir)
    // materialized ONCE (optimization round 18): all four batch
    // appends derive from this join — lazy, each append re-ran the
    // lineitem⋈orders join, 4 scans of the fact table for one
    // logical input. DISK_ONLY per the Graph-family rule: data-sized
    // state lives on disk, not the block-manager heap.
    val pairs = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("ok"),
        col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    def batch(i: Int) = {
      val p = pairs.filter(col("ok") % 3 === i)
      p.select(col("cust").as("src"), (col("supp") + Off).as("dst"))
        .unionByName(
          p.select((col("supp") + Off).as("src"), col("cust").as("dst")))
    }
    Graph.writeEdgeSidecar(batch(0), "src", "dst", dir)
    Graph.writeEdgeSidecar(batch(1), "src", "dst", dir)
    Graph.writeEdgeSidecar(batch(2), "src", "dst", dir)
    // the duplicated batch: must change NOTHING (set semantics)
    Graph.writeEdgeSidecar(batch(0), "src", "dst", dir)
    Graph.compactEdgeSidecar(s, dir)
    // compacted = true: the read follows the compaction with no
    // intervening appends, so the reader skips its defensive distinct
    // (one corpus-sized shuffle — see the round-15 q206 decomposition
    // in SURVEY.md)
    val pr = Graph.pageRankFromEdgeSidecar(s, dir, iters = Iters,
      compacted = true)
    val w = Window.partitionBy("kind").orderBy(col("rank_fp").desc, col("node"))
    pr.select(
        when(col("node") >= Off, lit("supp")).otherwise(lit("cust")).as("kind"),
        when(col("node") >= Off, col("node") - Off).otherwise(col("node")).as("node_key"),
        col("rank_fp"), col("degree"), col("node"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 10)
      .select("kind", "node_key", "rank_fp", "degree", "rnk")
      .orderBy("kind", "rnk")
  }

  /** Round-12: k-core pruning of the (sparse) co-purchase graph —
    * [[Graph.kCore]] over the quantity-filtered bipartite edges (the
    * q188 graph restricted to l_quantity > 48, which is sparse enough
    * that the 3-core actually peels: ~2/3 of nodes drop at sf0.1,
    * with a visible second-round cascade). Output is the surviving
    * node set with its IN-CORE degree, mapped back through the q188
    * kind/node_key convention. The oracle replays the bounded
    * synchronous peel as a recursive CTE — same fixed 8-round budget,
    * so Spark and DuckDB compute the identical recurrence whether or
    * not the peel has converged (here it converges by round 2;
    * GraphSpec pins a path graph that needs every round). */
  val q214KCore = QueryDef(
    "q214_kcore",
    s"""WITH RECURSIVE e0 AS (
       |  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  WHERE l.l_quantity > 48
       |), edges AS (
       |  SELECT cust AS src, supp + $Off AS dst FROM e0
       |  UNION ALL
       |  SELECT supp + $Off AS src, cust AS dst FROM e0
       |), nodes AS (SELECT DISTINCT src AS node FROM edges),
       |surv AS (
       |  SELECT 0 AS it, node FROM nodes
       |  UNION ALL
       |  SELECT s.it + 1, s.node FROM surv s
       |  JOIN (SELECT e.src, count(*) AS c
       |        FROM edges e JOIN surv s2 ON s2.node = e.dst
       |        GROUP BY e.src) d ON d.src = s.node
       |  WHERE d.c >= 3 AND s.it < 8
       |), core AS (SELECT node FROM surv WHERE it = 8),
       |cdeg AS (
       |  SELECT e.src AS node, CAST(count(*) AS BIGINT) AS core_deg
       |  FROM edges e
       |  JOIN core c1 ON c1.node = e.src
       |  JOIN core c2 ON c2.node = e.dst
       |  GROUP BY e.src)
       |SELECT CASE WHEN node >= $Off THEN 'supp' ELSE 'cust' END AS kind,
       |  CASE WHEN node >= $Off THEN node - $Off ELSE node END AS node_key,
       |  core_deg
       |FROM cdeg ORDER BY kind, node_key""".stripMargin) { (s, d) =>
    val pairs = Tables.lineitem(s, d)
      .filter(col("l_quantity") > 48)
      .select("l_orderkey", "l_suppkey")
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
    val edges = pairs
      .select(col("cust").as("src"), (col("supp") + Off).as("dst"))
      .unionByName(
        pairs.select((col("supp") + Off).as("src"), col("cust").as("dst")))
    Graph.kCore(edges, "src", "dst", k = 3, rounds = 8)
      .select(
        when(col("node") >= Off, lit("supp")).otherwise(lit("cust"))
          .as("kind"),
        when(col("node") >= Off, col("node") - Off).otherwise(col("node"))
          .as("node_key"),
        col("core_deg"))
      .orderBy("kind", "node_key")
  }

  /** Round-13: [[Graph.kCoreConverged]] — q214's peel run to the
    * FIXPOINT with the convergence asserted (the production "give me
    * the k-core, period" entry point; q214 remains the bounded-budget
    * replay-honest variant). The oracle runs the same recurrence with
    * a 32-round budget: the Spark side REQUIREs convergence within
    * 32, and the survivor set is monotone decreasing, so the
    * 32-round bounded recurrence equals the fixpoint whenever the
    * assertion passes — bounded-oracle replay of an unbounded loop.
    * At the fixpoint every survivor has ≥ k in-core neighbors, so
    * the final inner core_deg join provably drops nothing (q214's
    * cutoff caveat is structurally absent here). */
  val q216KCoreConverged = QueryDef(
    "q216_kcore_converged",
    s"""WITH RECURSIVE e0 AS (
       |  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  WHERE l.l_quantity > 48
       |), edges AS (
       |  SELECT cust AS src, supp + $Off AS dst FROM e0
       |  UNION ALL
       |  SELECT supp + $Off AS src, cust AS dst FROM e0
       |), nodes AS (SELECT DISTINCT src AS node FROM edges),
       |surv AS (
       |  SELECT 0 AS it, node FROM nodes
       |  UNION ALL
       |  SELECT s.it + 1, s.node FROM surv s
       |  JOIN (SELECT e.src, count(*) AS c
       |        FROM edges e JOIN surv s2 ON s2.node = e.dst
       |        GROUP BY e.src) d ON d.src = s.node
       |  WHERE d.c >= 3 AND s.it < 32
       |), core AS (SELECT node FROM surv WHERE it = 32),
       |cdeg AS (
       |  SELECT e.src AS node, CAST(count(*) AS BIGINT) AS core_deg
       |  FROM edges e
       |  JOIN core c1 ON c1.node = e.src
       |  JOIN core c2 ON c2.node = e.dst
       |  GROUP BY e.src)
       |SELECT CASE WHEN node >= $Off THEN 'supp' ELSE 'cust' END AS kind,
       |  CASE WHEN node >= $Off THEN node - $Off ELSE node END AS node_key,
       |  core_deg
       |FROM cdeg ORDER BY kind, node_key""".stripMargin) { (s, d) =>
    val pairs = Tables.lineitem(s, d)
      .filter(col("l_quantity") > 48)
      .select("l_orderkey", "l_suppkey")
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
    val edges = pairs
      .select(col("cust").as("src"), (col("supp") + Off).as("dst"))
      .unionByName(
        pairs.select((col("supp") + Off).as("src"), col("cust").as("dst")))
    Graph.kCoreConverged(edges, "src", "dst", k = 3, maxRounds = 32)
      .select(
        when(col("node") >= Off, lit("supp")).otherwise(lit("cust"))
          .as("kind"),
        when(col("node") >= Off, col("node") - Off).otherwise(col("node"))
          .as("node_key"),
        col("core_deg"))
      .orderBy("kind", "node_key")
  }

  val all: Seq[QueryDef] = Seq(q188CopurchasePagerank,
    q197PersonalizedPagerank, q198SeedDistance, q205TriangleCounts,
    q206PagerankSidecar, q214KCore, q216KCoreConverged)
}
