package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over relational co-occurrence — the connected-components
  * machinery lives with dedup (Dedup.clusterPairs); this file holds the
  * counting side.
  *
  * Triangle counting is the canonical "naive = cubes, oriented = fine"
  * scale lesson (Suri–Vassilvitskii's MapReduce partition algorithm and
  * Cohen's degree-ordering both reduce to it): orient every undirected
  * edge from its (degree, id)-smaller endpoint to its larger one, build
  * wedges only from each node's OUT-neighbors, and close them against the
  * oriented edge set. Orientation makes the out-degree of every node
  * O(√E) — a celebrity node with a million followers has a million
  * IN-edges but only its few higher-degree peers as OUT-edges — so wedge
  * volume is Σ out-deg² ≤ E^1.5 instead of Σ deg² (quadratic in the hub
  * degree). Each triangle appears exactly once (its (deg,id)-minimal
  * vertex owns it): no /3 correction, no double counting.
  */
object Graph {

  /** Top-k leaderboard WITHOUT a global window: `orderBy(score desc, key
    * asc).limit(k)` plans as TakeOrderedAndProject — per-task top-k heaps,
    * never a single-task sort of the whole node table — and the 1..k
    * positions come from posexplode over the k-bounded array re-sorted
    * with the same (score desc, key asc) discipline, not from a
    * row_number window. Replaces the unpartitioned-window epilogue the
    * round-10 plan audit allow-listed for q109/q277/q291: same rows, same
    * tie ordering, but the sort is k-bounded instead of |node-table|-
    * bounded, so the rank kernels need no bounded-input rationale at all.
    * Works for numeric and string keys (array_sort's lambda compares with
    * the same semantics the window's orderBy used). */
  private[ops] def rankTopK(df: org.apache.spark.sql.DataFrame, score: String,
      key: String, k: Int, keyOut: String, scoreOut: String): org.apache.spark.sql.DataFrame =
    df.orderBy(col(score).desc, col(key))
      .limit(k)
      .agg(collect_list(struct(col(score).as("s"), col(key).as("k"))).as("rows"))
      .select(posexplode(expr(
        """array_sort(rows, (l, r) ->
          |  CASE WHEN l.s > r.s THEN -1 WHEN l.s < r.s THEN 1
          |       WHEN l.k < r.k THEN -1 WHEN l.k > r.k THEN 1
          |       ELSE 0 END)""".stripMargin)).as(Seq("i", "r")))
      .select((col("i") + 1).cast("long").as("pos"),
        col("r.k").as(keyOut), col("r.s").as(scoreOut))
      .orderBy(col("pos"))

  /** The co-purchase edge set the graph kernels run on: part pairs
    * co-occurring in ≥ 2 DISTINCT orders, weighted by that support
    * (u < v, w = number of shared orders — the weighted-LPA oracle's e0
    * verbatim). The support threshold is what keeps the graph
    * analyzable at scale — raw single-order co-occurrence
    * over a bounded part catalog densifies toward the complete graph as
    * orders accumulate (at sf0.1 it is already 1.2M edges over 20k parts,
    * 99.7% of them support-1 noise), and dense graphs make every
    * downstream kernel intrinsically Θ(E^1.5) or worse. Support-2 keeps
    * edges that recur — 3.9k of 1.2M at sf0.1 — and, unlike a sampled
    * subgraph, is a SEMANTIC filter: the kept edge list is exactly the
    * "bought together more than once" affinity signal the kernels are
    * meant to run on. One groupBy builds it; map-side partial counts
    * bound the shuffle by distinct pairs, not co-occurrence rows. */
  private[graft] def coPurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    // Distinct (order, part) FIRST: pair rows are then unique per order by
    // construction, so support is a plain count — no count-distinct
    // expand over the (much larger) co-occurrence rows.
    val l = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    l.as("l1").join(l.as("l2"),
        col("l1.l_orderkey") === col("l2.l_orderkey") &&
          col("l1.l_partkey") < col("l2.l_partkey"))
      .groupBy(col("l1.l_partkey").as("u"), col("l2.l_partkey").as("v"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
  }

  /** [[coPurchaseEdges]] without the weight: the unweighted (u, v) graph. */
  private[graft] def supportedEdges(s: SparkSession, dir: String): DataFrame =
    coPurchaseEdges(s, dir).select(col("u"), col("v"))

  /** Edge-count ceiling for the driver tier of every tiered graph kernel
    * ([[tiered]]). The collected edges materialize as boxed Rows then
    * tuples (~100 B/edge transient, not 16 B): 2M edges ≈ 200 MB of
    * short-lived driver heap — safe on any real driver, far above
    * anything a vocabulary-level graph should produce. Above it the SAME
    * edges go to the kernel's distributed tier instead of silently
    * OOMing the driver. */
  val DriverMaxEdges: Long = 2_000_000L

  /** Tier selection AS CODE, not authorship: ONE bounded job decides the
    * tier AND fetches the driver tier's edges. `cols` of `edges` are
    * collected through limit(max+1) — at most max+1 rows ever reach the
    * driver (the bound a count()-then-collect() would enforce, minus one
    * full pass over the edge lineage). At most `driverMaxEdges` rows back
    * runs `driver` on them; max+1 rows means "over the bound" and runs
    * `distributed` instead. The cap saturates below Int.MaxValue, so any
    * bound up to Long.MaxValue is safe. Callers cut their own lineage
    * (localCheckpoint/persist) where their distributed loop needs it. */
  private[graft] def tiered[A](edges: DataFrame, cols: Seq[String],
      driverMaxEdges: Long = DriverMaxEdges)(driver: Array[Row] => A)(
      distributed: => A): A = {
    val cap = (math.min(driverMaxEdges, Int.MaxValue.toLong - 1) + 1).toInt
    val probe = edges.select(cols.map(col): _*).limit(cap).collect()
    if (probe.length <= driverMaxEdges) driver(probe) else distributed
  }

  /** Min-root union-find with path compression for the driver tiers.
    * A union always hangs the larger root under the smaller one, so
    * every root is the minimum member of its set and `find(x)` IS x's
    * component-min label — the same label the distributed min-label
    * fixpoints produce. */
  private[graft] final class MinUnionFind {
    private val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    /** Merge the sets of `a` and `b`, registering both as nodes. */
    def union(a: Long, b: Long): Unit = {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    /** Every node passed to [[union]]. */
    def nodes: Iterable[Long] = parent.keys
  }

  /** q106: triangles in the part co-purchase graph (two parts linked when
    * some order contains both). One audit row: edge count, wedge count,
    * triangle count, and the global clustering coefficient
    * 3·triangles / wedges-over-unoriented-degrees — rounded, decimal-free
    * integers otherwise. */
  val q106TriangleCount: Q = Q(
    "q106_triangle_count",
    """WITH lp AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS (
      |  SELECT l1.l_partkey AS u, l2.l_partkey AS v
      |  FROM lp l1 JOIN lp l2
      |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |deg AS (
      |  SELECT n, count(*) AS d FROM (
      |    SELECT u AS n FROM e0 UNION ALL SELECT v AS n FROM e0)
      |  GROUP BY n),
      |ori AS (
      |  SELECT CASE WHEN (du.d, e0.u) < (dv.d, e0.v) THEN e0.u ELSE e0.v END AS a,
      |         CASE WHEN (du.d, e0.u) < (dv.d, e0.v) THEN e0.v ELSE e0.u END AS b,
      |         CASE WHEN (du.d, e0.u) < (dv.d, e0.v) THEN dv.d ELSE du.d END AS db
      |  FROM e0 JOIN deg du ON du.n = e0.u JOIN deg dv ON dv.n = e0.v),
      |wedge AS (
      |  SELECT o1.b AS x, o2.b AS y
      |  FROM ori o1 JOIN ori o2
      |    ON o1.a = o2.a
      |   AND ((o1.db, o1.b) < (o2.db, o2.b))),
      |tri AS (
      |  SELECT count(*) AS n_tri
      |  FROM wedge w JOIN ori o ON o.a = w.x AND o.b = w.y),
      |agg AS (
      |  SELECT (SELECT count(*) FROM e0) AS n_edges,
      |         (SELECT CAST(sum((d * (d - 1)) // 2) AS BIGINT) FROM deg) AS n_wedges,
      |         (SELECT n_tri FROM tri) AS n_triangles)
      |SELECT n_edges, n_wedges, n_triangles,
      |       round(3.0 * n_triangles / n_wedges, 6) AS clustering
      |FROM agg""".stripMargin) { (s, dir) =>
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // The edge set feeds FOUR consumers (deg, orientation, the edge
    // count, the wedge close) — without a persist every one re-runs the
    // lineitem self-join (audited: 72 parquet scans in the unpersisted
    // plan). The audit scalars double as the eager materialization.
    val e0 = supportedEdges(s, dir).persist(MEMORY_AND_DISK)
    val nEdgesV = e0.count()
    val deg = e0.select(col("u").as("n")).unionAll(e0.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
      .persist(MEMORY_AND_DISK)
    val nWedgesV = deg.agg(sum(expr("(d * (d - 1)) div 2")).cast("long"))
      .head.getLong(0)
    // Orient each edge low→high in (degree, id) order; carry the head's
    // degree so the wedge join can canonicalize without re-joining deg.
    val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val ori = e0
      .join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
      .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
      .select(when(fwd, col("u")).otherwise(col("v")).as("a"),
        when(fwd, col("v")).otherwise(col("u")).as("b"),
        when(fwd, col("dv")).otherwise(col("du")).as("db"))
      .persist(MEMORY_AND_DISK) // probed twice by the wedge join + close
    // Wedges from each node's out-neighbors only (out-degree is O(√E)
    // after orientation); (db, b) < (db2, b2) canonicalizes the pair.
    val wedge = ori.as("o1").join(ori.as("o2"),
        col("o1.a") === col("o2.a") &&
          (col("o1.db") < col("o2.db") ||
            (col("o1.db") === col("o2.db") && col("o1.b") < col("o2.b"))))
      .select(col("o1.b").as("x"), col("o2.b").as("y"))
    wedge.join(ori, col("x") === col("a") && col("y") === col("b"))
      .agg(count(lit(1)).as("n_triangles"))
      .select(lit(nEdgesV).as("n_edges"), lit(nWedgesV).as("n_wedges"),
        col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / lit(nWedgesV), 6).as("clustering"))
  }

  /** q109: PageRank over the symmetrized co-purchase graph — THE iterative
    * graph kernel, made cross-engine-exact by running in FIXED-POINT
    * integer arithmetic: ranks are BIGINT micro-units of a 10^12 total
    * mass, every division is floor division, so both engines produce
    * bit-identical ranks (float PageRank can never hash-match across
    * engines — summation order changes the ulps). Three unrolled
    * iterations, damping 0.85 as the exact integer map
    * r' = jump + (85 · Σ_{u→v} (r_u // outdeg_u)) // 100.
    *
    * Scale shape: each iteration is one join of the rank vector with the
    * pre-joined (edge, out-degree) table and a partial-aggregated sum by
    * destination — the textbook distributed PR step. The edge table is
    * built once and reused across iterations (persist at scale;
    * checkpoint every ~5 iterations to cut lineage). Floor division
    * leaks ≤ outdeg micro-units of mass per node per step — bounded,
    * deterministic, and irrelevant to ranking. */
  val q109PageRank: Q = {
    val S = 1000000000000L // total mass, micro-units
    Q("q109_pagerank",
      s"""WITH lp AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (
        |  SELECT l1.l_partkey AS u, l2.l_partkey AS v
        |  FROM lp l1 JOIN lp l2
        |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
        |outd AS (SELECT u, count(*) AS od FROM sym GROUP BY u),
        |consts AS (SELECT $S // count(*) AS base,
        |                  (15 * ($S // count(*))) // 100 AS jump
        |           FROM outd),
        |r0 AS (SELECT u AS n, (SELECT base FROM consts) AS r FROM outd),
        |r1 AS (SELECT sym.v AS n,
        |              (SELECT jump FROM consts)
        |                + (85 * sum(r0.r // outd.od)) // 100 AS r
        |       FROM sym JOIN r0 ON r0.n = sym.u JOIN outd ON outd.u = sym.u
        |       GROUP BY sym.v),
        |r2 AS (SELECT sym.v AS n,
        |              (SELECT jump FROM consts)
        |                + (85 * sum(r1.r // outd.od)) // 100 AS r
        |       FROM sym JOIN r1 ON r1.n = sym.u JOIN outd ON outd.u = sym.u
        |       GROUP BY sym.v),
        |r3 AS (SELECT sym.v AS n,
        |              (SELECT jump FROM consts)
        |                + (85 * sum(r2.r // outd.od)) // 100 AS r
        |       FROM sym JOIN r2 ON r2.n = sym.u JOIN outd ON outd.u = sym.u
        |       GROUP BY sym.v)
        |SELECT CAST(row_number() OVER (ORDER BY r DESC, n) AS BIGINT) AS pos,
        |       n, CAST(r AS BIGINT) AS r
        |FROM r3 QUALIFY pos <= 100 ORDER BY pos""".stripMargin) { (s, dir) =>
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val e0 = supportedEdges(s, dir)
      val sym = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
      val outd = sym.groupBy(col("u")).agg(count(lit(1)).as("od"))
        .persist(MEMORY_AND_DISK)
      // base/jump are two longs derived from the node count — computed
      // driver-side (same floor arithmetic as the oracle's `//`), which
      // both materializes the persisted out-degree table and removes a
      // per-iteration 1-row cross join from the plan.
      val nn = outd.count()
      // Empty support-2 graph (degenerate input): the oracle's r3 is
      // empty — surface the empty leaderboard, don't divide by zero.
      if (nn == 0)
        s.range(0).select(col("id").as("pos"), col("id").as("n"),
          col("id").as("r"))
      else {
        val base = S / nn
        val jump = (15L * base) / 100L
        // (u, v, od) built once, persisted: every iteration probes it —
        // unpersisted, iteration i re-runs the whole edge build (audited:
        // 88 parquet scans in the unpersisted 3-iteration plan).
        val edges = sym.join(outd, "u").persist(MEMORY_AND_DISK)
        var r = outd.select(col("u").as("n"), lit(base).as("r"))
        for (_ <- 1 to 3) {
          r = edges.join(r, col("n") === col("u"))
            .groupBy(col("v"))
            .agg(sum(expr("r div od")).as("c"))
            .select(col("v").as("n"),
              (lit(jump) + expr("(85 * c) div 100")).as("r"))
        }
        rankTopK(r, "r", "n", 100, "n", "r")
      }
    }
  }

  /** q128: BFS hop distance — the reachability/traversal kernel (q106
    * counts, q109 ranks, this one WALKS): minimum hop count from a
    * deterministic seed (the smallest node in the edge set) to every node
    * within 3 hops of it, over the same support-2 co-purchase graph.
    *
    * The Spark side is level-synchronous BFS (Pregel-lite): a persisted
    * frontier joins the persisted edge list once per hop, an anti-join
    * against the visited set keeps the frontier MINIMAL (a node re-reached
    * at a later hop is dropped, so per-hop work is ∝ newly-reached nodes ×
    * degree — never the path count). The oracle is the same traversal as a
    * recursive CTE, which enumerates PATHS (min(d) collapses them) —
    * exponentially worse on dense graphs, which is exactly why the
    * frontier formulation is the one that scales; gate equality proves
    * they agree. Fixed depth keeps both sides bounded; at 100 TB the
    * visited set is the only growing state, and it's hash-partitioned on
    * node — iterations reuse its partitioning for both the join and the
    * anti-join. */
  val q128BfsHops: Q = Q(
    "q128_bfs_hops",
    """WITH RECURSIVE lp AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS (
      |  SELECT l1.l_partkey AS u, l2.l_partkey AS v
      |  FROM lp l1 JOIN lp l2
      |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
      |walk(n, d) AS (
      |  SELECT (SELECT min(u) FROM e0) AS n, 0 AS d
      |  UNION ALL
      |  SELECT e.v, walk.d + 1 FROM walk JOIN e ON e.u = walk.n
      |  WHERE walk.d < 3)
      |SELECT n, CAST(min(d) AS BIGINT) AS hops
      |FROM walk GROUP BY n ORDER BY hops, n""".stripMargin) { (s, dir) =>
    bfsFrom(supportedEdges(s, dir), 3).orderBy(col("hops"), col("n"))
  }

  /** The q128 core: level-synchronous BFS from min(u) over an undirected
    * (u, v) edge list, to `maxHops`. */
  private[ops] def bfsFrom(edges: org.apache.spark.sql.DataFrame,
      maxHops: Int): org.apache.spark.sql.DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e0 = edges.persist(lvl)
    val e = e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
      .persist(lvl)
    val seed = e0.agg(min(col("u")).as("n")).select(col("n"), lit(0L).as("hops"))
    var visited = seed.persist(lvl)
    var frontier = seed.select(col("n"))
    for (h <- 1 to maxHops) {
      val next = frontier.as("f")
        .join(e.as("e"), col("f.n") === col("e.u"))
        .select(col("e.v").as("n")).distinct()
        .join(visited, Seq("n"), "left_anti")
        .select(col("n"), lit(h.toLong).as("hops"))
        .persist(lvl)
      visited = visited.unionByName(next).persist(lvl)
      visited.count() // pin this level before the next one re-reads it
      frontier = next.select(col("n"))
    }
    visited
  }

  /** q221: association rules — the directed market-basket readout on top
    * of the co-purchase counts: for each frequent pair, confidence
    * P(B|A) = n(A,B)/n(A) and lift = conf/P(B), both as integer ppm
    * (n_ab·10⁶ div n_a; n_ab·N·10⁶ div n_a·n_b). Both DIRECTIONS emit —
    * confidence is asymmetric, the whole point vs the undirected edge
    * set. Support ≥ 2 pairs only (the q106 rationale); item counts are
    * distinct-order counts, N = total orders. */
  val q221AssociationRules: Q = Q(
    "q221_association_rules",
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |item AS (SELECT l_partkey, count(*) AS n_i FROM op GROUP BY 1),
      |t AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM op),
      |pair AS (
      |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_ab
      |  FROM op a JOIN op b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |dir AS (
      |  SELECT pa AS ante, pb AS cons, n_ab FROM pair
      |  UNION ALL SELECT pb, pa, n_ab FROM pair)
      |SELECT d.ante, d.cons, CAST(d.n_ab AS BIGINT) AS n_both,
      |       CAST(d.n_ab * 1000000 // ia.n_i AS BIGINT) AS confidence_ppm,
      |       CAST(d.n_ab * t.n * 1000000 // (ia.n_i * ic.n_i) AS BIGINT)
      |         AS lift_ppm
      |FROM dir d JOIN item ia ON d.ante = ia.l_partkey
      |           JOIN item ic ON d.cons = ic.l_partkey
      |CROSS JOIN t
      |ORDER BY ante, cons""".stripMargin) { (s, dir) =>
    val op = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val item = op.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_i"))
    val t = op.agg(countDistinct(col("l_orderkey")).as("n"))
    val pair = op.as("a").join(op.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2)
    val both = pair.select(col("pa").as("ante"), col("pb").as("cons"), col("n_ab"))
      .unionByName(pair.select(col("pb").as("ante"), col("pa").as("cons"),
        col("n_ab")))
    both
      .join(broadcast(item.withColumnsRenamed(
        Map("l_partkey" -> "ante", "n_i" -> "na"))), "ante")
      .join(broadcast(item.withColumnsRenamed(
        Map("l_partkey" -> "cons", "n_i" -> "nc"))), "cons")
      .crossJoin(broadcast(t))
      .select(col("ante"), col("cons"), col("n_ab").as("n_both"),
        expr("n_ab * 1000000 div na").cast("long").as("confidence_ppm"),
        expr("n_ab * n * 1000000 div (na * nc)").cast("long").as("lift_ppm"))
      .orderBy(col("ante"), col("cons"))
  }

  /** q277: HITS (Kleinberg hubs & authorities) on the customer→part
    * purchase bipartite graph — the link-analysis complement of q109:
    * PageRank ranks within ONE node type by random-walk mass; HITS ranks
    * the two SIDES of a bipartite relation against each other (a part is
    * authoritative when broad-basket customers buy it; a customer is a
    * hub when they buy authoritative parts). Two unrolled iterations
    * (a¹ ← h⁰, h¹ ← a¹, a² ← h¹), each followed by an exact
    * L1 re-normalization to total mass 10¹² — the same fixed-point
    * BIGINT discipline as q109, because float HITS can never hash-match
    * across engines. The ×10¹² normalization product exceeds BIGINT
    * (score · mass ≈ 10²⁴) so it rides in HUGEINT/DECIMAL(38,0); the
    * division is ONE floor divide.
    *
    * Scale shape: the edge list is built once, persisted, and probed by
    * every half-iteration (q109's lesson — unpersisted, each iteration
    * re-runs the edge build); every half-step is one equi-join plus a
    * map-side-combined sum keyed by the receiving side. Joins stay
    * unhinted: the part side is catalog-bounded (AQE broadcasts it),
    * the customer side legitimately shuffles at 100 TB. h⁰ is uniform,
    * so a¹ needs no join at all — it is in-degree × h. */
  val q277Hits: Q = {
    val M = 1000000000000L
    Q("q277_hits",
      s"""WITH e AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |nc AS (SELECT CAST(count(DISTINCT c) AS BIGINT) AS n FROM e),
        |a1r AS (SELECT p, CAST(count(*) AS HUGEINT)
        |                    * ($M // (SELECT n FROM nc)) AS s
        |        FROM e GROUP BY 1),
        |a1t AS (SELECT sum(s) AS tot FROM a1r),
        |a1 AS (SELECT p, CAST(s * $M // (SELECT tot FROM a1t) AS BIGINT) AS a
        |       FROM a1r),
        |h1r AS (SELECT e.c, CAST(sum(a1.a) AS HUGEINT) AS s
        |        FROM e JOIN a1 USING (p) GROUP BY 1),
        |h1t AS (SELECT sum(s) AS tot FROM h1r),
        |h1 AS (SELECT c, CAST(s * $M // (SELECT tot FROM h1t) AS BIGINT) AS h
        |       FROM h1r),
        |a2r AS (SELECT e.p, CAST(sum(h1.h) AS HUGEINT) AS s
        |        FROM e JOIN h1 USING (c) GROUP BY 1),
        |a2t AS (SELECT sum(s) AS tot FROM a2r),
        |a2 AS (SELECT p, CAST(s * $M // (SELECT tot FROM a2t) AS BIGINT) AS a
        |       FROM a2r)
        |SELECT CAST(row_number() OVER (ORDER BY a DESC, p) AS BIGINT) AS pos,
        |       p AS partkey, a AS authority
        |FROM a2 QUALIFY pos <= 50 ORDER BY pos""".stripMargin) { (s, dir) =>
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      import org.apache.spark.sql.expressions.Window
      val dec = "decimal(38,0)"
      val e = Tables(s, dir, "orders")
        .join(Tables(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
        .persist(MEMORY_AND_DISK)
      // Uniform h⁰ = M // n_customers, a driver scalar (also materializes
      // the persisted edge list, as q109's count does).
      val h0 = M / e.select(col("c")).distinct().count()
      def normalize(rawIn: org.apache.spark.sql.DataFrame, key: String,
          out: String): org.apache.spark.sql.DataFrame = {
        // Each half-iteration's raw score frame is consumed TWICE (the L1
        // total and the divide) and feeds the next half-iteration: left
        // lazy, the chain doubles per step (2³ subtree copies by a²,
        // only partly recovered by exchange reuse). The frame is
        // node-table-bounded (parts/customers), so an eager
        // localCheckpoint per half-step pins it — the q383/q386 lineage
        // discipline (same fix as pcaV4).
        val raw = rawIn.localCheckpoint()
        val tot = raw.agg(sum(col("s")).as("tot"))
        raw.crossJoin(broadcast(tot))
          .select(col(key),
            expr(s"(CAST(s AS $dec) * $M) div tot").cast("long").as(out))
      }
      val a1 = normalize(
        e.groupBy(col("p")).agg((count(lit(1)) * h0).cast(dec).as("s")),
        "p", "a")
      val h1 = normalize(
        e.join(a1, "p").groupBy(col("c")).agg(sum(col("a")).cast(dec).as("s")),
        "c", "h")
      val a2 = normalize(
        e.join(h1, "c").groupBy(col("p")).agg(sum(col("h")).cast(dec).as("s")),
        "p", "a")
      rankTopK(a2, "a", "p", 50, "partkey", "authority")
    }
  }

  /** q290: item-item collaborative filtering — "customers who bought X
    * also bought Y" as cosine similarity over the order-item incidence
    * matrix, the memory-based recommender kernel. For binary incidence,
    * cosine(a,b) = co / √(n_a·n_b); comparing and ranking on cosine² —
    * co²·10⁹ // (n_a·n_b), one HUGEINT cross-multiply and one truncating
    * divide — is order-equivalent for non-negative scores and EXACT, so
    * no sqrt ulp ever reaches the oracle compare (same move as q110's
    * integer Jaccard gate).
    *
    * Scale shape: co-occurrence volume is Σ_order |items|², bounded by
    * basket size, never N² over the catalog; item totals join the pair
    * table at pair-grain (map-side combined first). Per-item top-3 is a
    * partitioned rank window — Spark 4 plans WindowGroupLimit, so each
    * partition keeps a 3-row heap, not a full sort-materialize. The
    * min-support floor (co ≥ 2) is the standard noise cut and bounds the
    * ranked table. */
  val q290ItemCf: Q = Q(
    "q290_item_cf",
    s"""WITH $duckItemCfCtes
      |SELECT item, other, co, cos2_ppb, rk
      |FROM r WHERE rk <= 3 ORDER BY item, rk""".stripMargin) { (s, dir) =>
    val (_, _, ranked) = itemCf(s, dir)
    ranked.filter(col("rk") <= 3)
      .select(col("item"), col("other"), col("co"), col("cos2_ppb"), col("rk"))
      .orderBy(col("item"), col("rk"))
  }

  /** q290/q378's shared CF kernel — the DuckDB CTE chain ending in the
    * ranked similarity table `r`, verbatim q290's original rendering.
    * A `def` (not a val): q290's eagerly-built SQL string references it
    * from earlier in the object's initialization order. */
  private def duckItemCfCtes: String =
    """lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |n AS (SELECT l_partkey AS item, count(*) AS nn FROM lp GROUP BY 1),
      |co AS (SELECT l1.l_partkey AS a, l2.l_partkey AS b,
      |              CAST(count(*) AS BIGINT) AS co
      |       FROM lp l1 JOIN lp l2
      |         ON l1.l_orderkey = l2.l_orderkey
      |        AND l1.l_partkey < l2.l_partkey
      |       GROUP BY 1, 2 HAVING count(*) >= 2),
      |sym AS (SELECT a AS item, b AS other, co FROM co
      |        UNION ALL SELECT b, a, co FROM co),
      |sc AS (SELECT s.item, s.other, s.co,
      |              CAST(CAST(s.co AS HUGEINT) * s.co * 1000000000
      |                   // (na.nn * nb.nn) AS BIGINT) AS cos2_ppb
      |       FROM sym s JOIN n na ON na.item = s.item
      |                  JOIN n nb ON nb.item = s.other),
      |r AS (SELECT item, other, co, cos2_ppb,
      |             CAST(row_number() OVER (PARTITION BY item
      |               ORDER BY cos2_ppb DESC, co DESC, other) AS BIGINT) AS rk
      |      FROM sc)""".stripMargin

  /** Spark side of the shared CF kernel: (item sizes n, similarity table
    * sc, per-item ranked sc). `sc` is persisted — q378 consumes it both
    * through the ranking and as the pair-similarity lookup. */
  private def itemCf(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // Three consumers (item totals + both sides of the pair self-join):
    // persist the distinct incidence table so lineitem scans once
    // (q106/q292 persist this same shape).
    val lp = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .persist(MEMORY_AND_DISK)
    val n = lp.groupBy(col("l_partkey").as("item")).agg(count(lit(1)).as("nn"))
    val co = lp.as("l1").join(lp.as("l2"),
        col("l1.l_orderkey") === col("l2.l_orderkey") &&
          col("l1.l_partkey") < col("l2.l_partkey"))
      .groupBy(col("l1.l_partkey").as("a"), col("l2.l_partkey").as("b"))
      .agg(count(lit(1)).as("co"))
      .filter(col("co") >= 2)
    val sym = co.select(col("a").as("item"), col("b").as("other"), col("co"))
      .unionAll(co.select(col("b").as("item"), col("a").as("other"), col("co")))
    val sc = sym
      .join(n.withColumnsRenamed(Map("nn" -> "na")), "item")
      .join(n.withColumnsRenamed(Map("item" -> "other", "nn" -> "nb")), "other")
      .select(col("item"), col("other"), col("co"),
        expr("CAST((CAST(co AS DECIMAL(38,0)) * co * 1000000000) div (CAST(na AS DECIMAL(38,0)) * nb) AS LONG)")
          .as("cos2_ppb"))
      .persist(MEMORY_AND_DISK)
    val ranked = sc.withColumn("rk",
      row_number().over(Window.partitionBy(col("item"))
        .orderBy(col("cos2_ppb").desc, col("co").desc, col("other"))).cast("long"))
    (n, sc, ranked)
  }

  /** q378: recommendation-quality audit of the q290 recommender — the
    * two list-level metrics an offline rec review reads BEYOND accuracy:
    * catalog COVERAGE (share of items that ever appear in a top-3 list —
    * low coverage means the recommender only ever surfaces head items)
    * and intra-list similarity (ILS — mean pairwise similarity between
    * co-recommended items; high ILS means redundant lists). Pairwise
    * similarity reuses the CF cosine² table itself; a pair the co-
    * occurrence support floor never scored reads as 0 (the standard
    * sparse convention, mirrored in both engines).
    *
    * Determinism: list membership is q290's deterministic rank; both
    * metrics are integer rationals floored once.
    *
    * Scale shape: lists are ≤3 rows per item, so the within-list pair
    * expansion is ≤3 pairs per item; the similarity lookup is an
    * equi-join against the already-persisted sc table. */
  val q378RecDiversity: Q = Q(
    "q378_rec_diversity",
    s"""WITH $duckItemCfCtes,
      |lists AS (SELECT item, other FROM r WHERE rk <= 3),
      |cat AS (SELECT CAST(count(*) AS BIGINT) AS n_catalog FROM n),
      |cov AS (SELECT CAST(count(DISTINCT item) AS BIGINT) AS n_items,
      |               CAST(count(DISTINCT other) AS BIGINT) AS n_recommended
      |        FROM lists),
      |pr AS (SELECT a.item, a.other AS oa, b.other AS ob
      |       FROM lists a JOIN lists b
      |         ON b.item = a.item AND a.other < b.other),
      |ps AS (SELECT coalesce(s.cos2_ppb, 0) AS sim
      |       FROM pr LEFT JOIN sc s ON s.item = pr.oa AND s.other = pr.ob),
      |ils AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
      |               CAST(coalesce(sum(sim) // nullif(count(*), 0), 0)
      |                 AS BIGINT) AS mean_ils_ppb
      |        FROM ps)
      |SELECT cov.n_items, cat.n_catalog, cov.n_recommended,
      |       CAST(cov.n_recommended * 1000000 // cat.n_catalog AS BIGINT)
      |         AS coverage_ppm,
      |       ils.n_pairs, ils.mean_ils_ppb
      |FROM cov, cat, ils""".stripMargin) { (s, dir) =>
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val (n, sc, ranked) = itemCf(s, dir)
    val lists = ranked.filter(col("rk") <= 3)
      .select(col("item"), col("other"))
      .persist(MEMORY_AND_DISK)
    val cat = n.agg(count(lit(1)).as("n_catalog"))
    val cov = lists.agg(countDistinct(col("item")).as("n_items"),
      countDistinct(col("other")).as("n_recommended"))
    val pr = lists.as("a").join(lists.as("b"),
        col("b.item") === col("a.item") && col("a.other") < col("b.other"))
      .select(col("a.other").as("oa"), col("b.other").as("ob"))
    val ps = pr.join(sc.select(col("item").as("oa"), col("other").as("ob"),
        col("cos2_ppb")), Seq("oa", "ob"), "left")
      .select(coalesce(col("cos2_ppb"), lit(0L)).as("sim"))
    val ils = ps.agg(count(lit(1)).as("n_pairs"),
      expr("CAST(coalesce(sum(sim) div nullif(count(*), 0), 0) AS LONG)")
        .as("mean_ils_ppb"))
    cov.crossJoin(broadcast(cat)).crossJoin(broadcast(ils))
      .select(col("n_items"), col("n_catalog"), col("n_recommended"),
        expr("CAST(n_recommended * 1000000 div n_catalog AS LONG)")
          .as("coverage_ppm"),
        col("n_pairs"), col("mean_ils_ppb"))
  }

  /** q292: k-core decomposition (3-core, three unrolled peels) — the
    * density filter a graph-curation stage runs before expensive kernels
    * (PageRank/HITS behave badly on degree-1 tendrils; community mining
    * wants the dense core). One peel round = drop every node whose
    * degree among survivors is < k; the survivor sets are monotone
    * decreasing, so convergence is detectable by COUNT equality of the
    * last two rounds (set equality for free — no set diff needed), and
    * the `converged` column makes the fixed unroll honest: at a scale
    * where 3 rounds don't reach the fixpoint, the flag says so instead
    * of the result silently pretending.
    *
    * Scale shape: each round is two semi-joins (edge endpoints against
    * survivors) + one map-side-combined degree count — the standard
    * distributed peel; the symmetrized edge list is built once and
    * persisted, rounds shrink it monotonically. Production runs
    * peel-to-fixpoint with the same round body (the q47 CC cap lesson:
    * cap + converged flag, never silent truncation). */
  val q292KCore: Q = Q(
    "q292_k_core",
    """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS (SELECT l1.l_partkey AS u, l2.l_partkey AS v
      |       FROM lp l1 JOIN lp l2
      |         ON l1.l_orderkey = l2.l_orderkey
      |        AND l1.l_partkey < l2.l_partkey
      |       GROUP BY 1, 2 HAVING count(*) >= 2),
      |sym AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
      |s1 AS (SELECT u AS n FROM sym GROUP BY 1 HAVING count(*) >= 3),
      |e1 AS (SELECT u, v FROM sym WHERE u IN (SELECT n FROM s1)
      |                              AND v IN (SELECT n FROM s1)),
      |s2 AS (SELECT u AS n FROM e1 GROUP BY 1 HAVING count(*) >= 3),
      |e2 AS (SELECT u, v FROM e1 WHERE u IN (SELECT n FROM s2)
      |                             AND v IN (SELECT n FROM s2)),
      |s3 AS (SELECT u AS n FROM e2 GROUP BY 1 HAVING count(*) >= 3),
      |e3 AS (SELECT u, v FROM e2 WHERE u IN (SELECT n FROM s3)
      |                             AND v IN (SELECT n FROM s3)),
      |c AS (SELECT (SELECT count(*) FROM s2) = (SELECT count(*) FROM s3)
      |        AS converged)
      |SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS round,
      |         (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_nodes,
      |         (SELECT CAST(count(*) AS BIGINT) FROM e1) // 2 AS n_edges,
      |         (SELECT converged FROM c) AS converged
      |  UNION ALL
      |  SELECT 2, (SELECT count(*) FROM s2), (SELECT count(*) FROM e2) // 2,
      |         (SELECT converged FROM c)
      |  UNION ALL
      |  SELECT 3, (SELECT count(*) FROM s3), (SELECT count(*) FROM e3) // 2,
      |         (SELECT converged FROM c))
      |ORDER BY round""".stripMargin) { (s, dir) =>
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e0 = supportedEdges(s, dir)
    val sym = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
      .persist(MEMORY_AND_DISK)
    var edges = sym
    val held = scala.collection.mutable.Buffer[org.apache.spark.sql.DataFrame]()
    val counts = (1 to 3).map { _ =>
      val surv = edges.groupBy(col("u")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= 3).select(col("u").as("n"))
        .persist(MEMORY_AND_DISK)
      edges = edges
        .join(surv.withColumnsRenamed(Map("n" -> "u")), Seq("u"), "left_semi")
        .join(surv.withColumnsRenamed(Map("n" -> "v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .persist(MEMORY_AND_DISK)
      held += surv += edges
      (surv.count(), edges.count() / 2)
    }
    // Counts are materialized scalars by here — release every round's
    // cache (the result DataFrame below is built from driver rows, so
    // nothing downstream re-reads these).
    held.foreach(_.unpersist())
    sym.unpersist()
    val converged = counts(1)._1 == counts(2)._1
    val rows = counts.zipWithIndex.map { case ((nn, ne), i) =>
      (i + 1L, nn, ne, converged)
    }
    s.createDataFrame(rows)
      .toDF("round", "n_nodes", "n_edges", "converged")
      .orderBy(col("round"))
  }

  /** q308: frequent TRIPLE mining — the Apriori step above q221's pair
    * rules: candidate 3-itemsets are generated ONLY from frequent pairs
    * sharing a smallest item (the classic join step) and pruned by the
    * Apriori property (every 2-subset must itself be frequent) BEFORE
    * any counting touches the baskets. The support count then joins the
    * surviving candidates — a catalog-bounded broadcast — against the
    * per-order pair stream, never a 3-way basket self-join over the
    * corpus: candidate generation is frequent-pairs², counting is one
    * equi-join at (order, pair) grain with the third item resolved per
    * candidate.
    *
    * Scale shape: the pair stream (o, a, b) already exists at
    * Σ|basket|² grain; the triple count joins it to lp once more keyed
    * by (order, third-item) — both shuffles are key-grain. The
    * min-support floor (≥ 2 orders) is the same noise cut as q290. */
  val q308AprioriTriples: Q = Q(
    "q308_apriori_triples",
    """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |op AS (SELECT l1.l_orderkey AS o, l1.l_partkey AS a, l2.l_partkey AS b
      |       FROM lp l1 JOIN lp l2
      |         ON l1.l_orderkey = l2.l_orderkey
      |        AND l1.l_partkey < l2.l_partkey),
      |fp AS (SELECT a, b, CAST(count(*) AS BIGINT) AS supp
      |       FROM op GROUP BY 1, 2 HAVING count(*) >= 2),
      |cand AS (SELECT p1.a, p1.b, p2.b AS c
      |         FROM fp p1 JOIN fp p2 ON p2.a = p1.a AND p2.b > p1.b
      |         JOIN fp p3 ON p3.a = p1.b AND p3.b = p2.b),
      |tc AS (SELECT cand.a, cand.b, cand.c,
      |              CAST(count(*) AS BIGINT) AS supp
      |       FROM cand JOIN op ON op.a = cand.a AND op.b = cand.b
      |            JOIN lp l3 ON l3.l_orderkey = op.o
      |                      AND l3.l_partkey = cand.c
      |       GROUP BY 1, 2, 3 HAVING count(*) >= 2)
      |SELECT a, b, c, supp FROM tc
      |ORDER BY supp DESC, a, b, c""".stripMargin) { (s, dir) =>
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val lp = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .persist(MEMORY_AND_DISK)
    val op = lp.as("l1").join(lp.as("l2"),
        col("l1.l_orderkey") === col("l2.l_orderkey") &&
          col("l1.l_partkey") < col("l2.l_partkey"))
      .select(col("l1.l_orderkey").as("o"), col("l1.l_partkey").as("a"),
        col("l2.l_partkey").as("b"))
      .persist(MEMORY_AND_DISK)
    val fp = op.groupBy(col("a"), col("b")).agg(count(lit(1)).as("supp"))
      .filter(col("supp") >= 2)
      .select(col("a"), col("b"))
      .persist(MEMORY_AND_DISK)
    val cand = fp.as("p1")
      .join(fp.as("p2"), col("p2.a") === col("p1.a") && col("p2.b") > col("p1.b"))
      .select(col("p1.a").as("ca"), col("p1.b").as("cb"), col("p2.b").as("cc"))
      .join(fp.withColumnsRenamed(Map("a" -> "cb", "b" -> "cc")),
        Seq("cb", "cc"), "left_semi")
      .withColumnsRenamed(Map("ca" -> "a", "cb" -> "b", "cc" -> "c"))
    cand.join(op, Seq("a", "b"))
      .join(lp.select(col("l_orderkey").as("o"), col("l_partkey").as("c")),
        Seq("o", "c"), "left_semi")
      .groupBy(col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("supp"))
      .filter(col("supp") >= 2)
      .orderBy(col("supp").desc, col("a"), col("b"), col("c"))
  }

  /** q341: link prediction on the co-purchase graph — common-neighbor,
    * Jaccard, and Adamic–Adar scores for the top candidate NON-edges
    * (Liben-Nowell & Kleinberg's classic trio; AA is the one that
    * discounts promiscuous hubs, Σ_z 1/ln(deg_z+1) over shared
    * neighbors z — the +1 keeps degree-1 bridges finite). This is the
    * "recommend an edge" / entity-suggestion kernel: candidates are
    * exactly the 2-hop wedge pairs, scored and anti-joined against the
    * existing edge set.
    *
    * Determinism: cn and Jaccard are integer rationals (ppm); each AA
    * term rounds 1/ln(d+1) to 6 decimals BEFORE the DECIMAL(28,6) sum
    * (q265's rounded-transcendental discipline), so both engines
    * accumulate identical exact decimals. Output order (aa_ppm, cn desc,
    * pair asc) is total.
    *
    * Scale shape: candidate volume is wedge volume — bounded by
    * Σ deg² over the SUPPORT-THRESHOLDED edge set (q106's lesson: the
    * threshold is what keeps this subquadratic; at larger graphs the
    * same pipeline runs per degree-capped neighborhood). The degree
    * table is node-grain and broadcast into the wedge join. */
  val q341LinkPrediction: Q = Q(
    "q341_link_prediction",
    """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS (SELECT l1.l_partkey AS u, l2.l_partkey AS v
      |       FROM lp l1 JOIN lp l2
      |         ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
      |       GROUP BY 1, 2 HAVING count(*) >= 2),
      |adj AS (SELECT u AS n, v AS z FROM e0 UNION ALL SELECT v, u FROM e0),
      |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
      |cand AS (SELECT a.n AS u, b.n AS v, a.z,
      |                round(1.0 / ln(CAST(dz.d + 1 AS DOUBLE)), 6) AS aa_term
      |         FROM adj a JOIN adj b ON a.z = b.z AND a.n < b.n
      |              JOIN deg dz ON dz.n = a.z
      |         WHERE NOT EXISTS (SELECT 1 FROM e0
      |                           WHERE e0.u = a.n AND e0.v = b.n)),
      |sc AS (SELECT u, v, CAST(count(*) AS BIGINT) AS cn,
      |              CAST(sum(CAST(aa_term AS DECIMAL(28,6))) * 1000000 AS BIGINT)
      |                AS aa_ppm
      |       FROM cand GROUP BY 1, 2)
      |SELECT sc.u, sc.v, sc.cn,
      |       CAST(sc.cn * 1000000 // (du.d + dv.d - sc.cn) AS BIGINT)
      |         AS jaccard_ppm,
      |       sc.aa_ppm
      |FROM sc JOIN deg du ON du.n = sc.u JOIN deg dv ON dv.n = sc.v
      |ORDER BY sc.aa_ppm DESC, sc.cn DESC, sc.u, sc.v
      |LIMIT 20""".stripMargin) { (s, dir) =>
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e0 = supportedEdges(s, dir).persist(MEMORY_AND_DISK)
    val adj = e0.select(col("u").as("n"), col("v").as("z"))
      .unionAll(e0.select(col("v").as("n"), col("u").as("z")))
    val deg = adj.groupBy(col("n")).agg(count(lit(1)).as("d"))
    val cand = adj.as("a")
      .join(adj.as("b"), col("a.z") === col("b.z") && col("a.n") < col("b.n"))
      .join(deg.select(col("n").as("z"), col("d").as("dz")), Seq("z"))
      .join(e0.select(col("u").as("n_u"), col("v").as("n_v")),
        col("a.n") === col("n_u") && col("b.n") === col("n_v"), "left_anti")
      .select(col("a.n").as("u"), col("b.n").as("v"),
        round(lit(1.0) / log(col("dz").cast("double") + 1), 6)
          .cast("decimal(28,6)").as("aa_term"))
    val sc = cand.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("cn"),
        (sum(col("aa_term")) * 1000000).cast("long").as("aa_ppm"))
    sc.join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .select(col("u"), col("v"), col("cn"),
        expr("CAST(cn * 1000000 div (du + dv - cn) AS LONG)").as("jaccard_ppm"),
        col("aa_ppm"))
      .orderBy(col("aa_ppm").desc, col("cn").desc, col("u"), col("v"))
      .limit(20)
  }

  /** q342: local clustering coefficient — per-node cc(v) = 2·t(v) /
    * (d(v)·(d(v)−1)), the node-grain refinement of q106's single global
    * coefficient (Watts–Strogatz's measure; the profile separates
    * clique-embedded products from bridge products at the same degree).
    * Triangles come from the SAME oriented wedge-close as q106 — each
    * triangle found once at its (deg,id)-minimal apex, then exploded to
    * credit all three corners.
    *
    * Determinism: cc is one integer rational surfaced in ppm; output
    * order (cc_ppm desc, t desc, node asc) is total.
    *
    * Scale shape: q106's exactly (orientation bounds wedge volume by
    * E^1.5); the per-node credit is a 3-row explode of the triangle
    * list, and the rollup is node-grain. */
  val q342LocalClustering: Q = Q(
    "q342_local_clustering",
    """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS (SELECT l1.l_partkey AS u, l2.l_partkey AS v
      |       FROM lp l1 JOIN lp l2
      |         ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
      |       GROUP BY 1, 2 HAVING count(*) >= 2),
      |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
      |          SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0) GROUP BY 1),
      |ori AS (SELECT CASE WHEN (du.d, e0.u) < (dv.d, e0.v) THEN e0.u ELSE e0.v END AS a,
      |               CASE WHEN (du.d, e0.u) < (dv.d, e0.v) THEN e0.v ELSE e0.u END AS b,
      |               CASE WHEN (du.d, e0.u) < (dv.d, e0.v) THEN dv.d ELSE du.d END AS db
      |        FROM e0 JOIN deg du ON du.n = e0.u JOIN deg dv ON dv.n = e0.v),
      |tri AS (SELECT o1.a AS p, o1.b AS q, o2.b AS r
      |        FROM ori o1 JOIN ori o2
      |          ON o1.a = o2.a AND ((o1.db, o1.b) < (o2.db, o2.b))
      |        JOIN ori o3 ON o3.a = o1.b AND o3.b = o2.b),
      |tv AS (SELECT n, CAST(count(*) AS BIGINT) AS t FROM (
      |         SELECT p AS n FROM tri UNION ALL SELECT q FROM tri
      |         UNION ALL SELECT r FROM tri) GROUP BY 1)
      |SELECT deg.n AS node, deg.d, coalesce(tv.t, 0) AS t,
      |       CAST(coalesce(tv.t, 0) * 2000000 // (deg.d * (deg.d - 1)) AS BIGINT)
      |         AS cc_ppm
      |FROM deg LEFT JOIN tv ON tv.n = deg.n
      |WHERE deg.d >= 2
      |ORDER BY cc_ppm DESC, t DESC, node
      |LIMIT 20""".stripMargin) { (s, dir) =>
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e0 = supportedEdges(s, dir).persist(MEMORY_AND_DISK)
    val deg = e0.select(col("u").as("n")).unionAll(e0.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
      .persist(MEMORY_AND_DISK)
    val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val ori = e0
      .join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
      .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
      .select(when(fwd, col("u")).otherwise(col("v")).as("a"),
        when(fwd, col("v")).otherwise(col("u")).as("b"),
        when(fwd, col("dv")).otherwise(col("du")).as("db"))
      .persist(MEMORY_AND_DISK)
    val tri = ori.as("o1").join(ori.as("o2"),
        col("o1.a") === col("o2.a") &&
          (col("o1.db") < col("o2.db") ||
            (col("o1.db") === col("o2.db") && col("o1.b") < col("o2.b"))))
      .join(ori.as("o3"),
        col("o3.a") === col("o1.b") && col("o3.b") === col("o2.b"))
      .select(col("o1.a").as("p"), col("o1.b").as("q"), col("o2.b").as("r"))
    val tv = tri.select(col("p").as("n"))
      .unionAll(tri.select(col("q").as("n")))
      .unionAll(tri.select(col("r").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("t"))
    deg.filter(col("d") >= 2)
      .join(tv, Seq("n"), "left")
      .select(col("n").as("node"), col("d"),
        coalesce(col("t"), lit(0L)).as("t"),
        expr("CAST(coalesce(t, 0) * 2000000 div (d * (d - 1)) AS LONG)")
          .as("cc_ppm"))
      .orderBy(col("cc_ppm").desc, col("t").desc, col("node"))
      .limit(20)
  }

  /** q354: label-propagation communities (Raghavan et al.'s LPA) — the
    * near-linear community detector the graph tier lacked: connected
    * components (the dedup clusterer) find REACHABILITY, LPA finds
    * DENSITY (a bridge edge keeps two cliques in one component but LPA
    * splits them). Synchronous update — every node adopts its neighbors'
    * most frequent label, ties to the SMALLEST label — run for four
    * unrolled rounds (q109's device; fixed rounds make the output
    * deterministic even where free-running LPA would oscillate, and the
    * tie-break removes the algorithm's usual randomness entirely).
    *
    * Determinism: integer labels and counts end to end; per-node argmax
    * tie-breaks (count desc, label asc); output order (size desc,
    * community asc) is total.
    *
    * Scale shape: each round is ONE shuffle of the edge list joined to
    * the node-grain label table plus a per-node windowed argmax
    * (partitioned window — map-side group-limit applies); rounds are
    * data-independent in count, so the plan is 4× one round. At
    * real-graph scale the same loop runs with localCheckpoint per round
    * (the CC lesson from NOTES). */
  val q354LpaCommunities: Q =
    Q(
      "q354_lpa_communities",
      s"""WITH $duckLpaCtes,
         |comm AS (SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
         |         FROM l4 GROUP BY 1),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_communities FROM comm)
         |SELECT c.community, c.n_members, t.n_communities
         |FROM comm c, t
         |ORDER BY c.n_members DESC, c.community LIMIT 20""".stripMargin) { (s, dir) =>
      val l = lpa(supportedEdges(s, dir), count(lit(1)))
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val comm = l.groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_members"))
        .persist(MEMORY_AND_DISK)
      val t = comm.agg(count(lit(1)).as("n_communities"))
      comm.crossJoin(broadcast(t))
        .orderBy(col("n_members").desc, col("community")).limit(20)
    }

  /** q354/q381's shared LPA machinery — the DuckDB CTE prefix (support-2
    * edges, adjacency, l0 and 4 synchronous min-tie-break rounds ending
    * in `l4`), byte-identical to q354's original rendering. */
  private[ops] def duckLpaCtes: String = {
    val duckRounds = (1 to 4).map { i =>
      s"""c$i AS (SELECT a.n AS n, l${i - 1}.lbl AS lbl, count(*) AS c
         |        FROM adj a JOIN l${i - 1} ON l${i - 1}.n = a.z
         |        GROUP BY 1, 2),
         |l$i AS (SELECT n, lbl FROM c$i
         |        QUALIFY row_number() OVER (PARTITION BY n
         |                  ORDER BY c DESC, lbl) = 1)""".stripMargin
    }.mkString(",\n")
    s"""lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e0 AS (SELECT l1.l_partkey AS u, l2.l_partkey AS v
       |       FROM lp l1 JOIN lp l2
       |         ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
       |       GROUP BY 1, 2 HAVING count(*) >= 2),
       |adj AS (SELECT u AS n, v AS z FROM e0 UNION ALL SELECT v, u FROM e0),
       |l0 AS (SELECT DISTINCT n, n AS lbl FROM adj),
       |$duckRounds""".stripMargin
  }

  /** The deterministic 4-round label propagation kernel every LPA query
    * shares: synchronous rounds from the canonical own-id init, each
    * node adopting the neighbor label with the largest `vote` mass, ties
    * to the smaller label. `vote` aggregates over the adjacency rows a
    * node sees for one label: `count(lit(1))` is plain LPA (q354/q412),
    * `sum(col("w"))` weighted LPA over (u, v, w) edges (q423/q431). The
    * kernel is COMPONENT-LOCAL (a node's round-i label depends only on
    * its component's round-(i−1) labels; no global constants), which is
    * what qualifies it for [[Round14.componentFold]]. Edges (u, v, ...)
    * are checkpointed first — the rounds re-read them, and streaming
    * folds hand in deep lineages. Returns (n, lbl) after round 4. */
  private[graft] def lpa(edges: DataFrame, vote: Column): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.localCheckpoint()
    val rest = e.columns.filterNot(Set("u", "v")).map(col).toSeq
    val adj = e.select(col("u").as("n") +: col("v").as("z") +: rest: _*)
      .unionAll(e.select(col("v").as("n") +: col("u").as("z") +: rest: _*))
      .persist(MEMORY_AND_DISK) // probed every round
    var l = adj.select(col("n")).distinct().withColumn("lbl", col("n"))
    for (_ <- 1 to 4) {
      // (max vote, min label) per node as ONE hash aggregate: max_by
      // over the (c, -lbl) struct ≡ a row_number()-over-(c DESC, lbl)
      // rk=1 pick — (c, -lbl) is unique per (n, lbl), so the argmax is
      // deterministic — without the window's per-round partition SORT
      // (guide §2.4: an aggregate keyed the same way needs no second
      // ordering pass). Runs per streaming trigger in q419's fold.
      l = adj.join(l.withColumnRenamed("n", "z"), "z")
        .groupBy(col("n"), col("lbl")).agg(vote.as("c"))
        .groupBy(col("n"))
        .agg(max_by(col("lbl"), struct(col("c"), -col("lbl"))).as("lbl"))
    }
    l
  }

  /** q382: personalized (seed-teleport) PageRank — q109 ranks GLOBAL
    * importance; this ranks importance RELATIVE TO a seed set (the
    * topic-sensitive PageRank of Haveliwala, and the similarity kernel
    * behind "related items" on co-purchase graphs): the 15% teleport
    * mass returns only to the top-5 out-degree hub parts instead of
    * spreading uniformly, so scores measure proximity to the seeds.
    * Same integer fixpoint discipline as q109 (floor divisions per
    * iteration, 3 unrolled rounds), seeds chosen deterministically
    * (out-degree desc, part asc).
    *
    * Determinism: pure integer mass arithmetic; seeds are a
    * deterministic top-5; the leaderboard is the k-bounded
    * TakeOrderedAndProject + posexplode epilogue (no window).
    *
    * Scale shape: q109's — per-iteration one edge shuffle with map-side
    * partial sums; the seed set is a 5-row broadcast; personalization
    * changes WHERE mass teleports, not the plan. */
  val q382PersonalizedPagerank: Q = {
    val S = 1000000000000L
    Q("q382_personalized_pagerank",
      s"""WITH lp AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (
        |  SELECT l1.l_partkey AS u, l2.l_partkey AS v
        |  FROM lp l1 JOIN lp l2
        |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
        |outd AS (SELECT u, count(*) AS od FROM sym GROUP BY u),
        |seeds AS (SELECT u FROM outd ORDER BY od DESC, u LIMIT 5),
        |consts AS (SELECT $S // count(*) AS base,
        |                  (15 * ($S // 5)) // 100 AS sjump
        |           FROM outd),
        |r0 AS (SELECT u AS n, (SELECT base FROM consts) AS r FROM outd),
        |r1 AS (SELECT sym.v AS n,
        |              CASE WHEN sym.v IN (SELECT u FROM seeds)
        |                   THEN (SELECT sjump FROM consts) ELSE 0 END
        |                + (85 * sum(r0.r // outd.od)) // 100 AS r
        |       FROM sym JOIN r0 ON r0.n = sym.u JOIN outd ON outd.u = sym.u
        |       GROUP BY sym.v),
        |r2 AS (SELECT sym.v AS n,
        |              CASE WHEN sym.v IN (SELECT u FROM seeds)
        |                   THEN (SELECT sjump FROM consts) ELSE 0 END
        |                + (85 * sum(r1.r // outd.od)) // 100 AS r
        |       FROM sym JOIN r1 ON r1.n = sym.u JOIN outd ON outd.u = sym.u
        |       GROUP BY sym.v),
        |r3 AS (SELECT sym.v AS n,
        |              CASE WHEN sym.v IN (SELECT u FROM seeds)
        |                   THEN (SELECT sjump FROM consts) ELSE 0 END
        |                + (85 * sum(r2.r // outd.od)) // 100 AS r
        |       FROM sym JOIN r2 ON r2.n = sym.u JOIN outd ON outd.u = sym.u
        |       GROUP BY sym.v)
        |SELECT CAST(row_number() OVER (ORDER BY r DESC, n) AS BIGINT) AS pos,
        |       n, CAST(r AS BIGINT) AS r,
        |       n IN (SELECT u FROM seeds) AS is_seed
        |FROM r3 QUALIFY pos <= 20 ORDER BY pos""".stripMargin) { (s, dir) =>
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val e0 = supportedEdges(s, dir)
      val sym = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
      val outd = sym.groupBy(col("u")).agg(count(lit(1)).as("od"))
        .persist(MEMORY_AND_DISK)
      val seeds = outd.orderBy(col("od").desc, col("u")).limit(5)
        .select(col("u").as("n")).withColumn("is_seed", lit(true))
        .persist(MEMORY_AND_DISK)
      val nn = outd.count()
      // Empty support-2 graph: empty leaderboard, no driver-side div-0.
      if (nn == 0)
        s.range(0).select(col("id").as("pos"), col("id").as("n"),
          col("id").as("r"), lit(false).as("is_seed"))
      else {
        val base = S / nn
        val sjump = (15L * (S / 5L)) / 100L
        val edges = sym.join(outd, "u").persist(MEMORY_AND_DISK)
        var r = outd.select(col("u").as("n"), lit(base).as("r"))
        for (_ <- 1 to 3) {
          r = edges.join(r, col("n") === col("u"))
            .groupBy(col("v"))
            .agg(sum(expr("r div od")).as("c"))
            .select(col("v").as("n"), expr("(85 * c) div 100").as("c"))
            .join(broadcast(seeds), Seq("n"), "left")
            .select(col("n"),
              (when(col("is_seed"), lit(sjump)).otherwise(lit(0L))
                + col("c")).as("r"))
        }
        rankTopK(r, "r", "n", 20, "n", "r")
          .join(broadcast(seeds.select(col("n"), col("is_seed"))), Seq("n"),
            "left")
          .select(col("pos"), col("n"), col("r"),
            coalesce(col("is_seed"), lit(false)).as("is_seed"))
          .orderBy(col("pos"))
      }
  }
  }

  /** q383: INCREMENTAL connected components — the graph tier's "index
    * maintenance, not rebuild" discipline (the q97/q100 shape applied to
    * CC labels): the co-purchase edge stream splits into a day-1 archive
    * ((u+v) % 5 ≠ 0) whose labels are the PERSISTED index, and a day-2
    * delta ((u+v) % 5 = 0) folded in WITHOUT recomputing the full graph.
    *
    * Fold: each delta endpoint CONTRACTS to its day-1 component label
    * (new nodes label themselves), CC runs on that contracted meta-graph
    * only — ≤ 2·|Δ| meta-nodes regardless of the archive's size — and the
    * resulting old→new label mapping (≤ 2·|Δ| rows, broadcast) rewrites
    * the label table in ONE map-side join. Correct because day-1 labels
    * are min-ids of day-1 components and new nodes carry their own ids,
    * so the meta-CC min IS the merged component's global min id — exactly
    * the from-scratch batch labeling the oracle computes over the FULL
    * edge set (recursive-CTE closure, q47's device).
    *
    * Scale shape: delta work is two |Δ|-grain label joins + CC on the
    * contracted graph (∝ components TOUCHED by the delta, not graph
    * size); the archive's label table is read once map-side for the
    * rewrite — at 100 TB you'd publish only the changed labels through
    * the manifest store (Pipeline's partitioned upsert), never rewrite
    * the untouched components. */
  val q383CcIncremental: Q = Q(
    "q383_cc_incremental",
    """WITH RECURSIVE lp AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS (
      |  SELECT l1.l_partkey AS u, l2.l_partkey AS v
      |  FROM lp l1 JOIN lp l2
      |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |edges AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
      |reach AS (SELECT u, v FROM edges
      |          UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
      |SELECT u AS node_id, least(u, min(v)) AS component_id
      |FROM reach GROUP BY u ORDER BY node_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e0 = supportedEdges(s, dir).persist(MEMORY_AND_DISK)
    // Deterministic edge-arrival split: day-1 archive vs day-2 delta.
    val day1 = e0.filter((col("u") + col("v")) % 5 =!= 0)
    val delta = e0.filter((col("u") + col("v")) % 5 === 0)
      .persist(MEMORY_AND_DISK)
    // The persisted index: day-1 labels (component id = min part id),
    // through the TIERED closure (driver union-find below the 2M-edge
    // boundary — one collect, no per-round jobs; distributed min-label
    // above it — label-equal, proven at the boundary in BENCH_scale).
    val lbl = Fuzzy.resolveClusters(s,
      day1.select(col("u").as("doc_a"), col("v").as("doc_b")))
      .select(col("doc_id").as("n"), col("cluster_id").as("lab"))
      .persist(MEMORY_AND_DISK)
    ccFold(lbl, delta)
      .select(col("n").as("node_id"), col("lab").as("component_id"))
      .orderBy(col("node_id"))
  }

  /** Fold a batch of delta edges into a persisted min-id CC label table
    * without recomputing the full graph — q383's kernel, exposed so a
    * stored label index can be maintained across days exactly like the
    * band index ([[Dedup.incrementalDayRun]]) and the IVF index
    * ([[Similarity.ivfAppend]]).
    *
    * `labels`: (n, lab) with lab = min node id of n's component (the
    * invariant [[Dedup.connectedComponents]] establishes and this fold
    * preserves, so folds CHAIN day over day). `delta`: (u, v) new edges,
    * endpoints may be unknown to `labels`. Each delta endpoint contracts
    * to its current label (new nodes label themselves); CC over the
    * contracted meta-graph (≤ 2·|Δ| nodes, independent of archive size)
    * yields the old→new mapping, broadcast back over the label table in
    * one map-side join. Returns the updated (n, lab) table covering
    * labels' nodes ∪ delta's nodes. */
  def ccFold(labels: org.apache.spark.sql.DataFrame,
      delta: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // The meta-graph is ≤ 2·|Δ| rows; resolveClusters' driver tier
    // collects it in ONE bounded job (no count pass, no checkpoint
    // materialization — this runs per streaming trigger in q411/q419/
    // q424, where every extra job is fixed cost). The lineage-blowup
    // guard the old localCheckpoint provided (the inner CC loop
    // re-references its input every round over a plan that embeds the
    // whole day-1 iteration) moved into resolveClusters' DISTRIBUTED
    // tier, which checkpoints before looping — so the cut is paid only
    // on the rare big-graph path instead of every fold.
    val meta = delta
      .join(labels.select(col("n").as("u"), col("lab").as("la")), Seq("u"), "left")
      .join(labels.select(col("n").as("v"), col("lab").as("lb")), Seq("v"), "left")
      .select(coalesce(col("la"), col("u")).as("doc_a"),
        coalesce(col("lb"), col("v")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    // Tiered closure (Fuzzy.resolveClusters): ≤2·|Δ| meta-nodes usually
    // sit far below the 2M-edge driver-tier boundary (one collect, no
    // per-round jobs); past it the distributed min-label loop takes over
    // with identical component-min labels.
    val mapping = Fuzzy.resolveClusters(labels.sparkSession, meta)
      .select(col("doc_id").as("lab"), col("cluster_id").as("newlab"))
    // Nodes the delta INTRODUCES enter the table labeled by their own id;
    // then one broadcast (delta-sized) join re-resolves every label. The
    // archive-grain table is touched exactly once, map-side — no
    // archive-sized shuffle, no recompute.
    val deltaNodes = delta.select(col("u").as("n"))
      .unionByName(delta.select(col("v").as("n"))).distinct()
    val newNodes = deltaNodes.join(labels, Seq("n"), "left_anti")
      .select(col("n"), col("n").as("lab"))
    labels.unionByName(newNodes)
      .join(broadcast(mapping), Seq("lab"), "left")
      .select(col("n"), coalesce(col("newlab"), col("lab")).as("lab"))
  }

  /** q381: Newman modularity of the LPA partition — the QUALITY audit
    * q354's community sizes don't give: Q = Σ_c (e_c/m − (d_c/2m)²)
    * measures how much denser the communities are than a degree-
    * preserving random graph (Q ≈ 0: the "communities" are noise;
    * Q ≳ 0.3: real structure). Computed EXACTLY by cross-multiplication:
    * Q·4m² = Σ_c (4·m·e_c − d_c²), all integers, so the verdict never
    * hinges on float summation order.
    *
    * Determinism: labels are q354's deterministic rounds; e_c, d_c, m
    * are integer counts; one ppm floor at the surface.
    *
    * Scale shape: the label fixpoint is q354's (4× one edge shuffle);
    * e_c is one edge⋈label⋈label join at edge grain; d_c a node-grain
    * rollup; the modularity sum is community-grain. */
  val q381Modularity: Q = Q(
    "q381_modularity",
    s"""WITH $duckLpaCtes,
       |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
       |dc AS (SELECT l.lbl, CAST(sum(deg.d) AS BIGINT) AS dsum
       |       FROM l4 l JOIN deg ON deg.n = l.n GROUP BY 1),
       |ec AS (SELECT la.lbl, CAST(count(*) AS BIGINT) AS ein
       |       FROM e0 JOIN l4 la ON la.n = e0.u JOIN l4 lb ON lb.n = e0.v
       |       WHERE la.lbl = lb.lbl GROUP BY 1),
       |qn AS (SELECT CAST(sum(CAST(4 * mm.m * coalesce(ec.ein, 0) AS HUGEINT)
       |                        - CAST(dc.dsum AS HUGEINT) * dc.dsum)
       |         AS HUGEINT) AS q_num,
       |              CAST(count(*) AS BIGINT) AS n_communities
       |       FROM dc LEFT JOIN ec USING (lbl), mm)
       |SELECT qn.n_communities, mm.m AS m_edges,
       |       CAST(qn.q_num AS BIGINT) AS q_num,
       |       CAST(4 * mm.m * mm.m AS BIGINT) AS q_den,
       |       CAST(qn.q_num * 1000000 // (4 * mm.m * mm.m) AS BIGINT)
       |         AS modularity_ppm
       |FROM mm, qn""".stripMargin) { (s, dir) =>
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val dec = "decimal(38,0)"
    val e0 = supportedEdges(s, dir).persist(MEMORY_AND_DISK)
    val lp = lpa(e0, count(lit(1))).persist(MEMORY_AND_DISK)
    val deg = e0.select(col("u").as("n")).unionAll(e0.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val mm = e0.agg(count(lit(1)).as("m"))
    val dc = lp.join(deg, "n").groupBy(col("lbl"))
      .agg(sum(col("d")).as("dsum"))
    val ec = e0
      .join(lp.select(col("n").as("u"), col("lbl").as("la")), "u")
      .join(lp.select(col("n").as("v"), col("lbl").as("lb")), "v")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("ein"))
    val qn = dc.join(ec, Seq("lbl"), "left").crossJoin(broadcast(mm))
      .agg(sum(expr(s"CAST(4 * m * coalesce(ein, 0) AS $dec)")
        - expr(s"CAST(dsum AS $dec) * dsum")).cast(dec).as("q_num"),
        count(lit(1)).as("n_communities"))
    mm.crossJoin(broadcast(qn))
      .select(col("n_communities"), col("m").as("m_edges"),
        col("q_num").cast("long").as("q_num"),
        expr("CAST(4 * m * m AS LONG)").as("q_den"),
        expr("CAST(q_num * 1000000 div (4 * m * m) AS LONG)")
          .as("modularity_ppm"))
  }

  /** q360: Weisfeiler–Lehman color refinement (2 rounds) — the graph
    * FINGERPRINT: each node's color becomes the hash of its own color
    * plus its sorted multiset of neighbor colors, so after r rounds two
    * nodes share a color iff their r-hop neighborhoods are structurally
    * identical. The color-class histogram is the 1-WL graph signature —
    * what graph dedup / drift monitoring compares across snapshots
    * (changing an edge anywhere changes colors 2 hops around it).
    *
    * Determinism: colors are portable md5 strings; the neighbor multiset
    * is a SORTED joined string, identical in both engines
    * (array_sort(collect_list) ↔ list_sort(list)); outputs are counts.
    *
    * Scale shape: each round is one shuffle of the edge list joined to
    * the node-color table plus a per-node sorted-list aggregate (degree-
    * bounded lists on the support-thresholded graph); the signature
    * rollup is color-grain. */
  val q360WlRefinement: Q = Q(
    "q360_wl_refinement",
    """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS (SELECT l1.l_partkey AS u, l2.l_partkey AS v
      |       FROM lp l1 JOIN lp l2
      |         ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
      |       GROUP BY 1, 2 HAVING count(*) >= 2),
      |adj AS (SELECT u AS n, v AS z FROM e0 UNION ALL SELECT v, u FROM e0),
      |c0 AS (SELECT DISTINCT n, md5('wl0') AS c FROM adj),
      |c1 AS (SELECT a.n,
      |              md5(concat(c0.c, '|',
      |                array_to_string(list_sort(list(cz.c)), ','))) AS c
      |       FROM adj a JOIN c0 ON c0.n = a.n JOIN c0 cz ON cz.n = a.z
      |       GROUP BY a.n, c0.c),
      |c2 AS (SELECT a.n,
      |              md5(concat(c1.c, '|',
      |                array_to_string(list_sort(list(cz.c)), ','))) AS c
      |       FROM adj a JOIN c1 ON c1.n = a.n JOIN c1 cz ON cz.n = a.z
      |       GROUP BY a.n, c1.c),
      |h AS (SELECT 0 AS round, CAST(count(DISTINCT c) AS BIGINT) AS n_colors,
      |             CAST(count(*) AS BIGINT) AS n_nodes FROM c0
      |      UNION ALL
      |      SELECT 1, count(DISTINCT c), count(*) FROM c1
      |      UNION ALL
      |      SELECT 2, count(DISTINCT c), count(*) FROM c2),
      |m AS (SELECT 2 AS round, CAST(max(s) AS BIGINT) AS max_class
      |      FROM (SELECT count(*) AS s FROM c2 GROUP BY c))
      |SELECT CAST(h.round AS BIGINT) AS round, h.n_nodes, h.n_colors,
      |       CAST(CASE WHEN h.round = 2 THEN m.max_class END AS BIGINT)
      |         AS max_class_r2
      |FROM h, m ORDER BY round""".stripMargin) { (s, dir) =>
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e0 = supportedEdges(s, dir)
    val adj = e0.select(col("u").as("n"), col("v").as("z"))
      .unionAll(e0.select(col("v").as("n"), col("u").as("v2"))
        .withColumnRenamed("v2", "z"))
      .persist(MEMORY_AND_DISK)
    var c = adj.select(col("n")).distinct().withColumn("c", md5(lit("wl0")))
      .persist(MEMORY_AND_DISK)
    val rounds = scala.collection.mutable.Buffer[(Long, Long, Long)]()
    rounds += ((0L, c.count(), c.select(col("c")).distinct().count()))
    var last = c
    for (r <- 1 to 2) {
      val next = adj.join(c, "n")
        .join(c.select(col("n").as("z"), col("c").as("cz")), "z")
        .groupBy(col("n"), col("c"))
        .agg(expr("array_join(array_sort(collect_list(cz)), ',')").as("ns"))
        .select(col("n"), md5(concat(col("c"), lit("|"), col("ns"))).as("c"))
        .persist(MEMORY_AND_DISK)
      rounds += ((r.toLong, next.count(), next.select(col("c")).distinct().count()))
      c = next
      last = next
    }
    val maxClass = last.groupBy(col("c")).agg(count(lit(1)).as("s"))
      .agg(max(col("s"))).collect()(0).getLong(0)
    import s.implicits._
    rounds.toSeq.toDF("round", "n_nodes", "n_colors")
      .withColumn("max_class_r2",
        when(col("round") === 2, lit(maxClass)).otherwise(lit(null).cast("long")))
      .orderBy(col("round"))
  }

  /** q361: degree assortativity — Newman's r: the Pearson correlation of
    * endpoint degrees over the (symmetrized) edge list. Positive r =
    * hubs link to hubs (social shape); negative = hubs link to leaves
    * (hub-and-spoke catalogs). One number that says which scaling
    * regime the co-purchase graph is in — and therefore whether the
    * q106/q342 orientation trick is merely useful or ESSENTIAL.
    *
    * Determinism: over the symmetrized list the two marginals coincide,
    * so r² 's denominator is a PERFECT square and r is ONE integer
    * rational: r_ppm = (M·Σxy − (Σx)²)·10⁶ // (M·Σx² − (Σx)²) — no
    * sqrt, no float, exact.
    *
    * Scale shape: two broadcast joins of the node-grain degree table
    * onto the edge list, one 1-row rollup. */
  val q361Assortativity: Q = Q(
    "q361_assortativity",
    """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS (SELECT l1.l_partkey AS u, l2.l_partkey AS v
      |       FROM lp l1 JOIN lp l2
      |         ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
      |       GROUP BY 1, 2 HAVING count(*) >= 2),
      |adj AS (SELECT u AS n, v AS z FROM e0 UNION ALL SELECT v, u FROM e0),
      |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
      |ed AS (SELECT du.d AS x, dz.d AS y
      |       FROM adj JOIN deg du ON du.n = adj.n JOIN deg dz ON dz.n = adj.z),
      |g AS (SELECT CAST(count(*) AS HUGEINT) AS m,
      |             CAST(sum(x) AS HUGEINT) AS sx,
      |             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
      |             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      |      FROM ed)
      |SELECT CAST(m AS BIGINT) AS m_directed_edges,
      |       CAST((m * sxy - sx * sx) * 1000000
      |            // nullif(m * sxx - sx * sx, 0) AS BIGINT) AS r_ppm
      |FROM g""".stripMargin) { (s, dir) =>
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val dec38 = "decimal(38,0)"
    val e0 = supportedEdges(s, dir)
    val adj = e0.select(col("u").as("n"), col("v").as("z"))
      .unionAll(e0.select(col("v").as("n"), col("u").as("z")))
      .persist(MEMORY_AND_DISK)
    val deg = adj.groupBy(col("n")).agg(count(lit(1)).as("d"))
    adj.join(deg.select(col("n"), col("d").as("x")), "n")
      .join(deg.select(col("n").as("z"), col("d").as("y")), "z")
      .agg(count(lit(1)).cast(dec38).as("m"),
        sum(col("x").cast(dec38)).as("sx"),
        sum(col("x").cast(dec38) * col("x")).as("sxx"),
        sum(col("x").cast(dec38) * col("y")).as("sxy"))
      .select(col("m").cast("long").as("m_directed_edges"),
        expr("""CAST((m * sxy - sx * sx) * 1000000
               |     div nullif(m * sxx - sx * sx, 0) AS LONG)""".stripMargin)
          .as("r_ppm"))
  }

  val all: Seq[Q] = Seq(q341LinkPrediction, q342LocalClustering,
    q354LpaCommunities, q360WlRefinement, q361Assortativity,
    q106TriangleCount, q109PageRank, q128BfsHops,
    q221AssociationRules, q277Hits, q290ItemCf, q292KCore, q308AprioriTriples,
    q378RecDiversity, q381Modularity, q382PersonalizedPagerank,
    q383CcIncremental)
}
