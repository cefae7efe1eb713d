package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import graft.{Q, Tables}

/** Round-15 batch 3: community STRUCTURE QUALITY over the graph-kernel
  * tier's partitions (modularity q436, Louvain move-gains q437 — the
  * "is this clustering any good, and where would one greedy sweep
  * improve it" readout the LPA family never had), personalized PageRank
  * (q438 — seed-conditioned relevance, the recommendation/similar-item
  * complement to q403's global rank), the principal spectral direction
  * of the embedding corpus (q439/q440 — Gram matrix + power iteration,
  * the whitening/feature-extraction leg of the vector tier), and three
  * training-data curation ops: character-entropy quality scoring
  * (q441), sqrt-damped source mixing weights (q442), and GSP-style
  * sequential pattern mining over event sessions (q443).
  *
  * All extensions beyond the reference's git-ETL surface (the reference
  * has no graph/vector/curation tier at all — see SURVEY.md §2.9); the
  * cross-engine determinism disciplines (integer/DECIMAL(38,0)
  * cross-multiplication, rounded-ln nano units, round(x·1000)
  * quantization, IntegralDivide truncation) are the ones COVERAGE.md
  * §"Cross-engine determinism rules" establishes.
  */
object Round15b {

  // -------------------------------------------------------------------
  // q436 — modularity of the weighted-LPA partition
  // -------------------------------------------------------------------

  /** Shared oracle prelude: the weighted support-2 co-purchase graph +
    * 4-round weighted LPA (Round15.duckWlpa: e0/adj/l0..l4), node
    * strengths, community strengths, in-community weights, and the
    * exact per-community modularity numerator
    * qnum_c = 4W·in_c − d_c² (so Q·4W² = Σ_c qnum_c — every term an
    * integer; HUGEINT on the DuckDB side, DECIMAL(38,0) on Spark's). */
  private def duckModularity: String =
    s"""${Round15.duckWlpa},
      |str AS (SELECT n, CAST(sum(w) AS BIGINT) AS sw FROM adj GROUP BY 1),
      |tw AS (SELECT CAST(sum(w) AS BIGINT) AS ww FROM e0),
      |comm AS (SELECT lbl, CAST(count(*) AS BIGINT) AS n_nodes
      |         FROM l4 GROUP BY 1),
      |winc AS (SELECT la.lbl AS lbl, CAST(sum(e0.w) AS BIGINT) AS in_w
      |         FROM e0 JOIN l4 la ON la.n = e0.u
      |                 JOIN l4 lb ON lb.n = e0.v
      |         WHERE la.lbl = lb.lbl GROUP BY 1),
      |dcs AS (SELECT l4.lbl, CAST(sum(str.sw) AS BIGINT) AS deg_w
      |        FROM l4 JOIN str ON str.n = l4.n GROUP BY 1),
      |pc AS (SELECT c.lbl, c.n_nodes, coalesce(wi.in_w, 0) AS in_w,
      |              d.deg_w,
      |              CAST(4 AS HUGEINT) * tw.ww * coalesce(wi.in_w, 0)
      |                - CAST(d.deg_w AS HUGEINT) * d.deg_w AS qnum,
      |              CAST(4 AS HUGEINT) * tw.ww * tw.ww AS qden
      |       FROM comm c
      |       JOIN dcs d ON d.lbl = c.lbl
      |       LEFT JOIN winc wi ON wi.lbl = c.lbl, tw)""".stripMargin

  /** q436: MODULARITY of the weighted-LPA partition — the clustering-
    * quality readout every community kernel so far (q354/q412/q423/q431)
    * produced labels WITHOUT: Q = Σ_c [in_c/W − (d_c/2W)²] over the
    * weighted support-2 co-purchase graph under q423's 4-round weighted
    * LPA labels. Exactness: Q·4W² = Σ_c (4W·in_c − d_c²) is pure
    * integer arithmetic (DECIMAL(38,0) / HUGEINT), surfaced as ppm by
    * IntegralDivide — truncation toward zero verified identical in both
    * engines (q193's lesson), which matters here because a community's
    * qnum CAN be negative (d_c² dominating means worse-than-random).
    * Output: the whole-partition row (community = −1) + top-20
    * communities by size with their per-community ppm contributions.
    *
    * Scale shape: one edge-grain join against the label table for in_c,
    * one node-grain join for d_c, then everything is community-grain
    * (≤ #labels rows). W is a scalar. No quadratics anywhere; the
    * label join is the same shuffle the LPA rounds already pay. */
  val q436Modularity: Q = Q(
    "q436_modularity",
    s"""WITH $duckModularity,
      |tot AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS n_nodes,
      |               CAST(sum(in_w) AS BIGINT) AS in_w,
      |               CAST(sum(deg_w) AS BIGINT) AS deg_w,
      |               sum(qnum) AS qnumsum
      |        FROM pc),
      |u AS (SELECT CAST(-1 AS BIGINT) AS community, t.n_nodes, t.in_w,
      |             t.deg_w,
      |             CAST(t.qnumsum * 1000000
      |               // (CAST(4 AS HUGEINT) * tw.ww * tw.ww) AS BIGINT)
      |               AS q_ppm
      |      FROM tot t, tw WHERE t.n_nodes IS NOT NULL
      |      UNION ALL
      |      SELECT CAST(lbl AS BIGINT), n_nodes, in_w, deg_w,
      |             CAST(qnum * 1000000 // qden AS BIGINT)
      |      FROM pc)
      |SELECT community, n_nodes, in_w, deg_w, q_ppm FROM u
      |ORDER BY CASE WHEN community = -1 THEN 0 ELSE 1 END,
      |         n_nodes DESC, community
      |LIMIT 21""".stripMargin) { (s, dir) =>
    val e = Graph.coPurchaseEdges(s, dir).persist(MEMORY_AND_DISK)
    val l = Graph.lpa(e, sum(col("w"))).persist(MEMORY_AND_DISK)
    val ww = e.agg(coalesce(sum(col("w")), lit(0L)).cast("long"))
      .head.getLong(0)
    if (ww == 0L)
      s.range(0).select(col("id").as("community"), col("id").as("n_nodes"),
        col("id").as("in_w"), col("id").as("deg_w"), col("id").as("q_ppm"))
    else {
      val sym = e.unionAll(
        e.select(col("v").as("u"), col("u").as("v"), col("w")))
      val str = sym.groupBy(col("u")).agg(sum(col("w")).as("sw"))
      val comm = l.groupBy(col("lbl"))
        .agg(count(lit(1)).as("n_nodes"))
      val winc = e.join(l.as("la"), col("u") === col("la.n"))
        .join(l.as("lb"), col("v") === col("lb.n"))
        .filter(col("la.lbl") === col("lb.lbl"))
        .groupBy(col("la.lbl").as("lbl"))
        .agg(sum(col("w")).as("in_w"))
      val dcs = l.join(str, col("n") === col("u"))
        .groupBy(col("lbl")).agg(sum(col("sw")).as("deg_w"))
      val pc = comm.join(dcs, "lbl")
        .join(winc.withColumnRenamed("in_w", "in_w0"), Seq("lbl"), "left")
        .select(col("lbl"), col("n_nodes"),
          coalesce(col("in_w0"), lit(0L)).as("in_w"), col("deg_w"))
      modularityRows(pc, ww)
    }
  }

  /** q436's epilogue over community stats (lbl, n_nodes, in_w, deg_w):
    * the exact qnum = 4W·in_c − d_c² per community, the whole-partition
    * row, ppm by IntegralDivide, the size ordering, top 21. Shared with
    * the q444 streaming twin, whose folded store lands on exactly this
    * grain. */
  private[graft] def modularityRows(commStats: DataFrame, ww: Long)
      : DataFrame = {
    val pc = commStats
      .withColumn("qnum",
        expr(s"CAST(4 AS DECIMAL(38,0)) * $ww * in_w" +
          " - CAST(deg_w AS DECIMAL(38,0)) * deg_w"))
      .persist(MEMORY_AND_DISK)
    val qden = s"(CAST(4 AS DECIMAL(38,0)) * $ww * $ww)"
    val tot = pc.agg(
      sum(col("n_nodes")).cast("long").as("n_nodes"),
      sum(col("in_w")).cast("long").as("in_w"),
      sum(col("deg_w")).cast("long").as("deg_w"),
      sum(col("qnum")).as("qnumsum"))
      .filter(col("n_nodes").isNotNull)
      .select(lit(-1L).as("community"), col("n_nodes"), col("in_w"),
        col("deg_w"),
        expr(s"CAST((qnumsum * 1000000) div $qden AS BIGINT)")
          .as("q_ppm"))
    val per = pc.select(col("lbl").cast("long").as("community"),
      col("n_nodes").cast("long"), col("in_w").cast("long"),
      col("deg_w").cast("long"),
      expr(s"CAST((qnum * 1000000) div $qden AS BIGINT)").as("q_ppm"))
    tot.unionAll(per)
      .orderBy(expr("CASE WHEN community = -1 THEN 0 ELSE 1 END"),
        col("n_nodes").desc, col("community"))
      .limit(21)
  }

  // -------------------------------------------------------------------
  // q437 — greedy Louvain move gains (one phase-1 sweep readout)
  // -------------------------------------------------------------------

  /** q437: LOUVAIN MOVE GAINS — for every node, the best single-node
    * community move and its exact modularity delta, i.e. one Louvain
    * phase-1 sweep EVALUATED (not applied — applying is order-dependent;
    * the evaluated gain surface is deterministic and is also exactly
    * what a bulk-synchronous distributed Louvain computes per round).
    * Moving i from a to b changes Q·4W² by
    * ΔQ·4W² = 4W·(k_{i,b} − k_{i,a}) − 2·k_i·(d_b − d_a) − 2·k_i²
    * (insert/remove strength bookkeeping; all integers). Candidates are
    * i's NEIGHBORING communities only — the Louvain restriction that
    * bounds work at edge grain. Argmax per node by (gain DESC, lbl),
    * positive gains only, top-30 movers by (gain DESC, n).
    *
    * Scale shape: k_{i,c} is one edge-grain join (adjacency ⋈ labels)
    * + one (i, c) groupBy — the same shuffle an LPA round pays; the
    * argmax is a node-partitioned window; d_c/k_i are community-/node-
    * grain broadcasts. No community-pair quadratics. */
  val q437LouvainGain: Q = Q(
    "q437_louvain_gain",
    s"""WITH $duckModularity,
      |kic AS (SELECT a.n AS i, l4.lbl AS c, CAST(sum(a.w) AS BIGINT) AS k
      |        FROM adj a JOIN l4 ON l4.n = a.z GROUP BY 1, 2),
      |cand AS (SELECT k.i, o.lbl AS from_lbl, k.c AS to_lbl,
      |                coalesce(ko.k, 0) AS kia, k.k AS kib,
      |                st.sw AS ki, da.deg_w AS dega, db.deg_w AS degb
      |         FROM kic k
      |         JOIN l4 o ON o.n = k.i
      |         LEFT JOIN kic ko ON ko.i = k.i AND ko.c = o.lbl
      |         JOIN str st ON st.n = k.i
      |         JOIN dcs da ON da.lbl = o.lbl
      |         JOIN dcs db ON db.lbl = k.c
      |         WHERE k.c <> o.lbl),
      |g AS (SELECT i, from_lbl, to_lbl,
      |             CAST(4 AS HUGEINT) * tw.ww * (kib - kia)
      |               - CAST(2 AS HUGEINT) * ki * (degb - dega)
      |               - CAST(2 AS HUGEINT) * ki * ki AS gain
      |      FROM cand, tw),
      |best AS (SELECT i, from_lbl, to_lbl, CAST(gain AS BIGINT) AS gain
      |         FROM g
      |         QUALIFY row_number() OVER (PARTITION BY i
      |                   ORDER BY gain DESC, to_lbl) = 1)
      |SELECT CAST(row_number() OVER (ORDER BY gain DESC, i) AS BIGINT)
      |         AS pos,
      |       i AS n, from_lbl, to_lbl, gain
      |FROM best WHERE gain > 0
      |ORDER BY pos LIMIT 30""".stripMargin) { (s, dir) =>
    val e = Graph.coPurchaseEdges(s, dir).persist(MEMORY_AND_DISK)
    val l = Graph.lpa(e, sum(col("w"))).persist(MEMORY_AND_DISK)
    val ww = e.agg(coalesce(sum(col("w")), lit(0L)).cast("long"))
      .head.getLong(0)
    if (ww == 0L)
      s.range(0).select(col("id").as("pos"), col("id").as("n"),
        col("id").as("from_lbl"), col("id").as("to_lbl"),
        col("id").as("gain"))
    else {
      val sym = e.unionAll(
        e.select(col("v").as("u"), col("u").as("v"), col("w")))
      val str = sym.groupBy(col("u")).agg(sum(col("w")).as("sw"))
      val dcs = l.join(str, col("n") === col("u"))
        .groupBy(col("lbl")).agg(sum(col("sw")).as("deg_w"))
        .persist(MEMORY_AND_DISK)
      val kic = sym.select(col("u").as("i"), col("v").as("z"), col("w"))
        .join(l.select(col("n"), col("lbl").as("c")), col("z") === col("n"))
        .groupBy(col("i"), col("c")).agg(sum(col("w")).as("k"))
        .persist(MEMORY_AND_DISK)
      val cand = kic
        .join(l.select(col("n"), col("lbl").as("from_lbl")),
          col("i") === col("n"))
        .filter(col("c") =!= col("from_lbl"))
        .join(kic.select(col("i").as("i2"), col("c").as("c2"),
          col("k").as("kia0")),
          col("i2") === col("i") && col("c2") === col("from_lbl"), "left")
        .join(str.select(col("u").as("su"), col("sw").as("ki")),
          col("su") === col("i"))
        .join(dcs.select(col("lbl").as("la"), col("deg_w").as("dega")),
          col("la") === col("from_lbl"))
        .join(dcs.select(col("lbl").as("lb"), col("deg_w").as("degb")),
          col("lb") === col("c"))
        .select(col("i"), col("from_lbl"), col("c").as("to_lbl"),
          coalesce(col("kia0"), lit(0L)).as("kia"), col("k").as("kib"),
          col("ki"), col("dega"), col("degb"))
      val g = cand.withColumn("gain",
        expr(s"CAST(4 AS DECIMAL(38,0)) * $ww * (kib - kia)" +
          " - CAST(2 AS DECIMAL(38,0)) * ki * (degb - dega)" +
          " - CAST(2 AS DECIMAL(38,0)) * ki * ki"))
      val best = g.withColumn("rnk",
          row_number().over(Window.partitionBy(col("i"))
            .orderBy(col("gain").desc, col("to_lbl"))))
        .filter(col("rnk") === 1 && col("gain") > 0)
        .select(col("i").as("n"), col("from_lbl"), col("to_lbl"),
          col("gain").cast("long").as("gain"))
      // Top-30 movers: sort-limit first so the pos window runs on ≤ 30
      // rows (the rankTopK economics, with the extra payload columns).
      best.orderBy(col("gain").desc, col("n")).limit(30)
        .withColumn("pos", row_number()
          .over(Window.orderBy(col("gain").desc, col("n"))).cast("long"))
        .select(col("pos"), col("n"), col("from_lbl"), col("to_lbl"),
          col("gain"))
        .orderBy(col("pos"))
    }
  }

  // -------------------------------------------------------------------
  // q438 — personalized PageRank from a top-strength seed set
  // -------------------------------------------------------------------

  /** q438: PERSONALIZED PageRank — q403's weighted power iteration with
    * the teleport vector concentrated on the 8 highest-strength nodes
    * (ties by id) instead of uniform: the seed-conditioned relevance
    * ranking behind "similar items" / "related to your catalog anchors"
    * retrieval. Same integer nano-mass discipline (10¹² base split over
    * the seeds, 15/85 jump/propagate in integer division, 3 rounds);
    * the jump mass re-enters ONLY at seeds each round, expressed as a
    * jump ∪ propagation union-then-sum so seeds with no in-mass still
    * restart (a GROUP BY over propagated rows alone would drop them).
    * is_seed rides the top-20 output.
    *
    * Scale shape: identical to q403 — per round one edge-grain shuffle
    * bounded by |E|, rank state at node grain; the seed table is ≤ 8
    * rows (broadcast). Top-20 via the sort-limit rankTopK device. */
  val q438Ppr: Q = Q(
    "q438_ppr",
    """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |ew AS (SELECT l1.l_partkey AS u, l2.l_partkey AS v,
      |              CAST(count(*) AS BIGINT) AS w
      |       FROM lp l1 JOIN lp l2
      |         ON l1.l_orderkey = l2.l_orderkey
      |        AND l1.l_partkey < l2.l_partkey
      |       GROUP BY 1, 2 HAVING count(*) >= 2),
      |sym AS (SELECT u, v, w FROM ew UNION ALL SELECT v, u, w FROM ew),
      |swt AS (SELECT u, CAST(sum(w) AS BIGINT) AS sw FROM sym GROUP BY 1),
      |sd AS (SELECT u AS nd FROM swt
      |       QUALIFY row_number() OVER (ORDER BY sw DESC, u) <= 8),
      |ks AS (SELECT count(*) AS k FROM sd),
      |r0 AS (SELECT nd, 1000000000000 // (SELECT k FROM ks) AS r FROM sd),
      |r1 AS (SELECT nd, CAST(sum(r) AS BIGINT) AS r FROM (
      |         SELECT nd, (15 * (1000000000000 // (SELECT k FROM ks)))
      |                      // 100 AS r FROM sd
      |         UNION ALL
      |         SELECT sym.v, (85 * sum((r0.r * sym.w) // swt.sw)) // 100
      |         FROM sym JOIN r0 ON r0.nd = sym.u
      |                  JOIN swt ON swt.u = sym.u
      |         GROUP BY 1) t GROUP BY 1),
      |r2 AS (SELECT nd, CAST(sum(r) AS BIGINT) AS r FROM (
      |         SELECT nd, (15 * (1000000000000 // (SELECT k FROM ks)))
      |                      // 100 AS r FROM sd
      |         UNION ALL
      |         SELECT sym.v, (85 * sum((r1.r * sym.w) // swt.sw)) // 100
      |         FROM sym JOIN r1 ON r1.nd = sym.u
      |                  JOIN swt ON swt.u = sym.u
      |         GROUP BY 1) t GROUP BY 1),
      |r3 AS (SELECT nd, CAST(sum(r) AS BIGINT) AS r FROM (
      |         SELECT nd, (15 * (1000000000000 // (SELECT k FROM ks)))
      |                      // 100 AS r FROM sd
      |         UNION ALL
      |         SELECT sym.v, (85 * sum((r2.r * sym.w) // swt.sw)) // 100
      |         FROM sym JOIN r2 ON r2.nd = sym.u
      |                  JOIN swt ON swt.u = sym.u
      |         GROUP BY 1) t GROUP BY 1),
      |tk AS (SELECT CAST(row_number() OVER (ORDER BY r DESC, nd)
      |                AS BIGINT) AS pos,
      |              nd AS n, CAST(r AS BIGINT) AS r
      |       FROM r3 QUALIFY pos <= 20)
      |SELECT tk.pos, tk.n, tk.r,
      |       CAST(CASE WHEN sd.nd IS NULL THEN 0 ELSE 1 END AS BIGINT)
      |         AS is_seed
      |FROM tk LEFT JOIN sd ON sd.nd = tk.n
      |ORDER BY tk.pos""".stripMargin) { (s, dir) =>
    val ew = Graph.coPurchaseEdges(s, dir)
    val sym = ew.unionAll(
      ew.select(col("v").as("u"), col("u").as("v"), col("w")))
    val swt = sym.groupBy(col("u")).agg(sum(col("w")).as("sw"))
      .persist(MEMORY_AND_DISK)
    val seeds = swt.orderBy(col("sw").desc, col("u")).limit(8)
      .select(col("u").as("nd")).persist(MEMORY_AND_DISK)
    val k = seeds.count()
    if (k == 0L)
      s.range(0).select(col("id").as("pos"), col("id").as("n"),
        col("id").as("r"), col("id").as("is_seed"))
    else {
      val base = 1000000000000L / k
      val jump = (15L * base) / 100L
      val edges = sym.join(swt, "u").persist(MEMORY_AND_DISK)
      var r = seeds.select(col("nd").as("n"), lit(base).as("r"))
      for (_ <- 1 to 3) {
        val prop = edges.join(r, col("n") === col("u"))
          .groupBy(col("v"))
          .agg(sum(expr("(r * w) div sw")).as("c"))
          .select(col("v").as("n"), expr("(85 * c) div 100").as("r"))
        val jmp = seeds.select(col("nd").as("n"), lit(jump).as("r"))
        r = prop.unionAll(jmp).groupBy(col("n"))
          .agg(sum(col("r")).cast("long").as("r"))
      }
      Graph.rankTopK(r, "r", "n", 20, "n", "r")
        .join(seeds, col("n") === col("nd"), "left")
        .select(col("pos"), col("n"), col("r"),
          when(col("nd").isNull, 0L).otherwise(1L).as("is_seed"))
        .orderBy(col("pos"))
    }
  }

  // -------------------------------------------------------------------
  // q439/q440 — principal spectral direction of the embedding corpus
  // -------------------------------------------------------------------

  /** Shared oracle chain: quantized element grain (round(x·1000), the
    * q195/q217 device), the 64×64 integer Gram matrix, four power-
    * iteration steps with max-|·| renormalization to a ±10⁶ scale
    * (HUGEINT accumulation, integer division — every step exact), and
    * one extra multiply for the Rayleigh quotient. */
  private def duckPca: String =
    """el AS (SELECT vec_id, t.i - 1 AS i,
      |              CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1000)
      |                AS BIGINT) AS q
      |       FROM embeddings, range(1, 65) t(i)),
      |cm AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.q * b.q) AS BIGINT) AS c
      |       FROM el a JOIN el b ON b.vec_id = a.vec_id GROUP BY 1, 2),
      |v0 AS (SELECT CAST(0 AS BIGINT) AS i, CAST(1000000 AS BIGINT) AS v),
      |s1 AS (SELECT cm.i, sum(CAST(cm.c AS HUGEINT) * v0.v) AS sv
      |       FROM cm JOIN v0 ON v0.i = cm.j GROUP BY 1),
      |v1 AS (SELECT i, CAST(sv * 1000000
      |         // greatest((SELECT max(abs(sv)) FROM s1), 1) AS BIGINT)
      |         AS v FROM s1),
      |s2 AS (SELECT cm.i, sum(CAST(cm.c AS HUGEINT) * v1.v) AS sv
      |       FROM cm JOIN v1 ON v1.i = cm.j GROUP BY 1),
      |v2 AS (SELECT i, CAST(sv * 1000000
      |         // greatest((SELECT max(abs(sv)) FROM s2), 1) AS BIGINT)
      |         AS v FROM s2),
      |s3 AS (SELECT cm.i, sum(CAST(cm.c AS HUGEINT) * v2.v) AS sv
      |       FROM cm JOIN v2 ON v2.i = cm.j GROUP BY 1),
      |v3 AS (SELECT i, CAST(sv * 1000000
      |         // greatest((SELECT max(abs(sv)) FROM s3), 1) AS BIGINT)
      |         AS v FROM s3),
      |s4 AS (SELECT cm.i, sum(CAST(cm.c AS HUGEINT) * v3.v) AS sv
      |       FROM cm JOIN v3 ON v3.i = cm.j GROUP BY 1),
      |v4 AS (SELECT i, CAST(sv * 1000000
      |         // greatest((SELECT max(abs(sv)) FROM s4), 1) AS BIGINT)
      |         AS v FROM s4)""".stripMargin

  /** q439: PRINCIPAL DIRECTION of the embedding corpus — the top
    * eigenvector of the (uncentered) integer Gram matrix Σ qqᵀ over
    * round(x·1000)-quantized vectors, by four exact power-iteration
    * steps: s = C·v in HUGEINT/DECIMAL(38,0), renormalized each step to
    * max|v| = 10⁶ by IntegralDivide (both engines truncate toward zero).
    * The dominant eigendirection is the whitening/compression axis —
    * what a PCA-reduce stage would strip first — and the Rayleigh
    * quotient vᵀCv div vᵀv rides along as the eigenvalue estimate.
    * Deterministic: v₀ = e₀, every subsequent step pure integer algebra.
    *
    * Scale shape: the Gram build is the ONLY data-sized stage — one
    * self-join at vector grain producing d² = 4096 partial-aggregated
    * cells (map-side combine bounds the shuffle at 4096 rows per
    * partition regardless of corpus size); the iteration runs on the
    * 4096-row matrix and 64-row vectors. The classic "compute XᵀX
    * distributed, eigensolve tiny" decomposition, with the eigensolve
    * itself kept in-plan (and cross-engine exact) instead of on the
    * driver. */
  val q439PcaPower: Q = Q(
    "q439_pca_power",
    s"""WITH $duckPca,
      |cv AS (SELECT cm.i, sum(CAST(cm.c AS HUGEINT) * v4.v) AS sv
      |       FROM cm JOIN v4 ON v4.i = cm.j GROUP BY 1),
      |rq AS (SELECT CAST(sum(CAST(v4.v AS HUGEINT) * cv.sv)
      |         // greatest(sum(CAST(v4.v AS HUGEINT) * v4.v), 1)
      |         AS BIGINT) AS lambda_est
      |       FROM v4 JOIN cv ON cv.i = v4.i)
      |SELECT v4.i, v4.v AS v_ppm, rq.lambda_est
      |FROM v4, rq ORDER BY v4.i""".stripMargin) { (s, dir) =>
    val (v4, cm) = pcaV4(s, dir)
    val cv = cm.join(v4, col("j") === col("vi")).groupBy(col("i"))
      .agg(sum(expr("CAST(c AS DECIMAL(38,0)) * vv")).as("sv"))
    val rq = v4.join(cv, col("vi") === col("i"))
      .agg(sum(expr("CAST(vv AS DECIMAL(38,0)) * sv")).as("num"),
        sum(expr("CAST(vv AS DECIMAL(38,0)) * vv")).as("den"))
      .select(expr("CAST(num div greatest(den, CAST(1 AS DECIMAL(38,0)))" +
        " AS BIGINT)").as("lambda_est"))
    v4.crossJoin(rq)
      .select(col("vi").as("i"), col("vv").as("v_ppm"), col("lambda_est"))
      .orderBy(col("i"))
  }

  /** The Spark side of [[duckPca]]: returns (v4, cm) — the converged
    * ±10⁶-scaled direction at (vi, vv) grain and the persisted Gram
    * matrix at (i, j, c) grain. */
  private def pcaV4(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // Gram build WITHOUT the element-grain self-join (optimization r15,
    // guide §2.4): each vector emits its full 64×64 outer product in ONE
    // narrow pass (nested transform + flatten + posexplode, i = p div 64,
    // j = p % 64), so the only exchange is the 4096-key partial aggregate.
    // The previous shape shuffled the exploded element table TWICE
    // (2 × n_vecs × 64 rows) and sort-merge-joined it with itself to
    // reach the same n_vecs × 4096 product rows. Values are identical:
    // same per-element quantization, same long products, same sums.
    val cm = Tables(s, dir, "embeddings")
      .select(expr("transform(embedding, x -> " +
        "CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("qv"))
      .select(posexplode(expr(
        "flatten(transform(qv, x -> transform(qv, y -> x * y)))"))
        .as(Seq("p", "xy")))
      .groupBy(expr("CAST(p div 64 AS BIGINT)").as("i"),
        expr("CAST(p % 64 AS BIGINT)").as("j"))
      .agg(sum(col("xy")).as("c"))
      .persist(MEMORY_AND_DISK)
    var v = s.range(1).select(lit(0L).as("vi"), lit(1000000L).as("vv"))
    for (_ <- 1 to 4) {
      // sRaw is consumed twice per step (the max-|sv| renormalizer and
      // the divide) and v_k feeds v_{k+1}: left lazy, the duplicated
      // subtrees double the plan per step (2⁴ blowup by v4 — measured
      // 18.8 s cold / 10.4 s warm). A 64-row eager localCheckpoint per
      // step pins the iterate and keeps every step's plan one join deep
      // (the q383/q386 lineage discipline applied to the eigensolve).
      val sRaw = cm.join(v, col("j") === col("vi")).groupBy(col("i"))
        .agg(sum(expr("CAST(c AS DECIMAL(38,0)) * vv")).as("sv"))
        .localCheckpoint()
      val m = sRaw.agg(greatest(max(abs(col("sv"))),
        lit(1).cast("decimal(38,0)")).as("m"))
      v = sRaw.crossJoin(broadcast(m))
        .select(col("i").as("vi"),
          expr("CAST((sv * 1000000) div m AS BIGINT)").as("vv"))
    }
    (v, cm)
  }

  /** q440: PRINCIPAL-AXIS PROJECTION — every embedding scored along
    * q439's converged direction (score = Σ qᵢ·vᵢ, exact BIGINT) and
    * rolled up per label: the "does the dominant axis separate the
    * classes" readout that decides whether PCA-reduction is safe or is
    * about to delete the label signal. Mean by IntegralDivide; min/max
    * surface the per-class spread.
    *
    * Scale shape: the projection is one broadcast-sized join (64 rows)
    * against the element grain + a label-grain rollup — no new wide
    * shuffle beyond q439's Gram build (shared and persisted). */
  val q440PcaProject: Q = Q(
    "q440_pca_project",
    s"""WITH $duckPca,
      |proj AS (SELECT el.vec_id, CAST(sum(el.q * v4.v) AS BIGINT) AS score
      |         FROM el JOIN v4 ON v4.i = el.i GROUP BY 1)
      |SELECT CAST(e.label AS BIGINT) AS label,
      |       CAST(count(*) AS BIGINT) AS n_vecs,
      |       CAST(sum(p.score) AS BIGINT) AS sum_score,
      |       CAST(sum(p.score) // count(*) AS BIGINT) AS mean_score,
      |       CAST(min(p.score) AS BIGINT) AS min_score,
      |       CAST(max(p.score) AS BIGINT) AS max_score
      |FROM proj p JOIN embeddings e ON e.vec_id = p.vec_id
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val (v4, _) = pcaV4(s, dir)
    val el = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), col("label"), col("i").cast("long").as("i"),
        round(col("x").cast("double") * 1000).cast("long").as("q"))
    el.join(v4, col("i") === col("vi"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("q") * col("vv")).as("score"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("score")).cast("long").as("sum_score"),
        expr("CAST(sum(score) div count(*) AS BIGINT)").as("mean_score"),
        min(col("score")).cast("long").as("min_score"),
        max(col("score")).cast("long").as("max_score"))
      .orderBy(col("label"))
  }

  // -------------------------------------------------------------------
  // q441 — character-entropy quality scoring
  // -------------------------------------------------------------------

  private def lnNano(e: String): String =
    s"CAST(CAST(round(ln($e), 9) AS DECIMAL(28,9)) * 1000000000 AS BIGINT)"

  /** ln(8)/ln(32) in rounded-ln nano units — the low/high entropy band
    * cuts, pinned as shared literals in BOTH engines (the q143 Benford
    * discipline: never trust two libms to agree at the boundary). */
  private val LowNano = 2079441542L
  private val HighNano = 3465735903L

  /** q441: CHARACTER-ENTROPY quality score — the classic cheap
    * pretraining-corpus filter: H = ln n − (Σ_ch c·ln c)/n per document
    * over raw character counts. Too-low entropy ⇒ repetitive/boilerplate
    * (the "aaaa…"/template pathology), too-high ⇒ random-ish bytes
    * (binary spill, encoding garbage); both get banded. Every ln
    * argument is an INTEGER count, so the rounded-ln nano discipline
    * (q406/q433) carries the whole formula: h_nano =
    * lnNano(n) − (Σ c·lnNano(c)) div n, exact and engine-identical.
    *
    * Scale shape: the char grain is the only corpus-sized stage and it
    * collapses map-side to (doc, char) — ≤ alphabet-size rows per doc —
    * before any exchange; the per-doc rollup is a second map-side-
    * combining agg on the same key prefix. No windows, no row-grain
    * sorts; identical economics to the q430 CDC chunker's position
    * explode. */
  val q441CharEntropy: Q = Q(
    "q441_char_entropy",
    s"""WITH px AS (SELECT doc_id, text,
      |                    unnest(range(1, length(text) + 1)) AS i
      |             FROM documents),
      |pos AS (SELECT doc_id, substr(text, CAST(i AS INT), 1) AS ch
      |        FROM px),
      |pc AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
      |       FROM pos GROUP BY 1, 2),
      |ag AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
      |              CAST(count(*) AS BIGINT) AS n_distinct,
      |              CAST(sum(c * ${lnNano("c")}) AS BIGINT) AS sn
      |       FROM pc GROUP BY 1)
      |SELECT doc_id, n AS n_chars, n_distinct,
      |       CAST(${lnNano("n")} - sn // n AS BIGINT) AS h_nano,
      |       CASE WHEN ${lnNano("n")} - sn // n < $LowNano THEN 'low'
      |            WHEN ${lnNano("n")} - sn // n > $HighNano THEN 'high'
      |            ELSE 'mid' END AS entropy_band
      |FROM ag ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val pos = Tables.sharded(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= 1)
      .select(col("doc_id"),
        explode(expr("sequence(1L, CAST(length(text) AS BIGINT))"))
          .as("i"), col("text"))
      .select(col("doc_id"),
        expr("substring(text, CAST(i AS INT), 1)").as("ch"))
    val pc = pos.groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("c"))
    pc.groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n"),
        count(lit(1)).as("n_distinct"),
        sum(expr(s"c * ${lnNano("c")}")).cast("long").as("sn"))
      .withColumn("h_nano",
        (expr(lnNano("n")) - expr("sn div n")).cast("long"))
      .select(col("doc_id"), col("n").as("n_chars"), col("n_distinct"),
        col("h_nano"),
        when(col("h_nano") < LowNano, "low")
          .when(col("h_nano") > HighNano, "high")
          .otherwise("mid").as("entropy_band"))
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------
  // q442 — sqrt-damped source mixing weights
  // -------------------------------------------------------------------

  /** q442: SOURCE-MIXING weights — the pretraining data-mixing table:
    * per (source, lang) stratum, sampling weight ∝ √n (temperature
    * α = ½ damping, the standard fix for head-domain dominance), the
    * resulting ppm share vs the raw-proportional share, the quota out
    * of a 100k-document epoch, and the implied up/down-sampling ratio
    * per stratum. floor(√n) is exact cross-engine: IEEE sqrt is
    * correctly rounded in both engines and √(integer) can't sit within
    * one ulp of a wrong integer boundary at BIGINT magnitudes.
    *
    * Scale shape: one map-side-combined count per stratum (≤ sources ×
    * langs cells), then scalar arithmetic against the one-row total.
    * This is the op whose OUTPUT drives q56/q186's samplers. */
  val q442SourceMixing: Q = Q(
    "q442_source_mixing",
    """WITH s0 AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs
      |            FROM documents GROUP BY 1, 2),
      |w AS (SELECT source, lang, n_docs,
      |             CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)
      |               AS wgt
      |      FROM s0),
      |t AS (SELECT CAST(sum(wgt) AS BIGINT) AS tw,
      |             CAST(sum(n_docs) AS BIGINT) AS td FROM w)
      |SELECT w.source, w.lang, w.n_docs, w.wgt,
      |       CAST(w.n_docs * 1000000 // t.td AS BIGINT) AS raw_ppm,
      |       CAST(w.wgt * 1000000 // t.tw AS BIGINT) AS share_ppm,
      |       CAST(w.wgt * 100000 // t.tw AS BIGINT) AS epoch_quota,
      |       CAST((w.wgt * 100000 // t.tw) * 1000000 // w.n_docs
      |         AS BIGINT) AS upsample_ppm
      |FROM w, t ORDER BY w.source, w.lang""".stripMargin) { (s, dir) =>
    val w = Tables(s, dir, "documents")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("wgt",
        floor(sqrt(col("n_docs").cast("double"))).cast("long"))
    val t = w.agg(sum(col("wgt")).cast("long").as("tw"),
      sum(col("n_docs")).cast("long").as("td"))
    w.crossJoin(t)
      .select(col("source"), col("lang"), col("n_docs"), col("wgt"),
        expr("CAST(n_docs * 1000000 div td AS BIGINT)").as("raw_ppm"),
        expr("CAST(wgt * 1000000 div tw AS BIGINT)").as("share_ppm"),
        expr("CAST(wgt * 100000 div tw AS BIGINT)").as("epoch_quota"),
        expr("CAST((wgt * 100000 div tw) * 1000000 div n_docs AS BIGINT)")
          .as("upsample_ppm"))
      .orderBy(col("source"), col("lang"))
  }

  // -------------------------------------------------------------------
  // q443 — GSP-style sequential pattern mining over event sessions
  // -------------------------------------------------------------------

  /** q443: SEQUENTIAL PATTERNS — support-counted "A before B (before C)"
    * patterns over (user, day) sessions: the GSP/PrefixSpan family's
    * first two levels, distinct from q155's ADJACENT-transition counts
    * (here A and B may be separated arbitrarily) and q328's regex CEP
    * (which matches one pattern; this MINES all frequent ones). A
    * pattern occurs in a session iff the FIRST occurrences are ordered
    * (strict <; simultaneous firsts don't count). Support ≥ 5% of
    * sessions; 3-patterns are Apriori-pruned — both constituent
    * 2-patterns must themselves be frequent — before counting. The
    * len-2 rows carry the direction share supp(A→B)/(supp(A→B)+supp(B→A))
    * in ppm — the "is this ordering real or symmetric noise" readout;
    * len-3 rows carry the −1 sentinel.
    *
    * Scale shape: sessions reduce map-side to (session, type, first-ts)
    * — ≤ |types| rows per session — so the self-joins are bounded by
    * types²/types³ PER SESSION (≤ 25/60 here), linear in sessions
    * overall, all on the (user, day) key one shuffle established.
    * Support filters broadcast (≤ types² rows). */
  val q443SeqPatterns: Q = Q(
    "q443_seq_patterns",
    """WITH se AS (SELECT user_id,
      |                   CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
      |                   event_type, min(ts) AS ft
      |            FROM events GROUP BY 1, 2, 3),
      |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_sess
      |       FROM (SELECT DISTINCT user_id, day FROM se)),
      |p2 AS (SELECT a.event_type AS e1, b.event_type AS e2,
      |              CAST(count(*) AS BIGINT) AS supp
      |       FROM se a JOIN se b ON b.user_id = a.user_id
      |              AND b.day = a.day
      |              AND b.event_type <> a.event_type AND a.ft < b.ft
      |       GROUP BY 1, 2),
      |f2 AS (SELECT p2.* FROM p2, ns WHERE p2.supp * 20 >= ns.n_sess),
      |p3 AS (SELECT a.event_type AS e1, b.event_type AS e2,
      |              c.event_type AS e3, CAST(count(*) AS BIGINT) AS supp
      |       FROM se a
      |       JOIN se b ON b.user_id = a.user_id AND b.day = a.day
      |              AND b.event_type <> a.event_type AND a.ft < b.ft
      |       JOIN se c ON c.user_id = a.user_id AND c.day = a.day
      |              AND c.event_type <> a.event_type
      |              AND c.event_type <> b.event_type AND b.ft < c.ft
      |       WHERE a.event_type || '>' || b.event_type
      |               IN (SELECT e1 || '>' || e2 FROM f2)
      |         AND b.event_type || '>' || c.event_type
      |               IN (SELECT e1 || '>' || e2 FROM f2)
      |       GROUP BY 1, 2, 3),
      |f3 AS (SELECT p3.* FROM p3, ns WHERE p3.supp * 20 >= ns.n_sess),
      |o2 AS (SELECT f2.e1 || '>' || f2.e2 AS pattern,
      |              CAST(2 AS BIGINT) AS plen, f2.supp,
      |              CAST(f2.supp * 1000000
      |                // (f2.supp + coalesce(r.supp, 0)) AS BIGINT)
      |                AS dir_ppm
      |       FROM f2 LEFT JOIN p2 r ON r.e1 = f2.e2 AND r.e2 = f2.e1),
      |o3 AS (SELECT e1 || '>' || e2 || '>' || e3 AS pattern,
      |              CAST(3 AS BIGINT) AS plen, supp,
      |              CAST(-1 AS BIGINT) AS dir_ppm
      |       FROM f3)
      |SELECT * FROM (SELECT * FROM o2 UNION ALL SELECT * FROM o3)
      |ORDER BY plen, supp DESC, pattern""".stripMargin) { (s, dir) =>
    val se = Tables(s, dir, "events")
      .select(col("user_id"),
        expr("unix_timestamp(ts) div 86400").as("day"),
        col("event_type"), col("ts"))
      .groupBy(col("user_id"), col("day"), col("event_type"))
      .agg(min(col("ts")).as("ft"))
      .persist(MEMORY_AND_DISK)
    val nSess = se.select(col("user_id"), col("day")).distinct().count()
    val p2 = se.as("a").join(se.as("b"),
        col("b.user_id") === col("a.user_id") &&
          col("b.day") === col("a.day") &&
          col("b.event_type") =!= col("a.event_type") &&
          col("a.ft") < col("b.ft"))
      .groupBy(col("a.event_type").as("e1"), col("b.event_type").as("e2"))
      .agg(count(lit(1)).as("supp"))
      .persist(MEMORY_AND_DISK)
    val f2 = p2.filter(col("supp") * 20 >= nSess)
    val p3 = se.as("a").join(se.as("b"),
        col("b.user_id") === col("a.user_id") &&
          col("b.day") === col("a.day") &&
          col("b.event_type") =!= col("a.event_type") &&
          col("a.ft") < col("b.ft"))
      .join(se.as("c"),
        col("c.user_id") === col("a.user_id") &&
          col("c.day") === col("a.day") &&
          col("c.event_type") =!= col("a.event_type") &&
          col("c.event_type") =!= col("b.event_type") &&
          col("b.ft") < col("c.ft"))
      .join(f2.select(col("e1").as("fa1"), col("e2").as("fa2")),
        col("a.event_type") === col("fa1") &&
          col("b.event_type") === col("fa2"), "left_semi")
      .join(f2.select(col("e1").as("fb1"), col("e2").as("fb2")),
        col("b.event_type") === col("fb1") &&
          col("c.event_type") === col("fb2"), "left_semi")
      .groupBy(col("a.event_type").as("e1"), col("b.event_type").as("e2"),
        col("c.event_type").as("e3"))
      .agg(count(lit(1)).as("supp"))
    val f3 = p3.filter(col("supp") * 20 >= nSess)
    val o2 = f2.as("f")
      .join(p2.select(col("e1").as("r1"), col("e2").as("r2"),
        col("supp").as("rsupp")),
        col("f.e1") === col("r2") && col("f.e2") === col("r1"), "left")
      .select(concat(col("f.e1"), lit(">"), col("f.e2")).as("pattern"),
        lit(2L).as("plen"), col("f.supp").as("supp"),
        expr("CAST(supp * 1000000 div (supp + coalesce(rsupp, 0))" +
          " AS BIGINT)").as("dir_ppm"))
    val o3 = f3.select(
      concat(col("e1"), lit(">"), col("e2"), lit(">"), col("e3"))
        .as("pattern"),
      lit(3L).as("plen"), col("supp"), lit(-1L).as("dir_ppm"))
    o2.unionAll(o3).orderBy(col("plen"), col("supp").desc, col("pattern"))
  }

  // -------------------------------------------------------------------
  // q445 — stationary behavior mix (Markov steady state)
  // -------------------------------------------------------------------

  /** q445: STATIONARY BEHAVIOR MIX — the steady-state event-type
    * distribution implied by the session transition matrix, vs the mix
    * actually observed: where user behavior is HEADED vs where it is.
    * Transitions at (user, day)-session grain ordered by (ts,
    * event_id); four unrolled power steps π' (b) = Σ_a π(a)·c_ab div
    * rs_a on 10¹² integer mass (q403's truncation discipline — each
    * per-edge term floors identically in both engines); both the
    * observed and stationary shares renormalize at readout so
    * truncation-lost mass can't skew the comparison.
    *
    * Scale shape: one (user, day) shuffle for the lag window, then
    * everything is ≤ types² cells; the power steps run on the tiny
    * matrix in-plan. The observed rollup is map-side combined. */
  val q445StationaryMix: Q = Q(
    "q445_stationary_mix",
    """WITH ev AS (SELECT user_id,
      |                  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
      |                  event_type, ts, event_id FROM events),
      |tr AS (SELECT event_type,
      |              lag(event_type) OVER (PARTITION BY user_id, day
      |                ORDER BY ts, event_id) AS prev
      |       FROM ev),
      |c AS (SELECT prev AS a, event_type AS b,
      |             CAST(count(*) AS BIGINT) AS c
      |      FROM tr WHERE prev IS NOT NULL GROUP BY 1, 2),
      |rs AS (SELECT a, CAST(sum(c) AS BIGINT) AS rs FROM c GROUP BY 1),
      |ty AS (SELECT DISTINCT event_type AS t FROM events),
      |nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ty),
      |p0 AS (SELECT t, 1000000000000 // (SELECT n FROM nt) AS m FROM ty),
      |p1 AS (SELECT c.b AS t, CAST(sum((p0.m * c.c) // rs.rs) AS BIGINT)
      |         AS m
      |       FROM c JOIN p0 ON p0.t = c.a JOIN rs ON rs.a = c.a
      |       GROUP BY 1),
      |p2 AS (SELECT c.b AS t, CAST(sum((p1.m * c.c) // rs.rs) AS BIGINT)
      |         AS m
      |       FROM c JOIN p1 ON p1.t = c.a JOIN rs ON rs.a = c.a
      |       GROUP BY 1),
      |p3 AS (SELECT c.b AS t, CAST(sum((p2.m * c.c) // rs.rs) AS BIGINT)
      |         AS m
      |       FROM c JOIN p2 ON p2.t = c.a JOIN rs ON rs.a = c.a
      |       GROUP BY 1),
      |p4 AS (SELECT c.b AS t, CAST(sum((p3.m * c.c) // rs.rs) AS BIGINT)
      |         AS m
      |       FROM c JOIN p3 ON p3.t = c.a JOIN rs ON rs.a = c.a
      |       GROUP BY 1),
      |tot AS (SELECT CAST(sum(m) AS BIGINT) AS tm FROM p4),
      |obs AS (SELECT event_type AS t, CAST(count(*) AS BIGINT) AS n
      |        FROM events GROUP BY 1),
      |ot AS (SELECT CAST(sum(n) AS BIGINT) AS tn FROM obs)
      |SELECT obs.t AS event_type, obs.n AS n_events,
      |       CAST(obs.n * 1000000 // ot.tn AS BIGINT) AS obs_ppm,
      |       CAST(coalesce(p4.m, 0) * 1000000 // tot.tm AS BIGINT)
      |         AS stat_ppm,
      |       CAST(coalesce(p4.m, 0) * 1000000 // tot.tm
      |            - obs.n * 1000000 // ot.tn AS BIGINT) AS delta_ppm
      |FROM obs LEFT JOIN p4 ON p4.t = obs.t, tot, ot
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .select(col("event_type"), col("user_id"),
        expr("unix_timestamp(ts) div 86400").as("day"),
        col("ts"), col("event_id"))
    val tr = ev.withColumn("prev", lag(col("event_type"), 1).over(
      Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("ts"), col("event_id"))))
    val c = tr.filter(col("prev").isNotNull)
      .groupBy(col("prev").as("a"), col("event_type").as("b"))
      .agg(count(lit(1)).as("c"))
      .persist(MEMORY_AND_DISK)
    val rs = c.groupBy(col("a")).agg(sum(col("c")).as("rs"))
    val edges = c.join(rs, "a").persist(MEMORY_AND_DISK)
    val ty = Tables(s, dir, "events").select(col("event_type").as("t"))
      .distinct().persist(MEMORY_AND_DISK)
    val nt = ty.count()
    val base = 1000000000000L / math.max(nt, 1L)
    var p = ty.select(col("t"), lit(base).as("m"))
    for (_ <- 1 to 4) {
      p = edges.join(p, col("a") === col("t"))
        .groupBy(col("b"))
        .agg(sum(expr("(m * c) div rs")).as("m2"))
        .select(col("b").as("t"), col("m2").cast("long").as("m"))
    }
    val tot = p.agg(sum(col("m")).cast("long").as("tm"))
    val obs = Tables(s, dir, "events")
      .groupBy(col("event_type").as("t"))
      .agg(count(lit(1)).as("n"))
    val ot = obs.agg(sum(col("n")).cast("long").as("tn"))
    obs.join(p.withColumnRenamed("t", "pt").withColumnRenamed("m", "pm"),
        col("t") === col("pt"), "left")
      .crossJoin(tot).crossJoin(ot)
      .select(col("t").as("event_type"), col("n").as("n_events"),
        expr("CAST(n * 1000000 div tn AS BIGINT)").as("obs_ppm"),
        expr("CAST(coalesce(pm, 0) * 1000000 div tm AS BIGINT)")
          .as("stat_ppm"),
        expr("CAST(coalesce(pm, 0) * 1000000 div tm" +
          " - n * 1000000 div tn AS BIGINT)").as("delta_ppm"))
      .orderBy(col("event_type"))
  }

  // -------------------------------------------------------------------
  // q446 — farthest-point coreset sampling over embeddings
  // -------------------------------------------------------------------

  /** q446: FARTHEST-POINT coreset — greedy k-center over the quantized
    * embedding space: 8 seeds, each the point maximizing its distance
    * to the already-selected set (ties to the smaller vec_id), with the
    * selection-time distance² surfaced as the shrinking coverage-radius
    * schedule. The standard diversity-sampling / coreset-seed primitive
    * for curating representative evaluation sets and k-means++-style
    * initialization — and, unlike hash samplers (q56/q186), it is
    * GEOMETRY-aware. All distances are exact integer milli²-units
    * (round(x·1000) quantization, q195's device), so every argmax is
    * engine-identical.
    *
    * Scale shape: the classic FPS recurrence md_k = min(md_{k−1},
    * d²(·, s_k)) — each of the 7 rounds is ONE pass over the corpus
    * joined against the single new 64-row seed (broadcast), never
    * against the whole selected set; the argmax is a TakeOrdered(1).
    * O(k·N·d) total, the best known exact FPS economics. */
  val q446CoresetFps: Q = Q(
    "q446_coreset_fps", {
      def dist(seedSel: String) =
        s"""(SELECT el.vec_id,
          |        CAST(sum((el.q - s.q) * (el.q - s.q)) AS BIGINT) AS d2
          | FROM el JOIN el s ON s.i = el.i AND s.vec_id = $seedSel
          | GROUP BY 1)""".stripMargin
      val rounds = (2 to 8).map { k =>
        s"""m$k AS (SELECT m${k - 1}.vec_id, least(m${k - 1}.d2, n.d2) AS d2
          |       FROM m${k - 1} JOIN ${dist(s"(SELECT sid FROM s$k)")} n
          |         ON n.vec_id = m${k - 1}.vec_id)""".stripMargin
      }
      val seeds = (2 to 8).map { k =>
        s"""s$k AS (SELECT vec_id AS sid, d2 FROM m${k - 1}
          |       ORDER BY d2 DESC, vec_id LIMIT 1)""".stripMargin
      }
      val steps = (2 to 8).flatMap(k =>
        Seq(seeds(k - 2), rounds(k - 2))).dropRight(1).mkString(",\n")
      s"""WITH el AS (SELECT vec_id, t.i - 1 AS i,
        |              CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1000)
        |                AS BIGINT) AS q
        |       FROM embeddings, range(1, 65) t(i)),
        |s1 AS (SELECT min(vec_id) AS sid FROM embeddings),
        |m1 AS (SELECT n.vec_id, n.d2
        |       FROM ${dist("(SELECT sid FROM s1)")} n),
        |$steps,
        |u AS (SELECT CAST(1 AS BIGINT) AS pos, sid,
        |             CAST(-1 AS BIGINT) AS radius2 FROM s1
        |${(2 to 8).map(k =>
            s"      UNION ALL SELECT $k, sid, d2 FROM s$k").mkString("\n")})
        |SELECT u.pos, u.sid AS vec_id, CAST(e.label AS BIGINT) AS label,
        |       u.radius2
        |FROM u JOIN embeddings e ON e.vec_id = u.sid
        |ORDER BY u.pos""".stripMargin
    }) { (s, dir) =>
    val emb = Tables(s, dir, "embeddings").persist(MEMORY_AND_DISK)
    val el = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), col("i").cast("long").as("i"),
        round(col("x").cast("double") * 1000).cast("long").as("q"))
      .persist(MEMORY_AND_DISK)
    def distTo(sid: Long): DataFrame =
      el.join(el.filter(col("vec_id") === sid)
          .select(col("i").as("si"), col("q").as("sq")),
        col("i") === col("si"))
        .groupBy(col("vec_id"))
        .agg(sum((col("q") - col("sq")) * (col("q") - col("sq")))
          .cast("long").as("d2"))
    val s1 = emb.agg(min(col("vec_id"))).head.getLong(0)
    val seeds = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)](
      (1L, s1, -1L))
    var md = distTo(s1).localCheckpoint()
    for (k <- 2 to 8) {
      val top = md.orderBy(col("d2").desc, col("vec_id")).limit(1).head
      seeds += ((k.toLong, top.getLong(0), top.getLong(1)))
      if (k < 8)
        md = md.join(distTo(top.getLong(0))
            .select(col("vec_id").as("v2"), col("d2").as("nd2")),
          col("vec_id") === col("v2"))
          .select(col("vec_id"), least(col("d2"), col("nd2")).as("d2"))
          .localCheckpoint()
    }
    import s.implicits._
    seeds.toSeq.toDF("pos", "vec_id", "radius2")
      .join(emb.select(col("vec_id").as("v3"),
        col("label").cast("long").as("label")), col("vec_id") === col("v3"))
      .select(col("pos"), col("vec_id"), col("label"), col("radius2"))
      .orderBy(col("pos"))
  }

  // -------------------------------------------------------------------
  // q447 — per-document n-gram novelty (intra-corpus duplication)
  // -------------------------------------------------------------------

  /** q447: DOC-GRAIN N-GRAM NOVELTY — for every document, the fraction
    * of its distinct character 8-grams that appear in NO other document:
    * the per-doc duplication score that decides "keep, or mostly
    * boilerplate?" at the grain filters actually drop rows. Distinct
    * from q253 (day-over-day vocabulary novelty, sketch-level) and the
    * CDC family (chunk-grain sharing surface): this is the document-
    * level verdict. dup_heavy flags docs with a minority of unique
    * grams (novelty < ½, integer cross-multiplied).
    *
    * Scale shape: the position explode collapses IMMEDIATELY to
    * distinct (doc, gram-hash) — the same economics as the CDC
    * chunker; the gram-frequency table is one map-side-combined count
    * and returns to doc grain via one hash join. No pairwise document
    * comparisons anywhere. */
  val q447NgramNovelty: Q = Q(
    "q447_ngram_novelty",
    """WITH dx AS (SELECT doc_id, text FROM documents
      |            WHERE length(text) >= 8),
      |px AS (SELECT doc_id, text, unnest(range(1, length(text) - 6)) AS i
      |       FROM dx),
      |g AS (SELECT DISTINCT doc_id,
      |             md5(substr(text, CAST(i AS INT), 8)) AS h
      |      FROM px),
      |dc AS (SELECT h, CAST(count(*) AS BIGINT) AS nd FROM g GROUP BY 1),
      |pd AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |              CAST(count(*) FILTER (WHERE dc.nd >= 2) AS BIGINT)
      |                AS n_shared
      |       FROM g JOIN dc ON dc.h = g.h GROUP BY 1)
      |SELECT doc_id, n_grams, n_shared,
      |       CAST((n_grams - n_shared) * 1000000 // n_grams AS BIGINT)
      |         AS novelty_ppm,
      |       CASE WHEN (n_grams - n_shared) * 2 < n_grams
      |            THEN 'dup_heavy' ELSE 'ok' END AS flag
      |FROM pd ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val g = Tables.sharded(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"),
        explode(expr("sequence(1L, CAST(length(text) - 7 AS BIGINT))"))
          .as("i"), col("text"))
      .select(col("doc_id"),
        md5(expr("substring(text, CAST(i AS INT), 8)")).as("h"))
      .distinct()
      .persist(MEMORY_AND_DISK)
    val dc = g.groupBy(col("h")).agg(count(lit(1)).as("nd"))
    g.join(dc, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).cast("long")
          .as("n_shared"))
      .select(col("doc_id"), col("n_grams"), col("n_shared"),
        expr("CAST((n_grams - n_shared) * 1000000 div n_grams AS BIGINT)")
          .as("novelty_ppm"),
        when((col("n_grams") - col("n_shared")) * 2 < col("n_grams"),
          "dup_heavy").otherwise("ok").as("flag"))
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------
  // q448/q449 — strongly connected components + condensation depth
  //             over the DIRECTED purchase-sequence graph
  // -------------------------------------------------------------------

  /** The directed "bought u, then bought v in the NEXT order" graph:
    * per customer, orders ranked by (date, key); every part of order i
    * points at every part of order i+1; support = number of such
    * consecutive-order hops, threshold ≥ 2. The first DIRECTED graph
    * in the tier — co-purchase is symmetric by construction; purchase
    * SEQUENCE is not, which is what makes SCC/condensation meaningful.
    *
    * Scale shape: one per-customer window (customer-grain shuffle),
    * the consecutive-pair self-join on the same key, then the part-pair
    * expansion bounded by (parts per order)² per hop with a map-side
    * combined support count — the q155 Markov economics lifted from
    * event types to the part catalog. */
  private[graft] def seqEdges(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))))
    val cp = o.as("a").join(o.as("b"),
        col("b.o_custkey") === col("a.o_custkey") &&
          col("b.rk") === col("a.rk") + 1)
      .select(col("a.o_orderkey").as("k1"), col("b.o_orderkey").as("k2"))
    val lp = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    cp.join(lp.as("p1"), col("p1.l_orderkey") === col("k1"))
      .join(lp.as("p2"), col("p2.l_orderkey") === col("k2"))
      .filter(col("p1.l_partkey") =!= col("p2.l_partkey"))
      .groupBy(col("p1.l_partkey").as("u"), col("p2.l_partkey").as("v"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
      .select(col("u"), col("v"))
  }

  /** Oracle rendering of [[seqEdges]] (e0) — shared by q448/q449.
    * Every CTE MATERIALIZED: these sit inside WITH RECURSIVE chains,
    * and an unmaterialized e0 gets re-inlined (orders window and all)
    * on every recursive iteration — the q396/q428 oracle lesson. */
  private val duckSeqEdges: String =
    """o AS MATERIALIZED (SELECT o_custkey, o_orderkey,
      |             row_number() OVER (PARTITION BY o_custkey
      |               ORDER BY o_orderdate, o_orderkey) AS rk
      |      FROM orders),
      |cp AS MATERIALIZED (SELECT a.o_orderkey AS k1, b.o_orderkey AS k2
      |       FROM o a JOIN o b ON b.o_custkey = a.o_custkey
      |        AND b.rk = a.rk + 1),
      |lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey
      |       FROM lineitem),
      |e0 AS MATERIALIZED (SELECT p1.l_partkey AS u, p2.l_partkey AS v
      |       FROM cp JOIN lp p1 ON p1.l_orderkey = cp.k1
      |               JOIN lp p2 ON p2.l_orderkey = cp.k2
      |       WHERE p1.l_partkey <> p2.l_partkey
      |       GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin

  /** Round cap for each min-label fixpoint inside [[sccLabels]] and the
    * peel cap — generous hard STOPS for the convergence-checked loops
    * (the loops exit early at the verified fixpoint; the caps only
    * bound a pathological input). A cap hit raises, never truncates. */
  private val SccMaxRounds = 40
  private val SccMaxPeels = 12

  /** TIERED SCC ([[Graph.tiered]]): below [[Graph.DriverMaxEdges]] the
    * edge list collects once and an iterative
    * Tarjan runs on the driver — no per-round jobs at all; above it,
    * forward–backward min-label peeling runs distributed. Both tiers
    * produce scc_id = the component's minimum node id, and
    * `Round15bSpec` proves them equal on the same fixtures (the
    * distributed tier forced via driverMaxEdges = 0). The sequence
    * graph is ≤ 6k edges at every test SF, so the driver tier serves
    * the bench; at 100 TB the distributed peeler takes over exactly as
    * the CC closure does. */
  private[graft] def sccLabels(s: SparkSession, edges0: DataFrame,
      driverMaxEdges: Long = Graph.DriverMaxEdges): DataFrame =
    // The persist sits in the distributed tier, the only consumer that
    // re-reads the edges.
    Graph.tiered(edges0, Seq("u", "v"), driverMaxEdges) { probe =>
      val labels = tarjanScc(probe.map(r => (r.getLong(0), r.getLong(1))))
      import s.implicits._
      broadcast(labels.toSeq.toDF("n", "scc_id"))
    }(sccDistributed(s,
      edges0.select(col("u"), col("v")).persist(MEMORY_AND_DISK)))

  /** Iterative Tarjan (explicit stack — no recursion depth limits),
    * labels canonicalized to the component minimum. */
  private[graft] def tarjanScc(el: Array[(Long, Long)])
      : Map[Long, Long] = {
    val adj = scala.collection.mutable.Map
      .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
    val nodes = scala.collection.mutable.LinkedHashSet.empty[Long]
    el.foreach { case (u, v) =>
      adj.getOrElseUpdate(u,
        scala.collection.mutable.ArrayBuffer.empty) += v
      nodes += u; nodes += v
    }
    val index = scala.collection.mutable.Map.empty[Long, Int]
    val low = scala.collection.mutable.Map.empty[Long, Int]
    val onStack = scala.collection.mutable.Set.empty[Long]
    val stack = scala.collection.mutable.ArrayBuffer.empty[Long]
    val label = scala.collection.mutable.Map.empty[Long, Long]
    var counter = 0
    for (root <- nodes if !index.contains(root)) {
      // Frame: (node, next-child offset).
      val work = scala.collection.mutable.ArrayBuffer[(Long, Int)]((root, 0))
      while (work.nonEmpty) {
        val (v, ci) = work.last
        if (ci == 0) {
          index(v) = counter; low(v) = counter; counter += 1
          stack += v; onStack += v
        }
        val kids = adj.getOrElse(v,
          scala.collection.mutable.ArrayBuffer.empty)
        if (ci < kids.length) {
          work(work.length - 1) = (v, ci + 1)
          val w = kids(ci)
          if (!index.contains(w)) work += ((w, 0))
          else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          work.remove(work.length - 1)
          if (work.nonEmpty) {
            val (p, _) = work.last
            low(p) = math.min(low(p), low(v))
          }
          if (low(v) == index(v)) {
            val comp = scala.collection.mutable.ArrayBuffer.empty[Long]
            var w = -1L
            while ({ w = stack.remove(stack.length - 1); onStack -= w
                     comp += w; w != v }) ()
            val m = comp.min
            comp.foreach(label(_) = m)
          }
        }
      }
    }
    label.toMap
  }

  /** Forward–backward peeling SCC (the distributed tier): per peel,
    * F = min-id that reaches v and B = min-id that v reaches, each
    * propagated to a VERIFIED fixpoint (the loop exits when a round
    * changes nothing, so the result is the unique fixpoint — no
    * round-parity contract with the oracle needed); F and B are
    * constant on an SCC, and F(v) = B(v) extracts at least the
    * component containing the remaining graph's minimum id (F = B =
    * that minimum there), so the peel strictly shrinks. Extracted
    * nodes leave; edges restrict to survivors.
    *
    * Scale shape: each round is one edge-grain shuffle + node-grain
    * min — hash-min CC economics doubled for direction; peels bound
    * re-scans by the number of "shells" (the loud caps would flag
    * drift). localCheckpoint per round severs the iterative lineage
    * (the q383 plan-growth lesson). */
  private[graft] def sccDistributed(s: SparkSession, edges0: DataFrame)
      : DataFrame = {
    var edges = edges0.select(col("u"), col("v")).localCheckpoint()
    var nodes = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n"))).distinct()
      .localCheckpoint()
    var out: DataFrame =
      s.range(0).select(col("id").as("n"), col("id").as("scc_id"))
    var remaining = nodes.count()
    var peel = 0
    def minProp(ed: DataFrame): DataFrame = {
      var lbl = nodes.select(col("n"), col("n").as("f")).localCheckpoint()
      var changed = 1L
      var r = 0
      while (changed > 0) {
        r += 1
        require(r <= SccMaxRounds, s"SCC min-propagation exceeded " +
          s"$SccMaxRounds rounds — graph shape drifted, re-measure")
        val nxt = ed.join(lbl, col("u") === col("n"))
          .groupBy(col("v")).agg(min(col("f")).as("inf"))
          .join(lbl.select(col("n"), col("f").as("f0")),
            col("v") === col("n"), "right")
          .select(col("n"), least(coalesce(col("inf"), col("f0")),
            col("f0")).as("f"))
          .localCheckpoint()
        changed = nxt.join(lbl.select(col("n").as("n0"), col("f").as("fp")),
          col("n") === col("n0"))
          .filter(col("f") =!= col("fp")).count()
        lbl = nxt
      }
      lbl
    }
    while (remaining > 0) {
      peel += 1
      require(peel <= SccMaxPeels, s"SCC peeling exceeded $SccMaxPeels " +
        "peels — graph shape drifted, re-measure")
      val fwd = minProp(edges)
      val bwd = minProp(edges.select(col("v").as("u"), col("u").as("v")))
      val done = fwd.join(bwd.select(col("n").as("nb"), col("f").as("b")),
          col("n") === col("nb"))
        .filter(col("f") === col("b"))
        .select(col("n"), col("f").as("scc_id"))
        .localCheckpoint()
      out = out.unionAll(done)
      nodes = nodes.join(done.select(col("n").as("nd")),
        col("n") === col("nd"), "left_anti").localCheckpoint()
      edges = edges
        .join(nodes.select(col("n").as("nu")), col("u") === col("nu"),
          "left_semi")
        .join(nodes.select(col("n").as("nv")), col("v") === col("nv"),
          "left_semi")
        .localCheckpoint()
      remaining = nodes.count()
    }
    out
  }

  /** q448: STRONGLY CONNECTED COMPONENTS of the purchase-sequence
    * graph — the directed complement of q383's undirected CC: a
    * component is a set of parts that REPEATEDLY lead back to each
    * other across consecutive orders (cyclic repurchase loops), while
    * one-way funnel edges stay between components. Forward–backward
    * min-label peeling ([[sccLabels]]); the oracle is definitional —
    * the recursive transitive closure's mutual-reachability relation —
    * so the gate proves the distributed peeling equals the textbook
    * definition, not a replay of itself. scc_id = the component's
    * minimum part id (q383's canonical-label convention). */
  val q448Scc: Q = Q(
    "q448_scc",
    s"""WITH RECURSIVE $duckSeqEdges,
      |nodes AS (SELECT u AS n FROM e0 UNION SELECT v FROM e0),
      |reach AS (SELECT u, v FROM e0
      |          UNION SELECT r.u, e.v FROM reach r JOIN e0 e
      |                ON e.u = r.v),
      |mutual AS (SELECT r1.u AS n, r1.v AS p
      |           FROM reach r1 JOIN reach r2
      |             ON r2.u = r1.v AND r2.v = r1.u)
      |SELECT nodes.n, least(nodes.n, coalesce(min(m.p), nodes.n))
      |         AS scc_id
      |FROM nodes LEFT JOIN mutual m ON m.n = nodes.n
      |GROUP BY nodes.n ORDER BY nodes.n""".stripMargin) { (s, dir) =>
    sccLabels(s, seqEdges(s, dir))
      .select(col("n"), col("scc_id")).orderBy(col("n"))
  }

  /** q449: CONDENSATION DEPTH — collapse q448's SCCs and layer the
    * resulting DAG by longest path from a source: the "how deep does
    * the repurchase funnel run" readout, and the scheduling order a
    * staged materialization of the sequence graph would follow. Depth
    * by iterated max-propagation to a verified fixpoint (terminates
    * because the condensation is acyclic by construction — a cycle
    * would mean two SCCs reach each other, contradiction). Output is
    * the depth histogram: components and member parts per layer.
    *
    * Scale shape: condensation edges are one distinct projection of
    * the edge list through the label table; the depth iteration runs
    * at component grain (≤ #SCCs rows per round), cap = observed DAG
    * depth with a loud raise. */
  val q449CondensationDepth: Q = Q(
    "q449_condensation_depth",
    s"""WITH RECURSIVE $duckSeqEdges,
      |nodes AS (SELECT u AS n FROM e0 UNION SELECT v FROM e0),
      |reach AS (SELECT u, v FROM e0
      |          UNION SELECT r.u, e.v FROM reach r JOIN e0 e
      |                ON e.u = r.v),
      |mutual AS (SELECT r1.u AS n, r1.v AS p
      |           FROM reach r1 JOIN reach r2
      |             ON r2.u = r1.v AND r2.v = r1.u),
      |scc AS (SELECT nodes.n, least(nodes.n, coalesce(min(m.p), nodes.n))
      |          AS c
      |        FROM nodes LEFT JOIN mutual m ON m.n = nodes.n
      |        GROUP BY nodes.n),
      |comps AS (SELECT c, CAST(count(*) AS BIGINT) AS n_nodes
      |          FROM scc GROUP BY 1),
      |ce AS (SELECT DISTINCT s1.c AS src, s2.c AS dst
      |       FROM e0 JOIN scc s1 ON s1.n = e0.u
      |               JOIN scc s2 ON s2.n = e0.v
      |       WHERE s1.c <> s2.c),
      |walk AS (SELECT c, 0 AS d FROM comps
      |         UNION SELECT ce.dst, w.d + 1 FROM walk w JOIN ce
      |               ON ce.src = w.c),
      |dep AS (SELECT c, CAST(max(d) AS BIGINT) AS depth
      |        FROM walk GROUP BY 1)
      |SELECT dep.depth, CAST(count(*) AS BIGINT) AS n_components,
      |       CAST(sum(comps.n_nodes) AS BIGINT) AS n_parts
      |FROM dep JOIN comps ON comps.c = dep.c
      |GROUP BY dep.depth ORDER BY dep.depth""".stripMargin) { (s, dir) =>
    val e0 = seqEdges(s, dir).persist(MEMORY_AND_DISK)
    val scc = sccLabels(s, e0).persist(MEMORY_AND_DISK)
    val comps = scc.groupBy(col("scc_id").as("c"))
      .agg(count(lit(1)).as("n_nodes")).persist(MEMORY_AND_DISK)
    val ce = e0.join(scc.select(col("n").as("nu"), col("scc_id").as("src")),
        col("u") === col("nu"))
      .join(scc.select(col("n").as("nv"), col("scc_id").as("dst")),
        col("v") === col("nv"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
      .persist(MEMORY_AND_DISK)
    condensationDepth(s, comps.select(col("c")), ce)
      .join(comps, "c")
      .groupBy(col("d").as("depth"))
      .agg(count(lit(1)).as("n_components"),
        sum(col("n_nodes")).cast("long").as("n_parts"))
      .orderBy(col("depth"))
  }

  /** Longest-path-from-a-source layering of a DAG, TIERED like
    * [[sccLabels]]: below the edge boundary the (tiny) condensation
    * collects and a driver topological DP labels it in one pass; above
    * it, iterated max-propagation to a verified fixpoint with the loud
    * round cap. Returns (c, d). */
  private[graft] def condensationDepth(s: SparkSession, compsIn: DataFrame,
      ceIn: DataFrame, driverMaxEdges: Long = Graph.DriverMaxEdges)
      : DataFrame =
    Graph.tiered(ceIn, Seq("src", "dst"), driverMaxEdges) { probe =>
      val cs = compsIn.collect().map(_.getLong(0))
      val el = probe.map(r => (r.getLong(0), r.getLong(1)))
      val preds = el.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
      val depth = scala.collection.mutable.Map.empty[Long, Long]
      def dOf(c: Long): Long = depth.getOrElseUpdate(c, {
        // Iterative post-order: DAG by construction, so this terminates.
        val st = scala.collection.mutable.ArrayBuffer[Long](c)
        while (st.nonEmpty) {
          val x = st.last
          val ps = preds.getOrElse(x, Array.empty[Long])
          val missing = ps.filterNot(depth.contains)
          if (missing.isEmpty) {
            depth(x) = if (ps.isEmpty) 0L
              else ps.map(depth(_)).max + 1L
            st.remove(st.length - 1)
          } else st ++= missing
        }
        depth(c)
      })
      import s.implicits._
      broadcast(cs.toSeq.map(c => (c, dOf(c))).toDF("c", "d"))
    } {
      var dep = compsIn.select(col("c"), lit(0L).as("d")).localCheckpoint()
      var changed = 1L
      var r = 0
      while (changed > 0) {
        r += 1
        require(r <= SccMaxRounds, s"condensation depth exceeded " +
          s"$SccMaxRounds rounds — DAG depth drifted, re-measure")
        val nxt = ceIn.join(dep, col("src") === col("c"))
          .groupBy(col("dst")).agg(max(col("d") + 1).as("dn"))
          .join(dep.select(col("c"), col("d").as("d0")),
            col("dst") === col("c"), "right")
          .select(col("c"), greatest(coalesce(col("dn"), col("d0")),
            col("d0")).as("d"))
          .localCheckpoint()
        changed = nxt.join(dep.select(col("c").as("c0"), col("d").as("dp")),
          col("c") === col("c0"))
          .filter(col("d") =!= col("dp")).count()
        dep = nxt
      }
      dep
    }

  // -------------------------------------------------------------------
  // q450 — graph motif census (wedges / triangles / squares / K4)
  // -------------------------------------------------------------------

  /** q450: MOTIF CENSUS — exact counts of the four smallest non-trivial
    * motifs over the support-2 co-purchase graph: wedges (Σ C(d,2)),
    * triangles (q106's (degree,id)-oriented wedge-close), 4-cycles
    * (C4 = ½ Σ_{u<w} C(p2(u,w), 2) over length-2-path counts — each
    * cycle counted once per diagonal pair), and 4-cliques (each K4
    * holds exactly 4 triangles, so K4 = tri-extension incidences ÷ 4,
    * incidences counted by joining the triangle LIST against the
    * adjacency three times on a common fourth vertex). Motif ratios
    * are the graph-topology fingerprint the single-number clustering
    * coefficient (q106) compresses away.
    *
    * Scale shape: the oriented close bounds wedge enumeration by
    * out-degree O(√E) (hub-safe, q106's device); p2 pairs are the same
    * wedge volume grouped map-side; the K4 extension joins at triangle
    * grain. Divisibility by 4 (and the half for C4) is require-checked
    * — an indivisible census means the motif algebra broke. */
  val q450MotifCensus: Q = Q(
    "q450_motif_census",
    """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS (SELECT l1.l_partkey AS u, l2.l_partkey AS v
      |       FROM lp l1 JOIN lp l2
      |         ON l1.l_orderkey = l2.l_orderkey
      |        AND l1.l_partkey < l2.l_partkey
      |       GROUP BY 1, 2 HAVING count(*) >= 2),
      |und AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
      |deg AS (SELECT u AS n, CAST(count(*) AS BIGINT) AS d
      |        FROM und GROUP BY 1),
      |ori AS (SELECT CASE WHEN (du.d, e0.u) < (dv.d, e0.v)
      |                    THEN e0.u ELSE e0.v END AS a,
      |               CASE WHEN (du.d, e0.u) < (dv.d, e0.v)
      |                    THEN e0.v ELSE e0.u END AS b,
      |               CASE WHEN (du.d, e0.u) < (dv.d, e0.v)
      |                    THEN dv.d ELSE du.d END AS db
      |        FROM e0 JOIN deg du ON du.n = e0.u
      |                JOIN deg dv ON dv.n = e0.v),
      |tril AS (SELECT w.a AS p, w.x AS q, w.y AS r FROM
      |           (SELECT o1.a, o1.b AS x, o2.b AS y
      |            FROM ori o1 JOIN ori o2 ON o2.a = o1.a
      |             AND (o1.db, o1.b) < (o2.db, o2.b)) w
      |         JOIN ori o ON o.a = w.x AND o.b = w.y),
      |p2 AS (SELECT j1.v AS u, j2.v AS w2, CAST(count(*) AS BIGINT) AS c
      |       FROM und j1 JOIN und j2
      |         ON j2.u = j1.u AND j1.v < j2.v
      |       GROUP BY 1, 2),
      |k4i AS (SELECT count(*) AS inc FROM tril t
      |        JOIN und n1 ON n1.u = t.p
      |        JOIN und n2 ON n2.u = t.q AND n2.v = n1.v
      |        JOIN und n3 ON n3.u = t.r AND n3.v = n1.v),
      |agg AS (SELECT
      |  (SELECT CAST(count(*) AS BIGINT) FROM e0) AS edges,
      |  (SELECT CAST(sum((d * (d - 1)) // 2) AS BIGINT) FROM deg)
      |    AS wedges,
      |  (SELECT CAST(count(*) AS BIGINT) FROM tril) AS triangles,
      |  (SELECT CAST(coalesce(sum((c * (c - 1)) // 2), 0) // 2
      |     AS BIGINT) FROM p2) AS squares,
      |  (SELECT CAST(inc // 4 AS BIGINT) FROM k4i) AS k4)
      |SELECT motif, cnt FROM (
      |  SELECT 'a_edges' AS motif, edges AS cnt FROM agg
      |  UNION ALL SELECT 'b_wedges', wedges FROM agg
      |  UNION ALL SELECT 'c_triangles', triangles FROM agg
      |  UNION ALL SELECT 'd_squares', squares FROM agg
      |  UNION ALL SELECT 'e_k4', k4 FROM agg)
      |ORDER BY motif""".stripMargin) { (s, dir) =>
    val e0 = Graph.supportedEdges(s, dir).persist(MEMORY_AND_DISK)
    val und = e0.unionAll(
      e0.select(col("v").as("u"), col("u").as("v")))
      .persist(MEMORY_AND_DISK)
    val deg = und.groupBy(col("u").as("n"))
      .agg(count(lit(1)).as("d")).persist(MEMORY_AND_DISK)
    val nEdges = e0.count()
    val nWedges = deg.agg(coalesce(
      sum(expr("(d * (d - 1)) div 2")), lit(0L)).cast("long"))
      .head.getLong(0)
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val ori = e0.join(deg.select(col("n").as("nu"), col("d").as("du")),
        col("u") === col("nu"))
      .join(deg.select(col("n").as("nv"), col("d").as("dv")),
        col("v") === col("nv"))
      .select(when(fwd, col("u")).otherwise(col("v")).as("a"),
        when(fwd, col("v")).otherwise(col("u")).as("b"),
        when(fwd, col("dv")).otherwise(col("du")).as("db"))
      .persist(MEMORY_AND_DISK)
    val tril = ori.as("o1").join(ori.as("o2"),
        col("o2.a") === col("o1.a") &&
          (col("o1.db") < col("o2.db") ||
            (col("o1.db") === col("o2.db") && col("o1.b") < col("o2.b"))))
      .select(col("o1.a").as("p"), col("o1.b").as("q0"),
        col("o2.b").as("r0"))
      .join(ori.as("o3"), col("o3.a") === col("q0") &&
        col("o3.b") === col("r0"), "left_semi")
      .select(col("p"), col("q0").as("q"), col("r0").as("r"))
      .persist(MEMORY_AND_DISK)
    val nTri = tril.count()
    val p2 = und.as("j1").join(und.as("j2"),
        col("j2.u") === col("j1.u") && col("j1.v") < col("j2.v"))
      .groupBy(col("j1.v").as("pu"), col("j2.v").as("pw"))
      .agg(count(lit(1)).as("c"))
    val sq2 = p2.agg(coalesce(sum(expr("(c * (c - 1)) div 2")), lit(0L))
      .cast("long")).head.getLong(0)
    require(sq2 % 2 == 0, "square census not divisible by 2 — broken")
    val k4inc = tril
      .join(und.select(col("u").as("e1u"), col("v").as("dd")),
        col("e1u") === col("p"))
      .join(und.select(col("u").as("e2u"), col("v").as("d2")),
        col("e2u") === col("q") && col("d2") === col("dd"), "left_semi")
      .join(und.select(col("u").as("e3u"), col("v").as("d3")),
        col("e3u") === col("r") && col("d3") === col("dd"), "left_semi")
      .count()
    require(k4inc % 4 == 0, "K4 census not divisible by 4 — broken")
    import s.implicits._
    Seq(("a_edges", nEdges), ("b_wedges", nWedges),
      ("c_triangles", nTri), ("d_squares", sq2 / 2),
      ("e_k4", k4inc / 4))
      .toDF("motif", "cnt").orderBy(col("motif"))
  }

  // -------------------------------------------------------------------
  // q451 — Zipf rank-frequency fit
  // -------------------------------------------------------------------

  /** q451: ZIPF FIT — OLS slope of ln(freq) against ln(rank) over the
    * top-500 corpus tokens: natural text sits near −1, and a corpus
    * whose slope drifts (template spam flattens it, deduped boilerplate
    * steepens it) fails the health check. q335's Heaps-law determinism
    * device verbatim — per-point rounded products summed in exact
    * DECIMAL(28,9), so both engines execute the identical IEEE division
    * sequence for slope/intercept/R².
    *
    * Scale shape: the token count is one map-side-combined groupBy; the
    * top-500 cut is a TakeOrdered; the rank window and the 5-term
    * regression run on 500 rows. */
  val q451ZipfFit: Q = {
    val terms =
      """CAST(count(*) AS BIGINT) AS n,
        |CAST(sum(CAST(round(x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sx,
        |CAST(sum(CAST(round(y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sy,
        |CAST(sum(CAST(round(x * y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
        |CAST(sum(CAST(round(x * x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxx,
        |CAST(sum(CAST(round(y * y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS syy""".stripMargin
    val out =
      """n AS n_tokens,
        |round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
        |  AS ln_c,
        |round((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |      / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2""".stripMargin
    Q(
      "q451_zipf_fit",
      s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok
        |           FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM t
        |      WHERE tok <> '' GROUP BY 1),
        |tk AS (SELECT tok, c,
        |              row_number() OVER (ORDER BY c DESC, tok) AS rk
        |       FROM c QUALIFY rk <= 500),
        |p AS (SELECT round(ln(CAST(rk AS DOUBLE)), 9) AS x,
        |             round(ln(CAST(c AS DOUBLE)), 9) AS y
        |      FROM tk),
        |a AS (SELECT $terms FROM p)
        |SELECT $out FROM a""".stripMargin) { (s, dir) =>
      val c = Tables(s, dir, "documents").filter(col("text").isNotNull)
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val tk = c.orderBy(col("c").desc, col("tok")).limit(500)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("c").desc, col("tok"))))
      val p = tk.select(expr("round(ln(CAST(rk AS DOUBLE)), 9)").as("x"),
        expr("round(ln(CAST(c AS DOUBLE)), 9)").as("y"))
      val termCols = terms.split(",\n(?=\\S)").toIndexedSeq.map(e => expr(e))
      val outCols = out.split(",\n(?=\\S)").toIndexedSeq
      p.agg(termCols.head, termCols.tail: _*).selectExpr(outCols: _*)
    }
  }

  // -------------------------------------------------------------------
  // q452 — co-purchase edge churn between date halves
  // -------------------------------------------------------------------

  /** q452: EDGE CHURN — the co-purchase graph diffed across the
    * 1995-06-01 date split: edges persisting / vanished / emerged
    * (support ≥ 2 within a half defines existence there), the top-10
    * largest support swings, and the census totals riding every row.
    * This is the graph-tier instance of the snapshot-diff discipline
    * (q112/q118): which affinity signal is STABLE enough to index, and
    * which is seasonal noise — built in ONE pair shuffle by counting
    * both halves conditionally in the same groupBy rather than
    * diffing two separately-built graphs.
    *
    * Scale shape: the (order, part, half) distinct collapses map-side;
    * one pair self-join + one (u, v) groupBy carries both halves'
    * support; census and top-10 are two tiny reads of the same cached
    * frame. */
  val q452EdgeChurn: Q = Q(
    "q452_edge_churn",
    """WITH lp AS (SELECT DISTINCT l.l_orderkey, l.l_partkey,
      |              CASE WHEN o.o_orderdate < DATE '1995-06-01'
      |                   THEN 0 ELSE 1 END AS half
      |            FROM lineitem l JOIN orders o
      |              ON o.o_orderkey = l.l_orderkey),
      |pr AS (SELECT l1.l_partkey AS u, l2.l_partkey AS v,
      |              CAST(sum(CASE WHEN l1.half = 0 THEN 1 ELSE 0 END)
      |                AS BIGINT) AS we,
      |              CAST(sum(CASE WHEN l1.half = 1 THEN 1 ELSE 0 END)
      |                AS BIGINT) AS wl
      |       FROM lp l1 JOIN lp l2
      |         ON l1.l_orderkey = l2.l_orderkey
      |        AND l1.half = l2.half
      |        AND l1.l_partkey < l2.l_partkey
      |       GROUP BY 1, 2),
      |st AS (SELECT u, v, we, wl,
      |              CASE WHEN we >= 2 AND wl >= 2 THEN 'persisting'
      |                   WHEN we >= 2 THEN 'vanished'
      |                   ELSE 'emerged' END AS status
      |       FROM pr WHERE we >= 2 OR wl >= 2),
      |cn AS (SELECT
      |  CAST(sum(CASE WHEN status = 'persisting' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_persisting,
      |  CAST(sum(CASE WHEN status = 'vanished' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_vanished,
      |  CAST(sum(CASE WHEN status = 'emerged' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_emerged
      |  FROM st),
      |tp AS (SELECT u, v, we AS w_early, wl AS w_late, wl - we AS delta,
      |              status,
      |              row_number() OVER (ORDER BY abs(wl - we) DESC, u, v)
      |                AS pos
      |       FROM st QUALIFY pos <= 10)
      |SELECT tp.pos, tp.u, tp.v, tp.w_early, tp.w_late, tp.delta,
      |       tp.status, cn.n_persisting, cn.n_vanished, cn.n_emerged
      |FROM tp, cn ORDER BY tp.pos""".stripMargin) { (s, dir) =>
    val lp = Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("l_orderkey"), col("l_partkey"),
        when(col("o_orderdate") < lit(java.sql.Date.valueOf("1995-06-01")),
          0).otherwise(1).as("half"))
      .distinct()
    val pr = lp.as("l1").join(lp.as("l2"),
        col("l1.l_orderkey") === col("l2.l_orderkey") &&
          col("l1.half") === col("l2.half") &&
          col("l1.l_partkey") < col("l2.l_partkey"))
      .groupBy(col("l1.l_partkey").as("u"), col("l2.l_partkey").as("v"))
      .agg(sum(when(col("l1.half") === 0, 1L).otherwise(0L))
        .cast("long").as("we"),
        sum(when(col("l1.half") === 1, 1L).otherwise(0L))
          .cast("long").as("wl"))
    val st = pr.filter(col("we") >= 2 || col("wl") >= 2)
      .withColumn("status",
        when(col("we") >= 2 && col("wl") >= 2, "persisting")
          .when(col("we") >= 2, "vanished")
          .otherwise("emerged"))
      .persist(MEMORY_AND_DISK)
    val cn = st.agg(
      sum(when(col("status") === "persisting", 1L).otherwise(0L))
        .cast("long").as("n_persisting"),
      sum(when(col("status") === "vanished", 1L).otherwise(0L))
        .cast("long").as("n_vanished"),
      sum(when(col("status") === "emerged", 1L).otherwise(0L))
        .cast("long").as("n_emerged"))
    st.select(col("u"), col("v"), col("we").as("w_early"),
        col("wl").as("w_late"), (col("wl") - col("we")).as("delta"),
        col("status"))
      .orderBy(abs(col("delta")).desc, col("u"), col("v")).limit(10)
      .withColumn("pos", row_number().over(
        Window.orderBy(abs(col("delta")).desc, col("u"), col("v")))
        .cast("long"))
      .crossJoin(broadcast(cn))
      .select(col("pos"), col("u"), col("v"), col("w_early"),
        col("w_late"), col("delta"), col("status"), col("n_persisting"),
        col("n_vanished"), col("n_emerged"))
      .orderBy(col("pos"))
  }

  // -------------------------------------------------------------------
  // q454 — embedding cohort drift (linear-kernel MMD, exact)
  // -------------------------------------------------------------------

  /** q454: EMBEDDING COHORT DRIFT — linear-kernel MMD² between the
    * label < 5 and label ≥ 5 cohorts: ‖μ_a − μ_b‖² with every term
    * exact by cross-multiplication — num_i = Sa_i·n_b − Sb_i·n_a over
    * quantized milli sums, so the mean difference never materializes
    * as a float. The embedding-space member of the drift family (PSI
    * q98 on numeric features, KS q135 on CDFs, JSD q343 on
    * vocabulary): did a new embedding batch / model version / cohort
    * move the space, and along WHICH dimensions. Top-8 shifted dims
    * (by num², ties to i) with signed per-dim shift; mmd2_micro2 rides
    * every row (×10⁶ before the integer division so a small true
    * drift survives the floor).
    *
    * Scale shape: one element-grain pass → (dim, cohort) partial sums
    * (map-side combined, ≤ 128 cells); everything after is 64-row
    * arithmetic. */
  val q454EmbeddingDrift: Q = Q(
    "q454_embedding_drift",
    """WITH el AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
      |              t.i - 1 AS i,
      |              CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1000)
      |                AS BIGINT) AS q
      |       FROM embeddings, range(1, 65) t(i)),
      |n AS (SELECT
      |        CAST(count(DISTINCT CASE WHEN label < 5 THEN vec_id END)
      |          AS BIGINT) AS na,
      |        CAST(count(DISTINCT CASE WHEN label >= 5 THEN vec_id END)
      |          AS BIGINT) AS nb
      |      FROM el),
      |sm AS (SELECT i,
      |         CAST(sum(CASE WHEN label < 5 THEN q ELSE 0 END)
      |           AS BIGINT) AS sa,
      |         CAST(sum(CASE WHEN label >= 5 THEN q ELSE 0 END)
      |           AS BIGINT) AS sb
      |       FROM el GROUP BY 1),
      |dm AS (SELECT i, CAST(sa AS HUGEINT) * nb - CAST(sb AS HUGEINT) * na
      |         AS num, na, nb
      |       FROM sm, n),
      |mm AS (SELECT CAST(sum(num * num) * 1000000
      |         // (CAST(max(na) AS HUGEINT) * max(na) * max(nb) * max(nb))
      |         AS BIGINT) AS mmd2_micro2
      |       FROM dm),
      |tp AS (SELECT i, CAST(num * 1000
      |         // (CAST(na AS HUGEINT) * nb) AS BIGINT) AS shift_micro,
      |              row_number() OVER (ORDER BY num * num DESC, i) AS pos
      |       FROM dm QUALIFY pos <= 8)
      |SELECT CAST(tp.pos AS BIGINT) AS pos, CAST(tp.i AS BIGINT) AS dim,
      |       tp.shift_micro, mm.mmd2_micro2
      |FROM tp, mm ORDER BY tp.pos""".stripMargin) { (s, dir) =>
    val el = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), col("label"), col("i").cast("long").as("i"),
        round(col("x").cast("double") * 1000).cast("long").as("q"))
      .persist(MEMORY_AND_DISK)
    val n = el.agg(
      countDistinct(when(col("label") < 5, col("vec_id"))).as("na"),
      countDistinct(when(col("label") >= 5, col("vec_id"))).as("nb"))
    val sm = el.groupBy(col("i"))
      .agg(sum(when(col("label") < 5, col("q")).otherwise(0L))
        .cast("long").as("sa"),
        sum(when(col("label") >= 5, col("q")).otherwise(0L))
          .cast("long").as("sb"))
    val dm = sm.crossJoin(broadcast(n))
      .withColumn("num",
        expr("CAST(sa AS DECIMAL(38,0)) * nb - CAST(sb AS DECIMAL(38,0)) * na"))
      .persist(MEMORY_AND_DISK)
    val mm = dm.agg(
      expr("CAST(sum(num * num) * 1000000 div " +
        "(CAST(max(na) AS DECIMAL(38,0)) * max(na) * max(nb) * max(nb))" +
        " AS BIGINT)").as("mmd2_micro2"))
    dm.select(col("i"),
        expr("CAST(num * 1000 div (CAST(na AS DECIMAL(38,0)) * nb)" +
          " AS BIGINT)").as("shift_micro"),
        expr("num * num").as("n2"))
      .orderBy(col("n2").desc, col("i")).limit(8)
      .withColumn("pos", row_number().over(
        Window.orderBy(col("n2").desc, col("i"))).cast("long"))
      .crossJoin(broadcast(mm))
      .select(col("pos"), col("i").as("dim"), col("shift_micro"),
        col("mmd2_micro2"))
      .orderBy(col("pos"))
  }

  val all: Seq[Q] = Seq(q436Modularity, q437LouvainGain, q438Ppr,
    q439PcaPower, q440PcaProject, q441CharEntropy, q442SourceMixing,
    q443SeqPatterns, q445StationaryMix, q446CoresetFps, q447NgramNovelty,
    q448Scc, q449CondensationDepth, q450MotifCensus, q451ZipfFit,
    q452EdgeChurn, q454EmbeddingDrift)
}
