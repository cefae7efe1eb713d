package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import graft.{Q, Tables}

/** Round-13 additions: the incremental-maintenance discipline extended to
  * triangle support (the delta-local fold q388's metric admits — a new
  * edge only perturbs supports inside its endpoints' neighborhoods),
  * k-truss decomposition (the peel loop q388 is the precursor of), a
  * non-whitespace-script tokenizer fallback closing the text tier's
  * space-delimited boundary, and Count-Min Sketch registers — the
  * SUM-mergeable heavy-hitter state complementing q385/q394's
  * max-mergeable HLL (cross-engine bit-identical registers, per-shard
  * merge identity, and the min-read estimate path).
  */
object Round13 {

  /** The support-2 co-purchase edge CTEs the graph oracles share
    * (q106/q383/q388's rendering verbatim). */
  private val duckEdges: String =
    """lp AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS (
      |  SELECT l1.l_partkey AS u, l2.l_partkey AS v
      |  FROM lp l1 JOIN lp l2
      |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin

  // -------------------------------------------------------------------
  // q395 — incremental triangle support
  // -------------------------------------------------------------------

  /** Fold a batch of delta edges into a persisted per-edge triangle
    * support index without re-running the archive's wedge join — the
    * [[graft.ops.Graph.ccFold]] discipline applied to q388's metric,
    * which is DELTA-LOCAL by nature: a triangle is new iff it contains
    * ≥ 1 delta edge, and every such triangle surfaces as a common
    * neighbor w of some delta edge's endpoints. So the fold is two
    * |Δ|-grain adjacency probes (never an archive-grain wedge join),
    * one distinct at new-triangle grain (canonical sorted triples — a
    * triangle holding 2 or 3 delta edges is found through each of them
    * and collapses to one count), a 3-row explode per new triangle, and
    * one edge-grain merge into the stored counts.
    *
    * `prev`: (u, v, tri) with u < v — the stored index (supports of all
    * triangles wholly inside the archive; the invariant this fold
    * preserves, so folds CHAIN batch over batch). `delta`: (u, v) new
    * edges, u < v. Returns the updated (u, v, tri) covering prev's
    * edges ∪ delta's — equal to [[Round12.triSupportOf]] over the union,
    * because every triangle is counted exactly once, at the fold where
    * its LAST edge arrives. Redelivered edges are filtered at entry
    * (anti-join against the index), so replay cannot double-count.
    *
    * Scale shape: at 100 TB the stored index is the big side and is
    * touched exactly twice at |Δ|-grain (the adjacency probe and the
    * final merge — and the merge would publish only dsupp's changed
    * keys through the manifest store's partitioned upsert, never
    * rewrite untouched edges). */
  private[graft] def triSupportFold(prev: DataFrame, delta: DataFrame)
      : DataFrame = {
    val prevEdges = prev.select(col("u"), col("v"))
    val deltaEff = delta.select(col("u"), col("v")).distinct()
      .join(prevEdges, Seq("u", "v"), "left_anti")
    val allEdges = prevEdges.unionByName(deltaEff)
      .persist(MEMORY_AND_DISK) // probed twice (adjacency) + final merge
    val adj = allEdges.unionAll(
      allEdges.select(col("v").as("u"), col("u").as("v")))
    val tris = deltaEff.select(col("u").as("du"), col("v").as("dv"))
      .join(adj.select(col("u").as("du"), col("v").as("w")), "du")
      .join(adj.select(col("u").as("dv"), col("v").as("w")), Seq("dv", "w"))
      .select(expr("array_sort(array(du, dv, w))").as("t"))
      .distinct()
    val dsupp = tris.select(explode(expr(
        """array(named_struct('u', t[0], 'v', t[1]),
          |      named_struct('u', t[0], 'v', t[2]),
          |      named_struct('u', t[1], 'v', t[2]))""".stripMargin)).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("dtri"))
    allEdges
      .join(prev, Seq("u", "v"), "left")
      .join(dsupp, Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        (coalesce(col("tri"), lit(0L)) + coalesce(col("dtri"), lit(0L)))
          .as("tri"))
  }

  /** q395: INCREMENTAL per-edge triangle support — q388's metric under
    * the q383 index-maintenance discipline: the co-purchase edge stream
    * splits into a day-1 archive ((u+v) % 5 ≠ 0) whose supports are the
    * PERSISTED index (one wedge join, run once), and a day-2 delta
    * ((u+v) % 5 = 0) folded in by [[triSupportFold]] — |Δ|-grain
    * adjacency probes only, the archive's wedge join never re-runs.
    * Oracle: the FROM-SCRATCH full-graph support (q388's oracle
    * verbatim), so the gate is "fold ≡ rebuild". */
  val q395TriSupportIncremental: Q = Q(
    "q395_tri_support_incremental",
    Round12.q388TriSupport.oracle.get) { (s, dir) =>
    val e0 = Graph.supportedEdges(s, dir).persist(MEMORY_AND_DISK)
    val day1 = e0.filter((col("u") + col("v")) % 5 =!= 0)
    val delta = e0.filter((col("u") + col("v")) % 5 === 0)
    // The persisted index: day-1 supports (triangles wholly in the
    // archive), built once — in production this is yesterday's table.
    val index = Round12.triSupportOf(day1)
    triSupportFold(index, delta)
      .select(col("u"), col("v"), col("tri").as("tri_support"))
      .orderBy(col("u"), col("v"))
  }

  // -------------------------------------------------------------------
  // q396 — k-truss decomposition
  // -------------------------------------------------------------------

  /** Peel-round caps per k, shared by all three implementations (the
    * unrolled oracle runs EXACTLY cap rounds per k — idempotent after
    * convergence; both Spark tiers peel to convergence and loudly
    * require rounds ≤ cap, so an input needing more rounds fails the
    * run rather than silently gating an unconverged answer). Measured
    * convergence on the three driver SFs: k=3 takes 2 rounds, k=4
    * takes 6, k=5 takes 32 (sf0.001's dense core peels in long
    * cascades), k=6 takes 6, k=7 starts empty — caps carry ~1.4×
    * headroom. k stops at 7: max truss observed is 5, and higher
    * levels of an unrolled oracle would only peel empty sets. */
  private[graft] val trussSchedule: Seq[(Int, Int)] =
    Seq(3 -> 8, 4 -> 14, 5 -> 44, 6 -> 14, 7 -> 8)

  /** The unrolled k-truss oracle: for each k in the schedule, `cap`
    * peel rounds (recompute support on the survivors, drop edges with
    * support < k−2), all CTEs MATERIALIZED — each round references its
    * predecessor four times, and without materialization the inlined
    * plan tree grows 4^rounds. Truss number = max k whose peel the
    * edge survives (2 if it survives none). */
  private def ktrussOracle: String = {
    val b = new scala.collection.mutable.StringBuilder
    b ++= "WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey " +
      "FROM lineitem),\ne0 AS MATERIALIZED (SELECT l1.l_partkey AS u, " +
      "l2.l_partkey AS v FROM lp l1 JOIN lp l2 ON l1.l_orderkey = " +
      "l2.l_orderkey AND l1.l_partkey < l2.l_partkey GROUP BY 1, 2 " +
      "HAVING count(*) >= 2)"
    var prev = "e0"
    val finals = scala.collection.mutable.ListBuffer[String]()
    for ((k, cap) <- trussSchedule) {
      for (r <- 1 to cap) {
        val a = s"a_${k}_$r"
        val t = s"t_${k}_$r"
        b ++= s",\n$a AS MATERIALIZED (SELECT u, v FROM $prev " +
          s"UNION ALL SELECT v, u FROM $prev)"
        b ++= s",\n$t AS MATERIALIZED (SELECT e.u, e.v FROM $prev e " +
          s"LEFT JOIN (SELECT e2.u, e2.v, count(*) AS tri FROM $prev e2 " +
          s"JOIN $a a1 ON a1.u = e2.u JOIN $a a2 ON a2.u = e2.v AND " +
          s"a2.v = a1.v GROUP BY 1, 2) s ON s.u = e.u AND s.v = e.v " +
          s"WHERE coalesce(s.tri, 0) >= ${k - 2})"
        prev = t
      }
      finals += s"SELECT u, v, $k AS k FROM $prev"
    }
    b ++= s",\nsurv AS (${finals.mkString(" UNION ALL ")}),"
    b ++= "\ntn AS (SELECT u, v, max(k) AS truss FROM surv GROUP BY 1, 2)"
    b ++= "\nSELECT e0.u, e0.v, CAST(coalesce(tn.truss, 2) AS BIGINT) " +
      "AS truss FROM e0 LEFT JOIN tn ON tn.u = e0.u AND tn.v = e0.v " +
      "ORDER BY e0.u, e0.v"
    b.toString
  }

  /** Driver-tier truss peel (mirrors [[Fuzzy.resolveClusters]]'s
    * ≤2M-edge tier: one collect, in-heap adjacency sets, no per-round
    * jobs — the peel's 40-plus tiny rounds are exactly the fixed-job-
    * overhead shape the driver tier exists for). */
  private[graft] def trussDriver(edges: Array[(Long, Long)])
      : Seq[(Long, Long, Long)] = {
    val truss = scala.collection.mutable.Map.empty[(Long, Long), Long]
    edges.foreach(e => truss(e) = 2L)
    var cur: Set[(Long, Long)] = edges.toSet
    for ((k, cap) <- trussSchedule if cur.nonEmpty) {
      var rounds = 0
      var changed = true
      while (changed && cur.nonEmpty) {
        rounds += 1
        val adj = scala.collection.mutable
          .Map.empty[Long, scala.collection.mutable.Set[Long]]
        cur.foreach { case (u, v) =>
          adj.getOrElseUpdate(u, scala.collection.mutable.Set.empty) += v
          adj.getOrElseUpdate(v, scala.collection.mutable.Set.empty) += u
        }
        val keep = cur.filter { case (u, v) =>
          val (a, bb) = if (adj(u).size <= adj(v).size) (u, v) else (v, u)
          adj(a).count(adj(bb).contains) >= k - 2
        }
        changed = keep.size != cur.size
        // Only CHANGING rounds count against the cap: the oracle runs
        // exactly `cap` rounds and is idempotent once converged, so an
        // input needing exactly `cap` drops still matches it — the
        // convergence-DETECTION round (no drop) at cap+1 must not trip
        // the loud-failure contract (round-13 ADVICE off-by-one).
        require(!changed || rounds <= cap,
          s"k-truss peel at k=$k exceeded the unrolled oracle bound " +
            s"($cap changing rounds) — re-measure convergence and raise " +
            "the schedule rather than gating an unconverged answer")
        cur = keep
      }
      cur.foreach(e => truss(e) = k.toLong)
    }
    edges.toSeq.map { case (u, v) => (u, v, truss((u, v))) }
  }

  /** Distributed truss peel: per round ONE oriented wedge join on the
    * CURRENT survivor set ([[Round12.triSupportOf]] — orientation keeps
    * it skew-immune on every round's residual graph) + the k−2 filter,
    * lineage cut per round (localCheckpoint — 40+ rounds would
    * otherwise stack plans). This is the 100-TB path; the survivor set
    * only shrinks, so per-round cost is bounded by the first round's. */
  private[graft] def trussDistributed(e0: DataFrame): DataFrame = {
    var cur = e0.select(col("u"), col("v")).localCheckpoint()
    var n = cur.count()
    val surv = scala.collection.mutable.ListBuffer[DataFrame]()
    for ((k, cap) <- trussSchedule if n > 0) {
      var rounds = 0
      var stable = false
      while (!stable && n > 0) {
        rounds += 1
        val next = Round12.triSupportOf(cur, checkpointOri = true)
          .filter(col("tri") >= k - 2)
          .select(col("u"), col("v"))
          .localCheckpoint()
        val m = next.count()
        stable = m == n
        // Changing rounds only — the detect round (no drop) at cap+1 is
        // allowed; see the driver tier's comment (ADVICE off-by-one).
        require(stable || rounds <= cap,
          s"k-truss peel at k=$k exceeded the unrolled oracle bound " +
            s"($cap changing rounds)")
        cur = next
        n = m
      }
      if (n > 0) surv += cur.select(col("u"), col("v"), lit(k.toLong).as("k"))
    }
    val tn =
      if (surv.isEmpty)
        e0.sparkSession.range(0).select(col("id").as("u"),
          col("id").as("v"), col("id").as("truss"))
      else
        surv.reduce(_ unionByName _)
          .groupBy(col("u"), col("v")).agg(max(col("k")).as("truss"))
    e0.join(tn, Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        coalesce(col("truss"), lit(2L)).as("truss"))
  }

  /** Tier choice, CHECKED not assumed ([[Graph.tiered]]): at or below
    * `driverMaxEdges` edges run the in-heap peel, above it the
    * distributed wedge-join peel. Both tiers produce identical truss
    * numbers (Round13Spec races them on the same graphs). */
  private[graft] def trussTiered(s: SparkSession, e0: DataFrame,
      driverMaxEdges: Long = Graph.DriverMaxEdges): DataFrame =
    Graph.tiered(e0, Seq("u", "v"), driverMaxEdges) { probe =>
      val rows = trussDriver(probe.map(r => (r.getLong(0), r.getLong(1))))
      s.createDataFrame(rows).toDF("u", "v", "truss")
    }(trussDistributed(e0))

  /** q396: k-TRUSS DECOMPOSITION — the cohesion decomposition q388's
    * per-edge support is the precursor of: repeatedly drop edges in
    * fewer than k−2 triangles (support recomputed on the shrinking
    * graph — removals cascade), and an edge's truss number is the
    * largest k it survives. The standard community-trimming call: a
    * k-truss edge sits in a group where every tie is reinforced by
    * k−2 mutual neighbors, far stronger than degree (k-core) screening.
    * Peel-round caps per k are part of the metric's shared definition
    * (see [[trussSchedule]]); both engines peel the same schedule.
    *
    * Scale shape: tiered exactly like the CC closure — below 2M edges
    * one collect + in-heap peel (40+ residual-graph rounds cost driver
    * microseconds, not 3 jobs each); above it the distributed peel's
    * per-round oriented wedge join on the shrinking survivor set. */
  val q396Ktruss: Q = Q("q396_ktruss", ktrussOracle) { (s, dir) =>
    val e0 = Graph.supportedEdges(s, dir).persist(MEMORY_AND_DISK)
    trussTiered(s, e0).orderBy(col("u"), col("v"))
  }

  // -------------------------------------------------------------------
  // q398 — non-whitespace-script tokenizer fallback
  // -------------------------------------------------------------------

  /** q398: SCRIPT-AWARE tokenizer fallback — every text op in the tier
    * tokenizes on single spaces, which is the synthetic corpus's
    * contract but NOT a property of real multilingual data (CJK-like
    * scripts arrive unsegmented). This query gates the standard
    * fallback: documents planted as unsegmented (doc_id % 7 = 0 —
    * spaces stripped in-query, since the stored corpus is read-only)
    * route through CHARACTER-BIGRAM tokenization while segmented text
    * keeps the whitespace path, and the top-10 tokens per mode are the
    * gate. The mode test is the presence of any space — exactly the
    * dispatch a lang-id-gated production tokenizer makes first.
    *
    * Scale shape: both paths are map-side explodes; counts partial-
    * aggregate at token grain; leaderboards are k-bounded (no global
    * window). */
  val q398ScriptFallbackTokens: Q = Q(
    "q398_script_fallback_tokens",
    """WITH base AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 7 = 0 THEN replace(text, ' ', '')
      |              ELSE text END AS s
      |  FROM documents WHERE text IS NOT NULL),
      |tok AS (
      |  SELECT 'space' AS mode, unnest(string_split(s, ' ')) AS token
      |  FROM base WHERE contains(s, ' ')
      |  UNION ALL
      |  SELECT 'bigram' AS mode, substr(s, i, 2) AS token
      |  FROM (SELECT s, unnest(range(1, length(s))) AS i
      |        FROM base WHERE NOT contains(s, ' '))),
      |c AS (SELECT mode, token, CAST(count(*) AS BIGINT) AS cnt
      |      FROM tok WHERE token <> '' GROUP BY 1, 2),
      |r AS (SELECT mode, token, cnt,
      |             CAST(row_number() OVER (PARTITION BY mode
      |               ORDER BY cnt DESC, token) AS BIGINT) AS pos
      |      FROM c)
      |SELECT mode, pos, token, cnt
      |FROM r WHERE pos <= 10 ORDER BY mode, pos""".stripMargin) { (s, dir) =>
    val base = Tables(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, regexp_replace(col("text"), " ", ""))
          .otherwise(col("text")).as("s"))
    val ws = base.filter(col("s").contains(" "))
      .select(explode(split(col("s"), " ")).as("token"))
    // sequence(1, len-1) needs len >= 2 (Spark sequence DESCENDS when
    // start > stop); a 1-char unsegmented doc has no bigram in either
    // engine (the oracle's range(1, 1) is empty), so the filter is
    // parity, not a divergence.
    val bg = base.filter(!col("s").contains(" ") && length(col("s")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(s) - 1), i -> substring(s, i, 2))"))
        .as("token"))
    def top10(df: DataFrame, mode: String) =
      Graph.rankTopK(
        df.filter(col("token") =!= "")
          .groupBy(col("token")).agg(count(lit(1)).as("cnt")),
        "cnt", "token", 10, "token", "cnt")
        .select(lit(mode).as("mode"), col("pos"), col("token"), col("cnt"))
    top10(bg, "bigram").unionByName(top10(ws, "space"))
      .orderBy(col("mode"), col("pos"))
  }

  // -------------------------------------------------------------------
  // q399 / q400 — Count-Min Sketch registers + estimate read path
  // -------------------------------------------------------------------

  /** Hex-nibble value of digest char i (1-based) — the engine-neutral
    * md5 arithmetic q385/q389 established. */
  private def hv(i: Int): String =
    s"(instr('0123456789abcdef', substring(d, $i, 1)) - 1)"
  private def ohv(i: Int): String =
    s"(strpos('0123456789abcdef', substr(d, $i, 1)) - 1)"

  /** The shared oracle CTE chain: token instances → 4 hash rows →
    * 32-column cells → register counts. */
  private val duckCms: String =
    s"""tok AS (SELECT unnest(string_split(text, ' ')) AS t
      |       FROM documents WHERE text IS NOT NULL),
      |tk AS (SELECT t FROM tok WHERE t <> ''),
      |cj AS (SELECT t, unnest([0, 1, 2, 3]) AS j FROM tk),
      |hx AS (SELECT j, t,
      |              md5(concat(CAST(j AS VARCHAR), '#', t)) AS d FROM cj),
      |cc AS (SELECT j, ((4096 * ${ohv(1)} + 256 * ${ohv(2)}
      |                   + 16 * ${ohv(3)} + ${ohv(4)}) % 4093) % 32 AS c
      |       FROM hx),
      |reg AS (SELECT j, c, CAST(count(*) AS BIGINT) AS r
      |        FROM cc GROUP BY 1, 2)""".stripMargin

  /** Token instances of a documents frame → their 4 CMS cells (j, c),
    * one row per (instance, hash row) — the md5-nibble hash kernel
    * shared by the batch gates (q399/q400) and the streaming fold
    * (q402). Extra columns on `docs` pass through. */
  private[graft] def cmsCells(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(docs.columns.map(col) :+
        explode(split(col("text"), " ")).as("t"): _*)
      .filter(col("t") =!= "")
      .select(col("*"), explode(expr("array(0L, 1L, 2L, 3L)")).as("j"))
      .select(col("*"),
        md5(concat(col("j").cast("string"), lit("#"), col("t"))).as("d"))
      // Cell = 16-bit nibble fold mod the PRIME 4093, then mod 32. The
      // prime step is load-bearing: 4096 and 256 are both ≡ 0 (mod 32),
      // so a direct % 32 would discard the first two nibbles — 5
      // effective hash bits instead of 16, quietly inflating collision
      // overcount (round-13 ADVICE). 4093 is coprime to 32 and not ≡ 0
      // mod any nibble weight (4096 ≡ 3, 256 ≡ 256, 16 ≡ 16 mod 4093),
      // so all four nibbles influence the cell index.
      .select(col("*"),
        expr(s"CAST(((4096 * ${hv(1)} + 256 * ${hv(2)} + 16 * ${hv(3)}"
          + s" + ${hv(4)}) % 4093) % 32 AS BIGINT)").as("c"))

  /** Sparse CMS register counts (j, c, r) of one documents frame — the
    * per-shard/per-trigger partial the linear sketch folds by per-cell
    * addition. */
  private[graft] def cmsCounts(docs: DataFrame): DataFrame =
    cmsCells(docs).groupBy(col("j"), col("c")).agg(count(lit(1)).as("r"))

  /** Dense 4×32 register surface from a sparse (j, c, r) — q399/q402's
    * output epilogue (missing cells are zero registers). */
  private[graft] def cmsDense(s: SparkSession, sparse: DataFrame): DataFrame =
    s.range(4).select(col("id").as("j"))
      .select(col("j"), explode(expr("sequence(0L, 31L)")).as("c"))
      .join(sparse, Seq("j", "c"), "left")
      .select(col("j"), col("c"), coalesce(col("r"), lit(0L)).as("register"))
      .orderBy(col("j"), col("c"))

  /** Spark-side register build, shared by q399/q400: token instances
    * over `shard = doc_id % 4`, per-shard register counts, then the
    * MERGE — per-cell SUM across shards (CMS is a linear sketch: shard
    * registers add, exactly like map-side partial counts). Returns the
    * sparse merged (j, c, r). */
  private[graft] def cmsMerged(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select((col("doc_id") % 4).as("shard"), col("text"))
    // Per-shard sketches first, then the merge: if the combine were
    // anything weaker than per-cell addition, the global-count oracle
    // would mismatch.
    cmsCells(docs).groupBy(col("shard"), col("j"), col("c"))
      .agg(count(lit(1)).as("r"))
      .groupBy(col("j"), col("c")).agg(sum(col("r")).as("r"))
  }

  /** q399: Count-Min Sketch REGISTERS, bit-identical across engines and
    * gated through the per-shard MERGE identity — the SUM-mergeable
    * heavy-hitter state for 100 TB (q385/q394 gated the max-mergeable
    * distinct state; CMS is its counting dual: d=4 hash rows × w=32
    * counters, every token instance increments one cell per row, and
    * registers from disjoint shards combine by per-cell addition —
    * linear, so partial-aggregated exactly like any sum). Hashes are
    * the engine-neutral md5-nibble arithmetic (row key '<j>#<token>');
    * the oracle computes the GLOBAL sketch in one pass, Spark builds
    * per-shard (doc_id % 4) sketches and merges — any merge defect
    * hash-mismatches.
    *
    * Scale shape: one map-side 4-row explode per token instance, then
    * a 128-cell aggregate — register count is constant regardless of
    * corpus size. */
  val q399CmsRegisters: Q = Q(
    "q399_cms_registers",
    s"""WITH $duckCms,
      |cells AS (SELECT jj.j, cc2.c
      |          FROM (SELECT unnest(range(0, 4)) AS j) jj,
      |               (SELECT unnest(range(0, 32)) AS c) cc2)
      |SELECT CAST(cells.j AS BIGINT) AS j, CAST(cells.c AS BIGINT) AS c,
      |       CAST(coalesce(reg.r, 0) AS BIGINT) AS register
      |FROM cells LEFT JOIN reg ON reg.j = cells.j AND reg.c = cells.c
      |ORDER BY j, c""".stripMargin) { (s, dir) =>
    cmsDense(s, cmsMerged(s, dir))
  }

  /** q400: the CMS READ path — point-frequency estimates for the three
    * most frequent tokens: est(t) = min over the 4 rows of the cell t
    * hashes to, always ≥ the true count (one-sided error — the
    * `overcount` column surfaces the collision slack the 32-column
    * width buys at this corpus size). The estimate is read from the
    * MERGED registers (q399's per-shard sum), so the gate covers
    * sketch-build, merge, and read end-to-end against the oracle's
    * global one-pass sketch. */
  val q400CmsEstimate: Q = Q(
    "q400_cms_estimate",
    s"""WITH $duckCms,
      |tc AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM tk GROUP BY 1),
      |top3 AS (SELECT t, cnt,
      |                CAST(row_number() OVER (ORDER BY cnt DESC, t)
      |                  AS BIGINT) AS pos
      |         FROM tc QUALIFY pos <= 3),
      |tj AS (SELECT pos, t, cnt, unnest([0, 1, 2, 3]) AS j FROM top3),
      |th AS (SELECT pos, t, cnt, j,
      |              md5(concat(CAST(j AS VARCHAR), '#', t)) AS d FROM tj),
      |tcell AS (SELECT pos, t, cnt, j,
      |                 ((4096 * ${ohv(1)} + 256 * ${ohv(2)}
      |                   + 16 * ${ohv(3)} + ${ohv(4)}) % 4093) % 32 AS c
      |          FROM th),
      |e AS (SELECT pos, t AS token, cnt AS true_cnt,
      |             CAST(min(reg.r) AS BIGINT) AS cms_est
      |      FROM tcell JOIN reg ON reg.j = tcell.j AND reg.c = tcell.c
      |      GROUP BY 1, 2, 3)
      |SELECT pos, token, true_cnt, cms_est,
      |       cms_est - true_cnt AS overcount
      |FROM e ORDER BY pos""".stripMargin) { (s, dir) =>
    val merged = cmsMerged(s, dir).persist(MEMORY_AND_DISK)
    val tokcnt = Tables(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
    val top3 = Graph.rankTopK(tokcnt, "cnt", "t", 3, "token", "true_cnt")
    top3
      .select(col("pos"), col("token"), col("true_cnt"),
        explode(expr("array(0L, 1L, 2L, 3L)")).as("j"))
      .select(col("pos"), col("token"), col("true_cnt"), col("j"),
        md5(concat(col("j").cast("string"), lit("#"), col("token"))).as("d"))
      .select(col("pos"), col("token"), col("true_cnt"), col("j"),
        expr(s"CAST(((4096 * ${hv(1)} + 256 * ${hv(2)} + 16 * ${hv(3)}"
          + s" + ${hv(4)}) % 4093) % 32 AS BIGINT)").as("c"))
      .join(merged, Seq("j", "c"))
      .groupBy(col("pos"), col("token"), col("true_cnt"))
      .agg(min(col("r")).as("cms_est"))
      .select(col("pos"), col("token"), col("true_cnt"), col("cms_est"),
        (col("cms_est") - col("true_cnt")).as("overcount"))
      .orderBy(col("pos"))
  }

  // -------------------------------------------------------------------
  // q401 — approximate betweenness centrality (Brandes from pivots)
  // -------------------------------------------------------------------

  /** The unrolled Brandes oracle: 12 forward levels (σ path counts — a
    * node's σ is the sum of its level-(h−1) predecessors' σ, dedup via
    * the known set), then 12 backward dependency levels δ(v) =
    * Σ_{w ∈ succ(v)} σ_v·(10⁹ + δ(w)) // σ_w — per-edge floor, HUGEINT
    * carriers (σ can exceed 64 bits on dense cores). MATERIALIZED
    * throughout (each level is referenced by the next, the known-set
    * union, AND the backward pass). */
  /** The shared Brandes CTE chain (q401 node / q404 edge epilogues):
    * forward σ levels with the known-set dedup, then per-DAG-EDGE
    * dependency terms f{h} (seed, node, w, t) — t = σ_v·(10⁹+δ_w)//σ_w,
    * floored per edge — from which the node dependencies d{h} aggregate.
    * Keeping the edge-grain terms named is exactly what edge betweenness
    * needs: the flow THROUGH each shortest-path DAG edge. */
  private def brandesCtes: String = {
    val cap = 12
    val ctes = scala.collection.mutable.ListBuffer[String](
      "lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM " +
        "lineitem)",
      "e0 AS MATERIALIZED (SELECT l1.l_partkey AS u, l2.l_partkey AS v " +
        "FROM lp l1 JOIN lp l2 ON l1.l_orderkey = l2.l_orderkey AND " +
        "l1.l_partkey < l2.l_partkey GROUP BY 1, 2 HAVING count(*) >= 2)",
      "sym AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u " +
        "FROM e0)",
      "deg AS MATERIALIZED (SELECT u, count(*) AS dg FROM sym GROUP BY 1)",
      "seeds AS MATERIALIZED (SELECT u FROM deg ORDER BY dg DESC, u " +
        "LIMIT 5)",
      "l0 AS MATERIALIZED (SELECT u AS seed, u AS node, " +
        "CAST(1 AS HUGEINT) AS sigma FROM seeds)",
      "k0 AS MATERIALIZED (SELECT seed, node FROM l0)")
    for (h <- 1 to cap) {
      ctes += s"l$h AS MATERIALIZED (SELECT p.seed, sym.v AS node, " +
        s"CAST(sum(p.sigma) AS HUGEINT) AS sigma FROM l${h - 1} p " +
        s"JOIN sym ON sym.u = p.node LEFT JOIN k${h - 1} k ON " +
        "k.seed = p.seed AND k.node = sym.v WHERE k.node IS NULL " +
        "GROUP BY 1, 2)"
      ctes += s"k$h AS MATERIALIZED (SELECT seed, node FROM k${h - 1} " +
        s"UNION ALL SELECT seed, node FROM l$h)"
    }
    ctes += s"d$cap AS MATERIALIZED (SELECT seed, node, " +
      s"CAST(0 AS HUGEINT) AS delta FROM l$cap)"
    for (h <- cap - 1 to 0 by -1) {
      ctes += s"f$h AS MATERIALIZED (SELECT lh.seed, lh.node, " +
        "sym.v AS w, CAST((lh.sigma * (1000000000 + d.delta)) " +
        s"// wn.sigma AS HUGEINT) AS t FROM l$h lh " +
        "JOIN sym ON sym.u = lh.node " +
        s"JOIN l${h + 1} wn ON wn.seed = lh.seed AND wn.node = sym.v " +
        s"JOIN d${h + 1} d ON d.seed = lh.seed AND d.node = sym.v)"
      ctes += s"s$h AS MATERIALIZED (SELECT seed, node, " +
        s"CAST(sum(t) AS HUGEINT) AS s FROM f$h GROUP BY 1, 2)"
      ctes += s"d$h AS MATERIALIZED (SELECT lh.seed, lh.node, " +
        s"CAST(coalesce(s.s, 0) AS HUGEINT) AS delta FROM l$h lh " +
        s"LEFT JOIN s$h s ON s.seed = lh.seed AND s.node = lh.node)"
    }
    "WITH " + ctes.mkString(",\n")
  }

  private def betweennessOracle: String = {
    val uni = (1 to 12).map(h => s"SELECT node, delta FROM d$h")
      .mkString(" UNION ALL ")
    brandesCtes +
      s",\nbc AS (SELECT node, CAST(sum(delta) AS HUGEINT) AS b FROM " +
      s"($uni) GROUP BY 1),\n" +
      "r AS (SELECT node, b, CAST(row_number() OVER (ORDER BY b DESC, " +
      "node) AS BIGINT) AS pos FROM bc)\n" +
      "SELECT pos, node, CAST(b AS BIGINT) AS betweenness_nano " +
      "FROM r WHERE pos <= 20 ORDER BY pos"
  }

  private def edgeBetweennessOracle: String = {
    val uni = (0 to 11).map(h => s"SELECT node, w, t FROM f$h")
      .mkString(" UNION ALL ")
    brandesCtes +
      s",\nef AS (SELECT least(node, w) AS a, greatest(node, w) AS b, " +
      s"CAST(sum(t) AS HUGEINT) AS flow FROM ($uni) GROUP BY 1, 2),\n" +
      "r AS (SELECT a, b, flow, CAST(row_number() OVER (ORDER BY " +
      "flow DESC, a, b) AS BIGINT) AS pos FROM ef)\n" +
      "SELECT pos, a, b, CAST(flow AS BIGINT) AS flow_nano " +
      "FROM r WHERE pos <= 20 ORDER BY pos"
  }

  /** q401: approximate BETWEENNESS centrality — Brandes' algorithm from
    * the five highest-degree pivots (the standard pivot-sampling
    * approximation for large graphs), 12-hop-capped like q386: forward
    * BFS accumulates exact σ path COUNTS per level (integer sums — no
    * float), the backward pass accumulates dependencies δ(v) =
    * Σ_{w ∈ succ(v)} (σ_v/σ_w)·(1 + δ(w)) in nano fixed point with the
    * division floored PER EDGE TERM (both engines sum identical floored
    * integers). The one centrality family the tier lacked: degree
    * (local), PageRank/Katz (flow), harmonic (reachability) — this is
    * the broker/bottleneck signal.
    *
    * Scale shape: q386's BFS economics forward (one frontier join + one
    * known-set anti-join per level) plus one successor equi-join per
    * level backward — every join at frontier grain, lineage cut per
    * level; σ carried in DECIMAL(38,0) (path counts overflow 64 bits on
    * dense cores long before memory matters). */
  /** One Brandes pass (forward σ levels + backward dependency terms)
    * over the support-2 graph from the top-5-degree pivots, 12-hop
    * cap. Returns (node betweenness (node, b), DAG-edge flows
    * (node, w, t) at term grain) — q401 ranks the first, q404 folds the
    * second to undirected edge grain. */
  private def brandesPass(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val dec = "decimal(38,0)"
    val e0 = Graph.supportedEdges(s, dir)
    val sym = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
      .persist(MEMORY_AND_DISK)
    val seeds = sym.groupBy(col("u")).agg(count(lit(1)).as("dg"))
      .orderBy(col("dg").desc, col("u")).limit(5).select(col("u").as("seed"))
    var lvl = seeds.select(col("seed"), col("seed").as("node"),
      lit(1L).cast(dec).as("sigma")).localCheckpoint()
    var known = lvl.select(col("seed"), col("node")).localCheckpoint()
    val levels = scala.collection.mutable.ArrayBuffer[DataFrame](lvl)
    for (_ <- 1 to 12) {
      val nxt = lvl.join(sym, lvl("node") === sym("u"))
        .select(col("seed"), col("v").as("node"), col("sigma"))
        .groupBy(col("seed"), col("node"))
        .agg(sum(col("sigma")).cast(dec).as("sraw"))
        // Overflow loudness: under non-ANSI semantics a DECIMAL(38,0)
        // sum that overflows becomes NULL and would propagate silently;
        // the oracle's HUGEINT errors loudly instead. σ is never NULL
        // by construction (every input row carries one), so NULL here
        // IS the overflow signal — fail the run like the truss/Luby
        // caps do rather than diverge quietly.
        .select(col("seed"), col("node"),
          coalesce(col("sraw"), expr("raise_error('brandes sigma sum " +
            "overflowed DECIMAL(38,0) — lower the hop cap or widen the " +
            "carrier')")).as("sigma"))
        .join(known, Seq("seed", "node"), "left_anti")
        .localCheckpoint()
      levels += nxt
      known = known
        .unionByName(nxt.select(col("seed"), col("node")))
        .localCheckpoint()
      lvl = nxt
    }
    var delta = levels(12).select(col("seed"), col("node"),
      lit(0L).as("delta")).localCheckpoint()
    val deltas = scala.collection.mutable.ArrayBuffer[DataFrame](delta)
    val flows = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (h <- 11 to 0 by -1) {
      val wn = levels(h + 1).select(col("seed"), col("node").as("w"),
        col("sigma").as("sw"))
      val dn = delta.select(col("seed"), col("node").as("w"),
        col("delta").as("dw"))
      // Per-DAG-edge dependency terms, materialized once: both the node
      // fold (q401) and the edge fold (q404) read them.
      val terms = levels(h).join(sym, col("node") === col("u"))
        .select(col("seed"), col("node"), col("sigma"), col("v").as("w"))
        .join(wn, Seq("seed", "w"))
        .join(dn, Seq("seed", "w"))
        // σ·(10⁹+δ) can overflow DECIMAL(38,0) on dense cores (the
        // comment above anticipates σ > 64 bits); non-ANSI overflow is
        // a quiet NULL that sum() would DROP, silently diverging from
        // the oracle's loud HUGEINT error. Every operand is non-null
        // (inner joins, coalesced δ), so NULL ⇔ overflow — raise.
        .select(col("seed"), col("node"), col("w"),
          coalesce(expr("(sigma * (1000000000 + dw)) div sw"),
            expr("raise_error('brandes dependency term sigma*(1e9+delta)" +
              " overflowed DECIMAL(38,0) — lower the hop cap or widen " +
              "the carrier')")).as("t"))
        .localCheckpoint()
      flows += terms.select(col("node"), col("w"), col("t"))
      delta = levels(h).select(col("seed"), col("node"))
        .join(terms.groupBy(col("seed"), col("node"))
          .agg(sum(col("t")).as("sd")), Seq("seed", "node"), "left")
        .select(col("seed"), col("node"),
          coalesce(col("sd"), lit(0L)).as("delta"))
        .localCheckpoint()
      if (h >= 1) deltas += delta
    }
    val bc = deltas.reduce(_ unionByName _)
      .groupBy(col("node")).agg(sum(col("delta")).as("b"))
    (bc, flows.reduce(_ unionByName _))
  }

  val q401Betweenness: Q = Q(
    "q401_betweenness", betweennessOracle) { (s, dir) =>
    Graph.rankTopK(brandesPass(s, dir)._1, "b", "node", 20,
      "node", "betweenness_nano")
  }

  /** q404: EDGE betweenness — the Girvan–Newman splitting signal, dual
    * to q396's k-truss cohesion: the shortest-path flow THROUGH each
    * edge (Brandes' per-DAG-edge dependency terms σ_v·(10⁹+δ_w)//σ_w,
    * summed over pivots, folded to undirected edge grain). High-flow
    * edges are the bridges a community decomposition cuts first; the
    * top-20 with the flow in nano fixed point.
    *
    * Scale shape: q401's pass (the terms are materialized per level
    * anyway — the edge fold adds one edge-grain aggregate, no new
    * joins). */
  val q404EdgeBetweenness: Q = Q(
    "q404_edge_betweenness", edgeBetweennessOracle) { (s, dir) =>
    val ef = brandesPass(s, dir)._2
      .select(least(col("node"), col("w")).as("a"),
        greatest(col("node"), col("w")).as("b"), col("t"))
      .groupBy(col("a"), col("b")).agg(sum(col("t")).as("flow"))
    // Composite-key top-20 (flow desc, a, b) via the k-bounded
    // posexplode device (rankTopK's single-key variant can't carry the
    // two endpoints).
    ef.orderBy(col("flow").desc, col("a"), col("b")).limit(20)
      .agg(collect_list(struct(col("flow").as("s"), col("a"),
        col("b"))).as("rows"))
      .select(posexplode(expr(
        """array_sort(rows, (l, r) ->
          |  CASE WHEN l.s > r.s THEN -1 WHEN l.s < r.s THEN 1
          |       WHEN l.a < r.a THEN -1 WHEN l.a > r.a THEN 1
          |       WHEN l.b < r.b THEN -1 WHEN l.b > r.b THEN 1
          |       ELSE 0 END)""".stripMargin)).as(Seq("i", "r")))
      .select((col("i") + 1).cast("long").as("pos"),
        col("r.a").as("a"), col("r.b").as("b"),
        col("r.s").as("flow_nano"))
      .orderBy(col("pos"))
  }

  // -------------------------------------------------------------------
  // q403 — weighted PageRank
  // -------------------------------------------------------------------

  /** q403: WEIGHTED PageRank — every graph kernel so far treats the
    * support-2 edge set as unweighted; this keeps the co-purchase
    * support as the edge WEIGHT and splits each node's rank mass
    * proportionally: r'(v) = jump + 85·Σ_u (r(u)·w_uv // sw_u) // 100,
    * sw_u = Σ w over u's incident edges — q109's exact integer fixpoint
    * generalized to weighted mass splitting (per-edge floor, identical
    * in both engines). The affinity-weighted variant is what a
    * recommender actually ranks with.
    *
    * Scale shape: q109's iteration economics — one equi-join +
    * map-side-combined sum per hop; the weight rides the edge list. */
  val q403WeightedPagerank: Q = Q(
    "q403_weighted_pagerank",
    """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |ew AS (SELECT l1.l_partkey AS u, l2.l_partkey AS v,
      |              CAST(count(*) AS BIGINT) AS w
      |       FROM lp l1 JOIN lp l2
      |         ON l1.l_orderkey = l2.l_orderkey
      |        AND l1.l_partkey < l2.l_partkey
      |       GROUP BY 1, 2 HAVING count(*) >= 2),
      |sym AS (SELECT u, v, w FROM ew UNION ALL SELECT v, u, w FROM ew),
      |swt AS (SELECT u, CAST(sum(w) AS BIGINT) AS sw FROM sym GROUP BY 1),
      |n AS (SELECT count(*) AS nn FROM swt),
      |r0 AS (SELECT u AS nd, 1000000000000 // (SELECT nn FROM n) AS r
      |       FROM swt),
      |r1 AS (SELECT sym.v AS nd,
      |              (15 * (1000000000000 // (SELECT nn FROM n))) // 100
      |                + (85 * sum((r0.r * sym.w) // swt.sw)) // 100 AS r
      |       FROM sym JOIN r0 ON r0.nd = sym.u JOIN swt ON swt.u = sym.u
      |       GROUP BY 1),
      |r2 AS (SELECT sym.v AS nd,
      |              (15 * (1000000000000 // (SELECT nn FROM n))) // 100
      |                + (85 * sum((r1.r * sym.w) // swt.sw)) // 100 AS r
      |       FROM sym JOIN r1 ON r1.nd = sym.u JOIN swt ON swt.u = sym.u
      |       GROUP BY 1),
      |r3 AS (SELECT sym.v AS nd,
      |              (15 * (1000000000000 // (SELECT nn FROM n))) // 100
      |                + (85 * sum((r2.r * sym.w) // swt.sw)) // 100 AS r
      |       FROM sym JOIN r2 ON r2.nd = sym.u JOIN swt ON swt.u = sym.u
      |       GROUP BY 1)
      |SELECT CAST(row_number() OVER (ORDER BY r DESC, nd) AS BIGINT) AS pos,
      |       nd AS n, CAST(r AS BIGINT) AS r
      |FROM r3 QUALIFY pos <= 20 ORDER BY pos""".stripMargin) { (s, dir) =>
    val ew = Graph.coPurchaseEdges(s, dir)
    val sym = ew.unionAll(
      ew.select(col("v").as("u"), col("u").as("v"), col("w")))
    val swt = sym.groupBy(col("u")).agg(sum(col("w")).as("sw"))
      .persist(MEMORY_AND_DISK)
    val nn = swt.count()
    if (nn == 0)
      s.range(0).select(col("id").as("pos"), col("id").as("n"),
        col("id").as("r"))
    else {
      val base = 1000000000000L / nn
      val jump = (15L * base) / 100L
      val edges = sym.join(swt, "u").persist(MEMORY_AND_DISK)
      var r = swt.select(col("u").as("n"), lit(base).as("r"))
      for (_ <- 1 to 3) {
        r = edges.join(r, col("n") === col("u"))
          .groupBy(col("v"))
          .agg(sum(expr("(r * w) div sw")).as("c"))
          .select(col("v").as("n"),
            (lit(jump) + expr("(85 * c) div 100")).as("r"))
      }
      Graph.rankTopK(r, "r", "n", 20, "n", "r")
    }
  }

  // -------------------------------------------------------------------
  // q405 — Luby maximal independent set
  // -------------------------------------------------------------------

  /** Unrolled Luby oracle: 8 rounds of "join the MIS iff your (p, n)
    * beats every UNDECIDED neighbor's", then remove winners and their
    * neighbors. Measured convergence on the three SFs is 2–4 rounds;
    * 8 carries 2× headroom and is part of the metric's shared
    * definition (Spark requires convergence within it, loudly). */
  private def lubyOracle: String = {
    val rounds = 8
    val pSql = s"16777216 * ${ohv(1)} + 1048576 * ${ohv(2)} + " +
      s"65536 * ${ohv(3)} + 4096 * ${ohv(4)} + 256 * ${ohv(5)} + " +
      s"16 * ${ohv(6)} + ${ohv(7)}"
    val ctes = scala.collection.mutable.ListBuffer[String](
      "lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM " +
        "lineitem)",
      "e0 AS MATERIALIZED (SELECT l1.l_partkey AS u, l2.l_partkey AS v " +
        "FROM lp l1 JOIN lp l2 ON l1.l_orderkey = l2.l_orderkey AND " +
        "l1.l_partkey < l2.l_partkey GROUP BY 1, 2 HAVING count(*) >= 2)",
      "sym AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u " +
        "FROM e0)",
      "n0 AS MATERIALIZED (SELECT DISTINCT u AS n FROM sym)",
      "nh AS (SELECT n, md5(CAST(n AS VARCHAR)) AS d FROM n0)",
      s"u0 AS MATERIALIZED (SELECT n, CAST($pSql AS BIGINT) AS p FROM nh)")
    for (r <- 1 to rounds) {
      ctes += s"m$r AS MATERIALIZED (SELECT un.n, un.p FROM u${r - 1} un " +
        s"LEFT JOIN (SELECT DISTINCT uu.n FROM sym " +
        s"JOIN u${r - 1} uu ON uu.n = sym.u " +
        s"JOIN u${r - 1} um ON um.n = sym.v " +
        "WHERE um.p > uu.p OR (um.p = uu.p AND um.n > uu.n)) b " +
        "ON b.n = un.n WHERE b.n IS NULL)"
      ctes += s"u$r AS MATERIALIZED (SELECT un.n, un.p FROM u${r - 1} un " +
        s"LEFT JOIN m$r m ON m.n = un.n " +
        s"LEFT JOIN (SELECT DISTINCT sym.v AS n FROM sym " +
        s"JOIN m$r mm ON mm.n = sym.u) nb ON nb.n = un.n " +
        "WHERE m.n IS NULL AND nb.n IS NULL)"
    }
    val uni = (1 to rounds)
      .map(r => s"SELECT n, $r AS rnd FROM m$r").mkString(" UNION ALL ")
    "WITH " + ctes.mkString(",\n") +
      s",\nmis AS (SELECT n, rnd FROM ($uni))\n" +
      "SELECT n0.n, mis.n IS NOT NULL AS in_mis, " +
      "CAST(mis.rnd AS BIGINT) AS mis_round " +
      "FROM n0 LEFT JOIN mis ON mis.n = n0.n ORDER BY n0.n"
  }

  /** q405: Luby's MAXIMAL INDEPENDENT SET — the classic distributed
    * symmetry-breaking kernel (conflict-free scheduling, coloring
    * seeds, anchor-set selection for blocked comparisons), made
    * deterministic: node priority = its id's md5 28-bit integer
    * (q389's hash device), a node joins the MIS when its (priority, id)
    * beats every still-UNDECIDED neighbor's, winners + their neighbors
    * leave the game, repeat. Expected O(log n) rounds with hash
    * priorities (measured 2–4 here; cap 8 is the shared definition,
    * loudly required). Output: every node with its MIS membership and
    * joining round — independence and maximality hold by construction
    * in BOTH engines, so the gate is the full decision table.
    *
    * Scale shape: per round one edge-grain join against the undecided
    * set (shrinking fast — winners remove their whole neighborhoods)
    * + two anti-joins; lineage cut per round. */
  val q405LubyMis: Q = Q("q405_luby_mis", lubyOracle) { (s, dir) =>
    val e0 = Graph.supportedEdges(s, dir)
    val sym = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
      .persist(MEMORY_AND_DISK)
    val nodes = sym.select(col("u").as("n")).distinct()
      .persist(MEMORY_AND_DISK)
    val pSql = s"16777216 * ${hv(1)} + 1048576 * ${hv(2)} + " +
      s"65536 * ${hv(3)} + 4096 * ${hv(4)} + 256 * ${hv(5)} + " +
      s"16 * ${hv(6)} + ${hv(7)}"
    var und = nodes.select(col("n"), md5(col("n").cast("string")).as("d"))
      .select(col("n"), expr(s"CAST($pSql AS BIGINT)").as("p"))
      .localCheckpoint()
    val misParts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var rnd = 0
    var remaining = und.count()
    while (remaining > 0) {
      rnd += 1
      // Unlike the truss peel, Luby has NO convergence-detection round:
      // the loop runs only while undecided nodes remain, and every round
      // retires at least one (the globally max-(p,id) undecided node
      // always wins) — so rnd counts changing rounds by construction and
      // the cap comparison carries no off-by-one.
      require(rnd <= 8,
        s"Luby MIS exceeded the unrolled oracle bound (8 rounds) — " +
          "re-measure convergence and raise the schedule")
      val uu = und.select(col("n").as("u"), col("p").as("pu"))
      val um = und.select(col("n").as("v"), col("p").as("pv"))
      val beaten = sym.join(uu, "u").join(um, "v")
        .filter(col("pv") > col("pu") ||
          (col("pv") === col("pu") && col("v") > col("u")))
        .select(col("u").as("n")).distinct()
      val m = und.join(beaten, Seq("n"), "left_anti").localCheckpoint()
      misParts += m.select(col("n"), lit(rnd.toLong).as("mis_round"))
      val nb = sym.join(m.select(col("n").as("u")), "u")
        .select(col("v").as("n")).distinct()
      und = und.join(m.select(col("n")), Seq("n"), "left_anti")
        .join(nb, Seq("n"), "left_anti")
        .localCheckpoint()
      remaining = und.count()
    }
    // Empty-graph guard (the q387/q390 family fix): a support-2 graph
    // with no edges never enters the loop, so misParts is empty and
    // reduce would throw — the oracle returns zero rows on the same
    // input. As everywhere else this is an if/else EXPRESSION.
    val mis =
      if (misParts.isEmpty)
        s.range(0).select(col("id").as("n"), col("id").as("mis_round"))
      else misParts.reduce(_ unionByName _)
    nodes.join(mis, Seq("n"), "left")
      .select(col("n"), col("mis_round").isNotNull.as("in_mis"),
        col("mis_round"))
      .orderBy(col("n"))
  }

  // -------------------------------------------------------------------
  // q406 — Kneser–Ney bigram LM (held-out)
  // -------------------------------------------------------------------

  /** q406: KNESER–NEY smoothed bigram LM, held-out — q391 gates the
    * add-one baseline; this is the smoother production LM filters
    * actually use, in the same eval-proper construction (train on
    * even-id docs, score the unseen odd half). Absolute discount
    * D = 3/4 in pure integers: P(w₂|w₁) = max(4c₂−3, 0)·10⁹ // 4c₁ +
    * (λ·P_cont) // 10⁹ with λ = 3·N₁₊(w₁•)·10⁹ // 4c₁, and the
    * CONTINUATION probability P_cont(w₂) = (N₁₊(•w₂)+1)·10⁹ //
    * (N₁₊(••)+V) — the "how many contexts does w₂ complete" signal
    * that distinguishes KN from plain backoff (a word frequent in ONE
    * context scores low). Unseen head words back off to P_cont
    * entirely; a 1-nano probability floor keeps ln defined (both
    * engines share every floor). NLL per bigram = ln(10⁹) − ln(P_nano),
    * both ln args integer-valued → the rounded-ln nano discipline; the
    * 15 worst held-out documents surface, directly comparable to
    * q391's add-one ranking.
    *
    * Scale shape: q391's economics — all model tables are n-gram-grain
    * map-side-combined aggregates; scoring is three equi-joins at
    * bigram/word grain; the leaderboard is k-bounded. */
  val q406KneserNey: Q = Q(
    "q406_kneser_ney",
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ws
      |            FROM documents WHERE text IS NOT NULL),
      |bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
      |       FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
      |             FROM tok WHERE len(ws) >= 2)),
      |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
      |       FROM bg WHERE doc_id % 2 = 0 GROUP BY 1, 2),
      |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
      |              CAST(count(*) AS BIGINT) AS n1f
      |       FROM c2 GROUP BY 1),
      |nb AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1b
      |       FROM c2 GROUP BY 1),
      |tots AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM c2) AS n1all,
      |                (SELECT CAST(count(DISTINCT w) AS BIGINT)
      |                 FROM (SELECT unnest(ws) AS w FROM tok
      |                       WHERE doc_id % 2 = 0)) AS v),
      |sc AS (SELECT bg.doc_id,
      |         CASE WHEN coalesce(c1.c1, 0) > 0 THEN
      |           greatest(
      |             (greatest(4 * coalesce(c2.c2, 0) - 3, 0)
      |                * 1000000000) // (4 * c1.c1)
      |             + ((3 * c1.n1f * 1000000000) // (4 * c1.c1)
      |                  * ((coalesce(nb.n1b, 0) + 1) * 1000000000
      |                     // (tots.n1all + tots.v))) // 1000000000,
      |             1)
      |         ELSE greatest((coalesce(nb.n1b, 0) + 1) * 1000000000
      |                         // (tots.n1all + tots.v), 1)
      |         END AS p_nano
      |       FROM bg
      |       LEFT JOIN c2 ON c2.w1 = bg.w1 AND c2.w2 = bg.w2
      |       LEFT JOIN c1 ON c1.w1 = bg.w1
      |       LEFT JOIN nb ON nb.w2 = bg.w2
      |       CROSS JOIN tots
      |       WHERE bg.doc_id % 2 = 1),
      |nl AS (SELECT doc_id,
      |         CAST(CAST(round(ln(1000000000), 9) AS DECIMAL(28,9))
      |              * 1000000000 AS BIGINT)
      |         - CAST(CAST(round(ln(p_nano), 9) AS DECIMAL(28,9))
      |                * 1000000000 AS BIGINT) AS nll_nano
      |       FROM sc),
      |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |             CAST(sum(nll_nano) // count(*) AS BIGINT) AS avg_nll_nano
      |      FROM nl GROUP BY 1),
      |r AS (SELECT d.*, CAST(row_number() OVER
      |               (ORDER BY avg_nll_nano DESC, doc_id) AS BIGINT) AS pos
      |      FROM d)
      |SELECT pos, doc_id, n_bigrams, avg_nll_nano
      |FROM r WHERE pos <= 15 ORDER BY pos""".stripMargin) { (s, dir) =>
    knBigramRanked(s, dir)
  }

  /** q406's body up to the k-bounded leaderboard, exposed so the
    * round-14 smoother-disagreement audit (q409) can rank the same KN
    * NLL surface against q391's add-one surface. Returns the ranked
    * top-15 frame (pos, doc_id, n_bigrams, avg_nll_nano). */
  private[graft] def knBigramRanked(s: SparkSession, dir: String)
      : DataFrame = {
    val d = knBigramNllPerDoc(s, dir)
    d.orderBy(col("avg_nll_nano").desc, col("doc_id")).limit(15)
      .agg(collect_list(struct(col("avg_nll_nano").as("s"),
        col("doc_id").as("k"), col("n_bigrams").as("nb"))).as("rows"))
      .select(posexplode(expr(
        """array_sort(rows, (l, r) ->
          |  CASE WHEN l.s > r.s THEN -1 WHEN l.s < r.s THEN 1
          |       WHEN l.k < r.k THEN -1 WHEN l.k > r.k THEN 1
          |       ELSE 0 END)""".stripMargin)).as(Seq("i", "r")))
      .select((col("i") + 1).cast("long").as("pos"),
        col("r.k").as("doc_id"), col("r.nb").as("n_bigrams"),
        col("r.s").as("avg_nll_nano"))
      .orderBy(col("pos"))
  }

  /** Per-document held-out Kneser–Ney NLL (doc_id, n_bigrams,
    * avg_nll_nano) — q406's scoring surface without the leaderboard
    * epilogue (reused by q409's disagreement audit). */
  private[graft] def knBigramNllPerDoc(s: SparkSession, dir: String)
      : DataFrame = {
    val tok = Tables(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .persist(MEMORY_AND_DISK) // bigrams (train + heldout) and the vocab
    val bg = tok.filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ws) - 1),
          |  i -> named_struct('w1', ws[i-1], 'w2', ws[i]))"""
          .stripMargin)).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val c2 = bg.filter(col("doc_id") % 2 === 0)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      .persist(MEMORY_AND_DISK) // probed by sc, folded by c1 and nb
    val c1 = c2.groupBy(col("w1"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1f"))
    val nb = c2.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
    val n1all = c2.agg(count(lit(1)).as("n1all"))
    val v = tok.filter(col("doc_id") % 2 === 0)
      .select(explode(col("ws")).as("w")).distinct()
      .agg(count(lit(1)).as("v"))
    val tots = n1all.crossJoin(broadcast(v))
    val sc = bg.filter(col("doc_id") % 2 === 1)
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .join(nb, Seq("w2"), "left")
      .crossJoin(broadcast(tots))
      .select(col("doc_id"), expr(
        """CASE WHEN coalesce(c1, 0) > 0 THEN
          |  greatest(
          |    (greatest(4 * coalesce(c2, 0) - 3, 0)
          |       * 1000000000) div (4 * c1)
          |    + ((3 * n1f * 1000000000) div (4 * c1)
          |         * ((coalesce(n1b, 0) + 1) * 1000000000
          |            div (n1all + v))) div 1000000000,
          |    1)
          |ELSE greatest((coalesce(n1b, 0) + 1) * 1000000000
          |                div (n1all + v), 1)
          |END""".stripMargin).as("p_nano"))
    val nano = (e: String) =>
      s"CAST(CAST(round(ln($e), 9) AS DECIMAL(28,9)) * 1000000000 AS BIGINT)"
    sc
      .select(col("doc_id"),
        (expr(nano("1000000000")) - expr(nano("p_nano"))).as("nll_nano"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        expr("CAST(sum(nll_nano) div count(*) AS BIGINT)").as("avg_nll_nano"))
  }

  val all: Seq[Q] = Seq(q395TriSupportIncremental, q396Ktruss,
    q398ScriptFallbackTokens, q399CmsRegisters, q400CmsEstimate,
    q401Betweenness, q403WeightedPagerank, q404EdgeBetweenness,
    q405LubyMis, q406KneserNey)
}
