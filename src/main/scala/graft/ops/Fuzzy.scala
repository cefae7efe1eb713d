package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** Fuzzy entity matching — the record-linkage stage of a data pipeline
  * (vendor/product/author name reconciliation before joining feeds).
  *
  * The reference has no fuzzy matching; this is extension surface in the
  * same spirit as the dedup family: CANDIDATES BY BLOCKING, TRUTH BY EXACT
  * VERIFY. A naive fuzzy join is a cartesian product (N² string distances);
  * the scale shape is (1) dedup the name VOCABULARY first — support counts
  * ride along, so downstream work is per distinct name, not per row —
  * then (2) generate candidates through a pigeonhole block join and
  * (3) run the exact distance only on candidates.
  *
  * Pigeonhole completeness: a name of W words is exploded into W
  * (position, word) segment keys; two same-width names at word-hamming
  * distance ≤ 1 agree on ≥ W−1 positions, so ANY shared (position, word)
  * key surfaces the pair — the block join has perfect recall for the ≤ 1
  * predicate, by construction (same argument as the SimHash pigeonhole
  * block join, Dedup.scala). No cartesian anywhere: candidate volume is
  * Σ_segment |bucket|², driven by segment collisions, not by N².
  */
object Fuzzy {

  /** Transitive closure with TIER SELECTION AS CODE, not authorship:
    * count the (deduped) edge list first; at or below `driverMaxEdges`
    * run a driver union-find (a vocabulary-level graph is sublinear in
    * rows, and one in-heap pass beats 10–20 tiny label-propagation
    * rounds' fixed job overhead — measured 20 s → ~2 s at sf0.1); above
    * it hand the SAME pairs to the distributed min-label CC
    * ([[Dedup.connectedComponents]], star-transform fallback included).
    * Both tiers label every node that appears in an edge with the MIN
    * member id of its component — the oracle's `least(u, min(v))` — so
    * the choice is invisible to results (FuzzyGraphSpec asserts label
    * equality across tiers on the same graph).
    *
    * Input: (doc_a, doc_b) Long pairs. Output: (doc_id, cluster_id),
    * driver tier pre-broadcast (vocabulary-sized by construction). */
  def resolveClusters(spark: SparkSession, edgesIn: DataFrame,
      driverMaxEdges: Long = Graph.DriverMaxEdges): DataFrame = {
    val edges = edgesIn.select(col("doc_a").cast("long").as("doc_a"),
      col("doc_b").cast("long").as("doc_b"))
    // ONE bounded probe decides the tier AND fetches the driver tier's
    // edges ([[Graph.tiered]]). This runs once per streaming TRIGGER via
    // ccFold, where a separate count job was pure per-trigger fixed cost
    // (optimization guide §1.2: remove passes before tuning anything
    // else).
    Graph.tiered(edges, Seq("doc_a", "doc_b"), driverMaxEdges) { probe =>
      val uf = new Graph.MinUnionFind
      probe.foreach(r => uf.union(r.getLong(0), r.getLong(1)))
      broadcast(spark.createDataFrame(uf.nodes.toSeq.map(n => (n, uf.find(n))))
        .toDF("doc_id", "cluster_id"))
    } {
      // Distributed tier: sever the edge list's lineage first — callers
      // (ccFold especially) hand in plans that embed whole CC-loop or
      // day-1 lineages, and connectedComponents references its input
      // every iteration (the plan-string blowup the old meta
      // localCheckpoint in ccFold guarded against — the guard now lives
      // here, paid only on the rare big-graph tier instead of every
      // trigger). Min-label fixpoint labels are exactly the
      // component-min ids.
      Dedup.connectedComponents(edges.localCheckpoint())
    }
  }

  /** q105: near-duplicate part names — same word count, at most one word
    * differs. Output one row per matched pair: support counts from the
    * vocabulary dedup, the word-hamming distance (0/1 per position,
    * generic in word count via zip_with) and the character-level
    * Levenshtein distance (identical DP in Spark and DuckDB — exact
    * BIGINT both sides) as the downstream merge-priority signals.
    *
    * The oracle renders the SEMANTICS (all same-width pairs at word
    * distance ≤ 1) with no blocking — the pigeonhole proof above is what
    * makes the blocked plan hash-match it. */
  val q105FuzzyNameMatch: Q = Q(
    "q105_fuzzy_name_match",
    """WITH names AS (
      |  SELECT p_name AS name, count(*) AS n_parts FROM part GROUP BY 1),
      |pairs AS (
      |  SELECT a.name AS name_a, b.name AS name_b,
      |         a.n_parts AS n_a, b.n_parts AS n_b,
      |         len(list_filter(range(1, len(string_split(a.name, ' ')) + 1),
      |             i -> string_split(a.name, ' ')[i]
      |                  IS DISTINCT FROM string_split(b.name, ' ')[i])) AS w_dist,
      |         levenshtein(a.name, b.name) AS lev
      |  FROM names a JOIN names b
      |    ON a.name < b.name
      |   AND len(string_split(a.name, ' ')) = len(string_split(b.name, ' ')))
      |SELECT name_a, name_b, n_a, n_b, CAST(w_dist AS BIGINT) AS w_dist, lev
      |FROM pairs WHERE w_dist <= 1
      |ORDER BY name_a, name_b""".stripMargin) { (s, dir) =>
    val names = Tables(s, dir, "part")
      .groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("n_parts"))
      .withColumn("ws", split(col("name"), " "))
      .withColumn("wc", size(col("ws")))
    // Blocking: one (position, word) key per word; same-key names are
    // candidates. Word count joins too — pigeonhole needs same width.
    val segs = names.select(col("name"), col("n_parts"), col("ws"), col("wc"),
      posexplode(col("ws")).as(Seq("wi", "w")))
    val cands = segs.as("a").join(segs.as("b"),
        col("a.wi") === col("b.wi") && col("a.w") === col("b.w") &&
          col("a.wc") === col("b.wc") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"),
        col("a.n_parts").as("n_a"), col("b.n_parts").as("n_b"),
        col("a.ws").as("ws_a"), col("b.ws").as("ws_b"))
      .distinct() // a pair may share several segments — emit once
    cands
      .withColumn("w_dist", expr(
        "aggregate(zip_with(ws_a, ws_b, (x, y) -> IF(x <=> y, 0L, 1L)), 0L, (acc, v) -> acc + v)"))
      .filter(col("w_dist") <= 1)
      .select(col("name_a"), col("name_b"), col("n_a"), col("n_b"),
        col("w_dist"), levenshtein(col("name_a"), col("name_b")).cast("long").as("lev"))
      .orderBy(col("name_a"), col("name_b"))
  }

  /** q110: EXACT set-similarity join (Jaccard ≥ 0.8 over shingle sets) via
    * prefix filtering — the AllPairs/PPJoin candidate generator. Where
    * MinHash-LSH (q35) trades recall for speed probabilistically, prefix
    * filtering is exact: order every document's shingles by a GLOBAL
    * (df, shingle) total order (rarest first) and keep only the first
    * |A| − ⌈τ·|A|⌉ + 1 as the PREFIX; two sets with J ≥ τ must intersect
    * within both prefixes (if they disagreed on every prefix token, the
    * overlap couldn't reach the τ bound — the PPJoin prefix lemma), so
    * the prefix equi-join has perfect recall and the exact verify never
    * misses a pair.
    *
    * Scale shape: candidate volume is Σ_prefix-shingle |bucket|² where
    * buckets are RAREST-first — the frequent shingles that would explode
    * a naive shared-token join never enter a prefix. The τ threshold is
    * applied as the integer cross-multiplication 9·|A∩B| ≥ 4·(|A|+|B|)
    * (⟺ J ≥ 0.8 exactly — no float in the decision). The oracle renders
    * pure semantics (every co-token pair, then the threshold): the prefix
    * lemma is what makes the blocked plan hash-match it. */
  val q110SetSimJoin: Q = Q(
    "q110_setsim_join",
    s"""WITH ${graft.ops.Dedup.duckShingleRows},
       |tok AS (SELECT DISTINCT doc_id, sh FROM shl),
       |sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
       |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |       FROM tok a JOIN tok b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |j AS (SELECT doc_a, doc_b, inter, sa.n AS na, sb.n AS nb
       |      FROM co JOIN sz sa ON sa.doc_id = co.doc_a
       |              JOIN sz sb ON sb.doc_id = co.doc_b)
       |SELECT doc_a, doc_b, inter, na, nb,
       |       round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jac
       |FROM j WHERE 9 * inter >= 4 * (na + nb)
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    // The token table has four consumers (df table, prefix ranking, both
    // sides of the verify intersection) but is NOT persisted: its
    // distinct's shuffle subtree is identical in all four branches, so
    // ReuseExchange materializes it once and the other three read the
    // shuffle files — cheaper than a MEMORY_AND_DISK materialization of
    // the full token table on pass 1 (6.9 s driver-record vs 2.4 s warm
    // was mostly that persist). Only the PREFIX table (~30% of rows, the
    // one input consumed twice by the self-join under a different
    // partitioning) is persisted.
    val tok = graft.ops.Dedup.shingleRows(s, dir).distinct()
    val dfreq = tok.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
    val ranked = tok.join(dfreq, "sh")
      .select(col("doc_id"), col("sh"),
        row_number().over(w.orderBy(col("df"), col("sh"))).as("rn"),
        count(lit(1)).over(w).as("n"))
    // prefix length |A| − ⌈0.8·|A|⌉ + 1, with ⌈4n/5⌉ = (4n+4) div 5
    val prefix = ranked.filter(col("rn") <= expr("n - ((4 * n + 4) div 5) + 1"))
      .select(col("doc_id"), col("sh"), col("n"), col("rn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // PPJoin LENGTH filter alongside the prefix lemma: J ≥ 0.8 forces
    // 0.8·|A| ≤ |B| ≤ |A|/0.8 (intersection ≤ min, union ≥ max), so
    // size-incompatible prefix collisions are dropped IN the join —
    // exact, like the prefix bound itself, and it prunes before the
    // expensive verify intersection.
    //
    // PPJoin POSITIONAL filter (also exact): shared tokens appear in the
    // same relative order on both sides (one global (df, sh) order), so
    // the pair's FIRST shared prefix token has nothing shared before it
    // and bounds the whole intersection: inter ≤ 1 + min(n_a − rn_a,
    // n_b − rn_b). J ≥ 0.8 needs 9·inter ≥ 4·(n_a + n_b); a row whose
    // bound can't reach that is dropped IN the join. Non-first shared
    // tokens have larger rn on BOTH sides (smaller bound) — dropping
    // them never loses a pair the first-token row admits, and a pair
    // whose first-token bound fails has every row fail. Exact pruning
    // at first-token tightness, still one equi-join + distinct.
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
          lit(4) * col("a.n") <= lit(5) * col("b.n") &&
          lit(4) * col("b.n") <= lit(5) * col("a.n") &&
          lit(9) * (lit(1) + least(col("a.n") - col("a.rn"),
            col("b.n") - col("b.rn"))) >= lit(4) * (col("a.n") + col("b.n")))
      // Set sizes ride along from the prefix rows (n is per-doc constant),
      // so the two post-verify size joins are gone entirely.
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .distinct()
    val inter = cands
      .join(tok.as("ta"), col("doc_a") === col("ta.doc_id"))
      .join(tok.as("tb"),
        col("doc_b") === col("tb.doc_id") && col("ta.sh") === col("tb.sh"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("inter"))
    inter
      .filter(lit(9) * col("inter") >= lit(4) * (col("na") + col("nb")))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("na"), col("nb"),
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6)
          .as("jac"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q179: entity resolution END-TO-END — the MDM pipeline as one
    * operator: q105's blocked fuzzy matcher produces the edge list,
    * Dedup.connectedComponents folds matches into entity clusters
    * (transitively: A~B, B~C ⇒ one entity even if A~C was never
    * generated), and each cluster collapses to a golden record with
    * q154's survivorship discipline (canonical name = longest via the
    * zero-padded length|name key; support summed). Names get stable ids
    * = min part key per name, so the cluster label is reproducible.
    * The oracle recomputes the closure as a recursive CTE over the pure
    * match semantics — gate equality proves blocking + closure +
    * survivorship together equal the declarative spec.
    *
    * Scale: blocking and survivorship are the audited distributed shapes;
    * the CLOSURE goes through [[resolveClusters]] — a GUARDED tier choice.
    * This is a VOCABULARY-level graph (nodes = distinct names, edges ≤
    * colliding name pairs), bounded by the name vocabulary whatever the
    * row count — the same reduction that makes q105 viable — so a
    * 10⁶-node union-find on the driver beats 10-20 tiny
    * label-propagation rounds' fixed job overhead (measured: 20 s →
    * ~2 s at sf0.1). But "vocabulary-bounded" is a checked invariant,
    * not a comment: resolveClusters counts the edge list first and
    * routes anything past Graph.DriverMaxEdges to the distributed CC
    * (q47/q62's min-label loop) with identical min-member labels.
    * Picking the right tier per MEASURED graph size IS the scale design. */
  val q179EntityResolution: Q = Q(
    "q179_entity_resolution",
    """WITH RECURSIVE names AS (
      |  SELECT p_name AS name, count(*) AS n_parts, min(p_partkey) AS nid
      |  FROM part GROUP BY 1),
      |pairs AS (
      |  SELECT least(a.nid, b.nid) AS u, greatest(a.nid, b.nid) AS v
      |  FROM names a JOIN names b
      |    ON a.name < b.name
      |   AND len(string_split(a.name, ' ')) = len(string_split(b.name, ' '))
      |   AND len(list_filter(range(1, len(string_split(a.name, ' ')) + 1),
      |           i -> string_split(a.name, ' ')[i]
      |                IS DISTINCT FROM string_split(b.name, ' ')[i])) <= 1
      |   AND levenshtein(a.name, b.name) <= 3),
      |edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
      |reach AS (SELECT u, v FROM edges
      |          UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      |lbl AS (SELECT u AS nid, least(u, min(v)) AS cluster_id
      |        FROM reach GROUP BY u)
      |SELECT cluster_id, count(*) AS n_names,
      |       CAST(sum(n.n_parts) AS BIGINT) AS total_parts,
      |       max_by(n.name,
      |              lpad(CAST(length(n.name) AS VARCHAR), 4, '0') || '|' || n.name)
      |         AS canonical_name
      |FROM lbl JOIN names n USING (nid)
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val names = Tables(s, dir, "part")
      .groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("n_parts"), min(col("p_partkey")).as("nid"))
      .withColumn("ws", split(col("name"), " "))
      .withColumn("wc", size(col("ws")))
    val segs = names.select(col("name"), col("nid"), col("ws"), col("wc"),
      posexplode(col("ws")).as(Seq("wi", "w")))
    val edges = segs.as("a").join(segs.as("b"),
        col("a.wi") === col("b.wi") && col("a.w") === col("b.w") &&
          col("a.wc") === col("b.wc") && col("a.name") < col("b.name"))
      .select(col("a.nid").as("nid_a"), col("b.nid").as("nid_b"),
        col("a.ws").as("ws_a"), col("b.ws").as("ws_b"))
      .distinct()
      .withColumn("w_dist", expr(
        "aggregate(zip_with(ws_a, ws_b, (x, y) -> IF(x <=> y, 0L, 1L)), 0L, (acc, v) -> acc + v)"))
      // The lev ≤ 3 leg keeps match tightness meaningful in this dense
      // two-word vocabulary (w_dist alone transitively collapses ALL
      // names into one entity — true but useless as a fixture).
      .filter(col("w_dist") <= 1 &&
        levenshtein(concat_ws(" ", col("ws_a")), concat_ws(" ", col("ws_b"))) <= 3)
      .select(least(col("nid_a"), col("nid_b")).as("doc_a"),
        greatest(col("nid_a"), col("nid_b")).as("doc_b"))
    // Tier-selected transitive closure: driver union-find while the edge
    // list stays vocabulary-bounded, distributed CC past the guard — the
    // threshold is CHECKED, not assumed (see resolveClusters).
    resolveClusters(s, edges)
      .join(names.select(col("nid").as("doc_id"), col("name"), col("n_parts")),
        "doc_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_names"),
        sum(col("n_parts")).cast("long").as("total_parts"),
        max_by(col("name"),
          concat(lpad(length(col("name")).cast("string"), 4, "0"),
            lit("|"), col("name"))).as("canonical_name"))
      .orderBy(col("cluster_id"))
  }

  /** q189: containment join — the ASYMMETRIC near-dup q110's Jaccard
    * misses: a short document quoted inside a much longer one has tiny
    * Jaccard (the union is huge) but containment |A∩B|/|A| ≈ 1. Same
    * shared-shingle co-count skeleton as q110; the decision is the
    * integer cross-multiplication 10·inter ≥ 9·|A| per DIRECTION, so one
    * pair can flag a⊂b, b⊂a (near-equal), or both. This is the
    * "document swallowed by a concatenation" detector a dedup pipeline
    * runs besides symmetric similarity.
    *
    * Scale: identical to q110 — candidate volume ∝ Σ_shingle |bucket|²
    * over deduped (doc, shingle) tokens; the threshold test is
    * integer-exact. */
  val q189ContainmentJoin: Q = Q(
    "q189_containment_join",
    s"""WITH ${graft.ops.Dedup.duckShingleRows},
       |tok AS (SELECT DISTINCT doc_id, sh FROM shl),
       |sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
       |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |       FROM tok a JOIN tok b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |j AS (SELECT doc_a, doc_b, inter, sa.n AS na, sb.n AS nb
       |      FROM co JOIN sz sa ON sa.doc_id = co.doc_a
       |              JOIN sz sb ON sb.doc_id = co.doc_b)
       |SELECT doc_a, doc_b, inter, na, nb,
       |       10 * inter >= 9 * na AS a_in_b,
       |       10 * inter >= 9 * nb AS b_in_a
       |FROM j WHERE 10 * inter >= 9 * na OR 10 * inter >= 9 * nb
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    val tok = graft.ops.Dedup.shingleRows(s, dir).distinct()
    val sz = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val co = tok.as("a").join(tok.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    co.join(sz.withColumnsRenamed(Map("doc_id" -> "doc_a", "n" -> "na")), "doc_a")
      .join(sz.withColumnsRenamed(Map("doc_id" -> "doc_b", "n" -> "nb")), "doc_b")
      .withColumn("a_in_b", lit(10) * col("inter") >= lit(9) * col("na"))
      .withColumn("b_in_a", lit(10) * col("inter") >= lit(9) * col("nb"))
      .filter(col("a_in_b") || col("b_in_a"))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("na"), col("nb"),
        col("a_in_b"), col("b_in_a"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q288: sorted-neighborhood blocking (Hernández–Stolfo) — the OTHER
    * classic ER candidate generator, complementing q105's pigeonhole
    * blocks: sort the name vocabulary once, pair every name with its w=2
    * successors in the global order, verify with exact edit distance.
    * Where pigeonhole recall is structural (same-width, ≤1 word), SNM
    * recall follows the sort key — typo families that sort adjacently
    * surface even when no whole word matches.
    *
    * Scale shape: the textbook pitfall is that "global order" reads as a
    * global sort + unpartitioned window (one reducer owns the world).
    * The distributed form used here: partition by a RANGE block (first
    * character — order-consistent with the full key, so block boundaries
    * respect the global order), rank WITHIN blocks (partitioned window),
    * and recover global ranks by adding per-block offsets — the block
    * directory is charset-bounded, so offsets are a driver scalar pass
    * exactly like q109's base/jump, broadcast back. Neighbor pairing is
    * then an EQUI-join on rank (each name probes rank+1, rank+2 — a
    * 2-row generate, not a range join), which also stitches pairs ACROSS
    * block boundaries for free — the part a naive per-block window
    * misses. Candidate volume is exactly w·N; the O(N²) verify never
    * exists. */
  val q288SortedNeighborhood: Q = Q(
    "q288_sorted_neighborhood",
    """WITH names AS (SELECT DISTINCT p_name AS name FROM part),
      |r AS (SELECT name, CAST(row_number() OVER (ORDER BY name) AS BIGINT) AS rk
      |      FROM names)
      |SELECT a.name AS name_a, b.name AS name_b,
      |       CAST(b.rk - a.rk AS BIGINT) AS gap,
      |       CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev
      |FROM r a JOIN r b ON b.rk - a.rk BETWEEN 1 AND 2
      |WHERE levenshtein(a.name, b.name) <= 3
      |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val names = Tables(s, dir, "part")
      .select(col("p_name").as("name")).distinct()
      .withColumn("blk", substring(col("name"), 1, 1))
    val ranked = names.withColumn("wrk",
      row_number().over(Window.partitionBy(col("blk")).orderBy(col("name")))
        .cast("long"))
    // Block directory: charset-bounded (≤ |alphabet| rows) — offsets are
    // a bounded driver reduction, not a data-plane collect.
    val offsets = ranked.groupBy(col("blk")).agg(count(lit(1)).as("bn"))
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      .scanLeft(("", 0L)) { case ((_, acc), (b, n)) => (b, acc + n) }
      .sliding(2).collect { case Seq((_, off), (b, _)) => (b, off) }.toSeq
    val offDf = s.createDataFrame(offsets).toDF("blk", "off")
    val g = ranked.join(broadcast(offDf), "blk")
      .select(col("name"), (col("off") + col("wrk")).as("rk"))
    val probes = g.select(col("name").as("name_a"), col("rk"),
        explode(array(lit(1L), lit(2L))).as("gap"))
      .withColumn("rk", col("rk") + col("gap"))
    probes.join(g.select(col("name").as("name_b"), col("rk")), "rk")
      .withColumn("lev", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("lev") <= 3)
      .select(col("name_a"), col("name_b"), col("gap"), col("lev"))
      .orderBy(col("name_a"), col("name_b"))
  }

  /** q314: Fellegi–Sunter record-linkage scoring — the DECISION layer the
    * ER family lacked: q105/q288 generate candidate pairs and q179 links
    * on a hard distance cutoff, but production linkage weighs EACH
    * compared field by how discriminating it is. The FS model scores a
    * pair by Σ_f ln(m_f/u_f) over agreeing fields f plus
    * Σ ln((1−m_f)/(1−u_f)) over disagreeing ones, then thresholds into
    * link / possible / nonlink.
    *
    * Parameters: m (P[agree | same entity]) are stated literals per field
    * (no labeled truth exists in synthetic data; production fits them by
    * EM); u (P[agree | random pair]) is ESTIMATED FROM THE DATA as the
    * collision mass Σc_v²/N² of each field's value histogram — exactly
    * the estimator Fellegi–Sunter's original paper proposes when only
    * the file itself is available. The size field's banded agreement
    * (|Δ|≤2) uses the banded collision mass via a ±2-offset equi-join of
    * the size histogram with itself.
    *
    * Exactness: every u is one IEEE division of exactly-computed BIGINTs;
    * each weight is round(ln(·),9) (the repo's portable-libm idiom) cast
    * DECIMAL(18,9); the pattern score is an exact decimal sum surfaced
    * as nano-units. Output is at AGREEMENT-PATTERN grain (≤2³ rows) —
    * the classic FS pattern table — so nothing row-grain ever leaves the
    * executors.
    *
    * Scale shape: blocking on (noun, brand) bounds candidate volume by
    * Σ_block |block|² with data-bounded blocks; the three u-scalars are
    * 1-row broadcasts; histograms are map-side combined. At 100 TB the
    * block key would widen (add a sorted-neighborhood window, q288) —
    * the scoring layer is unchanged. */
  val q314FsLinkage: Q = {
    def wAgree(m: String, c2: String) =
      s"CAST(round(ln($m / (CAST($c2 AS DOUBLE) / CAST(n * n AS DOUBLE))), 9) AS DECIMAL(18,9))"
    def wDis(m1: String, c2: String) =
      s"CAST(round(ln($m1 / (1.0 - CAST($c2 AS DOUBLE) / CAST(n * n AS DOUBLE))), 9) AS DECIMAL(18,9))"
    // (alias, expression) pairs — ONE list renders both engines' weight
    // columns, so the six ln terms can never drift apart.
    val wExprs: Seq[(String, String)] = Seq(
      "wa_adj" -> wAgree("0.95", "c2a"), "wd_adj" -> wDis("0.05", "c2a"),
      "wa_typ" -> wAgree("0.90", "c2t"), "wd_typ" -> wDis("0.10", "c2t"),
      "wa_sz" -> wAgree("0.80", "c2s"), "wd_sz" -> wDis("0.20", "c2s"))
    val wCols = wExprs.map { case (a, e) => s"$e AS $a" }.mkString(",\n")
    val scoreExpr =
      """CASE WHEN adj_agree THEN wa_adj ELSE wd_adj END
        | + CASE WHEN type_agree THEN wa_typ ELSE wd_typ END
        | + CASE WHEN size_agree THEN wa_sz ELSE wd_sz END""".stripMargin
    Q(
      "q314_fs_linkage",
      s"""WITH p AS (SELECT p_partkey AS id,
         |                  string_split(p_name, ' ')[1] AS adj,
         |                  string_split(p_name, ' ')[2] AS noun,
         |                  p_brand AS brand, p_type AS typ,
         |                  CAST(p_size AS BIGINT) AS sz
         |           FROM part),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p),
         |ua AS (SELECT CAST(sum(c * c) AS BIGINT) AS c2a
         |       FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM p GROUP BY adj) t),
         |ut AS (SELECT CAST(sum(c * c) AS BIGINT) AS c2t
         |       FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM p GROUP BY typ) t),
         |sh AS (SELECT sz, CAST(count(*) AS BIGINT) AS c FROM p GROUP BY sz),
         |us AS (SELECT CAST(sum(a.c * b.c) AS BIGINT) AS c2s
         |       FROM sh a CROSS JOIN range(-2, 3) d(d)
         |            JOIN sh b ON b.sz = a.sz + d.d),
         |w AS (SELECT $wCols FROM nn, ua, ut, us),
         |cand AS (SELECT a.id AS id_a, b.id AS id_b,
         |                a.adj = b.adj AS adj_agree,
         |                a.typ = b.typ AS type_agree,
         |                abs(a.sz - b.sz) <= 2 AS size_agree
         |         FROM p a JOIN p b
         |           ON a.noun = b.noun AND a.brand = b.brand AND a.id < b.id),
         |pat AS (SELECT adj_agree, type_agree, size_agree,
         |               CAST(count(*) AS BIGINT) AS n_pairs
         |        FROM cand GROUP BY 1, 2, 3)
         |SELECT adj_agree, type_agree, size_agree, n_pairs,
         |       CAST(CAST(($scoreExpr) AS DECIMAL(30,9)) * 1000000000 AS BIGINT) AS weight_nano,
         |       CASE WHEN CAST(CAST(($scoreExpr) AS DECIMAL(30,9)) * 1000000000 AS BIGINT)
         |                  >= 2000000000 THEN 'link'
         |            WHEN CAST(CAST(($scoreExpr) AS DECIMAL(30,9)) * 1000000000 AS BIGINT)
         |                  >= 0 THEN 'possible'
         |            ELSE 'nonlink' END AS decision
         |FROM pat, w
         |ORDER BY weight_nano DESC, adj_agree, type_agree, size_agree""".stripMargin) { (s, dir) =>
      val p = Tables(s, dir, "part").select(
        col("p_partkey").as("id"),
        element_at(split(col("p_name"), " "), 1).as("adj"),
        element_at(split(col("p_name"), " "), 2).as("noun"),
        col("p_brand").as("brand"), col("p_type").as("typ"),
        col("p_size").cast("long").as("sz")).persist(MEMORY_AND_DISK)
      val nn = p.agg(count(lit(1)).cast("long").as("n"))
      def c2(cname: String, out: String): DataFrame =
        p.groupBy(col(cname)).agg(count(lit(1)).cast("long").as("c"))
          .agg(sum(col("c") * col("c")).cast("long").as(out))
      val sh = p.groupBy(col("sz")).agg(count(lit(1)).cast("long").as("c"))
      val us = sh.select(col("sz").as("sza"), col("c").as("ca"))
        .withColumn("d", explode(expr("sequence(-2, 2)")))
        .join(sh, col("sz") === col("sza") + col("d"))
        .agg(sum(col("ca") * col("c")).cast("long").as("c2s"))
      val w = nn.crossJoin(c2("adj", "c2a")).crossJoin(c2("typ", "c2t"))
        .crossJoin(us)
        .select(wExprs.map { case (a, e) => expr(e).as(a) }: _*)
      val a = p.select(col("id").as("id_a"), col("noun"), col("brand"),
        col("adj").as("adj_a"), col("typ").as("typ_a"), col("sz").as("sz_a"))
      val b = p.select(col("id").as("id_b"), col("noun"), col("brand"),
        col("adj").as("adj_b"), col("typ").as("typ_b"), col("sz").as("sz_b"))
      val pat = a.join(b, Seq("noun", "brand"))
        .filter(col("id_a") < col("id_b"))
        .select((col("adj_a") === col("adj_b")).as("adj_agree"),
          (col("typ_a") === col("typ_b")).as("type_agree"),
          (abs(col("sz_a") - col("sz_b")) <= 2).as("size_agree"))
        .groupBy(col("adj_agree"), col("type_agree"), col("size_agree"))
        .agg(count(lit(1)).cast("long").as("n_pairs"))
      pat.crossJoin(broadcast(w))
        .withColumn("weight_nano",
          expr(s"CAST(CAST(($scoreExpr) AS DECIMAL(30,9)) * 1000000000 AS LONG)"))
        .select(col("adj_agree"), col("type_agree"), col("size_agree"),
          col("n_pairs"), col("weight_nano"),
          expr("""CASE WHEN weight_nano >= 2000000000 THEN 'link'
                 |     WHEN weight_nano >= 0 THEN 'possible'
                 |     ELSE 'nonlink' END""".stripMargin).as("decision"))
        .orderBy(col("weight_nano").desc, col("adj_agree"),
          col("type_agree"), col("size_agree"))
    }
  }

  val all: Seq[Q] = Seq(q105FuzzyNameMatch, q110SetSimJoin, q179EntityResolution, q314FsLinkage,
    q189ContainmentJoin, q288SortedNeighborhood)
}
