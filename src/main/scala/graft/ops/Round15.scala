package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import graft.{Q, Tables}

/** Round-15 additions: the FULL core decomposition maintained through the
  * component-grain fold (q417 — the first CHAINED-schedule kernel through
  * [[Round14.componentFold]]: per-k caps, not a single fixpoint), the
  * Lloyd-trained coarse level for hierarchical IVF (q418 — lifting q414's
  * measured 0.733 recall floor on routed fixtures), and Borůvka MST over
  * the weighted co-purchase graph (q420 — the component-local kernel
  * underpinning single-link clustering at scale).
  */
object Round15 {

  // -------------------------------------------------------------------
  // q417 — component-grain incremental core decomposition
  // -------------------------------------------------------------------

  /** q417: COMPONENT-GRAIN incremental CORE DECOMPOSITION — q413's full
    * coreness profile plugged into [[Round14.componentFold]] verbatim
    * (round-14 VERDICT #2): coreness is component-local with no global
    * constants (a node's core number depends only on its component's
    * edge set — the k-core chain peels inside one component at a time),
    * so it qualifies for the fold exactly like 3-core membership (q407)
    * and LPA labels (q412) — but unlike those, its kernel runs a
    * CHAINED SCHEDULE (per-k round caps, each k starting from the
    * previous k's fixpoint), proving the fold is agnostic to the
    * kernel's internal iteration structure. Same (u+v) % 5
    * archive/delta split; the persisted index is day-1 CC labels +
    * day-1 (n, core_number); the fold re-decomposes ONLY delta-touched
    * components and every untouched component's stored profile passes
    * through via one anti-join. Oracle: q413's from-scratch full-graph
    * decomposition verbatim — the gate is fold ≡ rebuild.
    *
    * Scale shape: ccFold's |Δ|-grain merge + the tiered q413 kernel
    * bounded by touched-component volume; the stored core table is
    * scanned once (anti-join), never re-peeled where untouched — the
    * publish-only-touched-partitions index-maintenance plan. */
  val q417CoreIncremental: Q = Q(
    "q417_core_incremental",
    Round14.q413CoreDecomposition.oracle.get) { (s, dir) =>
    val e0 = Graph.supportedEdges(s, dir).persist(MEMORY_AND_DISK)
    val day1 = e0.filter((col("u") + col("v")) % 5 =!= 0)
      .persist(MEMORY_AND_DISK)
    val delta = e0.filter((col("u") + col("v")) % 5 === 0)
      .persist(MEMORY_AND_DISK)
    // The persisted index: day-1 labels + day-1 core profile, built once
    // — in production these are yesterday's stored tables.
    val labels = Fuzzy.resolveClusters(s,
      day1.select(col("u").as("doc_a"), col("v").as("doc_b")))
      .select(col("doc_id").as("n"), col("cluster_id").as("lab"))
      .persist(MEMORY_AND_DISK)
    val stored = Round14.coreTiered(s, day1.localCheckpoint())
    // The kernel loops per k over its edge frame; sever the fold lineage
    // before it enters (the q383 plan-growth lesson — componentFold
    // checkpoints touchedNodes but hands the edge frame through lazily).
    val (updated, _, _) = Round14.componentFold(labels, stored, day1, delta)(
      te => Round14.coreTiered(s, te.localCheckpoint()))
    updated.select(col("n"), col("core_number")).orderBy(col("n"))
  }

  // -------------------------------------------------------------------
  // q418 — hierarchical IVF with a Lloyd-TRAINED coarse level
  // -------------------------------------------------------------------

  /** The q418 oracle: q414's two-level topology with the coarse level
    * TRAINED by one unrolled Lloyd round (q66's decimal-mean update,
    * cross-engine-proven): seed coarse = first ceil(√k) vectors; ALL
    * vectors assign to their nearest seed; each coarse centroid becomes
    * the dimension-wise decimal mean of its members cast to f32 (a seed
    * with no members keeps its embedding — ivfRetrain's empty-cluster
    * rule); fine centroids and vectors then route through the TRAINED
    * coarse table, restricted to buckets that own ≥ 1 fine centroid (the
    * no-dropout invariant q414 got from self-assignment, which training
    * breaks — a trained centroid is no longer a fine centroid, so a
    * bucket CAN end up fine-empty and must be skipped by routing, not by
    * dropping vectors); probing and the exact rescore are q414's
    * epilogue verbatim. */
  private def lloydIvfOracle: String = {
    val kkRef = "(SELECT k FROM kk)"
    val kcRef = "(SELECT c FROM kc)"
    s"""WITH ${Similarity.duckEl},
      |${Similarity.duckN2},
      |${Similarity.duckKk},
      |kc AS (SELECT greatest(4, CAST(ceil(sqrt(k)) AS BIGINT)) AS c
      |       FROM kk),
      |sd AS (SELECT a.vec_id, b.vec_id AS cid,
      |              CAST(SUM(CAST(a.v * b.v AS DECIMAL(38,12)))
      |                AS DOUBLE) AS dot
      |       FROM el a JOIN el b ON b.i = a.i AND b.vec_id < $kcRef
      |       GROUP BY 1, 2),
      |sr AS (SELECT sd.vec_id, cid,
      |              row_number() OVER (PARTITION BY sd.vec_id
      |                ORDER BY dot / sqrt(nv.n2 * nc2.n2) DESC, cid) AS r
      |       FROM sd JOIN n2 nv ON nv.vec_id = sd.vec_id
      |               JOIN n2 nc2 ON nc2.vec_id = cid),
      |as0 AS (SELECT vec_id, cid FROM sr WHERE r = 1),
      |cel1 AS (SELECT a.cid, el.i,
      |                CAST(CAST(SUM(CAST(el.v AS DECIMAL(38,12)))
      |                          AS DOUBLE) / count(*) AS REAL) AS cv
      |         FROM el JOIN as0 a ON a.vec_id = el.vec_id
      |         GROUP BY 1, 2),
      |cel AS (SELECT cid, i, cv FROM cel1
      |        UNION ALL
      |        SELECT b.vec_id AS cid, b.i, CAST(b.v AS REAL) AS cv
      |        FROM el b WHERE b.vec_id < $kcRef
      |          AND b.vec_id NOT IN (SELECT DISTINCT cid FROM cel1)),
      |cn2 AS (SELECT cid, CAST(SUM(CAST(CAST(cv AS DOUBLE)
      |                 * CAST(cv AS DOUBLE) AS DECIMAL(38,12)))
      |                 AS DOUBLE) AS n2
      |        FROM cel GROUP BY 1),
      |fd AS (SELECT a.vec_id AS fine_id, c.cid AS coarse_id,
      |              CAST(SUM(CAST(a.v * CAST(c.cv AS DOUBLE)
      |                AS DECIMAL(38,12))) AS DOUBLE) AS dot
      |       FROM el a JOIN cel c ON c.i = a.i
      |       WHERE a.vec_id < $kkRef
      |       GROUP BY 1, 2),
      |fr AS (SELECT fine_id, coarse_id,
      |              row_number() OVER (PARTITION BY fine_id
      |                ORDER BY dot / sqrt(nf.n2 * cn2.n2) DESC,
      |                         coarse_id) AS r
      |       FROM fd JOIN n2 nf ON nf.vec_id = fine_id
      |               JOIN cn2 ON cn2.cid = coarse_id),
      |fassign AS (SELECT fine_id, coarse_id FROM fr WHERE r = 1),
      |ne AS (SELECT DISTINCT coarse_id FROM fassign),
      |vd AS (SELECT a.vec_id, c.cid AS coarse_id,
      |              CAST(SUM(CAST(a.v * CAST(c.cv AS DOUBLE)
      |                AS DECIMAL(38,12))) AS DOUBLE) AS dot
      |       FROM el a JOIN cel c ON c.i = a.i
      |            JOIN ne ON ne.coarse_id = c.cid
      |       GROUP BY 1, 2),
      |vr AS (SELECT vd.vec_id, coarse_id,
      |              row_number() OVER (PARTITION BY vd.vec_id
      |                ORDER BY dot / sqrt(nv.n2 * cn2.n2) DESC,
      |                         coarse_id) AS crank
      |       FROM vd JOIN n2 nv ON nv.vec_id = vd.vec_id
      |               JOIN cn2 ON cn2.cid = coarse_id),
      |vcoarse AS (SELECT vec_id, coarse_id FROM vr WHERE crank = 1),
      |wd AS (SELECT vb.vec_id, f.fine_id,
      |              CAST(SUM(CAST(a.v * b.v AS DECIMAL(38,12)))
      |                AS DOUBLE) AS dot
      |       FROM vcoarse vb JOIN fassign f ON f.coarse_id = vb.coarse_id
      |            JOIN el a ON a.vec_id = vb.vec_id
      |            JOIN el b ON b.vec_id = f.fine_id AND b.i = a.i
      |       GROUP BY 1, 2),
      |wr AS (SELECT wd.vec_id, fine_id,
      |              row_number() OVER (PARTITION BY wd.vec_id
      |                ORDER BY dot / sqrt(nv.n2 * nf.n2) DESC,
      |                         fine_id) AS r
      |       FROM wd JOIN n2 nv ON nv.vec_id = wd.vec_id
      |               JOIN n2 nf ON nf.vec_id = fine_id),
      |assign AS (SELECT vec_id, fine_id AS centroid_id FROM wr
      |           WHERE r = 1),
      |qc AS (SELECT vec_id AS query_id, coarse_id FROM vr
      |       WHERE crank <= 4 AND vec_id < 10),
      |qfd AS (SELECT qc.query_id, f.fine_id,
      |               CAST(SUM(CAST(a.v * b.v AS DECIMAL(38,12)))
      |                 AS DOUBLE) AS dot
      |        FROM qc JOIN fassign f ON f.coarse_id = qc.coarse_id
      |             JOIN el a ON a.vec_id = qc.query_id
      |             JOIN el b ON b.vec_id = f.fine_id AND b.i = a.i
      |        GROUP BY 1, 2),
      |qfr AS (SELECT query_id, fine_id,
      |               row_number() OVER (PARTITION BY query_id
      |                 ORDER BY dot / sqrt(nq.n2 * nf.n2) DESC,
      |                          fine_id) AS r
      |        FROM qfd JOIN n2 nq ON nq.vec_id = query_id
      |                JOIN n2 nf ON nf.vec_id = fine_id),
      |probe AS (SELECT query_id, fine_id AS centroid_id FROM qfr
      |          WHERE r <= 2),
      |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
      |         FROM probe p JOIN assign a ON a.centroid_id = p.centroid_id
      |         WHERE a.vec_id <> p.query_id),
      |d AS (SELECT query_id, neighbor_id,
      |             CAST(SUM(CAST(a.v * b.v AS DECIMAL(38,12)))
      |               AS DOUBLE) AS dot
      |      FROM cand JOIN el a ON a.vec_id = query_id
      |                JOIN el b ON b.vec_id = neighbor_id AND b.i = a.i
      |      GROUP BY 1, 2),
      |r AS (SELECT query_id, neighbor_id,
      |             round(dot / sqrt(nq.n2 * nc.n2), 6) AS cos_sim,
      |             row_number() OVER (PARTITION BY query_id
      |               ORDER BY round(dot / sqrt(nq.n2 * nc.n2), 6) DESC,
      |                        neighbor_id) AS rank
      |      FROM d JOIN n2 nq ON nq.vec_id = query_id
      |              JOIN n2 nc ON nc.vec_id = neighbor_id)
      |SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
      |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  /** One Lloyd round on the COARSE level of the two-level index: assign
    * every vector to its nearest seed coarse centroid (the shared
    * two-stage argmax), recompute each coarse centroid as the decimal
    * dimension-wise mean of its members cast to f32 (q66's update,
    * [[Similarity.ivfRetrain]]'s machinery), keep the seed position for
    * any centroid whose bucket emptied. Returns (centroid_id, emb_cent
    * f32 array, n2_cent). */
  private[graft] def lloydCoarse(e: DataFrame, coarse0: DataFrame): DataFrame = {
    val as0 = Similarity.assignTo(e, coarse0)
    val means = e.join(as0, "vec_id")
      .select(col("centroid_id"),
        posexplode(col("embedding")).as(Seq("i", "vf")))
      .groupBy(col("centroid_id"), col("i"))
      .agg((sum(col("vf").cast("double").cast("decimal(38,12)"))
        .cast("double") / count(lit(1))).as("mean_v"))
      .groupBy(col("centroid_id"))
      .agg(expr("transform(array_sort(collect_list(struct(i, mean_v)))," +
        " x -> CAST(x.mean_v AS FLOAT))").as("emb_cent"))
      .withColumn("n2_cent", expr(Similarity.dDot("emb_cent", "emb_cent")))
    means.unionByName(coarse0.join(means.select(col("centroid_id")),
      Seq("centroid_id"), "left_anti"))
  }

  /** q418: hierarchical IVF with a Lloyd-TRAINED coarse level — q414's
    * production assignment plan (two broadcast-argmax passes, the fine
    * argmax bucket-restricted, N×~2√k instead of N×k) with the one knob
    * q414 left on the table: its coarse routing used the FIRST ⌈√k⌉
    * vectors as-is, which on an adversarial uniform fixture floors
    * recall@3 at a measured 0.733 (Round14Spec). One q66-style Lloyd
    * round moves each coarse centroid to its bucket's decimal mean —
    * spreading the routing table toward the data's actual density — and
    * Round15Spec re-measures recall against exact brute force on a
    * CLUSTERED fixture (where trained routing lifts recall) and on the
    * uniform fixture (where no routing can beat luck — documented, not
    * hidden). Training breaks q414's self-assignment no-empty-bucket
    * invariant, so routing is restricted to coarse buckets owning ≥ 1
    * fine centroid — vectors re-route rather than drop out, the
    * invariant the oracle proves at every SF.
    *
    * Scale shape: q414's exactly — the Lloyd round adds one broadcast
    * argmax over the ≤64-row coarse table plus a (centroid, dim)
    * map-side-combined decimal mean (shuffle volume kc×64 partial sums
    * per partition, never the vectors); everything downstream is
    * q414's plan with a trained routing table swapped in. */
  val q418AnnIvfLloyd: Q = Q(
    "q418_ann_ivf_lloyd", lloydIvfOracle) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(s)
    val k = Similarity.semK(Tables(s, dir, "embeddings").count())
    val kc = math.max(4L, math.ceil(math.sqrt(k.toDouble)).toLong)
    val e = Similarity.embWithNorm(s, dir).persist(MEMORY_AND_DISK)
    val coarse0 = e.filter(col("vec_id") < kc).select(
      col("vec_id").as("centroid_id"), col("embedding").as("emb_cent"),
      col("n2").as("n2_cent"))
    // One Lloyd round trains the routing table (≤64 rows end to end).
    val trained = lloydCoarse(e, coarse0).localCheckpoint()
    // Fine→coarse against the TRAINED table; only buckets owning ≥ 1
    // fine centroid participate in any further routing (no-dropout).
    val fassign = Similarity.assignTo(e.filter(col("vec_id") < k), trained)
      .select(col("vec_id").as("fine_id"), col("centroid_id").as("coarse_id"))
    val trainedNE = trained.join(
      fassign.select(col("coarse_id").as("centroid_id")).distinct(),
      Seq("centroid_id"), "left_semi")
      .localCheckpoint()
    val vcoarse = Similarity.assignTo(e, trainedNE)
      .select(col("vec_id"), col("centroid_id").as("coarse_id"))
    // Fine payloads keyed by coarse bucket (q414's shape).
    val finePayload = fassign
      .join(e.select(col("vec_id").as("fine_id"),
        col("embedding").as("emb_f"), col("n2").as("n2_f")), Seq("fine_id"))
    val stage1 = e.select(col("vec_id"), col("embedding"), col("n2"))
      .join(vcoarse, Seq("vec_id"))
      .join(broadcast(finePayload), Seq("coarse_id"))
      .withColumn("dcos",
        coalesce(expr("cosine_f32(embedding, emb_f)"), lit(Double.NaN)))
      .groupBy(col("vec_id"))
      .agg(expr("topk_by_score(dcos, fine_id, 4)").as("t"))
      .select(col("vec_id"), explode(col("t.id")).as("fine_id"))
    val assign = stage1
      .join(broadcast(finePayload.select(col("fine_id"), col("emb_f"),
        col("n2_f"))), Seq("fine_id"))
      .join(e.select(col("vec_id"), col("embedding"), col("n2")),
        Seq("vec_id"))
      .withColumn("ccos", expr(Similarity.dDot("embedding", "emb_f"))
        / sqrt(col("n2") * col("n2_f")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("fine_id"),
        struct(col("ccos"), -col("fine_id"))).as("centroid_id"))
    // Probing: the 10 queries' top-4 NON-EMPTY coarse buckets, then
    // top-2 fine by decimal cosine inside those buckets (q414's probe
    // economics against the trained routing table).
    val qSide = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("emb_q"),
        col("n2").as("n2_q"))
    val qcW = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("centroid_id"))
    val qc = qSide.crossJoin(broadcast(trainedNE))
      .withColumn("ccos", expr(Similarity.dDot("emb_q", "emb_cent"))
        / sqrt(col("n2_q") * col("n2_cent")))
      .withColumn("r", row_number().over(qcW))
      .filter(col("r") <= 4)
      .select(col("query_id"), col("centroid_id").as("coarse_id"))
    val qfW = Window.partitionBy(col("query_id"))
      .orderBy(col("fcos").desc, col("fine_id"))
    val probe = qc.join(broadcast(finePayload), Seq("coarse_id"))
      .join(broadcast(qSide), Seq("query_id"))
      .withColumn("fcos", expr(Similarity.dDot("emb_q", "emb_f"))
        / sqrt(col("n2_q") * col("n2_f")))
      .withColumn("r", row_number().over(qfW))
      .filter(col("r") <= 2)
      .select(col("query_id"), col("fine_id").as("centroid_id"))
    val cand = assign.join(broadcast(probe), Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    // Exact rescore epilogue — q48's verbatim.
    val c = e.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("emb_c"), col("n2").as("n2_c"))
    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    cand.join(c, Seq("neighbor_id"))
      .join(broadcast(qSide), Seq("query_id"))
      .withColumn("cos_sim", round(expr(Similarity.dDot("emb_q", "emb_c"))
        / sqrt(col("n2_q") * col("n2_c")), 6))
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"),
        col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  // -------------------------------------------------------------------
  // q420 — Borůvka maximum-affinity spanning forest
  // -------------------------------------------------------------------

  /** Per-round pointer-doubling jump caps for the Borůvka contraction
    * (the [[Round14.ColorSchedule]] device): round r's pointer chains
    * (component → best-edge neighbor, 2-cycles broken to roots) have
    * measured max root-distance 8 (sf0.01 round 1; 4/4/1, 5, 4, 2, 1
    * elsewhere), so 5 doubling jumps (2⁵ = 32 ≥ 8) carry 4× headroom;
    * rounds to no-cross-edges measured 3/5/2 at sf0.001/0.01/0.1 — the
    * schedule carries two spare rounds, and the kernel loudly requires
    * BOTH the round count within schedule AND pointer idempotence after
    * the round's jumps (an unconverged contraction would silently merge
    * wrong components). The unrolled oracle runs EXACTLY this schedule;
    * extra rounds and extra jumps are idempotent once converged. */
  private[graft] val MstSchedule: Seq[Int] = Seq(5, 5, 5, 5, 5, 5, 5)

  /** The (weight, u, v) total order, affinity-first: an edge beats
    * another when its support is HIGHER, ties to the smaller (u, v).
    * Totality (no two edges compare equal) is what makes the spanning
    * forest unique — Borůvka and Kruskal under the same total order
    * return the identical edge set, which is how the spec cross-checks
    * the rounds machinery against a one-line reference. */
  private[graft] def mstKey(e: (Long, Long, Long)): (Long, Long, Long) =
    (-e._3, e._1, e._2)

  /** Driver-tier Borůvka (the [[Round14.coreDriver]] shape: one collect,
    * in-heap rounds): per round every component selects its best
    * incident cross edge under [[mstKey]], selected edges join the
    * forest, components contract by min-label union. Membership after a
    * round is the connected components of the forest so far — identical
    * to the distributed tier's pointer-doubled contraction, so the two
    * tiers select identical edges every round. Edges (u, v, w). */
  private[graft] def boruvkaDriver(edges: Array[(Long, Long, Long)])
      : Seq[(Long, Long, Long)] = {
    val lab = scala.collection.mutable.Map.empty[Long, Long]
    edges.foreach { case (u, v, _) => lab(u) = u; lab(v) = v }
    val mst = scala.collection.mutable.LinkedHashSet.empty[(Long, Long, Long)]
    var round = 0
    var done = false
    while (!done) {
      round += 1
      require(round <= MstSchedule.length,
        s"Borůvka exceeded the unrolled oracle bound " +
          s"(${MstSchedule.length} rounds) — re-measure and extend " +
          "MstSchedule")
      val best = scala.collection.mutable.Map
        .empty[Long, (Long, Long, Long)]
      var anyCross = false
      edges.foreach { case e @ (u, v, _) =>
        val a = lab(u); val b = lab(v)
        if (a != b) {
          anyCross = true
          Seq(a, b).foreach { c =>
            if (!best.contains(c) ||
                Ordering[(Long, Long, Long)].lt(mstKey(e), mstKey(best(c))))
              best(c) = e
          }
        }
      }
      if (!anyCross) done = true
      else {
        best.values.foreach(mst += _)
        // Min-label union over the selected edges at LABEL grain.
        val uf = new Graph.MinUnionFind
        best.values.foreach { case (u, v, _) => uf.union(lab(u), lab(v)) }
        lab.keys.toSeq.foreach(n => lab(n) = uf.find(lab(n)))
      }
    }
    mst.toSeq
  }

  /** Distributed Borůvka: the 100-TB path. Per round: one edge⋈label
    * join pair (cross-edge detection), a per-component min-struct
    * aggregate (map-side combined — the shuffle carries one candidate
    * per component per partition), then contraction on the
    * COMPONENT-grain pointer table (≤ #components rows, shrinking
    * geometrically): 2-cycle break + [[MstSchedule]](r−1) pointer-
    * doubling self-joins, idempotence loudly required, labels relabeled
    * through the converged pointers in one join. Lineage cut per round
    * (the q383 lesson — the label table re-enters every round). */
  private[graft] def boruvkaDistributed(e0: DataFrame): DataFrame = {
    val s = e0.sparkSession
    val edges = e0.select(col("u"), col("v"), col("w")).localCheckpoint()
    var labels = edges.select(col("u").as("n"))
      .unionByName(edges.select(col("v").as("n"))).distinct()
      .withColumn("lab", col("n")).localCheckpoint()
    val selected = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var round = 0
    var crossLeft = 1L
    while (crossLeft > 0) {
      round += 1
      require(round <= MstSchedule.length,
        s"Borůvka exceeded the unrolled oracle bound " +
          s"(${MstSchedule.length} rounds) — re-measure and extend " +
          "MstSchedule")
      val cross = edges
        .join(labels.select(col("n").as("u"), col("lab").as("la")), Seq("u"))
        .join(labels.select(col("n").as("v"), col("lab").as("lb")), Seq("v"))
        .filter(col("la") =!= col("lb"))
        .localCheckpoint()
      crossLeft = cross.count()
      if (crossLeft > 0) {
        val cand = cross.select(col("la").as("c"), col("w"), col("u"),
          col("v"), col("lb").as("other"))
          .unionByName(cross.select(col("lb").as("c"), col("w"), col("u"),
            col("v"), col("la").as("other")))
        // Best cross edge per component under (w DESC, u, v): min of the
        // (-w, u, v, other) struct — map-side combined.
        val minE = cand.groupBy(col("c"))
          .agg(min(struct((-col("w")).as("nw"), col("u"), col("v"),
            col("other"))).as("m"))
          .select(col("c"), (-col("m.nw")).as("w"), col("m.u").as("u"),
            col("m.v").as("v"), col("m.other").as("other"))
          .localCheckpoint()
        selected += minE.select(col("u"), col("v"), col("w")).distinct()
        // Pointer table over ALL current components; no-cross components
        // self-point. 2-cycle break: the smaller member of a mutual pair
        // becomes the root (with the total order, every pointer cycle is
        // a 2-cycle: a longer cycle needs e1 > e2 > ... > ek > e1).
        val p0 = labels.select(col("lab").as("c")).distinct()
          .join(minE.select(col("c"), col("other")), Seq("c"), "left")
          .select(col("c"), coalesce(col("other"), col("c")).as("p"))
        var p = p0.as("a")
          .join(p0.select(col("c").as("pc"), col("p").as("pp")).as("b"),
            col("a.p") === col("b.pc"))
          .select(col("a.c"),
            when(col("b.pp") === col("a.c") && col("a.c") < col("a.p"),
              col("a.c")).otherwise(col("a.p")).as("p"))
          .localCheckpoint()
        for (_ <- 1 to MstSchedule(round - 1)) {
          p = p.as("a")
            .join(p.select(col("c").as("pc"), col("p").as("pp")).as("b"),
              col("a.p") === col("b.pc"))
            .select(col("a.c"), col("b.pp").as("p"))
            .localCheckpoint()
        }
        // Idempotence: p(p(c)) = p(c) everywhere, or the contraction is
        // unconverged and the relabel below would be silently wrong.
        val unconverged = p.as("a")
          .join(p.select(col("c").as("pc"), col("p").as("pp")).as("b"),
            col("a.p") === col("b.pc"))
          .filter(col("b.pp") =!= col("a.p")).limit(1).count()
        require(unconverged == 0L,
          s"Borůvka round $round pointer chains did not converge in " +
            s"${MstSchedule(round - 1)} jumps — re-measure and raise " +
            "the schedule entry")
        labels = labels
          .join(p.select(col("c").as("lab"), col("p")), Seq("lab"))
          .select(col("n"), col("p").as("lab"))
          .localCheckpoint()
      }
    }
    if (selected.isEmpty)
      s.range(0).select(col("id").as("u"), col("id").as("v"),
        col("id").as("w"))
    else selected.reduce(_ unionByName _).distinct()
  }

  /** Tier choice, CHECKED not assumed ([[Graph.tiered]]). */
  private[graft] def boruvkaTiered(s: SparkSession, e0: DataFrame,
      driverMaxEdges: Long = Graph.DriverMaxEdges): DataFrame = {
    import s.implicits._
    // The distributed tier checkpoints before looping, exactly where the
    // cut pays.
    Graph.tiered(e0, Seq("u", "v", "w"), driverMaxEdges) { probe =>
      val rows = boruvkaDriver(
        probe.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
      if (rows.isEmpty)
        s.range(0).select(col("id").as("u"), col("id").as("v"),
          col("id").as("w"))
      else rows.toDF("u", "v", "w")
    }(boruvkaDistributed(
      e0.select(col("u"), col("v"), col("w")).localCheckpoint()))
  }

  /** The unrolled Borůvka oracle: [[MstSchedule]].length rounds, each
    * with per-component best-edge selection (row_number over the
    * (w DESC, u, v) total order), the 2-cycle-broken pointer graph, and
    * MstSchedule(r−1) pointer-doubling CTEs, all MATERIALIZED. Extra
    * rounds/jumps are idempotent once converged — the same fixed-unroll
    * contract as every schedule oracle in the repo. */
  private def boruvkaOracle: String = {
    val ctes = scala.collection.mutable.ListBuffer[String](
      "lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM " +
        "lineitem)",
      "e0 AS MATERIALIZED (SELECT l1.l_partkey AS u, l2.l_partkey AS v, " +
        "CAST(count(*) AS BIGINT) AS w FROM lp l1 JOIN lp l2 ON " +
        "l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey " +
        "GROUP BY 1, 2 HAVING count(*) >= 2)",
      "lab0 AS MATERIALIZED (SELECT n, n AS lab FROM (SELECT DISTINCT u " +
        "AS n FROM e0 UNION SELECT DISTINCT v FROM e0))")
    for ((jumps, idx) <- MstSchedule.zipWithIndex) {
      val r = idx + 1
      ctes += s"cross$r AS MATERIALIZED (SELECT e.u, e.v, e.w, lu.lab " +
        s"AS la, lv.lab AS lb FROM e0 e JOIN lab${r - 1} lu ON lu.n = " +
        s"e.u JOIN lab${r - 1} lv ON lv.n = e.v WHERE lu.lab <> lv.lab)"
      ctes += s"cand$r AS MATERIALIZED (SELECT la AS c, w, u, v, lb AS " +
        s"other FROM cross$r UNION ALL SELECT lb, w, u, v, la FROM cross$r)"
      ctes += s"sel$r AS MATERIALIZED (SELECT c, w, u, v, other FROM " +
        s"cand$r QUALIFY row_number() OVER (PARTITION BY c ORDER BY w " +
        "DESC, u, v) = 1)"
      ctes += s"p${r}_0 AS MATERIALIZED (SELECT l.lab AS c, " +
        s"coalesce(s.other, l.lab) AS p FROM (SELECT DISTINCT lab FROM " +
        s"lab${r - 1}) l LEFT JOIN sel$r s ON s.c = l.lab)"
      ctes += s"p${r}_b AS MATERIALIZED (SELECT a.c, CASE WHEN b.p = " +
        s"a.c AND a.c < a.p THEN a.c ELSE a.p END AS p FROM p${r}_0 a " +
        s"JOIN p${r}_0 b ON b.c = a.p)"
      for (j <- 1 to jumps) {
        val prev = if (j == 1) s"p${r}_b" else s"p${r}_${j - 1}"
        ctes += s"p${r}_$j AS MATERIALIZED (SELECT a.c, b.p FROM $prev " +
          s"a JOIN $prev b ON b.c = a.p)"
      }
      ctes += s"lab$r AS MATERIALIZED (SELECT l.n, p.p AS lab FROM " +
        s"lab${r - 1} l JOIN p${r}_$jumps p ON p.c = l.lab)"
    }
    val uni = (1 to MstSchedule.length)
      .map(r => s"SELECT u, v, w FROM sel$r").mkString(" UNION ALL ")
    "WITH " + ctes.mkString(",\n") +
      s",\nmst AS (SELECT DISTINCT u, v, w FROM ($uni))\n" +
      "SELECT u, v, w FROM mst ORDER BY u, v"
  }

  /** q420: BORŮVKA SPANNING FOREST over the weighted co-purchase graph —
    * the maximum-AFFINITY forest (weight = co-purchase support, the
    * (w DESC, u, v) total order making it unique): the backbone
    * single-link clustering walks (q376) and the classic O(log n)-round
    * distributed-MST shape (per round every component grabs its best
    * incident cross edge, components contract, rounds halve the
    * component count — measured 3/5/2 rounds at the three SFs). The
    * kernel is component-local with no global constants, so it
    * qualifies verbatim for [[Round14.componentFold]] in a later round.
    * Tiered like every graph kernel: in-heap union-find rounds under
    * 2M edges, edge-grain joins + pointer-doubled contraction above —
    * and the spec races both tiers against one-line Kruskal (same total
    * order ⇒ the identical unique forest).
    *
    * Scale shape (distributed tier): per round one edge⋈label join pair
    * + a map-side-combined per-component min-struct + contraction on
    * the component-grain pointer table (≤ #components rows, shrinking
    * geometrically) with schedule-capped pointer doubling; lineage cut
    * per round. */
  val q420BoruvkaMsf: Q = Q(
    "q420_boruvka_msf", boruvkaOracle) { (s, dir) =>
    val e0 = Graph.coPurchaseEdges(s, dir)
    boruvkaTiered(s, e0).orderBy(col("u"), col("v"))
  }

  // -------------------------------------------------------------------
  // q421 — component-grain incremental spanning forest
  // -------------------------------------------------------------------

  /** q421: COMPONENT-GRAIN incremental SPANNING FOREST — [[q420BoruvkaMsf]]
    * through [[Round14.componentFoldEdges]] (the q415 shape at forest
    * grain): the maximum-affinity forest is component-local (a
    * component's forest depends only on its own edge set under the total
    * order) and NOT delta-local (one new heavy edge can evict an
    * arbitrary archived forest edge — the cycle it closes drops its
    * worst-affinity edge, which may sit anywhere in the component), so
    * the component grain is the honest increment: same (u+v) % 5
    * archive/delta split, the persisted index is day-1 CC labels + the
    * day-1 forest (u, v, w), the fold re-runs Borůvka ONLY on
    * delta-touched components and untouched components' stored forest
    * edges pass through via one u-side anti-join. Oracle: q420's
    * from-scratch unrolled rounds verbatim — the gate is fold ≡ rebuild.
    *
    * Scale shape: ccFold's |Δ|-grain merge + q420's rounds bounded by
    * touched-component volume; the stored forest is scanned once
    * (anti-join). At 100 TB this is nightly single-link-backbone
    * maintenance: publish only the touched components' forest
    * partitions. */
  val q421MsfIncremental: Q = Q(
    "q421_msf_incremental",
    q420BoruvkaMsf.oracle.get) { (s, dir) =>
    val e0 = Graph.coPurchaseEdges(s, dir)
      .persist(MEMORY_AND_DISK)
    val day1 = e0.filter((col("u") + col("v")) % 5 =!= 0)
      .persist(MEMORY_AND_DISK)
    val delta = e0.filter((col("u") + col("v")) % 5 === 0)
      .persist(MEMORY_AND_DISK)
    val labels = Fuzzy.resolveClusters(s,
      day1.select(col("u").as("doc_a"), col("v").as("doc_b")))
      .select(col("doc_id").as("n"), col("cluster_id").as("lab"))
      .persist(MEMORY_AND_DISK)
    val stored = boruvkaTiered(s, day1)
    val (updated, _, _) = Round14.componentFoldEdges(
      labels, stored, day1, delta)(te => boruvkaTiered(s, te))
    updated.select(col("u"), col("v"), col("w"))
      .orderBy(col("u"), col("v"))
  }

  // -------------------------------------------------------------------
  // q422 — single-link dendrogram levels from the spanning forest
  // -------------------------------------------------------------------

  /** q422: DENDROGRAM LEVELS — the payoff of [[q420BoruvkaMsf]] being the
    * single-link backbone: cutting the maximum-affinity forest at
    * affinity threshold T yields EXACTLY the single-link clustering at
    * level T, and because a forest has #components = #nodes − #edges,
    * the whole dendrogram's cluster counts come from ONE forest with no
    * per-level CC at all: clusters(T) = n_nodes − |{forest edges with
    * w ≥ T}|. One row per distinct forest affinity level: threshold,
    * edges kept, clusters, total kept affinity — the
    * cut-selection table a curation pipeline reads to pick its
    * clustering granularity (the q376 connection made O(1) per level).
    *
    * Scale shape: q420's forest build + a distinct-levels broadcast
    * cross join against the (tiny) forest — the epilogue is
    * forest-grain, never graph-grain. */
  val q422DendrogramLevels: Q = Q(
    "q422_dendrogram_levels",
    {
      val base = q420BoruvkaMsf.oracle.get
      // Reuse the unrolled Borůvka CTE chain, swap the epilogue (the
      // leading comma continues the WITH list after the mst CTE).
      base.substring(0, base.indexOf("SELECT u, v, w FROM mst")) +
        """,nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM
          |  (SELECT DISTINCT u AS x FROM e0 UNION SELECT DISTINCT v FROM e0)),
          |th AS (SELECT DISTINCT w AS t FROM mst),
          |lv AS (SELECT th.t, CAST(count(m.u) AS BIGINT) AS kept,
          |              CAST(coalesce(sum(m.w), 0) AS BIGINT) AS affinity
          |       FROM th LEFT JOIN mst m ON m.w >= th.t GROUP BY th.t)
          |SELECT lv.t AS threshold, lv.kept AS edges_kept,
          |       nn.n - lv.kept AS n_clusters, lv.affinity AS total_affinity
          |FROM lv, nn ORDER BY threshold""".stripMargin
    }) { (s, dir) =>
    val e0 = Graph.coPurchaseEdges(s, dir)
      .persist(MEMORY_AND_DISK)
    val forest = boruvkaTiered(s, e0).localCheckpoint()
    val nn = e0.select(col("u").as("x"))
      .unionByName(e0.select(col("v").as("x"))).distinct()
      .agg(count(lit(1)).as("n"))
    val th = forest.select(col("w").as("t")).distinct()
    // Levels × forest is a broadcast nested-loop over two forest-grain
    // frames (≤ |forest| rows each side) — never graph-grain.
    th.join(broadcast(forest), col("w") >= col("t"), "left")
      .groupBy(col("t"))
      .agg(count(col("u")).as("kept"),
        coalesce(sum(col("w")), lit(0L)).as("affinity"))
      .crossJoin(broadcast(nn))
      .select(col("t").as("threshold"), col("kept").as("edges_kept"),
        (col("n") - col("kept")).as("n_clusters"),
        col("affinity").as("total_affinity"))
      .orderBy(col("threshold"))
  }

  // -------------------------------------------------------------------
  // q423 — weighted label propagation
  // -------------------------------------------------------------------

  /** The weighted-LPA oracle CTE chain (lp → weighted e0 → adj → l0..l4)
    * shared by q423's community epilogue and q431's node-grain fold
    * gate. */
  private[ops] def duckWlpa: String = {
    val duckRounds = (1 to 4).map { i =>
      s"""c$i AS (SELECT a.n AS n, l${i - 1}.lbl AS lbl,
         |        CAST(sum(a.w) AS BIGINT) AS c
         |        FROM adj a JOIN l${i - 1} ON l${i - 1}.n = a.z
         |        GROUP BY 1, 2),
         |l$i AS (SELECT n, lbl FROM c$i
         |        QUALIFY row_number() OVER (PARTITION BY n
         |                  ORDER BY c DESC, lbl) = 1)""".stripMargin
    }.mkString(",\n")
    s"""lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS (SELECT l1.l_partkey AS u, l2.l_partkey AS v,
      |              CAST(count(*) AS BIGINT) AS w
      |       FROM lp l1 JOIN lp l2
      |         ON l1.l_orderkey = l2.l_orderkey
      |        AND l1.l_partkey < l2.l_partkey
      |       GROUP BY 1, 2 HAVING count(*) >= 2),
      |adj AS (SELECT u AS n, v AS z, w FROM e0
      |        UNION ALL SELECT v, u, w FROM e0),
      |l0 AS (SELECT DISTINCT n, n AS lbl FROM adj),
      |$duckRounds""".stripMargin
  }

  /** q423: WEIGHTED LPA — q354's deterministic 4-round label propagation
    * with the co-purchase SUPPORT as the vote weight: per round a node
    * takes the label with the largest incident-support SUM (ties to the
    * smaller label) instead of the largest neighbor COUNT — communities
    * then follow affinity mass, not raw degree (a node bridging two
    * communities lands with the one it co-purchases with MORE, the
    * standard weighted-LPA refinement). Pure integer weights, so the
    * argmax is exact in both engines; same synchronous-rounds metric as
    * q354 (4 rounds from the canonical own-id init).
    *
    * Scale shape: q354's exactly — per round one edge-grain shuffle of
    * the adjacency (now carrying w) joined to the label table + a
    * per-node bounded windowed argmax; rounds are data-independent. */
  val q423WeightedLpa: Q =
    Q("q423_weighted_lpa",
      s"""WITH $duckWlpa,
        |comm AS (SELECT lbl AS community,
        |                CAST(count(*) AS BIGINT) AS n_members
        |         FROM l4 GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_communities FROM comm)
        |SELECT c.community, c.n_members, t.n_communities
        |FROM comm c, t
        |ORDER BY c.n_members DESC, c.community LIMIT 20""".stripMargin) {
      (s, dir) =>
      val l = Graph.lpa(Graph.coPurchaseEdges(s, dir), sum(col("w")))
      val comm = l.groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_members"))
        .persist(MEMORY_AND_DISK)
      val t = comm.agg(count(lit(1)).as("n_communities"))
      comm.crossJoin(broadcast(t))
        .orderBy(col("n_members").desc, col("community")).limit(20)
    }

  // -------------------------------------------------------------------
  // q425/q426 — Bloom filter: registers + the membership read path
  // -------------------------------------------------------------------

  /** Hex-nibble value of digest char i (1-based) — the engine-neutral
    * md5 arithmetic q385/q399 established (Spark `instr` rendering). */
  private def bhv(i: Int): String =
    s"(instr('0123456789abcdef', substring(d, $i, 1)) - 1)"
  private def bohv(i: Int): String =
    s"(strpos('0123456789abcdef', substr(d, $i, 1)) - 1)"

  /** m = 2^16 bits packed as 2048 32-bit words, k = 4 hash rows. The
    * 16-bit md5-nibble fold maps onto the bit space EXACTLY (no prime
    * fold needed — unlike CMS's % 32, the modulus here is the full
    * 16-bit nibble range, so every nibble is injective by
    * construction). m is sized so the filter is load-bearing at every
    * driver SF: at sf0.1's ~10k present keys, kn/m ≈ 0.61 → predicted
    * FPR ≈ (1−e^(−kn/m))^4 ≈ 4%, far from saturation. */
  private[graft] val BloomWords = 2048L

  /** Distinct Bloom bit indexes (0..65535) of a key frame (one string
    * column `k`): 4 hash rows j ∈ 0..3, bit_j(k) = 16-bit nibble fold
    * of md5('<j>#<k>') — the CMS row-key device, so the k hash
    * functions are independent md5 draws in both engines. */
  private[graft] def bloomBits(keys: DataFrame): DataFrame =
    keys.select(col("k"), explode(expr("array(0L, 1L, 2L, 3L)")).as("j"))
      .select(md5(concat(col("j").cast("string"), lit("#"), col("k")))
        .as("d"))
      .select(expr(s"CAST(4096 * ${bhv(1)} + 256 * ${bhv(2)} + " +
        s"16 * ${bhv(3)} + ${bhv(4)} AS BIGINT)").as("bit"))
      .distinct()

  /** Dense packed-word surface of a distinct bit-set frame: 2048 rows
    * (word, bits) with bits = Σ 2^(bit mod 32) over the word's set
    * bits — exact because the input is DISTINCT at bit grain, so every
    * power of two appears at most once (integer sum ≡ bitwise OR). */
  private[graft] def bloomWords(s: SparkSession, bits: DataFrame): DataFrame =
    s.range(BloomWords).select(col("id").as("word"))
      .join(bits.groupBy(expr("bit div 32").as("word"))
        .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 32 AS INT))"))
          .as("b")),
        Seq("word"), "left")
      .select(col("word"), coalesce(col("b"), lit(0L)).as("bits"))
      .orderBy(col("word"))

  /** The shared oracle CTE chain: present keys (the 1995 buyers — a
    * date-partition's key set, so the probe universe genuinely contains
    * ABSENT keys: in this synthetic data every customer has SOME order,
    * but only ~78% bought in 1995) → 4 hash rows → distinct bit set
    * (global one-pass — Spark builds per-shard and OR-merges; any merge
    * defect hash-mismatches the packed words). */
  private def duckBloom: String =
    s"""v AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k FROM orders
      |       WHERE year(o_orderdate) = 1995),
      |cj AS (SELECT k, unnest([0, 1, 2, 3]) AS j FROM v),
      |hx AS (SELECT md5(concat(CAST(j AS VARCHAR), '#', k)) AS d FROM cj),
      |fb AS (SELECT DISTINCT 4096 * ${bohv(1)} + 256 * ${bohv(2)}
      |                       + 16 * ${bohv(3)} + ${bohv(4)} AS bit
      |       FROM hx)""".stripMargin

  /** q425: BLOOM FILTER REGISTERS, bit-identical across engines and
    * gated through the per-shard MERGE — the third and final member of
    * the sketch-merge family the repo gates as cross-engine state: HLL
    * registers combine by MAX (q385/q394), CMS registers by SUM
    * (q399/q402), and the Bloom bit set by OR — the IDEMPOTENT monoid,
    * which is why Bloom is the one sketch whose maintenance needs no
    * replay guard at all (re-inserting a key is a no-op by algebra, not
    * by anti-join — q427 leans on exactly this). Present set = the
    * distinct 1995 buyers (a date-partition's key set — the thing a
    * partition-pruned existence gate indexes); Spark builds FOUR shard
    * filters (o_custkey mod 4) and OR-merges (distinct union); the
    * oracle computes the global one-pass filter; the gate compares the
    * 2048-row packed-word surface.
    *
    * Scale shape: 4 rows per distinct key map-side, then a ≤65536-row
    * distinct and a 2048-row pack — sketch size is constant regardless
    * of key count, the membership dual of q385's 64 registers. */
  val q425BloomRegisters: Q = Q(
    "q425_bloom_registers",
    s"""WITH $duckBloom,
      |wrd AS (SELECT bit // 32 AS word,
      |               CAST(sum(CAST(1 AS BIGINT)
      |                 << CAST(bit % 32 AS INTEGER)) AS BIGINT) AS bits
      |        FROM fb GROUP BY 1),
      |gs AS (SELECT unnest(range(0, $BloomWords)) AS w)
      |SELECT CAST(gs.w AS BIGINT) AS word,
      |       CAST(coalesce(wrd.bits, 0) AS BIGINT) AS bits
      |FROM gs LEFT JOIN wrd ON wrd.word = gs.w ORDER BY word""".stripMargin) {
    (s, dir) =>
    val keys = Tables(s, dir, "orders")
      .filter(year(col("o_orderdate")) === 1995)
      .select(col("o_custkey").cast("long").as("ck")).distinct()
      .persist(MEMORY_AND_DISK) // four shard scans
    // Per-shard filters first, then the OR-merge: bit-set union. If the
    // combine were anything weaker the packed-word gate would mismatch.
    val merged = (0L to 3L).map { sh =>
      bloomBits(keys.filter(col("ck") % 4 === sh)
        .select(col("ck").cast("string").as("k")))
    }.reduce(_ unionByName _).distinct()
    bloomWords(s, merged)
  }

  /** Membership decision table: every probe key joined against the
    * filter's bit set — bloom_pos(k) ⇔ all 4 of k's bits are set.
    * Returns (ck, bloom_pos, present). The filter side is ≤ 65536 rows
    * — broadcast; the probe side streams map-side. */
  private[graft] def bloomMembership(present: DataFrame, probe: DataFrame)
      : DataFrame = {
    val fbits = bloomBits(present.select(col("ck").cast("string").as("k")))
    val pb = probe
      .select(col("ck"), col("ck").cast("string").as("k"),
        explode(expr("array(0L, 1L, 2L, 3L)")).as("j"))
      .select(col("ck"),
        md5(concat(col("j").cast("string"), lit("#"), col("k"))).as("d"))
      .select(col("ck"), expr(s"CAST(4096 * ${bhv(1)} + 256 * ${bhv(2)} + " +
        s"16 * ${bhv(3)} + ${bhv(4)} AS BIGINT)").as("bit"))
    pb.join(broadcast(fbits.withColumn("hit", lit(1L))), Seq("bit"), "left")
      .groupBy(col("ck"))
      .agg((sum(coalesce(col("hit"), lit(0L))) === 4L).as("bloom_pos"))
      .join(present.select(col("ck"), lit(true).as("p")), Seq("ck"), "left")
      .select(col("ck"), col("bloom_pos"),
        coalesce(col("p"), lit(false)).as("present"))
  }

  /** q426: the BLOOM READ PATH — the filter built from the 1995
    * buyers probed by EVERY customer (~22% of probes are genuinely
    * absent), the pre-join existence gate a 100-TB pipeline runs
    * before shuffling the big side against one partition: per probe
    * bucket (ck mod 8) and overall, probed / actually-present /
    * bloom-positive / FALSE-POSITIVE counts with the measured FPR in
    * ppm — and n_false_neg, which the one-sided guarantee forces to 0
    * (an output column, so the gate proves no-false-negatives rather
    * than asserting it). Probes that pass the filter are the only rows
    * a downstream semi-join would shuffle; fpr_ppm is the wasted-probe
    * rate the 2048-word budget buys at this key count.
    *
    * Scale shape: the filter is a broadcast bit set (≤65536 rows); the
    * probe side is one map-side 4-row explode + a per-key 4-row
    * aggregate — no shuffle touches the big side beyond key grain. */
  val q426BloomMembership: Q = Q(
    "q426_bloom_membership",
    s"""WITH $duckBloom,
      |p AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS ck FROM orders
      |      WHERE year(o_orderdate) = 1995),
      |c AS (SELECT DISTINCT CAST(c_custkey AS BIGINT) AS ck FROM customer),
      |q1 AS (SELECT ck, CAST(ck AS VARCHAR) AS k FROM c),
      |qcj AS (SELECT ck, k, unnest([0, 1, 2, 3]) AS j FROM q1),
      |qhx AS (SELECT ck, md5(concat(CAST(j AS VARCHAR), '#', k)) AS d
      |        FROM qcj),
      |qb AS (SELECT ck, 4096 * ${bohv(1)} + 256 * ${bohv(2)}
      |                  + 16 * ${bohv(3)} + ${bohv(4)} AS bit FROM qhx),
      |hit AS (SELECT qb.ck,
      |               CAST(sum(CASE WHEN fb.bit IS NOT NULL THEN 1 ELSE 0
      |                        END) AS BIGINT) AS hits
      |        FROM qb LEFT JOIN fb ON fb.bit = qb.bit GROUP BY 1),
      |fl AS (SELECT h.ck, h.hits = 4 AS bloom_pos, p.ck IS NOT NULL
      |              AS present
      |       FROM hit h LEFT JOIN p ON p.ck = h.ck),
      |per AS (SELECT CAST(ck % 8 AS BIGINT) AS bucket,
      |               CAST(count(*) AS BIGINT) AS n_probed,
      |               CAST(sum(CASE WHEN present THEN 1 ELSE 0 END)
      |                 AS BIGINT) AS n_present,
      |               CAST(sum(CASE WHEN bloom_pos THEN 1 ELSE 0 END)
      |                 AS BIGINT) AS n_bloom_pos,
      |               CAST(sum(CASE WHEN bloom_pos AND NOT present THEN 1
      |                        ELSE 0 END) AS BIGINT) AS n_false_pos,
      |               CAST(sum(CASE WHEN present AND NOT bloom_pos THEN 1
      |                        ELSE 0 END) AS BIGINT) AS n_false_neg
      |        FROM fl GROUP BY 1),
      |tot AS (SELECT CAST(-1 AS BIGINT) AS bucket,
      |               CAST(count(*) AS BIGINT) AS n_probed,
      |               CAST(sum(CASE WHEN present THEN 1 ELSE 0 END)
      |                 AS BIGINT) AS n_present,
      |               CAST(sum(CASE WHEN bloom_pos THEN 1 ELSE 0 END)
      |                 AS BIGINT) AS n_bloom_pos,
      |               CAST(sum(CASE WHEN bloom_pos AND NOT present THEN 1
      |                        ELSE 0 END) AS BIGINT) AS n_false_pos,
      |               CAST(sum(CASE WHEN present AND NOT bloom_pos THEN 1
      |                        ELSE 0 END) AS BIGINT) AS n_false_neg
      |        FROM fl),
      |u AS (SELECT * FROM per UNION ALL SELECT * FROM tot)
      |SELECT bucket, n_probed, n_present, n_bloom_pos, n_false_pos,
      |       n_false_neg,
      |       CAST(n_false_pos * 1000000
      |         // NULLIF(n_probed - n_present, 0) AS BIGINT) AS fpr_ppm
      |FROM u ORDER BY bucket""".stripMargin) { (s, dir) =>
    val present = Tables(s, dir, "orders")
      .filter(year(col("o_orderdate")) === 1995)
      .select(col("o_custkey").cast("long").as("ck")).distinct()
    val probe = Tables(s, dir, "customer")
      .select(col("c_custkey").cast("long").as("ck")).distinct()
    val fl = bloomMembership(present, probe)
    def counts(g: org.apache.spark.sql.RelationalGroupedDataset) = g.agg(
      count(lit(1)).as("n_probed"),
      sum(when(col("present"), 1L).otherwise(0L)).as("n_present"),
      sum(when(col("bloom_pos"), 1L).otherwise(0L)).as("n_bloom_pos"),
      sum(when(col("bloom_pos") && !col("present"), 1L).otherwise(0L))
        .as("n_false_pos"),
      sum(when(col("present") && !col("bloom_pos"), 1L).otherwise(0L))
        .as("n_false_neg"))
    val flP = fl.persist(MEMORY_AND_DISK) // two aggregate scans
    val per = counts(flP.groupBy((col("ck") % 8).as("bucket")))
    val tot = counts(flP.groupBy(lit(-1L).as("bucket")))
    per.unionByName(tot)
      .withColumn("fpr_ppm", expr(
        "CAST(n_false_pos * 1000000 div " +
          "nullif(n_probed - n_present, 0) AS BIGINT)"))
      .orderBy(col("bucket"))
  }

  // -------------------------------------------------------------------
  // q428/q429 — deterministic random walks + skip-gram training pairs
  // -------------------------------------------------------------------

  /** Walk-corpus shape: 16 hub seeds × 4 walks × 8 nodes. Seeds are the
    * top-degree nodes ((deg DESC, n) total order); the walk count and
    * length are part of the metric's definition, shared by the unrolled
    * oracle. */
  private[graft] val WalkSeeds = 16
  private[graft] val WalksPerSeed = 4
  private[graft] val WalkLen = 8

  /** DeepWalk-style DETERMINISTIC random walks over the symmetrized
    * co-purchase graph — the corpus-prep op for skip-gram graph
    * embeddings (walks are the "sentences" a word2vec trainer consumes):
    * each node's neighbors are totally ordered (rank by neighbor id),
    * and step s of walk (seed, t) moves to the neighbor at index
    * md5('<seed>#<t>#<s>#<cur>') mod degree(cur) — the
    * Efraimidis-style trick of replacing RNG state with a portable hash
    * of the walk coordinate, so both engines draw the SAME "random"
    * walk. Returns (seed, walk, step, node), steps 0..WalkLen−1.
    *
    * Scale shape: the adjacency (with per-node neighbor ranks) builds
    * once and persists; each step is one hash at WALK grain + one
    * (node, rank) equi-join into the adjacency — frontier rows =
    * #walks, so the per-step cost is the adjacency probe, exactly how
    * a 1000-executor DeepWalk generates (walks-per-node × length) in
    * L rounds with no RNG coordination. */
  private[graft] def deepWalks(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e0 = Graph.supportedEdges(s, dir)
    val sym = e0.select(col("u").as("n"), col("v").as("z"))
      .unionByName(e0.select(col("v").as("n"), col("u").as("z")))
      .persist(MEMORY_AND_DISK)
    val deg = sym.groupBy(col("n")).agg(count(lit(1)).as("dg"))
      .persist(MEMORY_AND_DISK) // probed every step
    val adj = sym.withColumn("r", row_number()
        .over(Window.partitionBy(col("n")).orderBy(col("z"))).cast("long"))
      .persist(MEMORY_AND_DISK) // probed every step
    val seeds = deg.orderBy(col("dg").desc, col("n")).limit(WalkSeeds)
      .select(col("n").as("seed"))
    var cur = seeds
      .select(col("seed"),
        explode(expr(s"sequence(0L, ${WalksPerSeed - 1}L)")).as("walk"))
      .withColumn("node", col("seed"))
      .localCheckpoint()
    val acc = scala.collection.mutable.ArrayBuffer(
      cur.withColumn("step", lit(0L)))
    for (st <- 1 until WalkLen) {
      val h = cur.join(deg, col("node") === col("n"))
        .withColumn("d", md5(concat(col("seed").cast("string"), lit("#"),
          col("walk").cast("string"), lit("#"), lit(st.toString), lit("#"),
          col("node").cast("string"))))
        .withColumn("ix",
          expr(s"(${PortableHash.hexHeadToLong("d", "instr")}) % dg"))
      // Frontier is #walks rows — checkpoint per step keeps the 7-step
      // lineage from nesting joins (the q386 per-level BFS discipline).
      cur = h.join(adj.select(col("n").as("an"), col("z"), col("r")),
          col("an") === col("node") && col("r") === col("ix") + 1)
        .select(col("seed"), col("walk"), col("z").as("node"))
        .localCheckpoint()
      acc += cur.withColumn("step", lit(st.toLong))
    }
    acc.reduce(_ unionByName _)
  }

  /** The shared oracle CTE chain for the walk corpus: per-node ranked
    * adjacency, hub seeds, and one (hash, index, move) CTE triple per
    * step — the fixed unroll IS the metric (WalkLen − 1 steps). */
  private def duckWalks: String = {
    val fold = PortableHash.hexHeadToLong("d", "strpos")
    val b = new scala.collection.mutable.StringBuilder
    b ++= s"""lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS MATERIALIZED (SELECT l1.l_partkey AS u, l2.l_partkey AS v
      |       FROM lp l1 JOIN lp l2
      |         ON l1.l_orderkey = l2.l_orderkey
      |        AND l1.l_partkey < l2.l_partkey
      |       GROUP BY 1, 2 HAVING count(*) >= 2),
      |sym AS MATERIALIZED (SELECT u AS n, v AS z FROM e0 UNION ALL SELECT v, u FROM e0),
      |deg AS MATERIALIZED (SELECT n, CAST(count(*) AS BIGINT) AS dg FROM sym GROUP BY 1),
      |adj AS MATERIALIZED (SELECT n, z, CAST(row_number() OVER (PARTITION BY n
      |          ORDER BY z) AS BIGINT) AS r FROM sym),
      |seeds AS MATERIALIZED (SELECT n AS seed FROM deg
      |          ORDER BY dg DESC, n LIMIT $WalkSeeds),
      |w0 AS MATERIALIZED (SELECT seed, CAST(tt.t AS BIGINT) AS walk, seed AS node
      |       FROM seeds, (SELECT unnest(range(0, $WalksPerSeed)) AS t) tt)"""
      .stripMargin
    for (st <- 1 until WalkLen) {
      b ++= s""",
        |h$st AS MATERIALIZED (SELECT seed, walk, node,
        |         md5(concat(CAST(seed AS VARCHAR), '#',
        |             CAST(walk AS VARCHAR), '#', '$st', '#',
        |             CAST(node AS VARCHAR))) AS d FROM w${st - 1}),
        |i$st AS MATERIALIZED (SELECT seed, walk, node, (($fold) % deg.dg) AS ix
        |         FROM h$st JOIN deg ON deg.n = h$st.node),
        |w$st AS MATERIALIZED (SELECT i.seed, i.walk, adj.z AS node FROM i$st i
        |         JOIN adj ON adj.n = i.node AND adj.r = i.ix + 1)"""
        .stripMargin
    }
    val uni = (0 until WalkLen).map(st =>
      s"SELECT seed, walk, CAST($st AS BIGINT) AS step, node FROM w$st")
      .mkString(" UNION ALL ")
    b ++= s",\nwalks AS MATERIALIZED ($uni)"
    b.toString
  }

  /** q428: DETERMINISTIC RANDOM WALKS ([[deepWalks]]) surfaced as the
    * gated corpus — the full (seed, walk, step, node) table, the
    * sentences a skip-gram embedding trainer reads. Both engines run
    * the identical hash-indexed walk, so the gate is exact equality of
    * every visited node — any divergence in adjacency ranking, degree,
    * or hash arithmetic shows up as a different step somewhere. */
  val q428GraphWalks: Q = Q(
    "q428_graph_walks",
    s"""WITH $duckWalks
      |SELECT seed, walk, step, node FROM walks
      |ORDER BY seed, walk, step""".stripMargin) { (s, dir) =>
    deepWalks(s, dir)
      .select(col("seed"), col("walk"), col("step"), col("node"))
      .orderBy(col("seed"), col("walk"), col("step"))
  }

  /** q429: SKIP-GRAM TRAINING PAIRS from the walk corpus — the
    * (center, context) co-occurrence table word2vec-style embedding
    * training actually consumes: within each walk, every node pairs
    * with the nodes at distance ≤ 2 (the window), directionally (both
    * (a,b) and (b,a), as the trainer sees them). Counts aggregate over
    * all 64 walks; the surface is the full pair table, exact in both
    * engines because the walks are.
    *
    * Scale shape: one self-join at WALK grain (walk_id equi-key, step
    * band predicate on ≤8-row groups) + a pair-grain count — corpus
    * work, never graph-grain. */
  val q429SkipGrams: Q = Q(
    "q429_skip_grams",
    s"""WITH $duckWalks,
      |pr AS (SELECT a.node AS center, b.node AS context
      |       FROM walks a JOIN walks b
      |         ON a.seed = b.seed AND a.walk = b.walk
      |        AND b.step <> a.step AND abs(b.step - a.step) <= 2)
      |SELECT center, context, CAST(count(*) AS BIGINT) AS cnt
      |FROM pr GROUP BY 1, 2 ORDER BY center, context""".stripMargin) {
    (s, dir) =>
    skipGramPairs(s, dir).orderBy(col("center"), col("context"))
  }

  /** (center, context, cnt) window-2 co-occurrence counts of the walk
    * corpus — q429's surface, shared with q433's PPMI epilogue. */
  private[graft] def skipGramPairs(s: SparkSession, dir: String)
      : DataFrame = {
    val w = deepWalks(s, dir).persist(MEMORY_AND_DISK) // both join sides
    val a = w.select(col("seed"), col("walk"), col("step").as("sa"),
      col("node").as("center"))
    val b = w.select(col("seed"), col("walk"), col("step").as("sb"),
      col("node").as("context"))
    a.join(b, Seq("seed", "walk"))
      .filter(col("sb") =!= col("sa") &&
        abs(col("sb") - col("sa")) <= 2)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("cnt"))
  }

  // -------------------------------------------------------------------
  // q432 — node2vec second-order biased walks
  // -------------------------------------------------------------------

  /** node2vec bias weights as integers (so the cumulative-sum draw is
    * exact in both engines): a candidate next-hop z from cur with
    * previous node prev weighs RETURN (z = prev) 2, COMMON (z adjacent
    * to prev — triangle-closing, the BFS-ish "stay local" move) 4,
    * EXPLORE (everything else) 1 — the p = 1/2, q = 1 parameterization
    * scaled to integers ×2 with the common-neighbor bump. */
  private[graft] val N2vReturn = 2L
  private[graft] val N2vCommon = 4L
  private[graft] val N2vExplore = 1L

  /** SECOND-ORDER deterministic walks (node2vec): step 1 is q428's
    * uniform hash-indexed move; steps ≥ 2 draw from the biased
    * distribution over cur's neighbors via an exact integer
    * cumulative-sum inversion — r = H('<seed>#<walk>#<st>#<cur>') mod
    * Σwt, next = the neighbor (in id order) whose [cum−wt, cum) bucket
    * contains r. Returns (seed, walk, step, node), steps 0..WalkLen−1.
    *
    * Scale shape: per step one frontier⋈adjacency join (candidates at
    * degree grain), one LEFT semi-probe of the symmetric edge set for
    * the prev-adjacency test, and a per-(walk)-partition bounded window
    * for the cumulative sum — all at candidate grain (#walks × degree),
    * never graph-grain. */
  private[graft] def node2vecWalks(s: SparkSession, dir: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e0 = Graph.supportedEdges(s, dir)
    val sym = e0.select(col("u").as("n"), col("v").as("z"))
      .unionByName(e0.select(col("v").as("n"), col("u").as("z")))
      .persist(MEMORY_AND_DISK) // candidates + prev-adjacency probes
    val deg = sym.groupBy(col("n")).agg(count(lit(1)).as("dg"))
    val adjR = sym.withColumn("r", row_number()
        .over(Window.partitionBy(col("n")).orderBy(col("z"))).cast("long"))
    val seeds = deg.orderBy(col("dg").desc, col("n")).limit(WalkSeeds)
      .select(col("n").as("seed"))
    val w0 = seeds
      .select(col("seed"),
        explode(expr(s"sequence(0L, ${WalksPerSeed - 1}L)")).as("walk"))
      .withColumn("node", col("seed"))
      .localCheckpoint()
    // Step 1: uniform (no prev yet) — q428's indexing rule verbatim.
    val h1 = w0.join(deg, col("node") === col("n"))
      .withColumn("d", md5(concat(col("seed").cast("string"), lit("#"),
        col("walk").cast("string"), lit("#1#"),
        col("node").cast("string"))))
      .withColumn("ix",
        expr(s"(${PortableHash.hexHeadToLong("d", "instr")}) % dg"))
    var cur = h1.join(adjR.select(col("n").as("an"), col("z"), col("r")),
        col("an") === col("node") && col("r") === col("ix") + 1)
      .select(col("seed"), col("walk"), col("node").as("prev"),
        col("z").as("node"))
      .localCheckpoint()
    val acc = scala.collection.mutable.ArrayBuffer(
      w0.withColumn("step", lit(0L)).select(col("seed"), col("walk"),
        col("step"), col("node")),
      cur.withColumn("step", lit(1L)).select(col("seed"), col("walk"),
        col("step"), col("node")))
    val cumW = Window.partitionBy(col("seed"), col("walk"))
      .orderBy(col("z"))
    val totW = Window.partitionBy(col("seed"), col("walk"))
    for (st <- 2 until WalkLen) {
      val cand = cur.join(sym.select(col("n").as("cn"), col("z")),
        col("cn") === col("node"))
      val wts = cand.join(
          sym.select(col("n").as("ez"), col("z").as("ep"),
            lit(1L).as("isadj")),
          col("ez") === col("z") && col("ep") === col("prev"), "left")
        .withColumn("wt",
          when(col("z") === col("prev"), lit(N2vReturn))
            .when(col("isadj") === 1L, lit(N2vCommon))
            .otherwise(lit(N2vExplore)))
      cur = wts
        .withColumn("cum", sum(col("wt")).over(cumW))
        .withColumn("tot", sum(col("wt")).over(totW))
        .withColumn("d", md5(concat(col("seed").cast("string"), lit("#"),
          col("walk").cast("string"), lit(s"#$st#"),
          col("node").cast("string"))))
        .withColumn("rr",
          expr(s"(${PortableHash.hexHeadToLong("d", "instr")}) % tot"))
        .filter(col("cum") - col("wt") <= col("rr") &&
          col("rr") < col("cum"))
        .select(col("seed"), col("walk"), col("node").as("prev"),
          col("z").as("node"))
        .localCheckpoint()
      acc += cur.withColumn("step", lit(st.toLong)).select(col("seed"),
        col("walk"), col("step"), col("node"))
    }
    acc.reduce(_ unionByName _)
  }

  /** The node2vec oracle: q428's base CTEs + per biased step a
    * (candidates, weights, cumsum, hash-pick) CTE quad, all
    * MATERIALIZED. */
  private def duckNode2vec: String = {
    val fold = PortableHash.hexHeadToLong("d", "strpos")
    val b = new scala.collection.mutable.StringBuilder
    b ++= s"""lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey
      |      FROM lineitem),
      |e0 AS MATERIALIZED (SELECT l1.l_partkey AS u, l2.l_partkey AS v
      |       FROM lp l1 JOIN lp l2
      |         ON l1.l_orderkey = l2.l_orderkey
      |        AND l1.l_partkey < l2.l_partkey
      |       GROUP BY 1, 2 HAVING count(*) >= 2),
      |sym AS MATERIALIZED (SELECT u AS n, v AS z FROM e0
      |       UNION ALL SELECT v, u FROM e0),
      |deg AS MATERIALIZED (SELECT n, CAST(count(*) AS BIGINT) AS dg
      |       FROM sym GROUP BY 1),
      |adj AS MATERIALIZED (SELECT n, z, CAST(row_number() OVER
      |        (PARTITION BY n ORDER BY z) AS BIGINT) AS r FROM sym),
      |seeds AS MATERIALIZED (SELECT n AS seed FROM deg
      |          ORDER BY dg DESC, n LIMIT $WalkSeeds),
      |w0 AS MATERIALIZED (SELECT seed, CAST(tt.t AS BIGINT) AS walk,
      |         CAST(NULL AS BIGINT) AS prev, seed AS node
      |       FROM seeds, (SELECT unnest(range(0, $WalksPerSeed)) AS t) tt),
      |h1 AS MATERIALIZED (SELECT seed, walk, node,
      |         md5(concat(CAST(seed AS VARCHAR), '#',
      |             CAST(walk AS VARCHAR), '#1#',
      |             CAST(node AS VARCHAR))) AS d FROM w0),
      |i1 AS MATERIALIZED (SELECT seed, walk, node, (($fold) % deg.dg)
      |         AS ix FROM h1 JOIN deg ON deg.n = h1.node),
      |w1 AS MATERIALIZED (SELECT i.seed, i.walk, i.node AS prev,
      |         adj.z AS node FROM i1 i
      |       JOIN adj ON adj.n = i.node AND adj.r = i.ix + 1)"""
      .stripMargin
    for (st <- 2 until WalkLen) {
      b ++= s""",
        |cd$st AS MATERIALIZED (SELECT f.seed, f.walk, f.prev, f.node,
        |         sym.z FROM w${st - 1} f JOIN sym ON sym.n = f.node),
        |wt$st AS MATERIALIZED (SELECT c.*, CAST(CASE
        |           WHEN c.z = c.prev THEN $N2vReturn
        |           WHEN e.n IS NOT NULL THEN $N2vCommon
        |           ELSE $N2vExplore END AS BIGINT) AS wt
        |       FROM cd$st c LEFT JOIN sym e
        |         ON e.n = c.z AND e.z = c.prev),
        |cm$st AS MATERIALIZED (SELECT *,
        |         CAST(sum(wt) OVER (PARTITION BY seed, walk
        |           ORDER BY z) AS BIGINT) AS cum,
        |         CAST(sum(wt) OVER (PARTITION BY seed, walk)
        |           AS BIGINT) AS tot FROM wt$st),
        |hx$st AS MATERIALIZED (SELECT *,
        |         md5(concat(CAST(seed AS VARCHAR), '#',
        |             CAST(walk AS VARCHAR), '#$st#',
        |             CAST(node AS VARCHAR))) AS d FROM cm$st),
        |w$st AS MATERIALIZED (SELECT seed, walk, node AS prev, z AS node
        |       FROM hx$st
        |       WHERE (($fold) % tot) >= cum - wt
        |         AND (($fold) % tot) < cum)""".stripMargin
    }
    val uni = (0 until WalkLen).map(st =>
      s"SELECT seed, walk, CAST($st AS BIGINT) AS step, node FROM w$st")
      .mkString(" UNION ALL ")
    b ++= s",\nwalks2 AS MATERIALIZED ($uni)"
    b.toString
  }

  /** q432: NODE2VEC BIASED WALKS — the production walk generator
    * (Grover & Leskovec 2016) next to q428's first-order DeepWalk: the
    * transition distribution is SECOND-ORDER (depends on (prev, cur)),
    * weighing return / triangle-closing / exploring moves differently,
    * and the draw is derandomized the same way q428's is — a portable
    * hash of the walk coordinate inverted through the exact integer
    * cumulative-weight buckets, so both engines walk identically and
    * the gate is node-by-node equality. Step 1 (no prev yet) is
    * uniform, q428's rule verbatim. */
  val q432Node2vecWalks: Q = Q(
    "q432_node2vec_walks",
    s"""WITH $duckNode2vec
      |SELECT seed, walk, step, node FROM walks2
      |ORDER BY seed, walk, step""".stripMargin) { (s, dir) =>
    node2vecWalks(s, dir)
      .select(col("seed"), col("walk"), col("step"), col("node"))
      .orderBy(col("seed"), col("walk"), col("step"))
  }

  /** q433: PMI of the walk co-occurrence table — the actual training
    * SIGNAL a skip-gram embedding factorizes (word2vec with negative
    * sampling implicitly factorizes the PMI matrix shifted by ln k —
    * Levy & Goldberg 2014), computed exactly: pmi = ln cnt + ln N −
    * ln Σ_center − ln Σ_context with every ln argument integer-valued,
    * carried in the repo's rounded-ln nano discipline (round to 9
    * decimals, ×10⁹ through DECIMAL(28,9), BIGINT sums — no float
    * division anywhere), k-bounded top-20 by (pmi DESC, center,
    * context). The high-PMI pairs are the co-purchase affinities the
    * embedding will place closest — surfacing them IS the
    * interpretability read a curation pipeline runs before training.
    *
    * Scale shape: three pair/node-grain aggregates over the corpus
    * table + one broadcast total; the leaderboard is
    * TakeOrderedAndProject. */
  val q433WalkPmi: Q = Q(
    "q433_walk_pmi",
    s"""WITH $duckWalks,
      |pr AS (SELECT a.node AS center, b.node AS context
      |       FROM walks a JOIN walks b
      |         ON a.seed = b.seed AND a.walk = b.walk
      |        AND b.step <> a.step AND abs(b.step - a.step) <= 2),
      |cnt AS (SELECT center, context, CAST(count(*) AS BIGINT) AS cnt
      |        FROM pr GROUP BY 1, 2),
      |mc AS (SELECT center, CAST(sum(cnt) AS BIGINT) AS m FROM cnt
      |       GROUP BY 1),
      |mx AS (SELECT context, CAST(sum(cnt) AS BIGINT) AS m FROM cnt
      |       GROUP BY 1),
      |nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM cnt),
      |sc AS (SELECT c.center, c.context, c.cnt,
      |              CAST(CAST(round(ln(c.cnt), 9) AS DECIMAL(28,9))
      |                   * 1000000000 AS BIGINT)
      |              + CAST(CAST(round(ln(nn.n), 9) AS DECIMAL(28,9))
      |                     * 1000000000 AS BIGINT)
      |              - CAST(CAST(round(ln(mc.m), 9) AS DECIMAL(28,9))
      |                     * 1000000000 AS BIGINT)
      |              - CAST(CAST(round(ln(mx.m), 9) AS DECIMAL(28,9))
      |                     * 1000000000 AS BIGINT) AS pmi_nano
      |       FROM cnt c
      |       JOIN mc ON mc.center = c.center
      |       JOIN mx ON mx.context = c.context
      |       CROSS JOIN nn),
      |r AS (SELECT sc.*, CAST(row_number() OVER (ORDER BY pmi_nano DESC,
      |               center, context) AS BIGINT) AS pos FROM sc)
      |SELECT pos, center, context, cnt, pmi_nano
      |FROM r WHERE pos <= 20 ORDER BY pos""".stripMargin) { (s, dir) =>
    val cnt = skipGramPairs(s, dir).persist(MEMORY_AND_DISK) // 3 reads
    val mc = cnt.groupBy(col("center")).agg(sum(col("cnt")).as("m_c"))
    val mx = cnt.groupBy(col("context")).agg(sum(col("cnt")).as("m_x"))
    val nn = cnt.agg(sum(col("cnt")).as("n"))
    def lnNano(x: String) =
      s"CAST(CAST(round(ln($x), 9) AS DECIMAL(28,9)) * 1000000000 AS BIGINT)"
    cnt.join(mc, Seq("center")).join(mx, Seq("context"))
      .crossJoin(broadcast(nn))
      .withColumn("pmi_nano", expr(
        s"${lnNano("cnt")} + ${lnNano("n")} - ${lnNano("m_c")} - " +
          s"${lnNano("m_x")}"))
      .orderBy(col("pmi_nano").desc, col("center"), col("context"))
      .limit(20)
      .agg(collect_list(struct(col("pmi_nano").as("s"),
        col("center").as("k1"), col("context").as("k2"),
        col("cnt").as("c"))).as("rows"))
      .select(posexplode(expr(
        """array_sort(rows, (l, r) ->
          |  CASE WHEN l.s > r.s THEN -1 WHEN l.s < r.s THEN 1
          |       WHEN l.k1 < r.k1 THEN -1 WHEN l.k1 > r.k1 THEN 1
          |       WHEN l.k2 < r.k2 THEN -1 WHEN l.k2 > r.k2 THEN 1
          |       ELSE 0 END)""".stripMargin)).as(Seq("i", "r")))
      .select((col("i") + 1).cast("long").as("pos"),
        col("r.k1").as("center"), col("r.k2").as("context"),
        col("r.c").as("cnt"), col("r.s").as("pmi_nano"))
      .orderBy(col("pos"))
  }

  // -------------------------------------------------------------------
  // q430 — content-defined chunking + cross-document chunk dedup
  // -------------------------------------------------------------------

  /** Chunk boundaries are STATELESS content-defined cuts: position i
    * (1-based, 2 ≤ i ≤ len−3) starts a new chunk iff the 16-bit
    * md5-nibble fold of the 4-gram at i is ≡ 0 (mod 64) — a Rabin-style
    * rule whose per-position decision depends only on a fixed window,
    * so it parallelizes embarrassingly AND survives insertions (the
    * property that makes CDC the storage-dedup standard: an edit moves
    * at most the two chunks it touches, never re-aligns the document).
    * Expected chunk length = 64 chars at this corpus's alphabet. */
  private[graft] def cdcChunks(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d0 = docs.filter(col("text").isNotNull && length(col("text")) >= 1)
      .select(col("doc_id"), col("text"))
    // sequence(2, len−3) needs len ≥ 5 (Spark sequence DESCENDS when
    // start > stop); shorter docs simply have no candidate cut in
    // either engine.
    val b = d0.filter(length(col("text")) >= 5)
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(2L, CAST(length(text) - 3 AS BIGINT))"))
          .as("i"))
      .withColumn("d", md5(expr("substring(text, CAST(i AS INT), 4)")))
      .filter(expr(s"(4096 * ${bhv(1)} + 256 * ${bhv(2)} + " +
        s"16 * ${bhv(3)} + ${bhv(4)}) % 64 = 0"))
      .select(col("doc_id"), col("i").as("start"))
    val starts = d0.select(col("doc_id"), lit(1L).as("start"))
      .unionByName(b)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("start"))
    starts.join(d0, Seq("doc_id"))
      .withColumn("nxt", lead(col("start"), 1).over(w))
      .select(col("doc_id"), col("start"),
        expr("substring(text, CAST(start AS INT), " +
          "CAST(coalesce(nxt, CAST(length(text) AS BIGINT) + 1) - start " +
          "AS INT))").as("chunk"))
  }

  /** q430: CDC CHUNK DEDUP — [[cdcChunks]] over the documents corpus,
    * then chunk-grain dedup statistics: the top-10 most-SHARED chunks
    * (by distinct docs, then occurrences, then hash — a total order)
    * with the corpus totals alongside. This is the storage/curation
    * dedup grain BELOW the document: exact-duplicate docs share every
    * chunk, near-duplicates share most, and boilerplate (headers,
    * license blocks) surfaces as high-n_docs chunks even when no two
    * docs match whole — the signal document-level MinHash (q30-family)
    * structurally cannot see. The shared-chunk table keeps chunks ≥ 16
    * chars (stateless cuts occasionally land adjacent, producing 1–5
    * char fragments whose "sharing" is alphabet noise — a stateful
    * min-length would serialize the cut decision, so the floor is
    * applied at the stats layer instead); the corpus totals count
    * every chunk.
    *
    * Scale shape: one per-position map-side explode (|text| rows per
    * doc, all codegen'd builtins), a per-doc bounded window for chunk
    * extents, then chunk-hash-grain aggregates; the top-10 is
    * TakeOrderedAndProject, never a global window. The full text rides
    * the boundary explode only at 4-gram width — the chunk substring
    * re-reads the doc row, not the explode. */
  val q430CdcChunks: Q = Q(
    "q430_cdc_chunks",
    s"""WITH $duckCdc,
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS total_chunks,
      |               CAST(count(DISTINCT h) AS BIGINT) AS distinct_chunks
      |        FROM ch),
      |bc AS (SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |              CAST(count(*) AS BIGINT) AS n_occ,
      |              CAST(max(clen) AS BIGINT) AS chunk_len
      |       FROM ch WHERE clen >= 16 GROUP BY 1),
      |t10 AS (SELECT * FROM bc
      |        ORDER BY n_docs DESC, n_occ DESC, h LIMIT 10)
      |SELECT t10.h AS chunk_md5, t10.n_docs, t10.n_occ, t10.chunk_len,
      |       tot.total_chunks, tot.distinct_chunks
      |FROM t10, tot
      |ORDER BY n_docs DESC, n_occ DESC, chunk_md5""".stripMargin) {
    (s, dir) =>
    val ch = cdcChunks(Tables.sharded(s, dir, "documents"))
      .select(col("doc_id"), md5(col("chunk")).as("h"),
        length(col("chunk")).cast("long").as("clen"))
      .persist(MEMORY_AND_DISK) // totals + per-chunk aggregate
    val tot = ch.agg(count(lit(1)).as("total_chunks"),
      countDistinct(col("h")).as("distinct_chunks"))
    ch.filter(col("clen") >= 16)
      .groupBy(col("h").as("chunk_md5"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"), max(col("clen")).as("chunk_len"))
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("chunk_md5"))
      .limit(10)
      .crossJoin(broadcast(tot))
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("chunk_md5"))
  }

  /** Shared oracle CTE chain d0 → ck → ch for the CDC family (q430's
    * chunking verbatim, exposed for q434's pair epilogue and q435's
    * maintained-store gate). */
  private[graft] def duckCdc: String =
    s"""d0 AS MATERIALIZED (SELECT doc_id, text FROM documents
      |      WHERE text IS NOT NULL AND length(text) >= 1),
      |pos AS MATERIALIZED (SELECT doc_id, text,
      |        unnest(range(2, length(text) - 2)) AS i
      |      FROM d0 WHERE length(text) >= 5),
      |hx AS MATERIALIZED (SELECT doc_id, i,
      |        md5(substr(text, CAST(i AS INTEGER), 4)) AS d FROM pos),
      |bd AS MATERIALIZED (SELECT doc_id, CAST(i AS BIGINT) AS start
      |      FROM hx
      |      WHERE (4096 * ${bohv(1)} + 256 * ${bohv(2)}
      |             + 16 * ${bohv(3)} + ${bohv(4)}) % 64 = 0),
      |st AS MATERIALIZED (SELECT doc_id, CAST(1 AS BIGINT) AS start
      |      FROM d0
      |      UNION ALL SELECT doc_id, start FROM bd),
      |ck AS MATERIALIZED (SELECT s.doc_id,
      |        substr(d0.text, CAST(s.start AS INTEGER),
      |          CAST(coalesce(lead(s.start) OVER (PARTITION BY s.doc_id
      |                 ORDER BY s.start),
      |               length(d0.text) + 1) - s.start AS INTEGER)) AS chunk
      |      FROM st s JOIN d0 ON d0.doc_id = s.doc_id),
      |ch AS MATERIALIZED (SELECT doc_id, md5(chunk) AS h,
      |        CAST(length(chunk) AS BIGINT) AS clen FROM ck)""".stripMargin

  // -------------------------------------------------------------------
  // q434 — near-duplicate candidates from shared CDC chunks
  // -------------------------------------------------------------------

  /** The maximum docs a chunk may be shared by and still act as a pair
    * key: chunks in MORE docs are boilerplate (their pair fan-out is
    * quadratic and their dedup signal near zero) — the frequent-shingle
    * skip every shingling pipeline applies, here made an explicit
    * loudly-documented cap so the chunk-grain self-join is bounded by
    * C(16,2) = 120 pairs per chunk. */
  private[graft] val CdcPairCap = 16L

  /** q434: NEAR-DUP CANDIDATES from shared chunks — the CDC payoff
    * query: two documents sharing eligible chunks (≥ 16 chars, in
    * 2..CdcPairCap docs) are near-duplicate candidates even when no
    * whole-document signature matches; containment_ppm = shared
    * eligible chunks ×10⁶ // the smaller doc's eligible-chunk count —
    * the asymmetric-containment read (a doc quoted inside a larger one
    * scores high where Jaccard dilutes). Top-20 pairs by (shared DESC,
    * doc_a, doc_b). This is the dedup grain between exact-hash (whole
    * doc) and MinHash (shingle sketch): exact sub-document sharing.
    *
    * Scale shape: chunk-grain self-join bounded by the pair cap (≤ 120
    * pairs per chunk), per-doc eligible-chunk counts map-side, the
    * leaderboard k-bounded — no document-pair quadratics anywhere. */
  val q434CdcNearDup: Q = Q(
    "q434_cdc_near_dup",
    s"""WITH $duckCdc,
      |el AS MATERIALIZED (SELECT DISTINCT doc_id, h FROM ch
      |      WHERE clen >= 16),
      |cf AS MATERIALIZED (SELECT h, CAST(count(*) AS BIGINT) AS nd
      |      FROM el GROUP BY 1),
      |keyc AS MATERIALIZED (SELECT h FROM cf
      |       WHERE nd >= 2 AND nd <= $CdcPairCap),
      |dc AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS nch
      |      FROM el GROUP BY 1),
      |pp AS MATERIALIZED (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |        CAST(count(*) AS BIGINT) AS shared
      |      FROM el a JOIN keyc k ON k.h = a.h
      |           JOIN el b ON b.h = a.h AND b.doc_id > a.doc_id
      |      GROUP BY 1, 2),
      |sc AS (SELECT pp.doc_a, pp.doc_b, pp.shared,
      |              CAST(pp.shared * 1000000
      |                // least(da.nch, db.nch) AS BIGINT) AS containment_ppm
      |       FROM pp JOIN dc da ON da.doc_id = pp.doc_a
      |               JOIN dc db ON db.doc_id = pp.doc_b),
      |r AS (SELECT sc.*, CAST(row_number() OVER (ORDER BY shared DESC,
      |               doc_a, doc_b) AS BIGINT) AS pos FROM sc)
      |SELECT pos, doc_a, doc_b, shared, containment_ppm
      |FROM r WHERE pos <= 20 ORDER BY pos""".stripMargin) { (s, dir) =>
    val el = cdcChunks(Tables.sharded(s, dir, "documents"))
      .filter(length(col("chunk")) >= 16)
      .select(col("doc_id"), md5(col("chunk")).as("h"))
      .distinct()
      .persist(MEMORY_AND_DISK) // frequency cap, per-doc counts, pairs
    val keyc = el.groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= CdcPairCap)
      .select(col("h"))
    val dc = el.groupBy(col("doc_id")).agg(count(lit(1)).as("nch"))
    val pp = el.join(keyc, Seq("h"), "left_semi").as("a")
      .join(el.join(keyc, Seq("h"), "left_semi").as("b"),
        col("a.h") === col("b.h") && col("b.doc_id") > col("a.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    pp.join(dc.select(col("doc_id").as("doc_a"), col("nch").as("na")),
        Seq("doc_a"))
      .join(dc.select(col("doc_id").as("doc_b"), col("nch").as("nb")),
        Seq("doc_b"))
      .withColumn("containment_ppm",
        expr("CAST(shared * 1000000 div least(na, nb) AS BIGINT)"))
      .orderBy(col("shared").desc, col("doc_a"), col("doc_b"))
      .limit(20)
      .agg(collect_list(struct(col("shared").as("s"), col("doc_a").as("k1"),
        col("doc_b").as("k2"), col("containment_ppm").as("c"))).as("rows"))
      .select(posexplode(expr(
        """array_sort(rows, (l, r) ->
          |  CASE WHEN l.s > r.s THEN -1 WHEN l.s < r.s THEN 1
          |       WHEN l.k1 < r.k1 THEN -1 WHEN l.k1 > r.k1 THEN 1
          |       WHEN l.k2 < r.k2 THEN -1 WHEN l.k2 > r.k2 THEN 1
          |       ELSE 0 END)""".stripMargin)).as(Seq("i", "r")))
      .select((col("i") + 1).cast("long").as("pos"),
        col("r.k1").as("doc_a"), col("r.k2").as("doc_b"),
        col("r.s").as("shared"), col("r.c").as("containment_ppm"))
      .orderBy(col("pos"))
  }

  /** Sparse per-chunk partial (h, n_docs, n_occ, clen) of one documents
    * frame — the per-trigger state q435 folds by (sum, sum, max):
    * batches partition docs disjointly, so doc counts ADD exactly like
    * occurrence counts (a chunk's doc set never spans re-counted
    * docs). */
  private[graft] def cdcCounts(docs: DataFrame): DataFrame =
    cdcChunks(graft.Tables.shard(docs))
      .select(col("doc_id"), md5(col("chunk")).as("h"),
        length(col("chunk")).cast("long").as("clen"))
      .groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"), max(col("clen")).as("clen"))

  // -------------------------------------------------------------------
  // q431 — component-grain incremental WEIGHTED LPA
  // -------------------------------------------------------------------

  /** q431: COMPONENT-GRAIN incremental WEIGHTED LPA — [[Graph.lpa]]
    * with a `sum(w)` vote through the generic [[Round14.componentFold]]:
    * the first WEIGHTED kernel
    * through the fold, proving the discipline indifferent to edge
    * payloads (the touched-edge semi-join and the day1 ∪ delta union
    * carry w through untouched; the kernel's vote mass is edge-local,
    * so component-locality holds exactly as for count-LPA). Same
    * (u+v) % 5 archive/delta split over the WEIGHTED support-2 graph;
    * the persisted index is day-1 CC labels + day-1 round-4 weighted
    * labels; untouched components' stored labels pass through via one
    * node-grain anti-join. Oracle: the from-scratch full-graph weighted
    * chain at node grain (q423's CTEs verbatim) — fold ≡ rebuild.
    *
    * Scale shape: ccFold's |Δ|-grain merge + 4 weighted rounds bounded
    * by touched-component volume; identical economics to q412 with w
    * riding the adjacency shuffle. */
  val q431WlpaIncremental: Q = Q(
    "q431_wlpa_incremental",
    s"""WITH $duckWlpa
      |SELECT n, lbl FROM l4 ORDER BY n""".stripMargin) { (s, dir) =>
    val e0 = Graph.coPurchaseEdges(s, dir).persist(MEMORY_AND_DISK)
    val day1 = e0.filter((col("u") + col("v")) % 5 =!= 0)
      .persist(MEMORY_AND_DISK)
    val delta = e0.filter((col("u") + col("v")) % 5 === 0)
      .persist(MEMORY_AND_DISK)
    val labels = Fuzzy.resolveClusters(s,
      day1.select(col("u").as("doc_a"), col("v").as("doc_b")))
      .select(col("doc_id").as("n"), col("cluster_id").as("lab"))
      .persist(MEMORY_AND_DISK)
    val wlpa = Graph.lpa(_: DataFrame, sum(col("w")))
    val stored = wlpa(day1)
    val (updated, _, _) = Round14.componentFold(labels, stored, day1, delta)(
      wlpa)
    updated.select(col("n"), col("lbl")).orderBy(col("n"))
  }

  val all: Seq[Q] = Seq(q417CoreIncremental, q418AnnIvfLloyd,
    q420BoruvkaMsf, q421MsfIncremental, q422DendrogramLevels,
    q423WeightedLpa, q425BloomRegisters, q426BloomMembership,
    q428GraphWalks, q429SkipGrams, q430CdcChunks, q431WlpaIncremental,
    q432Node2vecWalks, q433WalkPmi, q434CdcNearDup)
}
