package graft.ops

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-14 kernels vs independent Scala references (the per-round
  * discipline of Round10Spec..Round13Spec). Centerpieces: the
  * component-grain incremental 3-core ([[Round14.core3ComponentFold]] —
  * fold ≡ from-scratch AND the recompute provably scans ONLY touched
  * components, counted on planted fixtures, including a delta that
  * FLIPS membership across a component merge, where a naive
  * pass-through would be wrong), the trigram Kneser–Ney scorer against
  * a textbook integer implementation, the smoother-disagreement audit
  * against an independent both-smoothers pipeline, and the iterated-
  * Luby coloring against an in-heap MessageDigest-priority reference.
  */
class Round14Spec extends SparkSpec {
  import spark.implicits._

  private val root = Paths.get("target", "tmp",
    s"r14fix-${java.util.UUID.randomUUID().toString.take(8)}").toAbsolutePath

  private def dirFor(name: String): String = {
    val d = root.resolve(name)
    Files.createDirectories(d)
    d.toString
  }

  private def md5hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  /** lineitem fixture: edge (u, v, w) becomes w orders each holding
    * parts {u, v}, so the support-2 graph contains exactly the w ≥ 2
    * edges (Round13Spec's generator). */
  private def lineitemFor(edges: Seq[(Long, Long, Long)], dir: String): Unit = {
    var nextOrder = 0L
    edges.flatMap { case (u, v, w) =>
      (1L to w).flatMap { _ =>
        nextOrder += 1
        Seq((nextOrder, u), (nextOrder, v))
      }
    }.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  private def docsFor(docs: Seq[(Long, String)], dir: String): Unit =
    docs.map { case (id, t) => (id, t, "en", "ref", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private def lnNano(x: Long): Long =
    (BigDecimal(math.log(x.toDouble)).setScale(9,
      BigDecimal.RoundingMode.HALF_UP) * BigDecimal(1000000000L)).toLongExact

  /** Seeded random (u < v) edge set over node ids 1..n. */
  private def randomEdges(seed: Long, n: Int, m: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val picked = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
    while (picked.size < m) {
      val a = rnd.nextInt(n).toLong + 1
      val b = rnd.nextInt(n).toLong + 1
      if (a != b) picked += ((math.min(a, b), math.max(a, b)))
    }
    picked.toSeq
  }

  // -------------------------------------------------------------------
  // 3-core: immutable-set reference + tier race
  // -------------------------------------------------------------------

  /** Peel-to-fixpoint over immutable sets — the textbook definition,
    * structurally unlike both production tiers. */
  private def refCore3(edges: Seq[(Long, Long)]): Set[Long] = {
    var cur = edges.toSet
    var done = false
    while (!done) {
      val deg = cur.toSeq.flatMap { case (u, v) => Seq(u, v) }
        .groupBy(identity).view.mapValues(_.size).toMap
      val surv = deg.filter(_._2 >= 3).keySet
      val nxt = cur.filter { case (u, v) => surv(u) && surv(v) }
      done = nxt == cur
      cur = nxt
    }
    cur.flatMap { case (u, v) => Seq(u, v) }
  }

  test("core3Driver: planted topologies equal the immutable-set peel") {
    // K4: every node degree 3 — all survive.
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(Round14.core3Driver(k4.toArray) === Set(1L, 2L, 3L, 4L))
    // K4 + pendant chain: the chain peels away, the clique stays.
    val pend = k4 ++ Seq((4L, 5L), (5L, 6L))
    assert(Round14.core3Driver(pend.toArray) === Set(1L, 2L, 3L, 4L))
    // 4-cycle: degree 2 everywhere — empty core.
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    assert(Round14.core3Driver(cyc.toArray) === Set.empty[Long])
    // Cascade: a K4 whose corner feeds a triangle — the triangle peels
    // in a cascade, the K4 survives.
    val casc = k4 ++ Seq((4L, 7L), (4L, 8L), (7L, 8L))
    assert(Round14.core3Driver(casc.toArray) === refCore3(casc))
  }

  test("core3 tiers: driver and distributed race label-equal on random " +
    "graphs, both equal to the reference") {
    for (seed <- 1 to 3) {
      val edges = randomEdges(seed, 16, 36)
      val ref = refCore3(edges)
      assert(Round14.core3Driver(edges.toArray) === ref, s"driver seed $seed")
      val dist = Round14.core3Distributed(edges.toDF("u", "v"))
        .collect().map(_.getLong(0)).toSet
      assert(dist === ref, s"distributed seed $seed")
    }
  }

  // -------------------------------------------------------------------
  // component-grain fold: fold ≡ scratch + touched-only scan
  // -------------------------------------------------------------------

  private def foldOn(day1: Seq[(Long, Long)], delta: Seq[(Long, Long)])
      : (Map[Long, Boolean], Set[(Long, Long)]) = {
    val day1Df = day1.toDF("u", "v")
    val deltaDf = delta.toDF("u", "v")
    val labels = Fuzzy.resolveClusters(spark,
      day1Df.select(col("u").as("doc_a"), col("v").as("doc_b")))
      .select(col("doc_id").as("n"), col("cluster_id").as("lab"))
    val stored = Round14.core3Members(spark, day1Df)
    val (updated, _, scanned) = Round14.core3ComponentFold(
      spark, labels, stored, day1Df, deltaDf)
    (updated.collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap,
      scanned.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("core3ComponentFold: fold equals from-scratch and the recompute " +
    "scans ONLY the touched components' edges") {
    // Component A (touched): K4 {1..4} + a path 4-5-6; the delta edges
    // (5,6 stays path) close 5 and 6 into the core via (3,5),(3,6),(5,6).
    val compA = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L))
    // Component B (untouched): K4 {20..23} + pendant 24.
    val compB = Seq((20L, 21L), (20L, 22L), (20L, 23L), (21L, 22L),
      (21L, 23L), (22L, 23L), (23L, 24L))
    val delta = Seq((3L, 5L), (3L, 6L), (4L, 6L),
      // an all-new delta component (touched by definition):
      (30L, 31L))
    val (got, scanned) = foldOn(compA ++ compB, delta)
    val all = compA ++ compB ++ delta
    val core = refCore3(all)
    val nodes = all.flatMap { case (u, v) => Seq(u, v) }.toSet
    assert(got.keySet === nodes)
    nodes.foreach(n => assert(got(n) === core(n), s"node $n"))
    // The delta flipped 5 and 6 INTO the core (a naive |Δ|-grain fold
    // cannot see that — the peel re-ran inside component A).
    assert(got(5L) && got(6L))
    // Touched-only scan: component B's edges were NEVER re-read by the
    // kernel — the scanned set is exactly A's edges ∪ the delta.
    assert(scanned === (compA ++ delta).toSet)
    assert(scanned.forall { case (u, v) => u < 20L || u >= 30L })
  }

  test("core3ComponentFold: a delta MERGING two day-1 components flips " +
    "membership that pass-through alone would get wrong") {
    // Two triangles (degree 2 — no core on day 1); the delta welds them
    // into the 3-prism, where EVERY node has degree 3: the whole merged
    // component enters the core, so every stored 'false' must flip.
    val triA = Seq((1L, 2L), (1L, 3L), (2L, 3L))
    val triB = Seq((10L, 11L), (10L, 12L), (11L, 12L))
    // Untouched component C keeps its stored result.
    val compC = Seq((20L, 21L), (20L, 22L), (20L, 23L), (21L, 22L),
      (21L, 23L), (22L, 23L))
    val delta = Seq((1L, 10L), (2L, 11L), (3L, 12L))
    val (got, scanned) = foldOn(triA ++ triB ++ compC, delta)
    val core = refCore3(triA ++ triB ++ compC ++ delta)
    assert(core === Set(1L, 2L, 3L, 10L, 11L, 12L, 20L, 21L, 22L, 23L))
    got.foreach { case (n, in) => assert(in === core(n), s"node $n") }
    assert(scanned === (triA ++ triB ++ delta).toSet)
  }

  test("q407 registry query matches the from-scratch reference on a " +
    "planted lineitem fixture") {
    val dir = dirFor("core3fix")
    // Edges chosen so the (u+v) % 5 split leaves a real delta: the K5
    // on {1,2,3,4,5} has edges (1,4),(2,3) with u+v=5 in the delta.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (2L, 3L),
      (2L, 4L), (2L, 5L), (3L, 4L), (3L, 5L), (4L, 5L),
      (10L, 11L), (10L, 12L), (11L, 12L))
    lineitemFor(edges.map(e => (e._1, e._2, 2L)), dir)
    val got = Round14.q407Core3Incremental.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val core = refCore3(edges)
    assert(got.keySet === edges.flatMap(e => Seq(e._1, e._2)).toSet)
    got.foreach { case (n, in) => assert(in === core(n), s"node $n") }
  }

  // -------------------------------------------------------------------
  // q413: core decomposition — independent reference + tier race
  // -------------------------------------------------------------------

  /** Independent core decomposition: repeatedly delete A minimum-degree
    * node (the classic sequential algorithm — structurally unlike both
    * production tiers' parallel per-k peels), core(n) = its degree at
    * deletion time, monotonized. */
  private def refCoreNumbers(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = scala.collection.mutable.Map.empty[Long,
      scala.collection.mutable.Set[Long]]
    edges.foreach { case (u, v) =>
      adj.getOrElseUpdate(u, scala.collection.mutable.Set.empty) += v
      adj.getOrElseUpdate(v, scala.collection.mutable.Set.empty) += u
    }
    val core = scala.collection.mutable.Map.empty[Long, Long]
    var k = 0L
    while (adj.nonEmpty) {
      val (n, d) = adj.map { case (x, s) => (x, s.size.toLong) }
        .minBy { case (x, d) => (d, x) }
      k = math.max(k, d)
      core(n) = math.max(k, 1L)
      adj(n).foreach(m => adj(m) -= n)
      adj -= n
    }
    core.toMap
  }

  test("q413 core decomposition: both tiers equal the sequential " +
    "min-degree reference on planted and random graphs") {
    // K4 + pendant chain + 4-cycle + isolated edge: cores 3/1/2/1.
    val planted = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (10L, 11L), (11L, 12L), (12L, 13L),
      (10L, 13L), (20L, 21L))
    val wantP = refCoreNumbers(planted)
    assert(Round14.coreDriver(planted.toArray).toMap === wantP)
    assert(wantP(1L) === 3L && wantP(10L) === 2L && wantP(20L) === 1L
      && wantP(5L) === 1L)
    for (seed <- 1 to 3) {
      val edges = randomEdges(seed + 10, 15, 32)
      val want = refCoreNumbers(edges)
      assert(Round14.coreDriver(edges.toArray).toMap === want,
        s"driver seed $seed")
      val dist = Round14.coreDistributed(edges.toDF("u", "v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist === want, s"distributed seed $seed")
    }
  }

  // -------------------------------------------------------------------
  // q415: component-grain incremental truss
  // -------------------------------------------------------------------

  /** Independent truss numbers over immutable sets (the textbook peel —
    * structurally unlike both production tiers). */
  private def refTrussNumbers(edges: Seq[(Long, Long)])
      : Map[(Long, Long), Long] = {
    var cur = edges.toSet
    val tn = scala.collection.mutable.Map.empty[(Long, Long), Long]
    edges.foreach(e => tn(e) = 2L)
    for (k <- 3 to 7) {
      var done = false
      while (!done && cur.nonEmpty) {
        val adj = cur.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val keep = cur.filter { case (u, v) =>
          (adj(u) & adj(v)).size >= k - 2 }
        done = keep == cur
        cur = keep
      }
      cur.foreach(e => tn(e) = k.toLong)
    }
    tn.toMap
  }

  test("q415 incremental truss: fold equals from-scratch truss numbers, " +
    "a delta RAISING archive edges' truss is seen, and the untouched " +
    "component's edges pass through unscanned") {
    // Component A: K4 on {1,2,3,4} MISSING edge (1,4) on day 1 (truss 3
    // for the remaining edges), plus the delta edge (1,4) with u+v=5 —
    // completing the K4 raises EVERY A edge to truss 4, so the stored
    // day-1 numbers must all flip. Component B: a separate K4 {20..23},
    // untouched.
    val day1 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (20L, 21L), (20L, 22L), (20L, 23L), (21L, 22L), (21L, 23L),
      (22L, 23L))
    val delta = Seq((1L, 4L))
    assert(delta.forall { case (u, v) => (u + v) % 5 == 0 })
    val day1Df = day1.toDF("u", "v")
    val deltaDf = delta.toDF("u", "v")
    val labels = Fuzzy.resolveClusters(spark,
      day1Df.select(col("u").as("doc_a"), col("v").as("doc_b")))
      .select(col("doc_id").as("n"), col("cluster_id").as("lab"))
    val stored = Round13.trussTiered(spark, day1Df.localCheckpoint())
    val (updated, _, scanned) = Round14.componentFoldEdges(
      labels, stored, day1Df, deltaDf)(
      te => Round13.trussTiered(spark, te))
    val got = updated.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === refTrussNumbers(day1 ++ delta))
    assert(got((1L, 2L)) === 4L && got((1L, 4L)) === 4L)
    // Touched-only scan: B's edges never reach the kernel.
    val scannedSet = scanned.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(scannedSet === (day1.filter(_._1 < 20L) ++ delta).toSet)
  }

  // -------------------------------------------------------------------
  // q416: KN discount sweep — independent integer sweep
  // -------------------------------------------------------------------

  /** Independent discount sweep: total held-out NLL for d ∈ {1,2,3}
    * quarters, plain maps and Long floor divisions. */
  private def refDiscountSweep(docs: Seq[(Long, String)])
      : Seq[(Long, Long, Long)] = {
    val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }
    val train = toks.filter(_._1 % 2 == 0)
    val c2 = train.flatMap(d =>
      if (d._2.length < 2) Seq.empty else d._2.zip(d._2.tail))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = c2.groupBy(_._1._1)
      .view.mapValues(m => (m.values.sum, m.size.toLong)).toMap
    val nb = c2.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n1all = c2.size.toLong
    val v = train.flatMap(_._2).toSet.size.toLong
    (1L to 3L).map { d =>
      val nlls = for {
        (id, ws) <- toks if id % 2 == 1 && ws.length >= 2
        (w1, w2) <- ws.zip(ws.tail)
      } yield {
        val pcont = (nb.getOrElse(w2, 0L) + 1) * 1000000000L / (n1all + v)
        val p = c1.get(w1) match {
          case Some((cc, n1f)) =>
            val cv = c2.getOrElse((w1, w2), 0L)
            math.max(
              math.max(4 * cv - d, 0L) * 1000000000L / (4 * cc)
                + (d * n1f * 1000000000L / (4 * cc) * pcont) / 1000000000L,
              1L)
          case None => math.max(pcont, 1L)
        }
        lnNano(1000000000L) - lnNano(p)
      }
      (d, nlls.size.toLong, nlls.sum)
    }
  }

  test("q416 discount sweep: per-discount totals and the argmin flag " +
    "equal the independent integer sweep") {
    val docs = lmDocs(416, 80)
    val dir = dirFor("sweepfix")
    docsFor(docs, dir)
    val ref = refDiscountSweep(docs)
    val minTotal = ref.map(_._3).min
    val want = ref.map { case (d, n, t) => (d, n, t, t == minTotal) }
    val got = Round14.q416KnDiscountSweep.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSeq
    assert(got === want)
    // The sweep must actually discriminate: totals differ across d.
    assert(ref.map(_._3).distinct.size === 3)
  }

  // -------------------------------------------------------------------
  // q414: hierarchical IVF — recall vs exact, measured not assumed
  // -------------------------------------------------------------------

  test("q414 hierarchical IVF: recall@3 vs exact brute force is measured " +
    "and pinned (uniform-random vectors — the adversarial case for any " +
    "IVF routing, since there is no cluster structure to route by)") {
    val dir = dirFor("hierivf")
    val rnd = new scala.util.Random(414)
    val n = 400
    (0L until n).map { id =>
      (id, Array.fill(64)(rnd.nextFloat() * 2f - 1f), 0)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      d / math.sqrt(na * nb)
    }
    val exact = (0L until 10L).map { q =>
      q -> vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, cos(vecs(q), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(3).map(_._1).toSet
    }.toMap
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      (0L until 10L).map(q =>
        got.getOrElse(q, Set.empty).count(exact(q)) / 3.0).sum / 10.0
    }
    val rHier = recall(Round14.q414AnnIvfHier.fn(spark, dir))
    val rFlat = recall(Similarity.q48AnnIvf.fn(spark, dir))
    // Seeded corpus → deterministic recall. MEASURED: flat 0.967 (k=16
    // lists, probing 2 samples 12.5% of a 400-vector corpus), hier
    // 0.733 (4-of-4 coarse probed, then top-2 of 16 fine lists — the
    // extra routing level costs ~0.23 recall HERE because uniform
    // random vectors give the router nothing to route by; clustered
    // corpora route far better, and the assignment cost drops from N·k
    // to N·2√k). The floors pin the measurement, they don't flatter it.
    assert(rFlat >= 0.9, s"flat recall moved: $rFlat")
    assert(rHier >= 0.6, s"hier recall moved below its floor: $rHier " +
      s"(measured 0.733; flat $rFlat)")
    // Determinism: a second run is byte-identical.
    val again = recall(Round14.q414AnnIvfHier.fn(spark, dir))
    assert(again === rHier)
  }

  // -------------------------------------------------------------------
  // q412: component-grain incremental LPA
  // -------------------------------------------------------------------

  /** Independent deterministic 4-round LPA: plain maps, synchronous
    * updates, (max count, min label) tie-break. */
  private def refLpa4(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var l = adj.keySet.map(n => n -> n).toMap
    for (_ <- 1 to 4) {
      l = adj.map { case (n, zs) =>
        val counts = zs.groupBy(l).view.mapValues(_.size).toMap
        n -> counts.toSeq.minBy { case (lbl, c) => (-c, lbl) }._1
      }
    }
    l
  }

  test("q412: component-grain incremental LPA equals the independent " +
    "4-round reference, and the generic fold scans only touched edges") {
    val dir = dirFor("lpafix")
    // Two communities bridged weakly + an untouched far component; the
    // (u+v) % 5 split puts (1,4) and (2,3) in the delta.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (5L, 7L), (6L, 7L),
      (20L, 21L), (20L, 22L), (21L, 22L))
    lineitemFor(edges.map(e => (e._1, e._2, 2L)), dir)
    val got = Round14.q412LpaIncremental.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === refLpa4(edges))
    // The generic fold reuses core3's machinery; assert the touched-only
    // scan holds for the LPA kernel too, on the same planted shape.
    val day1 = edges.filter(e => (e._1 + e._2) % 5 != 0).toDF("u", "v")
    val delta = edges.filter(e => (e._1 + e._2) % 5 == 0).toDF("u", "v")
    val labels = Fuzzy.resolveClusters(spark,
      day1.select(col("u").as("doc_a"), col("v").as("doc_b")))
      .select(col("doc_id").as("n"), col("cluster_id").as("lab"))
    val stored = Graph.lpa(day1, count(lit(1)))
    val (_, _, scanned) = Round14.componentFold(
      labels, stored, day1, delta)(Graph.lpa(_, count(lit(1))))
    val scannedSet = scanned.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(scannedSet.forall { case (u, _) => u < 20L },
      s"untouched component rescanned: $scannedSet")
  }

  // -------------------------------------------------------------------
  // q408: textbook integer trigram-KN reference
  // -------------------------------------------------------------------

  /** Independent trigram-KN scorer: plain Scala maps, Long floor
    * divisions, the interpolated chain from the definition. */
  private def refKnTrigramPerDoc(docs: Seq[(Long, String)])
      : Seq[(Long, Long, Long)] = {
    val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }
    val train = toks.filter(_._1 % 2 == 0)
    val triOf = (ws: Seq[String]) =>
      if (ws.length < 3) Seq.empty
      else ws.sliding(3).map(t => (t(0), t(1), t(2))).toSeq
    val bgOf = (ws: Seq[String]) =>
      if (ws.length < 2) Seq.empty else ws.zip(ws.tail)
    val c3 = train.flatMap(d => triOf(d._2)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val c12 = c3.groupBy { case ((a, b, _), _) => (a, b) }
      .view.mapValues(m => (m.values.sum, m.size.toLong)).toMap
    val cont23 = c3.keys.groupBy { case (_, b, c) => (b, c) }
      .view.mapValues(_.size.toLong).toMap
    val mid2 = cont23.groupBy(_._1._1)
      .view.mapValues(m => (m.values.sum, m.size.toLong)).toMap
    val c2b = train.flatMap(d => bgOf(d._2)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val nb = c2b.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n1all = c2b.size.toLong
    val v = train.flatMap(_._2).toSet.size.toLong
    toks.filter(_._1 % 2 == 1).collect {
      case (id, ws) if ws.length >= 3 =>
        val nll = triOf(ws).map { case (w1, w2, w3) =>
          val pc = (nb.getOrElse(w3, 0L) + 1) * 1000000000L / (n1all + v)
          val p2 = mid2.get(w2) match {
            case Some((m2, n2f)) =>
              val n1c = cont23.getOrElse((w2, w3), 0L)
              math.max(
                math.max(4 * n1c - 3, 0L) * 1000000000L / (4 * m2)
                  + (3 * n2f * 1000000000L / (4 * m2) * pc) / 1000000000L,
                1L)
            case None => math.max(pc, 1L)
          }
          val p = c12.get((w1, w2)) match {
            case Some((cc, n3f)) =>
              val cv = c3.getOrElse((w1, w2, w3), 0L)
              math.max(
                math.max(4 * cv - 3, 0L) * 1000000000L / (4 * cc)
                  + (3 * n3f * 1000000000L / (4 * cc) * p2) / 1000000000L,
                1L)
            case None => p2
          }
          lnNano(1000000000L) - lnNano(p)
        }
        (id, nll.size.toLong, nll.sum / nll.size)
    }
  }

  private val lmVocab = Vector("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta", "iota", "kappa", "mu", "nu")

  private def lmDocs(seed: Int, n: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    (1L to n.toLong).map { id =>
      val len = 4 + rnd.nextInt(10)
      (id, Seq.fill(len)(lmVocab(rnd.nextInt(lmVocab.size))).mkString(" "))
    }
  }

  test("q408: registry trigram-KN equals the textbook integer scorer") {
    val docs = lmDocs(408, 60)
    val dir = dirFor("kn3fix")
    docsFor(docs, dir)
    val want = refKnTrigramPerDoc(docs)
      .sortBy { case (id, _, s) => (-s, id) }.take(15)
      .zipWithIndex.map { case ((id, nt, s), i) => (i + 1L, id, nt, s) }
    val got = Round14.q408KneserNeyTrigram.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === want)
  }

  // -------------------------------------------------------------------
  // q409: independent both-smoothers audit
  // -------------------------------------------------------------------

  /** q406's bigram-KN per-doc NLL from the definition. */
  private def refKnBigramPerDoc(docs: Seq[(Long, String)])
      : Map[Long, Long] = {
    val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }
    val train = toks.filter(_._1 % 2 == 0)
    val c2 = train.flatMap(d =>
      if (d._2.length < 2) Seq.empty else d._2.zip(d._2.tail))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = c2.groupBy(_._1._1)
      .view.mapValues(m => (m.values.sum, m.size.toLong)).toMap
    val nb = c2.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n1all = c2.size.toLong
    val v = train.flatMap(_._2).toSet.size.toLong
    toks.filter(_._1 % 2 == 1).collect {
      case (id, ws) if ws.length >= 2 =>
        val nll = ws.zip(ws.tail).map { case (w1, w2) =>
          val pcont = (nb.getOrElse(w2, 0L) + 1) * 1000000000L / (n1all + v)
          val p = c1.get(w1) match {
            case Some((cc, n1f)) =>
              val cv = c2.getOrElse((w1, w2), 0L)
              math.max(
                math.max(4 * cv - 3, 0L) * 1000000000L / (4 * cc)
                  + (3 * n1f * 1000000000L / (4 * cc) * pcont)
                      / 1000000000L,
                1L)
            case None => math.max(pcont, 1L)
          }
          lnNano(1000000000L) - lnNano(p)
        }
        id -> nll.sum / nll.size
    }.toMap
  }

  /** q391's add-one per-doc NLL from the definition. */
  private def refAddOnePerDoc(docs: Seq[(Long, String)]): Map[Long, Long] = {
    val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }
    val train = toks.filter(_._1 % 2 == 0)
    val c2 = train.flatMap(d =>
      if (d._2.length < 2) Seq.empty else d._2.zip(d._2.tail))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = c2.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val v = train.flatMap(_._2).toSet.size.toLong
    toks.filter(_._1 % 2 == 1).collect {
      case (id, ws) if ws.length >= 2 =>
        val nll = ws.zip(ws.tail).map { bg =>
          lnNano(c1.getOrElse(bg._1, 0L) + v) -
            lnNano(c2.getOrElse(bg, 0L) + 1)
        }
        id -> nll.sum / nll.size
    }.toMap
  }

  test("q409: disagreement audit equals the independent pipeline and is " +
    "non-empty on a corpus with more held-out docs than K") {
    // > 2·K docs so the worst-K lists are real cuts, not whole sets.
    // Seed picked by scan: 411 is the first giving a 4-row symmetric
    // difference under this generator (most seeds give 2; some give 0,
    // which would gate nothing).
    val docs = lmDocs(411, 160)
    val dir = dirFor("disagreefix")
    docsFor(docs, dir)
    val kn = refKnBigramPerDoc(docs)
    val ao = refAddOnePerDoc(docs)
    def worstK(m: Map[Long, Long]): Map[Long, Long] =
      m.toSeq.sortBy { case (id, s) => (-s, id) }
        .take(Round14.DisagreeK)
        .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val krm = worstK(kn)
    val arm = worstK(ao)
    val want = (krm.keySet ++ arm.keySet)
      .filter(id => krm.contains(id) ^ arm.contains(id)).toSeq.sorted
      .map { id =>
        (if (krm.contains(id)) "kn_only" else "addone_only", id,
          krm.get(id), arm.get(id), kn(id), ao(id))
      }
      .sortBy { case (f, id, _, _, _, _) => (f, id) }
    assert(want.nonEmpty, "fixture produced no disagreement — reseed")
    val got = Round14.q409SmootherDisagreement.fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === want)
  }

  // -------------------------------------------------------------------
  // q410: independent iterated-Luby coloring
  // -------------------------------------------------------------------

  private def refColoring(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val hex = "0123456789abcdef"
    def prio(iter: Int, n: Long): Long = {
      val d = md5hex(s"$iter#$n")
      (0 until 7).map(i => hex.indexOf(d(i)).toLong << (4 * (6 - i))).sum
    }
    val adj = edges.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var uncolored = adj.keySet
    val colors = scala.collection.mutable.Map.empty[Long, Long]
    var iter = 0
    while (uncolored.nonEmpty) {
      iter += 1
      var und = uncolored
      val mis = scala.collection.mutable.Set.empty[Long]
      while (und.nonEmpty) {
        val win = und.filter { n =>
          val p = (prio(iter, n), n)
          (adj(n) & und).forall(m => Ordering[(Long, Long)]
            .lt((prio(iter, m), m), p))
        }
        mis ++= win
        und = und -- win -- win.flatMap(w => adj(w) & und)
      }
      mis.foreach(n => colors(n) = iter.toLong)
      uncolored = uncolored -- mis
    }
    colors.toMap
  }

  test("q410: exact color table vs the independent iterated-Luby; every " +
    "class is an independent set and colors are contiguous") {
    val dir = dirFor("colorfix")
    // A K4 (forces ≥ 4 colors... actually ≥ 2 per MIS structure), two
    // triangles sharing a node, a path, and an isolated edge — enough
    // structure for 3+ iterations.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (5L, 7L), (8L, 9L),
      (9L, 10L), (10L, 11L), (20L, 21L))
    lineitemFor(edges.map(e => (e._1, e._2, 2L)), dir)
    val got = Round14.q410LubyColoring.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = refColoring(edges)
    assert(got === want)
    // Validity: no monochrome edge; colors contiguous from 1; a K4
    // needs ≥ 3 colors under ANY iterated-MIS schedule (each class is
    // independent, a K4 class holds ≤ 1 of its 4 nodes... ≥ 4 in fact).
    edges.foreach { case (u, v) =>
      assert(got(u) != got(v), s"edge ($u,$v) monochrome") }
    val used = got.values.toSet
    assert(used === (1L to used.max).toSet)
    assert(Seq(1L, 2L, 3L, 4L).map(got).toSet.size === 4)
  }

  test("q410 and q405 empty-graph guards: a support-starved corpus " +
    "yields zero rows, not a reduce crash") {
    val dir = dirFor("emptygraph")
    // Every pairing occurs once — below the support-2 floor, so the
    // edge set is EMPTY.
    lineitemFor(Seq((1L, 2L, 1L), (3L, 4L, 1L)), dir)
    assert(Round14.q410LubyColoring.fn(spark, dir).count() === 0L)
    assert(Round13.q405LubyMis.fn(spark, dir).count() === 0L)
  }
}
