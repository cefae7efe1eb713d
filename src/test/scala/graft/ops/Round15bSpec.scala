package graft.ops

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-15 batch-3 kernels vs independent Scala references. The q436
  * reference recomputes per-community modularity from scratch with
  * BigInt arithmetic; the q437 reference validates the algebraic
  * move-gain SHORTCUT by literally re-evaluating whole-partition
  * modularity before/after each candidate move (the strongest possible
  * check of the ΔQ bookkeeping); the q438 reference replays the integer
  * mass iteration sequentially with the same truncation discipline.
  */
class Round15bSpec extends SparkSpec {
  import spark.implicits._

  private val root = Paths.get("target", "tmp",
    s"r15b-${java.util.UUID.randomUUID().toString.take(8)}").toAbsolutePath

  private def dirFor(name: String): String = {
    val d = root.resolve(name)
    Files.createDirectories(d)
    d.toString
  }

  /** Edge (u, v, w) → w orders each holding parts {u, v}: the support-2
    * graph then contains exactly the w ≥ 2 edges with weight w. */
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

  /** Whole-partition modularity numerator Q·4W² plus the per-community
    * decomposition, from scratch over (edges, labels). */
  private def refModularity(edges: Seq[(Long, Long, Long)],
      labels: Map[Long, Long])
      : (BigInt, Map[Long, (Long, Long, Long, BigInt)]) = {
    val ww = BigInt(edges.map(_._3).sum)
    val strength = edges.flatMap { case (u, v, w) => Seq(u -> w, v -> w) }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).sum }
    val byComm = labels.groupBy(_._2).map { case (c, m) =>
      val nodes = m.keySet
      val inW = edges.filter(e => nodes(e._1) && nodes(e._2)).map(_._3).sum
      val degW = nodes.toSeq.map(strength.getOrElse(_, 0L)).sum
      val qnum = 4 * ww * inW - BigInt(degW) * degW
      c -> (nodes.size.toLong, inW, degW, qnum)
    }
    (byComm.values.map(_._4).sum, byComm)
  }

  test("q436 rows match a from-scratch BigInt modularity computation " +
    "on a two-clique fixture") {
    val dir = dirFor("modularity")
    // Two K4 communities with heavy internal weight, one light bridge.
    val k4a = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .map { case (u, v) => (u, v, 3L) }
    val k4b = Seq((11L, 12L), (11L, 13L), (11L, 14L), (12L, 13L),
      (12L, 14L), (13L, 14L)).map { case (u, v) => (u, v, 3L) }
    val edges = k4a ++ k4b ++ Seq((4L, 11L, 2L))
    lineitemFor(edges, dir)
    val labels = Graph.lpa(Graph.coPurchaseEdges(spark, dir), sum(col("w")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (qnumTotal, byComm) = refModularity(edges, labels)
    val ww = BigInt(edges.map(_._3).sum)
    val qden = 4 * ww * ww
    val got = Round15b.q436Modularity.fn(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // Whole-partition row: Q·4W² / 4W² in ppm, truncated toward zero.
    // in_w totals INTERNAL weight only — the bridge edge is nobody's.
    assert(got(-1L) === ((labels.size.toLong, byComm.values.map(_._2).sum,
      2 * edges.map(_._3).sum, (qnumTotal * 1000000 / qden).toLong)))
    byComm.foreach { case (c, (n, inW, degW, qnum)) =>
      assert(got(c) === ((n, inW, degW, (qnum * 1000000 / qden).toLong)),
        s"community $c")
    }
    // The heavy-clique partition is genuinely good: Q > 0.3.
    assert(got(-1L)._4 > 300000L)
  }

  test("q437 move gains equal literal before/after whole-partition " +
    "modularity re-evaluation, and the planted misfit's move tops the list") {
    val dir = dirFor("louvain")
    // Heavy K4 {1..4} bridged via node 20 into light triangle
    // {11,12,13}: label 1's sweep through the bridge strands node 11
    // carrying label 1 while its triangle partners hold label 4 — a
    // genuine LPA artifact (verified by simulating the vote dynamics)
    // that modularity strictly wants undone. The gain surface must
    // flag 11's repatriation AND the bridge node's own move.
    val k4a = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).map { case (u, v) => (u, v, 3L) }
    val triB = Seq((11L, 12L, 2L), (11L, 13L, 2L), (12L, 13L, 2L))
    val edges = k4a ++ triB ++ Seq((4L, 20L, 4L), (20L, 11L, 2L),
      (20L, 12L, 2L))
    lineitemFor(edges, dir)
    val labels = Graph.lpa(Graph.coPurchaseEdges(spark, dir), sum(col("w")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (qnum0, _) = refModularity(edges, labels)
    // Brute force: every node × every neighboring community, gain by
    // re-evaluating the whole partition after the move.
    val neighComms = edges.flatMap { case (u, v, _) =>
      Seq(u -> labels(v), v -> labels(u)) }.distinct
    val brute = neighComms.filter { case (n, c) => labels(n) != c }
      .map { case (n, c) =>
        val (qnum1, _) = refModularity(edges, labels.updated(n, c))
        (n, c, qnum1 - qnum0)
      }
    val bestByNode = brute.groupBy(_._1).map { case (n, xs) =>
      n -> xs.minBy { case (_, c, g) => (-g, c) }
    }
    val expected = bestByNode.values.filter(_._3 > 0).toSeq
      .sortBy { case (n, _, g) => (-g, n) }
    val got = Round15b.q437LouvainGain.fn(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(3), BigInt(r.getLong(4))))
    assert(got.toSeq === expected.map { case (n, c, g) => (n, c, g) })
    assert(got.nonEmpty, "the planted misfit must yield a positive gain")
  }

  /** Sequential replay of q438's integer mass iteration (same Long
    * truncation points: per-edge (r·w) div sw, then (85·Σ) div 100). */
  private def refPpr(edges: Seq[(Long, Long, Long)])
      : (Seq[(Long, Long, Long)], Set[Long]) = {
    val sym = edges ++ edges.map { case (u, v, w) => (v, u, w) }
    val sw = sym.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._3).sum }
    val seeds = sw.toSeq.sortBy { case (n, s) => (-s, n) }.take(8)
      .map(_._1).toSet
    val base = 1000000000000L / seeds.size
    val jump = 15L * base / 100L
    var r: Map[Long, Long] = seeds.map(_ -> base).toMap
    for (_ <- 1 to 3) {
      val prop = sym.flatMap { case (u, v, w) =>
        r.get(u).map(ru => v -> (ru * w / sw(u)))
      }.groupBy(_._1).map { case (v, xs) => v -> 85L * xs.map(_._2).sum / 100L }
      r = (prop.toSeq ++ seeds.toSeq.map(_ -> jump))
        .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).sum }
    }
    val top = r.toSeq.sortBy { case (n, m) => (-m, n) }.take(20)
      .zipWithIndex.map { case ((n, m), i) => (i + 1L, n, m) }
    (top, seeds)
  }

  test("q438 equals a sequential integer-mass replay and concentrates " +
    "rank on the seed neighborhood") {
    val dir = dirFor("ppr")
    // A heavy hub (spokes w=5 so the seed set is hub-only) + a chain
    // hanging off spoke 9: mass reaches the chain only by propagation.
    val hub = (2L to 9L).map(i => (1L, i, 5L))
    val chain = Seq((30L, 31L, 2L), (31L, 32L, 2L), (32L, 33L, 2L),
      (9L, 30L, 2L))
    val edges = hub ++ chain
    lineitemFor(edges, dir)
    val (expTop, seeds) = refPpr(edges)
    val got = Round15b.q438Ppr.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(t => (t._1, t._2, t._3)).toSeq === expTop)
    got.foreach { case (_, n, _, isSeed) =>
      assert(isSeed === (if (seeds(n)) 1L else 0L), s"node $n seed flag")
    }
    // Teleportation bites: the hub anchor (seed, and every spoke's
    // propagation target) holds rank 1, and rank decays along the
    // chain away from the seeds.
    assert(got.head._2 === 1L)
    val posOf = got.map(t => t._2 -> t._1).toMap
    for (a <- posOf.get(30L); b <- posOf.get(33L)) assert(a < b)
  }

  /** BigInt replay of the q439 power iteration (same truncation points)
    * over quantized vectors. */
  private def refPca(vecs: Seq[(Long, Array[Float])])
      : (Map[Long, Long], Long) = {
    val q = vecs.map { case (_, a) =>
      a.map(x => math.round(x.toDouble * 1000)) }
    val d = q.head.length
    val c = Array.ofDim[BigInt](d, d)
    for (i <- 0 until d; j <- 0 until d)
      c(i)(j) = q.map(v => BigInt(v(i)) * v(j)).sum
    var v = Array.tabulate(d)(i => BigInt(if (i == 0) 1000000 else 0))
    for (_ <- 1 to 4) {
      val s = Array.tabulate(d)(i =>
        (0 until d).map(j => c(i)(j) * v(j)).sum)
      val m = s.map(_.abs).max.max(BigInt(1))
      v = s.map(x => x * 1000000 / m)
    }
    val cv = Array.tabulate(d)(i => (0 until d).map(j => c(i)(j) * v(j)).sum)
    val num = (0 until d).map(i => v(i) * cv(i)).sum
    val den = (0 until d).map(i => v(i) * v(i)).sum.max(BigInt(1))
    ((0 until d).map(i => i.toLong -> v(i).toLong).toMap,
      (num / den).toLong)
  }

  test("q439/q440 recover a planted dominant axis, match a BigInt " +
    "replay, and the projection separates the sign-split labels") {
    val dir = dirFor("pca")
    // 40 64-dim vectors: ±0.9 along axis 7 (sign by parity → label),
    // small deterministic off-axis noise. Dominant eigendirection ≈ e₇.
    val vecs = (0L until 40L).map { id =>
      val a = Array.tabulate(64)(i =>
        (((id * 31 + i * 17) % 13).toFloat - 6f) / 100f)
      a(7) = if (id % 2 == 0) 0.9f else -0.9f
      (id, a)
    }
    vecs.map { case (id, a) => (id, a.toSeq, (id % 2).toInt) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val (refV, refLam) = refPca(vecs)
    val got = Round15b.q439PcaPower.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(t => t._1 -> t._2).toMap === refV)
    got.foreach(t => assert(t._3 === refLam))
    // The planted axis dominates: |v₇| = 10⁶ and no other dim comes close.
    val byDim = got.map(t => t._1 -> math.abs(t._2)).toMap
    assert(byDim(7L) === 1000000L)
    byDim.filter(_._1 != 7L).values.foreach(m => assert(m < 500000L))
    // Projection: the even/odd labels sit on opposite sides of 0.
    val proj = Round15b.q440PcaProject.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(proj(0L)._1 === 20L)
    assert(proj(1L)._1 === 20L)
    assert(proj(0L)._2.sign === -proj(1L)._2.sign)
    assert(proj(0L)._2 != 0L)
  }

  test("q441 entropy bands: constant text scores 0/low, 40 distinct " +
    "chars score ln40/high, and h_nano tracks IEEE entropy to nano slack") {
    val dir = dirFor("entropy")
    val distinct40 =
      "abcdefghijklmnopqrstuvwxyz0123456789+-*/"
    val docs = Seq(
      (1L, "aaaaaaaaaa", "en", "s1", 10L),
      (2L, distinct40, "en", "s1", 40L),
      (3L, "the quick brown fox jumps over the lazy dog", "en", "s2", 44L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Round15b.q441CharEntropy.fn(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    docs.foreach { case (id, text, _, _, _) =>
      val counts = text.groupBy(identity).view.mapValues(_.length.toLong)
      val n = text.length.toLong
      val h = math.log(n.toDouble) -
        counts.values.map(c => c * math.log(c.toDouble)).sum / n
      val (gn, gd, gh, _) = got(id)
      assert(gn === n); assert(gd === counts.size.toLong)
      assert(math.abs(gh - math.round(h * 1e9)) <= 10L, s"doc $id")
    }
    assert(got(1L)._3 === 0L)
    assert(got(1L)._4 === "low")
    assert(got(2L)._4 === "high") // ln 40 > ln 32
    assert(got(3L)._4 === "mid")
  }

  test("q442 mixing: sqrt damping up-weights tail strata exactly") {
    val dir = dirFor("mixing")
    val docs = (1L to 16L).map(i => (i, "x", "en", "s1")) ++
      (17L to 20L).map(i => (i, "x", "en", "s2")) ++
      Seq((21L, "x", "de", "s3"))
    docs.map { case (id, t, l, src) => (id, t, l, src, 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Round15b.q442SourceMixing.fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7))).toMap
    // n: 16/4/1 → wgt 4/2/1, tw = 7, td = 21, epoch = 100000.
    assert(got(("s1", "en"))._2 === 4L)
    assert(got(("s2", "en"))._2 === 2L)
    assert(got(("s3", "de"))._2 === 1L)
    assert(got(("s1", "en"))._4 === 4000000L / 7)   // share_ppm
    assert(got(("s3", "de"))._4 === 1000000L / 7)
    assert(got(("s1", "en"))._3 === 16000000L / 21) // raw_ppm
    // Damping: head stratum share < raw share, tail share > raw share.
    assert(got(("s1", "en"))._4 < got(("s1", "en"))._3)
    assert(got(("s3", "de"))._4 > got(("s3", "de"))._3)
    // Quota and upsample: w·E // tw, then ×10⁶ // n.
    val q1 = 4L * 100000L / 7L
    assert(got(("s1", "en"))._5 === q1)
    assert(got(("s1", "en"))._6 === q1 * 1000000L / 16L)
    val q3 = 1L * 100000L / 7L
    assert(got(("s3", "de"))._6 === q3 * 1000000L / 1L)
  }

  /** Brute-force sequential-pattern reference over (user, day) sessions
    * (first-occurrence order, strict <, 5% support, Apriori 3-level). */
  private def refSeqPatterns(evs: Seq[(Long, Long, String)])
      : Seq[(String, Long, Long, Long)] = {
    val sess = evs.groupBy { case (u, ns, _) =>
      (u, ns / 1000000000L / 86400L) }
    val firsts = sess.view.mapValues(_.groupBy(_._3).view
      .mapValues(_.map(_._2).min).toMap).toMap
    val nSess = sess.size.toLong
    val types = evs.map(_._3).distinct
    def supp2(a: String, b: String): Long = firsts.values.count(f =>
      f.contains(a) && f.contains(b) && f(a) < f(b)).toLong
    val p2 = (for (a <- types; b <- types if a != b) yield
      (a, b, supp2(a, b))).filter(_._3 > 0)
    val f2 = p2.filter(_._3 * 20 >= nSess)
    val f2set = f2.map(t => (t._1, t._2)).toSet
    val o2 = f2.map { case (a, b, s) =>
      val rev = p2.find(t => t._1 == b && t._2 == a).map(_._3).getOrElse(0L)
      (s"$a>$b", 2L, s, s * 1000000L / (s + rev))
    }
    val o3 = (for {
      a <- types; b <- types; c <- types
      if a != b && b != c && a != c
      if f2set((a, b)) && f2set((b, c))
    } yield {
      val s = firsts.values.count(f => f.contains(a) && f.contains(b) &&
        f.contains(c) && f(a) < f(b) && f(b) < f(c)).toLong
      (s"$a>$b>$c", 3L, s, -1L)
    }).filter(t => t._3 > 0 && t._3 * 20 >= nSess)
    (o2 ++ o3).sortBy { case (p, l, s, _) => (l, -s, p) }
  }

  test("q443 equals a brute-force GSP reference on planted sessions") {
    val dir = dirFor("seqpat")
    def ns(min: Long): Long = min * 60L * 1000000000L
    // 10 sessions click→view→purchase, one view→click, one click-only —
    // direction share for click>view must be 10/(10+1).
    val evs = (1L to 10L).flatMap { u =>
      Seq((u, ns(u), "click"), (u, ns(u + 100), "view"),
        (u, ns(u + 200), "purchase"))
    } ++ Seq((11L, ns(5), "view"), (11L, ns(50), "click"),
      (12L, ns(9), "click"))
    evs.zipWithIndex.map { case ((u, t, ty), i) =>
      (i.toLong, t, u, ty, 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val expected = refSeqPatterns(evs)
    val got = Round15b.q443SeqPatterns.fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === expected)
    val dirShare = got.find(_._1 == "click>view").get._4
    assert(dirShare === 10000000L / 11L)
  }

  test("q445 stationary mix: a symmetric 2-cycle converges to 50/50 " +
    "even when the observed mix is skewed") {
    val dir = dirFor("stationary")
    def ns(min: Long): Long = min * 60L * 1000000000L
    // One session alternating a b a b a: observed 3/2 but the chain
    // a↔b is symmetric, so the stationary mix is exactly 50/50.
    val evs = Seq("a", "b", "a", "b", "a").zipWithIndex.map {
      case (t, i) => (i.toLong, ns(i.toLong), 1L, t, 0.0, "{}") }
    evs.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Round15b.q445StationaryMix.fn(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got("a")._1 === 3L)
    assert(got("a")._2 === 600000L)
    assert(got("a")._3 === 500000L)
    assert(got("b")._3 === 500000L)
    assert(got("a")._4 === -100000L)
    assert(got("b")._4 === 100000L)
  }

  /** Long replay of q446's FPS recurrence over quantized vectors. */
  private def refFps(vecs: Seq[(Long, Array[Float])])
      : Seq[(Long, Long, Long)] = {
    val q = vecs.map { case (id, a) =>
      id -> a.map(x => math.round(x.toDouble * 1000)) }.toMap
    def d2(a: Long, b: Long): Long =
      q(a).zip(q(b)).map { case (x, y) => (x - y) * (x - y) }.sum
    val s1 = vecs.map(_._1).min
    var md = vecs.map { case (id, _) => id -> d2(id, s1) }.toMap
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)](
      (1L, s1, -1L))
    for (k <- 2 to 8) {
      val (sid, r) = md.toSeq.minBy { case (id, d) => (-d, id) }
      out += ((k.toLong, sid, r))
      md = md.map { case (id, d) => id -> math.min(d, d2(id, sid)) }
    }
    out.toSeq
  }

  test("q446 FPS selects the planted extremes in order and matches a " +
    "sequential replay; the coverage radius never grows") {
    val dir = dirFor("fps")
    // 1-D geometry in dim 0: positions 0, 1, 2, …, 7, 1000, -1000, 500.
    // Seed = min id (pos 0); then ±1000 must be picked before anything
    // in the dense head.
    val posn = Seq(0f, 0.001f, 0.002f, 0.003f, 0.004f, 0.005f, 0.006f,
      0.007f, 1f, -1f, 0.5f)
    val vecs = posn.zipWithIndex.map { case (p, i) =>
      val a = Array.fill(64)(0f); a(0) = p; (i.toLong, a) }
    vecs.map { case (id, a) => (id, a.toSeq, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val expected = refFps(vecs)
    val got = Round15b.q446CoresetFps.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(got.toSeq === expected)
    // The two ±1000-milli outliers are chosen first (ids 8 and 9).
    assert(got.slice(1, 3).map(_._2).toSet === Set(8L, 9L))
    // Coverage radius is nonincreasing from pos 2 on.
    got.drop(1).map(_._3).toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(a >= b); case _ => }
  }

  test("q447 novelty: identical twins score 0/dup_heavy, a unique doc " +
    "scores 10^6/ok, and a half-shared doc lands in between") {
    val dir = dirFor("novelty")
    val shared = "the shared boilerplate block of text here"
    val uniq = "zqxwvutsrqponmlkjihgfedcba0987654321!@#$%"
    val docs = Seq(
      (1L, shared, "en", "s1"),
      (2L, shared, "en", "s1"),
      (3L, uniq, "en", "s2"),
      (4L, shared + "|only doc four carries this private tail segment",
        "en", "s2"))
    docs.map { case (id, t, l, src) => (id, t, l, src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // Independent reference: exact distinct-8-gram sharing.
    val grams = docs.map { case (id, t, _, _) =>
      id -> t.sliding(8).toSet }.toMap
    val got = Round15b.q447NgramNovelty.fn(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    docs.foreach { case (id, _, _, _) =>
      val mine = grams(id)
      val shared = mine.count(g =>
        grams.exists { case (o, gs) => o != id && gs(g) })
      val (gn, gs, gp, _) = got(id)
      assert(gn === mine.size.toLong, s"doc $id n_grams")
      assert(gs === shared.toLong, s"doc $id n_shared")
      assert(gp === (mine.size - shared).toLong * 1000000L / mine.size)
    }
    assert(got(1L)._3 === 0L && got(1L)._4 === "dup_heavy")
    assert(got(3L)._3 === 1000000L && got(3L)._4 === "ok")
    assert(got(4L)._3 > 0L && got(4L)._3 < 1000000L)
  }

  /** Brute-force SCC by transitive closure (the oracle's definition,
    * re-implemented in-heap): scc_id = min over mutual-reach set. */
  private def refScc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val reach = scala.collection.mutable.Set.empty[(Long, Long)]
    edges.foreach(reach += _)
    var grew = true
    while (grew) {
      val add = for ((a, b) <- reach.toSeq; (c, d) <- reach.toSeq
        if b == c && !reach((a, d))) yield (a, d)
      grew = add.nonEmpty
      add.foreach(reach += _)
    }
    nodes.map { n =>
      val mutual = nodes.filter(m => reach((n, m)) && reach((m, n)))
      n -> (mutual :+ n).min
    }.toMap
  }

  test("q448 kernels: driver Tarjan == forced-distributed peeling == " +
    "closure reference on a planted multi-SCC graph") {
    // Two cycles bridged into a chain plus a tail: SCCs {1,2,3},
    // {10,11}, {20}, {30}; condensation depth 0 → 1 → 2 → 3.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 10L), (10L, 11L),
      (11L, 10L), (11L, 20L), (20L, 30L))
    val ref = refScc(edges)
    assert(ref(1L) === 1L && ref(2L) === 1L && ref(3L) === 1L)
    assert(ref(10L) === 10L && ref(11L) === 10L && ref(20L) === 20L)
    val eDf = edges.toDF("u", "v")
    val driver = Round15b.sccLabels(spark, eDf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Round15b.sccLabels(spark, eDf, driverMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(driver === ref)
    assert(dist === ref)
    // Depth tiers agree too (condensation of the planted graph).
    val scc = driver
    val ce = edges.map { case (u, v) => (scc(u), scc(v)) }
      .filter(p => p._1 != p._2).distinct
    val comps = scc.values.toSeq.distinct.map(Tuple1(_)).toDF("c")
    val ceDf = ce.toDF("src", "dst")
    val dDriver = Round15b.condensationDepth(spark, comps, ceDf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dDist = Round15b.condensationDepth(spark, comps, ceDf,
      driverMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dDriver === Map(1L -> 0L, 10L -> 1L, 20L -> 2L, 30L -> 3L))
    assert(dDist === dDriver)
  }

  /** Directed edge (u, v) × w → w customers, each with two one-part
    * orders [u] then [v] (date ties broken by orderkey): seqEdges
    * recovers exactly the w ≥ 2 edges. */
  private def seqFixture(edges: Seq[(Long, Long, Long)], dir: String): Unit = {
    var cust = 0L
    var ord = 0L
    val orders = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, java.sql.Date)]
    val items = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val d = java.sql.Date.valueOf("1995-06-01")
    edges.foreach { case (u, v, w) =>
      (1L to w).foreach { _ =>
        cust += 1
        ord += 1; orders += ((cust, ord, d)); items += ((ord, u))
        ord += 1; orders += ((cust, ord, d)); items += ((ord, v))
      }
    }
    orders.toSeq.toDF("o_custkey", "o_orderkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    items.toSeq.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  test("q448/q449 registry queries recover planted cycles and layer the " +
    "condensation through the order-sequence build") {
    val dir = dirFor("scc")
    // w=2 everywhere (support gate); one w=1 edge that must be dropped.
    val edges = Seq((1L, 2L, 2L), (2L, 3L, 2L), (3L, 1L, 2L),
      (3L, 10L, 2L), (10L, 11L, 2L), (11L, 10L, 2L), (11L, 20L, 2L),
      (20L, 30L, 1L))
    seqFixture(edges, dir)
    val got = Round15b.q448Scc.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = refScc(edges.filter(_._3 >= 2).map(e => (e._1, e._2)))
    assert(got === ref)
    assert(!got.contains(30L), "support-1 edge must not admit node 30")
    val dep = Round15b.q449CondensationDepth.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // Depth 0: {1,2,3}; depth 1: {10,11}; depth 2: {20}.
    assert(dep.toSeq === Seq((0L, 1L, 3L), (1L, 1L, 2L), (2L, 1L, 1L)))
  }

  /** Brute-force motif census by subset enumeration. */
  private def refMotifs(edges: Seq[(Long, Long)])
      : (Long, Long, Long, Long, Long) = {
    val es = edges.map { case (u, v) => (math.min(u, v), math.max(u, v)) }
      .toSet
    val nodes = es.toSeq.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    def adj(a: Long, b: Long) = es((math.min(a, b), math.max(a, b)))
    val deg = nodes.map(n => n -> nodes.count(m => m != n && adj(n, m))).toMap
    val wedges = deg.values.map(d => d.toLong * (d - 1) / 2).sum
    val tris = nodes.combinations(3).count { case Seq(a, b, c) =>
      adj(a, b) && adj(b, c) && adj(a, c) }
    val quads = nodes.combinations(4).toSeq
    val k4 = quads.count { case Seq(a, b, c, d) =>
      adj(a, b) && adj(a, c) && adj(a, d) && adj(b, c) && adj(b, d) &&
        adj(c, d) }
    // 4-cycles: 3 pairings per vertex set, one cycle per pairing whose
    // two "diagonal" pairs are the non-adjacent-in-cycle ones.
    val c4 = quads.map { case Seq(a, b, c, d) =>
      Seq((a, b, c, d), (a, c, b, d), (a, b, d, c)).count {
        case (p, q, r, s) =>
          // cycle p-q-r-s-p
          adj(p, q) && adj(q, r) && adj(r, s) && adj(s, p)
      }.toLong
    }.sum
    (es.size.toLong, wedges, tris.toLong, c4, k4.toLong)
  }

  test("q450 census equals subset enumeration on a K4-plus-square " +
    "fixture") {
    val dir = dirFor("motifs")
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L))
    val square = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L))
    val edges = (k4 ++ square ++ Seq((4L, 10L))).map(e => (e._1, e._2, 2L))
    lineitemFor(edges, dir)
    val (re, rw, rt, rs, rk) = refMotifs(edges.map(e => (e._1, e._2)))
    assert((rt, rs, rk) === ((4L, 4L, 1L))) // K4: 4 tris + 3 C4s; +1 square
    val got = Round15b.q450MotifCensus.fn(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("a_edges") === re)
    assert(got("b_wedges") === rw)
    assert(got("c_triangles") === rt)
    assert(got("d_squares") === rs)
    assert(got("e_k4") === rk)
  }

  test("q451 a perfect 24/rank corpus fits slope -1 with r2 = 1") {
    val dir = dirFor("zipf")
    // Token counts 24/12/8/6 = 24/rank for ranks 1..4.
    val text = (Seq.fill(24)("aa") ++ Seq.fill(12)("bb") ++
      Seq.fill(8)("cc") ++ Seq.fill(6)("dd")).mkString(" ")
    Seq((1L, text, "en", "s1", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Round15b.q451ZipfFit.fn(spark, dir).collect().head
    assert(r.getLong(0) === 4L)
    assert(r.getDouble(1) === -1.0)     // slope
    assert(r.getDouble(3) === 1.0)      // r2
    assert(math.abs(r.getDouble(2) - math.log(24.0)) < 1e-5) // ln_c
  }

  test("q452 classifies planted persisting/vanished/emerged edges and " +
    "ranks swings by magnitude") {
    val dir = dirFor("churn")
    // (edge, early support, late support)
    val plan = Seq((1L, 2L, 3L, 3L), (3L, 4L, 2L, 0L), (5L, 6L, 0L, 2L),
      (7L, 8L, 1L, 1L)) // below threshold both halves → absent
    var ord = 0L
    val early = java.sql.Date.valueOf("1994-01-01")
    val late = java.sql.Date.valueOf("1996-01-01")
    val orders = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, java.sql.Date)]
    val items = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    plan.foreach { case (u, v, we, wl) =>
      (1L to we).foreach { _ =>
        ord += 1; orders += ((ord, ord, early))
        items += ((ord, u)); items += ((ord, v))
      }
      (1L to wl).foreach { _ =>
        ord += 1; orders += ((ord, ord, late))
        items += ((ord, u)); items += ((ord, v))
      }
    }
    orders.toSeq.toDF("o_custkey", "o_orderkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    items.toSeq.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Round15b.q452EdgeChurn.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(6), r.getLong(7),
        r.getLong(8), r.getLong(9)))
    assert(got.length === 3) // the 1-1 edge never qualifies
    assert(got(0) === ((1L, 3L, 4L, 2L, 0L, -2L, "vanished", 1L, 1L, 1L)))
    assert(got(1) === ((2L, 5L, 6L, 0L, 2L, 2L, "emerged", 1L, 1L, 1L)))
    assert(got(2) === ((3L, 1L, 2L, 3L, 3L, 0L, "persisting", 1L, 1L, 1L)))
  }

  test("q454 localizes a planted cohort shift to its dimension with " +
    "the exact cross-multiplied magnitude") {
    val dir = dirFor("drift")
    // Cohort a (labels 0-4) shifted +0.5 in dim 3; the base depends on
    // the DIMENSION only (identical across ids), so num_i = 0 for
    // i ≠ 3 exactly — any leak means the cross-multiplication broke.
    val vecs = (0L until 40L).map { id =>
      val a = Array.tabulate(64)(i => (((i * 13) % 11).toFloat - 5f) / 50f)
      val lbl = (id % 10).toInt
      if (lbl < 5) a(3) = a(3) + 0.5f
      (id, a.toSeq, lbl)
    }
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Round15b.q454EmbeddingDrift.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.head._2 === 3L)
    // Exact magnitude: per-cohort sums of round(x·1000) over 20 vecs.
    val qs = vecs.map { case (id, a, lbl) =>
      (lbl, a.map(x => math.round(x.toDouble * 1000))) }
    val sa = qs.filter(_._1 < 5).map(_._2(3)).sum
    val sb = qs.filter(_._1 >= 5).map(_._2(3)).sum
    val num = sa * 20L - sb * 20L
    assert(got.head._3 === num * 1000L / (20L * 20L))
    assert(got.head._4 > 0L, "planted shift must produce positive MMD")
    // Dims beyond the planted one carry zero shift (base is shared).
    got.drop(1).foreach(t => assert(t._3 === 0L, s"dim ${t._2}"))
  }
}
