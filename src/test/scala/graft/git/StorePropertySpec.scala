package graft.git

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** Randomized crash-matrix harness for the manifest store: seeded sequences
  * of publishes, junk injections (the states a crashed publish can leave),
  * and compactions, with the snapshot checked against an in-memory model
  * after EVERY step. The deterministic MainSpec cases cover the crash
  * states we anticipated; this covers the interleavings we didn't. */
class StorePropertySpec extends SparkSpec {
  import spark.implicits._

  test("partition values needing path escaping publish and prune correctly") {
    val dir = Files.createTempDirectory("graft-storeesc-").toAbsolutePath.toString
    def rows(t: Seq[(String, Long, Long)]) = t.toDF("part", "k", "v")
    // Values Spark must escape in partition dir names: space, colon, percent.
    Pipeline.publishPartitioned(spark, dir, "t", "part",
      rows(Seq(("has space", 1L, 10L), ("col:on", 1L, 20L), ("pct%25", 1L, 30L))))(
      GitAgg.upsertLatest(_, _, Seq("part", "k"))).gc()
    // Second publish touches ONLY the spaced partition: the manifest prune
    // must resolve its escaped dir name and leave the others untouched.
    Pipeline.publishPartitioned(spark, dir, "t", "part",
      rows(Seq(("has space", 1L, 11L))))(
      GitAgg.upsertLatest(_, _, Seq("part", "k"))).gc()
    val got = Pipeline.readSnapshot(spark, dir, "t")
      .collect().map(r => (r.getAs[String]("part"), r.getAs[Long]("v"))).toSet
    assert(got == Set(("has space", 11L), ("col:on", 20L), ("pct%25", 30L)))
  }

  test("randomized publish/crash/compact sequences preserve the snapshot") {
    val partCol = "part"
    val parts = Vector("a", "b", "c", "d")
    for (seed <- Seq(11, 23, 47)) {
      val rnd = new scala.util.Random(seed)
      val dir = Files.createTempDirectory(s"graft-storeprop-$seed-")
        .toAbsolutePath.toString
      val table = "t"
      val store = Paths.get(dir, table)
      var model = Map.empty[(String, Long), Long]

      def verify(step: String): Unit =
        if (!Files.isDirectory(store)) {
          assert(model.isEmpty, s"seed=$seed $step: store missing but model nonempty")
        } else {
          val got = Pipeline.readSnapshot(spark, dir, table)
            .collect()
            .map(r => ((r.getAs[String](partCol), r.getAs[Long]("k")),
              r.getAs[Long]("v"))).toMap
          assert(got == model, s"seed=$seed $step: snapshot diverged from model")
        }

      (1 to 12).foreach { step =>
        rnd.nextInt(4) match {
          case 0 | 1 =>
            // Publish: 1-2 random partitions, unique keys within the batch,
            // last-writer-wins against the store (upsertLatest semantics).
            val touched = rnd.shuffle(parts).take(1 + rnd.nextInt(2))
            val rows = touched.flatMap { p =>
              rnd.shuffle((0L to 4L).toVector).take(1 + rnd.nextInt(3))
                .map(k => (p, k, rnd.nextLong()))
            }
            Pipeline.publishPartitioned(spark, dir, table, partCol,
              rows.toDF(partCol, "k", "v"))(
              GitAgg.upsertLatest(_, _, Seq(partCol, "k"))).gc()
            rows.foreach { case (p, k, v) => model += ((p, k) -> v) }
          case 2 if Files.isDirectory(store) =>
            // Crash injection: the junk a publish dying mid-flight leaves.
            rnd.nextInt(3) match {
              case 0 => // orphan manifest tmp
                Files.write(store.resolve(s".manifest-tmp-$step"),
                  "ghost/not-a-file.parquet\n".getBytes("UTF-8"))
              case 1 => // moved-in but never-committed data file
                val pd = store.resolve(s"$partCol=${parts(rnd.nextInt(parts.size))}")
                Files.createDirectories(pd)
                Files.write(pd.resolve(s"part-junk-$step.snappy.parquet"),
                  Array[Byte](9, 9, 9))
              case 2 => // stale manifest from a crash between commit and prune
                val seqs = {
                  val s = Files.list(store)
                  try s.toArray.map(_.asInstanceOf[java.nio.file.Path]
                    .getFileName.toString)
                    .filter(_.startsWith("_manifest-"))
                    .map(_.stripPrefix("_manifest-").toLong)
                  finally s.close()
                }
                if (seqs.nonEmpty && seqs.max >= 1)
                  Files.write(store.resolve("_manifest-000000000"),
                    s"$partCol=zzz/ghost-$step.parquet\n".getBytes("UTF-8"))
            }
          case _ =>
            Pipeline.compact(spark, dir, table)
        }
        verify(s"step $step")
      }
      // Final full compact: all junk reaped, snapshot intact, one manifest.
      Pipeline.compact(spark, dir, table)
      verify("final compact")
    }
  }
}
