package graft.git

import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.GenStore

/** The seq-numbered pointer-file protocol on its own, on the local
  * filesystem (no Spark): how the live pointer is resolved, what a commit
  * refuses, what the reaper removes, and the exact bytes the git store's
  * manifests are written with. */
class PointerFileSpec extends AnyFunSuite {

  private val fs = FileSystem.getLocal(new Configuration())

  private def withDir(body: (JPath, Path) => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-pointer-")
    try body(dir, new Path(dir.toString))
    finally fs.delete(new Path(dir.toString), true)
  }

  private def names(dir: JPath): Seq[String] = {
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[JPath].getFileName.toString).toSeq.sorted
    finally s.close()
  }

  test("the highest seq is chosen numerically, unpadded and padded") {
    withDir { (_, d) =>
      Seq(2L, 9L, 10L).foreach(s =>
        GenStore.commitPointer(fs, d, "_ivfgen-", s"_ivfgen-$s", s"gen=$s"))
      // "_ivfgen-9" sorts after "_ivfgen-10" as text.
      assert(GenStore.latestPointer(fs, d, "_ivfgen-").map(_._1).contains(10L))
      assert(GenStore.currentSeq(fs, d, "_ivfgen-") == 10L)
      assert(GenStore.currentSeq(fs, new Path(d, "absent"), "_ivfgen-") == 0L)
    }
    withDir { (_, d) =>
      // %09d stops padding past nine digits; the seq still decides.
      Seq(7L, 999999999L, 1000000000L).foreach(s =>
        Pipeline.commitManifest(fs, d, s, Seq(s"f$s.parquet")))
      val (seq, p) = GenStore.latestPointer(fs, d, "_manifest-").get
      assert(seq == 1000000000L && p.getName == "_manifest-1000000000")
      assert(GenStore.readPointer(fs, p) == Seq("f1000000000.parquet"))
    }
  }

  test("a commit onto an existing seq fails loudly and the previous pointer stays live") {
    withDir { (dir, d) =>
      GenStore.commitPointer(fs, d, "_bandgen-", "_bandgen-1", "gen=1")
      val e = intercept[IllegalArgumentException] {
        GenStore.commitPointer(fs, d, "_bandgen-", "_bandgen-1", "gen=99")
      }
      assert(e.getMessage.contains("concurrent publish detected"))
      assert(Files.readString(dir.resolve("_bandgen-1")) == "gen=1")
      assert(GenStore.currentSeq(fs, d, "_bandgen-") == 1L)
      intercept[IllegalArgumentException] {
        Pipeline.commitManifest(fs, d, 1L, Seq("b.parquet"))
        Pipeline.commitManifest(fs, d, 1L, Seq("c.parquet"))
      }
      assert(Files.readString(dir.resolve("_manifest-000000001")) == "b.parquet")
    }
  }

  test("resolution ignores an orphan dot-tmp; reap removes it, prune drops lower seqs") {
    withDir { (dir, d) =>
      GenStore.commitPointer(fs, d, "_ivfgen-", "_ivfgen-3", "gen=3")
      GenStore.commitPointer(fs, d, "_ivfgen-", "_ivfgen-4", "gen=4")
      Files.writeString(dir.resolve(".ivfgen-tmp-deadbeef"), "gen=50")
      Files.writeString(dir.resolve(".manifest-tmp-deadbeef"), "ghost.parquet")
      assert(GenStore.currentSeq(fs, d, "_ivfgen-") == 4L)
      assert(GenStore.latestPointer(fs, d, "_manifest-").isEmpty)
      GenStore.reap(fs, d,
        GenStore.tmpPrefix("_ivfgen-"), GenStore.tmpPrefix("_manifest-"))
      GenStore.prunePointers(fs, d, "_ivfgen-", 4L)
      assert(names(dir).filterNot(_.endsWith(".crc")) == Seq("_ivfgen-4"))
    }
  }

  test("manifest bytes are the sorted entries joined by newlines") {
    withDir { (dir, d) =>
      assert(Pipeline.commitManifest(fs, d, 3L,
        Seq("repo_name=b/part-2.parquet", "repo_name=a/part-1.parquet")) ==
        "_manifest-000000003")
      assert(Files.readString(dir.resolve("_manifest-000000003")) ==
        "repo_name=a/part-1.parquet\nrepo_name=b/part-2.parquet")

      Pipeline.commitStoreManifest(fs, d, 6L, Seq("commits" -> "_manifest-000000000"))
      Files.writeString(dir.resolve(".store-manifest-tmp-deadbeef"), "x")
      Pipeline.commitStoreManifest(fs, d, 7L, Seq(
        "tags" -> "_manifest-000000002", "authors" -> "_manifest-000000005",
        "commits" -> "_manifest-000000010", "file_changes" -> "_manifest-000000001",
        "repos" -> "_manifest-000000000"))
      assert(Files.readString(dir.resolve("_store-manifest-000000007")) ==
        "authors\t_manifest-000000005\ncommits\t_manifest-000000010\n" +
        "file_changes\t_manifest-000000001\nrepos\t_manifest-000000000\n" +
        "tags\t_manifest-000000002")
      // The flip prunes the superseded store manifest and reaps orphan tmps.
      assert(!names(dir).exists(n => n.startsWith("_store-manifest-000000006") ||
        n.startsWith(".store-manifest-tmp-")))
    }
  }
}
