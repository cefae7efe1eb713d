package graft.git

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.GenStore

/** E1/E2: the end-to-end ETL pipeline (SURVEY §3) — extract all repos in
  * parallel, union, transform once, write the five output tables as parquet.
  *
  * The reference's sequential per-repo loop with cross-run SQLite upserts
  * becomes: repoList → parallel extract → union → one keyed
  * dedup/re-aggregation per output table → write. Equivalent because every
  * reference load is a keyed upsert with associative merge functions
  * (SURVEY §2.6), and this shape is embarrassingly parallel at 100 TB (each
  * output table is a single shuffle on its natural key).
  */
object Pipeline {

  final case class Result(
      commits: DataFrame,
      authors: DataFrame,
      fileChanges: DataFrame,
      tags: DataFrame,
      repos: DataFrame,
      rejects: DataFrame,
      /** Frees the pipeline's internal cache once outputs are materialized
        * (each run caches a nonce-distinct plan, so without this, repeated
        * runs in one session accumulate dead cache entries). */
      release: () => Unit) {
    /** Every output by table name: the five [[StoreTables]] in publish
      * order, then the rejects. */
    def outputs: Seq[(String, DataFrame)] =
      StoreTables.zip(Seq(commits, authors, fileChanges, tags, repos)) :+
        ("rejects" -> rejects)
  }

  /** Extract + transform (no write): the five reference tables plus the
    * validation rejects (SURVEY §2.2: the reference's dead validators shipped
    * as a filter/quality-flag stage — invalid commits are diverted, with
    * their error list, instead of silently loaded). */
  def build(spark: SparkSession, repoPaths: Seq[String],
      authorGate: Option[String] = None): Result = {
    // A path git cannot open is skipped, but said so: its rows would
    // otherwise vanish from every table without a trace.
    val readable = repoPaths.flatMap { p =>
      val info = GitCli.repoInfo(p)
      if (info.isEmpty) System.err.println(s"[graft] skipping unreadable repo: $p")
      info
    }
    // S5 gate: cheap LIMIT-1 probe before full extraction (main.ts:338-343).
    val infos = readable.filter(r =>
      authorGate.forall(p => GitCli.hasCommitsByAuthor(r.path, p)))

    val flagged = Validate.flagCommits(GitAgg.dedupCommits(
      GitParse.parseLog(GitCli.rawLogs(spark, infos)))).cache()
    val rejects = flagged.filter(!col("is_valid"))
      .select(col("repo_name"), col("sha"), col("validation_errors"))
    val commits = flagged.filter(col("is_valid"))
      .drop("validation_errors", "is_valid")
    val fileChanges = GitAgg.dedupFileChanges(GitParse.explodeFileChanges(commits))
    val tags = GitAgg.dedupTags(GitParse.parseTags(GitCli.rawTags(spark, infos)))
    val language = GitAgg.repoLanguage(GitCli.lsFiles(spark, infos))
    val repos = GitAgg.repoMeta(commits)
      .join(language.withColumnRenamed("repo_name", "name"), Seq("name"), "left")
    Result(
      commits = commits.drop("file_changes"),
      authors = GitAgg.authors(commits),
      fileChanges = fileChanges,
      tags = tags,
      repos = repos,
      rejects = rejects,
      release = () => { flagged.unpersist(); () })
  }

  /** E1/E2 with the S8 sink: write each table as parquet under outDir.
    * (The reference's one-transaction-per-repo atomicity is subsumed by
    * Spark's output-commit protocol per table — SURVEY §2.6 U6.) */
  def etl(spark: SparkSession, repoPaths: Seq[String], outDir: String,
      authorGate: Option[String] = None): Result =
    sink(spark, repoPaths, authorGate) { case (t, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/$t")
    }

  /** The one-shot sinks' shared loop: build, hand each named output to
    * `write`, then free the build's cache. */
  private def sink(spark: SparkSession, repoPaths: Seq[String],
      authorGate: Option[String])(write: ((String, DataFrame)) => Unit): Result = {
    val r = build(spark, repoPaths, authorGate)
    r.outputs.foreach(write)
    r.release()
    r
  }

  /** Cross-run incremental mode (U1–U5 across successive runs): the
    * reference appends every run into the same SQLite file, so each load is
    * a keyed upsert against the cumulative table (src/database.ts:21-36,
    * 85-95, 109-117, 148-151, 228-236).
    *
    * The four repo-scoped tables (commits, file_changes, tags, repos) are
    * stored PARTITIONED by repo: a run merges only the partitions of the
    * repos it touched — the previous store is read partition-pruned to the
    * touched set, merged with that table's reference conflict semantics,
    * staged, and published with a MANIFEST COMMIT: data files are immutable
    * and uniquely named, the staged files are moved into the live partition
    * dirs, and a `_manifest-<seq>` pointer file (one atomic rename, the
    * [[GenStore]] pointer-file protocol the index stores also use) becomes
    * the new snapshot definition. Readers resolve the manifest
    * ([[readSnapshot]]), so staging, file moves, and crashes mid-publish
    * are all invisible, and nothing relies on atomic DIRECTORY renames
    * (which object stores don't have; a one-file rename-or-put is the only
    * atomicity this needs). A publish that dies before its manifest commit
    * leaves only unreferenced files; the next run deletes everything the
    * committed manifest doesn't reference and proceeds. Untouched repos'
    * files are never read, rewritten, or even listed: merge cost is
    * proportional to the run's output, not the archive — at 100 TB this is
    * the difference between an incremental publish and a full rewrite.
    *
    * `authors` is the one table that CANNOT be repo-partitioned: its key
    * is email and its counts accumulate ACROSS repos (database.ts:109-117),
    * so it keeps the whole-table merge — it is a dimension table, orders
    * of magnitude smaller than the fact tables.
    */
  def etlAppend(spark: SparkSession, repoPaths: Seq[String], outDir: String,
      authorGate: Option[String] = None): Unit =
    etlAppendStaged(spark, repoPaths, outDir, authorGate, _ => ())

  /** [[etlAppend]] with a step hook called at each named point of the
    * publish sequence (`after:rollback`, `after:<table>` ×5,
    * `before:flip`, `after:flip`) — the crash-injection / interleave seam
    * the store-level atomicity tests drive (a hook that throws models a
    * process kill at that instant; a hook that reads models a concurrent
    * snapshot reader). Production callers go through [[etlAppend]]'s
    * no-op hook. */
  private[git] def etlAppendStaged(spark: SparkSession, repoPaths: Seq[String],
      outDir: String, authorGate: Option[String],
      step: String => Unit): Unit = {
    val base = new Path(outDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Writer lease on the store ROOT (the same `_maintenance.lease`
    // protocol the index-maintenance tiers use): a second concurrent
    // writer is rejected AT ACQUIRE, before it can touch any state — in
    // particular before its entry rollback could delete this run's
    // still-uncommitted per-table manifests, which would leave this run's
    // store-manifest flip naming manifests that no longer exist. A killed
    // writer's lease is taken over after the TTL; the flip below re-checks
    // ownership (and CASes on the captured store seq) so a stalled
    // original can never commit over the takeover's generation.
    GenStore.withLease(fs, base) { lease =>
    val r = build(spark, repoPaths, authorGate)
    // U6 crash rollback: the window between a per-table manifest commit
    // and the store-manifest flip is NOT idempotent for every table —
    // authors' counts ADD on merge, so a rerun that merged on top of a
    // crashed run's committed-but-never-store-visible authors manifest
    // would double-count the aborted run (the reference's single SQLite
    // transaction rolls that increment back, transactions.ts:43-56).
    // Re-anchor every table to the generation the latest store manifest
    // names before merging anything.
    val baseSeq = rollbackToStoreGeneration(fs, base, outDir)
    step("after:rollback")
    val pubs = scala.collection.mutable.ListBuffer[(String, Publish)]()
    def mergeWrite(table: String, incoming: DataFrame)(
        merge: (DataFrame, DataFrame) => DataFrame): Unit = {
      pubs += table -> publishWhole(spark, outDir, table, incoming)(merge)
      step(s"after:$table")
    }
    def mergeWritePartitioned(table: String, partCol: String, incoming: DataFrame)(
        merge: (DataFrame, DataFrame) => DataFrame): Unit = {
      pubs += table -> publishPartitioned(spark, outDir, table, partCol,
        incoming)(merge)
      step(s"after:$table")
    }

    // ON CONFLICT(repo_name, sha) DO UPDATE (database.ts:21-36)
    mergeWritePartitioned("commits", "repo_name", r.commits)(
      GitAgg.upsertLatest(_, _, Seq("repo_name", "sha")))
    // ON CONFLICT(email): counts add, dates min/max, new name wins (:109-117)
    mergeWrite("authors", r.authors)(GitAgg.mergeAuthors)
    // INSERT OR IGNORE (:148-151): stored row wins
    mergeWritePartitioned("file_changes", "repo_name", r.fileChanges)(
      GitAgg.upsertKeepFirst(_, _, Seq("repo_name", "sha", "file_path")))
    // ON CONFLICT(repo_name, tag_name) DO UPDATE (:228-236)
    mergeWritePartitioned("tags", "repo_name", r.tags)(
      GitAgg.upsertLatest(_, _, Seq("repo_name", "tag_name")))
    // ON CONFLICT(name) DO UPDATE (:85-95)
    mergeWritePartitioned("repos", "name", r.repos)(
      GitAgg.upsertLatest(_, _, Seq("name")))

    // U6 store-level atomicity (transactions.ts:43-56: ONE transaction per
    // repo covers all five loads): the five per-table publishes above
    // returned their generation GC unrun, so every previous-generation data
    // file and per-table manifest still exists. One atomic rename of the
    // root store manifest — naming each table's newly committed per-table
    // manifest — is the cross-table commit point: a [[readStoreSnapshot]]
    // reader before the flip resolves ALL five tables at the previous
    // generation (never commits without their file_changes), after it at
    // the new one. Only then does the GC drop what the previous store
    // generation referenced; a crash anywhere before the flip leaves the
    // previous store snapshot fully intact, and the next run's entry
    // rollback discards the aborted per-table publishes before merging —
    // so even the NON-idempotent authors merge (counts ADD) converges to
    // exactly the committed runs' totals, matching the reference's
    // transaction rollback.
    step("before:flip")
    // Flip guards, in order: (1) ownership re-check — a run that stalled
    // past the lease TTL and was taken over must refuse to flip over the
    // takeover's generation; (2) optimistic CAS — the flip commits at
    // exactly entry-seq+1, so even with a broken lease a generation
    // committed underneath makes this commit fail loudly instead of
    // silently superseding it.
    commitStoreManifest(fs, base, baseSeq + 1,
      pubs.map { case (t, p) => t -> p.manifest }.toSeq, Some(lease))
    step("after:flip")
    pubs.foreach(_._2.gc())

    // rejects are per-run diagnostics (no reference counterpart): overwrite
    r.rejects.write.mode("overwrite").parquet(s"$outDir/rejects")
    r.release()
    }
  }

  /** The five store-committed tables, in publish order. */
  private[git] val StoreTables =
    Seq("commits", "authors", "file_changes", "tags", "repos")

  /** Re-anchor every table to the committed store generation at run entry
    * (crash recovery for the per-table-commit → store-flip window): per-
    * table manifests NEWER than the one the latest store manifest names
    * are a crashed (or concurrently-raced) run's uncommitted publishes —
    * delete them and the data files only they reference, so the coming
    * merges baseline on store-COMMITTED state (additive merges like
    * authors' counts would otherwise double-count the aborted run). A
    * store with no root manifest yet gets generation 0 committed first,
    * pinning each table at its current baseline (an empty per-table
    * manifest for fresh tables) — so even a crash mid-FIRST-run has a
    * defined rollback point. A named manifest that no longer exists
    * (legacy store) rolls back nothing for that table — matching
    * [[readStoreSnapshot]]'s documented fallback. Returns the committed
    * store generation's seq; the flip commits at exactly seq+1. */
  private def rollbackToStoreGeneration(fs: FileSystem, base: Path,
      outDir: String): Long =
    GenStore.latestPointer(fs, base, StoreManifestPrefix) match {
      case Some((storeSeq, sm)) =>
        readStoreManifest(fs, sm).foreach { case (t, mname) =>
          val store = new Path(s"$outDir/$t")
          val named = new Path(store, mname)
          if (fs.exists(store) && fs.exists(named)) {
            val keep = GenStore.readPointer(fs, named).toSet
            fs.listStatus(store).map(_.getPath)
              .filter(p => p.getName.startsWith(ManifestPrefix) &&
                GenStore.pointerSeq(ManifestPrefix, p.getName) >
                  GenStore.pointerSeq(ManifestPrefix, mname))
              .foreach { m =>
                GenStore.readPointer(fs, m).filterNot(keep).foreach { f =>
                  val df = new Path(store, f)
                  if (fs.exists(df)) fs.delete(df, false)
                }
                fs.delete(m, false)
              }
          }
        }
        storeSeq
      case None =>
        val entries = StoreTables.map { t =>
          val store = new Path(s"$outDir/$t")
          val (seq, _) = baselinedSnapshot(fs, store)
          if (seq >= 0) t -> manifestName(seq)
          else {
            fs.mkdirs(store)
            t -> commitManifest(fs, store, 0L, Nil)
          }
        }
        commitStoreManifest(fs, base, 0L, entries)
        0L
    }

  /** One per-table publish's outcome: the committed manifest's file name
    * (what the store-level manifest records) and the generation-GC thunk —
    * pruning superseded per-table manifests and dropping the replaced
    * generation's data files. The caller runs it once the previous
    * snapshot need not stay resolvable: [[etlAppendStaged]] after the
    * store-manifest flip. */
  private[git] final case class Publish(manifest: String, gc: () => Unit)

  /** Whole-table keyed merge publish (dimension tables): merge → stage →
    * move files in → manifest commit; the GC drops the replaced
    * generation. */
  private[git] def publishWhole(spark: SparkSession, outDir: String,
      table: String, incoming: DataFrame)(
      merge: (DataFrame, DataFrame) => DataFrame): Publish = {
    val path = new Path(s"$outDir/$table")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (seq, snap) = baselinedSnapshot(fs, path)
    cleanJunk(fs, path, snap.toSet, Seq(""))
    val merged =
      if (snap.nonEmpty) merge(readFiles(spark.read, path, snap), incoming)
      else incoming
    val staged = stage(fs, outDir, table)(merged.write.mode("overwrite").parquet(_))
    fs.mkdirs(path)
    commitPublish(fs, path, staged, seq, moveDataFiles(fs, staged, path), snap)
  }

  /** Partitioned keyed merge publish (fact tables): prune the store read to
    * the incoming batch's partitions via the manifest, merge, stage
    * partitioned, move the staged files in and commit the manifest; the GC
    * drops the replaced partitions' previous generation. */
  private[git] def publishPartitioned(spark: SparkSession, outDir: String,
      table: String, partCol: String, incoming: DataFrame)(
      merge: (DataFrame, DataFrame) => DataFrame): Publish = {
    val store = new Path(s"$outDir/$table")
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (seq, snap) = baselinedSnapshot(fs, store)
    // A store written by the old FLAT layout (or the empty-table marker)
    // has data files at the root: those rows span ALL repos, so a pruned
    // merge would lose the untouched ones when the root files are
    // replaced. Migrate with one unpruned full merge; every later run is
    // partition-pruned.
    val flatData = snap.exists(!_.contains("/"))
    // The touched-partition set is the run's repo list — a handful of
    // names, driver-side by construction (not a data-volume collect).
    // Lazy: the flat-migration branch merges unpruned and must not pay
    // (or depend on) this job. Null partition values would silently miss
    // the manifest prune and corrupt the merge — refuse them loudly.
    // Dir names use Spark's own partition-path escaping, so the prune
    // matches exactly what partitionBy wrote.
    lazy val touched = {
      val t = incoming.select(col(partCol)).distinct()
        .collect().map(_.getString(0)).toSeq
      require(!t.contains(null),
        s"$table: null $partCol cannot be partition-merged")
      t
    }
    lazy val touchedDirs = touched.map(v => s"$partCol=" +
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v))
    // Junk scan scoped to the dirs this run writes: junk elsewhere is
    // invisible to manifest readers and reaped by compact's full pass.
    cleanJunk(fs, store, snap.toSet,
      if (flatData || snap.isEmpty) Seq("") else touchedDirs)
    val merged =
      if (snap.nonEmpty) {
        // The MANIFEST is the file listing: the store read enumerates
        // exactly the committed snapshot's files for the touched
        // partitions — no recursive directory listing of the archive,
        // ever (the 100 TB cost a dir-based read would pay at plan
        // time even with partition pruning). Explicit schema pins the
        // partition column's type; values come from the dir names via
        // basePath.
        val files =
          if (flatData) snap
          else snap.filter(f => touchedDirs.contains(f.split('/').head))
        if (files.isEmpty) incoming
        else merge(readFiles(spark.read.schema(incoming.schema), store, files),
          incoming).select(incoming.columns.map(col): _*)
      } else incoming
    val staged = stage(fs, outDir, table)(
      merged.write.mode("overwrite").partitionBy(partCol).parquet(_))
    fs.mkdirs(store)
    val partDirs = fs.listStatus(staged).filter(_.isDirectory)
    if (partDirs.nonEmpty) {
      // Move each staged partition's files into the live partition dir
      // (names are unique per write job — nothing is overwritten), then
      // commit: untouched partitions keep their manifest entries; the
      // replaced generation (all root files on the migration path) is
      // dropped by the GC, once the new manifest is live.
      val newEntries = partDirs.flatMap { p =>
        val name = p.getPath.getName
        val dest = new Path(store, name)
        fs.mkdirs(dest)
        moveDataFiles(fs, p.getPath, dest).map(f => s"$name/$f")
      }.toSeq
      val replacedTop = partDirs.map(_.getPath.getName).toSet
      val dropped =
        if (flatData) snap
        else snap.filter(f => replacedTop.contains(f.split('/').head))
      commitPublish(fs, store, staged, seq, snap.diff(dropped) ++ newEntries, dropped)
    } else if (snap.isEmpty) {
      // Empty merged result (e.g. a run with no tags): a partitioned
      // write emits no files, which would leave an unreadable empty dir.
      // Keep the table readable with a flat empty-schema'd parquet —
      // replaced by real partition dirs the first time any appear.
      val flat = stage(fs, outDir, table)(merged.write.mode("overwrite").parquet(_))
      commitPublish(fs, store, flat, seq, moveDataFiles(fs, flat, store), Nil)
    } else {
      // Nothing new and nothing merged: the committed snapshot stands
      // (snap is non-empty, so seq names a real manifest).
      fs.delete(staged, true)
      Publish(manifestName(seq), () => ())
    }
  }

  /** A fresh dot-prefixed staging dir for `table` (invisible to readers),
    * filled by `write`. */
  private def stage(fs: FileSystem, outDir: String, table: String)(
      write: String => Unit): Path = {
    val staged = new Path(s"$outDir/.$table.__staged")
    fs.delete(staged, true)
    write(staged.toString)
    staged
  }

  /** The publish tail both table shapes share: drop the emptied staging
    * dir, commit `entries` as manifest seq+1, and hand back the GC that
    * prunes the superseded manifests and deletes `dropped`. */
  private def commitPublish(fs: FileSystem, store: Path, staged: Path,
      seq: Long, entries: Seq[String], dropped: Seq[String]): Publish = {
    fs.delete(staged, true)
    val name = commitManifest(fs, store, seq + 1, entries)
    Publish(name, () => {
      GenStore.prunePointers(fs, store, ManifestPrefix, seq + 1)
      dropped.foreach(f => fs.delete(new Path(store, f), false))
    })
  }

  // -----------------------------------------------------------------------
  // Snapshot manifests — the incremental store's per-table pointer files.
  //
  // A store's state is defined by its highest `_manifest-<seq>` file: a
  // sorted list of store-relative data-file paths, committed through the
  // pointer-file protocol the index stores share ([[GenStore]]: dot-tmp
  // write, exists check, one atomic rename). Data files are immutable and
  // uniquely named (Spark's per-job UUID part names), so a publish only
  // ever ADDS files and then commits a new manifest. Readers
  // ([[readSnapshot]]) resolve the manifest and read exactly its files: a
  // concurrent publish's staging and file moves are invisible, and a crash
  // before the commit leaves the previous snapshot untouched. Files the
  // committed manifest does not reference are junk by definition and are
  // deleted by the next writer. Underscore-prefixed names are ignored by
  // Spark's file index, so the manifests are invisible to raw directory
  // reads — and because the replaced generation is dropped right after the
  // commit, an at-rest directory listing equals the manifest exactly
  // (plain directory readers keep working). Single writer, enforced by the
  // store-root lease; a reader overlapping two publishes of the same
  // partition should re-resolve the manifest or run with
  // spark.sql.files.ignoreMissingFiles.
  // -----------------------------------------------------------------------

  private val ManifestPrefix = "_manifest-"

  private def manifestName(seq: Long): String = f"$ManifestPrefix$seq%09d"

  /** Commit per-table manifest `seq` listing `files`; returns its name.
    * Superseded manifests are NOT pruned here — that is the publish's GC,
    * which [[etlAppendStaged]] runs only after the store-manifest flip so a
    * cross-table reader can keep resolving the previous generation. */
  private[git] def commitManifest(fs: FileSystem, store: Path, seq: Long,
      files: Seq[String]): String = {
    val name = manifestName(seq)
    GenStore.commitPointer(fs, store, ManifestPrefix, name,
      files.sorted.mkString("\n"))
    name
  }

  /** Every data file under `store` (recursive), store-relative, skipping
    * dot-prefixed staging/tmp subtrees. */
  private def listDataFiles(fs: FileSystem, store: Path): Seq[String] = {
    if (!fs.exists(store)) return Seq.empty
    val base = fs.makeQualified(store).toString.stripSuffix("/") + "/"
    val buf = scala.collection.mutable.ArrayBuffer[String]()
    val it = fs.listFiles(store, true)
    while (it.hasNext) {
      val rel = it.next().getPath.toString.stripPrefix(base)
      if (rel.endsWith(".parquet") &&
        !rel.split('/').exists(c => c.startsWith(".") || c.startsWith("_")))
        buf += rel
    }
    buf.toSeq
  }

  /** The store's committed snapshot (manifest seq, relative file paths).
    * A store with no manifest (plain [[etl]] output, or a table written
    * out of band) has none: its directory listing IS its snapshot, and the
    * baseline is committed as seq 0 before any file moves in — from then
    * on junk is always distinguishable from data. */
  private def baselinedSnapshot(fs: FileSystem, store: Path): (Long, Seq[String]) =
    GenStore.latestPointer(fs, store, ManifestPrefix) match {
      case Some((seq, m)) => (seq, GenStore.readPointer(fs, m))
      case None =>
        val files = listDataFiles(fs, store)
        if (fs.exists(store)) { commitManifest(fs, store, 0L, files); (0L, files) }
        else (-1L, files)
    }

  /** Delete what a crashed publish can leave: orphan tmp manifests and
    * compaction staging dirs (always — one top-level listing), and, within
    * `scanDirs` (the dirs the caller is about to write; "" = the store
    * root), data files the committed manifest doesn't reference — moved in
    * by a publish that died before its commit, or orphaned by one that
    * died between commit and generation GC. Junk OUTSIDE the scanned dirs
    * is invisible to manifest readers and is reaped by [[compact]]'s full
    * pass — scoping the scan keeps per-publish IO proportional to the run,
    * not the archive's file count. */
  private def cleanJunk(fs: FileSystem, store: Path, referenced: Set[String],
      scanDirs: Seq[String]): Unit = {
    if (!fs.exists(store)) return
    GenStore.reap(fs, store, GenStore.tmpPrefix(ManifestPrefix), ".compact-staged-")
    scanDirs.distinct.foreach { d =>
      val dir = if (d.isEmpty) store else new Path(store, d)
      if (fs.exists(dir))
        fs.listStatus(dir)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map(f => if (d.isEmpty) f.getPath.getName else s"$d/${f.getPath.getName}")
          .filterNot(referenced)
          .foreach(rel => fs.delete(new Path(store, rel), false))
    }
  }

  /** Move the staged data files into the live dir (returns their names).
    * Names carry the writing job's UUID — collision-free by construction. */
  private def moveDataFiles(fs: FileSystem, from: Path, to: Path): Seq[String] =
    fs.listStatus(from)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map { f =>
        val name = f.getPath.getName
        require(fs.rename(f.getPath, new Path(to, name)),
          s"publish move failed for $name into $to")
        name
      }.toSeq

  /** Exactly `files` (store-relative) of one table, partition values from
    * the dir names. */
  private def readFiles(reader: DataFrameReader, store: Path,
      files: Seq[String]): DataFrame =
    reader.option("basePath", store.toString)
      .parquet(files.map(f => new Path(store, f).toString): _*)

  /** One table at the snapshot per-table manifest `m` defines. */
  private def readManifestSnapshot(spark: SparkSession, fs: FileSystem,
      store: Path, m: Path): DataFrame = {
    val files = GenStore.readPointer(fs, m)
    if (files.isEmpty) spark.emptyDataFrame else readFiles(spark.read, store, files)
  }

  /** Read a table at its current committed snapshot: resolve the latest
    * manifest and read exactly the files it lists. A publish that is
    * staging, moving files in, or has crashed mid-way is invisible — the
    * resolved snapshot is complete and immutable until the NEXT publish of
    * the same partitions drops the replaced generation. Stores without a
    * manifest (plain [[etl]] output) fall back to a directory read. */
  def readSnapshot(spark: SparkSession, outDir: String, table: String): DataFrame = {
    val store = new Path(s"$outDir/$table")
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    GenStore.latestPointer(fs, store, ManifestPrefix) match {
      case Some((_, m)) => readManifestSnapshot(spark, fs, store, m)
      case None => spark.read.parquet(store.toString)
    }
  }

  /** Compact a repo-partitioned table written by [[etlAppend]]: every
    * incremental run adds a fresh file set to each touched partition, and
    * long-running stores accumulate small files (the classic 100 TB
    * operational problem — file-count pressure on listing, footer reads,
    * and task scheduling). Partitions already at one data file are skipped
    * (idempotent: a second compact run touches nothing); the rest are
    * coalesced to one file, moved in, and committed as ONE new manifest —
    * readers mid-compaction keep the old snapshot, whose files are dropped
    * only after the commit. Content is untouched; only the physical file
    * layout changes. */
  def compact(spark: SparkSession, outDir: String, table: String): Unit = {
    val store = new Path(s"$outDir/$table")
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(store)) return
    // Store-root writer lease (the same `_maintenance.lease` protocol
    // etlAppendStaged holds): compaction re-commits the ROOT store
    // manifest below, and without the lease a compact racing a live ETL
    // writer makes one side fail loudly at the store-manifest CAS — no
    // corruption, but an avoidable aborted run whose half-published
    // generation the next run must reap. Serializing here turns that
    // race into a loud refuse-at-acquire, like every other store writer.
    GenStore.withLease(fs, new Path(outDir)) { _ =>
      val (seq, snap) = baselinedSnapshot(fs, store)
      // Compaction is the full-GC pass: it scans every partition (it lists
      // them anyway), so junk a scoped publish skipped is reaped here.
      cleanJunk(fs, store, snap.toSet,
        "" +: snap.map(_.split('/').init.mkString("/")).distinct)
      val byDir = snap.groupBy(f => f.split('/').init.mkString("/"))
      val entries = scala.collection.mutable.ArrayBuffer[String]()
      val dropped = scala.collection.mutable.ArrayBuffer[String]()
      byDir.toSeq.sortBy(_._1).foreach { case (dir, files) =>
        if (dir.isEmpty || files.length <= 1) entries ++= files
        else {
          val partDir = new Path(store, dir)
          val staged = new Path(store, s".compact-staged-$dir")
          fs.delete(staged, true)
          // No basePath: the partition column stays in the path, not the
          // rewritten files — same layout the publish writes.
          spark.read.parquet(partDir.toString)
            .coalesce(1)
            .write.mode("overwrite").parquet(staged.toString)
          entries ++= moveDataFiles(fs, staged, partDir).map(n => s"$dir/$n")
          fs.delete(staged, true)
          dropped ++= files
        }
      }
      if (dropped.nonEmpty) {
        val name = commitManifest(fs, store, seq + 1, entries.toSeq)
        // Keep the cross-table generation pinned through compaction: if the
        // root store manifest names this table, re-commit it pointing at the
        // compacted manifest BEFORE the superseded one is pruned — a
        // readStoreSnapshot reader re-resolves to the compacted (content-
        // identical) snapshot instead of dangling onto the fallback path,
        // and the next run's entry rollback keeps its anchor.
        val baseDir = new Path(outDir)
        GenStore.latestPointer(fs, baseDir, StoreManifestPrefix).foreach {
          case (storeSeq, sm) =>
            val es = readStoreManifest(fs, sm)
            if (es.contains(table))
              commitStoreManifest(fs, baseDir, storeSeq + 1, (es + (table -> name)).toSeq)
        }
        GenStore.prunePointers(fs, store, ManifestPrefix, seq + 1)
        dropped.foreach(f => fs.delete(new Path(store, f), false))
      }
    }
  }

  // -----------------------------------------------------------------------
  // Store-level generation manifest — cross-table atomicity (U6 parity).
  //
  // The reference wraps all five table loads of a repo in ONE SQLite
  // transaction (src/transactions.ts:43-56, main.ts:103-130), so a
  // concurrent reader (Metabase over WAL, db/index.ts:23) never observes
  // commits without their file_changes. The per-table manifests above are
  // atomic per table but publish the five tables sequentially — a reader
  // between two per-table commits would see a cross-table-inconsistent
  // store. The root `_store-manifest-<seq>` closes that: one pointer file
  // (the same [[GenStore]] protocol) naming each table's committed
  // per-table manifest, flipped after all five publishes, with each
  // table's generation GC run only after the flip. [[readStoreSnapshot]]
  // resolves through it: before the flip every table reads at the previous
  // generation, after it at the new one — the store-level analogue of the
  // reference's transaction boundary. A reader overlapping the post-flip
  // GC of a concurrent publish should re-resolve, exactly as for
  // per-table reads.
  // -----------------------------------------------------------------------

  private val StoreManifestPrefix = "_store-manifest-"

  /** Commit store manifest `seq` as sorted `table<TAB>per-table-manifest`
    * lines (ownership re-checked through `lease` when given), then prune
    * superseded store manifests and reap orphan tmps. */
  private[git] def commitStoreManifest(fs: FileSystem, base: Path, seq: Long,
      entries: Seq[(String, String)],
      lease: Option[GenStore.Lease] = None): Unit = {
    GenStore.commitPointer(fs, base, StoreManifestPrefix,
      f"$StoreManifestPrefix$seq%09d",
      entries.sortBy(_._1).map { case (t, m) => s"$t\t$m" }.mkString("\n"), lease)
    GenStore.prunePointers(fs, base, StoreManifestPrefix, seq)
    GenStore.reap(fs, base, GenStore.tmpPrefix(StoreManifestPrefix))
  }

  private def readStoreManifest(fs: FileSystem, m: Path): Map[String, String] =
    GenStore.readPointer(fs, m).map { line =>
      val Array(t, name) = line.split('\t')
      t -> name
    }.toMap

  /** Read a table at the store's cross-table-consistent committed
    * generation: resolve the root store manifest, then the table's NAMED
    * per-table manifest — never "latest", so all five tables resolve at
    * the SAME [[etlAppend]] run's output even while a later run is
    * mid-publish (its per-table commits and file moves are invisible
    * until its store-manifest flip). Falls back to [[readSnapshot]] when
    * the store has no store manifest, the table is outside it (rejects),
    * or the named manifest was GC'd by a completed later flip
    * (re-resolving forward is then correct — the newer generation is the
    * committed one). */
  def readStoreSnapshot(spark: SparkSession, outDir: String, table: String): DataFrame = {
    val base = new Path(outDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val store = new Path(s"$outDir/$table")
    val named = GenStore.latestPointer(fs, base, StoreManifestPrefix)
      .flatMap { case (_, sm) => readStoreManifest(fs, sm).get(table) }
      .map(new Path(store, _))
    named.filter(fs.exists) match {
      case Some(m) => readManifestSnapshot(spark, fs, store, m)
      case None => readSnapshot(spark, outDir, table)
    }
  }

  /** S8 bucketed-layout sink (opt-in): the two fact tables are saved as
    * catalog tables bucketed (8 buckets) AND sorted on (repo_name, sha), so
    * every downstream keyed operation on that key — the U1/U3 cross-run
    * dedup, the commits⋈file_changes star join, an as-of join against
    * commit history — plans as a shuffle-free sort-merge over co-located
    * buckets. At 100 TB this moves the dominant join cost from a
    * cluster-wide exchange to a local merge per bucket, paid once at write
    * time. Dimension tables (authors, tags, repos) stay plain: they
    * broadcast. The per-run rejects stay out of the catalog. Proven by a
    * plan assertion in MainSpec (zero Exchange in the fact join) — the
    * same machinery BucketedJoinSpec demonstrates on TPC-H. */
  def etlBucketed(spark: SparkSession, repoPaths: Seq[String],
      tablePrefix: String, authorGate: Option[String] = None): Result =
    sink(spark, repoPaths, authorGate) {
      case ("rejects", _) => ()
      case (t, df) =>
        val w = df.write.mode("overwrite")
        val laid =
          if (t == "commits" || t == "file_changes")
            w.bucketBy(8, "repo_name", "sha").sortBy("repo_name", "sha")
          else w
        laid.saveAsTable(s"${tablePrefix}_$t")
    }

  /** S8 JDBC sink option, mirroring the reference's embedded-file database
    * contract (db/index.ts:4: a single SQLite file consumed by external BI
    * tools). Derby is the embedded JDBC engine available on the Spark
    * classpath; `jdbc:derby:/path;create=true` is the moral equivalent of
    * the reference's `/var/tmp/git-analytics.db`. Parquet stays the primary
    * sink (SURVEY §2.1 S8) — this is the compatibility path, and it
    * single-streams through one connection per table, so it is for serving
    * summaries, not 100 TB fact tables. */
  def etlJdbc(spark: SparkSession, repoPaths: Seq[String], jdbcUrl: String,
      authorGate: Option[String] = None): Result = {
    val props = new java.util.Properties()
    sink(spark, repoPaths, authorGate) {
      // validation_errors is array-typed — JDBC needs a scalar rendering
      case (t @ "rejects", df) =>
        df.withColumn("validation_errors", concat_ws("; ", col("validation_errors")))
          .write.mode("overwrite").jdbc(jdbcUrl, t, props)
      case (t, df) => df.write.mode("overwrite").jdbc(jdbcUrl, t, props)
    }
  }

  /** S10: formatted console summary report (src/transforms.ts:64-86). */
  def summaryReport(commits: DataFrame): String = {
    val row = GitAgg.summaryStats(commits).collect()(0)
    val fmt = java.text.NumberFormat.getIntegerInstance(java.util.Locale.US)
    def n(i: Int) = fmt.format(row.getLong(i))
    s"""Summary
       |  Commits:        ${n(0)}
       |  Additions:      ${n(1)}
       |  Deletions:      ${n(2)}
       |  Files changed:  ${n(3)}
       |  Merge commits:  ${n(4)}
       |  Unique authors: ${n(5)}
       |  Date range:     ${row.getString(6)} .. ${row.getString(7)}""".stripMargin
  }
}
