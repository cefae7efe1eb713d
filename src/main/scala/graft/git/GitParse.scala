package graft.git

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Parse operators P1–P14 (SURVEY §2.2) as pure Column/DataFrame functions —
  * every scalar is a codegen'd builtin (SURVEY §2.7: zero custom Catalyst
  * expressions needed for reference parity).
  *
  * Input contract: the raw stdout of
  * `git log <branch> --pretty=format:COMMIT_START%n%H%n%ae%n%an%n%ct%n%P%n%s%nCOMMIT_MSG_END --numstat`
  * (reference /root/reference/src/git-parser.ts:110-134), one string per repo.
  * Everything downstream is array/higher-order functions, so a repo's whole
  * history parses in one pass without leaving whole-stage codegen.
  */
object GitParse {

  // ---- P4: rename-path rewrite --------------------------------------------
  /** `path/{old.js => new.js}` → `path/new.js`; `{ => dir}/f` → `dir/f`.
    * Global, anywhere in the path (reference src/git-parser.ts:91-99). */
  def resolveRenamePath(path: Column): Column =
    regexp_replace(path, "\\{[^}]*?\\s*=>\\s*([^}]*?)\\}", "$1")

  // ---- P5: is_merge -------------------------------------------------------
  /** >1 whitespace-separated parent hashes (src/git-parser.ts:150,194). */
  def isMerge(parents: Column): Column =
    when(trim(parents) === "", lit(false))
      .otherwise(size(split(trim(parents), " ")) > 1)

  // ---- P6: epoch seconds → timestamp (src/git-parser.ts:189) --------------
  def epochToTimestamp(epoch: Column): Column =
    timestamp_seconds(epoch.cast("long"))

  // ---- P9: email bracket strip (src/git-parser.ts:327-329) ----------------
  def stripEmailBrackets(email: Column): Column =
    regexp_replace(email, "^<|>$", "")

  // ---- P10: tag-date parse: unix string, NaN/≤0 → null (":332-335") -------
  def tagDate(unixStr: Column): Column =
    when(try_cast_long(unixStr) > 0, timestamp_seconds(try_cast_long(unixStr)))
      .otherwise(lit(null).cast("timestamp"))

  /** ANSI-safe numeric cast: non-numeric → null (the reference's `|| 0` /
    * NaN guards become explicit predicates). */
  private def try_cast_long(c: Column): Column =
    when(c.rlike("^-?[0-9]+$"), c.cast("long"))

  // ---- P13: file extension, reject no-dot names (src/git-parser.ts:227-230)
  /** Reference semantics exactly: split the whole path on '.', take the last
    * segment lowercased; a path with no '.' yields null (ext == file check). */
  def fileExtension(file: Column): Column =
    when(file.contains("."), lower(element_at(split(file, "\\."), -1)))
      .otherwise(lit(null).cast("string"))

  // ---- P14: date-only format (src/transforms.ts:49-51) --------------------
  def dateOnly(ts: Column): Column = date_format(ts, "yyyy-MM-dd")

  // ---- P3: one numstat line → struct(additions, deletions, path) ----------
  /** `add\tdel\tpath` with `-` (binary) → 0, non-numeric → 0, path = tokens
    * from the 3rd on rejoined with a single space (src/git-parser.ts:158-183,
    * whitespace split at :164 — embedded runs of whitespace collapse, which
    * is the reference's observable behavior for paths with spaces). */
  private def numstatStructExpr(line: String): String =
    s"""named_struct(
       |  'additions', coalesce(try_cast(element_at(split($line, '\\\\s+'), 1) AS BIGINT), 0L),
       |  'deletions', coalesce(try_cast(element_at(split($line, '\\\\s+'), 2) AS BIGINT), 0L),
       |  'file_path', array_join(slice(split($line, '\\\\s+'), 3, greatest(size(split($line, '\\\\s+')) - 2, 1)), ' '))"""
      .stripMargin

  // ---- P1+P2+P5+P6+A4: raw log text → commit-level DataFrame --------------
  /** Parses a DataFrame of (repo_name, branch, raw) into one row per commit:
    * sha, author_email, author_name, committed_at, parents, message,
    * is_merge, file_changes array, and the per-commit rollup
    * additions/deletions/files_changed (A4, src/git-parser.ts:153-174).
    *
    * Block layout after splitting on "COMMIT_START\n" (P1,
    * src/git-parser.ts:137-151): lines 0..5 = %H %ae %an %ct %P %s, line 6 =
    * COMMIT_MSG_END, remaining nonblank lines = numstat triples. Blocks with
    * <6 lines are skipped (":144"); malformed numstat lines (<3 fields) are
    * skipped (":165") — the reference's per-row error isolation (U7).
    */
  def parseLog(raw: DataFrame): DataFrame = {
    val blocks = raw
      .select(
        col("repo_name"), col("branch"),
        explode(split(col("raw"), "COMMIT_START\n")).as("block"))
      .filter(trim(col("block")) =!= "")
      .withColumn("lines", split(col("block"), "\n"))
      .filter(size(col("lines")) >= 6)
    blocks
      .select(
        col("repo_name"),
        col("branch"),
        element_at(col("lines"), 1).as("sha"),
        element_at(col("lines"), 2).as("author_email"),
        element_at(col("lines"), 3).as("author_name"),
        epochToTimestamp(element_at(col("lines"), 4)).as("committed_at"),
        element_at(col("lines"), 5).as("parents"),
        element_at(col("lines"), 6).as("message"),
        expr(
          s"""transform(
             |  filter(slice(lines, 8, greatest(size(lines) - 7, 0)),
             |         l -> l != '' AND l != 'COMMIT_MSG_END'
             |              AND size(split(l, '\\\\s+')) >= 3),
             |  l -> ${numstatStructExpr("l")})""".stripMargin).as("file_changes"))
      .withColumn("is_merge", isMerge(col("parents")))
      .withColumn("additions",
        coalesce(aggregate(col("file_changes"), lit(0L),
          (acc, fc) => acc + fc.getField("additions")), lit(0L)))
      .withColumn("deletions",
        coalesce(aggregate(col("file_changes"), lit(0L),
          (acc, fc) => acc + fc.getField("deletions")), lit(0L)))
      .withColumn("files_changed", size(col("file_changes")).cast("long"))
  }

  /** U3 input: explode the nested file-change array (the reference's flatten
    * at src/database.ts:163-174) with P4 rename resolution applied. Keeps the
    * in-commit position (`ord`) so U3's insert-or-ignore "first occurrence
    * wins" is deterministic (rename + modify can collide post-P4). */
  def explodeFileChanges(commits: DataFrame): DataFrame =
    commits
      .select(
        col("repo_name"), col("sha"),
        posexplode(col("file_changes")).as(Seq("ord", "fc")))
      .select(
        col("repo_name"), col("sha"), col("ord"),
        resolveRenamePath(col("fc.file_path")).as("file_path"),
        col("fc.additions").as("additions"),
        col("fc.deletions").as("deletions"))

  // ---- P7+P8+P9+P10+P11: for-each-ref tag lines → tags DataFrame ----------
  /** Input: (repo_name, raw) where raw is the stdout of
    * `git for-each-ref refs/tags --format=%(refname:short)|%(objecttype)|%(objectname)|%(taggername)|%(taggeremail)|%(taggerdate:unix)|%(subject)|%(contents:body)`
    * (src/git-parser.ts:277-300). Lines with <8 pipe fields are skipped
    * (P7, ":307-320"). */
  def parseTags(raw: DataFrame): DataFrame = {
    val f = split(col("line"), "\\|", 8)
    val isAnnotated = element_at(f, 2) === "tag" // P8
    val nn = (i: Int) =>
      when(isAnnotated && trim(element_at(f, i)) =!= "", trim(element_at(f, i)))
    val subject = element_at(f, 7)
    val body = element_at(f, 8)
    raw
      .select(col("repo_name"), explode(split(col("raw"), "\n")).as("line"))
      .filter(size(split(col("line"), "\\|", 8)) >= 8)
      .select(
        col("repo_name"),
        element_at(f, 1).as("tag_name"),
        element_at(f, 3).as("sha"),
        isAnnotated.as("is_annotated"),
        nn(4).as("tagger_name"),
        stripEmailBrackets(nn(5)).as("tagger_email"), // P9
        when(isAnnotated, tagDate(element_at(f, 6))).as("tag_date"), // P10
        when(isAnnotated, // P11: subject + "\n\n" + body when body nonblank
          when(trim(body) =!= "", concat(subject, lit("\n\n"), trim(body)))
            .otherwise(subject)).as("message"))
  }
}
