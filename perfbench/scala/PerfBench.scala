package graft.git

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.sys.process._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{Main, SparkEntry}

/** JVM half of the benchmark driven by `perfbench/run.py`.
  *
  *   PerfBench <etl-trace|append|ops> <spec.json>
  *
  * The spec names the inputs the Python side generated and where to write
  * the result JSON. Every layer is timed from outside, around calls into
  * the program's public functions (and `etlAppendStaged`'s step hook, which
  * is why this lives in package `graft.git`). With `trace` off only the
  * end-to-end timings are taken; with it on, spans (name, start, end,
  * parent, operation) and counters are recorded in memory and written with
  * the result when the run ends.
  */
object PerfBench {

  val Cores = 4

  // ---- spans -------------------------------------------------------------

  final case class Span(id: Int, op: Int, name: String, parent: Int,
      startNs: Long, endNs: Long)

  final class Tracer(val enabled: Boolean) {
    val spans = mutable.ArrayBuffer[Span]()
    val counters = mutable.LinkedHashMap[String, Double]()
    private var stack: List[Int] = Nil
    private var nextId = 0
    var op = 0

    def span[T](name: String)(f: => T): T =
      if (!enabled) f
      else {
        val id = nextId
        nextId += 1
        val parent = stack.headOption.getOrElse(-1)
        stack = id :: stack
        val t0 = System.nanoTime()
        try f
        finally {
          stack = stack.tail
          spans += Span(id, op, name, parent, t0, System.nanoTime())
        }
      }

    /** A span whose bounds were taken elsewhere (the append step hook),
      * parented to the innermost open span. */
    def record(name: String, t0: Long, t1: Long): Unit =
      if (enabled) {
        spans += Span(nextId, op, name, stack.headOption.getOrElse(-1), t0, t1)
        nextId += 1
      }

    def add(name: String, v: Double): Unit =
      if (enabled) counters(name) = counters.getOrElse(name, 0.0) + v

    def addAll(m: collection.Map[String, Double]): Unit = m.foreach { case (k, v) => add(k, v) }
  }

  // ---- Spark and streaming counters (one listener on the shared bus) -----

  final class Counters extends SparkListener {
    private val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
    private val triggerMs = mutable.ArrayBuffer[Double]()
    private var activeJobs = 0
    private var busySince = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      c("spark.jobs") += 1
      if (Option(e.properties).exists(_.getProperty("sql.streaming.queryId") != null))
        c("StreamGate.jobs") += 1
      if (activeJobs == 0) busySince = e.time
      activeJobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      activeJobs -= 1
      if (activeJobs == 0) c("spark.exec_s") += (e.time - busySince) / 1000.0
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { c("spark.stages") += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      c("spark.tasks") += 1
      val m = e.taskMetrics
      if (m != null) {
        c("spark.task_s") += m.executorRunTime / 1000.0
        c("spark.shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        c("spark.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        c("spark.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
        c("spark.output_bytes") += m.outputMetrics.bytesWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => synchronized {
        c("StreamGate.triggers") += 1
        triggerMs += p.progress.batchDuration.toDouble
      }
      case _ =>
    }

    /** Counter values and trigger durations after every posted event. */
    def snapshot(spark: SparkSession): (Map[String, Double], Seq[Double]) = {
      BusDrain(spark.sparkContext)
      synchronized { (c.toMap, triggerMs.toSeq) }
    }
  }

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    (a.keySet ++ b.keySet).map(k => k -> (b.getOrElse(k, 0.0) - a.getOrElse(k, 0.0))).toMap

  /** Janino compile time so far, in seconds. The histogram keeps a sample
    * of 1028 values; past that the sum is estimated from the mean. */
  def codegenSeconds(): Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val s = h.getSnapshot
    val sumMs = if (h.getCount <= s.size) s.getValues.sum.toDouble else h.getCount * s.getMean
    sumMs / 1000.0
  }

  // ---- session, as graft.Main builds it, capped at local[4] --------------

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "16384")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  // ---- etl-cold, traced: Pipeline.build's order, each boundary materialized

  def etlTrace(spec: JsonNode): Map[String, Any] = {
    val tr = new Tracer(true)
    val cfg = spec.get("config").asText()
    val out = spec.get("out").asText()
    var counters: Counters = null
    var spark: SparkSession = null
    def cached(df: DataFrame): (DataFrame, Long) = {
      val c = df.cache()
      (c, c.count())
    }
    tr.span("etl") {
      spark = tr.span("spark.session")(session())
      counters = new Counters
      spark.sparkContext.addSparkListener(counters)
      val requested = tr.span("Main.discover")(Main.resolveRepos(Main.loadConfig(cfg)))
      val infos = tr.span("GitCli.probe")(requested.flatMap(GitCli.repoInfo))
      val (raw, rawRows) = tr.span("GitCli.extract")(cached(GitCli.rawLogs(spark, infos)))
      tr.span("trace.counters") {
        val r = raw.agg(sum(length(col("raw"))), max(length(col("raw")))).collect()(0)
        tr.add("GitCli.extract_tasks", infos.size)
        tr.add("GitCli.raw_bytes", r.getLong(0).toDouble)
        tr.add("GitCli.max_row_bytes", r.getInt(1))
        tr.add("GitCli.repos_missing", (requested.size - rawRows).toDouble)
      }
      val (parsed, parsedRows) = tr.span("GitParse.parse")(cached(GitParse.parseLog(raw)))
      val (deduped, dedupRows) = tr.span("GitAgg.dedup")(cached(GitAgg.dedupCommits(parsed)))
      val (flagged, _) = tr.span("Validate.validate")(cached(Validate.flagCommits(deduped)))
      val commits = flagged.filter(col("is_valid")).drop("validation_errors", "is_valid")
      val rejects = flagged.filter(!col("is_valid"))
        .select(col("repo_name"), col("sha"), col("validation_errors"))
      val (exploded, explodedRows) =
        tr.span("GitParse.parse")(cached(GitParse.explodeFileChanges(commits)))
      val (fileChanges, fcRows) =
        tr.span("GitAgg.dedup")(cached(GitAgg.dedupFileChanges(exploded)))
      val (rawTags, _) = tr.span("GitCli.tags_files")(cached(GitCli.rawTags(spark, infos)))
      val (files, _) = tr.span("GitCli.tags_files")(cached(GitCli.lsFiles(spark, infos)))
      val (parsedTags, tagRows) = tr.span("GitParse.parse")(cached(GitParse.parseTags(rawTags)))
      val (tags, tagsOut) = tr.span("GitAgg.dedup")(cached(GitAgg.dedupTags(parsedTags)))
      val (authors, repos) = tr.span("GitAgg.aggregate") {
        val a = cached(GitAgg.authors(commits))._1
        val language = GitAgg.repoLanguage(files)
        val r = cached(GitAgg.repoMeta(commits)
          .join(language.withColumnRenamed("repo_name", "name"), Seq("name"), "left"))._1
        (a, r)
      }
      tr.span("trace.counters") {
        tr.add("Validate.rejects", rejects.count().toDouble)
        tr.add("GitParse.commits_out", parsedRows.toDouble)
        tr.add("GitParse.file_changes_out", explodedRows.toDouble)
        tr.add("GitAgg.dedup_rows_in", (parsedRows + explodedRows + tagRows).toDouble)
        tr.add("GitAgg.dedup_rows_out", (dedupRows + fcRows + tagsOut).toDouble)
      }
      tr.span("Pipeline.write") {
        commits.drop("file_changes").write.mode("overwrite").parquet(s"$out/commits")
        authors.write.mode("overwrite").parquet(s"$out/authors")
        fileChanges.write.mode("overwrite").parquet(s"$out/file_changes")
        tags.write.mode("overwrite").parquet(s"$out/tags")
        repos.write.mode("overwrite").parquet(s"$out/repos")
        rejects.write.mode("overwrite").parquet(s"$out/rejects")
      }
      tr.span("Pipeline.report") {
        println(Pipeline.summaryReport(Pipeline.readSnapshot(spark, out, "commits")))
      }
    }
    tr.addAll(counters.snapshot(spark)._1)
    tr.add("spark.codegen_s", codegenSeconds())
    spark.stop()
    traceOut(tr)
  }

  // ---- etl-append: warm incremental appends + README Q1–Q5 --------------

  /** README queries Q1–Q5 over store tables, with a deterministic order on
    * ties so results compare exactly. */
  val Readme: Seq[(String, Seq[String], Seq[DataFrame] => DataFrame)] = Seq(
    ("Q1", Seq("authors"), t => t.head
      .select(col("name"), col("email"), col("total_commits"))
      .orderBy(col("total_commits").desc, col("email"))),
    ("Q2", Seq("commits"), t => t.head
      .groupBy(to_date(col("committed_at")).as("day"))
      .agg(count(lit(1)).as("commits"), sum(col("additions")).as("additions"),
        sum(col("deletions")).as("deletions"))
      .orderBy(col("commits").desc, col("day")).limit(10)),
    ("Q3", Seq("file_changes"), t => t.head
      .groupBy(col("repo_name"), col("file_path"))
      .agg(count(lit(1)).as("commits_touching_file"),
        sum(col("additions")).as("additions"), sum(col("deletions")).as("deletions"))
      .orderBy(col("commits_touching_file").desc, col("repo_name"), col("file_path"))
      .limit(20)),
    ("Q4", Seq("commits"), t => t.head
      .groupBy(col("repo_name")).agg(count(lit(1)).as("commits"))
      .orderBy(col("repo_name"))),
    ("Q5", Seq("tags"), t => t.head
      .groupBy(col("repo_name"))
      .agg(count(lit(1)).as("tags"),
        sum(when(col("is_annotated"), 1).otherwise(0)).as("annotated"))
      .orderBy(col("repo_name"))))

  def rowsJson(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(_.toSeq.map(v => if (v == null) null else v.toString))

  def fastImport(repo: String, stream: String): Unit = {
    val rc = (Process(Seq("git", "fast-import", "--quiet"), new java.io.File(repo)) #<
      new java.io.File(stream)).!(ProcessLogger(_ => ()))
    require(rc == 0, s"git fast-import failed in $repo")
  }

  /** Data files (bytes) under `dir`, recursively. */
  def parquetBytes(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val files = Files.walk(dir).iterator.asScala
        .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p)).toSeq
      (files.size.toLong, files.map(Files.size).sum)
    }

  def append(spec: JsonNode): Map[String, Any] = {
    val trace = spec.get("trace").asBoolean()
    val tr = new Tracer(trace)
    val store = spec.get("store").asText()
    val repos = spec.get("repos").elements.asScala.map(_.asText()).toSeq
    val batches = spec.get("batches").elements.asScala
      .map(b => (b.get("repo").asText(), b.get("stream").asText())).toSeq
    val seconds = spec.get("seconds").asDouble()
    val minOps = spec.get("min_ops").asInt()

    val t0 = System.nanoTime()
    val spark = session()
    val sessionS = secs(t0)
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val t1 = System.nanoTime()
    Main.runAppend(spark, repos, store, None)
    val buildS = secs(t1)

    def tracedAppend(repo: String): Unit = {
      var mark = System.nanoTime()
      def cut(name: String): Unit = {
        val now = System.nanoTime()
        tr.record(name, mark, now)
        mark = now
      }
      // Steps: after:rollback, after:<table> per table, before:flip,
      // after:flip. The last span runs from the last table to the return:
      // the store-manifest flip, generation GC and the rejects write.
      Pipeline.etlAppendStaged(spark, Seq(repo), store, None, {
        case "after:rollback" => cut("Pipeline.rollback")
        case "before:flip" | "after:flip" =>
        case s => cut("Pipeline.publish." + s.stripPrefix("after:"))
      })
      cut("Pipeline.flip_gc")
      Seq("commits", "file_changes", "tags", "repos").foreach(t =>
        tr.span("Pipeline.compact")(Pipeline.compact(spark, store, t)))
      tr.span("Pipeline.report")(println(Pipeline.summaryReport(
        Pipeline.readSnapshot(spark, store, "commits"))))
    }

    /** One operation: append `repo` into the store, then README Q1–Q5 over
      * the new snapshot. Returns (append seconds, per-query (ms, rows)). */
    def cycle(repo: String, traced: Boolean): (Double, Seq[(Double, Seq[Seq[String]])]) = {
      val a0 = System.nanoTime()
      tr.span("append") {
        if (traced) tracedAppend(repo) else Main.runAppend(spark, Seq(repo), store, None)
      }
      val appendS = secs(a0)
      val reads = Readme.map { case (_, tables, f) =>
        val r0 = System.nanoTime()
        val rows = tr.span("readme") {
          val dfs = tr.span("Pipeline.snapshot_resolve")(
            tables.map(Pipeline.readStoreSnapshot(spark, store, _)))
          tr.span("spark.query")(rowsJson(f(dfs)))
        }
        ((System.nanoTime() - r0) / 1e6, rows)
      }
      (appendS, reads)
    }

    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val loop0 = System.nanoTime()
    var i = 0
    while (i < batches.size && (i < minOps || secs(loop0) < seconds)) {
      val (repo, stream) = batches(i)
      fastImport(repo, stream)
      tr.op = i
      val c0 = if (trace) counters.snapshot(spark)._1 else Map.empty[String, Double]
      val g0 = codegenSeconds()
      val repoName = Paths.get(repo).getFileName.toString
      val cpu0 = cpuSeconds()
      val (appendS, reads) = cycle(repo, trace)
      val cpuS = cpuSeconds() - cpu0
      if (trace) tr.span("trace.counters") {
        val d = delta(c0, counters.snapshot(spark)._1)
        tr.addAll(d)
        tr.add("spark.codegen_s", codegenSeconds() - g0)
        val base = Paths.get(store)
        val touched = Seq(s"commits/repo_name=$repoName", s"file_changes/repo_name=$repoName",
          s"tags/repo_name=$repoName", s"repos/name=$repoName", "authors")
        val live = touched.map(t => parquetBytes(base.resolve(t))._2).sum
        val written = d.getOrElse("spark.output_bytes", 0.0)
        tr.add("Pipeline.bytes_written", written)
        tr.add("Pipeline.write_amp", if (live > 0) written / live else 0.0)
        tr.add("Pipeline.store_files", Pipeline.StoreTables
          .map(t => parquetBytes(base.resolve(t))._1).sum.toDouble)
      }
      ops += Map("repo" -> repoName, "append_s" -> appendS, "cpu_s" -> cpuS,
        "read_ms" -> reads.map(_._1),
        "q1_total_commits" -> reads(0)._2.map(_(2).toLong).sum,
        "q4" -> reads(3)._2.map(r => r(0) -> r(1).toLong).toMap)
      i += 1
    }
    val finalRows = Readme.map { case (q, tables, f) =>
      q -> rowsJson(f(tables.map(Pipeline.readStoreSnapshot(spark, store, _))))
    }.toMap
    // The traced run also takes the operator slice through this warm
    // session, so the per-layer report covers the query kernels.
    val slice = Option(spec.get("slice")).map(slicePass(spark, counters, trace, _))
    val res = slice.map(m => Map("slice" -> m)).getOrElse(Map.empty) ++
      Map("session_s" -> sessionS, "store_build_s" -> buildS, "peak_rss_mb" -> peakRssMb(),
      "ops" -> ops.toSeq, "readme_final" -> finalRows)
    spark.stop()
    res ++ traceOut(tr)
  }

  // ---- ops-slice: a pinned slice of the registry through the noop sink ---

  /** The slice, twice in one session: first every query to parquet for
    * the DuckDB oracle (this also compiles each query's generated code),
    * then the timed pass through the noop sink, as `graft.Bench` runs it. */
  def slicePass(spark: SparkSession, counters: Counters, trace: Boolean,
      spec: JsonNode): Map[String, Any] = {
    val tr = new Tracer(trace)
    val sfDir = spec.get("sf_dir").asText()
    val checkDir = spec.get("check_dir").asText()
    val slice = spec.get("queries").properties.asScala.map(e => e.getKey -> e.getValue.asText()).toSeq
    val unknown = slice.map(_._1).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"queries missing from the registry: ${unknown.mkString(", ")}")
    def failure(e: Throwable) = s"${e.getClass.getName}: ${e.getMessage}"

    val checked = slice.map { case (name, _) =>
      spark.catalog.clearCache()
      try {
        SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$checkDir/$name")
        name -> null
      } catch { case e: Throwable => name -> failure(e) }
    }.toMap

    val cpu0 = cpuSeconds()
    val trig0 = counters.snapshot(spark)._2.size
    val results = slice.zipWithIndex.map { case ((name, family), i) =>
      spark.catalog.clearCache()
      tr.op = i
      val fn = SparkEntry.queries(name)
      val c0 = if (tr.enabled) counters.snapshot(spark)._1 else Map.empty[String, Double]
      val g0 = codegenSeconds()
      val q0 = System.nanoTime()
      val err = try {
        tr.span("ops." + family) {
          if (tr.enabled) {
            val df = tr.span("spark.build")(fn(spark, sfDir))
            tr.span("spark.plan")(df.queryExecution.executedPlan)
            tr.add("spark.plan_nodes", df.queryExecution.sparkPlan.collect { case p => p }.size)
            tr.span("spark.execute")(df.write.format("noop").mode("overwrite").save())
          } else fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
        None
      } catch { case e: Throwable => Some(failure(e)) }
      val wall = secs(q0)
      if (tr.enabled) tr.span("trace.counters") {
        tr.addAll(delta(c0, counters.snapshot(spark)._1))
        tr.add("spark.codegen_s", codegenSeconds() - g0)
      }
      Map("name" -> name, "family" -> family, "wall_s" -> wall, "error" -> err.orNull)
    }
    Map("cpu_s" -> (cpuSeconds() - cpu0), "queries" -> results, "check_errors" -> checked,
      "oracle_sql" -> slice.map(_._1).flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap,
      "trigger_ms" -> counters.snapshot(spark)._2.drop(trig0)) ++ traceOut(tr)
  }

  def opsSlice(spec: JsonNode): Map[String, Any] = {
    val t0 = System.nanoTime()
    val spark = session()
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val setupS = secs(t0)
    val res = slicePass(spark, counters, spec.get("trace").asBoolean(), spec) ++
      Map("setup_s" -> setupS, "peak_rss_mb" -> peakRssMb())
    spark.stop()
    res
  }

  // ---- output ------------------------------------------------------------

  def traceOut(tr: Tracer): Map[String, Any] =
    if (!tr.enabled) Map.empty
    else Map(
      "spans" -> tr.spans.toSeq.map(s => Map("id" -> s.id, "op" -> s.op, "name" -> s.name,
        "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
      "counters" -> tr.counters.toMap)

  def toJava(v: Any): AnyRef = v match {
    case m: collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case o: Option[_] => o.map(toJava).orNull
    case null => null
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: PerfBench <etl-trace|append|ops> <spec.json>")
    val mapper = new ObjectMapper()
    val spec = mapper.readTree(new java.io.File(args(1)))
    val res = args(0) match {
      case "etl-trace" => etlTrace(spec)
      case "append" => append(spec)
      case "ops" => opsSlice(spec)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    mapper.writeValue(new java.io.File(spec.get("result").asText()), toJava(res))
  }
}
