package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.SparkEntry
import graft.engine.{Dedup, Similarity, Tables, TextOps}
import graft.jobs._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import scala.collection.mutable.ArrayBuffer

/** The benchmark's JVM side. `perfbench/run.py` generates the inputs,
  * launches one of the modes below, and turns the JSON record this
  * writes into metrics:
  *
  *   oracles   <out.json> <query,...>    the DuckDB oracle SQL of each query
  *   check     --mode warm|cold ...      every query's rows, for the oracle check
  *   batch     --mode warm|cold ...      one session, a warmup pass, timed passes
  *   pipelines --work <dir> ...          the five job entry points
  *
  * Every timed call goes through the program's public entry points
  * (`SparkEntry.queries`, the `*Job.run` functions, the partition
  * committer), on a session built by `Jobs.session`. Listeners are
  * registered only with `--trace 1`. */
object Driver {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Wall clock in epoch ms with sub-ms resolution. */
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** A timed region. `group` is the Spark job group set for the calls
    made inside it, which is how the report hangs Spark jobs under it. */
  final case class Span(id: Int, name: String, parent: Int, group: String,
      start: Double, var end: Double = 0.0)

  /** The run's span tree. Spans opened with `open` nest and close in
    * LIFO order on the main thread; `beside` opens a span under a given
    * parent for work running on another thread. */
  final class Spans(sc: org.apache.spark.SparkContext) {
    val all = ArrayBuffer.empty[Span]
    private var stack = List.empty[Span]
    private def add(name: String, parent: Int, group: String): Span = synchronized {
      if (group != null) sc.setJobGroup(group, name)
      val s = Span(all.size, name, parent, group, now())
      all += s
      s
    }
    def open(name: String, group: String = null): Span = {
      val s = add(name, stack.headOption.map(_.id).getOrElse(-1), group)
      stack = s :: stack
      s
    }
    def beside(name: String, parent: Span, group: String): Span = add(name, parent.id, group)
    def close(s: Span): Unit = {
      s.end = now()
      stack = stack.dropWhile(_ ne s).drop(1)
    }
    def apply[T](name: String, group: String = null)(body: => T): T = {
      val s = open(name, group)
      try body finally close(s)
    }
    def toSeq: Seq[Map[String, Any]] = synchronized(all.toSeq).map(s => Map("id" -> s.id,
      "name" -> s.name, "parent" -> s.parent, "group" -> s.group, "start" -> s.start, "end" -> s.end))
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("oracles") =>
      val want = args(2).split(',').toSet
      val m = SparkEntry.oracleSql.filter { case (k, _) => want(k) }
      Files.writeString(Paths.get(args(1)), Json.value(m))
    case Some("check") => check(opts(args.tail))
    case Some("batch") => batch(opts(args.tail))
    case Some("pipelines") => pipelines(opts(args.tail))
    case other => throw new IllegalArgumentException(s"unknown mode: $other")
  }

  private def opts(a: Array[String]): Map[String, String] =
    a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  private def context(spark: SparkSession): Map[String, Any] = Map(
    "spark_version" -> spark.version,
    "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "master" -> spark.sparkContext.master,
    "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)

  private def write(out: String, fields: (String, Any)*): Unit =
    Files.writeString(Paths.get(out), Json.obj(fields: _*))

  /** Bytes held by persisted blocks (memory + disk) right now. */
  private def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def errText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)

  // ---------------------------------------------------------------- batch

  /** Memo reset run before each query: `clearCache()`, and in cold
    * mode the engine's memos as well. */
  private def resetter(spark: SparkSession, cold: Boolean): () => Unit = () => {
    spark.sqlContext.clearCache()
    if (cold) {
      Tables.clearMemos(spark)
      Dedup.clearMemos(spark)
      Similarity.clearMemos(spark)
    }
  }

  /** The check pass: every query's rows land in --dump/<query> for the
    * oracle comparison. The tables are the same in every run, so this
    * runs once per build of the program, not in every timed run. */
  def check(o: Map[String, String]): Unit = {
    val spark = Jobs.session("perfbench-check")
    spark.sparkContext.setLogLevel("ERROR")
    val reset = resetter(spark, o("mode") == "cold")
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    o("queries").split(',').foreach { q =>
      reset()
      try SparkEntry.queries(q)(spark, o("data")).coalesce(1).write.mode("overwrite")
        .parquet(s"${o("dump")}/$q")
      catch { case e: Throwable => errors(q) = errText(e) }
    }
    write(o("out"), "check_errors" -> errors.toMap)
    spark.stop()
  }

  def batch(o: Map[String, String]): Unit = {
    val names = o("queries").split(',').toSeq
    val data = o("data")
    val traced = o("trace") == "1"
    val seconds = o("seconds").toDouble
    val spark = Jobs.session("perfbench-batch")
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val spans = new Spans(sc)
    val reset = resetter(spark, o("mode") == "cold")

    // One untimed noop pass warms the JIT and the code generator, so
    // the first timed pass does not carry them. Part of set-up.
    val warmup = names.map { q =>
      reset()
      val t0 = now()
      try SparkEntry.queries(q)(spark, data).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      q -> (now() - t0)
    }.toMap
    val trace = new Trace
    val samples = ArrayBuffer.empty[Map[String, Any]]
    var peakCached = 0L
    val measureStart = now()
    val run = spans.open("run")
    val wl = spans.open(o("workload"))
    var pass = 0
    def onePass(tracedPass: Boolean): Unit = {
      val ps = spans.open(s"pass:$pass")
      names.foreach { q =>
        reset()
        val qs = spans.open(s"query:$q")
        val group = s"p$pass:$q"
        var ok = true
        var err: String = null
        var tBuild = 0.0
        val t0 = now()
        try {
          val df = spans("build", s"$group:build")(SparkEntry.queries(q)(spark, data))
          tBuild = now()
          spans("exec", s"$group:exec")(df.write.format("noop").mode("overwrite").save())
        } catch { case e: Throwable =>
          ok = false
          err = errText(e)
        }
        val t2 = now()
        spans.close(qs)
        sc.clearJobGroup()
        val cached = cachedBytes(spark)
        peakCached = peakCached max cached
        samples += Map("query" -> q, "pass" -> pass, "traced" -> tracedPass,
          "ok" -> ok, "error" -> err, "start" -> t0, "end" -> t2,
          "build_ms" -> (if (ok) tBuild - t0 else 0.0),
          "exec_ms" -> (if (ok) t2 - tBuild else 0.0),
          "wall_ms" -> (t2 - t0), "cached_bytes" -> cached)
      }
      spans.close(ps)
      pass += 1
    }
    def listen(on: Boolean): Unit = if (on) {
      sc.addSparkListener(trace)
      spark.listenerManager.register(trace)
    } else {
      org.apache.spark.sql.PerfbenchBridge.drainListenerBus(sc)
      spark.listenerManager.unregister(trace)
      sc.removeSparkListener(trace)
    }
    // At least three timed passes, so the reported median is a real
    // one. With tracing on, passes alternate untraced, traced, untraced,
    // ... (at least five), so each traced pass is compared with the
    // untraced passes on either side of it.
    val minPasses = if (traced) 5 else 3
    do {
      val on = traced && pass % 2 == 1
      if (on) listen(true)
      onePass(tracedPass = on)
      if (on) listen(false)
    } while (now() - measureStart < seconds * 1000 || pass < minPasses)
    spans.close(wl)
    spans.close(run)
    write(o("out"), "context" -> context(spark), "measure_start_ms" -> measureStart,
      "warmup_ms" -> warmup, "samples" -> samples.toSeq,
      "peak_cached_bytes" -> peakCached, "spans" -> spans.toSeq,
      "trace" -> (if (traced) RawJson(trace.toJson) else null))
    spark.stop()
  }

  // ------------------------------------------------------------ pipelines

  private val twins = Seq("text", "parquet", "hive")

  def pipelines(o: Map[String, String]): Unit = {
    val work = o("work")
    val traced = o("trace") == "1"
    val spark = Jobs.session("perfbench-pipelines", hive = true)
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val spans = new Spans(sc)
    val trace = new Trace
    val queryJob = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
    val records = new ArrayBuffer[Map[String, Any]] {
      override def addOne(r: Map[String, Any]): this.type = synchronized(super.addOne(r))
    }
    val checks = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val errors = new ArrayBuffer[String] {
      override def addOne(e: String): this.type = synchronized(super.addOne(e))
    }
    var peakCached = 0L
    def snap(): Unit = synchronized { peakCached = peakCached max cachedBytes(spark) }

    def cfg(job: String, tag: String): JobConfig = JobConfig(source = "file",
      inputDir = s"$work/in$tag/$job", checkpointDir = s"$work/ck$tag/$job",
      sinkPath = s"$work/sink$tag/$job", tableName = s"source_log$tag",
      tableLocation = s"$work/table$tag", stagingDir = s"$work/staging$tag",
      partitionCommitDelayMs = 0L, autoCompaction = true, availableNow = true)

    /** Start one twin; returns its query and, for Hive, the committer. */
    def start(job: String, c: JobConfig): (StreamingQuery, Option[graft.engine.PartitionCommitter]) = {
      val r = job match {
        case "text" => (TextJob.run(spark, c), None)
        case "parquet" => (ParquetJob.run(spark, c), None)
        case "hive" =>
          val h = HiveJob.run(spark, c)
          (h.query, Some(h.committer))
      }
      queryJob.put(r._1.id, job)
      r
    }

    /** Backlog drain with --available-now: (run-return ms, drain ms). */
    def drain(job: String, tag: String): (Double, Double) = {
      val t0 = now()
      val (q, committer) = spans("start", s"job:$job:start$tag")(start(job, cfg(job, tag)))
      val t1 = now()
      spans("drain", s"job:$job:drain$tag") {
        q.awaitTermination()
        committer.foreach(_.commitReady(Long.MaxValue))
      }
      q.exception.foreach(e => errors += s"$job drain: ${errText(e)}")
      (t1 - t0, now() - t1)
    }

    // Setup: the streaming-curation history input, fingerprinted by the
    // engine's own function.
    spark.read.parquet(s"$work/stream/history_docs")
      .select(TextOps.fingerprint(col("text")).as("fp"))
      .write.mode("overwrite").parquet(s"$work/stream/history_fp")

    val measureStart = now()
    // Traced runs first drain a copy of every backlog without the
    // listeners, so the trace states its own overhead.
    if (traced) {
      // the first round warms the drain path; the second is the reference
      twins.foreach(j => drain(j, "_ref"))
      val ref = twins.map(j => drain(j, "_ref2")._2)
      records += Map("kind" -> "untraced_drains", "drain_ms" -> ref)
      sc.addSparkListener(trace)
      spark.listenerManager.register(trace)
      spark.streams.addListener(trace.streamListener(id => Option(queryJob.get(id))))
    }
    val run = spans.open("run")
    val wl = spans.open("pipelines")
    twins.foreach { job =>
      val js = spans.open(s"job:$job")
      val (startMs, drainMs) = drain(job, "")
      snap()
      records += Map("kind" -> "drain", "job" -> job, "start_ms" -> startMs,
        "drain_ms" -> drainMs)
      spans.close(js)
    }

    // Closed-loop waves, served by a second deployment of each twin
    // (its own checkpoint, sink and table) on a back-to-back trigger:
    // wave k+1 is published to the three only after each committed
    // wave k. A wave's latency runs from the atomic rename that
    // publishes it to the end of the micro-batch that committed it.
    val wavesSpan = spans.open("waves")
    val live = twins.map { job =>
      val c = cfg(job, "_w").copy(availableNow = false, checkpointInterval = 0L)
      val (q, cm) = spans(s"start:$job", s"job:$job:waves")(start(job, c))
      (job, c, q, cm)
    }
    val seen = scala.collection.mutable.Map(twins.map(_ -> -1L): _*)
    (0 until o("waves").toInt).foreach { k =>
      val ws = spans.open(s"wave:$k")
      val published = live.map { case (job, c, _, _) =>
        val f = Paths.get(s"$work/pending/$job", f"wave_$k%05d.json")
        val t = now()
        Files.move(f, Paths.get(c.inputDir).resolve(f.getFileName),
          StandardCopyOption.ATOMIC_MOVE)
        job -> t
      }.toMap
      val deadline = now() + 60000
      var waiting = live
      while (waiting.nonEmpty && now() < deadline) {
        waiting = waiting.filter { case (job, _, q, _) =>
          q.recentProgress.filter(p => p.batchId > seen(job) && p.numInputRows > 0)
            .lastOption match {
            case Some(p) =>
              val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
                p.durationMs.get("triggerExecution").longValue
              seen(job) = p.batchId
              records += Map("kind" -> "wave", "job" -> job, "wave" -> k,
                "published" -> published(job), "committed" -> end,
                "latency_ms" -> (end - published(job)))
              false
            case None => q.isActive
          }
        }
        if (waiting.nonEmpty) Thread.sleep(1)
      }
      waiting.foreach(w => errors += s"${w._1} wave $k: no commit within 60 s")
      spans.close(ws)
      snap()
    }
    live.foreach { case (job, _, q, _) =>
      q.stop()
      q.exception.foreach(e => errors += s"$job waves: ${errText(e)}")
    }
    live.flatMap(_._4).foreach { cm =>
      val t0 = now()
      spans("commit", "job:hive:commit")(cm.commitReady(Long.MaxValue))
      val t1 = now()
      spans("compact", "job:hive:compact")(cm.awaitCompactions())
      snap()
      records += Map("kind" -> "commit", "job" -> "hive", "commit_ms" -> (t1 - t0),
        "compact_ms" -> (now() - t1))
    }
    spans.close(wavesSpan)

    // The two curation jobs run side by side, each on its own thread, as
    // a batch job shares a cluster with an always-on one.
    def side(name: String)(body: => Unit): Thread = {
      val t = new Thread(() => {
        val span = spans.beside(s"job:$name", wl, s"job:$name")
        try body catch { case e: Throwable => errors += s"$name: ${errText(e)}" }
        span.end = now()
        records += Map("kind" -> name, "run_ms" -> (span.end - span.start))
        snap()
      }, s"perfbench-$name")
      t.start()
      t
    }
    val curation = side("curation")(CurationJob.run(spark, JobConfig(source = "file",
      inputDir = s"$work/docs", stagingDir = s"$work/cur_staging",
      sinkPath = s"$work/cur_out", benchmarkDir = s"$work/bench_eval")))
    // streaming curation: one corpus file per trigger, history slice
    val streamCuration = side("stream_curation") {
      val t0 = now()
      val q = StreamCurationJob.run(spark, JobConfig(source = "file",
        inputDir = s"$work/stream/in", checkpointDir = s"$work/stream/ck",
        stagingDir = s"$work/stream/staging", sinkPath = s"$work/stream/out",
        historyDir = s"$work/stream/history_fp", availableNow = true,
        maxFilesPerTrigger = 1L))
      queryJob.put(q.id, "stream_curation")
      records += Map("kind" -> "stream_curation_start", "start_ms" -> (now() - t0))
      q.awaitTermination()
      q.exception.foreach(e => errors += s"stream_curation: ${errText(e)}")
    }

    curation.join()
    streamCuration.join()
    spans.close(wl)
    spans.close(run)
    if (traced) {
      org.apache.spark.sql.PerfbenchBridge.drainListenerBus(sc)
      spark.listenerManager.unregister(trace)
      sc.removeSparkListener(trace)
    }
    sc.clearJobGroup()

    // Output checks (not timed): what each sink holds, by its own
    // commit protocol — file sinks through their metadata logs, the
    // table through the catalog.
    def uuidStats(df: DataFrame, uuid: org.apache.spark.sql.Column): Map[String, Any] = {
      val r = df.select(count(lit(1)), countDistinct(uuid),
        sum(conv(substring(md5(uuid), 1, 15), 16, 10).cast("decimal(38,0)")))
        .head()
      Map("rows" -> r.getLong(0), "distinct" -> r.getLong(1),
        "hash" -> Option(r.getDecimal(2)).map(_.toString).getOrElse("0"))
    }
    def safely(name: String)(body: => Any): Unit =
      try checks(name) = body catch { case e: Throwable => errors += s"check $name: ${errText(e)}" }
    val checksStart = now()
    // each twin's backlog deployment plus its waves deployment
    val deployments = Seq("", "_w")
    def both(read: String => DataFrame): DataFrame = deployments.map(read).reduce(_ union _)
    def fileStats(dirs: Seq[String]): Map[String, Any] = {
      val fs = dirs.flatMap(dataFiles)
      Map("files" -> fs.size, "bytes" -> fs.map(Files.size).sum)
    }
    safely("text") {
      val t = both(d => spark.read.text(s"$work/sink$d/text"))
      val uuid = get_json_object(col("value"), "$.uuid")
      uuidStats(t.filter(uuid.isNotNull), uuid) + ("lines" -> t.count())
    }
    safely("parquet") {
      val p = both(d => spark.read.parquet(s"$work/sink$d/parquet"))
      uuidStats(p, col("uuid")) + ("error_bucket" -> p.filter(col("logday") === "error").count())
    }
    safely("hive")(uuidStats(both(d => spark.table(s"source_log$d")), col("uuid")))
    safely("sink_files")(Map(
      "text" -> fileStats(deployments.map(d => s"$work/sink$d/text")),
      "parquet" -> fileStats(deployments.map(d => s"$work/sink$d/parquet")),
      // a committed partition lives in its staging directory until
      // compaction moves it to a sibling directory there
      "hive" -> fileStats(deployments.flatMap(d => Seq(s"$work/table$d", s"$work/staging$d")))))
    safely("hive_partitions")(deployments.map(d =>
      spark.sql(s"SHOW PARTITIONS source_log$d").count()).sum)
    safely("curation") {
      val fs = dataFiles(s"$work/cur_out")
      Map("rows" -> spark.read.parquet(s"$work/cur_out").count(), "files" -> fs.size,
        "bytes" -> fs.map(Files.size).sum)
    }
    safely("stream_curation") {
      val fs = dataFiles(s"$work/stream/out")
      Map("doc_ids" -> spark.read.parquet(s"$work/stream/out").select("doc_id")
        .collect().map(_.getLong(0)).toSeq, "files" -> fs.size,
        "bytes" -> fs.map(Files.size).sum)
    }
    write(o("out"), "context" -> context(spark), "measure_start_ms" -> measureStart,
      "records" -> records.toSeq, "peak_cached_bytes" -> peakCached,
      "checks_ms" -> (now() - checksStart),
      "checks" -> checks.toMap, "errors" -> errors.toSeq,
      "stream_queries" -> {
        import scala.jdk.CollectionConverters._
        queryJob.asScala.map { case (id, job) => id.toString -> job }.toMap
      },
      "spans" -> spans.toSeq, "trace" -> (if (traced) RawJson(trace.toJson) else null))
    spark.stop()
  }

  /** Data files (not metadata, checksums or markers) under `dir`. */
  private def dataFiles(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return Seq.empty
    val s = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(p => Files.isRegularFile(p) && {
        val n = p.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_") &&
          !p.toString.contains("_spark_metadata")
      }).toList
    } finally s.close()
  }
}

/** A value already rendered as JSON. */
final case class RawJson(json: String) {
  override def toString: String = json
}
