package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.corpus.CorpusGen
import graft.jobs.{FileResumableExtract, JobSession}
import graft.model.OutSpan
import graft.parse.{DocParser, SignatureTable}

/** The benchmark's JVM side: set-up, the measured operations, the output
  * checks and, with `--trace 1`, the per-layer breakdown. `run.py` builds
  * and launches it, and adds the DuckDB oracle check for driver-queries.
  *
  * Usage: Main --workload <extract-job|resume|driver-queries> --seed <n>
  *   --seconds <n> --trace <0|1> --work <dir> --goldens <jsonl>
  *   --qdata <dir> --result <json>
  */
object Main {
  val Workloads = Seq("extract-job", "resume", "driver-queries")

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, goldens: String, qdata: String,
      result: String)

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val a = Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("work"), get("goldens"), get("qdata"), get("result"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    Files.writeString(Paths.get(a.result), new Bench(a).run())
  }
}

/** Query families of the driver-queries workload, by name prefix. */
object Families {
  val All = Seq("extract", "relational", "dedup", "vector", "text",
    "curation", "sampling", "multimodal")

  def of(query: String): String = query.takeWhile(_ != '_') match {
    case "a2" => "relational"
    case q if q.startsWith("x") || q.startsWith("a") => "extract"
    case q if q.startsWith("q") || q.startsWith("p") => "relational"
    case q if q.startsWith("d") => "dedup"
    case q if q.startsWith("v") => "vector"
    case q if q.startsWith("t") => "text"
    case q if q.startsWith("c") => "curation"
    case q if q.startsWith("s") => "sampling"
    case q if q.startsWith("m") => "multimodal"
    case q => sys.error(s"query $q has no family")
  }

  /** Single queries ROADMAP names as optimisation targets. */
  val Targets = Seq("c1", "c2", "c3", "d2", "x5", "d7", "v4", "v6", "d8", "q1", "x3")
}

final class Bench(a: Main.Args) {
  import Bench._

  private val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
  private val work = Paths.get(a.work)
  private val (lo, hi) = a.workload match {
    case "resume" =>
      val (l, _) = Stats.docWindow(a.seed); (l, l + ResumeFiles * ResumeDocsPerFile)
    case _ => Stats.docWindow(a.seed)
  }
  private val nDocs = hi - lo
  private val tracer = new Tracer
  private val listener = new EngineListener
  private val perLayer = mutable.LinkedHashMap.empty[String, Double]
  private var attempted = 0L
  private var failed = 0L
  private val failedQueries = mutable.LinkedHashSet.empty[String]

  private def dir(name: String): String = work.resolve(name).toString

  private def now(): Double = System.nanoTime() / 1e9

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  // ---- phases and job groups ------------------------------------------

  /** Runs `body` as one phase: a span when `traced`, and in any case a job
    * group naming it, so Spark jobs attach to the phase.
    */
  private def phase[A](spark: SparkSession, name: String, traced: Boolean)(body: => A): A = {
    def inGroup(group: String): A = {
      lastGroup = group
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
      try body finally spark.sparkContext.clearJobGroup()
    }
    if (!traced) inGroup(s"untraced:$name")
    else tracer.span(name, "phase")(inGroup(s"span:${tracer.current}"))
  }

  /** Job group of the latest phase, which its Spark jobs carry. */
  private var lastGroup = ""

  private def op[A](name: String, traced: Boolean)(body: => A): A =
    if (traced) tracer.span(name, "operation")(body) else body

  private def noop(df: DataFrame): Unit =
    // noop sink, not count(): count() lets Catalyst prune columns and even
    // whole join subtrees (see graft.Bench)
    df.write.format("noop").mode("overwrite").save()

  // ---- inputs -----------------------------------------------------------

  private def writeCorpus(spark: SparkSession, out: String, from: Long,
      until: Long, files: Int): Unit = {
    import spark.implicits._
    spark.range(from, until, 1, files).map(i => CorpusGen.gen(i))
      .write.mode("overwrite").parquet(out)
  }

  /** Resume state: half the files committed, the rest written but not
    * committed (a kill after the write phase).
    */
  private def prepareResume(spark: SparkSession): Unit = {
    writeCorpus(spark, dir("resume_in"), lo, hi, ResumeFiles)
    val ids = FileResumableExtract.inputFilesWithIds(spark, dir("resume_in")).map(_._2)
    require(ids.length == ResumeFiles, s"resume corpus has ${ids.length} files")
    FileResumableExtract.run(spark, dir("resume_in"), dir("resume_prep"),
      onlyFiles = Some(ids.take(ids.length / 2).toSet))
    try {
      FileResumableExtract.run(spark, dir("resume_in"), dir("resume_prep"),
        failAfter = Some("write"))
      sys.error("resume preparation: injected kill did not fire")
    } catch { case FileResumableExtract.InjectedKill(_) => () }
  }

  /** Files the restart processes: those the prepared state left uncommitted. */
  private def resumeRestIds(spark: SparkSession): Set[String] =
    FileResumableExtract.inputFilesWithIds(spark, dir("resume_in")).map(_._2).toSet --
      FileResumableExtract.completedFileIds(spark, dir("resume_prep"))

  private def prepareInputs(spark: SparkSession): Unit = a.workload match {
    case "extract-job" => writeCorpus(spark, dir("corpus"), lo, hi, ExtractFiles)
    case "resume" => prepareResume(spark)
    case _ => ()
  }

  // ---- set-up -----------------------------------------------------------

  /** A small instance of the workload's own operation. The job warm-up
    * writes its own 1,000-doc input first: that is the JVM's first Spark
    * job, and its cold cost belongs to set-up.
    */
  private def warmUp(spark: SparkSession): Unit =
    if (a.workload == "driver-queries")
      WarmQueries.foreach(q => noop(SparkEntry.queries(q)(spark, a.qdata)))
    else {
      writeCorpus(spark, dir("warm_in"), lo, lo + WarmDocs, WarmFiles)
      val out = dir("warm_out")
      FileResumableExtract.run(spark, dir("warm_in"), out)
      noop(FileResumableExtract.readResults(spark, out))
    }

  /** Session build and warm-up, once, in this fresh JVM, before any input
    * is generated. `setup_s` runs from the JVM's start to the end of the
    * warm-up, so JVM start-up, class loading and the first Spark jobs'
    * code generation count.
    */
  private def setup(): SparkSession = {
    val t0 = now()
    val spark = JobSession.build("graft-perfbench")
    val t1 = now()
    warmUp(spark)
    val t2 = now()
    setupS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    perLayer("setup.session_s") = t1 - t0
    perLayer("setup.warmup_s") = t2 - t1
    log(f"setup (s): jvm start to warm ${setupS}%.3f, session ${t1 - t0}%.3f, warm-up ${t2 - t1}%.3f")
    val ti = now()
    prepareInputs(spark)
    log(f"inputs generated in ${now() - ti}%.1f s")
    spark
  }
  private var setupS = 0.0

  // ---- expected outputs -------------------------------------------------

  /** doc id → expected span hash: the tracked goldens for seed 0, an
    * independent single-thread `DocParser.parse` of each doc otherwise.
    */
  private lazy val expected: Map[String, String] =
    if (a.seed == 0) {
      val Line = """.*"doc_id":\s*"([^"]+)".*"hash":\s*"([0-9a-f]+)".*""".r
      val src = scala.io.Source.fromFile(a.goldens, "UTF-8")
      try src.getLines().collect { case Line(id, h) => id -> h }
        .filter { case (id, _) => inWindow(id) }.toMap
      finally src.close()
    } else referenceParse()

  private def inWindow(docId: String): Boolean = {
    val i = docId.stripPrefix("doc_").toLong
    i >= lo && i < hi
  }

  /** Parses the window's docs outside Spark, each thread running plain
    * single-thread `DocParser.parse`.
    */
  private def referenceParse(): Map[String, String] = {
    val out = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val next = new java.util.concurrent.atomic.AtomicLong(lo)
    val threads = (1 to cpus).map { _ =>
      new Thread(() => {
        val pool = DocParser.pooled(SignatureTable.Default)
        var i = next.getAndIncrement()
        while (i < hi) {
          val p = DocParser.parse(CorpusGen.gen(i), pool)
          // an error row can never match: the job's doc must carry no error
          out.put(p.docId, if (p.error.nonEmpty) "error:" + p.error else DocParser.spanHash(p.spans))
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    out.asScala.toMap
  }

  /** Mismatched docs in a results table: missing, duplicated, carrying an
    * error, or with spans whose hash differs from the expected one.
    */
  private def checkResults(spark: SparkSession, out: String): Long = {
    import spark.implicits._
    val got = FileResumableExtract.readResults(spark, out)
      .select("doc_id", "spans", "error")
      .as[(String, Seq[OutSpan], String)]
      .map { case (id, spans, err) => (id, DocParser.spanHash(spans), err) }
      .collect()
    Stats.mismatches(got.toSeq, expected)
  }

  // ---- measured operations ----------------------------------------------

  /** The extract job, or the resume restart, followed by the timed reads a
    * user makes of its output.
    */
  private def jobOp(spark: SparkSession, k: Int, traced: Boolean): OpResult = {
    val resume = a.workload == "resume"
    val in = if (resume) dir("resume_in") else dir("corpus")
    val out = dir(s"out_$k")
    if (resume) copyTree(work.resolve("resume_prep"), Paths.get(out))
    val timings = mutable.Map.empty[String, Double]
    val name = if (resume) "restart" else "job"
    val t0 = now()
    val docs = op(s"$name $k", traced) {
      phase(spark, "run", traced) {
        FileResumableExtract.run(spark, in, out, timings = Some(timings))
      }
    }
    val wall = now() - t0
    val runGroup = lastGroup
    def read(q: String, reps: Int)(body: => Unit): (String, Double) =
      q -> Stats.median((1 to reps).map { _ =>
        val t = now()
        phase(spark, q, traced)(body)
        now() - t
      })
    // the user's queries of the output (median of ReadReps each), then the
    // two driver-side calls a restart makes, timed once for the layers
    val (reads, calls) = op(s"readback $k", traced) {
      (Seq(
        read("results_scan", ReadReps)(noop(FileResumableExtract.readResults(spark, out))),
        read("metrics_read", ReadReps)(FileResumableExtract.readMetrics(spark, out)
          .agg(sum("docs_in")).collect())),
        Seq(
          read("manifest_read", 1)(FileResumableExtract.completedFileIds(spark, out)),
          read("list_inputs", 1)(FileResumableExtract.inputFilesWithIds(spark, in))).toMap)
    }
    // checks, outside the timed region
    attempted += nDocs
    val tc = now()
    val bad = checkResults(spark, out)
    checkS += now() - tc
    failed += bad
    val metricsRows = FileResumableExtract.readMetrics(spark, out)
    val docsIn = metricsRows.agg(sum("docs_in")).head().getLong(0)
    if (resume) {
      attempted += 1
      if (docsIn != nDocs) {
        failed += 1
        log(s"restart $k: metrics docs_in sums to $docsIn, expected $nDocs")
      }
    }
    if (bad > 0) log(s"$name $k: $bad of $nDocs docs mismatched")
    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (traced) {
      Seq("write", "metrics", "commit", "rollback").foreach { p =>
        layers(s"jobs.${p}_s") = timings.getOrElse(p, 0.0)
      }
      layers("jobs.other_s") = wall - timings.values.sum
      layers("jobs.manifest_read_s") = calls("manifest_read")
      layers("jobs.list_inputs_s") = calls("list_inputs")
      layers("jobs.output_files") = countFiles(Paths.get(out, "results"), ".parquet")
      val parseUs = (if (resume) metricsRows.filter(col("file_id").isin(resumeRestIds(spark).toSeq: _*))
        else metricsRows).agg(sum("parse_us")).head().getLong(0)
      val runTotals = listener.totals(_ == runGroup)
      layers("jobs.parse_share") = parseUs / 1e6 / math.max(runTotals.taskRunS, 1e-9)
      // parse work per unit of parse output: every task attempt (failed,
      // killed and speculative ones too) of the scan → parse → write
      // stages, over their successful attempts
      layers("jobs.parse_amplification") = listener.attemptsPerSuccess(_ == runGroup)
      layers ++= engineLayers(runTotals, wall)
    }
    deleteTree(Paths.get(out))
    OpResult(wall, docs, reads, layers.toMap)
  }

  /** Result rows of the first pass, for the oracle check. */
  private var checkRows: Map[String, (Array[Row], StructType)] = Map.empty

  private lazy val queryNames: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  /** One pass over every driver query, each built and run standalone. */
  private def queriesOp(spark: SparkSession, k: Int, traced: Boolean): OpResult = {
    val order = Stats.permute(queryNames, a.seed * 1000 + k)
    val times = mutable.LinkedHashMap.empty[String, Double]
    val construct = mutable.LinkedHashMap.empty[String, Double]
    val groups = mutable.LinkedHashMap.empty[String, (String, String)]
    val rows = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    val t0 = now()
    op(s"pass $k", traced) {
      order.foreach { q =>
        val tq = now()
        try op(q, traced) {
          val df = phase(spark, "construct", traced)(SparkEntry.queries(q)(spark, a.qdata))
          construct(q) = now() - tq
          val built = lastGroup
          // collect(), like the noop sink, computes every output column
          // (count() would let Catalyst prune them), and it returns the
          // very rows that were timed for the oracle check
          rows(q) = (phase(spark, "execute", traced)(df.collect()), df.schema)
          groups(q) = (built, lastGroup)
        } catch {
          case e: Exception =>
            failedQueries += q
            log(s"query $q failed: $e")
        }
        times(q) = now() - tq
      }
    }
    val wall = now() - t0
    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (traced) {
      Families.All.foreach { f =>
        val gs = queryNames.filter(Families.of(_) == f).flatMap(groups.get)
        val all = listener.totals(gs.flatMap(g => Seq(g._1, g._2)).toSet)
        val built = listener.totals(gs.map(_._1).toSet)
        val qs = queryNames.filter(Families.of(_) == f)
        layers(s"$f.s") = qs.map(times).sum
        layers(s"$f.construct_s") = qs.flatMap(construct.get).sum
        layers(s"$f.construct_jobs") = built.jobs
        layers(s"$f.jobs") = all.jobs
        layers(s"$f.shuffle_mb") = all.shuffleReadMb
        layers(s"$f.task_cpu_s") = all.taskCpuS
      }
      Families.Targets.foreach { t =>
        layers(s"query.$t.s") = queryNames.find(_.takeWhile(_ != '_') == t).map(times).getOrElse(0.0)
      }
      layers ++= engineLayers(
        listener.totals(groups.values.flatMap(g => Seq(g._1, g._2)).toSet), wall)
    }
    if (checkRows.isEmpty) checkRows = rows.toMap
    OpResult(wall, 0L, times.toSeq, layers.toMap)
  }

  /** (stolen, total) CPU ticks of the machine from /proc/stat: the share
    * the hypervisor gave to other tenants while the operations ran.
    */
  private def cpuTimes(): Option[(Long, Long)] = scala.util.Try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).map(_.toLong)
    (f(7), f.take(8).sum)
  }.toOption

  private def engineLayers(t: EngineTotals, wall: Double): Seq[(String, Double)] = Seq(
    "spark.jobs" -> t.jobs.toDouble, "spark.stages" -> t.stages.toDouble,
    "spark.tasks" -> t.tasks.toDouble, "spark.task_run_s" -> t.taskRunS,
    "spark.task_cpu_s" -> t.taskCpuS, "spark.gc_s" -> t.gcS,
    "spark.input_mb" -> t.inputMb, "spark.output_mb" -> t.outputMb,
    "spark.shuffle_read_mb" -> t.shuffleReadMb,
    "spark.shuffle_write_mb" -> t.shuffleWriteMb, "spark.spill_mb" -> t.spillMb,
    "spark.busy_frac" -> t.taskRunS / (cpus * wall), "spark.task_skew" -> t.taskSkew)

  /** Writes the first pass's result rows as parquet for the DuckDB oracle
    * check in run.py, as graft.Verify does, plus the oracle SQL.
    */
  private def writeQueryOutputs(spark: SparkSession): Unit = {
    val out = work.resolve("qout")
    Files.createDirectories(out)
    // small single-task writes: issued from `cpus` threads at once
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    try checkRows.toSeq.map { case (q, (rs, schema)) =>
      val write: Runnable = () => spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString)
      pool.submit(write)
    }.foreach(_.get())
    finally pool.shutdown()
    Files.writeString(out.resolve("queries.json"),
      queryNames.map(Json.str).mkString("[", ",", "]"))
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.obj(SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
  }

  // ---- the run ----------------------------------------------------------

  private var checkS = 0.0

  def run(): String = {
    val tRun = now()
    deleteTree(work)
    Files.createDirectories(work)
    val spark = setup()
    val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    import scala.jdk.CollectionConverters._
    val heap = heapPools.asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    heap.foreach(_.resetPeakUsage())
    val untraced = mutable.ArrayBuffer.empty[OpResult]
    val traced = mutable.ArrayBuffer.empty[OpResult]
    // outside the measured loop: the expected outputs and the calibration
    val te = now()
    if (a.workload != "driver-queries") expected.size
    val tc = now()
    val calib = calibration()
    log(f"expected outputs in ${tc - te}%.1f s, calibration in ${now() - tc}%.1f s")
    val tLoop0 = now()
    val cpu0 = cpuTimes()
    var measured = 0.0
    tracer.span(s"workload ${a.workload}", "workload") {
      tracer.span(s"run seed ${a.seed}", "run") {
        var k = 0
        // the traced run makes one operation, traced, placed exactly where
        // the untraced run's first one is: its wall minus the untraced
        // wall_s of the same seed is the tracing overhead
        while (k == 0 || (!a.trace && measured < a.seconds)) {
          val t = a.trace
          if (t) spark.sparkContext.addSparkListener(listener)
          val r =
            try {
              if (a.workload == "driver-queries") queriesOp(spark, k, t)
              else jobOp(spark, k, t)
            } finally if (t) {
              org.apache.spark.ListenerDrain(spark.sparkContext)
              spark.sparkContext.removeSparkListener(listener)
            }
          (if (t) traced else untraced) += r
          // a pass's query times make up its wall; a job's reads follow it
          measured += r.wall + (if (a.workload == "driver-queries") 0.0 else r.queries.map(_._2).sum)
          k += 1
        }
      }
    }
    val peakHeapMb = heap.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
    val stealFrac = for ((s0, t0) <- cpu0; (s1, t1) <- cpuTimes())
      yield (s1 - s0).toDouble / math.max(t1 - t0, 1L)
    val tLoop = now()
    if (a.workload == "driver-queries") {
      attempted += queryNames.length
      writeQueryOutputs(spark)
    }
    log(f"timeline (s): setup+inputs+calibration ${tLoop0 - tRun}%.1f, " +
      f"ops ${tLoop - tLoop0}%.1f (checks $checkS%.1f), outputs ${now() - tLoop}%.1f")
    val meta = Seq("cpus" -> cpus.toString,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "calibration_docs_per_s" -> Json.num(calib),
      "steal_frac" -> Json.num(stealFrac.getOrElse(Double.NaN)),
      "ops_untraced" -> untraced.length.toString, "ops_traced" -> traced.length.toString)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!a.trace) {
      metrics("setup_s") = (setupS, "s")
      metrics ++= endToEnd(untraced.toSeq)
    } else {
      perLayer ++= parseLayers()
      perLayer ++= traced.head.layers
      perLayer("trace.wall_s") = traced.head.wall
      listener.addSpans(tracer, g =>
        if (g.startsWith("span:")) Some(g.stripPrefix("span:").toInt) else None)
      val spans = tracer.all
      val coverage = Trace.childCoverage(spans, "operation")
      perLayer("trace.phase_coverage_min") =
        if (coverage.isEmpty) 0.0 else coverage.map(_._2).min
      perLayer("peak_heap_mb") = peakHeapMb
      writeTrace(spans)
    }
    spark.stop()
    val failedAll = failed + failedQueries.size
    // every per-layer metric in every workload: 0 where a layer is not
    // exercised (no job phases on driver-queries, no query families on
    // the job workloads)
    val m = if (a.trace) PerLayer.map(k => k -> (perLayer.getOrElse(k, 0.0), unitOf(k)))
      else metrics.toSeq
    Json.obj(Seq(
      "correct" -> (failedAll == 0).toString,
      "attempted" -> math.max(attempted, 1L).toString,
      "failed" -> failedAll.toString,
      "metrics" -> Json.obj(m.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
      "meta" -> Json.obj(meta)))
  }

  private def endToEnd(ops: Seq[OpResult]): Seq[(String, (Double, String))] = {
    val wall = Stats.median(ops.map(_.wall))
    // per-unit times: the 65 query times of driver-queries (median per
    // query over passes), or the two reads after each job
    val perQuery = ops.flatMap(_.queries).groupBy(_._1).values
      .map(v => Stats.median(v.map(_._2))).toSeq
    val docsPerS = a.workload match {
      case "driver-queries" =>
        // extraction throughput of the extract family: docs parsed per
        // second of its queries
        val ex = ops.flatMap(_.queries).filter(q => Families.of(q._1) == "extract")
        val nQ = queryNames.count(Families.of(_) == "extract")
        queryDocs * nQ * ops.length / ex.map(_._2).sum
      case _ => Stats.median(ops.map(o => o.docs / o.wall))
    }
    Seq("wall_s" -> (wall, "s"), "docs_per_s" -> (docsPerS, "docs/s"),
      "query_p50_s" -> (Stats.percentile(perQuery, 50), "s"),
      "query_p80_s" -> (Stats.percentile(perQuery, 80), "s"))
  }

  private lazy val queryDocs: Long = {
    val f = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"${a.qdata}/documents.parquet"),
      new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(f)
    try r.getRecordCount finally r.close()
  }

  /** Single-thread `DocParser.parse` cost per doc type, over a sample of
    * the seed's corpus docs.
    */
  private def parseLayers(): Seq[(String, Double)] = {
    val pool = DocParser.pooled(SignatureTable.Default)
    val docs = (lo until lo + ParseSampleDocs).map(CorpusGen.gen)
    docs.take(ParseSampleDocs / 4).foreach(DocParser.parse(_, pool)) // JIT warm-up
    val byType = mutable.HashMap.empty[String, (Long, Int)]
    docs.foreach { d =>
      val t = System.nanoTime()
      val p = DocParser.parse(d, pool)
      val dt = System.nanoTime() - t
      val (s, n) = byType.getOrElse(p.fileType, (0L, 0))
      byType(p.fileType) = (s + dt, n + 1)
    }
    Seq("html", "text", "email", "pdf").map { ft =>
      val (s, n) = byType.getOrElse(ft, (0L, 0))
      s"parse.us_per_doc.$ft" -> (if (n == 0) 0.0 else s / 1e3 / n)
    }
  }

  /** Pure-thread parse ceiling (graft.Bench's calibration kernel on a
    * smaller sample): docs/s over `cpus` threads, best of three. Run
    * metadata only — raw seconds are never compared across hardware.
    */
  private def calibration(): Double = {
    val docs = (0L until CalibrationDocs).map(CorpusGen.gen).toArray
    def once(): Double = {
      val idx = new java.util.concurrent.atomic.AtomicInteger(0)
      val t0 = System.nanoTime()
      val ts = (1 to cpus).map { _ =>
        new Thread(() => {
          val pool = DocParser.pooled(SignatureTable.Default)
          var i = idx.getAndIncrement()
          while (i < docs.length) {
            DocParser.parse(docs(i), pool)
            i = idx.getAndIncrement()
          }
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      docs.length / ((System.nanoTime() - t0) / 1e9)
    }
    once()
    (1 to 3).map(_ => once()).max
  }

  private def writeTrace(spans: Seq[Span]): Unit = {
    val self = Trace.selfTimes(spans)
    val f = work.resolveSibling(s"trace-${a.workload}-seed${a.seed}.json")
    Files.writeString(f, Trace.toJson(spans, self))
    // self time per span kind and name, the trace's summary
    val byName = spans.groupBy(s => (s.kind, if (s.kind.startsWith("spark")) "" else s.name))
    log(s"trace: ${spans.length} spans written to $f")
    byName.toSeq.map { case ((kind, name), ss) => (kind, name, ss.map(s => self(s.id)).sum, ss.length) }
      .sortBy(-_._3).take(25).foreach { case (kind, name, s, n) =>
        println(f"trace self_s ${kind}%-11s ${name}%-26s $s%9.3f  (x$n)")
      }
    Trace.childCoverage(spans, "operation").foreach { case (s, c) =>
      println(f"trace op ${s.name}%-28s wall ${s.durS}%8.3f s  phases cover ${c * 100}%6.1f%%")
    }
  }
}

object Bench {
  /** One measured operation's outcome. `queries` are the named per-unit
    * times the query percentiles are taken over.
    */
  final case class OpResult(wall: Double, docs: Long, queries: Seq[(String, Double)],
      layers: Map[String, Double])

  val ExtractFiles = 30
  val ResumeFiles = 600
  val ResumeDocsPerFile = 20
  val WarmDocs = 1000L
  val WarmFiles = 4
  val ParseSampleDocs = 4000
  val CalibrationDocs = 1000L
  val ReadReps = 3
  val WarmQueries = Seq("x2_extract_full", "q1_pricing_summary")

  /** The per-layer metrics, in output order. */
  val PerLayer: Seq[String] =
    Seq("setup.session_s", "setup.warmup_s") ++
      Seq("html", "text", "email", "pdf").map(t => s"parse.us_per_doc.$t") ++
      Seq("write_s", "metrics_s", "commit_s", "rollback_s", "other_s",
        "manifest_read_s", "list_inputs_s", "output_files", "parse_share",
        "parse_amplification").map("jobs." + _) ++
      Seq("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
        "input_mb", "output_mb", "shuffle_read_mb", "shuffle_write_mb",
        "spill_mb", "busy_frac", "task_skew").map("spark." + _) ++
      Families.All.flatMap(f => Seq("s", "construct_s", "construct_jobs", "jobs",
        "shuffle_mb", "task_cpu_s").map(m => s"$f.$m")) ++
      Families.Targets.map(q => s"query.$q.s") ++
      Seq("trace.wall_s", "trace.phase_coverage_min", "peak_heap_mb")

  def unitOf(metric: String): String = metric match {
    case m if m.endsWith("_s") || m.endsWith(".s") => "s"
    case m if m.endsWith("_mb") => "MB"
    case m if m.startsWith("parse.us_per_doc") => "us"
    case m if m.endsWith("_frac") || m.endsWith("_share") || m.endsWith("skew") ||
      m.endsWith("amplification") || m.endsWith("coverage_min") => "ratio"
    case _ => "count"
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  def countFiles(p: Path, suffix: String): Double = {
    val s = Files.walk(p)
    try s.filter(f => f.toString.endsWith(suffix)).count().toDouble finally s.close()
  }
}
