package graft.jobs

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.corpus.CorpusGen
import graft.parse.DocParser
import java.nio.file.Files

/** Kill/rerun test for the zero-shuffle file-granular resume: interrupted
  * job (some input files committed, one partial garbage output dir) resumes
  * reading ONLY the pending input files and converges byte-identically.
  * The kill-point sweep and the no-op restart check run for both resume
  * units of the commit core.
  */
class FileResumeSpec extends AnyFunSuite with ResumeUnit.PerUnit {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("file-resume-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def hashes(out: String): Map[String, String] = {
    import spark.implicits._
    spark.read.parquet(s"$out/results")
      .select("doc_id", "spans").as[(String, Seq[graft.model.OutSpan])]
      .collect().map { case (d, s) => d -> DocParser.spanHash(s) }.toMap
  }

  test("file-granular resume: no shuffle, no reprocessing, identical convergence") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = Files.createTempDirectory("graft_fresume_").toString
    val in = s"$base/docs"
    spark.range(0, 400, 1, 8).map(i => CorpusGen.gen(i)).write.parquet(in)
    val files = FileResumableExtract.inputFiles(spark, in)
    assert(files.size == 8)

    // uninterrupted
    val outA = s"$base/outA"
    assert(FileResumableExtract.run(spark, in, outA) == 400L)
    val golden = hashes(outA)
    assert(golden.size == 400)

    // "killed": only 3 of 8 files commit, plus a partial garbage dir
    val outB = s"$base/outB"
    val firstThree = files.take(3)
      .map(p => FileResumableExtract.fileId(
        new org.apache.hadoop.fs.Path(p).getName)).toSet
    val n1 = FileResumableExtract.run(spark, in, outB, onlyFiles = Some(firstThree))
    assert(n1 > 0 && n1 < 400)
    val someId = FileResumableExtract.fileId(
      new org.apache.hadoop.fs.Path(files.last).getName)
    val partial = new java.io.File(s"$outB/results/file_id=$someId")
    partial.mkdirs()
    Files.writeString(partial.toPath.resolve("part-corrupt.txt"), "junk")

    // resume processes exactly the remainder
    val n2 = FileResumableExtract.run(spark, in, outB)
    assert(n1 + n2 == 400L, s"$n1 + $n2 != 400")
    assert(hashes(outB) == golden)
    assert(!Files.exists(partial.toPath.resolve("part-corrupt.txt")))

    // idempotent third run
    assert(FileResumableExtract.run(spark, in, outB) == 0L)
    assert(FileResumableExtract.completedFileIds(spark, outB).size == 8)

    // lineage is exact across restarts (per-file metrics, no double count)
    val docsIn = FileResumableExtract.readMetrics(spark, outB)
      .agg(org.apache.spark.sql.functions.sum("docs_in")).head().getLong(0)
    assert(docsIn == 400L, s"metrics double-counted: $docsIn")
  }

  test("input basenames needing URI encoding (space, %) keep marker and output ids consistent") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = Files.createTempDirectory("graft_fresume_enc_").toString
    val stage = s"$base/stage"
    spark.range(0, 50, 1, 1).map(i => CorpusGen.gen(i))
      .coalesce(1).write.parquet(stage)
    val in = new java.io.File(s"$base/docs"); in.mkdirs()
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    // basename with a space and a literal % — input_file_name() URL-encodes
    // these; fileIdFromUri must decode back to the raw name
    val tricky = new java.io.File(in, "docs part%1 final.parquet")
    Files.move(part.toPath, tricky.toPath)

    val out = s"$base/out"
    assert(FileResumableExtract.run(spark, in.toString, out) == 50L)
    val expectedId = FileResumableExtract.fileId("docs part%1 final.parquet")
    assert(FileResumableExtract.completedFileIds(spark, out) == Set(expectedId))
    assert(new java.io.File(s"$out/results/file_id=$expectedId").exists(),
      "output partition id diverged from the marker id")

    // the regression: a rerun must be a no-op — NOT rollback-delete the
    // committed output while the marker blocks reprocessing (silent loss)
    assert(FileResumableExtract.run(spark, in.toString, out) == 0L)
    assert(hashes(out).size == 50)
  }

  test("metrics replay after a crash between metrics write and marker commit does not double-count") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = Files.createTempDirectory("graft_fresume_crash_").toString
    val in = s"$base/docs"
    spark.range(0, 200, 1, 4).map(i => CorpusGen.gen(i)).write.parquet(in)
    val out = s"$base/out"
    assert(FileResumableExtract.run(spark, in, out) == 200L)

    // simulate: one file's commit lost AFTER its metrics/output were
    // written (crash between unitMetrics publish and manifest commit) —
    // rewrite the manifest as legacy loose markers missing that id (also
    // exercising the loose-marker read path)
    val files = FileResumableExtract.inputFiles(spark, in)
    val lostId = FileResumableExtract.fileId(
      new org.apache.hadoop.fs.Path(files.head).getName)
    val kept = FileResumableExtract.completedFileIds(spark, out) - lostId
    val mdir = new java.io.File(s"$out/_manifest")
    mdir.listFiles().foreach(f => assert(f.delete()))
    kept.foreach { id =>
      Files.writeString(new java.io.File(mdir, s"file_$id.done").toPath, "")
    }
    assert(FileResumableExtract.completedFileIds(spark, out) == kept)

    // restart: rolls back + replays that file; the replay's LATER run row
    // supersedes the orphaned one in readMetrics (no append double-count)
    val n = FileResumableExtract.run(spark, in, out)
    assert(n > 0)
    val docsIn = FileResumableExtract.readMetrics(spark, out)
      .agg(org.apache.spark.sql.functions.sum("docs_in")).head().getLong(0)
    assert(docsIn == 200L, s"metrics double-counted after replay: $docsIn")
    assert(hashes(out).size == 200)
  }

  test("manifest compaction: resume stays exact across roll-up + legacy-marker merges") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = Files.createTempDirectory("graft_fresume_compact_").toString
    val in = s"$base/docs"
    spark.range(0, 400, 1, 8).map(i => CorpusGen.gen(i)).write.parquet(in)
    val files = FileResumableExtract.inputFiles(spark, in)
    val out = s"$base/out"

    // partial run commits one roll-up for 3 files
    val firstThree = files.take(3)
      .map(p => FileResumableExtract.fileId(
        new org.apache.hadoop.fs.Path(p).getName)).toSet
    val n1 = FileResumableExtract.run(spark, in, out, onlyFiles = Some(firstThree))
    assert(FileResumableExtract.completedFileIds(spark, out) == firstThree)

    // age one committed id into a legacy loose marker (mixed manifest)
    val mdir = new java.io.File(s"$out/_manifest")
    val aged = firstThree.head
    Files.writeString(new java.io.File(mdir, s"file_$aged.done").toPath, "")
    assert(FileResumableExtract.completedFileIds(spark, out) == firstThree)

    // compact mid-history: 1 roll-up + 1 loose marker -> single roll-up
    FileResumableExtract.compactManifest(spark, out)
    assert(mdir.listFiles().count(_.getName.endsWith(".manifest")) == 1)
    assert(!mdir.listFiles().exists(_.getName.endsWith(".done")))
    assert(FileResumableExtract.completedFileIds(spark, out) == firstThree)

    // resume across the compaction: processes exactly the remainder
    val n2 = FileResumableExtract.run(spark, in, out)
    assert(n1 + n2 == 400L, s"$n1 + $n2 != 400")
    assert(FileResumableExtract.completedFileIds(spark, out).size == 8)
    assert(hashes(out).size == 400)

    // compact the full history and prove resume is STILL a no-op
    FileResumableExtract.compactManifest(spark, out)
    assert(mdir.listFiles().count(_.getName.endsWith(".manifest")) == 1)
    assert(FileResumableExtract.run(spark, in, out) == 0L)
    assert(hashes(out).size == 400)
    // compacting a compacted manifest is a no-op
    FileResumableExtract.compactManifest(spark, out)
    assert(mdir.listFiles().count(_.getName.endsWith(".manifest")) == 1)
  }

  test("nested input tree: recursive listing, root-relative ids, hidden dirs skipped") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = Files.createTempDirectory("graft_fresume_nest_").toString

    // two date partitions whose data files share the SAME basename — the
    // exact layout a basename-hashed id would collide on — plus a hidden
    // `_staging` dir that must be ignored
    val in = new java.io.File(s"$base/docs"); in.mkdirs()
    def plant(sub: String, range: (Long, Long)): String = {
      val stage = s"$base/stage_${sub.replace('=', '_').replace('-', '_')}"
      spark.range(range._1, range._2, 1, 1).map(i => CorpusGen.gen(i))
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dir = new java.io.File(in, sub); dir.mkdirs()
      val dst = new java.io.File(dir, "part-00000.parquet")
      Files.move(part.toPath, dst.toPath)
      s"$sub/part-00000.parquet"
    }
    val relA = plant("date=2024-01-01", (0L, 60L))
    val relB = plant("date=2024-01-02", (60L, 100L))
    val hidden = new java.io.File(in, "_staging"); hidden.mkdirs()
    Files.writeString(new java.io.File(hidden, "junk.parquet").toPath, "not parquet")

    val files = FileResumableExtract.inputFiles(spark, in.toString)
    assert(files.size == 2, s"recursive listing found: $files")

    val out = s"$base/out"
    assert(FileResumableExtract.run(spark, in.toString, out) == 100L)
    val ids = FileResumableExtract.completedFileIds(spark, out)
    assert(ids == Set(FileResumableExtract.fileId(relA),
      FileResumableExtract.fileId(relB)),
      "ids must hash the root-relative path, distinctly per subdir")
    assert(hashes(out).size == 100)

    // resume across the nested tree is a no-op; output ids match markers
    assert(FileResumableExtract.run(spark, in.toString, out) == 0L)
    ids.foreach { id =>
      assert(new java.io.File(s"$out/results/file_id=$id").exists(),
        "output partition id diverged from the marker id")
    }
  }

  testPerUnit("randomized kill-point sweep: resume + compaction converge byte-identically from any crash interleaving") { unit =>
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = Files.createTempDirectory("graft_fresume_kill_").toString
    val in = s"$base/docs"
    spark.range(0, 80, 1, 8).map(i => CorpusGen.gen(i)).write.parquet(in)
    val allIds = unit.all(spark, in)
    assert(allIds.size == (if (unit == ResumeUnit.File) 8 else ExtractJob.NumBuckets))

    val golden = {
      val o = s"$base/golden"
      assert(unit.run(spark, in, o) == 80L)
      hashes(o)
    }

    // deterministic seed: the sweep must be reproducible in CI; the seed is
    // arbitrary but fixed, and the kill tally below proves it exercises
    // every inter-phase window. Each attempt commits at most about half of
    // the pending units, so the attempt bound scales with the unit count.
    val rnd = new scala.util.Random(20260817L)
    val maxAttempts = 5 * allIds.size
    val kills = scala.collection.mutable.Map[String, Int]()
    for (iter <- 0 until 10) {
      val out = s"$base/out_$iter"
      var safety = 0
      while (CommitCore.completed(spark, out, unit.col) != allIds
        && safety < maxAttempts) {
        safety += 1
        val pending = (allIds -- CommitCore.completed(spark, out, unit.col)).toSeq.sorted
        // random nonempty subset of the pending units for this attempt
        val take = 1 + rnd.nextInt(pending.size)
        val subset = rnd.shuffle(pending).take(take).toSet
        val fail = rnd.nextInt(4) match {
          case 0 => Some("rollback")
          case 1 => Some("write")
          case 2 => Some("metrics")
          case _ => None
        }
        try {
          unit.run(spark, in, out, only = Some(subset), failAfter = fail)
          assert(fail.isEmpty, s"failAfter=$fail did not throw")
        } catch {
          case CommitCore.InjectedKill(p) =>
            kills(p) = kills.getOrElse(p, 0) + 1
        }
        if (rnd.nextBoolean()) CommitCore.compactManifest(spark, out, unit.col)
      }
      assert(safety < maxAttempts, s"iteration $iter did not converge")
      // converged state is byte-identical to the uninterrupted run, and
      // lineage metrics count every doc exactly once
      assert(hashes(out) == golden, s"iteration $iter diverged")
      val docsIn = CommitCore.readMetrics(spark, out, unit.col)
        .agg(org.apache.spark.sql.functions.sum("docs_in")).head().getLong(0)
      assert(docsIn == 80L, s"iteration $iter metrics double-counted: $docsIn")
    }
    val totalKills = kills.values.sum
    assert(totalKills >= 20, s"sweep only injected $totalKills kills: $kills")
    assert(kills.keySet == Set("rollback", "write", "metrics"),
      s"some inter-phase window never exercised: $kills")
  }

  testPerUnit("a no-op restart launches no Spark job") { unit =>
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = Files.createTempDirectory("graft_fresume_noop_").toString
    val in = s"$base/docs"
    spark.range(0, 60, 1, 3).map(i => CorpusGen.gen(i)).write.parquet(in)
    val out = s"$base/out"
    assert(unit.run(spark, in, out) == 60L)

    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc) // the first run's events land first
    sc.addSparkListener(listener)
    try {
      // nothing is pending: the restart decides that from the manifest and
      // the driver-side listing alone
      assert(unit.run(spark, in, out) == 0L)
      org.apache.spark.ListenerBusDrain(sc)
      assert(jobs.get == 0, s"no-op ${unit.col} restart launched ${jobs.get} Spark job(s)")
    } finally sc.removeSparkListener(listener)
  }

  test("readMetrics ignores an uncommitted metrics run dir (no _SUCCESS)") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = Files.createTempDirectory("graft_fresume_msucc_").toString
    val in = s"$base/docs"
    spark.range(0, 100, 1, 2).map(i => CorpusGen.gen(i)).write.parquet(in)
    val out = s"$base/out"
    assert(FileResumableExtract.run(spark, in, out) == 100L)
    val before = FileResumableExtract.readMetrics(spark, out)
      .agg(org.apache.spark.sql.functions.sum("docs_in")).head().getLong(0)
    assert(before == 100L)

    // fabricate a torn metrics write: a run dir holding a stray copy of a
    // committed part file but NO _SUCCESS marker (crash mid-write)
    val runs = new java.io.File(s"$out/metrics")
    val committed = runs.listFiles().find(_.getName.startsWith("run_")).get
    val torn = new java.io.File(runs, "run_9999")
    torn.mkdirs()
    val part = committed.listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, new java.io.File(torn, part.getName).toPath)

    // the torn run must not shadow (or double) the committed rows
    val after = FileResumableExtract.readMetrics(spark, out)
      .agg(org.apache.spark.sql.functions.sum("docs_in")).head().getLong(0)
    assert(after == 100L, s"torn metrics run leaked into the view: $after")
  }
}
