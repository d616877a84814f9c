package graft.jobs

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.parse.DocParser
import graft.corpus.CorpusGen
import java.nio.file.Files

/** Kill/rerun test (SURVEY §5.2 item 5): an interrupted job — some buckets
  * committed, one bucket left as partial garbage with no manifest marker —
  * must resume at bucket granularity, reprocess nothing committed, and end
  * byte-identical to an uninterrupted run.
  */
class ResumeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("resume-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String =
    Files.createTempDirectory("graft_resume_").toString

  private def hashMap(out: String): Map[String, String] = {
    import spark.implicits._
    spark.read.parquet(s"$out/results")
      .as[ExtractJob.ExtractedRow].collect()
      .map(r => r.doc_id -> DocParser.spanHash(r.spans)).toMap
  }

  test("resume reprocesses only uncommitted buckets and converges to the uninterrupted result") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val in = tmp() + "/docs"
    spark.range(0, 400, 1, 8).map(i => CorpusGen.gen(i)).write.parquet(in)
    val total = 400L

    // uninterrupted run
    val outA = tmp()
    assert(ResumableExtract.run(spark, in, outA) == total)
    val goldenHashes = hashMap(outA)

    // "killed" run: only buckets 0..19 commit …
    val outB = tmp()
    val firstHalf = (0 until 20).toSet
    val n1 = ResumableExtract.run(spark, in, outB, onlyBuckets = Some(firstHalf))
    assert(n1 > 0 && n1 < total)
    // ALL requested buckets commit — including any that held zero docs
    // (a bucket with no docs is trivially complete; leaving it uncommitted
    // would make every future resume re-scan the input forever)
    assert(ResumableExtract.completedBuckets(spark, outB) == firstHalf)
    // … and bucket 25 died mid-write: partial dir, no marker
    val partial = new java.io.File(s"$outB/results/bucket=25")
    partial.mkdirs()
    Files.writeString(partial.toPath.resolve("part-corrupt.txt"), "garbage")

    // resume
    val n2 = ResumableExtract.run(spark, in, outB)
    assert(n1 + n2 == total, s"resume must process exactly the remainder ($n1 + $n2 != $total)")
    assert(hashMap(outB) == goldenHashes, "resumed output differs from uninterrupted run")
    assert(!Files.exists(partial.toPath.resolve("part-corrupt.txt")),
      "partial uncommitted bucket must be overwritten on resume")

    // idempotent: a third invocation finds nothing to do
    assert(ResumableExtract.run(spark, in, outB) == 0L)

    // lineage: metrics rows were appended per restart and cover all docs
    val m = ResumableExtract.readMetrics(spark, outB)
    assert(m.agg(org.apache.spark.sql.functions.sum("docs_in")).head().getLong(0) == total)
  }

  test("bucket metrics replay after a lost marker does not double-count lineage") {
    import spark.implicits._
    val in = tmp() + "/docs"
    spark.range(0, 200, 1, 4).map(i => CorpusGen.gen(i)).write.parquet(in)
    val out = tmp()
    assert(ResumableExtract.run(spark, in, out) == 200L)

    // crash-between-metrics-and-commit simulation: one committed bucket
    // loses its commit after its metrics were published — the manifest is
    // rewritten as legacy loose markers missing that bucket
    val done = ResumableExtract.completedBuckets(spark, out)
    // pick a NON-EMPTY committed bucket (all pending buckets commit now,
    // incl. empty ones — replaying an empty bucket would process 0 docs)
    val lost = spark.read.parquet(s"$out/results")
      .select("bucket").distinct().collect().map(_.getInt(0))
      .find(done.contains).get
    val mdir = new java.io.File(s"$out/_manifest")
    mdir.listFiles().foreach(f => assert(f.delete()))
    (done - lost).foreach { b =>
      Files.writeString(new java.io.File(mdir, s"bucket_$b.done").toPath, "")
    }
    assert(ResumableExtract.completedBuckets(spark, out) == done - lost)

    val n = ResumableExtract.run(spark, in, out)
    assert(n > 0, "the marker-less bucket must be reprocessed")
    val docsIn = ResumableExtract.readMetrics(spark, out)
      .agg(org.apache.spark.sql.functions.sum("docs_in")).head().getLong(0)
    assert(docsIn == 200L, s"bucket metrics double-counted after replay: $docsIn")
  }

  test("all three extract layouts produce identical results (pure per-row core)") {
    import spark.implicits._
    val docs = spark.range(0, 200, 1, 4).map(i => CorpusGen.gen(i))
    def hashes(layout: ExtractJob.Layout) =
      ExtractJob.extract(spark, docs, layout = layout).collect()
        .map(r => r.doc_id -> DocParser.spanHash(r.spans)).toMap
    val scan = hashes(ExtractJob.Layout.ScanSplits)
    assert(scan.size == 200)
    assert(hashes(ExtractJob.Layout.RoundRobin()) == scan)
    assert(hashes(ExtractJob.Layout.ByBucket) == scan)
  }
}
