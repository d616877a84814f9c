package graft.jobs

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.corpus.CorpusGen
import graft.parse.DocParser
import java.nio.file.Files

/** Retention delete (P5, `storage.py:177-203` analog): deleteWhere removes
  * exactly the matching rows, leaves every surviving row byte-identical,
  * keeps the commit manifest consistent (no bucket reprocessing, no
  * resurrection of deleted docs on a subsequent resume run).
  */
class DocStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("docstore-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def hashes(out: String): Map[String, String] = {
    import spark.implicits._
    spark.read.parquet(s"$out/results")
      .select("doc_id", "spans").as[(String, Seq[graft.model.OutSpan])]
      .collect().map { case (d, s) => d -> DocParser.spanHash(s) }.toMap
  }

  test("deleteWhere drops matching rows, keeps manifest + survivors intact") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = Files.createTempDirectory("graft_docstore_").toString
    val in = s"$base/docs"
    spark.range(0, 200, 1, 4).map(i => CorpusGen.gen(i)).write.parquet(in)
    val out = s"$base/out"
    assert(ResumableExtract.run(spark, in, out) == 200L)
    val before = hashes(out)
    val manifestBefore = ResumableExtract.completedBuckets(spark, out)

    // victims: every doc of one whole bucket (exercises the empty-partition
    // path) plus a handful from other buckets
    val all = spark.read.parquet(s"$out/results")
      .select("doc_id", "bucket").as[(String, Int)].collect()
    val fullBucket = all.groupBy(_._2).maxBy(_._2.length)._1
    val victims = (all.filter(_._2 == fullBucket).map(_._1) ++
      all.filter(_._2 != fullBucket).take(5).map(_._1)).toSet
    assert(victims.nonEmpty && victims.size < 200)

    val deleted = ResumableExtract.deleteWhere(
      spark, out, col("doc_id").isin(victims.toSeq: _*))
    assert(deleted == victims.size.toLong)

    val after = hashes(out)
    assert(after.keySet == before.keySet -- victims, "wrong rows removed")
    assert(after == before.view.filterKeys(!victims(_)).toMap,
      "a surviving row changed")

    // manifest untouched: buckets stay committed, resume is still a no-op,
    // deleted docs are NOT resurrected
    assert(ResumableExtract.completedBuckets(spark, out) == manifestBefore)
    assert(ResumableExtract.run(spark, in, out) == 0L)
    assert(hashes(out).keySet == before.keySet -- victims)

    // deleting nothing is a no-op
    assert(ResumableExtract.deleteWhere(spark, out, col("doc_id") === "no_such") == 0L)
    assert(hashes(out) == after)
  }

  test("interrupted retention swap auto-recovers on the next deleteWhere") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val base = Files.createTempDirectory("graft_docstore_rec_").toString
    val in = s"$base/docs"
    spark.range(0, 80, 1, 4).map(i => CorpusGen.gen(i)).write.parquet(in)
    val out = s"$base/out"
    assert(ResumableExtract.run(spark, in, out) == 80L)
    val before = hashes(out)
    val f = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // Simulate a kill in deleteWhere's data-loss window, with ALL THREE
    // affected shapes in one interrupted swap:
    //  - bucket X FULLY deleted (zero survivors, never had a staging dir,
    //    live dir still holds the supposedly-deleted rows) — recovery must
    //    complete the delete (a staging-listing-driven recovery would
    //    resurrect it);
    //  - bucket Y mid-swap: survivors committed to staging, live dir
    //    already deleted, rename not yet done — recovery must move the
    //    only copy home;
    //  - bucket Z ALREADY swapped before the crash: staging dir renamed
    //    away, live dir IS the survivors — recovery must leave it alone
    //    (re-deleting dst here was the reviewed data-loss bug).
    import spark.implicits._
    val bks = spark.read.parquet(s"$out/results")
      .select("bucket").distinct().as[Int].collect().sorted
    val Array(bx, by, bz) = bks.take(3)
    val xDocs = spark.read.parquet(s"$out/results")
      .filter(col("bucket") === bx).select("doc_id").as[String].collect().toSet
    val staging = new Path(s"$out/_retention_staging")
    f.mkdirs(staging)
    assert(f.rename(new Path(s"$out/results/bucket=$by"),
      new Path(staging, s"bucket=$by")))
    f.create(new Path(staging, "_SUCCESS"), true).close()
    val intent = f.create(new Path(staging, "_affected"), true)
    intent.write(s"d:$bx\ns:$by\ns:$bz".getBytes("UTF-8")); intent.close()

    // the next deleteWhere call must roll the swap FORWARD before doing
    // anything else: X's delete completed, Y's survivors moved home, Z
    // untouched
    assert(ResumableExtract.deleteWhere(spark, out, col("doc_id") === "no_such") == 0L)
    assert(!f.exists(staging), "staging dir not cleaned up")
    assert(!f.exists(new Path(s"$out/results/bucket=$bx")),
      "fully-deleted bucket resurrected by recovery")
    assert(f.exists(new Path(s"$out/results/bucket=$bz")),
      "already-swapped bucket destroyed by recovery")
    assert(hashes(out) == before.view.filterKeys(!xDocs(_)).toMap,
      "recovery lost or changed surviving rows")
    val after = hashes(out)

    // and an UNCOMMITTED staging dir (no _affected intent: crash before the
    // swap started, results untouched) is rolled back — discarded
    f.mkdirs(new Path(staging, s"bucket=$by"))
    f.create(new Path(staging, "_SUCCESS"), true).close()
    assert(ResumableExtract.deleteWhere(spark, out, col("doc_id") === "no_such") == 0L)
    assert(!f.exists(staging))
    assert(hashes(out) == after)
  }
}
