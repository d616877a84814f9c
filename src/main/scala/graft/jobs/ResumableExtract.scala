package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.model.{CanonicalSignature, InputDoc}
import graft.parse.SignatureTable

/** Checkpoint/resume at BUCKET granularity — the bucket resume unit of
  * [[CommitCore]] (the input-file unit is [[FileResumableExtract]]).
  *
  * A bucket (= [[ExtractJob.bucketOf]], uniform hash of doc_id) is the
  * north rule's "partition granularity": resume filters the input on
  * [[ExtractJob.bucketCol]] to the pending buckets and parses them with
  * [[ExtractJob.Layout.ByBucket]], so each bucket's output lands in ~one
  * file under `results/bucket=<b>/`. Manifest, rollback-on-start, metrics
  * and commit are the core's.
  */
object ResumableExtract {

  /** The resume unit's partition column. */
  val UnitCol = "bucket"

  /** One (re)start of the job. Returns the number of docs processed by THIS
    * invocation (0 when everything was already committed). `timings` and
    * `failAfter` are the core's phase hooks (see [[CommitCore.run]]).
    */
  def run(
      spark: SparkSession,
      inPath: String,
      outPath: String,
      table: Seq[CanonicalSignature] = SignatureTable.Default,
      onlyBuckets: Option[Set[Int]] = None,
      timings: Option[scala.collection.mutable.Map[String, Double]] = None,
      failAfter: Option[String] = None): Long =
    CommitCore.run(spark, outPath, UnitCol, timings, failAfter) { done =>
      // decided from the manifest alone: a bucket holding zero docs is still
      // pending until committed, and nothing pending means no Spark job
      val pending = (0 until ExtractJob.NumBuckets)
        .filter(b => !done.contains(b.toString) && onlyBuckets.forall(_.contains(b)))
      (pending.map(_.toString), () => parse(spark, inPath, pending, table))
    }

  /** Read the input, keep only the pending buckets' docs, and parse them
    * bucket-aligned.
    */
  private def parse(
      spark: SparkSession,
      inPath: String,
      pending: Seq[Int],
      table: Seq[CanonicalSignature]): DataFrame = {
    import spark.implicits._
    val docs = ExtractJob.readDocs(spark, inPath).toDF()
    // Column-form resume filter: crc32 bucket derivation stays inside
    // WholeStageCodegen, so committed docs are skipped without
    // deserializing their span payloads into InputDoc objects (a typed
    // lambda here would decode the FULL corpus on every restart).
    val todo =
      if (pending.size == ExtractJob.NumBuckets) docs
      else docs.filter(ExtractJob.bucketCol.isin(pending: _*))
    ExtractJob.extract(spark, todo.as[InputDoc], table, ExtractJob.Layout.ByBucket).toDF()
  }

  /** Committed buckets (see [[CommitCore.completed]]). */
  def completedBuckets(spark: SparkSession, out: String): Set[Int] =
    CommitCore.completed(spark, out, UnitCol).map(_.toInt)

  /** Per-bucket lineage/metrics, latest run wins (see [[CommitCore.readMetrics]]). */
  def readMetrics(spark: SparkSession, out: String): DataFrame =
    CommitCore.readMetrics(spark, out, UnitCol)

  /** Retention delete on the bucket layout (see [[CommitCore.deleteWhere]]). */
  def deleteWhere(spark: SparkSession, out: String, predicate: Column): Long =
    CommitCore.deleteWhere(spark, out, UnitCol, predicate)
}

/** spark-submit / runMain entry: ResumableMain <inDir> <outDir>. Safe to
  * re-invoke after a kill; completed buckets are never reprocessed.
  */
object ResumableMain {
  def main(args: Array[String]): Unit = {
    val (in, out) = JobSession.inOutArgs("ResumableMain", args)
    val spark = JobSession.build("graft-extract-resumable")
    val n = ResumableExtract.run(spark, in, out)
    println(s"processed $n docs this run; " +
      s"${ResumableExtract.completedBuckets(spark, out).size}/${ExtractJob.NumBuckets} buckets committed")
    spark.stop()
  }
}
