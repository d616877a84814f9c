package graft.jobs

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.model.{CanonicalSignature, InputDoc, ParsedDoc}
import graft.parse.{DocParser, SignatureTable}

/** The distributed extraction job: docs table → canonical span table +
  * per-partition lineage/metrics (north rule).
  *
  * Scale design (SURVEY §4.2):
  *  - the parse core is a pure typed `mapPartitions` with per-partition
  *    pooled parser state (compiled regexes) — no cross-row state, so
  *    partition-granular resume is sound;
  *  - the signature/rule table is `broadcast` to executors (it is bounded by
  *    layout diversity, never by corpus size);
  *  - skew from giant multi-page PDFs: the default [[Layout.ScanSplits]]
  *    parses on scan splits (`spark.sql.files.maxPartitionBytes` bounds
  *    task size) so the raw corpus is never shuffled; uniform-hash
  *    [[Layout.ByBucket]] (the bucket-unit writers: [[run]] and
  *    [[ResumableExtract]]) and round-robin
  *    [[Layout.RoundRobin]] (adversarially-sorted inputs) are the explicit
  *    salted-repartition escape hatches — a giant doc is one row either
  *    way, so a shuffle cannot split it finer;
  *  - per-doc rows carry (partition_id, bytes_in, parse_us); partition
  *    lineage rows are a partial-aggregated groupBy over them (no second
  *    pass over the text).
  */
object ExtractJob {

  /** Result row: the parsed doc plus lineage fields. */
  final case class ExtractedRow(
      doc_id: String,
      file_type: String,
      spans: Seq[graft.model.OutSpan],
      n_spans: Int, // scalar twin of size(spans): lets metrics/lineage
      // aggregations prune to int columns instead of re-decoding span text
      signature_id: String,
      sig_similarity: Double,
      sig_event: String,
      n_sections: Int,
      n_kvs: Int,
      n_chunks: Int,
      rule_coverage: Double,
      char_count: Long,
      page_count: Int,
      content_hash: String,
      error: String,
      n_blocks: Int,
      n_blocks_kept: Int,
      bucket: Int,
      partition_id: Int,
      bytes_in: Long,
      parse_us: Long)

  /** Resume granularity (manifest protocol, SURVEY §4.2). 64 suits the
    * local corpus; at 10^12-doc scale this is the one knob to raise (e.g.
    * 4096) so buckets stay executor-memory-sized — the protocol is
    * unchanged. Must be held constant across restarts of the same output
    * dir (it keys the manifest), like any partitioning config.
    *
    * Resolved ONCE on the driver. Executor closures must never read this
    * `val` directly (each JVM re-resolves the env var at object init, and
    * cluster executors don't inherit the driver's environment — driver and
    * executors could disagree on bucket assignment, corrupting the resume
    * protocol). Every closure below captures the driver-side value into a
    * local and passes it to [[bucketOf]] explicitly.
    */
  val NumBuckets: Int =
    sys.env.get("GRAFT_NUM_BUCKETS").map(_.toInt).getOrElse(64)

  /** CRC32-based so the SAME bucket is computable as a Catalyst column
    * ([[bucketCol]]) and in plain Scala — letting the sink repartition by
    * bucket (one file per bucket instead of tasks×buckets small files)
    * while the manifest/rollback side recomputes it off the wire.
    * `n` must be the DRIVER's bucket count (see [[NumBuckets]]).
    */
  def bucketOf(docId: String, n: Int = NumBuckets): Int = {
    val c = new java.util.zip.CRC32
    c.update(docId.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (c.getValue % n).toInt
  }

  /** Column twin of [[bucketOf]] — `crc32` is codegen'd, stays in
    * WholeStageCodegen. `lit(NumBuckets)` is evaluated on the driver, so
    * the column form is immune to the env-divergence hazard by design.
    */
  def bucketCol: org.apache.spark.sql.Column =
    pmod(crc32(encode(col("doc_id"), "UTF-8")), lit(NumBuckets.toLong)).cast("int")

  /** Parse one doc and assemble its result row — the ONE place the
    * 21-field row is constructed (the batch extract and the file-granular
    * job share it; two hand-maintained copies of a 21-argument constructor
    * would silently transpose same-typed fields on any reordering).
    */
  def rowOf(doc: InputDoc, pool: DocParser.Pooled, pid: Int, nb: Int): ExtractedRow = {
    var bytesIn = 0L
    doc.spans.foreach(s => bytesIn += s.text.length + s.media_ref.length)
    val t0 = System.nanoTime()
    val p: ParsedDoc = DocParser.parse(doc, pool)
    val us = (System.nanoTime() - t0) / 1000
    ExtractedRow(p.docId, p.fileType, p.spans, p.spans.length, p.signatureId,
      p.sigSimilarity, p.sigEvent, p.nSections, p.nKvs, p.nChunks,
      p.ruleCoverage, p.charCount, p.pageCount, p.contentHash, p.error,
      p.nBlocks, p.nBlocksKept, bucketOf(p.docId, nb), pid, bytesIn, us)
  }

  /** The input's declared schema: reading with it skips parquet schema
    * inference, a footer-reading Spark job per read.
    */
  val InputSchema: StructType = Encoders.product[InputDoc].schema

  def readDocs(spark: SparkSession, inPath: String): Dataset[InputDoc] = {
    import spark.implicits._
    spark.read.schema(InputSchema).parquet(inPath).as[InputDoc]
  }

  /** How the docs are laid out across parse tasks. The choice is a
    * shuffle-cost / balance / sink-alignment tradeoff that matters at
    * 100 TB: a pre-parse shuffle moves the RAW bytes of the whole corpus.
    */
  sealed trait Layout
  object Layout {
    /** No shuffle: parse on the scan's own input splits. The default —
      * raw bytes never move, and split granularity
      * (`spark.sql.files.maxPartitionBytes`) already bounds task size.
      * A single giant doc is one row and can't be split any finer by a
      * shuffle either, so this loses nothing on the heavy tail.
      */
    case object ScanSplits extends Layout

    /** Round-robin shuffle into `cores × perCore` splits: finest doc-count
      * balance. Worth its full-corpus shuffle only when the INPUT layout is
      * adversarial (e.g. docs sorted by size so one split holds all the
      * giants) — the "salted repartitioning" degenerate-input defense.
      */
    final case class RoundRobin(perCore: Int = 4) extends Layout

    /** Hash-shuffle on [[bucketCol]]: parse tasks aligned to resume
      * buckets, so the bucketed sink writes ~one file per bucket instead
      * of tasks×buckets small files. Used by the bucket-partitioned
      * writers: the batch [[ExtractJob.run]] and the bucket resume wrapper
      * [[ResumableExtract]] ([[FileResumableExtract]] parses on
      * [[ScanSplits]]).
      */
    case object ByBucket extends Layout
  }

  /** Parse a docs Dataset into the extracted table. */
  def extract(
      spark: SparkSession,
      docs: Dataset[InputDoc],
      table: Seq[CanonicalSignature] = SignatureTable.Default,
      layout: Layout = Layout.ScanSplits): Dataset[ExtractedRow] = {
    import spark.implicits._
    val cores = spark.sparkContext.defaultParallelism
    val bc = spark.sparkContext.broadcast(table)
    val parts = layout match {
      case Layout.ScanSplits => docs
      case Layout.RoundRobin(perCore) =>
        docs.repartition(math.max(1, cores * perCore))
      case Layout.ByBucket =>
        docs.toDF().repartition(NumBuckets, bucketCol).as[InputDoc]
    }
    val nb = NumBuckets // driver-side capture (see NumBuckets scaladoc)
    parts
      .mapPartitions { iter =>
        val pool = DocParser.pooled(bc.value) // pooled per-partition state
        val pid = TaskContext.getPartitionId()
        iter.map(doc => rowOf(doc, pool, pid, nb))
      }
  }

  /** Per-partition lineage/metrics rows (partial+final hash aggregate —
    * no extra pass over span text).
    */
  def partitionMetrics(results: DataFrame): DataFrame =
    unitMetrics(results, "partition_id")

  /** Lineage/metrics rows keyed on a resume unit (bucket or file_id).
    * [[CommitCore]] publishes one run of them per restart; a unit replayed
    * after a crash gets a row in a LATER run, which supersedes its earlier
    * row in [[CommitCore.readMetrics]] instead of double-counting.
    */
  def unitMetrics(results: DataFrame, unit: String): DataFrame =
    results.groupBy(col(unit)).agg(
      count(lit(1)).as("docs_in"),
      sum(when(col("error") === "", 1L).otherwise(0L)).as("docs_ok"),
      sum(when(col("error") =!= "", 1L).otherwise(0L)).as("docs_err"),
      sum(col("n_spans")).as("spans_out"),
      sum(col("bytes_in")).as("bytes_in"),
      sum(col("parse_us")).as("parse_us"))

  /** ok/err observation attached to a results plan: the totals are
    * collected DURING the write pass (Dataset.observe), not by re-reading
    * 100 TB of freshly-written output afterwards.
    */
  def observeCounts(results: DataFrame): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    (results.observe(obs,
      sum(when(col("error") === "", 1L).otherwise(0L)).as("ok"),
      sum(when(col("error") =!= "", 1L).otherwise(0L)).as("err"),
      count(lit(1)).as("docs")), obs)
  }

  private[jobs] def okErr(obs: org.apache.spark.sql.Observation): (Long, Long) = {
    val m = obs.get
    def l(k: String) = m.get(k) match {
      case Some(v: Long) => v
      case _ => 0L
    }
    (l("ok"), l("err"))
  }

  /** Full job: read → extract → write results (bucketed dirs for resume) +
    * metrics. Returns (docsOk, docsErr) — observed on the write pass.
    * The metrics aggregation reads back the written table but prunes to
    * the scalar int columns (n_spans twin, no span payloads decoded).
    */
  def run(spark: SparkSession, inPath: String, outPath: String): (Long, Long) = {
    val docs = readDocs(spark, inPath)
    val (results, obs) = observeCounts(
      extract(spark, docs, layout = Layout.ByBucket).toDF())
    results.write.mode("overwrite")
      .partitionBy("bucket")
      .parquet(s"$outPath/results")
    partitionMetrics(spark.read.parquet(s"$outPath/results"))
      .write.mode("overwrite")
      .parquet(s"$outPath/metrics")
    okErr(obs)
  }
}

/** spark-submit / runMain entry: ExtractMain <inDir> <outDir>. */
object ExtractMain {
  def main(args: Array[String]): Unit = {
    val (in, out) = JobSession.inOutArgs("ExtractMain", args)
    val spark = JobSession.build("graft-extract")
    val t0 = System.nanoTime()
    val (ok, err) = ExtractJob.run(spark, in, out)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"extracted ok=$ok err=$err in $sec%.1fs (${ok / sec}%.0f docs/sec)")
    spark.stop()
  }
}
