package graft.jobs

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{CanonicalSignature, InputDoc}
import graft.parse.{DocParser, SignatureTable}
import org.apache.spark.TaskContext

/** Checkpoint/resume at INPUT-FILE granularity — the zero-shuffle resume
  * unit of [[CommitCore]] (the bucket unit is [[ResumableExtract]]).
  *
  * The bucket unit pays a full-corpus hash shuffle before parsing so sink
  * files align with resume units. At 100 TB that shuffle moves every raw
  * byte once — the single most expensive avoidable operation in the job.
  * Tracking completed INPUT FILES instead (exactly how Structured
  * Streaming's file source checkpoints) removes it:
  *
  *  - the resume unit is one input parquet file; `file_id` =
  *    md5(root-relative path), a fixed-width safe partition value;
  *  - parse runs on the scan's own splits (ScanSplits — raw bytes never
  *    move); output is written `partitionBy("file_id")`, so each task
  *    writes only into its own file's partition dirs;
  *  - manifest, rollback-on-start, metrics and commit are the core's;
  *  - resume lists input files, anti-joins the manifest, and scans ONLY
  *    the pending files — committed input is never re-read, let alone
  *    re-parsed (file-level pruning beats even partition pruning).
  *
  * Trade-off vs buckets: resume granularity follows input file sizing
  * (fine if the table is written with sane file sizes, as Iceberg
  * enforces).
  */
object FileResumableExtract {

  /** The resume unit's partition column. */
  val UnitCol = "file_id"

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** File id = md5 of the input file's ROOT-RELATIVE path (not the bare
    * basename): nested layouts (date partitions, Iceberg data dirs) reuse
    * basenames like `part-00000.parquet` across subdirs, which would
    * collide into one id — one file's commit marker silently masking
    * another's pending work. For a flat input dir the relative path IS the
    * basename, so flat-layout ids (and existing manifests) are unchanged.
    */
  def fileId(relPath: String): String = graft.parse.PyCompat.md5Hex(relPath)

  /** The input root's decoded absolute filesystem path — the prefix
    * stripped to form root-relative ids on both the driver (listing) and
    * executor ([[fileIdFromUri]]) sides.
    */
  def rootFsPath(spark: SparkSession, inPath: String): String =
    fs(spark, inPath).getFileStatus(new Path(inPath)).getPath.toUri.getPath

  /** `input_file_name()` returns the task's file as a URL-ENCODED URI
    * string; the driver-side manifest ids are computed from the RAW
    * root-relative path. Both sides must hash the same string, or a path
    * needing encoding (space, `%`, non-ASCII) would write output under one
    * id and its commit marker under another — rollback would then delete
    * committed output. `URI.getPath` percent-decodes without `+`-to-space
    * mangling (unlike URLDecoder), recovering the raw path; `rootPath` is
    * the driver-resolved [[rootFsPath]], captured into the task closure.
    */
  def fileIdFromUri(rootPath: String, fileUri: String): String = {
    val abs = new java.net.URI(fileUri).getPath
    val rel =
      if (abs.startsWith(rootPath + "/")) abs.substring(rootPath.length + 1)
      else new Path(abs).getName // input root was a single file
    fileId(rel)
  }

  /** RECURSIVE input listing: nested layouts (date partitions, Iceberg-ish
    * `data/` trees) are first-class, not silently skipped. Any path
    * component starting with `_` or `.` is excluded (metadata dirs like
    * `_SUCCESS`, `_temporary`, hidden temp dirs) — the same convention
    * Spark's own file index applies.
    */
  def inputFiles(spark: SparkSession, inPath: String): Seq[String] =
    inputFilesWithIds(spark, inPath).map(_._1)

  /** (absolute path, file id) pairs — the id hashed from the root-relative
    * path (see [[fileId]]). One listing feeds the scan, the manifest
    * anti-join, and the commit roll-up.
    *
    * Local (`file:`) roots walk via java.nio instead of Hadoop's
    * `listFiles(recursive)`: RawLocalFileSystem materializes POSIX
    * permissions PER FILE during the recursive walk — measured 3.9 ms/file
    * (tools/ListingScale), which turns a 10⁶-file listing into ~65 minutes
    * of driver wall; the NIO walk streams the same dirents in seconds. On
    * cluster filesystems (HDFS/S3) the Hadoop path stays — their listings
    * batch thousands of entries per RPC and have no such constant.
    */
  def inputFilesWithIds(spark: SparkSession, inPath: String): Seq[(String, String)] = {
    val f = fs(spark, inPath)
    val root = f.getFileStatus(new Path(inPath)).getPath
    val rootPath = root.toUri.getPath
    val buf = scala.collection.mutable.ArrayBuffer[(String, String)]()
    def add(absPath: String, name: String): Unit = {
      val rel =
        if (absPath.startsWith(rootPath + "/")) absPath.substring(rootPath.length + 1)
        else name // root itself is a file
      if (name.endsWith(".parquet") &&
        rel.split('/').forall(c => !c.startsWith("_") && !c.startsWith(".")))
        buf += ((absPath, fileId(rel)))
    }
    if (root.toUri.getScheme == "file") {
      val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(rootPath))
      try stream.forEach { p =>
        if (java.nio.file.Files.isRegularFile(p))
          add(p.toString, p.getFileName.toString)
      } finally stream.close()
    } else {
      val it = f.listFiles(root, true)
      while (it.hasNext) {
        val st = it.next()
        add(st.getPath.toUri.getPath, st.getPath.getName)
      }
    }
    buf.sortBy(_._1).toSeq
  }

  /** Committed input files (see [[CommitCore.completed]]). */
  def completedFileIds(spark: SparkSession, out: String): Set[String] =
    CommitCore.completed(spark, out, UnitCol)

  /** Snapshot-log compaction of the commit manifest (see
    * [[CommitCore.compactManifest]]).
    */
  def compactManifest(spark: SparkSession, out: String): Unit =
    CommitCore.compactManifest(spark, out, UnitCol)

  /** Per-file lineage/metrics, latest run wins (see [[CommitCore.readMetrics]]). */
  def readMetrics(spark: SparkSession, out: String): DataFrame =
    CommitCore.readMetrics(spark, out, UnitCol)

  /** The extracted results table, retention-consistent; `file_id` stays a
    * STRING (see [[CommitCore.readResults]]).
    */
  def readResults(spark: SparkSession, out: String): DataFrame =
    CommitCore.readResults(spark, out, UnitCol)

  /** Retention delete on the file-granular layout (see
    * [[CommitCore.deleteWhere]]): a purged input file stays committed, so
    * deleted documents are never re-extracted from still-present input.
    */
  def deleteWhere(spark: SparkSession, out: String,
      predicate: org.apache.spark.sql.Column): Long =
    CommitCore.deleteWhere(spark, out, UnitCol, predicate)

  /** The core's injected crash, under the name callers match on. */
  val InjectedKill = CommitCore.InjectedKill

  /** One (re)start. Returns docs processed by THIS invocation.
    * `timings`, when supplied, receives per-phase wall seconds
    * (rollback / write / metrics / commit) for scaling diagnosis.
    * `failAfter` (tests only) throws [[CommitCore.InjectedKill]] after the
    * named phase ("rollback" | "write" | "metrics"), simulating a crash in
    * each inter-phase window.
    */
  def run(
      spark: SparkSession,
      inPath: String,
      outPath: String,
      table: Seq[CanonicalSignature] = SignatureTable.Default,
      onlyFiles: Option[Set[String]] = None,
      timings: Option[scala.collection.mutable.Map[String, Double]] = None,
      failAfter: Option[String] = None): Long =
    CommitCore.run(spark, outPath, UnitCol, timings, failAfter) { done =>
      // relative paths hashed ONCE per restart; the id list feeds the scan,
      // the metrics partition intersection, and the commit roll-up
      val pending = inputFilesWithIds(spark, inPath)
        .filter { case (_, id) =>
          !done.contains(id) && onlyFiles.forall(_.contains(id))
        }
      (pending.map(_._2), () => parse(spark, inPath, pending.map(_._1), table))
    }

  /** Scan ONLY the pending files and parse them on the scan's own splits,
    * tagging each row with its input file's id; no shuffle anywhere.
    */
  private def parse(
      spark: SparkSession,
      inPath: String,
      files: Seq[String],
      table: Seq[CanonicalSignature]): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(table)
    val nb = ExtractJob.NumBuckets // driver-side capture (cluster-safe)
    val rootPath = rootFsPath(spark, inPath) // driver-side capture too
    spark.read.schema(ExtractJob.InputSchema).parquet(files: _*)
      .select(col("doc_id").as("_1"), col("spans").as("_2"),
        input_file_name().as("_3"))
      .as[(String, Seq[graft.model.Span], String)]
      .mapPartitions { iter =>
        val pool = DocParser.pooled(bc.value)
        val pid = TaskContext.getPartitionId()
        // one fileId hash per distinct URI. A memo map instead of a
        // last-entry cache: FileScanRDD happens to deliver rows clustered
        // by file today, but nothing downstream should depend on that
        // ordering — an interleaving source would silently mislabel rows
        // under a single-entry cache. Same amortized cost (one hash per
        // distinct file per task).
        val fidMemo = new scala.collection.mutable.HashMap[String, String]()
        iter.map { case (docId, spans, uri) =>
          val fid = fidMemo.getOrElseUpdate(uri, fileIdFromUri(rootPath, uri))
          (ExtractJob.rowOf(InputDoc(docId, spans), pool, pid, nb), fid)
        }
      }
      .select(col("_1.*"), col("_2").as(UnitCol))
  }
}

/** spark-submit / runMain entry: FileResumableMain <inDir> <outDir>. The
  * zero-shuffle resumable job; safe to re-invoke after a kill. Set
  * GRAFT_COMPACT_MANIFEST=1 to roll the commit manifest up into a single
  * file after the run (snapshot-log compaction; any cadence is safe —
  * reads always take the union of roll-ups and loose markers).
  */
object FileResumableMain {
  def main(args: Array[String]): Unit = {
    val (in, out) = JobSession.inOutArgs("FileResumableMain", args)
    val spark = JobSession.build("graft-extract-file-resumable")
    val n = FileResumableExtract.run(spark, in, out)
    if (sys.env.get("GRAFT_COMPACT_MANIFEST").contains("1"))
      FileResumableExtract.compactManifest(spark, out)
    println(s"processed $n docs this run; " +
      s"${FileResumableExtract.completedFileIds(spark, out).size} input files committed")
    spark.stop()
  }
}
