package graft.jobs

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import graft.sources.RetentionSwap

/** The one commit protocol for resumable extraction: checkpoint/resume at
  * partition granularity (north rule), parameterised only by the resume
  * unit's partition column — `bucket` ([[ResumableExtract]]) or `file_id`
  * ([[FileResumableExtract]]). The wrappers compute only their pending
  * keys and their read→parse plan; how a unit becomes committed, and what a
  * restart does about units that are not, is decided here. Under an output
  * root `out`:
  *
  *  - `results/<unit>=<key>/` holds the extracted rows, written with
  *    dynamic partition overwrite, so a replayed unit replaces only its own
  *    partition;
  *  - a unit is COMMITTED iff its key appears in a `_manifest` roll-up (one
  *    immutable `rollup_N.manifest` per run, written atomically after the
  *    write job commits) or as a legacy loose `<prefix>_<key>.done` marker;
  *    reads take the union, [[compactManifest]] merges history back to one
  *    file;
  *  - `metrics/run_<k>/` holds one lineage/metrics run per (re)start, read
  *    latest-run-wins by [[readMetrics]].
  *
  * A restart rolls a crashed retention swap forward, reads the manifest
  * once, and deletes uncommitted `<unit>=` dirs BEFORE any plan reads the
  * results path (correctness independent of listing caches); it then
  * writes, publishes metrics for and commits exactly the pending units. A
  * kill anywhere leaves at worst uncommitted output, which the next start
  * rolls back and replays. Replay is sound because the parse core is a
  * pure per-row function (no cross-row state — SURVEY §3 E1): a
  * reprocessed doc yields byte-identical spans.
  *
  * Iceberg mapping (the north rule's "Iceberg-snapshot-based
  * checkpointing", SURVEY §4.2, §7.3 R7; the build ships no Iceberg
  * runtime jar): the manifest is the snapshot log itself, a roll-up is a
  * `replacePartitions` snapshot commit, [[compactManifest]] is snapshot-log
  * compaction, and rollback is a no-op (uncommitted snapshots don't exist).
  */
object CommitCore {

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(out: String) = new Path(s"$out/_manifest")

  /** Legacy loose markers are named `bucket_<b>.done` / `file_<id>.done`. */
  private def markerPrefix(unit: String): String = unit.stripSuffix("_id") + "_"

  private def isMarker(unit: String, name: String): Boolean =
    name.startsWith(markerPrefix(unit)) && name.endsWith(".done")

  private def isRollup(name: String): Boolean =
    name.startsWith("rollup_") && name.endsWith(".manifest")

  /** Committed keys = present in any roll-up manifest OR as a loose marker.
    * Runs commit one roll-up per (re)start, so the manifest grows with RUN
    * count, not unit count; [[compactManifest]] merges history back to a
    * single file.
    */
  def completed(spark: SparkSession, out: String, unit: String): Set[String] = {
    val f = fs(spark, out)
    val dir = manifestDir(out)
    if (!f.exists(dir)) Set.empty
    else {
      val sts = f.listStatus(dir)
      val loose = sts.iterator.map(_.getPath.getName).collect {
        case n if isMarker(unit, n) =>
          n.stripPrefix(markerPrefix(unit)).stripSuffix(".done")
      }.toSet
      val rolled = sts.iterator
        .filter(st => isRollup(st.getPath.getName))
        .flatMap(st => readLines(f, st.getPath)).toSet
      loose ++ rolled
    }
  }

  private def readLines(f: FileSystem, p: Path): Seq[String] = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Append one immutable roll-up manifest (temp write + rename — readers
    * never observe a partial file; a crash leaves only an ignorable
    * `.tmp`).
    */
  private def writeRollup(f: FileSystem, out: String, keys: Seq[String]): Unit = {
    val dir = manifestDir(out)
    f.mkdirs(dir)
    val existing =
      f.listStatus(dir).iterator.map(_.getPath.getName).filter(isRollup)
        .map(_.stripPrefix("rollup_").stripSuffix(".manifest").toLong)
    val idx = (existing ++ Iterator(-1L)).max + 1
    val name = f"rollup_$idx%06d.manifest"
    val tmp = new Path(dir, s".$name.tmp")
    val os = f.create(tmp, true)
    try os.write((keys.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    val dst = new Path(dir, name)
    if (!f.rename(tmp, dst))
      throw new java.io.IOException(s"manifest roll-up rename $tmp -> $dst failed")
  }

  /** Merge every roll-up and loose marker into ONE fresh roll-up, then
    * delete the merged sources. Any crash ordering is safe: the new
    * roll-up is renamed in before anything is deleted, so keys are at worst
    * present twice — and reads take the union.
    */
  def compactManifest(spark: SparkSession, out: String, unit: String): Unit = {
    val f = fs(spark, out)
    val dir = manifestDir(out)
    if (!f.exists(dir)) return
    val sts = f.listStatus(dir).filter { st =>
      val n = st.getPath.getName
      isRollup(n) || isMarker(unit, n)
    }
    if (sts.length <= 1 && sts.forall(st => isRollup(st.getPath.getName))) return
    val keys = completed(spark, out, unit).toSeq.sorted
    writeRollup(f, out, keys)
    sts.foreach(st => f.delete(st.getPath, false))
  }

  /** Delete every `<unit>=` results dir whose key is not in `done` (the
    * manifest as read once at the start of the run).
    */
  def rollbackUncommitted(
      spark: SparkSession, out: String, unit: String, done: Set[String]): Unit = {
    val f = fs(spark, out)
    val resultsDir = new Path(s"$out/results")
    if (f.exists(resultsDir))
      f.listStatus(resultsDir).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith(s"$unit=") && !done.contains(n.stripPrefix(s"$unit=")))
          f.delete(st.getPath, true)
      }
  }

  private def nextMetricsRun(f: FileSystem, out: String): Long = {
    val dir = new Path(s"$out/metrics")
    if (!f.exists(dir)) 0L
    else f.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(_.startsWith("run_"))
      .map(n => scala.util.Try(n.stripPrefix("run_").toLong).getOrElse(-1L))
      .foldLeft(-1L)(math.max) + 1
  }

  /** Per-unit lineage/metrics view with replay supersession: reads every
    * COMMITTED `metrics/run_<k>` dir (the `_SUCCESS` marker gates out a run
    * whose write was interrupted) and keeps, per unit key, only the row
    * from the LATEST run — a unit replayed after a lost commit contributes
    * once, from the run that actually produced its surviving output. Cost
    * at any scale: one shuffle over #units scalar rows.
    */
  def readMetrics(spark: SparkSession, out: String, unit: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val f = fs(spark, out)
    val dir = new Path(s"$out/metrics")
    val dirs =
      if (!f.exists(dir)) Seq.empty
      else f.listStatus(dir).iterator
        .filter(st => st.getPath.getName.startsWith("run_") &&
          f.exists(new Path(st.getPath, "_SUCCESS")))
        .map(_.getPath.toString).toSeq.sorted
    // A fully successful run over only EMPTY units writes no metrics run at
    // all (the dirs.nonEmpty guard in the metrics phase), so "no committed
    // runs" is a legitimate committed state, not corruption — lineage reads
    // get zero rows with the unitMetrics columns, not a crash.
    if (dirs.isEmpty)
      return ExtractJob.unitMetrics(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], resultsSchema(unit)), unit)
    val w = Window.partitionBy(unit).orderBy(col("run").desc)
    spark.read.parquet(dirs: _*)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "run")
  }

  /** The results table's schema, stated explicitly: [[ExtractJob.ExtractedRow]]'s
    * columns plus the unit's partition column (`bucket` is already a row
    * field; `file_id` is added as a STRING). Reads pass it via
    * `spark.read.schema(...)`, so neither schema nor partition-type
    * inference runs: an all-digit hex id set would otherwise infer DECIMAL,
    * dropping leading zeros (and a retention rewrite would then stage
    * partitions under the wrong dir names). An explicit schema (rather than
    * toggling `spark.sql.sources.partitionColumnTypeInference.enabled`
    * around the read) keeps concurrent reads in one SparkSession from
    * interleaving a session-global set/restore and leaking the wrong value
    * to unrelated queries.
    */
  private def resultsSchema(unit: String): StructType =
    if (rowSchema.fieldNames.contains(unit)) rowSchema
    else rowSchema.add(unit, StringType)

  // derived once: encoder schema derivation is reflective
  private val rowSchema: StructType =
    org.apache.spark.sql.Encoders.product[ExtractJob.ExtractedRow].schema

  /** The extracted results table, retention-consistent: rolls a crashed
    * [[deleteWhere]] swap forward first (intent-present only — the
    * reader-safe recovery scope, see [[graft.sources.RetentionSwap]]).
    */
  def readResults(spark: SparkSession, out: String, unit: String): DataFrame = {
    RetentionSwap.recover(spark, out, unit, discardIntentless = false)
    spark.read.schema(resultsSchema(unit)).parquet(s"$out/results")
  }

  /** Retention delete — `DELETE FROM results WHERE predicate` via the
    * shared [[graft.sources.RetentionSwap]] staged partition-swap over
    * `<unit>=` partitions. The commit manifest is untouched: a purged unit
    * stays committed, so a subsequent resume run remains a no-op and
    * deleted documents are never re-extracted from still-present input.
    * Single maintenance process per output dir (see RetentionSwap's
    * concurrency contract); concurrent readers and resume runs only ever
    * roll a swap forward. On Iceberg this is a copy-on-write snapshot
    * commit, which removes the swap's crash window entirely.
    */
  def deleteWhere(spark: SparkSession, out: String, unit: String, predicate: Column): Long =
    RetentionSwap.deleteWhere(spark, out, unit, predicate,
      () => readResults(spark, out, unit))

  /** Test-only injected crash (see `run`'s `failAfter`): thrown AFTER the
    * named phase completes, simulating a kill in the window before the next
    * phase starts — the randomized kill-point sweep in FileResumeSpec
    * drives it.
    */
  final case class InjectedKill(point: String)
    extends RuntimeException(s"injected kill after phase '$point'")

  /** One (re)start. Returns docs processed by THIS invocation.
    *
    * `plan` receives the committed keys and returns the keys this run
    * covers plus a thunk building their read→parse plan. Every returned key
    * is committed, including units that turn out to hold no rows: a unit
    * committed only when it wrote output would stay pending forever, and
    * every restart would re-read its input. The thunk is forced only when
    * some key is pending, so a no-op restart launches no Spark job.
    *
    * `timings`, when supplied, receives per-phase wall seconds
    * (rollback / write / metrics / commit). `failAfter` (tests only) throws
    * [[InjectedKill]] after the named phase ("rollback" | "write" |
    * "metrics"), simulating a crash in each inter-phase window.
    */
  def run(
      spark: SparkSession,
      outPath: String,
      unit: String,
      timings: Option[scala.collection.mutable.Map[String, Double]],
      failAfter: Option[String])(
      plan: Set[String] => (Seq[String], () => DataFrame)): Long = {
    def timed[A](phase: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      timings.foreach(m => m(phase) = m.getOrElse(phase, 0.0) +
        (System.nanoTime() - t0) / 1e9)
      if (failAfter.contains(phase)) throw InjectedKill(phase)
      r
    }
    // roll a crashed retention swap FORWARD first (intent-present only —
    // same reader-safe scope as readResults): affected units stay committed
    // in the manifest, so without recovery the resume below would neither
    // restore nor reprocess their half-swapped output
    RetentionSwap.recover(spark, outPath, unit, discardIntentless = false)
    val done = completed(spark, outPath, unit)
    timed("rollback")(rollbackUncommitted(spark, outPath, unit, done))
    val (pendingKeys, buildResults) = plan(done)
    if (pendingKeys.isEmpty) return 0L

    val (results, obs) = ExtractJob.observeCounts(buildResults())
    timed("write") {
      // dynamic overwrite as a per-write option (it takes precedence over
      // the session conf): only this run's partitions are replaced, and no
      // session-global setting is mutated under concurrent queries
      results.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(unit)
        .parquet(s"$outPath/results")
    }

    // Metrics per unit, published as ONE `run_<k>` dir per (re)start — the
    // same roll-up shape as the manifest. A per-unit dynamic-partition-
    // overwrite layout wrote #units tiny partition dirs per run: a measured
    // scale-INVARIANT ~4.4s of committer churn at 300 files (and millions
    // of tiny dirs at production file counts). Replay idempotency lives in
    // the reader ([[readMetrics]]): a unit replayed after a crash between
    // this write and its commit gets a row in a LATER run, which
    // supersedes — lineage sums never double-count. The results re-read
    // targets ONLY this run's partition dirs and prunes to scalar metric
    // columns (no span decode).
    timed("metrics") {
      val f = fs(spark, outPath)
      // one listing intersected with the pending set — NOT one exists()
      // RPC per pending unit, which would be the same O(#units) serial
      // driver tail the per-unit marker commit was removed for (the
      // intersection also drops empty units, which write no partition)
      val pendingSet = pendingKeys.toSet
      val resultsDir = new Path(s"$outPath/results")
      val dirs =
        if (!f.exists(resultsDir)) Seq.empty[String]
        else f.listStatus(resultsDir).iterator
          .filter(st => st.getPath.getName.startsWith(s"$unit=") &&
            pendingSet.contains(st.getPath.getName.stripPrefix(s"$unit=")))
          .map(_.getPath.toString).toSeq
      if (dirs.nonEmpty) {
        val written = spark.read.schema(resultsSchema(unit))
          .option("basePath", s"$outPath/results").parquet(dirs: _*)
        val runId = nextMetricsRun(f, outPath)
        ExtractJob.unitMetrics(written, unit)
          .withColumn("run", lit(runId))
          .repartition(1) // #units rows of scalars — one small file
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$outPath/metrics/run_$runId")
      }
    }
    timed("commit") {
      // ONE roll-up manifest per run, not one marker file per unit: the
      // commit barrier is O(1) filesystem operations regardless of how many
      // units the run covered (the per-file marker loop was a measured
      // scale-INVARIANT ~2s tail at 64 files — pure constant cost that
      // capped whole-job scaling efficiency).
      writeRollup(fs(spark, outPath), outPath, pendingKeys)
    }
    val (ok, err) = ExtractJob.okErr(obs)
    ok + err
  }
}
