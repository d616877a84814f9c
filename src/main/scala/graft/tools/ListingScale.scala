package graft.tools

import graft.jobs.{CommitCore, FileResumableExtract}

/** Driver-side O(#files) machinery at production file counts (round-5
  * verdict item 9): `inputFilesWithIds` builds a driver Seq and the resume
  * path anti-joins the manifest against it — both fine at the 10⁴ files the
  * specs cover, unmeasured beyond. This synthesizes nested trees of empty
  * `.parquet` files on tmpfs (no payload — only the listing/rollback
  * machinery is under test; creation cost is reported but not under test)
  * and times, per count:
  *
  *  - listing: `inputFilesWithIds` (recursive walk + per-file md5);
  *  - anti-join: the pending-set filter against a half-committed manifest
  *    id Set (the exact resume-plan shape in run());
  *  - manifest read: `completedFileIds` over a rolled-up manifest;
  *  - rollback: `CommitCore.rollbackUncommitted` over a results tree with one
  *    `file_id=` dir per file, half of them uncommitted (worst case:
  *    deletes half the dirs).
  *
  * runMain graft.tools.ListingScale [count,count,...]   (default
  * 10000,100000,1000000) — one JSON line per count to stdout.
  */
object ListingScale {
  def main(args: Array[String]): Unit = {
    val counts = args.headOption.getOrElse("10000,100000,1000000")
      .split(",").map(_.trim.toInt).toSeq
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[8]")
      .appName("graft-listing-scale")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = java.nio.file.Paths.get("/dev/shm/graft-listing")

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    counts.foreach { n =>
      val root = base.resolve(s"in_$n")
      val perDir = 1000
      val (_, createSec) = timed {
        var i = 0
        while (i < n) {
          val dir = root.resolve(f"d${i / perDir}%04d")
          if (i % perDir == 0) java.nio.file.Files.createDirectories(dir)
          java.nio.file.Files.createFile(dir.resolve(f"part-$i%07d.parquet"))
          i += 1
        }
      }
      val (pairs, listSec) = timed(
        FileResumableExtract.inputFilesWithIds(spark, root.toString))
      require(pairs.length == n, s"listed ${pairs.length} != $n")

      // manifest: commit half the ids via one roll-up, then time the read
      // and the resume-plan anti-join exactly as run() performs them
      val out = base.resolve(s"out_$n")
      java.nio.file.Files.createDirectories(out)
      val committed = pairs.iterator.map(_._2).take(n / 2).toSeq
      writeManifest(out.toString, committed)
      val (done, manifestSec) = timed(
        FileResumableExtract.completedFileIds(spark, out.toString))
      require(done.size == n / 2)
      val (pending, antiJoinSec) = timed(
        pairs.filter { case (_, id) => !done.contains(id) })
      require(pending.length == n - n / 2)

      // results tree: one file_id= dir per input file (one empty data file
      // each), half uncommitted -> rollback deletes them
      val results = out.resolve("results")
      val (_, createOutSec) = timed {
        pairs.foreach { case (_, id) =>
          val d = results.resolve(s"file_id=$id")
          java.nio.file.Files.createDirectories(d)
          java.nio.file.Files.createFile(d.resolve("part-0.parquet"))
        }
      }
      val (_, rollbackSec) = timed(
        CommitCore.rollbackUncommitted(
          spark, out.toString, FileResumableExtract.UnitCol, done))
      val left = results.toFile.list().count(_.startsWith("file_id="))
      require(left == n / 2, s"rollback left $left dirs")

      println(f"""{"bench":"listing_scale","files":$n,"list_sec":$listSec%.3f,"manifest_read_sec":$manifestSec%.3f,"anti_join_sec":$antiJoinSec%.3f,"rollback_sec":$rollbackSec%.3f,"create_sec":$createSec%.3f,"create_out_sec":$createOutSec%.3f}""")
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(out.toFile)
    }
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    spark.stop()
  }

  /** One rolled-up manifest with the given ids (same file format run()
    * commits through writeRollup — written directly here to keep the tool
    * independent of private APIs).
    */
  private def writeManifest(out: String, ids: Seq[String]): Unit = {
    val dir = java.nio.file.Paths.get(out, "_manifest")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve("rollup_000000.manifest"),
      (ids.mkString("\n") + "\n").getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
  }
}
