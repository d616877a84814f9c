package graft.jobs

import org.apache.spark.sql.SparkSession

/** The one session-tuning surface shared by every job main: the batch
  * ExtractMain and the two resume units of the one commit core
  * ([[CommitCore]]) — ResumableMain (bucket) and FileResumableMain
  * (input file) — previously three hand-maintained copies whose configs
  * could silently drift.
  *
  * Env knobs: SPARK_GRAFT_MASTER, SPARK_GRAFT_CPUS (also sizes
  * `spark.sql.shuffle.partitions`), GRAFT_MAX_PARTITION_BYTES
  * (ScanSplits task granularity: 128m — the Spark default — is right at
  * cluster scale; local corpora are small, so default to finer 16m splits).
  */
private[graft] object JobSession {
  def build(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("GRAFT_MAX_PARTITION_BYTES", "16m"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Arg guard for the `<inDir> <outDir>` mains: usage message instead of
    * an opaque MatchError.
    */
  def inOutArgs(main: String, args: Array[String]): (String, String) = {
    if (args.length < 2) {
      System.err.println(s"usage: $main <inDir> <outDir>")
      sys.exit(2)
    }
    (args(0), args(1))
  }
}
