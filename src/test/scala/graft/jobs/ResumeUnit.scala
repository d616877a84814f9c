package graft.jobs

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** The two resume units of [[CommitCore]] behind one interface, so a
  * crash, resume or retention scenario is written once and run for both
  * wrappers. Keys are the core's string unit keys.
  */
sealed abstract class ResumeUnit(val col: String) {

  /** Every key a full run over `in` commits. */
  def all(spark: SparkSession, in: String): Set[String]

  def run(spark: SparkSession, in: String, out: String,
      only: Option[Set[String]] = None, failAfter: Option[String] = None): Long
}

object ResumeUnit {
  case object File extends ResumeUnit(FileResumableExtract.UnitCol) {
    def all(spark: SparkSession, in: String): Set[String] =
      FileResumableExtract.inputFilesWithIds(spark, in).map(_._2).toSet
    def run(spark: SparkSession, in: String, out: String,
        only: Option[Set[String]], failAfter: Option[String]): Long =
      FileResumableExtract.run(spark, in, out,
        onlyFiles = only, failAfter = failAfter)
  }

  case object Bucket extends ResumeUnit(ResumableExtract.UnitCol) {
    def all(spark: SparkSession, in: String): Set[String] =
      (0 until ExtractJob.NumBuckets).map(_.toString).toSet
    def run(spark: SparkSession, in: String, out: String,
        only: Option[Set[String]], failAfter: Option[String]): Long =
      ResumableExtract.run(spark, in, out,
        onlyBuckets = only.map(_.map(_.toInt)), failAfter = failAfter)
  }

  /** Registers `body` once per unit. The file unit keeps the bare test
    * name; other units append their column.
    */
  trait PerUnit { self: AnyFunSuite =>
    def testPerUnit(name: String)(body: ResumeUnit => Unit): Unit =
      Seq(File, Bucket).foreach { u =>
        test(if (u == File) name else s"$name [${u.col} unit]")(body(u))
      }
  }
}
