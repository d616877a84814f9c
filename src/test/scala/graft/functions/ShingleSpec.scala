package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** The native ShingleHashes / MinHashSigs expressions must be
  * element-equal to the declarative higher-order-function formulation
  * they replaced (the form the DuckDB oracles still mirror in SQL):
  * split-on-single-space with empties kept, <3-token empty guard,
  * array_distinct by shingle STRING in first-occurrence order, 60-bit
  * md5-prefix hash, per-seed XOR-min folds.
  */
class ShingleSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("shingle-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The original declarative formulation, verbatim. */
  private def hofShingleHashes(txt: Column): Column = {
    val toks = split(txt, " ")
    val strings = when(size(toks) >= 3, array_distinct(
      transform(sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ",
          element_at(toks, i),
          element_at(toks, i + 1),
          element_at(toks, i + 2)))))
      .otherwise(array().cast("array<string>"))
    transform(strings,
      s => conv(substring(md5(s.cast("binary")), 1, 15), 16, 10).cast("long"))
  }

  private def hofMins(hs: Column): Seq[Column] =
    graft.ops.DedupOps.MinHashSeeds.zipWithIndex.map { case (seed, k) =>
      array_min(transform(hs, h => h.bitwiseXOR(lit(seed)))).as(s"mh$k")
    }

  private def adversarialDocs: Seq[String] = {
    val rnd = new scala.util.Random(42)
    val fixed = Seq(
      "", " ", "  ", "one", "one two", "one two three",
      "a b c d e f g", "a  b   c d", " leading space", "trailing space ",
      "dup dup dup dup dup dup", "a b a b a b a b",
      "unicode é ü 中文 tokens here", "tab\tis one token here ok")
    val random = (1 to 200).map { _ =>
      val n = rnd.nextInt(12)
      (0 until n).map { _ =>
        if (rnd.nextInt(8) == 0) ""
        else (0 until 1 + rnd.nextInt(4))
          .map(_ => ('a' + rnd.nextInt(5)).toChar).mkString
      }.mkString(" ")
    }
    fixed ++ random
  }

  test("ShingleHashes == HOF formulation on the corpus and adversarial strings") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("string"), col("text"))
    val adv = adversarialDocs.zipWithIndex
      .map { case (t, i) => (s"adv$i", t) }.toDF("doc_id", "text")
    Seq(corpus, adv).foreach { d =>
      val rows = d.select(col("doc_id"),
        TextShingles.shingleHashCol(col("text")).as("native"),
        hofShingleHashes(col("text")).as("hof")).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"shingle hashes diverge for doc ${r.getString(0)}")
      }
    }
  }

  test("MinHashSigs == HOF XOR-min folds, incl. the no-shingle NULL drop") {
    import spark.implicits._
    val adv = adversarialDocs.zipWithIndex
      .map { case (t, i) => (s"adv$i", t) }.toDF("doc_id", "text")
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("string"), col("text"))
    Seq(corpus, adv).foreach { d =>
      val hs = hofShingleHashes(col("text"))
      val rows = d.select(
        col("doc_id"),
        TextShingles.minHashSigCol(col("text"),
          graft.ops.DedupOps.MinHashSeeds).as("native"),
        when(size(hs) > 0, array(hofMins(hs): _*)).as("hof")).collect()
      rows.foreach { r =>
        if (r.isNullAt(2)) assert(r.isNullAt(1),
          s"native minhash not NULL for shingle-free doc ${r.getString(0)}")
        else assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"minhash sigs diverge for doc ${r.getString(0)}")
      }
    }
  }

  test("OrderedPairs == HOF transform/slice expansion (order, dups, empties)") {
    import spark.implicits._
    // duplicates kept (the within-doc hash-collision case d2's a != b
    // guard absorbs), singletons/empties yield empty arrays
    val d = Seq(
      Seq(1L, 2L, 3L, 4L), Seq(7L, 7L, 9L), Seq(5L), Seq.empty[Long],
      Seq(3L, 3L), (1L to 40L).toSeq)
      .toDF("xs")
    val hof = flatten(transform(col("xs"), (a, i) =>
      transform(slice(col("xs"), i + lit(2), size(col("xs")) - i - 1),
        b => struct(a.as("a"), b.as("b")))))
    val rows = d.select(
      TextShingles.orderedPairsCol(col("xs")).as("native"), hof.as("hof"))
      .collect()
    rows.foreach { r =>
      val native = r.getSeq[org.apache.spark.sql.Row](0)
        .map(p => (p.getLong(0), p.getLong(1)))
      val want = r.getSeq[org.apache.spark.sql.Row](1)
        .map(p => (p.getLong(0), p.getLong(1)))
      assert(native == want, s"pair expansion diverges: $native vs $want")
    }
  }

  test("OrderedPairs rejects an array type that may hold nulls at analysis") {
    import spark.implicits._
    val d = Seq(Seq(Some(1L), None, Some(3L))).toDF("xs")
    val e = intercept[org.apache.spark.sql.AnalysisException](
      d.select(TextShingles.orderedPairsCol(col("xs"))).queryExecution.assertAnalyzed())
    assert(e.getMessage.contains("non-null elements"), e.getMessage)
  }
}
