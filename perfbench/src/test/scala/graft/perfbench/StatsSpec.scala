package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles") {
    val xs = (1 to 65).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 50) == 33.0)
    // p80 of 65 samples is the 52nd, leaving 13 beyond it
    assert(Stats.percentile(xs, 80) == 52.0)
    assert(xs.count(_ > Stats.percentile(xs, 80)) == 13)
    assert(Stats.percentile(xs, 100) == 65.0)
    assert(Stats.percentile(Seq(0.2, 0.7), 50) == 0.2)
    assert(Stats.percentile(Seq(0.2, 0.7), 80) == 0.7)
    assert(Stats.percentile(Seq(4.0), 1) == 4.0)
    assert(Stats.percentile((1 to 10).map(_.toDouble), 80) == 8.0)
    intercept[IllegalArgumentException](Stats.percentile(Nil, 50))
    intercept[IllegalArgumentException](Stats.percentile(Seq(1.0), 0))
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("seed 0 selects exactly the sf0.1 doc ids") {
    val (lo, hi) = Stats.docWindow(0)
    assert((lo, hi) == (0L, 60000L))
    assert(graft.corpus.CorpusGen.numDocs(0.1) == hi - lo)
    assert(graft.corpus.CorpusGen.gen(lo).doc_id == "doc_00000000")
    assert(graft.corpus.CorpusGen.gen(hi - 1).doc_id == "doc_00059999")
    val goldens = scala.io.Source.fromFile("../src/test/resources/goldens/sf0.1.hashes.jsonl")
    val ids = try goldens.getLines().map(_.split('"')(3)).toSet finally goldens.close()
    assert(ids == (lo until hi).map(i => f"doc_$i%08d").toSet)
  }

  test("seed windows are adjacent and disjoint") {
    assert(Stats.docWindow(1) == ((60000L, 120000L)))
    assert(Stats.docWindow(7)._1 == Stats.docWindow(6)._2)
    intercept[IllegalArgumentException](Stats.docWindow(-1))
  }

  test("failure counting: every wrong, missing, extra or duplicated doc") {
    val want = Map("a" -> "h1", "b" -> "h2", "c" -> "h3")
    assert(Stats.mismatches(Seq(("a", "h1", ""), ("b", "h2", ""), ("c", "h3", "")), want) == 0)
    assert(Stats.mismatches(Seq(("a", "h1", ""), ("b", "XX", ""), ("c", "h3", "")), want) == 1)
    assert(Stats.mismatches(Seq(("a", "h1", ""), ("b", "h2", "")), want) == 1) // c missing
    assert(Stats.mismatches(Seq(("a", "h1", ""), ("a", "h1", ""), ("b", "h2", ""),
      ("c", "h3", "")), want) == 1) // a twice
    assert(Stats.mismatches(Seq(("a", "h1", "boom"), ("b", "h2", ""), ("c", "h3", "")), want) == 1)
    assert(Stats.mismatches(Seq(("a", "h1", ""), ("b", "h2", ""), ("c", "h3", ""),
      ("z", "h9", "")), want) == 1) // not expected
    assert(Stats.mismatches(Nil, want) == 3)
  }

  test("seeded permutation is a stable permutation") {
    val xs = (1 to 65).map(_.toString)
    val p = Stats.permute(xs, 7)
    assert(p.sorted == xs.sorted)
    assert(p == Stats.permute(xs, 7))
    assert(p != Stats.permute(xs, 8))
  }

  test("every driver query has a family") {
    val fams = graft.SparkEntry.queries.keys.map(Families.of).toSet
    assert(fams == Families.All.toSet)
    assert(Families.of("a2_repo_stats") == "relational")
    assert(Families.of("a4b_usage_counters") == "extract")
    Families.Targets.foreach { t =>
      assert(graft.SparkEntry.queries.keys.exists(_.takeWhile(_ != '_') == t), t)
    }
  }
}
