package graft.perfbench

/** Order statistics and the seed → input mapping, kept free of Spark so
  * the benchmark's own tests exercise them directly.
  */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. Over 65 query times p80 is the 52nd
    * value, leaving 13 samples beyond it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val sorted = xs.sorted
    val rank = math.ceil(p / 100.0 * sorted.length - 1e-9).toInt
    sorted(math.max(rank, 1) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Docs per extract-job corpus; seed 0 is exactly the sf0.1 corpus. */
  val WindowDocs = 60000L

  /** The doc-index window `[seed·60000, (seed+1)·60000)` a seed selects. */
  def docWindow(seed: Long): (Long, Long) = {
    require(seed >= 0, s"seed $seed must be non-negative")
    (seed * WindowDocs, (seed + 1) * WindowDocs)
  }

  /** Docs of a results table that fail the check: each expected doc
    * missing, each extra copy of a doc, each doc not expected, and each
    * doc that carries an error or whose span hash differs from the
    * expected one. `got` holds (doc id, span hash, error) rows.
    */
  def mismatches(got: Seq[(String, String, String)], expected: Map[String, String]): Long = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    var bad = 0L
    got.foreach { case (id, h, err) =>
      if (!seen.add(id) || err.nonEmpty || !expected.get(id).contains(h)) bad += 1
    }
    bad + expected.keysIterator.count(id => !seen.contains(id))
  }

  /** A seeded permutation of `xs` (Fisher-Yates over splitmix64), stable
    * across JVMs and Scala versions.
    */
  def permute[A](xs: Seq[A], seed: Long): Seq[A] = {
    val rng = new graft.corpus.CorpusGen.Rng(seed ^ 0x5851f42d4c957f2dL)
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[A]]
  }
}
