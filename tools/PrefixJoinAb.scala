/** A/B for the prefix-filtered exact-Jaccard join: `PrefixJoinAb [sfDir]`
  * (default sf0.1) times `Dedup.ngramJaccardPairs` (all-pairs) vs
  * `Dedup.jaccardPrefixPairs` (prefix-filtered) over the FULL documents
  * corpus at threshold 1/2, reports candidate volume vs n·(n−1)/2, and
  * asserts the two pair sets are identical. Single-run wall-clock —
  * compare ratios across scale factors, not absolute times. */
object PrefixJoinAb {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.Session.local()

    val docs = spark.read.parquet(s"$sfDir/documents.parquet").cache()
    val n = docs.count()
    println(s"corpus: $n docs (${sfDir})")
    val allPairsSpace = n * (n - 1) / 2

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    val cands = time("prefix candidates (count)") {
      graft.operators.Dedup.jaccardPrefixCandidates(docs,
        thresholdNum = 1, thresholdDen = 2).count()
    }
    println(f"candidates: $cands of $allPairsSpace (${
      100.0 * cands / allPairsSpace}%.4f%% of the all-pairs space)")

    val prefix = time("prefix-filtered join") {
      graft.operators.Dedup.jaccardPrefixPairs(docs,
        thresholdNum = 1, thresholdDen = 2).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val all = time("all-pairs join") {
      graft.operators.Dedup.ngramJaccardPairs(docs, threshold = 0.5)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    require(prefix == all,
      s"MISMATCH: prefix=${prefix.size} all=${all.size}")
    println(s"pair sets identical: ${all.size} pairs")
    spark.stop()
  }
}
