package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The distributed BPE trainer, kept as the reference the specs pin
  * [[Vocab.bpeMergesLocal]] (the production trainer) against: the same
  * vocabulary pass and greedy merge fold, with each round's pair counts
  * and arg-max taken by a Spark job. */
object VocabReference {

  /** Adjacent-pair counts over the vocabulary, weighted by token
    * frequency. The adjacent zip is slice+zip_with (NOT an index
    * sequence — a single-symbol token would make `sequence(0, -1)`
    * descend and element_at throw): both slices are empty for 1-symbol
    * tokens, so they contribute no pairs. */
  private def pairCounts(vocab: DataFrame): DataFrame = {
    val syms = col("syms")
    val pairs = zip_with(
      slice(syms, lit(1), size(syms) - 1),
      slice(syms, lit(2), size(syms) - 1),
      (l, r) => struct(l.as("l"), r.as("r")))
    vocab
      .select(explode(pairs).as("p"), col("freq"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("cnt"))
  }

  /** Learn the first `nMerges` BPE merge rules with one Spark job per
    * round — the fully-distributed reference implementation
    * ([[Vocab.bpeMergesLocal]] is the production trainer; their equality
    * is spec-pinned). Output: one row per round —
    * `(round, left_sym, right_sym, pair_count)` — the merge
    * table a tokenizer trainer persists. Stops early when no pair is
    * left to merge. */
  def bpeMerges(docs: DataFrame, textCol: String = "text",
      nMerges: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    var vocab = Vocab.vocabulary(docs, textCol).localCheckpoint(true)
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val top = pairCounts(vocab)
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      top.headOption match {
        case Some(Row(l: String, r: String, cnt: Long)) =>
          merges += ((round.toLong, l, r, cnt))
          vocab = vocab
            .withColumn("syms", Vocab.applyMerge(col("syms"), l, r))
            .localCheckpoint(true)
          round += 1
        case _ => exhausted = true
      }
    }
    merges.result().toDF("round", "left_sym", "right_sym", "pair_count")
  }
}
