package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE merge learning — the tokenizer-training step of an LLM data
  * pipeline: learn the first `nMerges` byte-pair-encoding merge rules
  * from a corpus.
  *
  * The scalable shape is the classic two-phase BPE trainer:
  *
  *  1. ONE corpus pass reduces the documents to a `(symbols, freq)`
  *     vocabulary table (whitespace pre-tokenization, the shared text
  *     recipe; each token starts as its character array). This is the
  *     only stage that sees corpus-sized data; the vocabulary is bounded
  *     by distinct-token count, not corpus length.
  *  2. Each merge round runs entirely over the cached vocabulary:
  *     count adjacent symbol pairs weighted by token frequency, pick the
  *     most frequent pair (ties → lexicographically smallest), apply it.
  *     The per-round driver collect is ONE row — the merge rule itself,
  *     i.e. the model being extracted, the same bounded-output exception
  *     as a k-means codebook.
  *
  * A round applies its rule with the classic greedy left-to-right
  * non-overlapping scan — "aaaa" under (a,a) becomes [aa, aa], "aaa"
  * becomes [aa, a] — implemented as ONE `aggregate` fold over the
  * symbol array: merge when the accumulator's last element is `l` and
  * the incoming symbol is `r`. A just-merged element can never re-merge
  * within the round (that would need `l+r = l`), so the fold IS the
  * greedy scan. Equivalently: within each run of consecutive matches,
  * even offsets merge — the closed form the `vocab_bpe_merges` DuckDB
  * oracle replays with gaps-and-islands window functions.
  */
object Vocab {

  /** `(syms, freq)` vocabulary: distinct lowercased whitespace tokens
    * with corpus frequencies, each exploded to its character array. */
  private[operators] def vocabulary(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .select(
        transform(sequence(lit(0), length(col("tok")) - 1),
          i => col("tok").substr(i + 1, lit(1))).as("syms"),
        col("freq"))

  /** Greedy left-to-right application of merge (l, r) to a symbol
    * array, as a single fold. */
  private[operators] def applyMerge(syms: Column, l: String, r: String): Column =
    aggregate(syms,
      array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 && element_at(acc, -1) === l && x === r,
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(x))))

  /** ENCODE a corpus with an already-learned merge list — the inference
    * half of the tokenizer ([[bpeMergesLocal]] is the training half): each
    * document becomes its ordered BPE piece stream
    * `(idCol, pos, piece)`, `pos` 1-based over the whole document.
    *
    * The scalable shape mirrors training: merges are applied to the
    * DISTINCT-token vocabulary (bounded by vocabulary size — each rule is
    * one [[applyMerge]] fold, `nMerges` chained narrow maps), and the
    * corpus-sized token stream then just hash-joins `tok → syms` and
    * explodes. Encoding cost at 100 TB is one tokenize pass + one
    * vocabulary join — the per-token merge loop never touches
    * corpus-sized data. The per-document `row_number` runs over
    * document-sized partitions (a document's own piece stream must be
    * contiguous, so this is the natural partitioning, not a bottleneck).
    *
    * Merge rules apply in learned order, each with the same greedy
    * left-to-right non-overlapping scan as training — so
    * `bpeEncode(docs, rules-from-bpeMerges)` reproduces exactly the
    * vocabulary state the trainer ended at. */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // the exploded token stream feeds BOTH the distinct-token vocabulary
    // and the final join; checkpoint it so the corpus tokenize runs once
    // (same lineage-truncation pattern as bpeMerges' per-round vocab)
    val toks = Par.ensure(docs.select(col(idCol), col(textCol)))
      .select(col(idCol),
        posexplode(filter(split(lower(trim(col(textCol))), "\\s+"),
          t => t =!= "")).as(Seq("tok_idx", "tok")))
      .localCheckpoint(true)
    val encodedVocab = encodeVocab(toks, merges)
    // global position = per-doc running piece offset + in-token index,
    // computed BEFORE the explode: the window sums size(syms) over
    // TOKEN-level rows, ~5× fewer rows through its sort than a
    // row_number over the exploded piece stream (measured 5.2 s → 0.9 s
    // at sf0.1) — and the sort key (tok_idx) is already unique per doc
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("tok_idx"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    toks.join(encodedVocab, "tok")
      .withColumn("__off", coalesce(sum(size(col("syms"))).over(w), lit(0)))
      .select(col(idCol), col("__off"),
        posexplode(col("syms")).as(Seq("sym_idx", "piece")))
      .withColumn("pos", (col("__off") + col("sym_idx") + 1).cast("long"))
      .select(col(idCol), col("pos"), col("piece"))
  }

  /** The distinct-token vocabulary with each token's final symbol
    * sequence under `merges` — the only stage that pays per-rule work,
    * bounded by vocabulary size. */
  private def encodeVocab(toks: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    toks.select(col("tok")).distinct()
      .withColumn("syms",
        merges.foldLeft(
          transform(sequence(lit(0), length(col("tok")) - 1),
            i => col("tok").substr(i + 1, lit(1)))) {
          case (syms, (l, r)) => applyMerge(syms, l, r)
        })

  /** Tokenizer coverage audit — per-document fertility (encoded pieces
    * per whitespace token) WITHOUT materializing the piece stream: the
    * merge fold still runs over the bounded distinct-token vocabulary,
    * but per-doc numbers are one aggregate over the token-level rows
    * (`n_tokens` = count, `n_pieces` = Σ size(syms)) — no piece
    * explode, no running-offset window, no second corpus scan for the
    * token count. Produces exactly [[bpeEncode]]-consistent counts
    * (the oracle replays encode-then-count; this is count-without-
    * encode), measured 6.7 → ~2 s at sf0.1. */
  def bpeCoverage(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = Par.ensure(docs.select(col(idCol), col(textCol)))
      .select(col(idCol),
        explode(filter(split(lower(trim(col(textCol))), "\\s+"),
          t => t =!= "")).as("tok"))
      .localCheckpoint(true)
    toks.join(encodeVocab(toks, merges), "tok")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(size(col("syms"))).as("n_pieces"))
      .withColumn("fertility",
        round(col("n_pieces").cast("double") / col("n_tokens"), 4))
  }

  /** Persist a learned merge table ([[bpeMergesLocal]] output) as the stored
    * tokenizer model — tiny (one row per merge), written as one file.
    * The tokenizer analog of the stored ANN indexes: train once, encode
    * many corpora against the artifact, never re-learn. */
  def writeMerges(merges: DataFrame, path: String): Unit =
    merges.coalesce(1).write.mode("overwrite").parquet(path)

  /** Load a [[writeMerges]] artifact back into the driver-side rule list
    * [[bpeEncode]] consumes, in round order. */
  def loadMerges(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(String, String)] =
    spark.read.parquet(path).orderBy("round").collect()
      .map(r => (r.getAs[String]("left_sym"), r.getAs[String]("right_sym")))
      .toSeq

  /** Unsigned byte-wise UTF-8 comparison — the collation Spark's
    * UTF8String and DuckDB's string ORDER BY share. The driver-side
    * trainer must tie-break with exactly this ordering or its merge
    * table diverges from the distributed trainer's (and the DuckDB
    * oracle's) on the first count tie. Scala's `String.compareTo` is
    * UTF-16 code-unit order, which differs above the BMP — so compare
    * bytes. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Driver-side twin of [[applyMerge]]: greedy left-to-right
    * non-overlapping merge of (l, r), same fold semantics. */
  private def applyMergeLocal(syms: Array[String], l: String, r: String,
      lr: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (out.nonEmpty && out.last == l && syms(i) == r)
        out(out.length - 1) = lr
      else out += syms(i)
      i += 1
    }
    out.toArray
  }

  /** Learn the first `nMerges` BPE merge rules DRIVER-SIDE over the
    * collected vocabulary — the production trainer for realistic merge
    * counts. The distributed trainer (the specs' reference) runs one
    * Spark job per merge round, which is the right demonstration shape
    * for a handful of rounds but caps a real tokenizer (32k merges = 32k
    * scheduler round-trips). The
    * vocabulary, however, is BOUNDED — distinct whitespace tokens, not
    * corpus tokens — so this is the k-means-fit pattern: ONE corpus pass
    * reduces to `(syms, freq)` rows, the bounded table collects to the
    * driver, and merge learning becomes in-memory arithmetic with
    * incrementally-maintained pair statistics (the classic subword-nmt
    * `learn_bpe` shape: a pair→words inverted index, and each merge
    * re-counts only the words it touched). The sf0.1 corpus vocabulary
    * trains to full exhaustion (89 rounds) in ~5 s including the corpus
    * pass; 8,000 merges over a worst-case dense 20k-token vocabulary
    * (every pair in every word) learn in ~42 s — corpus size only ever
    * affects the one vocabulary pass.
    *
    * Byte-identical contract with that distributed reference
    * (spec-pinned): same greedy fold per word, same `(count desc, pair
    * asc)` selection with unsigned-UTF-8 tie-break, same output schema
    * `(round, left_sym, right_sym, pair_count)`, same early stop. */
  def bpeMergesLocal(docs: DataFrame, textCol: String = "text",
      nMerges: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = vocabulary(docs, textCol).collect() // vocabulary-sized
    val words = rows.map(_.getSeq[String](0).toArray)
    val freqs = rows.map(_.getLong(1))
    val stats = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val index = scala.collection.mutable
      .HashMap.empty[(String, String), scala.collection.mutable.HashSet[Int]]
    // heap comparisons tie on count constantly (vocabularies share hot
    // pair counts), so the pair tie-break is the hot path: memoize each
    // symbol's UTF-8 bytes once and compare with the JDK's unsigned
    // array intrinsic instead of re-encoding per comparison
    val byteCache = scala.collection.mutable.HashMap.empty[String, Array[Byte]]
    def bytesOf(s: String): Array[Byte] =
      byteCache.getOrElseUpdate(s, s.getBytes("UTF-8"))
    def pairLt(a: (String, String), b: (String, String)): Boolean = {
      val c1 = java.util.Arrays.compareUnsigned(bytesOf(a._1), bytesOf(b._1))
      if (c1 != 0) c1 < 0
      else java.util.Arrays.compareUnsigned(bytesOf(a._2), bytesOf(b._2)) < 0
    }
    // lazy-invalidation max-heap over (count, pair) SNAPSHOTS; pop
    // discards entries whose count no longer matches the live table.
    // Snapshots are pushed ONCE PER DIRTY PAIR PER ROUND (not per
    // mutation — a hot pair is touched by thousands of words in one
    // round, and per-mutation pushes ballooned the heap ~100× on a
    // dense vocabulary). Heap work is O(dirty-pairs·log) per round, and
    // finding the max never scans the full stats table.
    val heap = scala.collection.mutable.PriorityQueue.empty[
      ((String, String), Long)](Ordering.fromLessThan { (a, b) =>
        if (a._2 != b._2) a._2 < b._2 else pairLt(b._1, a._1)
      })
    val dirty = scala.collection.mutable.HashSet.empty[(String, String)]
    def flushDirty(): Unit = {
      dirty.foreach(p => stats.get(p).foreach(c => heap.enqueue((p, c))))
      dirty.clear()
    }
    // add (sign=+1) or retract (sign=-1) word wi's adjacent-pair counts;
    // registration in the inverted index only grows — a stale entry
    // costs a no-op revisit, never a wrong count
    def tally(wi: Int, sign: Long): Unit = {
      val w = words(wi); val f = freqs(wi) * sign
      var i = 0
      while (i < w.length - 1) {
        val p = (w(i), w(i + 1))
        val c = stats.getOrElse(p, 0L) + f
        if (c == 0L) stats.remove(p) else stats(p) = c
        dirty += p
        if (sign > 0L)
          index.getOrElseUpdate(p, scala.collection.mutable.HashSet.empty) += wi
        i += 1
      }
    }
    words.indices.foreach(tally(_, 1L))
    flushDirty()
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var round = 0
    var done = false
    while (round < nMerges && !done) {
      // pop to the first LIVE snapshot
      var top: ((String, String), Long) = null
      while (top == null && heap.nonEmpty) {
        val cand = heap.dequeue()
        if (stats.get(cand._1).contains(cand._2)) top = cand
      }
      if (top == null) { done = true }
      else {
      val ((l, r), bestC) = top
      val bestP = (l, r)
      merges += ((round.toLong, l, r, bestC))
      val lr = l + r
      index.getOrElse(bestP, scala.collection.mutable.HashSet.empty)
        .toArray.foreach { wi =>
          tally(wi, -1L)
          words(wi) = applyMergeLocal(words(wi), l, r, lr)
          tally(wi, 1L)
        }
      index.remove(bestP)
      flushDirty()
      round += 1
      }
    }
    merges.result().toDF("round", "left_sym", "right_sym", "pair_count")
  }
}
