package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
  * SIGMOD 2003 — the MOSS algorithm): hash every character k-gram of
  * the normalized text, slide a window of `w` consecutive k-gram
  * hashes, and select each window's minimum (rightmost on ties). The
  * selected `(position, hash)` set is the document's fingerprint.
  *
  * Why winnowing instead of plain shingling: the selection guarantees
  * that any match of length ≥ `w + k - 1` characters between two
  * documents shares at least one SELECTED fingerprint (the winnowing
  * guarantee), while storing only ~`2/(w+1)` of the k-gram hashes — a
  * density/recall trade the MinHash family cannot make (MinHash bounds
  * the signature size but loses locality; winnowing keeps positions,
  * so matches can be located, not just detected).
  *
  * Scale shape: selection is a narrow per-document map with NO shuffle
  * and no UDF — two native kernels inside whole-stage codegen
  * ([[graft.functions.KgramHashes]]: one UTF-8 walk hashing each gram
  * window in place; [[graft.functions.WinnowSelect]]: O(nG)
  * monotone-deque sliding min), with the compositional HOF forms kept
  * in the test tree as spec-pinned reference implementations. Pair
  * generation reuses the standard blocking shape: explode `(h, id)`,
  * group by the 8-byte hash, in-block pairs under a hot-block guard,
  * then count shared fingerprints per pair — shuffles carry 16-byte
  * rows only.
  *
  * Hash choice is SEMANTIC here, unlike the MinHash/SimHash families:
  * winnowing selects each window's minimum hash, so a different hash
  * function selects a DIFFERENT fingerprint set (the winnowing match
  * guarantee holds under any hash, but the selected positions, and
  * therefore shared-fingerprint counts, are hash-relative). The
  * canonical mode is `"md5"` — 48 bits from the first 12 md5 hex
  * digits, closed-form in DuckDB, so the PRODUCTION fingerprints and
  * pair counts hash-check cross-engine exactly. `"xxhash64"` trades
  * that portability for a cheaper fused kernel when an engine-local
  * fingerprint database is acceptable; its outputs are not comparable
  * to the md5 mode's.
  */
object Winnow {

  private[operators] def normalize(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Character k-gram hashes of the normalized text — the native
    * one-pass kernel ([[graft.functions.KgramHashes]]: code-point
    * offsets over the UTF-8 bytes, each window hashed in place),
    * bit-identical to the compositional HOF form the specs keep as
    * its reference. */
  private[operators] def kgramHashes(norm: Column, k: Int,
      hashMode: String): Column =
    graft.functions.KgramHashes(norm, k, hashMode)

  /** Winnowing selection over a k-gram hash array column:
    * `array<struct<pos:int, h:long>>` of the distinct selected
    * fingerprints, ordered by position (`pos` = 0-based k-gram index
    * in the normalized text). Documents with fewer than `w` k-grams
    * use one window spanning all of them (the global min); an empty
    * hash array fingerprints to the empty array.
    *
    * Runs the native O(nG) monotone-deque kernel
    * ([[graft.functions.WinnowSelect]]) inside whole-stage codegen —
    * the HOF fold it replaced (kept in the test tree as the spec's
    * reference implementation) costs O(nG·w) interpreted
    * lambda dispatches per document, which measured ~20× slower at
    * bench scale and would make corpus-scale selection CPU-bound on
    * expression interpretation. */
  def selectionsFromHashes(hashes: Column, w: Int = 4): Column =
    graft.functions.WinnowSelect.select(hashes, w)

  /** Exploded per-document fingerprints: `(id, pos, h)` — the stored
    * form a fingerprint index would persist. Staged as three stacked
    * narrow projections (normalize → k-gram hashes → winnow fold) so
    * each expensive array is computed exactly once per document. */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, hashMode: String = "md5"): DataFrame =
    // Par.ensure below the k-gram walk: hashing every character k-gram
    // is the CPU-dense step, and a single-split input would pin it (and
    // everything pipelined above it) to one task (guide §2.5); no-op at
    // scale, where the scan has ≥ cores splits
    Par.ensure(df.select(col(idCol).as("id"), col(textCol).as("__raw")))
      .select(col("id"), normalize(col("__raw")).as("__t"))
      .select(col("id"), kgramHashes(col("__t"), k, hashMode).as("__kh"))
      .select(col("id"),
        explode(selectionsFromHashes(col("__kh"), w)).as("fp"))
      .select(col("id"), col("fp.pos").as("pos"), col("fp.h").as("h"))

  /** Incremental near-dup judge — the daily-batch form: which batch
    * documents share ≥ `minShared` selected fingerprints with ANY
    * already-seen document. `seenFps` is the STORED `(id, h)`
    * fingerprint relation — the DISTINCT `(id, h)` projection of what
    * [[fingerprints]] emits (fingerprints carries `pos` too, and one
    * hash can be selected at several positions; the caller must
    * project `.select("id", "h").distinct()` before persisting, or
    * repeated `(id, h)` rows inflate shared counts). Persist it
    * bucketed on `h` with `TableStore.stageBucketed` and the join
    * needs no store-side exchange, the incremental-exact-dedup
    * precedent; the corpus TEXT is never re-read. The hot-fingerprint
    * guard excludes fingerprints held by more than `maxBlock` seen
    * docs from evidence on BOTH sides (boilerplate fragments whose
    * join fan-out is the skew risk — in production the hot list is
    * computed once at index-build time and stored beside the index).
    * Output: `(doc_id, seen_id, shared)`. */
  def incrementalPairs(batch: DataFrame, idCol: String, textCol: String,
      seenFps: DataFrame, k: Int = 5, w: Int = 4, minShared: Int = 2,
      hashMode: String = "md5", maxBlock: Int = 200): DataFrame = {
    val bfps = fingerprints(batch, idCol, textCol, k, w, hashMode)
      .select(col("id").as("__bid"), col("h")).distinct()
    val hot = seenFps.groupBy("h")
      .agg(count(lit(1)).as("__c")).filter(col("__c") > maxBlock)
      .select("h")
    bfps.join(broadcast(hot), Seq("h"), "left_anti")
      .join(seenFps.join(broadcast(hot), Seq("h"), "left_anti"), "h")
      .groupBy(col("__bid").as("doc_id"), col("id").as("seen_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Matched-fingerprint EVIDENCE with locations — the capability that
    * distinguishes winnowing from the MinHash family (which detects
    * overlap but cannot say where): for every near-dup pair (≥
    * `minShared` shared selected fingerprints, same threshold semantics
    * as [[pairs]]), one row per matched fingerprint occurrence
    * `(id_a, id_b, h, pos_a, pos_b, shared)` — `pos_a`/`pos_b` are the
    * 0-based character positions (in the normalized text) where the
    * shared k-gram was SELECTED in each document. By the winnowing
    * guarantee every common substring of length ≥ `w + k - 1` chars
    * contributes at least one such row, so the evidence rows locate the
    * actual matched regions (MOSS's highlighted spans are exactly this
    * relation, post-processed into intervals).
    *
    * One hash can be selected at several positions in a document
    * (robust winnowing re-selects minima across adjacent windows), so a
    * shared `h` emits the position cross-product within that pair —
    * bounded by per-document selection density (~2/(w+1) of grams),
    * and `shared` still counts DISTINCT hashes, consistent with
    * [[pairs]]. Blocking and the hot-fingerprint guard (`maxBlock`
    * DISTINCT holder documents per hash) are shared with [[pairs]];
    * the fingerprint relation is computed once and cached for the
    * block-sizing, evidence, and pair-qualification passes. */
  def matchSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, minShared: Int = 2,
      hashMode: String = "md5", maxBlock: Int = 200): DataFrame = {
    Dedup.withProjectionCache(
        fingerprints(df, idCol, textCol, k, w, hashMode)) { fps =>
      val blk = fps.select("h", "id").distinct()
        .groupBy("h").agg(count(lit(1)).as("__n"))
        .filter(col("__n").between(2, maxBlock))
        .select("h")
      val ev = fps.join(blk, "h")
      val evPairs = ev
        .select(col("h"), col("id").as("id_a"), col("pos").as("pos_a"))
        .join(ev.select(col("h"), col("id").as("id_b"),
          col("pos").as("pos_b")), "h")
        .filter(col("id_a") < col("id_b"))
      // qualification runs on the slim distinct (h, id) relation, NOT on
      // evPairs: the position cross-product — the query's largest
      // relation — would otherwise be evaluated twice (once under the
      // distinct-hash aggregate, once in the output join), and the
      // distinct (id_a, id_b, h) sets are identical by construction
      val evIds = ev.select(col("h"), col("id")).distinct()
      val qualified = evIds.select(col("h"), col("id").as("id_a"))
        .join(evIds.select(col("h"), col("id").as("id_b")), "h")
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= minShared)
      evPairs.join(qualified, Seq("id_a", "id_b"))
        .select("id_a", "id_b", "h", "pos_a", "pos_b", "shared")
    }
  }

  /** Near-duplicate candidate pairs ranked by shared-fingerprint count:
    * `(id_a, id_b, shared)` with `id_a < id_b`, `shared >= minShared`.
    * Blocking groups by the fingerprint hash itself (a shared
    * fingerprint IS the match evidence — the winnowing guarantee makes
    * any ≥ `w+k-1`-char common substring produce one), with the
    * standard hot-block guard: hashes shared by more than `maxBlock`
    * documents (boilerplate fragments) are dropped rather than
    * expanded quadratically. */
  def pairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, minShared: Int = 2,
      hashMode: String = "md5", maxBlock: Int = 200): DataFrame = {
    val fps = fingerprints(df, idCol, textCol, k, w, hashMode)
      .select(col("h"), col("id")).distinct()
    val blocks = fps.groupBy("h")
      .agg(sort_array(collect_list("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBlock))
    blocks
      .select(col("h"), explode(expr(
        """flatten(transform(ids, (a, i) ->
          |  transform(slice(ids, i + 2, size(ids)), b ->
          |    struct(a AS id_a, b AS id_b))))""".stripMargin)).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }
}
