package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The compositional higher-order-function forms of winnowing's two
  * native kernels, kept as the references the specs pin
  * [[Winnow.kgramHashes]] and [[Winnow.selectionsFromHashes]] against. */
object WinnowReference {

  /** Reference HOF formulation of [[Winnow.kgramHashes]] (spec-pinned
    * equal).
    * `norm` must be a materialized attribute (see
    * [[selectionsFromHashesHof]]'s no-inline-expression rule — the gram
    * lambda references it once per k-gram). */
  def kgramHashesHof(norm: Column, k: Int, hashMode: String): Column = {
    val n = length(norm)
    val grams = transform(sequence(lit(0), n - k),
      i => norm.substr(i + 1, lit(k)))
    val hashed = hashMode match {
      // 12 hex digits = 48 bits: wide enough that a corpus-scale
      // fingerprint table stays collision-free w.h.p. (32 bits expects
      // a birthday collision by ~80k fingerprints — observed as a
      // manufactured shared fingerprint on the sf0.01 corpus), while
      // still fitting a signed BIGINT in both engines
      case "md5" => transform(grams,
        g => conv(substring(md5(g), 1, 12), 16, 10).cast("long"))
      case "xxhash64" => transform(grams, g => xxhash64(g))
      case other => throw new IllegalArgumentException(
        s"hashMode must be md5 or xxhash64, got $other")
    }
    when(n >= k, hashed)
      .otherwise(array().cast("array<bigint>"))
  }

  /** Reference HOF formulation of the selection — same semantics as
    * the kernel (spec-pinned equal on real documents), kept because
    * an independent executable statement of the algorithm is what
    * makes the kernel auditable.
    *
    * `hashes` MUST be a plain column attribute, not an inline
    * expression: higher-order functions evaluate interpreted, with no
    * common-subexpression elimination inside the lambda — an inline
    * k-gram-hash expression here would be recomputed for every
    * element_at reference, turning the O(nG·w) fold into
    * O(nG²·w) md5 work per document ([[Winnow.fingerprints]] stages the
    * projections in the right shape; CollapseProject keeps the
    * many-times-referenced expensive producer un-inlined). */
  def selectionsFromHashesHof(hashes: Column, w: Int = 4): Column = {
    val nG = size(hashes)
    val width = least(lit(w), nG)
    val nWindows = greatest(nG - w + 1, lit(1))
    // rightmost-min fold per window: <= lets later positions win ties,
    // which is the winnowing tie rule (robust winnowing picks rightmost
    // so adjacent windows re-select the same gram where possible)
    val sels = transform(sequence(lit(0), nWindows - 1), j =>
      aggregate(sequence(j, j + width - 1),
        struct(lit(-1).as("pos"), lit(Long.MaxValue).as("h")),
        (acc, p) => when(element_at(hashes, p + 1) <= acc.getField("h"),
            struct(p.cast("int").as("pos"),
              element_at(hashes, p + 1).as("h")))
          .otherwise(acc)))
    when(nG > 0, array_sort(array_distinct(sels)))
      .otherwise(array().cast("array<struct<pos:int,h:bigint>>"))
  }
}
