package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Winnowing fingerprint invariants: the selection guarantee, the
  * rightmost tie rule, short-document edges, and production-hash ≡
  * portable-hash pair sets on real documents. */
class WinnowSpec extends AnyFunSuite with Matchers with SparkSpec {

  import org.apache.spark.sql.functions._

  private val k = 5
  private val w = 4

  private def fps(rows: Seq[(Long, String)], mode: String = "md5") = {
    val s = spark
    import s.implicits._
    Winnow.fingerprints(rows.toDF("doc_id", "text"), "doc_id", "text",
      k, w, mode)
  }

  test("winnowing guarantee: a shared substring of length >= w+k-1 " +
      "yields a shared selected fingerprint") {
    // 40 random-ish distinct chars with an identical 8-char (= w+k-1)
    // run embedded at different offsets in both docs
    val common = "zqxjvwpy"
    val a = s"abcdefgh${common}ijklmnop"
    val b = s"0123${common}456789abcdef"
    val f = fps(Seq((1L, a), (2L, b)))
      .select("id", "h").collect().groupBy(_.getLong(0))
    val ha = f(1L).map(_.getLong(1)).toSet
    val hb = f(2L).map(_.getLong(1)).toSet
    (ha intersect hb) should not be empty
  }

  test("rightmost tie rule and short-document edges") {
    // all-identical k-grams: every window min ties, the rightmost wins;
    // window j selects gram j+w-1, so the distinct positions are
    // exactly {w-1 .. nG-1} with one shared hash value
    val rep = fps(Seq((1L, "aaaaaaaaaa"))) // 10 chars -> nG = 6
    val rows = rep.select("pos", "h").collect()
    rows.map(_.getInt(0)).sorted shouldBe Array(3, 4, 5)
    rows.map(_.getLong(1)).distinct.length shouldBe 1

    // shorter than k -> no fingerprints at all
    fps(Seq((1L, "abc"))).count() shouldBe 0L
    // >= k chars but fewer than w grams -> exactly one global-min pick
    fps(Seq((1L, "abcdef"))).count() shouldBe 1L // nG = 2 < w
    // determinism: same text, same fingerprints
    val x = fps(Seq((1L, "the quick brown fox"))).collect().toSet
    val y = fps(Seq((1L, "the quick brown fox"))).collect().toSet
    x shouldBe y
    // normalization: case and whitespace runs don't change fingerprints
    val n1 = fps(Seq((1L, "The  Quick\tBrown fox"))).select("pos", "h")
      .collect().toSet
    val n2 = fps(Seq((1L, "the quick brown fox"))).select("pos", "h")
      .collect().toSet
    n1 shouldBe n2
  }

  test("native deque kernel ≡ reference HOF fold on real documents and edges") {
    val s = spark
    import s.implicits._
    // real corpus: every document's selection set must agree exactly
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq( // plus hand-picked edges
        (100001L, "aaaaaaaaaa"), // all-tie windows (rightmost rule)
        (100002L, "abcdef"), // fewer grams than w (single window)
        (100003L, "abcd"), // shorter than k → empty
        (100004L, "zzzzabababzzzz") // periodic interior ties
      ).toDF("doc_id", "text"))
    val norm = docs
      .select(col("doc_id"), Winnow.normalize(col("text")).as("__t"))
      .localCheckpoint(true)
    for (mode <- Seq("md5", "xxhash64")) {
      // hashing: native byte-window kernel ≡ compositional substr+hash
      val hashed = norm.select(col("doc_id"),
          Winnow.kgramHashes(col("__t"), k, mode).as("__kh"),
          WinnowReference.kgramHashesHof(col("__t"), k, mode).as("__khRef"))
        .localCheckpoint(true)
      hashed.filter(col("__kh") =!= col("__khRef")).count() shouldBe 0L
      // selection: native deque kernel ≡ reference HOF fold
      val kernel = hashed.select(col("doc_id"),
          Winnow.selectionsFromHashes(col("__kh"), w).as("sel"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Any](1).toList).toMap
      val hof = hashed.select(col("doc_id"),
          WinnowReference.selectionsFromHashesHof(col("__kh"), w).as("sel"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Any](1).toList).toMap
      kernel.keySet shouldBe hof.keySet
      kernel.foreach { case (id, sel) => sel shouldBe hof(id) }
    }
    // multi-byte text: code-point (not byte) gram boundaries
    val uni = Seq((1L, "héllo wörld déjà vu ñoño")).toDF("doc_id", "text")
      .select(col("doc_id"), Winnow.normalize(col("text")).as("__t"))
    uni.select(Winnow.kgramHashes(col("__t"), k, "md5").as("a"),
        WinnowReference.kgramHashesHof(col("__t"), k, "md5").as("b"))
      .filter(col("a") =!= col("b")).count() shouldBe 0L
  }

  test("match guarantee holds under either hash; real corpus yields pairs") {
    // hash choice decides WHICH fingerprints are selected (winnowing
    // takes the per-window min), so md5 and xxhash64 outputs are NOT
    // comparable — but the w+k-1 guarantee is hash-independent
    val common = "zqxjvwpy"
    val docs = Seq((1L, s"abcdefgh${common}ijklmnop"),
      (2L, s"0123${common}456789abcdef"))
    for (mode <- Seq("md5", "xxhash64")) {
      val f = fps(docs, mode).select("id", "h").collect()
        .groupBy(_.getLong(0))
      (f(1L).map(_.getLong(1)).toSet
        intersect f(2L).map(_.getLong(1)).toSet) should not be empty
    }
    // the canonical md5 mode finds real near-dup structure in the corpus
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Winnow.pairs(corpus, "doc_id", "text", k, w, minShared = 2,
      hashMode = "md5").count() should be > 0L
  }

  test("matchSpans locates shared substrings; consistent with pairs; guard applies") {
    val s = spark
    import s.implicits._
    val common = "the quick brown fox jumps over it"
    val docs = Seq(
      (1L, s"AAAA bbbb $common cccc dddd"),
      (2L, s"XXXX yyyy zzzz $common wwww"),
      (3L, "completely unrelated content qqqq"))
    val spans = Winnow.matchSpans(docs.toDF("doc_id", "text"),
      "doc_id", "text", k, w, minShared = 1).collect()
    // only the (1,2) pair shares fingerprints
    spans.map(r => (r.getLong(0), r.getLong(1))).distinct shouldBe Array((1L, 2L))
    // every evidence row's positions point at the SAME k-gram text in
    // both normalized documents — the location claim itself
    def norm(t: String) = t.toLowerCase.trim.replaceAll("\\s+", " ")
    val (t1, t2) = (norm(docs(0)._2), norm(docs(1)._2))
    spans.foreach { r =>
      val (pa, pb) = (r.getInt(3), r.getInt(4))
      t1.substring(pa, pa + k) shouldBe t2.substring(pb, pb + k)
    }
    // shared counts agree with pairs() (distinct hashes, not positions)
    val fromPairs = Winnow.pairs(docs.toDF("doc_id", "text"),
      "doc_id", "text", k, w, minShared = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    spans.map(r => (r.getLong(0), r.getLong(1), r.getLong(5))).toSet shouldBe fromPairs
    // at least one matched position differs between the two docs (the
    // common run sits at different offsets), proving positions are
    // per-document, not copied across
    spans.exists(r => r.getInt(3) != r.getInt(4)) shouldBe true
    // hot-fingerprint guard: with maxBlock = 1 every block is dropped
    Winnow.matchSpans(docs.toDF("doc_id", "text"), "doc_id", "text",
      k, w, minShared = 1, maxBlock = 1).count() shouldBe 0L
  }
}
