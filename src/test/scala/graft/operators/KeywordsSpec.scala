package graft.operators

import org.apache.spark.util.sketch.CountMinSketch
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

class KeywordsSpec extends AnyFunSuite with Matchers with SparkSpec {

  import org.apache.spark.sql.functions._

  private def docs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("surprisalScore: exact bits for bigram hit, backoff, and OOV paths") {
    // model "a b a b": N=4, c(a)=c(b)=2, c(a,b)=2, c(b,a)=1
    val model = docs(0L -> "a b a b")
    val score = docs(
      1L -> "a b", // pos1 unigram ilog2(4/2)=1; pos2 bigram ilog2(2/2)=0
      2L -> "b b", // pos1 =1; pos2 backoff 4+ilog2(4/2)=5
      3L -> "z a") // pos1 OOV 8+ilog2(4)=10; pos2 backoff 4+1=5
    val out = Keywords.surprisalScore(score, model).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    out(1L) shouldBe ((2L, 1L, 0.5))
    out(2L) shouldBe ((2L, 6L, 3.0))
    out(3L) shouldBe ((2L, 15L, 7.5))
    // in-distribution text scores strictly below novel text
    out(1L)._3 should be < out(2L)._3
    out(2L)._3 should be < out(3L)._3
  }

  test("tfidfTopTerms: rare terms outrank corpus-universal ones") {
    val d = docs(
      1L -> "the cat sat on the mat",
      2L -> "the dog sat on the log",
      3L -> "the quantum flux capacitor hums",
      4L -> "the cat and the dog")
    val out = Keywords.tfidfTopTerms(d, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(5)) -> r.getString(1)).toMap

    // doc 3's top terms are its unique words, never "the" (df=4)
    Set(out((3L, 1L)), out((3L, 2L))) should contain noneOf ("the", "sat")
    // every doc gets exactly k=2 ranked rows
    out.keys.map(_._1).toSeq.distinct should have size 4
  }

  test("tfidfTopTerms: score matches the smoothed-idf formula") {
    val d = docs(1L -> "alpha alpha beta", 2L -> "beta gamma")
    val out = Keywords.tfidfTopTerms(d, k = 3).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(4)).toMap
    // alpha: tf=2 in doc 1, df=1, N=2 → 2·(ln(3/2)+1)
    val expected = BigDecimal(2.0 * (math.log(3.0 / 2.0) + 1.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    out((1L, "alpha")) shouldBe expected
  }

  test("vocabulary: doc_freq counts documents, total_count counts occurrences") {
    val d = docs(
      1L -> "red red blue",
      2L -> "red green",
      3L -> "blue blue")
    val v = Keywords.vocabulary(d, minDocFreq = 2).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    v("red") shouldBe ((2L, 3L))
    v("blue") shouldBe ((2L, 3L))
    v.contains("green") shouldBe false // df=1 < threshold
  }

  test("inverted index: driver-twin buckets agree, probe prunes partitions, AND search exact") {
    val d = docs(
      1L -> "spark join window spark",
      2L -> "spark only here",
      3L -> "join and window",
      4L -> "spark join",
      5L -> "nothing relevant")
    val dir = tmpDir("invidx")
    Keywords.writeInvertedIndex(d, dir, nBuckets = 16)

    // driver twin == executor column for every indexed term
    val got = spark.read.parquet(dir)
      .select("term", "bucket").distinct().collect()
      .map(r => r.getString(0) -> r.getInt(1))
    got should not be empty
    got.foreach { case (t, b) => Keywords.bucketOf(t, 16) shouldBe b }

    // AND semantics + tf ranking: doc 1 (tf 2+1) above doc 4 (1+1);
    // docs 2/3/5 lack a term and never appear
    val hits = Keywords.searchInvertedIndex(spark, dir,
        Seq("spark", "join"), k = 10, nBuckets = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    hits shouldBe Array((1L, 3L), (4L, 2L))

    // the probe reads only the query terms' bucket directories
    val plan = Keywords.searchInvertedIndex(spark, dir,
        Seq("spark", "join"), k = 10, nBuckets = 16)
      .queryExecution.executedPlan.toString
    plan should include("PartitionFilters: [bucket")
  }

  test("bm25FromIndex: identical rows to full-scan bm25TopDocs; probe is partition-pruned") {
    val d = docs(
      1L -> "spark join window spark",
      2L -> ("spark " + Seq.fill(50)("filler").mkString(" ")),
      3L -> "join window join",
      4L -> "spark join",
      5L -> "nothing relevant here")
    val dir = tmpDir("bm25idx")
    Keywords.writeInvertedIndex(d, dir, nBuckets = 16)

    // _stats sidecar records exact corpus totals and stays invisible to
    // the postings read
    val st = spark.read.parquet(s"$dir/_stats").head()
    st.getAs[Long]("n_docs") shouldBe 5L
    st.getAs[Long]("total_tokens") shouldBe 63L // 4 + 51 + 3 + 2 + 3
    spark.read.parquet(dir).columns should contain allOf ("doc_id", "term", "tf", "dl", "bucket")

    val q = Seq("spark", "join", "window")
    val idx = Keywords.bm25FromIndex(spark, dir, q, k = 10, nBuckets = 16)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val full = Keywords.bm25TopDocs(d, q, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    idx shouldBe full

    // the probe reads only the query terms' bucket directories
    val plan = Keywords.bm25FromIndex(spark, dir, q, k = 10, nBuckets = 16)
      .queryExecution.executedPlan.toString
    plan should include("PartitionFilters: [bucket")
  }

  test("appendToInvertedIndex: append ≡ rebuild exactly — postings, stats, and BM25 scores") {
    val all = docs(
      1L -> "spark join window spark",
      2L -> ("spark " + Seq.fill(50)("filler").mkString(" ")),
      3L -> "join window join",
      4L -> "spark join",
      5L -> "nothing relevant here",
      6L -> "window join spark window")
    val full = tmpDir("bm25full")
    val inc = tmpDir("bm25inc")
    Keywords.writeInvertedIndex(all, full, nBuckets = 16)
    Keywords.writeInvertedIndex(all.filter(col("doc_id") <= 3), inc, nBuckets = 16)
    Keywords.appendToInvertedIndex(all.filter(col("doc_id") > 3), inc)

    // sidecar totals roll forward to exactly the full-corpus values
    // (bucket count preserved from the build — append reads it, never
    // takes it as an argument, so mis-bucketing is unrepresentable)
    val sf = spark.read.parquet(s"$full/_stats").head()
    val si = spark.read.parquet(s"$inc/_stats").head()
    (si.getAs[Long]("n_docs"), si.getAs[Long]("total_tokens"),
      si.getAs[Int]("n_buckets")) shouldBe
      ((sf.getAs[Long]("n_docs"), sf.getAs[Long]("total_tokens"),
        sf.getAs[Int]("n_buckets")))

    // the posting RELATION matches row-for-row (dl per doc, tf per
    // (doc, term), bucket routing) — append only adds the batch's rows
    def postings(p: String) = spark.read.parquet(p)
      .select("doc_id", "term", "tf", "dl", "bucket")
      .collect().map(_.toSeq).toSet
    postings(inc) shouldBe postings(full)

    // and therefore the probe scores hash-match the full build
    val q = Seq("spark", "join", "window")
    def top(p: String) = Keywords.bm25FromIndex(spark, p, q, k = 10, nBuckets = 16)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    top(inc) shouldBe top(full)
    // an empty append is a no-op on postings and stats alike
    Keywords.appendToInvertedIndex(all.filter(col("doc_id") > 100), inc)
    postings(inc) shouldBe postings(full)
    top(inc) shouldBe top(full)
  }

  test("appendToPositionalIndex: append ≡ rebuild — postings and phrase answers") {
    val all = docs(
      1L -> "full table scan is slow",
      2L -> "index scan beats table scan",
      3L -> "table scan table scan table scan",
      4L -> "unrelated words only",
      5L -> "the table scan returns")
    val full = tmpDir("posfull")
    val inc = tmpDir("posinc")
    Keywords.writePositionalIndex(all, full, nBuckets = 16)
    Keywords.writePositionalIndex(all.filter(col("doc_id") <= 2), inc, nBuckets = 16)
    Keywords.appendToPositionalIndex(all.filter(col("doc_id") > 2), inc)
    // bucket count came from the sidecar, postings match row-for-row
    def postings(p: String) = spark.read.parquet(p)
      .select("doc_id", "term", "positions", "bucket")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getSeq[Int](2), r.getInt(3))).toSet
    postings(inc) shouldBe postings(full)
    // and phrase probes answer identically (multi-occurrence ranking)
    def phrase(p: String) = Keywords.phraseSearch(
        spark, p, Seq("table", "scan"), k = 10, nBuckets = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    phrase(inc) shouldBe phrase(full)
    phrase(full).head._1 shouldBe 3L // 3 occurrences ranks first
  }

  test("stored n-gram model: surprisalFromModel ≡ surprisalScore on the same slice") {
    val corpus = docs(
      0L -> "a b a b c",
      2L -> "a b c a",
      4L -> "b c b",
      1L -> "a b z q",     // scored only: known bigrams + OOV tail
      3L -> "q q q",       // scored only: all-OOV
      5L -> "c a b")       // scored only: in-distribution
    val model = corpus.filter(col("doc_id") % 2 === 0)
    val dir = tmpDir("ngram")
    Keywords.writeNgramModel(model, dir)
    // stats sidecar holds the exact model token total (5 + 4 + 3)
    spark.read.parquet(s"$dir/_stats").head().getAs[Long]("n_total") shouldBe 12L
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    val stored = rows(Keywords.surprisalFromModel(spark, dir, corpus))
    val inline = rows(Keywords.surprisalScore(corpus, model))
    stored shouldBe inline
    // the scores separate in-distribution from garbage as intended
    val byId = stored.map(t => t._1 -> t._4).toMap
    byId(5L) should be < byId(3L)
  }

  test("corpusFrequencyScore: hot-token boilerplate outscores rare-token docs; exact counts") {
    val d = docs(
      1L -> "common common common",          // corpus-hot tokens only
      2L -> "common zxqv",                   // one hot + one rare
      3L -> "common common zzyx qqwv pplm")  // mostly rare
    val out = Keywords.corpusFrequencyScore(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // "common" appears 6 times corpus-wide; each rare token once
    out(1L) shouldBe ((3L, 18L, 6000L))       // 3 tokens × freq 6 → mean 6.000
    out(2L) shouldBe ((2L, 7L, 3500L))        // (6 + 1) / 2
    out(3L) shouldBe ((5L, 15L, 3000L))       // (6·2 + 1·3) / 5
    out(1L)._3 should be > out(3L)._3         // boilerplate > rare content
  }

  test("bm25TopDocs: term-dense short docs outrank term-sparse long ones") {
    val d = docs(
      1L -> "spark join window spark",
      2L -> ("spark " + Seq.fill(50)("filler").mkString(" ")),
      3L -> "nothing relevant here")
    val out = Keywords.bm25TopDocs(d, Seq("spark", "join"), k = 3).collect()
    out.head.getLong(0) shouldBe 1L // 2 query terms, short doc
    // doc 3 has no query term -> no tf row -> absent entirely
    out.map(_.getLong(0)) should not contain 3L
    // scores positive and descending
    val scores = out.map(_.getDouble(1))
    scores.head should be > scores.last
    all(scores) should be > 0.0
  }

  test("tokenSketch: CMS estimates dominate true counts within eps·total") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val eps = 0.001
    val sk = CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(Keywords.tokenSketch(d, eps = eps)))

    val exact = Keywords.tokens(d).groupBy("term").count()
      .orderBy(col("count").desc).limit(50).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val total = Keywords.tokens(d).count()

    sk.totalCount() shouldBe total
    exact.foreach { case (term, cnt) =>
      val est = sk.estimateCount(term)
      est should be >= cnt // CMS never undercounts
      est should be <= cnt + math.ceil(eps * total).toLong
    }
  }

  test("rrfFuse: hand-computed fusion of two ranked lists, absent docs contribute 0") {
    val s = spark
    import s.implicits._
    // list A ranks: 10→1, 20→2, 30→3; list B ranks: 20→1, 40→2
    val a = Seq((10L, 0.9), (20L, 0.8), (30L, 0.7)).toDF("doc_id", "bm25")
    val b = Seq((20L, 0.99), (40L, 0.5)).toDF("vec_id", "cos")
    val out = Keywords.rrfFuse(
      Seq((a, "doc_id", "bm25"), (b, "vec_id", "cos")), k = 10, rrfK = 60)
    out.columns.toSeq shouldBe Seq("id", "rank_bm25", "rank_cos", "rrf")
    val rows = out.collect().map(r =>
      r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)), r.getDouble(3))).toMap
    // doc 20 in both lists: 1/62 + 1/61
    rows(20L) shouldBe ((Some(2L), Some(1L),
      BigDecimal(1.0 / 62 + 1.0 / 61).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble))
    // single-list docs: one null rank, the other contributes alone
    rows(10L) shouldBe ((Some(1L), None,
      BigDecimal(1.0 / 61).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    rows(40L) shouldBe ((None, Some(2L),
      BigDecimal(1.0 / 62).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    // both-list membership dominates any single-list rank
    out.collect().head.getLong(0) shouldBe 20L
  }

  test("rrfFuse: fusing a list with itself preserves its order, top-k truncates") {
    val s = spark
    import s.implicits._
    val a = Seq((1L, 0.9), (2L, 0.8), (3L, 0.7), (4L, 0.6)).toDF("id0", "s1")
    val b = a.select(col("id0").as("id1"), col("s1").as("s2"))
    val out = Keywords.rrfFuse(
      Seq((a, "id0", "s1"), (b, "id1", "s2")), k = 3).collect()
    out.map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L, 3L)
  }

  test("tokenSketch: sketches from disjoint halves merge to the full-corpus sketch") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def read(b: Array[Byte]) =
      CountMinSketch.readFrom(new java.io.ByteArrayInputStream(b))
    val lo = read(Keywords.tokenSketch(d.filter(col("doc_id") % 2 === 0)))
    val hi = read(Keywords.tokenSketch(d.filter(col("doc_id") % 2 === 1)))
    val full = read(Keywords.tokenSketch(d))
    val merged = lo.mergeInPlace(hi)

    merged.totalCount() shouldBe full.totalCount()
    // same seed → identical hash planes → identical counters → identical
    // estimates for any term (the property that makes per-partition
    // sketch construction + associative merge exact at any cluster size)
    Seq("the", "a", "data", "zzz-absent").foreach { t =>
      merged.estimateCount(t) shouldBe full.estimateCount(t)
    }
  }

  test("naive bayes: separable corpus classifies perfectly, OOV-only docs " +
      "drop, ties break to the smallest label, scoring is integer-exact") {
    val s = spark
    import s.implicits._
    // two classes with mostly-disjoint vocab plus shared filler
    val train = Seq(
      ("spam", "buy cheap pills now buy offer cheap"),
      ("spam", "offer cheap offer now click buy"),
      ("ham", "meeting notes agenda project review notes"),
      ("ham", "project review meeting agenda tomorrow notes"))
      .toDF("label", "text").withColumn("doc_id", monotonically_increasing_id())
    val model = Keywords.naiveBayesTrain(train)
    val score = Seq(
      (1L, "cheap pills offer buy"), // clearly spam
      (2L, "agenda project meeting review"), // clearly ham
      (3L, "totally unseen vocabulary zzz"), // OOV-only → dropped
      (4L, "notes buy")) // mixed
      .toDF("doc_id", "text")
    val out = Keywords.naiveBayesScore(score, model)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out(1L) shouldBe "spam"
    out(2L) shouldBe "ham"
    out.contains(3L) shouldBe false
    out should have size 3
    // integer-exact determinism: identical longs on a repeat run
    val twice = Keywords.naiveBayesScore(score, model)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    Keywords.naiveBayesScore(score, model)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq shouldBe twice
    // tie-break: a scoring doc whose every token is equally likely under
    // two symmetric classes → exact score tie → smallest label wins
    val sym = Seq(("a", "x y"), ("b", "x y")).toDF("label", "text")
    val mSym = Keywords.naiveBayesTrain(sym)
    Keywords.naiveBayesScore(Seq((9L, "x y")).toDF("doc_id", "text"), mSym)
      .head().getString(1) shouldBe "a"
  }

  test("char-n-gram NB does language ID: perfect held-out separation of " +
      "orthographies on UNSEEN words, where word-unigram NB has no signal") {
    val s = spark
    import s.implicits._
    // three "languages" = three orthographies of one shared word stock
    // (vowels mapped to digits, which never occur naturally) — the
    // langid setting: same content, different writing system
    def ortho(t: String, l: String): String = l match {
      case "l0" => t.map { case 'a' => '0'; case 'e' => '1'; case 'o' => '2'; case c => c }
      case "l1" => t.map { case 'a' => '3'; case 'e' => '4'; case 'o' => '5'; case c => c }
      case _ => t
    }
    val words = Vector("data", "table", "stream", "vector", "filter",
      "merge", "batch", "window", "column", "order", "group", "spark",
      "query", "scan", "sort", "agg", "join", "row", "key", "value")
    val unseen = Vector("bargain", "notebook", "tomorrow", "harbor",
      "meadow", "calendar", "operator", "theater", "octagon", "beacon")
    val langs = Seq("l0", "l1", "l2")
    val rnd = new scala.util.Random(7)
    val train = (for (l <- langs; _ <- 0 until 20) yield
        (l, ortho(Seq.fill(12)(words(rnd.nextInt(words.size)))
          .mkString(" "), l)))
      .toDF("label", "text")
      .withColumn("doc_id", monotonically_increasing_id())
    val model = Keywords.naiveBayesTrain(train, charNgrams = Seq(1, 3))
    // held-out docs built ONLY from words the model never saw: n-grams
    // see the orthography anyway — word identity is irrelevant
    val held = for ((l, i) <- langs.zipWithIndex; j <- 0 until 5) yield
      ((i * 5 + j).toLong, l,
        ortho(Seq.fill(8)(unseen(rnd.nextInt(unseen.size)))
          .mkString(" "), l))
    val scoreDf = held.map { case (id, _, t) => (id, t) }.toDF("doc_id", "text")
    val got = Keywords.naiveBayesScore(scoreDf, model)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    held.foreach { case (id, l, _) => got(id) shouldBe l }
    // the word-unigram model on the SAME corpus: every held-out token
    // is out-of-vocabulary, so every doc drops — zero langid signal
    Keywords.naiveBayesScore(scoreDf, Keywords.naiveBayesTrain(train))
      .count() shouldBe 0L
  }

  test("pmiCollocations: hand-computed PMI on a planted collocation, " +
      "bigram mass from the UNFILTERED counts, minCount gates hapax pairs") {
    val s = spark
    import s.implicits._
    // 'new york' always co-occurs; 'the' is everywhere — PMI must rank
    // the collocation above the frequent-but-independent pair
    val docs = (1 to 8).map(i =>
        (i.toLong, s"the new york the t$i the new york"))
      .toDF("doc_id", "text")
    val got = Keywords.pmiCollocations(docs, k = 5, minCount = 2)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toList
    // independent reference with the identical arithmetic
    val toks = (1 to 8).flatMap(i =>
      s"the new york the t$i the new york".split(" ").toSeq)
    val unis = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bis = (1 to 8).flatMap { i =>
      val w = s"the new york the t$i the new york".split(" ").toSeq
      w.zip(w.tail)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = toks.size.toLong
    val m = bis.values.sum
    def pmi(l: String, r: String): Long =
      math.floor(math.log((bis((l, r)).toDouble * n * n) /
        (m.toDouble * unis(l) * unis(r))) * 1e6).toLong
    val expected = bis.filter(_._2 >= 2).toSeq
      .map { case ((l, r), c) => (l, r, c, pmi(l, r)) }
      .sortBy(t => (-t._4, t._1, t._2))
      .take(5).zipWithIndex
      .map { case ((l, r, c, p), i) => (l, r, c, p, i + 1L) }
    got shouldBe expected
    // the collocation outranks the frequent independent pair
    got.head._1 shouldBe "new"
    got.head._2 shouldBe "york"
    // the per-doc-unique 'the t<i>' pairs are hapax — gated by minCount
    got.map(t => (t._1, t._2)) should not contain ("the" -> "t1")
  }

  test("rakeKeywords: hand-computed stats on the classic shape, repeated " +
      "phrases collapse with counts, top-k truncates") {
    val s = spark
    import s.implicits._
    // "deep learning of deep convolutional networks" with stopword 'of':
    // phrases [deep learning], [deep convolutional networks];
    // freq(deep)=2, deg(deep)=2+3=5 → w=floor(5e6/2)=2500000;
    // learning w=2000000; convolutional=networks=3000000;
    // scores: dl = 4500000, dcn = 8500000 — dcn ranks first
    val df = Seq((1L, "deep learning of deep convolutional networks"))
      .toDF("doc_id", "text")
    Keywords.rakeKeywords(df, stopwords = Seq("of"), k = 10)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toList shouldBe List(
      ("deep convolutional networks", 8500000L, 3L, 1L, 1L),
      ("deep learning", 4500000L, 2L, 1L, 2L))

    // the same phrase across docs and within a doc collapses to one row
    // with an occurrence count; stats stay per-occurrence
    val df2 = Seq((1L, "red fox of red fox"), (2L, "red fox"))
      .toDF("doc_id", "text")
    Keywords.rakeKeywords(df2, Seq("of"), k = 5)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toList shouldBe List(
      ("red fox", 4000000L, 2L, 3L, 1L))

    // k truncates the ranked take; ties break on the phrase string
    val df3 = Seq((1L, "aa of bb of cc")).toDF("doc_id", "text")
    Keywords.rakeKeywords(df3, Seq("of"), k = 2)
      .collect().map(r => (r.getString(0), r.getLong(4))).toList shouldBe
      List(("aa", 1L), ("bb", 2L))
  }
}
