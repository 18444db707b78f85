package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

class GraphSpec extends AnyFunSuite with Matchers with SparkSpec {
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)],
      nodes: Option[Seq[Long]] = None, maxIter: Int = 50): Map[Long, Long] =
    Graph.connectedComponents(
        edges.toDF("a", "b"), "a", "b",
        nodes = nodes.map(_.toDF("node")), maxIter = maxIter)
      .as[(Long, Long)].collect().toMap

  /** Reference union-find, the O(n α) single-machine ground truth. */
  private def unionFind(edges: Seq[(Long, Long)], nodes: Seq[Long]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodes.foreach(find)
    edges.foreach { case (a, b) => union(a, b) }
    // canonicalize to min-of-component (union already keeps min as root,
    // but path compression timing can leave stale parents — re-find all)
    val all = (nodes ++ edges.flatMap(e => Seq(e._1, e._2))).distinct
    all.map(n => n -> find(n)).toMap
  }

  test("path graph: diameter-length chain converges in log rounds, one component") {
    // 0-1-2-…-63: the worst case for naive neighbor propagation (64
    // rounds); star contraction must close it within maxIter=10 ≈ log²
    val edges = (0L until 63L).map(i => (i, i + 1))
    val got = cc(edges, maxIter = 10)
    got.keySet shouldBe (0L to 63L).toSet
    got.values.toSet shouldBe Set(0L)
  }

  test("two cliques, a bridge-less gap, and isolated nodes from the nodes relation") {
    val k1 = for (a <- 10L to 13L; b <- (a + 1) to 13L) yield (a, b)
    val k2 = for (a <- 20L to 24L; b <- (a + 1) to 24L) yield (a, b)
    val got = cc(k1 ++ k2, nodes = Some(Seq(10L, 20L, 99L, 7L)))
    (10L to 13L).foreach(n => got(n) shouldBe 10L)
    (20L to 24L).foreach(n => got(n) shouldBe 20L)
    got(99L) shouldBe 99L // isolated: singleton of itself
    got(7L) shouldBe 7L
    got.size shouldBe 4 + 5 + 2
  }

  test("self-loops, duplicate and reversed edges, and null endpoints are inert") {
    val df = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L), (null, 5L), (6L, null))
      .toDF("a", "b")
    val got = Graph.connectedComponents(df, "a", "b",
        nodes = Some(Seq(3L).toDF("node")))
      .as[(Long, Long)].collect().toMap
    got shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 3L)
  }

  test("empty edge relation: isolated nodes only, no iteration") {
    val got = cc(Seq.empty, nodes = Some(Seq(4L, 8L)))
    got shouldBe Map(4L -> 4L, 8L -> 8L)
  }

  test("random graph matches union-find ground truth, deterministically") {
    val rnd = new scala.util.Random(1234)
    val n = 400
    // sparse random graph → many nontrivial components of varied shape
    val edges = Seq.fill(300)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    val nodes = (0L until n.toLong).toSeq
    val expected = unionFind(edges, nodes)
    val got = cc(edges, nodes = Some(nodes))
    got shouldBe expected
    cc(edges, nodes = Some(nodes)) shouldBe got // repeat run → identical
  }

  test("connectedComponents matches union-find on random, chain and " +
      "hub shapes") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(300)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(e => e._1 != e._2)
    val shapes = Seq(
      edges,
      (0L until 60L).map(i => (i, i + 1)), // chain
      (1L until 50L).map(i => (i, 0L))) // hub
    shapes.foreach(es => cc(es) shouldBe unionFind(es, Seq.empty))
  }

  test("triangleCounts: known shapes exact, random graph matches the " +
      "brute-force reference, degenerate edges inert") {
    def tc(edges: Seq[(Long, Long)], nodes: Option[Seq[Long]] = None): Map[Long, Long] =
      Graph.triangleCounts(edges.toDF("a", "b"), "a", "b",
          nodes = nodes.map(_.toDF("node")))
        .as[(Long, Long)].collect().toMap
    // K4: C(4,3) = 4 triangles, every node in exactly 3
    val k4 = for (i <- 0L until 4L; j <- (i + 1) until 4L) yield (i, j)
    tc(k4) shouldBe Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L)
    // triangle-free shapes: chain and star count zero everywhere
    tc((0L until 10L).map(i => (i, i + 1))).values.toSet shouldBe Set(0L)
    tc((1L to 10L).map(i => (i, 0L))).values.toSet shouldBe Set(0L)
    // self-loops, duplicates, reversed edges, isolated nodes
    tc(Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (1L, 3L), (3L, 1L)),
        nodes = Some(Seq(1L, 2L, 3L, 9L))) shouldBe
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 0L)
    // random graph vs the brute-force triple scan
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(260)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2)
    val canon = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .distinct.toSet
    val ns = (0L until 40L).toSeq
    val brute = scala.collection.mutable.Map[Long, Long]()
      .withDefaultValue(0L)
    for (x <- ns; y <- ns if y > x; z <- ns if z > y)
      if (canon((x, y)) && canon((y, z)) && canon((x, z))) {
        brute(x) += 1; brute(y) += 1; brute(z) += 1
      }
    val got = tc(edges, nodes = Some(ns))
    ns.foreach { v => got(v) shouldBe brute(v) }
  }

  test("maxIter exhaustion throws instead of returning partial components") {
    // a 16-chain cannot finish in 1 round
    val edges = (0L until 15L).map(i => (i, i + 1))
    an[IllegalStateException] should be thrownBy cc(edges, maxIter = 1)
  }

  test("personalized PageRank: exact integer reference on a directed " +
      "cycle, seeds outside the universe dropped, empty seed set refuses") {
    val s = spark
    import s.implicits._
    // 0→1→2→3→0, restart {0}: every outdeg is 1, so the reference is a
    // 4-long integer recurrence with the operator's exact decomposition
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
    val nodes = Seq(0L, 1L, 2L, 3L)
    def ref(iters: Int): Map[Long, Long] = {
      val base = (1000000000L * 15L) / (100L * 1L)
      var r = Array(1000000000L, 0L, 0L, 0L)
      for (_ <- 0 until iters) {
        val c = Array(r(3), r(0), r(1), r(2)) // contrib along the cycle
        r = Array.tabulate(4)(i =>
          (if (i == 0) base else 0L) + (85L * c(i)) / 100L)
      }
      nodes.zip(r).toMap
    }
    def ppr(seeds: Seq[Long], iters: Int): Map[Long, Long] =
      Graph.pageRank(edges.toDF("a", "b"), "a", "b",
          nodes = nodes.toDF("node"), iterations = iters,
          restartNodes = Some(seeds.toDF("node")))
        .as[(Long, Long)].collect().toMap
    ppr(Seq(0L), 10) shouldBe ref(10)
    // a seed outside the node universe contributes nothing
    ppr(Seq(0L, 99L), 10) shouldBe ref(10)
    // rank mass concentrates near the seed (0 > 1 > 2 > 3 on the
    // cycle) — at 40 rounds: the seed-concentrated start sends a
    // traveling wave around the cycle that damps at 0.85⁴ per lap, so
    // the steady-state ordering needs ~10 laps to dominate (15 rounds
    // still oscillate; the exact-replay contract doesn't care, but an
    // ordering claim must wait for the mixing)
    val got = ppr(Seq(0L), 40)
    got(0L) should be > got(1L)
    got(1L) should be > got(2L)
    got(2L) should be > got(3L)
    // an effectively-empty seed set refuses loudly
    an[IllegalArgumentException] should be thrownBy ppr(Seq(99L), 5)
  }

  private def bfs(edges: Seq[(Long, Long)], sources: Seq[Long],
      maxIter: Int = 200): Map[Long, Long] =
    Graph.bfsDistances(edges.toDF("a", "b"), "a", "b",
        sources = sources.toDF("node"), maxIter = maxIter)
      .as[(Long, Long)].collect().toMap

  test("bfsDistances: chain levels exact, multi-source takes the nearer " +
      "seed, unreachable components absent, random graph matches reference") {
    val chain = (0L until 10L).map(i => (i, i + 1))
    bfs(chain, Seq(0L)) shouldBe (0L to 10L).map(n => n -> n).toMap
    // two sources: distance to the NEARER one
    bfs(chain, Seq(0L, 10L)) shouldBe
      (0L to 10L).map(n => n -> math.min(n, 10 - n)).toMap
    // a disconnected triangle is absent from the result, never null-filled
    val tri = Seq((20L, 21L), (21L, 22L), (22L, 20L))
    val got = bfs(chain ++ tri, Seq(0L))
    got.keySet shouldBe (0L to 10L).toSet
    // self-loops, duplicates, reversed edges, null endpoints inert
    val df = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, 1L), (1L, 1L), (null, 5L), (6L, null), (2L, 3L))
      .toDF("a", "b")
    Graph.bfsDistances(df, "a", "b", sources = Seq(1L).toDF("node"))
      .as[(Long, Long)].collect().toMap shouldBe
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L)
    // random graph vs a reference BFS
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(300)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(e => e._1 != e._2)
    def ref(src: Seq[Long]): Map[Long, Long] = {
      val adj = scala.collection.mutable.Map[Long, Set[Long]]()
        .withDefaultValue(Set.empty)
      edges.foreach { case (a, b) =>
        adj(a) = adj(a) + b; adj(b) = adj(b) + a
      }
      val dist = scala.collection.mutable.Map[Long, Long]()
      src.foreach(sn => dist(sn) = 0L)
      var fr = src.toSet
      var d = 0L
      while (fr.nonEmpty) {
        d += 1
        fr = fr.flatMap(adj).filterNot(dist.contains)
        fr.foreach(n => dist(n) = d)
      }
      dist.toMap
    }
    bfs(edges, Seq(3L, 44L)) shouldBe ref(Seq(3L, 44L))
  }

  private def lp(edges: Seq[(Long, Long)], seeds: Seq[(Long, String)],
      iterations: Int): Map[Long, String] =
    Graph.labelPropagation(edges.toDF("a", "b"), "a", "b",
        seeds = seeds.toDF("node", "label"), iterations = iterations)
      .as[(Long, String)].collect().toMap

  test("labelPropagation: path spreads level by level, equidistant tie " +
      "takes the smaller label, seeds immutable, isolated seeds survive") {
    val path = (1L until 5L).map(i => (i, i + 1))
    val seeds = Seq(1L -> "a", 5L -> "b")
    // round 1: nodes 2 and 4 adopt; node 3 has no labeled neighbor yet
    lp(path, seeds, 1) shouldBe
      Map(1L -> "a", 2L -> "a", 4L -> "b", 5L -> "b")
    // round 2: node 3 sees one 'a' and one 'b' — tie breaks to 'a'
    lp(path, seeds, 2) shouldBe
      Map(1L -> "a", 2L -> "a", 3L -> "a", 4L -> "b", 5L -> "b")
    // a seed outvoted by its whole neighborhood still never changes,
    // and an isolated seed (no edges at all) survives to the output
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L))
    val got = lp(star, Seq(0L -> "b", 1L -> "a", 2L -> "a", 3L -> "a",
      99L -> "z"), 3)
    got(0L) shouldBe "b"
    got(99L) shouldBe "z"
    // zero iterations: exactly the seeds
    lp(path, seeds, 0) shouldBe Map(1L -> "a", 5L -> "b")
    // conflicting labels on one seed node refuse loudly — a silent
    // duplicate would double that node's vote in every round
    an[IllegalArgumentException] should be thrownBy
      lp(path, Seq(1L -> "a", 1L -> "b"), 1)
  }

  test("labelPropagation: a node flips when its neighborhood majority " +
      "shifts in a later round") {
    // 10 —— 0 —— 1 —— 2(seed b), 10..13 clique seeded 'a' feeding 10:
    // node 0 adopts via 10 in round 2? build: seeds a at 11,12,13 all
    // linked to 10; seed b at 2. Node 1 adopts 'b' in round 1 (neighbor
    // 2); node 0 in round 2 sees 1='b' and 10 unlabeled → 'b'; round 3:
    // 10='a' (three a-neighbors in round 1... ) — construct explicitly:
    val edges = Seq((11L, 10L), (12L, 10L), (13L, 10L),
      (10L, 0L), (0L, 1L), (1L, 2L))
    val seeds = Seq(11L -> "a", 12L -> "a", 13L -> "a", 2L -> "b")
    // round 1: 10 → a (3 votes), 1 → b
    // round 2: 0 sees 10='a' (round-1 state) and 1='b' → tie → 'a'
    lp(edges, seeds, 2).apply(0L) shouldBe "a"
    // with one more 'b' feeder on 0, the majority shifts b-ward:
    val edges2 = edges ++ Seq((0L, 3L), (3L, 2L))
    // round 1: 3 → b; round 2: 0 sees a(10), b(1), b(3) → 'b'
    lp(edges2, seeds, 2).apply(0L) shouldBe "b"
  }

  test("weighted pageRank: exact integer reference, unit weights equal " +
      "the unweighted path, bad weights refuse") {
    val s = spark
    import s.implicits._
    // 0 →(w3) 1, 0 →(w1) 2: node 0's mass splits 3:1 through the exact
    // decomposition (r·w) div Σw; 1 and 2 both feed back to 0 (w1)
    val edges = Seq((0L, 1L, 3L), (0L, 2L, 1L), (1L, 0L, 1L), (2L, 0L, 1L))
    val nodes = Seq(0L, 1L, 2L)
    def ref(iters: Int): Map[Long, Long] = {
      val base = (1000000000L * 15L) / (100L * 3L)
      var r = Array(1000000000L / 3L, 1000000000L / 3L, 1000000000L / 3L)
      for (_ <- 0 until iters) {
        val c = Array(
          r(1) * 1L / 1L + r(2) * 1L / 1L, // into 0
          r(0) * 3L / 4L,                  // into 1 (per-edge truncation)
          r(0) * 1L / 4L)                  // into 2
        r = Array.tabulate(3)(i => base + (85L * c(i)) / 100L)
      }
      nodes.zip(r).toMap
    }
    val got = Graph.pageRank(edges.toDF("a", "b", "wt"), "a", "b",
        nodes = nodes.toDF("node"), iterations = 10,
        weightCol = Some("wt"))
      .as[(Long, Long)].collect().toMap
    got shouldBe ref(10)
    got(1L) should be > got(2L) // the heavy edge carries more rank
    // unit weights reproduce the unweighted ranking exactly
    val unit = Graph.pageRank(
        edges.map { case (a, b, _) => (a, b, 1L) }.toDF("a", "b", "wt"),
        "a", "b", nodes = nodes.toDF("node"), iterations = 10,
        weightCol = Some("wt"))
      .as[(Long, Long)].collect().toMap
    val plain = Graph.pageRank(
        edges.map { case (a, b, _) => (a, b) }.toDF("a", "b"),
        "a", "b", nodes = nodes.toDF("node"), iterations = 10)
      .as[(Long, Long)].collect().toMap
    unit shouldBe plain
    // zero, negative, and null weights have no random-surfer reading
    an[IllegalArgumentException] should be thrownBy
      Graph.pageRank(Seq((0L, 1L, 0L)).toDF("a", "b", "wt"), "a", "b",
        nodes = nodes.toDF("node"), iterations = 1, weightCol = Some("wt"))
    an[IllegalArgumentException] should be thrownBy
      Graph.pageRank(Seq((0L, 1L, java.lang.Long.valueOf(-2L)))
          .toDF("a", "b", "wt"), "a", "b",
        nodes = nodes.toDF("node"), iterations = 1, weightCol = Some("wt"))
  }

  test("weighted + personalized pageRank compose: exact integer reference " +
      "with seed-gated base mass and weight-split contributions") {
    val s = spark
    import s.implicits._
    // 0 →(w3) 1, 0 →(w1) 2, both feed back (w1); restart {0}
    val edges = Seq((0L, 1L, 3L), (0L, 2L, 1L), (1L, 0L, 1L), (2L, 0L, 1L))
    val nodes = Seq(0L, 1L, 2L)
    def ref(iters: Int): Map[Long, Long] = {
      val base = (1000000000L * 15L) / (100L * 1L)
      var r = Array(1000000000L, 0L, 0L) // seed-concentrated start
      for (_ <- 0 until iters) {
        val c = Array(r(1) + r(2), r(0) * 3L / 4L, r(0) * 1L / 4L)
        r = Array.tabulate(3)(i =>
          (if (i == 0) base else 0L) + (85L * c(i)) / 100L)
      }
      nodes.zip(r).toMap
    }
    Graph.pageRank(edges.toDF("a", "b", "wt"), "a", "b",
        nodes = nodes.toDF("node"), iterations = 10,
        restartNodes = Some(Seq(0L).toDF("node")),
        weightCol = Some("wt"))
      .as[(Long, Long)].collect().toMap shouldBe ref(10)
  }

  test("weighted labelPropagation: one heavy neighbor outvotes several " +
      "light ones, pre-symmetrized input is not double-counted, unit " +
      "weights equal the unweighted votes") {
    val s = spark
    import s.implicits._
    def lpw(edges: Seq[(Long, Long, Long)], seeds: Seq[(Long, String)],
        iterations: Int): Map[Long, String] =
      Graph.labelPropagation(edges.toDF("a", "b", "wt"), "a", "b",
          seeds = seeds.toDF("node", "label"), iterations = iterations,
          weightCol = Some("wt"))
        .as[(Long, String)].collect().toMap
    // node 0: three 'a' neighbors at weight 1 vs one 'b' neighbor at
    // weight 5 — weighted vote flips what the unweighted count decides
    val star = Seq((1L, 0L, 1L), (2L, 0L, 1L), (3L, 0L, 1L), (4L, 0L, 5L))
    val seeds = Seq(1L -> "a", 2L -> "a", 3L -> "a", 4L -> "b")
    lpw(star, seeds, 1).apply(0L) shouldBe "b"
    Graph.labelPropagation(star.map(t => (t._1, t._2)).toDF("a", "b"),
        "a", "b", seeds = seeds.toDF("node", "label"), iterations = 1)
      .as[(Long, String)].collect().toMap.apply(0L) shouldBe "a"
    // unit weights reproduce the unweighted assignment
    val path = (1L until 5L).map(i => (i, i + 1, 1L))
    lpw(path, Seq(1L -> "a", 5L -> "b"), 2) shouldBe
      Map(1L -> "a", 2L -> "a", 3L -> "a", 4L -> "b", 5L -> "b")
    // an input that already lists both directions of each edge votes
    // once per direction-neighbor, not twice (exact triples dedup)
    val presym = star ++ star.map(t => (t._2, t._1, t._3))
    lpw(presym, seeds, 1).apply(0L) shouldBe "b"
    // genuinely parallel edges of different weights accumulate: two
    // more a-votes' worth of weight on edge (1,0) ties 5 b-weight at
    // 5 a-weight — tie breaks to the smaller label 'a'
    lpw(star ++ Seq((1L, 0L, 2L)), seeds, 1).apply(0L) shouldBe "a"
    // EQUAL-weight parallel edges accumulate too (directed-pair sum is
    // the edge identity, not the distinct triple): 1+1+1+1+1 a-weight
    // vs 5 b-weight ties — smaller label 'a' wins; under triple-dedup
    // the duplicates would collapse and 'b' would carry 5 vs 3
    lpw(star ++ Seq((1L, 0L, 1L), (1L, 0L, 1L)), seeds, 1)
      .apply(0L) shouldBe "a"
    // pre-symmetrized input with ASYMMETRIC per-direction weights
    // resolves each pair to its heavier direction: (4,0) at 5 forward /
    // 9 reverse votes 9 'b' against the three unit 'a' arms — and the
    // symmetric presym case above (w, not 2w) is what rules out a
    // direction-summing policy
    lpw(star ++ star.map(t => (t._2, t._1, t._3))
        .map(t => if (t == ((0L, 4L, 5L))) (0L, 4L, 9L) else t),
      seeds, 1).apply(0L) shouldBe "b"
    an[IllegalArgumentException] should be thrownBy
      lpw(Seq((1L, 0L, 0L)), seeds, 1)
  }

  test("weighted labelPropagation: on the graph_label_prop_weighted " +
      "oracle graph, weighting flips exactly 33 of 301 assignments — the " +
      "weighted row verifies something the unweighted row doesn't") {
    val s = spark
    import s.implicits._
    val m = 301L
    val base = (0L until m).flatMap(d =>
      Seq((d, (d * 2) % m), (d, (d * 2 + 1) % m)))
    val seeds = (0L until m).filter(_ % 97 == 0)
      .map(n => (n, s"l${n % 3}"))
    val unw = Graph.labelPropagation(base.toDF("a", "b"), "a", "b",
        seeds.toDF("node", "label"), iterations = 5)
      .as[(Long, String)].collect().toMap
    val wgt = Graph.labelPropagation(
        base.map { case (u, v) => (u, v, 1L + (u + v) % 5) }
          .toDF("a", "b", "wt"),
        "a", "b", seeds.toDF("node", "label"), iterations = 5,
        weightCol = Some("wt"))
      .as[(Long, String)].collect().toMap
    unw.keySet shouldBe wgt.keySet // same reachability, different votes
    unw.count { case (n, l) => wgt(n) != l } shouldBe 33
  }

  /** Reference Dijkstra, the single-machine shortest-path ground truth. */
  private def dijkstra(edges: Seq[(Long, Long, Long)],
      sources: Seq[Long]): Map[Long, Long] = {
    val adj = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq((e._1, e._2, e._3), (e._2, e._1, e._3)))
      .groupBy(_._1).view
      .mapValues(_.groupBy(_._2).map { case (v, l) => (v, l.map(_._3).min) })
      .toMap
    val dist = scala.collection.mutable.Map(sources.map(_ -> 0L): _*)
    val pq = scala.collection.mutable.PriorityQueue(
      sources.map(n => (0L, n)): _*)(Ordering.by(t => -t._1))
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (d == dist(u))
        for ((v, w) <- adj.getOrElse(u, Map.empty))
          if (dist.get(v).forall(_ > d + w)) {
            dist(v) = d + w; pq.enqueue((d + w, v))
          }
    }
    dist.toMap
  }

  test("shortestPaths: Dijkstra ground truth on a random weighted graph, " +
      "chain exact, multi-source takes the nearer seed, lightest parallel " +
      "edge wins, unit weights equal BFS, guards refuse loudly") {
    val s = spark
    import s.implicits._
    def sp(edges: Seq[(Long, Long, Long)], sources: Seq[Long],
        maxIter: Int = 200): Map[Long, Long] =
      Graph.shortestPaths(edges.toDF("a", "b", "wt"), "a", "b",
          sources = sources.toDF("node"), weightCol = "wt", maxIter = maxIter)
        .as[(Long, Long)].collect().toMap
    val rnd = new scala.util.Random(29)
    val edges = Seq.fill(300)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong,
      1L + rnd.nextInt(9)))
    sp(edges, Seq(0L)) shouldBe dijkstra(edges, Seq(0L))
    sp(edges, Seq(0L, 31L)) shouldBe dijkstra(edges, Seq(0L, 31L))
    // weighted chain: cumulative sums exact; unreachable island absent
    val chain = Seq((0L, 1L, 2L), (1L, 2L, 3L), (2L, 3L, 1L),
      (10L, 11L, 4L))
    sp(chain, Seq(0L)) shouldBe Map(0L -> 0L, 1L -> 2L, 2L -> 5L, 3L -> 6L)
    // a heavy direct edge loses to a light detour
    sp(Seq((0L, 1L, 10L), (0L, 2L, 1L), (2L, 1L, 1L)), Seq(0L)) shouldBe
      Map(0L -> 0L, 1L -> 2L, 2L -> 1L)
    // parallel edges: the lightest wins
    sp(Seq((0L, 1L, 7L), (0L, 1L, 2L)), Seq(0L)) shouldBe
      Map(0L -> 0L, 1L -> 2L)
    // unit weights reproduce BFS hop distances exactly
    val uEdges = Seq.fill(200)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    sp(uEdges.map(e => (e._1, e._2, 1L)), Seq(3L)) shouldBe
      Graph.bfsDistances(uEdges.toDF("a", "b"), "a", "b",
        sources = Seq(3L).toDF("node")).as[(Long, Long)].collect().toMap
    // guards: non-positive weights refuse; maxIter throws, never
    // returns unsettled distances
    an[IllegalArgumentException] should be thrownBy
      sp(Seq((0L, 1L, 0L)), Seq(0L))
    an[IllegalStateException] should be thrownBy
      sp((0L until 30L).map(i => (i, i + 1, 1L)), Seq(0L), maxIter = 3)
  }

  test("shortestPaths matches Dijkstra on random graphs at two densities " +
      "and on a comb that forces re-improvement") {
    def sp(edges: Seq[(Long, Long, Long)], sources: Seq[Long]): Map[Long, Long] =
      Graph.shortestPaths(edges.toDF("a", "b", "wt"), "a", "b",
          sources = sources.toDF("node"), weightCol = "wt")
        .as[(Long, Long)].collect().toMap
    // random weighted graphs at two densities
    val rnd = new scala.util.Random(41)
    for (m <- Seq(150, 500)) {
      val edges = Seq.fill(m)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong,
        1L + rnd.nextInt(9)))
      sp(edges, Seq(0L, 17L)) shouldBe dijkstra(edges, Seq(0L, 17L))
    }
    // the adversarial comb: a heavy backbone chain with cheap shortcuts
    // discovered first, so every backbone hop IMPROVES already-settled
    // group distances round after round
    val comb = (0L until 12L).map(i => (i, i + 1, 10L)) ++ // backbone
      (0L until 12L).map(j => (0L, j + 1, 10L * (j + 1) + 5L)) ++ // shortcuts
      (0L until 12L).flatMap(g =>
        (0L until 4L).map(t => (g, 100L + g * 10 + t, 1L))) // teeth
    val dc = sp(comb, Seq(0L))
    dc shouldBe dijkstra(comb, Seq(0L))
    dc(12L) shouldBe 120L // the chain undercuts the 125 shortcut
  }

  test("bfsDistances: maxIter backstop throws instead of truncating") {
    val chain = (0L until 30L).map(i => (i, i + 1))
    an[IllegalStateException] should be thrownBy
      bfs(chain, Seq(0L), maxIter = 3)
  }

  private def kc(edges: Seq[(Long, Long)], k: Int,
      maxIter: Int = 500): Map[Long, Long] =
    Graph.kCore(edges.toDF("a", "b"), "a", "b", k, maxIter)
      .as[(Long, Long)].collect().toMap

  /** Reference batch peel: drop every node below k until nothing
    * changes — the single-machine k-core ground truth. */
  private def kCoreBrute(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var e = edges.map(t => (math.min(t._1, t._2), math.max(t._1, t._2)))
      .filter(t => t._1 != t._2).distinct
    var done = e.isEmpty
    while (!done) {
      val deg = e.flatMap(t => Seq(t._1, t._2)).groupBy(identity)
        .map { case (n, l) => (n, l.size.toLong) }
      val keep = deg.filter(_._2 >= k).keySet
      val ne = e.filter(t => keep(t._1) && keep(t._2))
      done = ne.size == e.size || ne.isEmpty
      e = ne
    }
    e.flatMap(t => Seq(t._1, t._2)).groupBy(identity)
      .map { case (n, l) => (n, l.size.toLong) }
  }

  test("kCore: known shapes — pendant chain peels off K5, no 5-core, " +
      "bowtie 2-core keeps all with fixpoint degrees, chain has no 2-core") {
    val k5 = for (a <- 0L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val chain = Seq((4L, 10L), (10L, 11L), (11L, 12L))
    // the chain gives node 4 degree 5, but peeling 12 → 11 → 10 cascades
    // back to exactly K5 (every core_deg the in-core fixpoint, not the
    // input degree)
    kc(k5 ++ chain, 4) shouldBe (0L to 4L).map(_ -> 4L).toMap
    kc(k5 ++ chain, 5) shouldBe Map.empty
    val bowtie = Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 3L), (3L, 4L), (4L, 0L))
    kc(bowtie, 2) shouldBe
      Map(0L -> 4L, 1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L)
    kc(Seq((1L, 2L), (2L, 3L)), 2) shouldBe Map.empty
  }

  test("kCore: random graph matches the reference batch peel at every k; " +
      "degenerate edges inert") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(400)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    for (k <- Seq(2, 4, 8, 20)) kc(edges, k) shouldBe kCoreBrute(edges, k)
    // self-loops, duplicates, reversed edges, null endpoints
    val df = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L), (null, 5L), (6L, null),
      (2L, 3L), (3L, 1L)).toDF("a", "b")
    Graph.kCore(df, "a", "b", 2).as[(Long, Long)].collect().toMap shouldBe
      Map(1L -> 2L, 2L -> 2L, 3L -> 2L)
  }

  test("kCore matches the brute batch peel on known shapes, random " +
      "graphs at every k, degenerate edges, and the oracle graph") {
    val k5 = for (a <- 0L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val chain = Seq((4L, 10L), (10L, 11L), (11L, 12L))
    val bowtie = Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 3L), (3L, 4L), (4L, 0L))
    for ((e, k) <- Seq((k5 ++ chain, 4), (k5 ++ chain, 5), (bowtie, 2),
        (Seq((1L, 2L), (2L, 3L)), 2)))
      kc(e, k) shouldBe kCoreBrute(e, k)
    val rnd = new scala.util.Random(13)
    val edges = Seq.fill(400)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    for (k <- Seq(2, 4, 8, 20)) kc(edges, k) shouldBe kCoreBrute(edges, k)
    // degenerate edges: self-loops, duplicates, reversed, nulls
    val df = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L), (null, 5L), (6L, null),
      (2L, 3L), (3L, 1L)).toDF("a", "b")
    Graph.kCore(df, "a", "b", 2).as[(Long, Long)].collect()
      .toMap shouldBe Map(1L -> 2L, 2L -> 2L, 3L -> 2L)
    // the oracle graph: the same 57-node core within the oracle's 12 rounds
    val m = 301L
    val ring = (0L until m).flatMap(d =>
      Seq((d, (d + 1) % m), (d, (d + 2) % m), (d, (d * d + 7) % m)))
    val block = for (d <- 0L to 60L; j <- 3L to 6L if d + j <= 60L)
      yield (d, d + j)
    kc(ring ++ block, 7, maxIter = 12) shouldBe kCoreBrute(ring ++ block, 7)
    // the maxIter backstop throws, never returns a supergraph
    an[IllegalStateException] should be thrownBy
      kc((0L until 30L).map(i => (i, i + 1)), 2, maxIter = 3)
  }

  test("kCore: the graph_kcore oracle graph converges within the 12 " +
      "unrolled SQL rounds and yields the 57-node varied-degree core") {
    // the same closed-form construction as the SparkEntry row (301-node
    // +1/+2 ring, d²+7 chords, dense j=3..6 block on 0..60) — pinning
    // the peel depth the unrolled oracle must cover, with margin
    val m = 301L
    val ring = (0L until m).flatMap(d =>
      Seq((d, (d + 1) % m), (d, (d + 2) % m), (d, (d * d + 7) % m)))
    val block = for (d <- 0L to 60L; j <- 3L to 6L if d + j <= 60L)
      yield (d, d + j)
    val core = Graph.kCore((ring ++ block).toDF("a", "b"), "a", "b",
        k = 7, maxIter = 12)
      .as[(Long, Long)].collect().toMap
    core.size shouldBe 57
    core.values.min should be >= 7L
    core.values.toSet.size should be > 3 // varied fixpoint degrees
  }

  test("kCore: maxIter backstop throws instead of returning a supergraph") {
    // a 30-chain at k=2 peels two endpoints per round — 3 rounds can't
    val edges = (0L until 30L).map(i => (i, i + 1))
    an[IllegalStateException] should be thrownBy
      Graph.kCore(edges.toDF("a", "b"), "a", "b", 2, maxIter = 3).count()
  }

  test("clusters: chain of drifted revisions lands in ONE cluster (the " +
      "transitive case keep-one cannot express)") {
    // sliding 40-token windows over a 50-token stream: consecutive docs
    // share 35 tokens (shingle jaccard ≈ 0.77, comfortably banded and
    // above threshold 0.7); the end docs share only 30 (j ≈ 0.58 —
    // BELOW threshold, so no direct 1–3 edge). Transitivity must chain
    // all three; pairwise keep-one semantics can't see the 1–3 link.
    def win(from: Int): String =
      (from until from + 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, win(1)), (2L, win(6)), (3L, win(11)),
      (4L, "wholly unrelated text about something else entirely okay"))
      .toDF("doc_id", "text")
    val got = Dedup.clusters(docs, threshold = 0.7)
      .as[(Long, Long)].collect().toMap
    got(1L) shouldBe 1L; got(2L) shouldBe 1L; got(3L) shouldBe 1L
    got(4L) shouldBe 4L
  }

  private def pr(edges: Seq[(Long, Long)], nodes: Seq[Long],
      iters: Int = 15): Map[Long, Long] =
    Graph.pageRank(edges.toDF("s", "d"), "s", "d",
        nodes = nodes.toDF("node"), iterations = iters)
      .as[(Long, Long)].collect().toMap

  /** Double-precision reference PageRank, same damping/base policy. */
  private def refPr(edges: Seq[(Long, Long)], nodes: Seq[Long],
      iters: Int): Map[Long, Double] = {
    val deg = edges.groupBy(_._1).view.mapValues(_.size).toMap
    val n = nodes.size
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val contrib = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => r(u) / deg(u) }.sum).toMap
      r = nodes.map(v => v -> (0.15 / n + 0.85 * contrib.getOrElse(v, 0.0))).toMap
    }
    r
  }

  test("pageRank dangling redistribution: mass conservation tightens to " +
      "truncation-only loss, and tracks the dangling-aware reference") {
    // 0..8 all point at sink 9 (dangling); 10..19 isolated (dangling):
    // under the leak policy half the graph's damped mass vanishes
    val nodes = (0L until 20L).toSeq
    val edges = (0L until 9L).map(v => (v, 9L))
    val scale = 1000000000L
    val leak = pr(edges, nodes)
    val redist = Graph.pageRank(edges.toDF("s", "d"), "s", "d",
        nodes = nodes.toDF("node"), iterations = 15,
        redistributeDangling = true)
      .as[(Long, Long)].collect().toMap
    // leak policy loses real mass on this graph; redistribution keeps
    // total within truncation quanta of scale (3 divisions × n nodes ×
    // 15 rounds is a loose bound; observed loss is a few thousand)
    (scale - leak.values.sum) should be > (scale / 10)
    val lost = scale - redist.values.sum
    lost should be >= 0L
    lost should be <= 15L * 3 * nodes.size
    // the sink outranks its feeders, which outrank isolated nodes
    redist(9L) should be > redist(0L)
    redist(0L) should be > 0L
    // double-precision dangling-aware reference agrees within noise
    val deg = edges.groupBy(_._1).view.mapValues(_.size).toMap
    var r = nodes.map(_ -> 1.0 / nodes.size).toMap
    for (_ <- 1 to 15) {
      val dsum = nodes.filterNot(deg.contains).map(r).sum
      val contrib = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => r(u) / deg(u) }.sum).toMap
      r = nodes.map(v => v -> (0.15 / nodes.size +
        0.85 * contrib.getOrElse(v, 0.0) + 0.85 * dsum / nodes.size)).toMap
    }
    nodes.foreach { v => (redist(v).toDouble / scale) shouldBe r(v) +- 1e-6 }
    // deterministic repeat: per-round driver-side scalar changes nothing
    Graph.pageRank(edges.toDF("s", "d"), "s", "d",
        nodes = nodes.toDF("node"), iterations = 15,
        redistributeDangling = true)
      .as[(Long, Long)].collect().toMap shouldBe redist
  }

  test("pageRank: symmetric cycle equalizes, authority hub outranks, " +
      "mass is conserved up to truncation quanta") {
    // 4-cycle: perfect symmetry → identical ranks
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val rc = pr(cyc, Seq(1L, 2L, 3L, 4L))
    rc.values.toSet.size shouldBe 1
    // star pointing at a hub: the hub must dominate every leaf
    val star = (2L to 6L).map(i => (i, 1L)) ++ Seq((1L, 2L))
    val rs = pr(star, (1L to 6L))
    rs(1L) should be > rs(3L)
    rs(3L) shouldBe rs(4L) // symmetric leaves tie exactly
    // total mass stays within iterations × nodes truncation quanta of 1.0
    val total = rs.values.sum
    total should be <= 1000000000L
    total should be >= (1000000000L - 15L * 6 * 10)
  }

  test("pageRank tracks a double-precision reference within truncation noise") {
    val rnd = new scala.util.Random(42)
    val nodes = (0L until 60L).toSeq
    val edges = Seq.fill(240)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      // every node needs an outlink for the reference's deg() lookup
      .++(nodes.map(v => (v, (v + 7) % 60)))
    val got = pr(edges, nodes)
    val ref = refPr(edges, nodes, 15)
    nodes.foreach { v =>
      (got(v).toDouble / 1e9) shouldBe ref(v) +- 1e-6
    }
    pr(edges, nodes) shouldBe got // deterministic repeat
  }

  test("incrementalClusters: batch folds into the stored assignment — " +
      "join, merge, new cluster, singleton — and equals a full recompute") {
    // store: cluster {1,2} (same text), near-but-separate docs 5 and 6
    // (8 of 150 tokens differ → shingle jaccard ≈ 0.72, expected band
    // agreement ≈ 4 < 6), singleton 7
    val t = (1 to 150).map(i => s"w$i").toArray
    def doc(repl: (Int, String)*): String = {
      val a = t.clone(); repl.foreach { case (i, v) => a(i) = v }; a.mkString(" ")
    }
    val dupText = (1 to 60).map(i => s"x$i").mkString(" ")
    val dText = doc()
    val eText = doc(Seq(10, 25, 40, 55, 70, 85, 100, 115)
      .map(_ -> "CHANGED"): _*)
    val other = (1 to 80).map(i => s"z$i").mkString(" ")
    val store = Seq(
      (1L, dupText), (2L, dupText), (5L, dText), (6L, eText), (7L, other))
      .toDF("doc_id", "text")
    val storeBands = Dedup.minhashBandTable(store)
    val assign = Dedup.clustersFromBands(storeBands)
    val seed = assign.as[(Long, Long)].collect().toMap
    seed(1L) shouldBe 1L; seed(2L) shouldBe 1L
    seed(5L) shouldBe 5L; seed(6L) shouldBe 6L // near, but under threshold
    seed(7L) shouldBe 7L
    // batch (append-only ids): 10 joins {1,2}; 11 sits BETWEEN 5 and 6
    // (4 token edits from each, jaccard ≈ 0.85 → expected agreement ≈ 8
    // ≥ 6 to both → MERGES them); 12+13 form a new batch-only cluster;
    // 14 is a singleton
    val xText = doc(Seq(10, 25, 40, 55).map(_ -> "CHANGED"): _*)
    val newPair = (1 to 70).map(i => s"y$i").mkString(" ")
    val batch = Seq(
      (10L, dupText), (11L, xText), (12L, newPair), (13L, newPair),
      (14L, "nothing shares these tokens at all believe me"))
      .toDF("doc_id", "text")
    val inc = Dedup.incrementalClusters(batch, storeBands, assign)
      .as[(Long, Long)].collect().toMap
    inc(10L) shouldBe 1L // joined the exact-dup cluster
    inc(5L) shouldBe 5L; inc(6L) shouldBe 5L; inc(11L) shouldBe 5L // merged
    inc(12L) shouldBe 12L; inc(13L) shouldBe 12L // new batch-only cluster
    inc(14L) shouldBe 14L
    inc(7L) shouldBe 7L // untouched cluster carried over
    // the invariant everything above instantiates: incremental ≡ full
    // recompute over store ∪ batch
    val full = Dedup.clustersFromBands(
        Dedup.minhashBandTable(store.unionByName(batch)))
      .as[(Long, Long)].collect().toMap
    inc shouldBe full
  }

  test("incrementalClusters: redelivered batch — ids already assigned, " +
      "clusters untouched — yields exactly one row per id, unchanged") {
    // the duplicate-emission trap: a batch id that already exists in the
    // stored assignment whose cluster gains NO new edge (its bands are
    // already in the store, so the distinct() collapses them and pa≠ob
    // filters the self-pair). The carried assignment must not keep the
    // old row alongside the delta's unconditional re-emission.
    val dup = (1 to 60).map(i => s"x$i").mkString(" ")
    val store = Seq((1L, dup), (2L, dup),
      (7L, (1 to 80).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val storeBands = Dedup.minhashBandTable(store)
    val assign = Dedup.clustersFromBands(storeBands)
    val batch = Seq((14L, "nothing shares these tokens at all believe me"),
      (15L, dup)).toDF("doc_id", "text")
    val once = Dedup.incrementalClusters(batch, storeBands, assign)
      .localCheckpoint(true)
    once.as[(Long, Long)].collect().toMap shouldBe
      Map(1L -> 1L, 2L -> 1L, 7L -> 7L, 14L -> 14L, 15L -> 1L)
    // redeliver the SAME batch against the post-fold store state (bands
    // landed first, the streaming commit order)
    val bands2 = storeBands.unionByName(Dedup.minhashBandTable(batch))
    val twice = Dedup.incrementalClusters(batch, bands2, once)
    val rows = twice.as[(Long, Long)].collect().toSeq
    rows.size shouldBe rows.map(_._1).distinct.size // one row per id
    rows.toMap shouldBe once.as[(Long, Long)].collect().toMap // idempotent
  }

  test("clustersPortable equals the closed-form replay semantics on a tiny corpus") {
    // exact duplicates → every copy clusters onto the original; the
    // portable path bounds ids at maxId
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base), (2L, base), (3L, base),
      (5L, "completely different content with no shared shingles at all here"),
      (400L, base)) // beyond maxId → excluded
      .toDF("doc_id", "text")
    val got = Dedup.clustersPortable(docs, maxId = 300L)
      .as[(Long, Long)].collect().toMap
    got shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L)
  }

  private def scc(edges: Seq[(Long, Long)],
      nodes: Option[Seq[Long]] = None, maxOuter: Int = 40): Map[Long, Long] =
    Graph.stronglyConnectedComponents(
        edges.toDF("a", "b"), "a", "b",
        nodes = nodes.map(_.toDF("node")), maxOuter = maxOuter)
      .as[(Long, Long)].collect().toMap

  /** Reference SCC labels (max member id) via boolean reachability
    * closure — O(n³), the single-machine ground truth at test scale. */
  private def sccBrute(edges: Seq[(Long, Long)], nodes: Seq[Long]): Map[Long, Long] = {
    val ns = (nodes ++ edges.flatMap(e => Seq(e._1, e._2))).distinct.sorted
    val idx = ns.zipWithIndex.toMap
    val n = ns.size
    val reach = Array.fill(n, n)(false)
    ns.indices.foreach(i => reach(i)(i) = true)
    edges.filter(e => e._1 != e._2)
      .foreach { case (a, b) => reach(idx(a))(idx(b)) = true }
    for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
      if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
    ns.indices.map { i =>
      val members = ns.indices.filter(j => reach(i)(j) && reach(j)(i))
      ns(i) -> members.map(ns).max
    }.toMap
  }

  test("scc: cycles, a one-way bridge, a DAG tail, and an isolated node") {
    // 1→2→3→1 (SCC {1,2,3}); 3→4; 4⇄5 (SCC {4,5}); 5→6→7 DAG tail;
    // 9 isolated via the nodes relation; self-loop and dup edges inert
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 4L), (5L, 6L), (6L, 7L), (6L, 7L), (7L, 7L))
    val got = scc(edges, nodes = Some(Seq(1L, 9L)))
    got shouldBe Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 5L, 5L -> 5L,
      6L -> 6L, 7L -> 7L, 9L -> 9L)
  }

  test("scc: a pure DAG settles entirely in the trim phase (one outer round)") {
    // diamond DAG + chain — no cycles anywhere; maxOuter = 1 proves the
    // coloring loop is never needed
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L),
      (5L, 6L))
    val got = scc(edges, maxOuter = 1)
    got shouldBe (1L to 6L).map(i => i -> i).toMap
  }

  test("scc: one big cycle is one component labeled by its max node") {
    val n = 30L
    val edges = (1L until n).map(i => (i, i + 1)) :+ (n, 1L)
    val got = scc(edges)
    got shouldBe (1L to n).map(i => i -> n).toMap
  }

  test("scc: random directed graph matches the reachability-closure " +
      "ground truth, deterministically") {
    // deterministic pseudo-random sparse digraph: enough structure for
    // multiple nontrivial SCCs (checked below so the test can't go
    // vacuous), plus sources/sinks for trim
    val nodes = (0L until 60L).toSeq
    val edges = nodes.flatMap { i =>
      Seq((i, (i * i + 13) % 60), (i, (i * 7 + 29) % 60))
    }.filter(e => e._1 != e._2)
    val exp = sccBrute(edges, nodes)
    val nontrivial = exp.groupBy(_._2).count(_._2.size > 1)
    nontrivial should be >= 1
    val got = scc(edges, nodes = Some(nodes))
    got shouldBe exp
    // run twice: label assignment is deterministic
    scc(edges, nodes = Some(nodes)) shouldBe exp
  }

  test("scc: maxOuter exhaustion throws instead of returning partials") {
    // two mutually-unreachable 2-cycles chained by one-way bridges force
    // >1 outer rounds when... a chain of 2-cycles settles one root color
    // class per round only when each cycle's color is dominated by an
    // upstream id; build descending bridges so coloring floods one color
    // over all cycles and only the top cycle marks per round
    val edges = Seq(
      (10L, 9L), (9L, 10L),   // cycle A (max 10)
      (10L, 8L),              // bridge into B
      (8L, 7L), (7L, 8L),     // cycle B (max 8, colored 10)
      (8L, 6L),
      (6L, 5L), (5L, 6L))     // cycle C
    an[IllegalStateException] should be thrownBy scc(edges, maxOuter = 1)
    scc(edges) shouldBe Map(10L -> 10L, 9L -> 10L, 8L -> 8L, 7L -> 8L,
      6L -> 6L, 5L -> 6L)
  }
}
