package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed graph clustering for training-data pipelines — the
  * transitive-closure piece the keep-one dedup family deliberately skips
  * ([[Dedup]]'s scaladoc: at near-dup thresholds groups are cliques, so
  * min-id keep-one needs no iteration). Transitivity DOES matter when:
  *
  *  - the pair relation is a CHAIN, not a clique — A≈B and B≈C at j=0.5
  *    without A≈C (crawl drift: each revision near-dups its neighbor);
  *    keep-one collapses A–B and B–C independently, cluster reporting
  *    must put all three in ONE group;
  *  - the consumer wants the cluster STRUCTURE itself (duplicate-cluster
  *    size distribution for a datacard, cluster-level quality selection),
  *    not just the kept set;
  *  - record-linkage entity resolution: fuzzy-matched name pairs form an
  *    entity iff connected, at any path length.
  *
  * The operator is the alternating large-star / small-star algorithm
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14) — the public-literature standard for CC on a shared-nothing
  * engine. Each round is two window aggregations over the edge relation
  * (shuffle on one endpoint), the edge set only ever SHRINKS toward a
  * star forest, and convergence is O(log² n) rounds — at 100 TB that is
  * a dozen bounded shuffles, never a driver-side union-find and never a
  * diameter-length propagation (a path graph converges in ~log rounds,
  * not n). Per-round results are `localCheckpoint`ed to cut the
  * iterative lineage (same trade as [[Dedup.withProjectionCache]]:
  * deterministic input, so executor loss → re-run the call).
  *
  * Checkpoint lifetime: superseded per-round edge sets are released
  * eagerly ([[Dedup.releaseCheckpoint]]); the terminal relations the
  * RETURNED frame still reads lazily (the node universe, the final star
  * forest / rank vector, the slim inputs of the PageRank loop) stay
  * cached until the frame is garbage-collected — they are id-sized, not
  * corpus-sized, the same lifetime every stored-seed relation in this
  * library has.
  */
object Graph {

  /** One large-star + small-star contraction round over a canonical
    * `(u < v)` distinct edge relation. Exposed for the plan pin: a
    * round is two window aggregations (shuffle on one endpoint each) —
    * no join, no collect_list adjacency materialization, no pair
    * expansion — so per-round cost is O(|E|) shuffled bytes however
    * skewed the degree distribution (a hot node's neighborhood streams
    * through the window's spill-safe container). Windows, not hash
    * aggregates + equi-joins: the window form measured faster on every
    * GraphScale cell (BENCH_AB_r11.json). */
  private[graft] def starRound(e: DataFrame): DataFrame = {
    // large-star: for every center c over the SYMMETRIZED edges, each
    // strictly-larger neighbor links to min(neighborhood ∪ {c}) — long
    // tails collapse toward small ids without growing the edge count
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val wU = Window.partitionBy(col("u"))
    // no distinct here: duplicate (m, v) emissions collapse in the
    // small-star window below and its final distinct — the mid-round
    // dedup was a fourth shuffle per round buying nothing
    val ls = sym
      .withColumn("m", least(min(col("v")).over(wU), col("u")))
      .filter(col("v") > col("u"))
      .select(col("m").as("u"), col("v").as("v"))
      .filter(col("u") =!= col("v"))
    // small-star: orient (hi ← lo); every smaller neighbor AND the
    // center link to the neighborhood min — parent pointers compress
    val wHi = Window.partitionBy(col("hi"))
    ls.select(greatest(col("u"), col("v")).as("hi"),
        least(col("u"), col("v")).as("lo"))
      .withColumn("m", min(col("lo")).over(wHi))
      .select(explode(array(
        struct(col("m").as("u"), col("lo").as("v")),
        struct(col("m").as("u"), col("hi").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Connected components of the undirected graph given by `edges`.
    *
    * Returns `(node, component)` with one row per distinct node, where
    * `component` is the MINIMUM node id reachable from `node` — a
    * deterministic canonical label (the same representative policy as
    * the keep-one dedup family). Self-loops, duplicate and reversed
    * edges, and null endpoints are dropped. `nodes`, when given, adds
    * isolated vertices (rows whose id never appears in `edges`) as
    * singleton components of themselves.
    *
    * Scale shape: the working set is the edge relation itself — slim
    * `(long, long)` rows, never an adjacency list and never a
    * collect_list (a hot node's neighborhood streams through the window
    * aggregate's spill-safe container). Every round strictly reduces
    * max component diameter; `maxIter` (default 50 ≫ log²(any corpus))
    * is a loud-failure backstop, not a tuning knob — exceeding it
    * throws instead of returning partial components.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      nodes: Option[DataFrame] = None, nodeCol: String = "node",
      maxIter: Int = 50): DataFrame = {
    // checkpoint the canonical edge set FIRST: both the node universe
    // and round 0 read it, and without the checkpoint the caller's
    // whole edge-derivation pipeline (e.g. linkage_entities' deletion-
    // neighborhood expansion + levenshtein verify) would execute twice
    // — once per consumer (guide §1.2: don't compute things twice)
    val canonical = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .distinct()
      .localCheckpoint(true)

    // every node of the original graph, before star contraction rewires
    // edges (interior path nodes stop appearing in the edge set once
    // their neighbors link straight to the root)
    val allNodes = {
      val fromEdges = canonical.select(col("u").as("node"))
        .union(canonical.select(col("v").as("node")))
      nodes.map(n => fromEdges.union(
          n.filter(col(nodeCol).isNotNull).select(col(nodeCol).as("node"))))
        .getOrElse(fromEdges)
        .distinct()
        .localCheckpoint(true)
    }

    var e = canonical
    // (count, xxhash-xor) — an order-insensitive edge-set signature
    // (xor, not sum: sum of 64-bit hashes overflows under ANSI
    // semantics; xor is exact on a DISTINCT edge set); two longs to the
    // driver per round, compared instead of a full set diff. A signature
    // collision on DIFFERENT consecutive edge sets (probability ~2⁻⁶⁴
    // per round, the same xxhash64 trust the fingerprint stores build
    // on) would end the loop one round early — the same class of risk
    // as any hash-keyed blocking in this library, accepted as such.
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var sig = signature(e)
    var converged = sig._1 == 0L
    var it = 0
    while (!converged && it < maxIter) {
      val next = starRound(e).localCheckpoint(true)
      val nextSig = signature(next)
      Dedup.releaseCheckpoint(e)
      e = next
      converged = nextSig == sig // star forests are fixpoints of both stars
      sig = nextSig
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          "(log²-round convergence makes this unreachable on any real " +
          "graph; refusing to return partial components)")

    // at the fixpoint e is a star forest: (root=u) < (member=v), one row
    // per non-root member. Roots and isolated nodes label themselves.
    allNodes
      .join(e.select(col("v").as("node"), col("u").as("__root")), Seq("node"), "left")
      .groupBy(col("node"))
      .agg(coalesce(min(col("__root")), col("node")).as("component"))
  }

  /** PageRank in EXACT integer fixed-point arithmetic — authority
    * scoring for link-informed quality weighting (the classic web
    * signal a crawl-curation pipeline ranks domains by), built so the
    * result is bit-reproducible in any engine with 64-bit integer
    * division: ranks live on a `scale`-denominated integer lattice,
    * every per-edge contribution is ONE truncating division
    * `rank div outdeg`, and the damping update is
    * `(scale·(100−dampingPct))/(100·n) + (dampingPct·Σcontrib)/100` —
    * integer multiply-divide only, no floating point anywhere, so a
    * closed-form SQL replay produces the IDENTICAL longs (the same
    * portability discipline as the md5 banding / mil-scaled drift
    * histograms). Truncation loses ≤ outdeg·n quanta of probability
    * mass per round — at scale = 10⁹ that is measurement noise, and
    * both engines lose exactly the same quanta.
    *
    * Runs a FIXED `iterations` count (no convergence action): rank
    * queries want a reproducible artifact, and a fixed-round unrolling
    * is what an external engine can replay. Each round is one
    * broadcast-or-shuffle join of the slim `(node, rank)` relation
    * against the edge list plus one map-side-combined sum — O(|E|) per
    * round, `localCheckpoint`ed to cut the iterative lineage.
    *
    * Dangling nodes (no outlinks): by default they keep their base rank
    * and LEAK their damped mass — the simple policy, kept as the
    * default for the stability of existing oracles. Real link graphs
    * always have sinks, and the leak systematically deflates every
    * rank, so `redistributeDangling = true` applies the standard fix:
    * each round the dangling ranks' sum `D` is redistributed uniformly,
    * every node receiving `(dampingPct·D) div (100·n)` extra quanta —
    * ONE extra one-row aggregate per round, broadcast back into the
    * round's own plan (never a driver-collected scalar, so no per-round
    * driver sync), still integer-exact and engine-portable (the update
    * is three separate truncating divisions; a replaying engine must
    * decompose identically).
    * `nodes` fixes the vertex universe.
    *
    * PERSONALIZED PageRank (`restartNodes`): the random surfer restarts
    * only into the given seed set — proximity-to-trusted-set scoring
    * (crawl prioritization from seed domains, topic-sensitive
    * authority, recsys trust propagation). The restart mass
    * `(scale·(100−dampingPct)) div (100·|R|)` lands on seed nodes only
    * (everyone else's base term is 0), the initial distribution is
    * seed-concentrated (`scale div |R|` each — the natural PPR start),
    * and with `redistributeDangling` the dangling mass returns to the
    * SEEDS uniformly (the standard PPR policy — dangling surfers
    * restart). Same integer lattice, same fixed-round replayability;
    * seeds outside the node universe are dropped, an empty effective
    * seed set refuses loudly.
    *
    * WEIGHTED edges (`weightCol`): real link and similarity graphs
    * carry edge weights (link counts, Jaccard scores from the near-dup
    * tier) and unweighted PageRank mis-ranks them — a source's rank
    * splits in proportion to weight instead of uniformly. A node's
    * out-mass divisor becomes `Σw` over its out-edges and each edge
    * contributes `(r·w) div Σw` — one truncating division per edge, so
    * the lattice stays exact and a replaying engine decomposes
    * identically (parallel edges contribute per edge row, never
    * pre-summed). Weights must be non-null positive integers (cast to
    * long; refused loudly otherwise — a zero or negative weight has no
    * random-surfer reading), and `scale · max(w)` must fit in a long
    * (scale 10⁹ leaves room for weights up to ~9·10⁹). The unweighted
    * path is byte-identical to before: `weightCol = None` keeps the
    * `count`-degree plan, not a `w = 1` rewrite. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      nodes: DataFrame, nodeCol: String = "node",
      iterations: Int = 15, dampingPct: Int = 85,
      scale: Long = 1000000000L,
      redistributeDangling: Boolean = false,
      restartNodes: Option[DataFrame] = None,
      restartCol: String = "node",
      weightCol: Option[String] = None): DataFrame = {
    require(iterations >= 0 && iterations <= 100, "iterations in [0, 100]")
    require(dampingPct >= 0 && dampingPct <= 100, "dampingPct in [0, 100]")
    val vs = nodes.select(col(nodeCol).as("node")).distinct().localCheckpoint(true)
    val n = vs.count()
    if (n == 0L) return vs.withColumn("rank_scaled", lit(0L))
    val restart = restartNodes.map(_.filter(col(restartCol).isNotNull)
      .select(col(restartCol).as("node")).distinct()
      .join(vs, Seq("node"), "left_semi")
      .localCheckpoint(true))
    val rCount = restart.map(_.count()).getOrElse(n)
    require(restartNodes.isEmpty || rCount > 0L,
      "pageRank: the restart set is empty or entirely outside the node universe")
    val es = edges.select(
        Seq(col(srcCol).as("src"), col(dstCol).as("dst")) ++
          weightCol.map(c => col(c).cast("long").as("w")): _*)
      .filter(col("src").isNotNull && col("dst").isNotNull)
      // edges must point inside the vertex universe or mass leaks to
      // phantom nodes the caller never sees
      .join(vs.select(col("node").as("dst")), Seq("dst"), "left_semi")
      .join(vs.select(col("node").as("src")), Seq("src"), "left_semi")
      .localCheckpoint(true)
    if (weightCol.isDefined)
      require(es.filter(col("w").isNull || col("w") < 1L).isEmpty,
        "pageRank: edge weights must be non-null positive integers")
    val deg = (weightCol match {
      case Some(_) => es.groupBy(col("src")).agg(sum(col("w")).as("deg"))
      case None => es.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    }).localCheckpoint(true)
    // dangling = nodes with no outlink; id-sized, resolved once
    val dangling =
      if (redistributeDangling)
        vs.join(deg.select(col("src").as("node")), Seq("node"), "left_anti")
          .localCheckpoint(true)
      else null
    val base = (scale * (100L - dampingPct)) / (100L * rCount)
    var ranks = restart match {
      case Some(r) =>
        vs.join(r.withColumn("__r0", lit(scale / rCount)), Seq("node"), "left")
          .select(col("node"), coalesce(col("__r0"), lit(0L)).as("r"))
          .localCheckpoint(true)
      case None => vs.withColumn("r", lit(scale / n)).localCheckpoint(true)
    }
    // the frame whose root IS a checkpoint (release targets walk the
    // plan for the first LogicalRDD — handing them a lazily-stacked
    // frame would unpersist an upstream relation still in use)
    var lastCkpt = ranks
    var it = 0
    while (it < iterations) {
      // the dangling ranks' sum this round, as a ONE-ROW broadcast
      // relation instead of a driver-collected literal: the former
      // scalar was an ACTION on `ranks` every round, which both forced
      // a per-round checkpoint (else the round's join chain executed
      // twice) and drained the cluster behind a driver sync 15×. As a
      // broadcast crossJoin the sum is just another stage inside the
      // round's plan, so dangling mode checkpoints every 4 rounds like
      // the other modes. The redistribution each node receives stays
      // (dampingPct·D) div (100·n) — a third truncating division kept
      // SEPARATE from the contribution term so a replaying engine can
      // decompose identically (div does not distribute over +)
      val extraRel =
        if (redistributeDangling)
          ranks.join(dangling, Seq("node"), "left_semi")
            .agg(coalesce(sum(col("r")), lit(0L)).as("__d"))
            .select(expr(s"(${dampingPct}L * __d) div " +
              s"(100L * ${rCount}L)").as("__extra"))
        else null
      val contrib = ranks
        .join(deg, ranks("node") === deg("src"))
        .join(es, Seq("src"))
        .select(col("dst").as("node"),
          (if (weightCol.isDefined) expr("(r * w) div deg")
           else expr("r div deg")).as("__c"))
        .groupBy(col("node")).agg(sum(col("__c")).as("__s"))
      // integral `div`, NOT Column./ (which is double division and
      // would push the ranks off the integer lattice). Personalized
      // mode lands the base AND dangling terms on seeds only.
      val extraTerm = if (redistributeDangling) "__extra" else "0L"
      def withExtra(df: DataFrame): DataFrame =
        if (redistributeDangling) df.crossJoin(broadcast(extraRel)) else df
      var next = restart match {
        case Some(r) =>
          withExtra(vs.join(contrib, Seq("node"), "left")
              .join(r.withColumn("__in_r", lit(true)), Seq("node"), "left"))
            .select(col("node"),
              expr(s"CASE WHEN __in_r THEN ${base}L + $extraTerm ELSE 0L END" +
                s" + (${dampingPct}L * coalesce(__s, 0L)) div 100L").as("r"))
        case None =>
          withExtra(vs.join(contrib, Seq("node"), "left"))
            .select(col("node"),
              expr(s"${base}L + (${dampingPct}L * coalesce(__s, 0L)) div 100L" +
                s" + $extraTerm").as("r"))
      }
      // truncate lineage every few rounds, not every round: the chain
      // between checkpoints is a handful of joins against already-
      // checkpointed relations (linear, cheap to analyze), and each
      // eager checkpoint is a full job — on small graphs the per-round
      // fixed cost dominated the arithmetic. EXCEPT when redistributing:
      // the dangling sum references the ranks subtree a SECOND time each
      // round, so un-checkpointed rounds double per round (2^k subtree
      // executions between checkpoints — measured 1.6× worse at a 4-round
      // stride); checkpointing every round keeps both references reading
      // materialized rows, and the broadcast form still saves the old
      // per-round driver collect (one job per round instead of two)
      if (redistributeDangling || it % 4 == 3 || it == iterations - 1) {
        next = next.localCheckpoint(true)
        Dedup.releaseCheckpoint(lastCkpt)
        lastCkpt = next
      }
      ranks = next
      it += 1
    }
    // the returned frame reads only the last ranks checkpoint — the
    // helper relations (seed set, edges, degrees, dangling list) would
    // otherwise stay pinned in executor storage until frame GC
    restart.foreach(Dedup.releaseCheckpoint)
    Dedup.releaseCheckpoint(vs)
    Dedup.releaseCheckpoint(es)
    Dedup.releaseCheckpoint(deg)
    if (dangling != null) Dedup.releaseCheckpoint(dangling)
    ranks.select(col("node"), col("r").as("rank_scaled"))
  }

  /** Seeded label propagation (semi-supervised label spreading, Zhu &
    * Ghahramani's hard-label variant): spread a small set of trusted
    * labels through the undirected graph — quality labels through a
    * near-duplicate graph, topic labels through a link graph — by
    * synchronous majority vote. Each of the FIXED `iterations` rounds,
    * every non-seed node adopts the majority label among its currently-
    * labeled neighbors (ties to the lexicographically smallest label,
    * the NB argmax discipline), keeps its previous label when no
    * neighbor is labeled, and may flip in a later round if its
    * neighborhood's majority shifts; seed nodes never change. Returns
    * `(node, label)` for nodes labeled after the last round — unreached
    * nodes are absent, the [[bfsDistances]] honesty rule.
    *
    * Fixed-round on purpose (the [[pageRank]] contract): a reproducible
    * artifact an external engine can replay round for round; every vote
    * is an integer count and every argmax is exact, so the full
    * assignment is engine-portable. Per round: one join of the slim
    * `(node, label)` relation against the symmetrized edges, one
    * map-side-combined (node, label) count, one argmax aggregate —
    * O(|E| + labeled nodes) shuffled bytes, `localCheckpoint`ed with
    * superseded rounds released. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, nodeCol: String = "node", labelCol: String = "label",
      iterations: Int = 5,
      weightCol: Option[String] = None): DataFrame = {
    require(iterations >= 0 && iterations <= 100, "iterations in [0, 100]")
    // WEIGHTED votes (`weightCol`): a neighbor's vote counts its edge
    // weight instead of 1 — the natural semantics when the edges are
    // the dedup tier's Jaccard-weighted near-dup graph (a 0.9-similar
    // neighbor should out-vote three 0.3-similar ones). Parallel-edge
    // identity is the DIRECTED pair: weights first aggregate per
    // (u, v) — so genuinely parallel same-direction edges accumulate
    // whether or not their weights are equal — and the undirected vote
    // weight is then the MAX of the two directed sums, so a
    // pre-symmetrized input is never double-counted (symmetric
    // per-direction weights yield w, not 2w; asymmetric ones resolve
    // deterministically to the heavier direction). Votes stay exact
    // integer counts — the argmax discipline is unchanged.
    val base = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(Seq(col(srcCol).as("u"), col(dstCol).as("v")) ++
        weightCol.map(c => col(c).cast("long").as("w")): _*)
    val sym = (weightCol match {
      case Some(_) =>
        val dir = base.groupBy(col("u"), col("v")).agg(sum(col("w")).as("w"))
        dir.union(dir.select(col("v").as("u"), col("u").as("v"), col("w")))
          .groupBy(col("u"), col("v")).agg(max(col("w")).as("w"))
      case None =>
        base.union(base.select(col("v").as("u"), col("u").as("v")))
          .distinct()
    }).localCheckpoint(true)
    if (weightCol.isDefined)
      require(base.filter(col("w").isNull || col("w") < 1L).isEmpty,
        "labelPropagation: edge weights must be non-null positive integers")
    val seed = seeds
      .filter(col(nodeCol).isNotNull && col(labelCol).isNotNull)
      .select(col(nodeCol).as("node"), col(labelCol).as("__seed"))
      .distinct()
      .localCheckpoint(true)
    // conflicting seed labels would duplicate the node through every
    // round (double votes, duplicate output rows) — refuse loudly; the
    // check is one aggregate over the seed-sized relation
    require(seed.groupBy(col("node")).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1).isEmpty,
      "labelPropagation: the same seed node carries conflicting labels")
    // tie-breaks resolve through a label index (max(struct(votes, -idx))
    // — one aggregate, no per-node window); the label universe is the
    // seed labels, label-cardinality-sized by construction
    val w = Window.orderBy(col("lab"))
    val idx = seed.select(col("__seed").as("lab")).distinct()
      .withColumn("__li", row_number().over(w).cast("long"))
      .localCheckpoint(true)
    // the vertex universe includes seeds with no edges — an isolated
    // trusted label must survive to the output, not silently vanish
    val nodes = sym.select(col("u").as("node"))
      .union(seed.select(col("node")))
      .distinct()
      .localCheckpoint(true)
    var cur = nodes
      .join(seed, Seq("node"), "left")
      .select(col("node"), col("__seed").as("lab"))
      .localCheckpoint(true)
    var it = 0
    while (it < iterations) {
      val votes = cur.filter(col("lab").isNotNull)
        .select(col("node").as("u"), col("lab"))
        .join(sym, "u")
        .groupBy(col("v").as("node"), col("lab"))
        .agg((weightCol match {
          case Some(_) => sum(col("w"))
          case None => count(lit(1))
        }).as("__c"))
      val best = votes.join(broadcast(idx), "lab")
        .groupBy(col("node"))
        .agg(max(struct(col("__c"), (-col("__li")).as("__nli"),
          col("lab"))).getField("lab").as("__maj"))
      val next = cur
        .join(best, Seq("node"), "left")
        .join(seed, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("__seed"), col("__maj"), col("lab")).as("lab"))
        .localCheckpoint(true)
      Dedup.releaseCheckpoint(cur)
      cur = next
      it += 1
    }
    // the returned frame reads ONLY the final round's checkpoint — the
    // edge-sized sym relation (and the id-sized side relations) must not
    // stay pinned in executor storage until the frame is GC'd
    Dedup.releaseCheckpoint(sym)
    Dedup.releaseCheckpoint(nodes)
    Dedup.releaseCheckpoint(seed)
    Dedup.releaseCheckpoint(idx)
    cur.filter(col("lab").isNotNull)
      .select(col("node"), col("lab").as("label"))
  }

  /** Multi-source BFS hop distances over the undirected graph: for every
    * node reachable from ANY source, the minimum hop count to its
    * nearest source — the proximity feature of link-graph curation
    * (crawl depth from seed domains, distance-to-trusted-set as a spam
    * prior) and the reachability primitive behind "how far does this
    * subgraph extend". Returns `(node, dist)` for reached nodes ONLY
    * (sources at 0); unreachable nodes are absent, which is the honest
    * answer (a null-filled row would read as "measured infinite").
    *
    * Frontier-expansion rounds (the Pregel BFS): each round joins the
    * LAST round's newly-discovered frontier against the edge relation
    * and anti-joins already-settled nodes, so per-round cost is
    * O(frontier edges), not O(|E|) — the whole traversal touches each
    * edge at most twice across all rounds. BFS discovers every node at
    * its minimal depth by construction (synchronous level expansion),
    * so no re-relaxation pass is needed and round count = the
    * eccentricity of the source set, with `maxIter` the loud backstop
    * (a bare chain costs its length in rounds; real link graphs are
    * small-world). Rounds are `localCheckpoint`ed and superseded
    * relations released, the iterative-operator discipline here. */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
      sources: DataFrame, sourceCol: String = "node",
      maxIter: Int = 200): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    val base = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(col(srcCol).as("u"), col(dstCol).as("v"))
    val sym = base
      .union(base.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .localCheckpoint(true)
    val level0 = sources.filter(col(sourceCol).isNotNull)
      .select(col(sourceCol).as("node")).distinct()
      .withColumn("dist", lit(0L))
      .localCheckpoint(true)
    // one checkpointed relation PER LEVEL, read through a lazily-stacked
    // union view — never an eager re-checkpoint of the whole accumulated
    // distance relation each round (that write is O(n·depth) across the
    // traversal; the union view keeps total checkpointed bytes at the
    // node count, one level each, measured 66.7 → 37.3 s on the 2M-node
    // doubling expander, where per-round fixed job cost is the floor).
    // No level is ever released: every one is part of the returned
    // result.
    var levels = List(level0)
    var visited = level0.select(col("node"))
    var frontier = level0.select(col("node"))
    var frontierSize = frontier.count()
    var it = 0
    while (frontierSize > 0L && it < maxIter) {
      val next = frontier.select(col("node").as("u"))
        .join(sym, "u")
        .select(col("v").as("node"))
        .distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("dist", lit(it + 1L))
        .localCheckpoint(true)
      levels ::= next
      visited = visited.union(next.select(col("node")))
      frontier = next.select(col("node"))
      frontierSize = next.count()
      it += 1
    }
    if (frontierSize > 0L)
      throw new IllegalStateException(
        s"bfsDistances did not exhaust the frontier in $maxIter rounds " +
          "(round count = source-set eccentricity); refusing to return " +
          "truncated distances")
    // the result reads only the per-level checkpoints — release the
    // edge-sized sym relation instead of pinning it until frame GC
    Dedup.releaseCheckpoint(sym)
    levels.reduce(_ unionByName _)
  }

  /** Multi-source WEIGHTED shortest-path distances over the undirected
    * graph — [[bfsDistances]]' weighted twin, for the graphs whose
    * edges carry costs (latency-weighted link graphs, 1−similarity
    * distances on the near-dup graph): for every reachable node, the
    * minimum total edge weight to its nearest source. Weights must be
    * non-null POSITIVE integers (refused loudly — zero-weight edges
    * would need Dijkstra's tie handling and negative ones have no
    * shortest-path fixpoint on cycles), so distances stay on the exact
    * integer lattice and the result is engine-replayable. Parallel
    * edges keep their lightest weight; `(node, dist)` for reached nodes
    * ONLY (sources at 0) — unreachable nodes are absent, the
    * [[bfsDistances]] honesty rule.
    *
    * Frontier Bellman-Ford (the SPFA discipline, synchronous): each
    * round relaxes ONLY the edges out of nodes whose distance improved
    * last round — per-round cost O(frontier edges) — and the loop ends
    * when a round improves nothing. Round count is the maximum HOP
    * count over all shortest paths (≤ n−1 in theory; small-world in
    * practice), `maxIter` the loud backstop. With unit weights every
    * relaxation settles at first discovery and the result equals
    * [[bfsDistances]] (spec-pinned).
    *
    * Each round full-outer merges the candidate relation into the
    * COMPLETE distance relation and re-checkpoints it: an O(n) shuffle
    * and memory-resident checkpoint write per round, but one job and one
    * relation. Checkpointing only each round's improvements instead
    * measured slower on every GraphScale `sp` cell (BENCH_AB_r13.json):
    * on memory-resident local checkpoints the saved O(n) write costs
    * less than the extra join, aggregate and checkpoint per round. */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
      sources: DataFrame, sourceCol: String = "node",
      weightCol: String = "w", maxIter: Int = 200): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    val base = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(col(srcCol).as("u"), col(dstCol).as("v"),
        col(weightCol).cast("long").as("w"))
    require(base.filter(col("w").isNull || col("w") < 1L).isEmpty,
      "shortestPaths: edge weights must be non-null positive integers")
    // symmetrize, then keep the LIGHTEST parallel edge per pair — a
    // heavier duplicate can never lie on a shortest path
    val sym = base
      .union(base.select(col("v").as("u"), col("u").as("v"), col("w")))
      .groupBy(col("u"), col("v")).agg(min(col("w")).as("w"))
      .localCheckpoint(true)
    val src = sources.filter(col(sourceCol).isNotNull)
      .select(col(sourceCol).as("node")).distinct()
      .withColumn("dist", lit(0L))
      .localCheckpoint(true)
    var dist = src
    var frontier = dist
    var frontierSize = frontier.count()
    var it = 0
    while (frontierSize > 0L && it < maxIter) {
      // best candidate per node reached from the improved frontier
      val cand = frontier.select(col("node").as("u"), col("dist"))
        .join(sym, "u")
        .groupBy(col("v").as("node"))
        .agg(min(col("dist") + col("w")).as("__c"))
      // merge: a node improves when the candidate beats (or first
      // sets) its distance; everything else passes through unchanged
      val merged = dist.join(cand, Seq("node"), "full_outer")
        .select(col("node"),
          least(coalesce(col("dist"), col("__c")),
            coalesce(col("__c"), col("dist"))).as("dist"),
          (col("__c").isNotNull &&
            (col("dist").isNull || col("__c") < col("dist"))).as("__imp"))
        .localCheckpoint(true)
      val nextFrontier = merged.filter(col("__imp"))
        .select(col("node"), col("dist"))
      frontierSize = nextFrontier.count()
      // frontier is always a view over dist's checkpoint — releasing
      // dist releases both
      Dedup.releaseCheckpoint(dist)
      dist = merged // keep the checkpoint alive; `nextFrontier` is a view of it
      frontier = nextFrontier
      it += 1
    }
    if (frontierSize > 0L)
      throw new IllegalStateException(
        s"shortestPaths did not settle in $maxIter relaxation rounds " +
          "(round count = max shortest-path hop count); refusing to " +
          "return unsettled distances")
    Dedup.releaseCheckpoint(sym)
    dist.select(col("node"), col("dist"))
  }

  /** The k-core of the undirected graph — the maximal subgraph in which
    * every node has degree ≥ k (Seidman's cores; the standard
    * graph-datacard density signal, and the classic spam/bot filter on
    * link graphs: low-core nodes are tendrils, high-core nodes sit in
    * densely woven regions a random crawl rarely fakes).
    *
    * Returns `(node, core_deg)` for exactly the nodes of the k-core,
    * where `core_deg` is the node's degree WITHIN the core — the
    * fixpoint degree, every value ≥ k by construction. Self-loops,
    * duplicate and reversed edges, and null endpoints are dropped; an
    * empty result means the graph has no k-core.
    *
    * Algorithm: FRONTIER-DELTA peeling. Degrees are computed ONCE;
    * each wave broadcasts the removed set (wave-sized) against the
    * static canonical edge relation to count per-neighbor decrements — a
    * map-side scan with an O(touched)-sized aggregate, no edge shuffle —
    * and the surviving degree relation (node-sized, not edge-sized) is
    * the only per-wave checkpoint. Each node is removed exactly once, so
    * each edge fires at most one decrement per endpoint ever and the
    * stale edge relation never double-counts; survivors' degrees at the
    * fixpoint ARE the within-core degrees. The round count is the peel
    * DEPTH of the cascade (how many waves of removals k triggers), not
    * the node count of sequential peeling. It measured 2.4×/1.7× faster
    * than a batch peel that recomputes all degrees and re-filters the
    * whole edge set every wave, on the 2M/8M-node worst-cascade tree
    * (GraphScale `kcore`, BENCH_AB_r12.json). Rounds are
    * `localCheckpoint`ed and superseded relations released eagerly, the
    * iterative-operator discipline of this file. `maxIter` is a loud
    * backstop (adversarial shapes — a bare chain at k=2 — peel O(n)
    * rounds two endpoints at a time; real graphs cascade out in tens),
    * throwing instead of returning a supergraph of the core. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxIter: Int = 500): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    val e = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .distinct()
      .localCheckpoint(true)
    // Broadcast budget for a removal wave, in BYTES: the wave is one
    // long column (8 B/row of data; the built hash relation is a few ×
    // that), so the gate follows the session's own broadcast sizing —
    // `spark.sql.autoBroadcastJoinThreshold` — instead of a hardcoded
    // row count that ignores driver heap (a 4M-row forced broadcast is
    // ~32 MB of data but several × that as a driver-built relation,
    // past any default threshold). `-1` (broadcasts disabled) forces
    // nothing and leaves every wave to the join AQE picks.
    val bcBudget = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      edges.sparkSession.conf
        .get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    var deg = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
      .localCheckpoint(true)
    var it = 0
    var done = false
    while (!done && it < maxIter) {
      val removed = deg.filter(col("core_deg") < k)
        .select(col("node")).localCheckpoint(true)
      val removedCnt = removed.count()
      if (removedCnt == 0L) {
        Dedup.releaseCheckpoint(removed)
        done = true
      } else {
        // decrements land only on this wave's removals' neighbors;
        // decrements aimed at already-removed nodes vanish in the join
        // against the surviving degree relation. The broadcast hint is
        // gated on the driver-known wave size in BYTES (rows × 8 B vs
        // the session broadcast threshold above): typical waves are
        // tiny (the whole point of frontier peeling) and go map-side; a
        // giant first wave (sparse graph, large k) must not be forced
        // through a driver broadcast, so it falls back to the join AQE
        // picks.
        def rem(as: String) =
          if (bcBudget > 0L && removedCnt * 8L <= bcBudget)
            broadcast(removed.select(col("node").as(as)))
          else removed.select(col("node").as(as))
        val decr = e.join(rem("u"), Seq("u"), "left_semi")
          .select(col("v").as("node"))
          .union(e.join(rem("v"), Seq("v"), "left_semi")
            .select(col("u").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("__d"))
        val next = deg.filter(col("core_deg") >= k)
          .join(decr, Seq("node"), "left")
          .select(col("node"),
            (col("core_deg") - coalesce(col("__d"), lit(0L))).as("core_deg"))
          .localCheckpoint(true)
        Dedup.releaseCheckpoint(deg)
        Dedup.releaseCheckpoint(removed)
        deg = next
        it += 1
      }
    }
    if (!done)
      throw new IllegalStateException(
        s"kCore(k=$k) did not converge in $maxIter peel rounds; " +
          "refusing to return a supergraph of the core")
    Dedup.releaseCheckpoint(e)
    deg
  }

  /** Per-node triangle counts of the undirected graph — the clustering
    * signal a graph datacard reports (local clustering coefficient =
    * triangles / C(degree, 2)) and the classic spam/bot structural
    * feature on link graphs.
    *
    * Degree-oriented wedge counting (Schank & Wagner's forward
    * algorithm / Cohen's MapReduce formulation — the public-literature
    * standard for shared-nothing engines): canonicalize the edge set,
    * orient every edge from its LOWER-(degree, id) endpoint to the
    * higher, enumerate wedges only at each edge's low endpoint, and
    * close them against the oriented edge set. Orientation bounds
    * out-degree by O(√|E|) however skewed the raw degree distribution
    * (a degree-n hub RECEIVES its n edges, so it spawns no wedges), so
    * wedge volume — the only super-linear relation — is ≤ Σ C(outdeg,
    * 2) = O(|E|^1.5) worst case and far less on real sparse graphs;
    * the closing join is equi on both wedge arms. Every node of the
    * graph gets a row (0 for triangle-free); self-loops, duplicates,
    * and reversed edges collapse in canonicalization. */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String,
      nodes: Option[DataFrame] = None, nodeCol: String = "node"): DataFrame = {
    val canonical = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .distinct()
      .localCheckpoint(true)
    val allNodes = {
      val fromEdges = canonical.select(col("u").as("node"))
        .union(canonical.select(col("v").as("node")))
      nodes.map(n => fromEdges.union(
          n.filter(col(nodeCol).isNotNull).select(col(nodeCol).as("node"))))
        .getOrElse(fromEdges)
        .distinct()
    }
    val deg = canonical.select(col("u").as("node"))
      .union(canonical.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient low-(deg, id) → high-(deg, id); the struct comparison is
    // the standard total order making orientation acyclic
    val oriented = canonical
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("u")).otherwise(col("v")).as("a"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("v")).otherwise(col("u")).as("b"))
      .localCheckpoint(true)
    // wedges at the low endpoint: unordered out-neighbor pairs (id
    // order, so each wedge appears once), closed against the CANONICAL
    // undirected edge set — the closing edge's own orientation depends
    // on its endpoints' degrees, not the wedge center's, so the
    // id-canonical form is the right join key
    val w = oriented.select(col("a"), col("b").as("b1"))
      .join(oriented.select(col("a"), col("b").as("b2")), "a")
      .filter(col("b1") < col("b2"))
    val closed = w.join(
      canonical.select(col("u").as("b1"), col("v").as("b2")),
      Seq("b1", "b2"))
    // each triangle is found exactly once (at its unique low corner);
    // credit all three corners with one explode, then one combined sum
    val perNode = closed
      .select(explode(array(col("a"), col("b1"), col("b2"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    allNodes.join(perNode, Seq("node"), "left")
      .select(col("node"), coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** Strongly connected components of the DIRECTED graph — the directed
    * complement of [[connectedComponents]] (which symmetrizes): cycle
    * detection in dependency/link graphs, the crawl-graph analysis
    * behind duplicate-site ring detection. Returns `(node, scc_id)`
    * where `scc_id` is the MAX member id of the node's SCC (the
    * coloring-root convention — see below; an external engine derives
    * the same label as `max({v} ∪ mutually-reachable(v))`).
    *
    * Algorithm: trim + forward-backward coloring (Orzan'05; the
    * FW-BW-Trim family every distributed SCC implementation descends
    * from — Tarjan's stack is inherently sequential and does not
    * distribute):
    *
    *  1. '''Trim''' to fixpoint: a node with no in-edge or no out-edge
    *     among ACTIVE nodes lies on no cycle — settle it as a singleton
    *     SCC and remove it. A DAG settles entirely here.
    *  2. '''Color''' (forward max-label to fixpoint): `color(v)` =
    *     max active id with a directed path to `v` (self included) —
    *     per round one join of current colors against the active edge
    *     set + a max aggregate, edge-set-signature convergence as in
    *     [[connectedComponents]].
    *  3. '''Mark backward''' within each color class from its root
    *     `c` (`color(c) = c`): `v` is marked when some edge `v→u` has
    *     `color(u) = color(v)` and `u` marked. Marked nodes form
    *     exactly SCC(`c`): `c` reaches every same-colored node
    *     (coloring), marked nodes reach `c` (marking), and any SCC
    *     member `m` of a marked node shares both paths, so the label
    *     is the max member id. Settle marked nodes with
    *     `scc_id = color`, drop them, repeat from 1.
    *
    * Each outer round settles every color-class root's FULL SCC, so
    * outer rounds are bounded by the longest chain of SCCs whose roots
    * dominate each other's removal order — small on real graphs (the
    * adversarial case, a pure singleton chain, is settled by trim, not
    * coloring). Per-phase fixpoints carry the library's loud
    * non-convergence backstops; per-round relations are
    * `localCheckpoint`ed and released when superseded
    * ([[connectedComponents]] discipline).
    *
    * 100 TB shape: every phase is (join on u or v) + aggregate over the
    * ACTIVE subgraph — shuffles shrink as components settle; no
    * windows, no driver-side state beyond the two-long convergence
    * signature and counts. */
  def stronglyConnectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      nodes: Option[DataFrame] = None, nodeCol: String = "node",
      maxOuter: Int = 40, maxIter: Int = 200): DataFrame = {
    val base = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(col(srcCol).as("u"), col(dstCol).as("v"))
      .distinct()
    val allNodes = {
      val fromEdges = base.select(col("u").as("node"))
        .union(base.select(col("v").as("node")))
      nodes.map(n => fromEdges.union(
          n.filter(col(nodeCol).isNotNull).select(col(nodeCol).as("node"))))
        .getOrElse(fromEdges)
        .distinct()
        .localCheckpoint(true)
    }

    var active = allNodes
    var e = base.localCheckpoint(true)
    var settledParts = List.empty[DataFrame] // (node, scc_id) checkpoints
    var remaining = active.count()
    var outer = 0
    while (remaining > 0L && outer < maxOuter) {
      // -- 1. trim to fixpoint: no in-edge or no out-edge => singleton
      var trimming = true
      var trimIt = 0
      while (trimming && trimIt < maxIter) {
        val hasIn = e.select(col("v").as("node")).distinct()
        val hasOut = e.select(col("u").as("node")).distinct()
        val keep = hasIn.join(hasOut, Seq("node")).localCheckpoint(true)
        val trimmed = active.join(keep, Seq("node"), "left_anti")
          .select(col("node"), col("node").as("scc_id"))
          .localCheckpoint(true)
        val nTrimmed = trimmed.count()
        if (nTrimmed == 0L) {
          Dedup.releaseCheckpoint(keep)
          Dedup.releaseCheckpoint(trimmed)
          trimming = false
        } else {
          settledParts ::= trimmed
          remaining -= nTrimmed
          val nextActive = keep
          val nextE = e.join(nextActive.select(col("node").as("u")), "u")
            .join(nextActive.select(col("node").as("v")), "v")
            .select(col("u"), col("v")).localCheckpoint(true)
          if (active ne allNodes) Dedup.releaseCheckpoint(active)
          Dedup.releaseCheckpoint(e)
          active = nextActive
          e = nextE
        }
        trimIt += 1
      }
      if (trimming)
        throw new IllegalStateException(
          s"stronglyConnectedComponents: trim did not reach a fixpoint " +
            s"in $maxIter rounds")

      if (remaining > 0L) {
        // -- 2. forward max-color to fixpoint
        var color = active.select(col("node"), col("node").as("color"))
          .localCheckpoint(true)
        def colorSig(c: DataFrame): (Long, Long) = {
          val r = c.agg(count(lit(1)),
            coalesce(bit_xor(xxhash64(col("node"), col("color"))), lit(0L)))
            .head()
          (r.getLong(0), r.getLong(1))
        }
        var sig = colorSig(color)
        var settledColors = false
        var it = 0
        while (!settledColors && it < maxIter) {
          // greatest-join, not union-aggregate: the union form's
          // propagated branch is a projection over a join whose
          // constraint set still references pre-projection attributes —
          // Union.rewriteConstraints crashes on those (the Dedup.scala
          // constraint-transplant bug class). The join form also
          // pre-aggregates the inbox, shrinking the shuffle to one row
          // per receiving node
          val inbox = e
            .join(color.select(col("node").as("u"), col("color").as("__pc")),
              "u")
            .groupBy(col("v").as("node")).agg(max(col("__pc")).as("__in"))
          val next = color
            .join(inbox, Seq("node"), "left")
            .select(col("node"),
              greatest(col("color"),
                coalesce(col("__in"), lit(Long.MinValue))).as("color"))
            .localCheckpoint(true)
          val nextSig = colorSig(next)
          Dedup.releaseCheckpoint(color)
          color = next
          settledColors = nextSig == sig
          sig = nextSig
          it += 1
        }
        if (!settledColors)
          throw new IllegalStateException(
            s"stronglyConnectedComponents: coloring did not converge in " +
              s"$maxIter rounds")

        // -- 3. backward mark from each color root within its class
        var marked = color.filter(col("node") === col("color"))
          .localCheckpoint(true)
        var frontier = marked
        var frontierN = frontier.count()
        var mIt = 0
        while (frontierN > 0L && mIt < maxIter) {
          val next = e
            .join(frontier.select(col("node").as("v"), col("color")), "v")
            .select(col("u").as("node"), col("color"))
            .join(color.withColumnRenamed("color", "__c"), Seq("node"))
            .filter(col("color") === col("__c"))
            .select(col("node"), col("color"))
            .distinct()
            .join(marked.select(col("node")), Seq("node"), "left_anti")
            .localCheckpoint(true)
          // raw union of two CHECKPOINTED relations (clean constraint
          // sets) — aliased projections on top would re-introduce the
          // constraint-rewrite crash
          val merged = marked.unionByName(next).localCheckpoint(true)
          if (frontier ne marked) Dedup.releaseCheckpoint(frontier)
          Dedup.releaseCheckpoint(marked)
          marked = merged
          frontier = next
          frontierN = next.count()
          mIt += 1
        }
        if (frontierN > 0L)
          throw new IllegalStateException(
            s"stronglyConnectedComponents: backward marking did not " +
              s"exhaust its frontier in $maxIter rounds")
        if (frontier ne marked) Dedup.releaseCheckpoint(frontier)
        val settled = marked.select(col("node"), col("color").as("scc_id"))
          .localCheckpoint(true)
        settledParts ::= settled
        val nSettled = settled.count()
        remaining -= nSettled
        val nextActive = active
          .join(settled.select(col("node")), Seq("node"), "left_anti")
          .localCheckpoint(true)
        val nextE = e
          .join(nextActive.select(col("node").as("u")), "u")
          .join(nextActive.select(col("node").as("v")), "v")
          .select(col("u"), col("v")).localCheckpoint(true)
        if (active ne allNodes) Dedup.releaseCheckpoint(active)
        Dedup.releaseCheckpoint(e)
        Dedup.releaseCheckpoint(color)
        Dedup.releaseCheckpoint(marked)
        active = nextActive
        e = nextE
      }
      outer += 1
    }
    if (remaining > 0L)
      throw new IllegalStateException(
        s"stronglyConnectedComponents did not settle every node in " +
          s"$maxOuter outer rounds; refusing to return a partial labeling")
    Dedup.releaseCheckpoint(e)
    if (active ne allNodes) Dedup.releaseCheckpoint(active)
    // raw union of checkpointed parts — their LogicalRDD constraint
    // sets are self-contained, the shape Union's constraint rewrite
    // handles (the bfsDistances level-union precedent)
    settledParts.reduceOption(_ unionByName _)
      .getOrElse(allNodes.limit(0)
        .select(col("node"), col("node").as("scc_id")))
  }
}
