import org.apache.spark.sql.functions._

/** Iterative-graph-operator scale measurement: `GraphScale [n] [mode]`
  * (default 2,000,000 nodes, mode `cc`) times the operator over
  * adversarial giant-structure shapes and prints result summaries.
  *
  * mode `cc` — Graph.connectedComponents over two single-component
  * shapes that stress the star rounds' per-node windows as the graph
  * contracts toward ONE center:
  *  - `tree`: node i links to i/2 (binary tree — depth log n, the
  *    center's window partition grows round over round);
  *  - `hub_chain`: nodes 1..n/2 all link to 0 (an immediate degree-n/2
  *    hub — the worst window partition exists from round one) and
  *    n/2..n chain onto it (diameter n/2 tail).
  *
  * mode `kcore` — Graph.kCore(k=4) over the binary tree (every node
  * deg ≤ 3, so the WHOLE tree unravels leaf-wave by leaf-wave: peel
  * depth = tree depth ≈ log₂ n, the worst cascade a real graph
  * produces at this size) anchored to a deg-6 ring over the first n/10
  * nodes that must survive as the core — measures per-round cost over
  * a shrinking edge set AND that the peel terminates on the exact
  * surviving core, not empty.
  *
  * mode `bfs` — Graph.bfsDistances from one source over the doubling
  * expander (i → 2i, 2i+1 mod n): diameter ≈ log₂ n with the frontier
  * roughly doubling each round — total traversal work O(|E|), the
  * frontier-expansion claim measured.
  *
  * Run with `sbt "runMain GraphScale [n] [mode]"`. Iteration progress
  * comes from the operator's own per-round jobs; wall-clock per shape
  * is the headline number. */
object GraphScale {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 2000000L
    val mode = if (args.length > 1) args(1) else "cc"
    val spark = graft.core.Session.local()
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[graph-scale] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val tree = spark.range(1, n)
      .select(col("id").as("src"), (col("id") / 2).cast("long").as("dst"))
    val hubChain = spark.range(1, n / 2)
      .select(col("id").as("src"), lit(0L).as("dst"))
      .unionByName(spark.range(n / 2, n)
        .select(col("id").as("src"), (col("id") - 1).as("dst")))
    if (mode == "cc" || mode == "all") {
      for ((label, edges) <- Seq("tree" -> tree, "hub_chain" -> hubChain)) {
        val dist = time(s"$label n=$n cc+distribution") {
          graft.operators.Graph.connectedComponents(edges, "src", "dst")
            .groupBy("component").agg(count(lit(1)).as("sz"))
            .groupBy("sz").agg(count(lit(1)).as("n_components"))
            .orderBy(col("sz")).collect()
        }
        dist.foreach(r => println(
          s"[graph-scale] $label component_size=${r.get(0)} n=${r.get(1)}"))
      }
    }
    if (mode == "kcore" || mode == "all") {
      val c = n / 10
      val ring = spark.range(0, c).select(col("id"))
        .select(col("id").as("src"),
          explode(array((col("id") + 1) % c, (col("id") + 2) % c,
            (col("id") + 3) % c)).as("dst"))
      val edges = tree.unionByName(ring)
      val core = time(s"tree_ring/kcore k=4 n=$n") {
        graft.operators.Graph.kCore(edges, "src", "dst", k = 4)
          .agg(count(lit(1)), min(col("core_deg")), max(col("core_deg")))
          .head()
      }
      println(s"[graph-scale] kcore n=$n " +
        s"core_nodes=${core.getLong(0)} " +
        s"deg_range=[${core.getLong(1)}, ${core.getLong(2)}] " +
        s"(expect core_nodes=$c: the tree unravels, the ring survives)")
    }
    if (mode == "bfs" || mode == "all") {
      val doubling = spark.range(0, n)
        .select(col("id").as("src"),
          explode(array((col("id") * 2) % n, (col("id") * 2 + 1) % n)).as("dst"))
      val s = spark
      import s.implicits._
      val r = time(s"doubling/bfs n=$n") {
        graft.operators.Graph.bfsDistances(doubling, "src", "dst",
            sources = Seq(7L).toDF("node"))
          .agg(count(lit(1)), max(col("dist"))).head()
      }
      println(s"[graph-scale] bfs n=$n reached=${r.getLong(0)} " +
        s"max_dist=${r.getLong(1)}")
    }
    // mode `sp` — Graph.shortestPaths over two shapes:
    //  - `expander`: the doubling expander with weights 1+(src+dst)%5 —
    //    small-world hop counts, mild re-improvement (the realistic
    //    link-graph shape);
    //  - `comb`: the adversarial deep-improvement shape — a 64-node
    //    weight-10 backbone chain, weight-(10j+5) shortcuts from the
    //    source to every backbone node (so everything is DISCOVERED in
    //    two rounds), and the other n−64 nodes as weight-1 teeth hanging
    //    off backbone nodes. Each backbone hop then UNDERCUTS one
    //    shortcut per round, re-improving that node's whole tooth group:
    //    ~66 relaxation rounds × ~n/64 improvements, every round
    //    re-checkpointing all n distances.
    // mode `scc` — Graph.stronglyConnectedComponents over two shapes:
    //  - `rings_up`: n/32 directed 32-cycles chained by ASCENDING
    //    one-way bridges — every ring is its own color class (ids rise
    //    with ring index, so each ring's max dominates its ancestors),
    //    so ALL SCCs settle in ONE outer round; inner rounds ~2×ring
    //    circumference. The n-scale coloring/marking cost, isolated.
    //  - `teeth_desc`: an 8-ring (size 32) DESCENDING chain — coloring
    //    floods the global max over every ring, so exactly one ring
    //    settles per outer round (the outer-round worst case, bounded
    //    at 8) — plus n−256 tooth nodes each pointing INTO the core
    //    (no in-edge), exercising the n-scale trim in round one.
    if (mode == "scc" || mode == "all") {
      val ringSz = 32L
      val nR = n / ringSz
      val cyc = spark.range(0, nR * ringSz).select(col("id").as("src"),
        ((col("id") - pmod(col("id"), lit(ringSz))) +
          pmod(col("id") % ringSz + 1, lit(ringSz))).as("dst"))
      val bridgeUp = spark.range(0, nR - 1)
        .select((col("id") * ringSz + ringSz - 1).as("src"),
          ((col("id") + 1) * ringSz).as("dst"))
      val ringsUp = cyc.unionByName(bridgeUp)
      val szUp = time(s"rings_up/scc n=$n") {
        graft.operators.Graph.stronglyConnectedComponents(
            ringsUp, "src", "dst")
          .groupBy("scc_id").agg(count(lit(1)).as("sz"))
          .groupBy("sz").agg(count(lit(1)).as("n_sccs"))
          .orderBy(col("sz")).collect()
      }
      szUp.foreach(r => println(
        s"[graph-scale] rings_up scc_size=${r.get(0)} n=${r.get(1)} " +
          s"(expect all size $ringSz, ${nR} SCCs)"))
      val core = 8L * ringSz
      val cycD = spark.range(0, core).select(col("id").as("src"),
        ((col("id") - pmod(col("id"), lit(ringSz))) +
          pmod(col("id") % ringSz + 1, lit(ringSz))).as("dst"))
      val bridgeDown = spark.range(1, 8L)
        .select((col("id") * ringSz).as("src"),
          ((col("id") - 1) * ringSz).as("dst"))
      val teeth = spark.range(core, n)
        .select(col("id").as("src"), pmod(col("id"), lit(core)).as("dst"))
      val teethDesc = cycD.unionByName(bridgeDown).unionByName(teeth)
      val szD = time(s"teeth_desc/scc n=$n") {
        graft.operators.Graph.stronglyConnectedComponents(
            teethDesc, "src", "dst")
          .groupBy("scc_id").agg(count(lit(1)).as("sz"))
          .groupBy("sz").agg(count(lit(1)).as("n_sccs"))
          .orderBy(col("sz")).collect()
      }
      szD.foreach(r => println(
        s"[graph-scale] teeth_desc scc_size=${r.get(0)} n=${r.get(1)} " +
          s"(expect ${n - core} singletons trimmed + 8 rings of $ringSz)"))
    }
    if (mode == "sp" || mode == "all") {
      val s = spark
      import s.implicits._
      val wexp = spark.range(0, n)
        .select(col("id").as("src"),
          explode(array((col("id") * 2) % n, (col("id") * 2 + 1) % n)).as("dst"))
        .withColumn("w", lit(1L) + pmod(col("src") + col("dst"), lit(5L)))
      val b = 64L
      val comb = spark.range(0, b - 1)
          .select(col("id").as("src"), (col("id") + 1).as("dst"), lit(10L).as("w"))
        .unionByName(spark.range(1, b)
          .select(lit(0L).as("src"), col("id").as("dst"),
            (col("id") * 10 + 5).as("w")))
        .unionByName(spark.range(b, n)
          .select(pmod(col("id"), lit(b)).as("src"), col("id").as("dst"),
            lit(1L).as("w")))
      for ((label, edges, srcId) <- Seq(("expander", wexp, 7L), ("comb", comb, 0L))) {
        val r = time(s"$label/sp n=$n") {
          graft.operators.Graph.shortestPaths(edges, "src", "dst",
              sources = Seq(srcId).toDF("node"), weightCol = "w",
              maxIter = 500)
            .agg(count(lit(1)), max(col("dist")), sum(col("dist"))).head()
        }
        println(s"[graph-scale] sp/$label n=$n " +
          s"reached=${r.getLong(0)} max_dist=${r.getLong(1)} " +
          s"sum_dist=${r.getLong(2)}")
      }
    }
    spark.stop()
  }
}
