package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.functions.{MinHash, SimHash}
import graft.ops.Merge

/** Physical-plan regression guards: the properties that make the engine
  * scale are asserted, not just documented. */
class PlanSpec extends AnyFunSuite with Matchers with SparkSpec {

  import org.apache.spark.sql.functions._

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("broadcast upsert never sort-merge-joins the target") {
    val s = spark
    import s.implicits._
    val target = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val delta = Seq((1L, "new"), (2000L, "ins")).toDF("k", "v")
    val plan = executedPlan(Merge.upsert(target, delta, Seq("k")))
    plan should not include "SortMergeJoin"
    plan should include("BroadcastHashJoin")
  }

  test("full-outer fallback is used when broadcastSource=false") {
    val s = spark
    import s.implicits._
    val target = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val delta = (1 to 100).map(i => (i.toLong, s"w$i")).toDF("k", "v")
    val plan = executedPlan(
      Merge.upsert(target, delta, Seq("k"), broadcastSource = false))
    plan should include("FullOuter")
  }

  test("SCD2 merge broadcasts the CDC side, never the history") {
    val s = spark
    import s.implicits._
    val staging = (1 to 1000).map(i => (i.toLong, s"C$i", s"N$i", s"S${i % 10}",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        null.asInstanceOf[java.sql.Timestamp], "Y"))
      .toDF("supplier_key", "supplier_code", "supplier_name", "supplier_state",
        "start_date", "end_date", "current_flag")
    val cdc = Seq((1L, "C1", "N1", "S0", "DELETE", true))
      .toDF("supplier_key", "supplier_code", "supplier_name", "supplier_state",
        "_action", "_is_update")
    for (faithful <- Seq(true, false)) {
      val plan = executedPlan(graft.ops.Scd2.merge(staging, cdc,
        java.sql.Timestamp.valueOf("2024-02-01 00:00:00"),
        Seq("supplier_code", "supplier_state"), faithful = faithful))
      withClue(s"faithful=$faithful") {
        plan should not include "SortMergeJoin"
        plan should include("BroadcastHashJoin")
        // no shuffle at all: the close keys need no distinct
        plan should not include "Exchange hashpartitioning"
        plan should not include "HashAggregate"
      }
    }
  }

  test("the cycle's staging task scans staging once, under a broadcast semi-join against the batch's keys") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    object Plans extends AdaptiveSparkPlanHelper

    val store = new graft.core.TableStore(tmpDir("stg-store"), spark)
    val stage = new graft.sources.Stage(tmpDir("stg-stage"))
    val pipeline = new graft.pipeline.ScdPipeline(spark, store)
    // 40 suppliers, then one state change: one tombstone, so the cycle's
    // upkeep stays idle and every plan over staging is the merge's own
    stage.putContent("b1.csv",
      (1 to 40).map(i => f"$i,A$i%03d,N$i,S${i % 5}").mkString("\n"))
    pipeline.runCycle(stage, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))

    val ran = scala.collection.mutable.ArrayBuffer[(String, SparkPlan)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        ran.synchronized(ran += f -> qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // every broadcast over staging must be the merge's own hint
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.listenerManager.register(listener)
    val before = store.manifest("supplier_staging")
    try {
      stage.putContent("b2.csv", "2,A002,N2,S9")
      pipeline.runCycle(stage, java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
    store.committedVersions("supplier_staging").takeRight(2).head shouldBe before

    def scansStaging(p: SparkPlan): Boolean = p match {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains("/supplier_staging/"))
      case _ => false
    }
    def semiJoinsStaging(p: SparkPlan): Boolean = p match {
      case j: BroadcastHashJoinExec =>
        j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi &&
          Plans.find(j.left)(scansStaging).isDefined
      case _ => false
    }
    // one plan reads staging — the touched slice's checkpoint — and it
    // scans staging once, streamed through the semi-join
    val overStaging = ran.toSeq.filter { case (_, p) => Plans.find(p)(scansStaging).isDefined }
    overStaging.map(_._1) shouldBe Seq("localCheckpoint")
    val touched = overStaging.head._2
    Plans.collect(touched) { case f if scansStaging(f) => f }.size shouldBe 1
    Plans.find(touched)(semiJoinsStaging) shouldBe defined
    Plans.collect(touched) { case j: SortMergeJoinExec => j } shouldBe empty
    Plans.collect(touched) {
      case e: ShuffleExchangeExec if Plans.find(e)(scansStaging).isDefined => e
    } shouldBe empty
    Plans.collect(touched) {
      case e: BroadcastExchangeExec if Plans.find(e)(scansStaging).isDefined => e
    }.foreach(e => Plans.find(e)(semiJoinsStaging) shouldBe defined)

    pipeline.staging.count() shouldBe 41 // 40 opened + A002's new version
    pipeline.master.count() shouldBe 40
  }

  test("over a DV'd staging base, the cycle's staging task scans staging's data once and never its deletion vector") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    object Plans extends AdaptiveSparkPlanHelper

    val store = new graft.core.TableStore(tmpDir("stg-dv-store"), spark)
    val stage = new graft.sources.Stage(tmpDir("stg-dv-stage"))
    val pipeline = new graft.pipeline.ScdPipeline(spark, store)
    // 40 suppliers, then one state change: staging's base carries a
    // one-tombstone DV, below the upkeep's purge share
    stage.putContent("b1.csv",
      (1 to 40).map(i => f"$i,A$i%03d,N$i,S${i % 5}").mkString("\n"))
    pipeline.runCycle(stage, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    stage.putContent("b2.csv", "2,A002,N2,S9")
    pipeline.runCycle(stage, java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    graft.core.DeleteVectors.exists(store.currentPath("supplier_staging").get) shouldBe true

    val ran = scala.collection.mutable.ArrayBuffer[(String, SparkPlan)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        ran.synchronized(ran += f -> qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      stage.putContent("b3.csv", "3,A003,N3,S9")
      pipeline.runCycle(stage, java.sql.Timestamp.valueOf("2024-03-01 00:00:00"))
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)

    def scans(p: SparkPlan, part: String): Boolean = p match {
      case f: FileSourceScanExec => f.relation.location.rootPaths.exists(_.toString.contains(part))
      case _ => false
    }
    def scansStagingData(p: SparkPlan): Boolean =
      scans(p, "/supplier_staging/") && !scans(p, graft.core.DeleteVectors.DvDir)
    // the touched slice's checkpoint is the one plan over staging's data
    val overStaging = ran.toSeq.filter { case (_, p) => Plans.find(p)(scansStagingData).isDefined }
    overStaging.map(_._1) shouldBe Seq("localCheckpoint")
    Plans.collect(overStaging.head._2) { case f if scansStagingData(f) => f }.size shouldBe 1
    // no plan of the cycle scans a deletion vector: it is loaded and
    // written on the driver
    ran.toSeq.filter { case (_, p) =>
      Plans.find(p)(scans(_, graft.core.DeleteVectors.DvDir)).isDefined } shouldBe empty

    pipeline.staging.count() shouldBe 42 // 40 opened + two new versions
    pipeline.master.count() shouldBe 40
  }

  test("AQE skew-join splits a skewed shuffle join at runtime") {
    // complements graft.operators.Salt: salting is the PLANNED answer for
    // known-hot keys (deterministic, engine-independent); AQE skew-join is
    // the RUNTIME net for skew nobody predicted. This pins that the net is
    // actually armed in our config: with thresholds scaled down to test
    // volume, a 200k-row hot key must make AQE re-plan the sort-merge
    // join with skew=true (split hot partition + replicated other side).
    val conf = spark.conf
    val prev = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      .map(k => k -> conf.getOption(k)).toMap
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    try {
      // key 0 carries 200k rows; keys 1..3 carry 100 each → the hot
      // shuffle partition is >>factor×median and >threshold. The join must
      // be the TOP shuffle consumer: AQE declines to split when another
      // shuffle sits above the join (the split breaks the hash-partition
      // guarantee the parent would need), which is exactly why Salt stays
      // the answer for skewed AGGREGATION paths while AQE nets bare joins
      val left = spark.range(200300).select(
        when(col("id") < 200000, lit(0L)).otherwise(col("id") % 3 + 1).as("k"),
        concat(lit("payload-"), col("id")).as("pl"))
      val right = spark.range(4).select(col("id").as("k"), lit("r").as("rv"))
      val j = left.join(right, "k")
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      plan should include("isFinalPlan=true")
      plan should include("skew=true")
    } finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("dynamic partition pruning injects the dim filter into the fact scan") {
    // the 100 TB star-join story: when the fact table is laid out
    // partitioned by the join key (TableStore's partitioned layouts, or
    // any date/tenant-partitioned lake table), a selective dimension
    // filter must prune fact PARTITIONS at runtime — reading 1/10 of the
    // files instead of filtering 10/10 after the scan. Spark's DPP does
    // this by planting a dynamicpruningexpression subquery (reusing the
    // dim broadcast) into the scan's PartitionFilters; this pins that our
    // session config actually arms it on a plain parquet star join.
    val s = spark
    import s.implicits._
    val dir = tmpDir("dpp")
    (1 to 200000).map(i => (i.toLong, i % 50)).toDF("v", "pk")
      .write.partitionBy("pk").parquet(s"$dir/fact")
    (0 until 50).map(i => (i, s"g${i % 10}")).toDF("pk", "grp")
      .write.parquet(s"$dir/dim")
    val fact = spark.read.parquet(s"$dir/fact")
    val dim = spark.read.parquet(s"$dir/dim")
    val q = fact.join(dim.filter(col("grp") === "g0"), "pk")
      .groupBy("grp").agg(sum("v"))
    val plan = executedPlan(q)
    plan should include("dynamicpruningexpression")
    // and the pruning filter sits ON the fact scan's partition filters,
    // not as a post-scan Filter node
    plan.split("\n").filter(_.contains("dynamicpruningexpression"))
      .exists(_.contains("PartitionFilters")) shouldBe true
  }

  test("runtime bloom filter prunes the probe side of a shuffle join") {
    // the complement of DPP for UNPARTITIONED join keys: when the fact
    // side is too big to broadcast and not laid out by the join key, a
    // bloom filter built from the (filtered) dim side is pushed into the
    // fact scan, dropping non-matching rows before the shuffle instead of
    // after it. At 100 TB this turns a full-fact shuffle into a
    // shuffle of the ~matching slice. Thresholds are scaled down to test
    // volume (the application-side floor is 10 GB in production).
    val conf = spark.conf
    val prev = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      val s = spark
      import s.implicits._
      val dir = tmpDir("bloom")
      (1 to 200000).map(i => (i.toLong, s"p$i")).toDF("k", "payload")
        .write.parquet(s"$dir/big")
      (1 to 5000).map(i => (i.toLong * 40, i % 7)).toDF("k", "tag")
        .write.parquet(s"$dir/small")
      val big = spark.read.parquet(s"$dir/big")
      val small = spark.read.parquet(s"$dir/small").filter(col("tag") === 3)
      val j = big.join(small, "k")
      val plan = executedPlan(j)
      // the injected filter renders as might_contain(subquery…, xxhash64(k))
      // sitting on the probe side BELOW its shuffle exchange
      plan.toLowerCase should include("might_contain")
      // correctness unchanged by the filter (bloom is pass-through-safe)
      j.count() shouldBe big.join(small.hint("broadcast"), "k").count()
    } finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("parquet filter pushdown and column pruning reach the scan") {
    val df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey", "c_name")
    val plan = executedPlan(df)
    plan should include("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)]")
    plan should include("ReadSchema: struct<c_custkey:bigint,c_name:string")
  }

  test("custom expressions run inside whole-stage codegen") {
    // a file source, not a LocalTableScan — local relations skip codegen
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(SimHash.simhash64(split(col("text"), " ")).as("sh"),
        MinHash.signatureFromTokens(split(col("text"), " ")).as("sig"))
    // the codegen-formatted plan places the project inside a WSCG stage
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.CodegenMode)
    formatted should include("WholeStageCodegen")
    // and the generated code calls the static kernels (no interpreted path)
    formatted should include("graft.functions.SimHashImpl.compute")
    formatted should include("graft.functions.MinHashImpl.computeFromTokens")

    // the winnow deque kernel too (round 8): selection stays in WSCG
    val win = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(graft.functions.WinnowSelect.select(
        MinHash.shingleHashes(split(col("text"), " ")), 4).as("sel"))
    val wGen = win.queryExecution.explainString(
      org.apache.spark.sql.execution.CodegenMode)
    wGen should include("WholeStageCodegen")
    wGen should include("graft.functions.WinnowImpl.select")
  }

  test("round-2 kernels (text stats, lang id, cosine, nearest-center) stay codegen'd") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(graft.functions.TextKernels.textStats(col("text")).as("st"),
        graft.functions.TextKernels.langId(col("text")).as("lang"))
    val dGen = docs.queryExecution.explainString(
      org.apache.spark.sql.execution.CodegenMode)
    dGen should include("WholeStageCodegen")
    dGen should include("graft.functions.TextKernelImpl.stats")
    dGen should include("graft.functions.TextKernelImpl.langId")

    val q = Seq.fill(64)(0.1f)
    val centers = Array.fill(4)(Array.fill(64)(0.0))
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(
        graft.functions.VectorFunctions.cosineFused(col("embedding"),
          graft.functions.VectorFunctions.vectorLit(q)).as("cos"),
        graft.functions.VectorFunctions.nearestCenter(col("embedding"), centers).as("cell"))
    val vGen = vecs.queryExecution.explainString(
      org.apache.spark.sql.execution.CodegenMode)
    vGen should include("WholeStageCodegen")
    vGen should include("graft.functions.VectorKernelImpl.cosineF")
    vGen should include("graft.functions.VectorKernelImpl.nearest")

    // the fused integer dot (quantized-ANN inner loop) stays codegen'd
    val qd = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(graft.functions.VectorFunctions.quantize(col("embedding"),
        graft.functions.VectorFunctions.quantScale(col("embedding"))).as("q"))
      .select(graft.functions.VectorFunctions.dotInt(col("q"), col("q")).as("nq"))
    val qGen = qd.queryExecution.explainString(
      org.apache.spark.sql.execution.CodegenMode)
    qGen should include("WholeStageCodegen")
    qGen should include("graft.functions.VectorKernelImpl.dotIntegral")
  }

  test("bucketized ANN storage prunes partitions on probe") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("ann-store")
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    graft.operators.Similarity.bucketize(e, numPlanes = 4)
      .write.partitionBy("bucket").parquet(s"$dir/embeddings")

    val probed = spark.read.parquet(s"$dir/embeddings").filter(col("bucket") === 3)
    val plan = executedPlan(probed)
    plan should include("PartitionFilters: [isnotnull(bucket")
    // only the probed cell's files are read (partition values come back
    // inference-typed, hence the string compare)
    probed.select("bucket").distinct().collect()
      .map(_.get(0).toString).toSeq shouldBe Seq("3")
  }

  test("stored multi-table LSH index probes with partition pruning, same results as the scan") {
    val dir = tmpDir("lsh-index")
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0)

    graft.operators.Similarity.writeLshIndex(e, dir)
    val indexed = graft.operators.Similarity.lshTopKIndexed(
      spark, dir, q, k = 20, probeHamming = 2)

    // the probe is ONE read of the index root: the per-table Hamming
    // disjunction references only partition columns (table, bucket), so
    // the whole predicate is classified as a PartitionFilter
    // (planning-time pruning), with NO row-level filter left over
    val plan = executedPlan(indexed)
    plan should include("PartitionFilters: [((((")
    plan should include("bit_count")
    plan should include("DataFilters: []")
    // and the scan's numFiles metric confirms only probed partitions read
    import org.apache.spark.sql.execution.FileSourceScanExec
    val probe = spark.read.parquet(s"$dir/table=0")
      .filter(bit_count(col("bucket").cast("long")) <= 2)
    probe.collect()
    val probedFiles = probe.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f }.head.metrics("numFiles").value
    val all = spark.read.parquet(s"$dir/table=0")
    all.collect()
    val allFiles = all.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f }.head.metrics("numFiles").value
    probedFiles should be < allFiles

    // identical result set to the single-scan OR-filter variant
    val scan = graft.operators.Similarity.lshTopK(e, q, k = 20, probeHamming = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    indexed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe scan
  }

  test("portable-plane stored LSH index probes with partition pruning, same results as a scan") {
    val dir = tmpDir("lsh-pindex")
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0)

    graft.operators.Similarity.writeLshIndexPortable(e, dir)
    val indexed = graft.operators.Similarity.lshTopKIndexedPortable(
      spark, dir, q, k = 20, probeHamming = 2)

    // the Hamming predicate is substring comparisons on the 'b'-prefixed
    // bitstring partition column — entirely a PartitionFilter (pruned at
    // planning time), no row-level filter left over
    val plan = executedPlan(indexed)
    plan should include("PartitionFilters: [(((")
    plan should include("substring(bucket")
    plan should include("DataFilters: []")
    // numFiles metric confirms only the ≤ham2 partitions are read
    import org.apache.spark.sql.execution.FileSourceScanExec
    val planes = graft.functions.VectorFunctions.portablePlanes(8, 64)
    val qBits = graft.functions.VectorFunctions.portableBucketBitsLocal(q, planes)
    val ham = (0 until 8).map { p =>
      when(substring(col("bucket"), p + 2, 1) === lit(qBits.substring(p, p + 1)),
        lit(0)).otherwise(lit(1))
    }.reduce(_ + _)
    val probe = spark.read.parquet(dir).filter(ham <= 2)
    probe.collect()
    val probedFiles = probe.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f }.head.metrics("numFiles").value
    val all = spark.read.parquet(dir)
    all.collect()
    val allFiles = all.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f }.head.metrics("numFiles").value
    probedFiles should be < allFiles

    // identical result to computing the same Hamming filter + top-k over
    // the raw corpus (no index) — the scan-form witness
    val scan = e
      .withColumn("bits",
        graft.functions.VectorFunctions.portableBucketBits(col("embedding"), planes))
      .filter((0 until 8).map { p =>
        when(substring(col("bits"), p + 1, 1) === lit(qBits.substring(p, p + 1)),
          lit(0)).otherwise(lit(1))
      }.reduce(_ + _) <= 2)
      .select(col("vec_id"),
        round(graft.functions.VectorFunctions.cosineFused(col("embedding"),
          graft.functions.VectorFunctions.vectorLit(q)), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    indexed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe scan
  }

  test("stored IVF index probes with partition pruning, same results as in-memory") {
    val dir = tmpDir("ivf-index")
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0)
    val idx = graft.operators.Similarity.ivfFit(e, numCells = 8,
      fitSampleFraction = 0.5)
    idx.write(e, dir)

    val stored = idx.topKStored(spark, dir, q, k = 20, nProbes = 3)
    val plan = executedPlan(stored)
    plan should include("PartitionFilters: [cell")
    plan should include("DataFilters: []")

    val inMem = idx.topK(e, q, k = 20, nProbes = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    stored.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe inMem

    // incremental append with frozen centers ≡ a full rebuild: build on
    // half the corpus, append the rest, probe — identical rows, and the
    // probe is still partition-pruned over the appended layout
    val dir2 = tmpDir("ivf-append")
    val mid = e.agg(max("vec_id")).head().getLong(0) / 2
    idx.write(e.filter(col("vec_id") <= mid), dir2)
    idx.append(e.filter(col("vec_id") > mid), dir2)
    val appended = idx.topKStored(spark, dir2, q, k = 20, nProbes = 3)
    executedPlan(appended) should include("PartitionFilters: [cell")
    appended.collect().map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq shouldBe inMem
  }

  test("SnapshotCdc.diff of two bucketed store versions is exchange-free") {
    val s = spark
    import s.implicits._
    val store = new graft.core.TableStore(tmpDir("buck-store"), spark)
    def snapshot(rows: (Long, String, String, String)*) = store.stageBucketed("snap",
      rows.toDF("supplier_key", "supplier_code", "supplier_name", "supplier_state"),
      Seq("supplier_code"), 8)
    val v1 = snapshot((1L, "A101", "One", "S1"), (2L, "A102", "Two", "S2"),
      (3L, "A103", "Three", "S3"))
    val v2 = snapshot((1L, "A101", "One", "S1"), (2L, "A102", "Two", "S9"),
      (3L, "A103", "Three", "S3"), (4L, "A104", "Four", "S4"))
    store.commit(Map("snap" -> v2))
    def at(v: String) = store.readVersion("snap", v, graft.core.Schemas.landing)

    // the diff of two equally-bucketed versions plans with NO shuffle on
    // either side: both scans report HashPartitioning(business key, 8), so
    // the full-outer sort-merge join needs no Exchange. Auto-broadcast is
    // disabled for the assertion: at test row counts Spark would prefer a
    // broadcast join, which hides the co-partitioned path that matters at
    // scale (a 100 TB snapshot is never broadcastable).
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val diff = graft.ops.SnapshotCdc.diff(at(v1), at(v2), Seq("supplier_code"))
      val plan = executedPlan(diff)
      plan should not include "Exchange"
      plan should include("SortMergeJoin")
      plan should include("SelectedBucketsCount")
      diff.count() shouldBe 3 // the A102 update pair + the A104 insert
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("the cycle's CDC scans landing once, through a broadcast join against the raw batch") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    import scala.jdk.CollectionConverters._
    object Plans extends AdaptiveSparkPlanHelper

    val root = tmpDir("cdc-store")
    val store = new graft.core.TableStore(root, spark)
    val stage = new graft.sources.Stage(tmpDir("cdc-stage"))
    val pipeline = new graft.pipeline.ScdPipeline(spark, store)
    stage.putContent("b1.csv",
      "1,A101,One,S1\n2,A102,Two,S2\n3,A103,Three,S3")
    pipeline.runCycle(stage, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))

    val ran = scala.collection.mutable.ArrayBuffer[(String, SparkPlan)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        ran.synchronized(ran += f -> qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // every broadcast the cycle makes over landing must be its own hint:
    // with auto-broadcast off, an unhinted join would sort-merge
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.listenerManager.register(listener)
    try {
      stage.putContent("b2.csv", "2,A102,Two,S9\n4,A104,Four,S4")
      pipeline.runCycle(stage, java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }

    def scansLanding(p: SparkPlan): Boolean = p match {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains("/supplier_landing/"))
      case _ => false
    }
    val overLanding = ran.toSeq.filter { case (_, p) => Plans.find(p)(scansLanding).isDefined }
    // a scan of a version directory reads the whole version; the upkeep's
    // purge reads only the files the deletion vector names
    def readsWholeVersion(p: SparkPlan): Boolean = Plans.collect(p) {
      case f: FileSourceScanExec if scansLanding(f) => f.relation.location.rootPaths
    }.flatten.exists(!_.getName.endsWith(".parquet"))
    val (merge, purge) = overLanding.partition { case (_, p) => readsWholeVersion(p) }
    // one plan reads landing for the merge: the touched slice's checkpoint,
    // which the CDC reads. Landing's write appends the INSERT images and
    // reads no landing file; the staging merge and the bookkeeping never
    // do. This batch tombstones one of landing's three rows, past the
    // upkeep's tombstone share, so the cycle also purges the DV'd file.
    merge.map(_._1) shouldBe Seq("localCheckpoint")
    purge.map(_._1) shouldBe Seq("command")
    val cdcPlan = merge.head._2
    Plans.collect(cdcPlan) { case f if scansLanding(f) => f }.size shouldBe 1
    // landing streams through a broadcast semi-join against the batch's keys
    def semiJoinsLanding(p: SparkPlan): Boolean = p match {
      case j: BroadcastHashJoinExec =>
        j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi &&
          Plans.find(j.left)(scansLanding).isDefined
      case _ => false
    }
    Plans.find(cdcPlan)(semiJoinsLanding) shouldBe defined
    overLanding.foreach { case (f, p) =>
      withClue(s"$f: $p") {
        Plans.collect(p) { case j: SortMergeJoinExec => j } shouldBe empty
        Plans.collect(p) { case e: ShuffleExchangeExec if Plans.find(e)(scansLanding).isDefined => e } shouldBe empty
        // the one broadcast over landing carries only its rows whose key
        // the batch sends: the semi-join cuts landing before the exchange
        Plans.collect(p) { case e: BroadcastExchangeExec if Plans.find(e)(scansLanding).isDefined => e }
          .foreach(e => Plans.find(e)(semiJoinsLanding) shouldBe defined)
      }
    }

    // landing is written plain: no bucket spec in any of its versions
    val landingDir = java.nio.file.Paths.get(root, graft.pipeline.ScdPipeline.Landing)
    val walk = java.nio.file.Files.walk(landingDir)
    try walk.iterator().asScala.map(_.getFileName.toString).toSeq should not contain "_graft_buckets"
    finally walk.close()

    pipeline.staging.count() shouldBe 5 // 4 current + 1 closed
    pipeline.master.count() shouldBe 4
  }

  test("bucketed dimension + delta layouts make the MERGE upsert " +
      "exchange-free and match the plain-layout result") {
    val s = spark
    import s.implicits._
    val store = new graft.core.TableStore(tmpDir("ups-store"), spark)
    // dimension + delta covering update / insert / unchanged rows
    val b1 = (1L to 500L).map(i => (i, i * 1.0, i * 2.0, "A"))
      .toDF("dim_id", "qty", "price", "flag")
    val b2 = (1L to 500L).filter(_ % 3 == 0)
      .map(i => (i, i * 1.0 + 1, i * 2.0, "A"))
      .toDF("dim_id", "qty", "price", "flag")
      .unionByName(Seq((9001L, 1.0, 2.0, "X"), (9002L, 3.0, 4.0, "X"))
        .toDF("dim_id", "qty", "price", "flag"))
    store.commit(Map(
      "dim_base" -> store.stageBucketed("dim_base", b1, Seq("dim_id"), 8),
      "dim_delta" -> store.stageBucketed("dim_delta", b2, Seq("dim_id"), 8)))
    val schema = b1.schema
    val merged = Merge.upsert(
      store.readOrEmpty("dim_base", schema),
      store.readOrEmpty("dim_delta", schema),
      Seq("dim_id"), broadcastSource = false)
    // both scans report HashPartitioning(dim_id, 8): the full-outer
    // merge join needs no Exchange on either side — the J1 upsert's
    // whole cost at 100 TB is otherwise a two-sided dimension shuffle
    // per cycle (a full-outer join can't broadcast, so no threshold
    // games are needed for this assertion)
    val plan = executedPlan(merged)
    plan should not include "Exchange"
    plan should include("SortMergeJoin")
    plan should include("SelectedBucketsCount")
    // layout is physical only: result identical to the plain merge
    val expected = Merge.upsert(b1, b2, Seq("dim_id"),
        broadcastSource = false)
      .orderBy("dim_id").collect()
    merged.orderBy("dim_id").collect() shouldBe expected
  }

  test("the stored upsert layout self-perpetuates: the merged output " +
      "re-staged bucketed feeds the NEXT cycle's merge exchange-free") {
    val s = spark
    import s.implicits._
    val store = new graft.core.TableStore(tmpDir("ups-cycle"), spark)
    def delta(ids: Seq[Long], tag: String) =
      ids.map(i => (i, i * 1.0 + 1, i * 2.0, tag))
        .toDF("dim_id", "qty", "price", "flag")
    val b1 = (1L to 400L).map(i => (i, i * 1.0, i * 2.0, "A"))
      .toDF("dim_id", "qty", "price", "flag")
    store.commit(Map(
      "dim" -> store.stageBucketed("dim", b1, Seq("dim_id"), 8),
      "d1" -> store.stageBucketed("d1", delta(200L to 600L by 2, "B"),
        Seq("dim_id"), 8)))
    val schema = b1.schema
    val merged1 = Merge.upsert(store.readOrEmpty("dim", schema),
      store.readOrEmpty("d1", schema), Seq("dim_id"),
      broadcastSource = false)
    // cycle boundary: the merged output becomes the next dimension
    // version with the SAME bucketed layout — the one shuffle a cycle
    // pays is this write, once, instead of two per downstream merge
    store.commit(Map(
      "dim" -> store.stageBucketed("dim", merged1, Seq("dim_id"), 8),
      "d2" -> store.stageBucketed("d2", delta(1L to 100L by 3, "C"),
        Seq("dim_id"), 8)))
    val merged2 = Merge.upsert(store.readOrEmpty("dim", schema),
      store.readOrEmpty("d2", schema), Seq("dim_id"),
      broadcastSource = false)
    val plan = executedPlan(merged2)
    plan should not include "Exchange"
    plan should include("SortMergeJoin")
    // and the two-cycle result equals the plain-layout double merge
    val expected = Merge.upsert(
        Merge.upsert(b1, delta(200L to 600L by 2, "B"), Seq("dim_id"),
          broadcastSource = false),
        delta(1L to 100L by 3, "C"), Seq("dim_id"), broadcastSource = false)
      .orderBy("dim_id").collect()
    merged2.orderBy("dim_id").collect() shouldBe expected
  }

  test("dsirSelect plans a distributed ranked take and broadcasts the " +
      "weight model — never a global sort of the corpus") {
    val s = spark
    import s.implicits._
    // the pin targets the estimate-and-rank stage directly (dsirSelect
    // scope-caches the token relation, and the trailing checkpoint
    // hides the composed plan), on the same exploded feature shape
    val toks = (1 to 400).flatMap(i => Seq(
        (i.toLong, i % 4 == 0, s"tok${i % 17}"),
        (i.toLong, i % 4 == 0, s"tok${i % 5}")))
      .toDF("id", "__t", "term")
    val plan = executedPlan(
      graft.operators.Curation.dsirRanked(toks, n = 10))
    // the top-n compiles to per-partition heads + one n-sized merge,
    // and the vocab-sized weight relation rides a broadcast join
    plan should include("TakeOrderedAndProject")
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("rakeKeywords broadcasts the word-score table; the top-k phrases " +
      "are a ranked take, not a global sort") {
    val s = spark
    import s.implicits._
    // the pin targets the score-and-rank stage directly (the scope
    // cache's trailing checkpoint hides the full operator's plan), on
    // the same member-relation shape the operator feeds it
    val member = (1 to 200).map(i =>
        (i.toLong, i.toLong % 5, i.toLong, s"tok${i % 23}", 3L))
      .toDF("id", "grp", "pos", "tok", "plen")
    val plan = executedPlan(graft.operators.Keywords.rakeRanked(member, 10))
    plan should include("TakeOrderedAndProject")
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("ohlc resampling is one exchange on the output key; gapFill " +
      "broadcasts the span and never shuffles row-wise beyond the series " +
      "window") {
    val s = spark
    import s.implicits._
    val ev = (1 to 500).map(i =>
        (i.toLong, (i * 37 % 1000).toLong, s"t${i % 3}", i / 7.0))
      .toDF("event_id", "ts", "grp", "v")
    val r = graft.operators.Resample.ohlc(ev, "ts", "grp", "v", "event_id", 100L)
    val plan = executedPlan(r)
    // both endpoint windows and the aggregate share the (grp, bucket)
    // partitioning — exactly one row-wise exchange (plus nothing else)
    "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 1
    // the pin targets the densify stage directly (gapFill scope-caches
    // its input, and the trailing checkpoint hides the composed plan)
    val gp = executedPlan(graft.operators.Resample.gapFillDense(
      r.localCheckpoint(true), "grp", "bucket", Seq("close")))
    gp should include("BroadcastNestedLoopJoin") // groups × 1-row span
    gp should not include "SortMergeJoin"
  }

  test("keep-one minhash plans min-link candidates: one window, no pair " +
      "explosion") {
    // the linear-volume contract structurally: the keep-one dedup plan
    // carries the bucket-min window and NONE of the all-pairs machinery
    // (posexplode suffix expansion / collect_list bucket arrays) — a
    // regression that reintroduces in-bucket pair enumeration into the
    // scale-default path fails here before any soak can measure it
    // the dedup pipelines checkpoint their stages (withProjectionCache),
    // so the pin targets the candidate relation itself, on the same
    // (band, id) blocking shape the pipeline feeds it
    val s = spark
    import s.implicits._
    val blocked = (1 to 50).map(i => (i.toLong % 7, i.toLong))
      .toDF("band", "id")
    val linked = graft.operators.Dedup.minLinkPairs(blocked, "band", "id")
    val plan = executedPlan(linked)
    plan should include("Window")
    plan should not include "posexplode"
    plan should not include "collect_list"
    // the exact pair-reporting path keeps its all-pairs machinery
    val pairs = executedPlan(
      graft.operators.Dedup.candidatePairs(blocked, "band", "id"))
    pairs should include("posexplode")
    // and min-link emits exactly (bucket size - 1) pairs per bucket
    linked.count() shouldBe (50 - 7)
  }

  test("a connected-components star round is two windows over the edge " +
      "relation — no join, no adjacency materialization") {
    // the O(|E|)-per-round contract structurally: star contraction
    // plans as window aggregations (shuffle on one endpoint, hot-node
    // neighborhoods stream through the window's spill-safe container),
    // never a self-join on the edge list and never a collect_list
    // adjacency array — the two shapes that break CC at 100 TB (pair
    // amplification resp. one unbounded row per hub node)
    val s = spark
    import s.implicits._
    val edges = (1L to 50L).map(i => (i, i % 17 + 100L)).toDF("u", "v")
    val plan = executedPlan(graft.operators.Graph.starRound(edges))
    "Window".r.findAllIn(plan).size should be >= 2
    plan should not include "Join"
    plan should not include "collect_list"
    plan should not include "CartesianProduct"
    // and the converged operator assigns every node its component min
    // with the star forest joined back once (broadcast at this size)
    val comp = graft.operators.Graph.connectedComponents(
      edges, "u", "v", maxIter = 10)
    comp.filter(col("component") > col("node")).count() shouldBe 0L
  }

  test("incremental dedup against a bucketed fingerprint store shuffles only the batch") {
    // the O(increment) daily-dedup story: the corpus fingerprint store is
    // laid out bucketed on fp, so the anti-join reads it partition-aware —
    // the ONLY exchanges in the plan belong to the (small) batch side.
    // Asserted relatively: same query against a plain-parquet store plans
    // exactly one more hash exchange (the corpus-side shuffle we avoided),
    // and the bucketed plan's scan advertises its bucket pruning.
    val s = spark
    import s.implicits._
    val store = new graft.core.TableStore(tmpDir("fps-store"), spark)
    val fps = (1 to 1000).map(i => f"fp$i%04d").toDF("fp")
    val vBucketed = store.stageBucketed("seen_fps", fps, Seq("fp"), 8)
    val vPlain = store.stage("seen_plain", fps)
    val batch = Seq((1L, "new text one"), (2L, "new text two"), (2L, "new text two"))
      .toDF("doc_id", "text")
    def nExchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange hashpartitioning".r.findAllIn(executedPlan(df)).size
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bucketed = graft.operators.Dedup.incrementalExact(
        batch, store.readVersion("seen_fps", vBucketed, fps.schema))
      val plain = graft.operators.Dedup.incrementalExact(
        batch, store.readVersion("seen_plain", vPlain, fps.schema))
      executedPlan(bucketed) should include("SelectedBucketsCount")
      nExchanges(bucketed) shouldBe (nExchanges(plain) - 1)
      // and the semantics are unaffected by the layout
      bucketed.select("doc_id").collect().map(_.getLong(0)).sorted shouldBe
        plain.select("doc_id").collect().map(_.getLong(0)).sorted
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("incremental winnow judge against a bucketed fingerprint store " +
      "shuffles only the batch side of the evidence join") {
    // same O(increment) story as incremental exact dedup: the seen
    // corpus's (id, h) fingerprint relation is stored bucketed on h, so
    // the shared-fingerprint evidence join reads it partition-aware —
    // one fewer hash exchange than the plain-parquet layout, identical
    // pairs either way
    val s = spark
    import s.implicits._
    val store = new graft.core.TableStore(tmpDir("winfps-store"), spark)
    val seenDocs = (100L to 200L)
      .map(i => (i, s"seen document body number $i with shared prose"))
      .toDF("doc_id", "text")
    val seenFps = graft.operators.Winnow
      .fingerprints(seenDocs, "doc_id", "text")
      .select(col("id"), col("h")).distinct()
    val vB = store.stageBucketed("win_fps", seenFps, Seq("h"), 8)
    val vP = store.stage("win_plain", seenFps)
    val batch = Seq((1L, "seen document body number 150 with shared prose"),
      (2L, "completely unrelated fresh text"))
      .toDF("doc_id", "text")
    def nExchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange hashpartitioning".r.findAllIn(executedPlan(df)).size
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val schema = seenFps.schema
      val bucketed = graft.operators.Winnow.incrementalPairs(
        batch, "doc_id", "text", store.readVersion("win_fps", vB, schema),
        minShared = 5)
      val plain = graft.operators.Winnow.incrementalPairs(
        batch, "doc_id", "text", store.readVersion("win_plain", vP, schema),
        minShared = 5)
      executedPlan(bucketed) should include("SelectedBucketsCount")
      // the store has TWO consumers — the hot-fingerprint aggregate
      // (groupBy h) and the evidence join — and the bucketed layout
      // satisfies both distributions, so every store-side exchange
      // disappears (observed 3 vs 6 total: AQE additionally reuses the
      // co-partitioned side downstream, so the saving is at LEAST the
      // two store consumers; the count is asserted directionally
      // because the reuse depends on AQE's runtime choices)
      nExchanges(bucketed) should be <= (nExchanges(plain) - 2)
      val rows = bucketed.collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      rows shouldBe plain.collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      rows.map(_._1) should contain(1L) // the replayed doc is caught
      rows.map(_._1) should not contain 2L // fresh text is not
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("MV refresh plan reads the delta and the stored MV — never the landing table") {
    val store = new graft.core.TableStore(tmpDir("mvplan-store"), spark)
    val stage = new graft.sources.Stage(tmpDir("mvplan-stage"))
    val mv = graft.pipeline.MaterializedAggregate("by_state",
      keys = Seq("supplier_state"), measures = Seq("supplier_key"))
    val pipeline = new graft.pipeline.ScdPipeline(spark, store,
      config = graft.pipeline.ScdConfig.supplier.copy(aggregates = Seq(mv)))

    stage.putContent("b1.csv",
      "1,A101,One,S1\n2,A102,Two,S2\n3,A103,Three,S3")
    pipeline.runCycle(stage, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))

    // mirror the pipeline's refresh construction exactly: stored MV +
    // eagerly-materialized delta (the pipeline localCheckpoints the cycle
    // CDC before fanning it out to the SCD2 merge and each MV)
    val prev = pipeline.aggregate("by_state")
    val delta = spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(9L, "A109", "Nine", "S1", "INSERT", true)),
      org.apache.spark.sql.types.StructType(
        graft.core.Schemas.supplierBase.fields ++ Seq(
          org.apache.spark.sql.types.StructField(
            graft.core.Schemas.cdcActionCol,
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField(
            graft.core.Schemas.cdcIsUpdateCol,
            org.apache.spark.sql.types.BooleanType))))
      .localCheckpoint(true)
    val refresh = graft.ops.IncrementalAgg.applyCdc(
      prev, delta, mv.keys, mv.measures)

    // the only file scan in the refresh is the group-domain-sized MV
    // itself; the landing table (corpus-sized at 100 TB) appears nowhere.
    // The delta enters as the checkpointed RDD, not a re-derived diff.
    val plan = executedPlan(refresh)
    plan should include("supplier_mv_by_state")
    plan should not include "supplier_landing"
    plan should include("ExistingRDD")
  }

  test("late splice and Type 4 never shuffle the dimension; audit fuses to one scan") {
    val s = spark
    import s.implicits._
    def ts(d: String) = java.sql.Timestamp.valueOf(s"$d 00:00:00")
    // spliceLate: one BroadcastHashJoin LeftOuter of history × broadcast
    // late batch — no SortMergeJoin, no exchange of the history side
    val staging = (1 to 1000).map(i => (s"C$i", s"v$i", ts("2024-01-01"),
        null.asInstanceOf[java.sql.Timestamp], "Y"))
      .toDF("code", "v", "start_date", "end_date", "current_flag")
    val late = Seq(("C1", "fix", ts("2024-01-15"))).toDF("code", "v", "effective_ts")
    val splicePlan = executedPlan(
      graft.ops.Scd2.spliceLate(staging, late, Seq("code")))
    splicePlan should not include "SortMergeJoin"
    splicePlan should include regex "BroadcastHashJoin .*LeftOuter"
    // Scd4: the history append is a broadcast INNER join (delta-sized
    // output), the current rewrite the pinned broadcast upsert — neither
    // sort-merge-joins the dimension
    val cur = (1 to 1000).map(i => (i.toLong, s"C$i", s"n$i", s"s$i"))
      .toDF("supplier_key", "supplier_code", "supplier_name", "supplier_state")
    val delta = Seq((1L, "C1", "n1", "sX"))
      .toDF("supplier_key", "supplier_code", "supplier_name", "supplier_state")
    val (c1, h1) = graft.ops.Scd4(cur, delta, Seq("supplier_code"), ts("2024-02-01"))
    executedPlan(h1) should not include "SortMergeJoin"
    executedPlan(h1) should include regex "BroadcastHashJoin .*Inner"
    executedPlan(c1) should not include "SortMergeJoin"
    // quality audit: every fused-rule table scan feeds ONE aggregate
    // pair (partial+final) with no join anywhere in the single-table path
    val t = (1 to 1000).map(i => (i.toLong, i.toDouble)).toDF("id", "x")
    val auditPlan = executedPlan(graft.operators.Quality.audit(
      t, "t", Seq(graft.operators.Quality.notNull("id"),
        graft.operators.Quality.inRange("x", 0, 10))))
    auditPlan should not include "Join"
    auditPlan.sliding("HashAggregate".length).count(_ == "HashAggregate") shouldBe 2
  }

  test("tiered embedding dedup aggregates before any join; drift and stratified sample never sort-merge") {
    val s = spark
    import s.implicits._
    // tiered dedup: the exact-duplicate collapse must be an aggregate
    // UPSTREAM of the pairwise machinery, and the final survivor attach
    // a broadcast semi join — nothing sort-merges the corpus
    // final (post-AQE) plans: the rep aggregate makes every join input
    // tiny, so AQE must resolve them all to broadcasts — a surviving
    // sort-merge join would mean the corpus itself is being sorted
    def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
      df.collect() // materialize through the df's own QueryExecution —
      // a sink write would execute a fresh copy and leave this one static
      // AQE's toString prints the final plan then the pre-adaptive one;
      // assert only on what actually ran
      df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
    }
    val vecs = (1 to 2000).map(i =>
        (i.toLong, Array.tabulate(8)(j => ((i % 5) * 8 + j).toFloat / 40f)))
      .toDF("vec_id", "embedding")
    val tieredPlan = finalPlan(graft.operators.Dedup
      .embeddingPortableTiered(vecs, dim = 8, threshold = 0.999))
    tieredPlan should not include "SortMergeJoin"
    tieredPlan should include regex "BroadcastHashJoin .*LeftSemi"
    tieredPlan should include("HashAggregate")
    // drift: the only join is the DELIBERATE 1-row bounds broadcast
    // (a cross with a single-row side, not a data-sized nested loop)
    val ev = (0 until 1000).map(i =>
        (s"t${i % 3}", java.sql.Date.valueOf(f"2024-03-${1 + i % 9}%02d"),
          (i % 7) * 10.0))
      .toDF("g", "day", "v")
    val driftPlan = finalPlan(
      graft.operators.Drift.tvdByGroup(ev, "g", "day", "v", 10.0, 8))
    driftPlan should not include "SortMergeJoin"
    driftPlan.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") shouldBe 1
    // stratified sample: the quota table attaches by broadcast
    val docs = (1 to 2000).map(i => (i.toLong, s"g${i % 4}")).toDF("doc_id", "g")
    val stratPlan = finalPlan(
      graft.operators.Curation.sampleStratified(docs, Seq("g"), 100L, "doc_id"))
    stratPlan should not include "SortMergeJoin"
    stratPlan should include("BroadcastHashJoin")
  }

  test("as-of join plans as one key exchange and zero join operators") {
    val s = spark
    import s.implicits._
    val left = (1 to 500).map(i => (i.toLong % 20, i.toLong * 10, i.toLong))
      .toDF("k", "ts", "lid")
    val right = (1 to 800).map(i => (i.toLong % 20, i.toLong * 7, i * 1.5))
      .toDF("k", "rts", "v")
    val joined = graft.operators.AsofJoin.asofBackward(
      left, right, Seq("k"), "ts", "rts", Seq("v"), tieBreak = Seq("rts"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the union-sort trick: NO join operator of any kind — the as-of
    // semantics ride a single keyed running window over the union
    plan should not include "Join"
    plan should include("Window")
    // exactly one hash exchange (on the key); no other data movement
    plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning")) shouldBe 1
    // semantics spot-check: latest right at-or-before, else null
    val row = joined.filter($"lid" === 100).select($"right_v").head
    // left ts=1000, k=0; right rows with k=0 are i%20==0 → rts=7i ≤ 1000
    // latest is i=140 → rts=980, v=210.0
    row.getDouble(0) shouldBe 210.0
  }

  test("range join bin-blocking and the prefix-filtered jaccard join " +
      "never plan a nested-loop or cartesian") {
    val s = spark
    import s.implicits._
    // intervals wide enough that a naive range theta-join would be the
    // only plan without the bin equi key
    val intervals = (1 to 300).map(i => (i.toLong, i * 100L, i * 100L + 250L))
      .toDF("iid", "lo", "hi")
    val points = (1 to 2000).map(i => (i.toLong, i * 17L)).toDF("pid", "ts")
    val rj = graft.operators.RangeJoin.intervalPoint(
      intervals, points, "lo", "hi", "ts", binWidth = 100L)
    rj.collect()
    val rjPlan = rj.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    rjPlan should not include "BroadcastNestedLoopJoin"
    rjPlan should not include "CartesianProduct"
    // the same predicate WITHOUT bin blocking has no equi key: Spark can
    // only nested-loop it — the plan the operator exists to avoid
    val naive = intervals.join(points,
      col("ts") >= col("lo") && col("ts") <= col("hi"))
    naive.queryExecution.executedPlan.toString should
      include("BroadcastNestedLoopJoin")

    val docs = (1 to 200).map(i =>
      (i.toLong, (0 until 15).map(j => s"w${(i * 7 + j * 13) % 97}")
        .mkString(" "))).toDF("doc_id", "text")
    val jp = graft.operators.Dedup.jaccardPrefixPairs(docs)
    jp.collect()
    val jpPlan = jp.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // candidate generation (equi on prefix token) and verify (equi on
    // ids) — every join keyed, nothing quadratic in the plan
    jpPlan should not include "BroadcastNestedLoopJoin"
    jpPlan should not include "CartesianProduct"
  }

  test("sortedNeighborhoodPairs: global rank is range-partitioned (never a " +
      "corpus-wide single-partition window), candidates equi-join") {
    val s = spark
    import s.implicits._
    val df = (1 to 4000).map(i => (i.toLong, f"nm$i%05d")).toDF("id", "name")
    val out = graft.operators.Linkage.sortedNeighborhoodPairs(
      df, "id", "name", window = 4)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the rank comes from repartitionByRange + per-partition numbering +
    // a P-row offset join — the corpus itself must hit a RANGE exchange,
    // and the only unpartitioned Window may be the offsets' cumulative
    // sum over partition counts (P rows)
    plan should include("rangepartitioning")
    // candidate generation is an equi join on rank, verify an equi join
    // on ids — nothing quadratic anywhere
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("madOutliers broadcasts both fence relations; the data side " +
      "shuffles only for its per-group windows") {
    val s = spark
    import s.implicits._
    val df = (1 to 5000).map(i => (i.toLong, s"g${i % 7}", (i % 311).toDouble))
      .toDF("event_id", "event_type", "value")
    val out = graft.operators.Quality.madOutliers(df, "event_type", "value")
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // med and mad are group-sized (one row per group): every join back
    // to the data must broadcast — a shuffle there would move the corpus
    // (3 BHJs, not 2: the dev subtree with its med join appears both
    // standalone and under mad's window; either way, zero shuffled joins)
    plan.sliding("BroadcastHashJoin".length)
      .count(_ == "BroadcastHashJoin") shouldBe 3
    plan should not include "SortMergeJoin"
    plan should not include "ShuffledHashJoin"
  }

  test("driver smoke: entry() returns rows on sf0.001") {
    SparkEntry.entry(spark).count() should be > 0L
  }

  test("DV'd reads broadcast the tombstones — the data side never shuffles") {
    val s = spark
    import s.implicits._
    val store = new graft.core.TableStore(tmpDir("plan-dv"), spark)
    store.overwrite("t",
      (0L until 10000L).map(i => (i, i % 7)).toDF("id", "grp").repartition(4))
    store.deleteWhereMoR("t", col("id") % 100 === 0) shouldBe 100L

    val plan = executedPlan(store.read("t"))
    // the scan-time tombstone application: one broadcast LEFT ANTI hash
    // join — a sort-merge (or any exchange of the data side) would make
    // every read of a 100 TB DV'd table pay a corpus shuffle
    plan should include("BroadcastHashJoin")
    plan should include("LeftAnti")
    plan should not include "SortMergeJoin"
    // the ONLY exchange is the broadcast of the kilobyte DV sidecar
    plan should not include "Exchange hashpartitioning"

    // CDF reads scale with the delta: only tombstone-named files are
    // scanned for the DELETE side, never the whole version
    val vs = store.committedVersions("t")
    val cdf = store.changesBetween("t", vs.head, vs.last)
    val scanned = cdf.inputFiles.map(_.split('/').last).toSet
    val dvFiles = graft.core.DeleteVectors
      .read(spark, store.currentPath("t").get).get
      .select("file").distinct().collect().map(_.getString(0)).toSet
    // delete scatters across all 4 files here, but the assertion is
    // structural: the CDF never plans files outside DV-named ∪ appended
    scanned.filter(_.endsWith(".parquet")) shouldBe dvFiles
  }

  test("staging uncommitted versions never leak into reads; vacuum removes them") {
    val s = spark
    import s.implicits._
    val store = new graft.core.TableStore(tmpDir("plan-store"), spark)
    store.overwrite("t", Seq((1, "a")).toDF("id", "v"))
    store.stage("t", Seq((99, "orphan")).toDF("id", "v")) // crash before commit
    store.read("t").collect().map(_.getInt(0)).toSeq shouldBe Seq(1)

    val tableDir = java.nio.file.Paths.get(store.root, "t")
    java.nio.file.Files.list(tableDir).count() shouldBe 2
    store.vacuum() // orphan is unreferenced garbage
    java.nio.file.Files.list(tableDir).count() shouldBe 1
    store.read("t").collect().map(_.getInt(0)).toSeq shouldBe Seq(1)
  }
}
