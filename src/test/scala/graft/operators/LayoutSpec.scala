package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

class LayoutSpec extends AnyFunSuite with Matchers with SparkSpec {

  import org.apache.spark.sql.functions._

  test("zValue: hand-computed Morton interleave") {
    val s = spark
    import s.implicits._
    // x=1 (bits 01), y=2 (bits 10) at bits=2:
    // out bit 0 = x bit 0 = 1, out bit 1 = y bit 0 = 0,
    // out bit 2 = x bit 1 = 0, out bit 3 = y bit 1 = 1 -> z = 0b1001 = 9
    val out = Seq((1L, 2L)).toDF("x", "y")
      .select(Layout.zValue(Seq(col("x"), col("y")), bits = 2))
      .head().getLong(0)
    out shouldBe 9L
    // single column at full width is the identity
    val id = Seq(Tuple1(12345L)).toDF("x")
      .select(Layout.zValue(Seq(col("x")), bits = 20)).head().getLong(0)
    id shouldBe 12345L
  }

  test("quantizeMinMax: clamps and hits both range ends") {
    val s = spark
    import s.implicits._
    val out = Seq(-5.0, 0.0, 50.0, 100.0, 999.0).toDF("v")
      .select(Layout.quantizeMinMax(col("v"), 0.0, 100.0, bits = 8))
      .collect().map(_.getLong(0))
    out(0) shouldBe 0L    // below range clamps
    out(1) shouldBe 0L
    out(2) should (be >= 126L and be <= 128L)
    out(3) shouldBe 255L  // top of range
    out(4) shouldBe 255L  // above range clamps
  }

  test("z-clustered layout prunes file stats in BOTH dimensions; " +
      "single-key sort prunes only its own") {
    val dir = tmpDir("graft-layout")
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    val nFiles = 32

    // layout A: classic single-column sort on l_partkey
    li.repartitionByRange(nFiles, col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(s"$dir/by_partkey")

    // layout B: z-clustered on (l_partkey, l_suppkey), both quantized
    // onto the same 8-bit grid so interleaved bits carry equal weight
    Layout.writeZClustered(li, s"$dir/zorder",
      Seq(Layout.quantizeMinMax(col("l_partkey"), 0, 2000, bits = 8),
        Layout.quantizeMinMax(col("l_suppkey"), 0, 100, bits = 8)),
      bits = 8, numFiles = nFiles)

    val cols = Seq("l_partkey", "l_suppkey")
    val statsA = Layout.fileStats(spark, s"$dir/by_partkey", cols).cache()
    val statsB = Layout.fileStats(spark, s"$dir/zorder", cols).cache()
    statsA.count() shouldBe nFiles.toLong
    statsB.count() shouldBe nFiles.toLong

    val partBox = Seq(("l_partkey", 500L, 699L))   // 10% of partkeys
    val suppBox = Seq(("l_suppkey", 20L, 29L))     // 10% of suppkeys
    val bothBox = partBox ++ suppBox

    // single-key sort: strong pruning on its key, NONE on the other
    Layout.filesTouched(statsA, partBox) should be <= 6L
    Layout.filesTouched(statsA, suppBox) shouldBe nFiles.toLong

    // z-order: meaningful pruning in EITHER dimension alone. The bound
    // has one file of slack over nFiles/2: repartitionByRange samples
    // range boundaries with a seed derived from the RDD id, which
    // depends on how many RDDs the shared session created before this
    // test — boundaries (and thus file min/max boxes) can shift by one
    // file between an isolated run and a full-suite run.
    Layout.filesTouched(statsB, partBox) should be <= (nFiles / 2 + 1).toLong
    Layout.filesTouched(statsB, suppBox) should be <= (nFiles / 2 + 1).toLong
    // ...and the conjunctive box prunes at least as hard as either dim
    val boxTouched = Layout.filesTouched(statsB, bothBox)
    boxTouched should be <= Layout.filesTouched(statsB, partBox)
    boxTouched should be <= Layout.filesTouched(statsB, suppBox)

    // layout rewrite preserves the data: box-query results identical
    def boxRows(path: String) =
      spark.read.parquet(path)
        .filter(col("l_partkey").between(500, 699) &&
          col("l_suppkey").between(20, 29))
        .select("l_orderkey", "l_linenumber").collect()
        .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val orig = li
      .filter(col("l_partkey").between(500, 699) &&
        col("l_suppkey").between(20, 29))
      .select("l_orderkey", "l_linenumber").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    boxRows(s"$dir/by_partkey") shouldBe orig
    boxRows(s"$dir/zorder") shouldBe orig
  }
}
