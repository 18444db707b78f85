package graft.core

import java.nio.file.Paths

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Model-based property for the store's carry-tier DML: random short
  * step sequences through one handle on a small flat, statted table,
  * checked after every step against an in-memory `Map` of id → value.
  * The steps are the carry DMLs (MoR delete and upsert, purge, surgical
  * range delete, small-file bin-packing, a stage-only tombstone+append
  * committed by the caller, a plain append, a restore to an earlier
  * committed version, a clone, the debt rule's upkeep) — the operations
  * whose successor versions carry files, deletion vectors and stats
  * sidecars from one version to the next, where a dropped or misapplied
  * sidecar shows up as resurrected, lost or duplicated rows. */
class StoreModelSpec extends AnyFunSuite with Matchers with SparkSpec {

  import org.apache.spark.sql.functions.{col, concat, lit}

  private sealed trait Step
  private case class DeleteMoR(mod: Int, rem: Int) extends Step
  private case class Upsert(rows: Map[Long, String]) extends Step
  private case object Purge extends Step
  private case class DeleteRange(lo: Long, hi: Long) extends Step
  private case class CompactSmall(targetBytes: Long) extends Step
  /** Tombstone the rows with `id % mod == rem` and append their
    * re-images (value marked), staged and then committed separately —
    * the shape of the SCD close. */
  private case class Reimage(mod: Int, rem: Int) extends Step
  /** Append `n` rows with ids above every id the table holds. */
  private case class Append(n: Int) extends Step
  /** Restore the `pick`-th (modulo their number) earlier committed
    * version; a no-op while there is none. */
  private case class Restore(pick: Int) extends Step
  /** Clone the table to a fresh one, which must read as the model. */
  private case object Clone extends Step
  /** [[TableStore.stageUpkeep]] of the current version, committed. */
  private case object Upkeep extends Step

  private val KeySpace = 60L
  private val initial: Map[Long, String] =
    (0L until 40L).map(i => i -> s"v$i").toMap

  private val genStep: Gen[Step] = Gen.frequency(
    3 -> (for {
      mod <- Gen.choose(2, 7); rem <- Gen.choose(0, mod - 1)
    } yield DeleteMoR(mod, rem)),
    3 -> (for {
      keys <- Gen.choose(1, 5).flatMap(n =>
        Gen.listOfN(n, Gen.choose(0L, KeySpace - 1)))
      tag <- Gen.choose(0, 999)
    } yield Upsert(keys.distinct.map(k => k -> s"u$k-$tag").toMap)),
    1 -> Gen.const(Purge),
    2 -> (for {
      lo <- Gen.choose(0L, KeySpace - 1); len <- Gen.choose(0L, 15L)
    } yield DeleteRange(lo, lo + len)),
    // this table's files are 700-800 bytes: a target inside that band
    // packs some files and carries the rest, 4 KiB packs them all
    2 -> Gen.oneOf(Gen.choose(700L, 800L), Gen.const(4096L))
      .map(CompactSmall(_)),
    2 -> (for {
      mod <- Gen.choose(2, 7); rem <- Gen.choose(0, mod - 1)
    } yield Reimage(mod, rem)),
    2 -> Gen.choose(1, 4).map(Append(_)),
    1 -> Gen.choose(0, 99).map(Restore(_)),
    1 -> Gen.const(Clone),
    1 -> Gen.const(Upkeep))

  private val genSteps: Gen[List[Step]] =
    Gen.choose(1, 6).flatMap(Gen.listOfN(_, genStep))

  /** Applies one step to the store, checks the count the store returns
    * where the model determines it, and returns the next model.
    * `history` holds the model of every version the table committed. */
  private def step(store: TableStore, model: Map[Long, String],
      history: Map[String, Map[Long, String]], s: Step): Map[Long, String] = {
    val sp = spark
    import sp.implicits._
    def removing(drop: Long => Boolean, n: Long): Map[Long, String] = {
      val next = model.filterNot { case (k, _) => drop(k) }
      assert(n == model.size - next.size,
        s"$s reported $n deleted rows, model deleted ${model.size - next.size}")
      next
    }
    s match {
      case DeleteMoR(mod, rem) =>
        removing(_ % mod == rem,
          store.deleteWhereMoR("t", col("id") % mod === rem))
      case Upsert(rows) =>
        val n = store.upsertMoR("t", rows.toSeq.toDF("id", "v"), Seq("id"))
        val replaced = rows.keySet.count(model.contains)
        assert(n == replaced, s"$s reported $n replaced rows, model $replaced")
        model ++ rows
      case Purge =>
        store.purgeDeletes("t"); model
      case DeleteRange(lo, hi) =>
        removing(k => k >= lo && k <= hi,
          store.deleteRange("t", "id", lit(lo), lit(hi)))
      case CompactSmall(target) =>
        store.compactSmallFiles("t", targetBytes = target, minSmallFiles = 2)
        model
      case Reimage(mod, rem) =>
        val base = store.manifest.get("t")
        val hit = col("id") % mod === rem
        val version = store.stageMerge(
          store.touch("t", base, store.read("t").schema, select = Some(_.filter(hit))),
          change = touched => (Some(touched),
            touched.select(col("id"), concat(col("v"), lit("*")).as("v"))))
        store.commit(Map("t" -> version), expect = Map("t" -> base))
        model.map { case (k, v) => k -> (if (k % mod == rem) v + "*" else v) }
      case Append(n) =>
        val from = (model.keys ++ Seq(KeySpace)).max + 1
        val rows = (from until from + n).map(k => k -> s"a$k")
        store.append("t", rows.toDF("id", "v"))
        model ++ rows
      case Restore(pick) =>
        val cur = store.manifest("t")
        val earlier = store.committedVersions("t").filter(_ != cur)
        if (earlier.isEmpty) model
        else {
          val target = earlier(pick % earlier.size)
          store.restoreTable("t", target)
          history(target)
        }
      case Clone =>
        val clone = s"c${store.manifest.size}"
        store.cloneTable("t", clone)
        val rows = store.read(clone).as[(Long, String)].collect().toSeq
        assert(rows.size == rows.toMap.size && rows.toMap == model,
          s"$s: clone ${rows.sorted} != model ${model.toSeq.sorted}")
        model
      case Upkeep =>
        val cur = store.manifest("t")
        store.stageUpkeep("t", cur).foreach(v =>
          store.commit(Map("t" -> v), expect = Map("t" -> Some(cur))))
        model
    }
  }

  test("carry DML agrees with an in-memory model after every step") {
    val sp = spark
    import sp.implicits._
    val root = tmpDir("store-model")
    var run = 0
    val prop = Prop.forAllNoShrink(genSteps) { steps =>
      run += 1
      val store = new TableStore(Paths.get(root, s"r$run").toString, spark)
      store.commit(Map("t" -> store.stageWithStats("t",
        initial.toSeq.sorted.toDF("id", "v")
          .repartitionByRange(4, col("id")).sortWithinPartitions("id"),
        Seq("id"))))
      steps.foldLeft((initial, Map(store.manifest("t") -> initial))) {
        case ((model, history), s) =>
          val next = step(store, model, history, s)
          val rows = store.read("t").as[(Long, String)].collect().toSeq
          assert(rows.size == rows.toMap.size, s"after $s: duplicate ids in $rows")
          assert(rows.toMap == next,
            s"after $s in $steps: store ${rows.sorted} != model ${next.toSeq.sorted}")
          (next, history + (store.manifest("t") -> next))
      }
      true
    }
    val seed = Seed.random()
    val result = try Test.check(
      Test.Parameters.default.withMinSuccessfulTests(12).withWorkers(1)
        .withInitialSeed(seed), prop)
    finally Fs.deleteRecursively(Paths.get(root))
    withClue(s"seed ${seed.toBase64}: ${result.status}") {
      result.passed shouldBe true
    }
  }
}
