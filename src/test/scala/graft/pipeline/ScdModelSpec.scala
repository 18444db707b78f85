package graft.pipeline

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.core.TableStore
import graft.sources.Stage

/** The pipeline against [[ScdModel]], row for row, after every cycle of
  * seeded random multi-cycle deltas, in faithful and in corrected mode.
  * Invariant checks alone would miss a wrong `end_date` or a version
  * opened twice. */
class ScdModelSpec extends AnyFunSuite with Matchers with SparkSpec {

  private val states = Vector("Delhi", "Goa", "Assam", null)
  private val names = Vector("N1", "N2", null)
  private val BaseMs = 1704067200000L // 2024-01-01T00:00:00Z

  private def bag[T](xs: Iterable[T]): Map[T, Int] = xs.groupMapReduce(identity)(_ => 1)(_ + _)

  private def supp(r: Row): Supp =
    Supp(r.getAs[Long]("supplier_key"), r.getAs[String]("supplier_code"),
      r.getAs[String]("supplier_name"), r.getAs[String]("supplier_state"))

  private def versions(df: DataFrame): Seq[Version] = df.collect().toSeq.map { r =>
    Version(supp(r), r.getAs[Timestamp]("start_date").getTime,
      Option(r.getAs[Timestamp]("end_date")).map(_.getTime), r.getAs[String]("current_flag") == "Y")
  }

  test("random multi-cycle deltas: landing, staging and master equal the model after every cycle") {
    replay(faithful = true)
  }

  test("corrected mode: random multi-cycle deltas equal the corrected model after every cycle") {
    replay(faithful = false)
  }

  private def replay(faithful: Boolean): Unit = {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
      val pipeline = new ScdPipeline(spark, new TableStore(tmpDir("model-store"), spark),
        faithful = faithful)
      val stage = new Stage(tmpDir("model-stage"))
      val model = new ScdModel(faithful)
      // per key: the row last sent and every state it was sent with
      val sent = mutable.LinkedHashMap[String, Supp]()
      val held = mutable.Map[String, Set[String]]()

      for (c <- 0 until 7) {
        // one empty cycle in six; otherwise ~40% of the keys sent again as
        // a return to a prior state, a name-only change, a state change
        // (NULL included) or unchanged, plus up to two new keys
        val batch: Seq[Supp] = if (c > 0 && rnd.nextInt(6) == 0) Nil else {
          val again = sent.values.toSeq.filter(_ => rnd.nextInt(5) < 2).map { s =>
            val prior = held(s.code).toSeq.filter(_ != s.state)
            rnd.nextInt(4) match {
              case 0 if prior.nonEmpty => s.copy(state = pick(prior))
              case 1 => s.copy(name = pick(names.filter(_ != s.name)))
              case 2 => s.copy(state = pick(states.filter(_ != s.state)))
              case _ => s
            }
          }
          val fresh = Seq.fill(rnd.nextInt(3) + (if (c == 0) 3 else 0)) {
            val k = sent.size + 1
            val s = Supp(k.toLong, f"C$k%03d", pick(names), pick(states))
            sent(s.code) = s
            s
          }
          again ++ fresh
        }
        batch.foreach { s =>
          sent(s.code) = s
          held(s.code) = held.getOrElse(s.code, Set.empty) + s.state
        }
        if (batch.nonEmpty) stage.putContent(s"d$c.csv", batch.map(_.csv).mkString("\n"))
        val ts = BaseMs + c * 60000L
        withClue(s"seed=$seed cycle=$c batch=$batch: ") {
          pipeline.runCycle(stage, new Timestamp(ts)) shouldBe batch.size
          model.cycle(batch, ts)
          bag(pipeline.landing.collect().toSeq.map(supp)) shouldBe bag(model.landing.values)
          bag(versions(pipeline.staging)) shouldBe bag(model.staging)
          bag(pipeline.master.collect().toSeq.map(supp)) shouldBe bag(model.master)
        }
      }
    }
  }
}
