package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** The specs run in the factory's session, with the settings Bench,
  * Verify and the tools run with. */
class SessionSpec extends AnyFunSuite with Matchers with SparkSpec {

  test("the specs' session is the factory's, with its pinned conf") {
    val conf = spark.conf
    conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    conf.get("spark.sql.shuffle.partitions") shouldBe "4"
    conf.get("spark.sql.legacy.parquet.nanosAsLong") shouldBe "true"
    conf.get("spark.sql.adaptive.enabled") shouldBe "true"
    conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") shouldBe "64k"
    spark.sparkContext.master shouldBe "local[4]"
    Session.local(4) should be theSameInstanceAs spark
  }
}
