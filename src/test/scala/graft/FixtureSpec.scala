package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The build-once fixture registry ([[SparkEntry.indexSurfaces]]): every
  * fixture keeps the cache directory name earlier builds wrote, and a
  * completion marker gates each rebuild. */
class FixtureSpec extends AnyFunSuite with Matchers with SparkSpec {

  private val Sf = "/root/testdata/sf0.001"

  /** Bench name → (tag, source table) of every fixture. A changed tag
    * orphans a warm cache; two fixtures on one directory reuse each
    * other's state. */
  private val Expected = Map(
    "index_inverted" -> ("invidx2", "documents"),
    "index_lsh_portable" -> ("lsh-pindex", "embeddings"),
    "index_lsh6" -> ("lsh-index", "embeddings"),
    "index_pq" -> ("pq-pindex", "embeddings"),
    "index_ivf_append" -> ("ivf-append", "embeddings"),
    "index_inverted_append" -> ("invidx-app", "documents"),
    "index_ngram_model" -> ("ngram", "documents"),
    "index_pos" -> ("posidx", "documents"),
    "index_pos_append" -> ("posidx-app", "documents"),
    "index_pq_append" -> ("pq-app", "embeddings"),
    "index_store_stats" -> ("storestats2", "orders"),
    "index_store_mor" -> ("storemor", "orders"),
    "index_stream_mor" -> ("streammor", "orders"),
    "index_stream_maint" -> ("streammaint", "orders"),
    "index_mv_agg" -> ("mvagg", "lineitem"),
    "index_mv_distinct" -> ("mvdistinct", "events"),
    "index_mv_minhash" -> ("mvminhash", "documents"),
    "index_mv_jaccard" -> ("mvjaccard-v1", "documents"),
    "index_mv_cluster" -> ("mvcluster", "documents"),
    "index_media_mix" -> ("mediamix", "documents"))

  /** The content fingerprint, recomputed here: SHA-256 over the source
    * parquet's absolute path, then `file|size|mtime` of every file under
    * it in path order, first 8 bytes in hex. */
  private def fingerprint(table: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val p = Paths.get(s"$Sf/$table.parquet").toAbsolutePath
    md.update(p.toString.getBytes("UTF-8"))
    val files = Files.walk(p)
    try files.iterator().asScala.filter(Files.isRegularFile(_))
      .toSeq.sortBy(_.toString).foreach { f =>
        md.update(s"$f|${Files.size(f)}|${Files.getLastModifiedTime(f).toMillis}"
          .getBytes("UTF-8"))
      }
    finally files.close()
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  test("every fixture keeps its bench name and cache directory") {
    val surfaces = SparkEntry.indexSurfaces
    surfaces.keySet shouldBe Expected.keySet
    val locs = surfaces.map { case (n, f) => n -> f.loc(Sf) }
    locs.foreach { case (n, loc) =>
      val (tag, table) = Expected(n)
      withClue(s"$n: ") {
        loc.getFileName.toString should fullyMatch regex
          s"graft-${java.util.regex.Pattern.quote(tag)}-[0-9a-f]{16}"
        loc.getFileName.toString shouldBe s"graft-$tag-${fingerprint(table)}"
        loc.getParent shouldBe Paths.get(SparkEntry.fixtureRoot)
      }
    }
    locs.values.toSet.size shouldBe locs.size
    surfaces.filter(_._2.persistAcrossBenches).keySet shouldBe
      Set("index_stream_maint")
  }

  test("ensure builds once, and rebuilds after its completion marker is deleted") {
    val f = SparkEntry.indexSurfaces("index_mv_distinct")
    val loc: Path = f.loc(Sf)
    val marker = loc.resolve("_SUCCESS")
    def stamp() = (Files.getLastModifiedTime(marker),
      Files.readAttributes(marker, classOf[java.nio.file.attribute.BasicFileAttributes])
        .fileKey())
    graft.core.Fs.deleteRecursively(loc)
    f.built(Sf) shouldBe false
    f.ensure(spark, Sf)
    f.built(Sf) shouldBe true
    val first = stamp()
    f.ensure(spark, Sf)
    stamp() shouldBe first
    Files.delete(marker)
    f.built(Sf) shouldBe false
    f.ensure(spark, Sf)
    f.built(Sf) shouldBe true
    spark.read.parquet(loc.toString).count() should be > 0L
  }
}
