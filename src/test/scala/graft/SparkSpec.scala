package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Shared local SparkSession for all specs; temp dirs handed out by
  * `tmpDir` are deleted when the suite ends. */
trait SparkSpec extends BeforeAndAfterAll { self: Suite =>

  lazy val spark: SparkSession = SparkSpec.session

  private val tmpDirs = new ConcurrentLinkedQueue[String]

  def tmpDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toString
    tmpDirs.add(d)
    d
  }

  override protected def afterAll(): Unit =
    try tmpDirs.forEach(d => graft.core.Fs.deleteRecursively(Paths.get(d)))
    finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = graft.core.Session.local(4)
}
