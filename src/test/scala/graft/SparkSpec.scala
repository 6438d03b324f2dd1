package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for specs. Everything writes under
  * target/test-tmp (never outside the repo), through `tmpDir` /
  * `freshDir` only. */
trait SparkSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session
  def tmpDir(name: String): String = SparkSpec.tmpDir(name)
  def freshDir(name: String): String = SparkSpec.freshDir(name)
}

object SparkSpec {
  lazy val session: SparkSession = Session.local("graft-test",
    "spark.sql.warehouse.dir" -> tmpPath("warehouse").toAbsolutePath.toString)

  private def tmpPath(name: String) = java.nio.file.Paths.get("target", "test-tmp", name)

  def tmpDir(name: String): String = {
    val p = tmpPath(name)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** tmpDir CLEARED first — for specs whose operators are stateful on
    * disk (markers, batch partials, dated-run commits, streaming
    * checkpoints): leftovers from a previous test run would make
    * replay/skip paths fire on stale state and fail the assertions. */
  def freshDir(name: String): String = {
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) { val fs = f.listFiles(); if (fs != null) fs.foreach(rmrf) }
      f.delete(); ()
    }
    rmrf(tmpPath(name).toFile)
    tmpDir(name)
  }
}
