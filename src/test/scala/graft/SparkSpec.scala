package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Workspace
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite (spark guide: one lazy SparkSession per suite). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", SparkSpec.warehouse)
    .getOrCreate()

  /** A fresh directory, deleted at JVM exit. */
  def tmpDir(prefix: String): String = Workspace.dir(prefix)

  val sf = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** The warehouse dir of the JVM's one session: suites share the session
    * `getOrCreate` made first, so one dir serves them all. */
  lazy val warehouse: String = Workspace.dir("graft-wh")
}
