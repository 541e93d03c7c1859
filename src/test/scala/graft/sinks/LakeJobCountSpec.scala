package graft.sinks

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sql.GraftCatalog

object LakeJobCountSpec {
  /** One started job: its short call site (`collect at …`) and the
    * outermost Spark method on the caller's stack. */
  final case class Job(name: String, entry: String) {
    /** A schema inference: the job was started by a reader resolving its
      * schema (`DataFrameReader.parquet` without a schema, or a file
      * table's `schema`), not by an action or a write. */
    def infers: Boolean =
      entry.contains("DataFrameReader") || entry.contains("FileTable")
  }

  /** The jobs `body` runs, in start order. A marker job after `body`
    * closes the window: listener events arrive in order, so once the
    * marker's start is seen every earlier start has been too. */
  def jobsOf(spark: SparkSession)(body: => Unit): Seq[Job] = {
    val marker = "lake-job-count-marker"
    val jobs = new ConcurrentLinkedQueue[Job]()
    val closed = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
              p.getProperty("spark.job.description") == marker))
          closed.countDown()
        else {
          val last = e.stageInfos.maxBy(_.stageId)
          jobs.add(Job(last.name, last.details.linesIterator.nextOption()
            .getOrElse("")))
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(closed.await(60, TimeUnit.SECONDS), "marker job never seen")
    } finally sc.removeSparkListener(l)
    jobs.asScala.toSeq
  }
}

/** Spark jobs per lake operation on a committed, undeclared table: the
  * `#schema=` manifest header pins every engine read, so no operation
  * samples a footer to learn the table's schema (a one-task Spark job per
  * inference), and the per-operation job counts stay pinned. */
class LakeJobCountSpec extends SparkSpec {
  import LakeJobCountSpec.Job

  private val vt = VersionedTable

  private def jobsOf(body: => Unit): Seq[Job] =
    LakeJobCountSpec.jobsOf(spark)(body)

  private def rows(lo: Long, n: Long): DataFrame =
    spark.range(lo, lo + n).select(col("id").as("event_id"),
      timestamp_seconds(col("id") * 60).as("ts"),
      (col("id") % 5).cast("string").as("event_type"),
      (col("id") * 0.5).as("value"))

  private def describe(js: Seq[Job]): String =
    js.map(j => s"${j.name} [${j.entry}]").mkString("; ")

  /** One round of the lake mix on a committed table — append, merge, SQL
    * group-by, pruned lookup, SQL delete — with the jobs of each op.
    * `before` runs ahead of every op, outside the measured window. */
  private def round(before: String => Unit): Seq[(String, Seq[Job])] = {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val dir = tmpDir("lake-jobs")
    vt.commit(rows(0, 2000), dir)
    vt.commit(rows(2000, 500), dir)
    def op(name: String)(body: => Unit): (String, Seq[Job]) = {
      before(dir)
      name -> jobsOf(body)
    }
    val out = Seq(
      op("append") { vt.commit(rows(2500, 100), dir); () },
      op("merge") {
        val ups = rows(2550, 40).withColumn("value", col("value") + 1)
        val dels = rows(100, 10)
        vt.mergeChanges(spark, dir, ups.withColumn("op", lit("u"))
          .unionByName(dels.withColumn("op", lit("d"))), "event_id")
        ()
      },
      op("scan") {
        spark.sql(s"SELECT event_type, count(*) AS n, sum(value) AS s " +
          s"FROM graft.`$dir` GROUP BY event_type").collect()
        ()
      },
      op("lookup") {
        vt.prunedRead(spark, dir, "event_id", 1234L, 1234L)
          .filter(col("event_id") === 1234L).collect()
        ()
      },
      op("delete") {
        spark.sql(
          s"DELETE FROM graft.`$dir` WHERE event_id BETWEEN 500 AND 519")
        ()
      })
    assert(vt.read(spark, dir).count() == 2600 - 10 - 20)
    out
  }

  test("one lake round runs no schema-inference job") {
    val ops = round(_ => ()).toMap
    ops.foreach { case (op, js) =>
      assert(!js.exists(_.infers), s"$op: ${describe(js)}")
    }
    assert(ops("append").size == 1, describe(ops("append")))
    assert(ops("merge").size <= 11, describe(ops("merge")))
    assert(ops("scan").size <= 2, describe(ops("scan")))
    assert(ops("lookup").size <= 1, describe(ops("lookup")))
    assert(ops("delete").size <= 2, describe(ops("delete")))
  }

  test("readChanges reads pinned to the header; a stripped table infers") {
    val dir = tmpDir("lake-changes")
    vt.commit(rows(0, 2000), dir)
    val from = vt.versions(dir).last
    vt.commit(rows(2000, 100), dir)
    def changes(): Seq[Job] = jobsOf {
      assert(vt.readChanges(spark, dir, from, from + 1).count() == 100)
    }
    val pinned = changes()
    assert(!pinned.exists(_.infers), describe(pinned))
    SchemaHeaderSpec.strip(dir)
    val stripped = changes()
    assert(stripped.exists(_.infers), describe(stripped))
  }

  test("a table written without headers still infers, op by op") {
    // the fallback path, and proof the detector above sees inference jobs
    val ops = round(SchemaHeaderSpec.strip).toMap
    val inferring = ops.map { case (op, js) => op -> js.count(_.infers) }
    assert(inferring("append") == 0, describe(ops("append")))
    Seq("merge", "scan", "lookup", "delete").foreach { op =>
      assert(inferring(op) > 0, s"$op: ${describe(ops(op))}")
    }
  }
}
