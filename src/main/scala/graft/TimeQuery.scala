package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.Workspace

/** Dev tool (not part of the driver contract): run ONE registered query
  * through the noop sink and print a per-Spark-job time breakdown — the
  * "where do the seconds go" view the optimization loop needs when a
  * query is many small jobs (lake commits, iterative rounds, in-query
  * requires) rather than one big one — or print its plans instead
  * (see [[printPlan]]). Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=4 \
  *     sbt "runMain graft.TimeQuery q_sql_dedup [runs | --plan | --plan=exec]"
  */
object TimeQuery {
  /** `--plan`: the optimized plan with the optimizer's size estimates and
    * the static physical plan. The plan is built (which executes eager
    * checkpoints in the lineage) but the query itself never runs.
    * `--plan=exec`: run the query once and print the AQE-final plan —
    * stage reuse, runtime join switches and codegen collapse only appear
    * after execution. */
  private def printPlan(df: DataFrame, name: String, dir: String,
                        mode: String): Unit = mode match {
    case "--plan" =>
      println(s"==== $name @ $dir: optimized plan with stats ====")
      println(df.queryExecution.optimizedPlan.treeString(
        verbose = false, addSuffix = true))
      println(s"==== $name @ $dir: static physical plan ====")
      println(df.queryExecution.sparkPlan.treeString)
    case "--plan=exec" =>
      println(s"==== $name ====")
      df.collect()
      println(df.queryExecution.executedPlan.toString)
    case other =>
      sys.error(s"unknown option $other: use --plan or --plan=exec")
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val mode = args.drop(1).headOption
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Profile.session()
    if (mode.exists(_.startsWith("--plan"))) {
      Workspace.scoped(spark)(printPlan(SparkEntry.queries(name)(spark, sfDir),
        name, sfDir, mode.get))
      spark.stop()
      return
    }
    val runs = mode.map(_.toInt).getOrElse(2)
    spark.read.parquet(s"$sfDir/region.parquet").count()
    (1 to runs).foreach { r =>
      val (total, rec) = Workspace.scoped(spark)(Profile.recording(spark) {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      })
      val jsum = rec.jobs.map(_.seconds).sum
      println(f"== $name run $r: total $total%.2f s, ${rec.jobs.size} jobs " +
        f"(sum $jsum%.2f s, gap ${total - jsum}%.2f s driver-side)")
      rec.jobs.sortBy(-_.seconds).take(18).foreach { j =>
        println(f"  job ${j.id}%4d  ${j.seconds}%6.3f s  ${j.site.take(110)}")
      }
      // heaviest stages by summed task time, with the skew signature
      // (max vs median task) and GC, deserialize and shuffle-write totals
      rec.stages.sortBy(-_.taskMs.sum).take(8).foreach { st =>
        val a = st.taskMs.sorted
        println(f"  stage ${st.id}%4d  taskSum ${a.sum / 1e3}%7.3f s" +
          f"  tasks ${st.tasks}%4d  med ${a(a.size / 2)}%5d ms" +
          f"  max ${a.last}%6d ms  gc ${st.gcMs / 1e3}%6.2f s" +
          f"  deser ${st.deserializeMs / 1e3}%6.2f s" +
          f"  shufW ${st.shuffleWriteBytes / 1e6}%8.2f MB  " +
          st.name.take(70))
      }
    }
    spark.stop()
  }
}
