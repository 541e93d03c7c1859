package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Workspace

/** Two-point scale-exponent probe (round-15 directive): measures the
  * heaviest queries and the commit-path family at sf0.1 and at a
  * deterministic 10× blowup, so every O(delta)/O(batch) claim argued in
  * operator headers gets one empirical exponent. Not part of the
  * driver's bench contract — run by hand, results committed as
  * docs/SCALING_r15.md.
  *
  * The blowup replicates the fact tables 10× with key-shifted copies
  * (event/user ids, doc ids, vector ids, order keys; dimensions ride
  * verbatim): graph copies are disjoint (block-diagonal), document TEXT
  * is identical across copies — the honest dedup stress, duplicate
  * groups really are 10× larger.
  */
object Scaling {
  private val Shift = 1000000000000L // 10^12 — far above any base key

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val scaled = args.drop(1).headOption.getOrElse("/tmp/graft_scale_x10")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val spark = Profile.session()

    buildBlowup(spark, base, scaled, factor)
    spark.read.parquet(s"$base/region.parquet").count() // session warm-up

    val all = Seq("q_pagerank", "q_change_feed", "q_substr_dedup",
      "q_triangles", "q_curation_funnel", "q_dedup_cluster",
      "q_ngram_perplexity", "q_sim_ivfpq", "q_dedup_minhash",
      "q_sim_ivf")
    // SPARK_GRAFT_ONLY=q_a,q_b narrows to a subset (re-probing after a
    // fix without paying the full sweep), as in Bench
    val probes = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(all)
    def timeQuery(name: String, dir: String): Double = {
      def once(): Double = Workspace.scoped(spark) {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once()) // min-of-2: drop the JIT-cold run
    }
    val rows = probes.map { q =>
      System.err.println(s"[scaling] $q at x1…")
      val t1 = timeQuery(q, base)
      System.err.println(f"[scaling] $q x1=$t1%.2fs; at x$factor…")
      val tN =
        try timeQuery(q, scaled)
        catch { case e: Throwable =>
          // a query that BREAKS at 10x is the probe's most important
          // possible output — record it, keep sweeping
          System.err.println(s"[scaling] $q FAILED at x$factor: " +
            e.getMessage)
          -1.0
        }
      System.err.println(f"[scaling] $q x$factor=$tN%.2fs")
      (q, t1, tN)
    }

    // commit-path family at both scales: append a full lineitem batch,
    // cdf-slice over appended history, compact the landed files
    def commitFamily(dir: String, tag: String): Seq[(String, Double)] = {
      val ops = graft.sinks.VersionedTable
      val t = Workspace.dir(s"scale-$tag") + "/t"
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val t0 = System.nanoTime()
      ops.commit(li, t)
      val appendSec = (System.nanoTime() - t0) / 1e9
      (1 to 3).foreach(i =>
        ops.commit(li.limit(1000).withColumn("l_orderkey",
          col("l_orderkey") + lit(i * 10000000L)), t))
      val t1 = System.nanoTime()
      ops.readChanges(spark, t, fromVersion = 1, toVersion = 4)
        .write.format("noop").mode("overwrite").save()
      val cdfSec = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      ops.compact(spark, t, targetBytes = 512L * 1024 * 1024)
      val compactSec = (System.nanoTime() - t2) / 1e9
      Seq(("append", appendSec), ("cdf_slice", cdfSec),
        ("compact", compactSec))
    }
    val fam1 = Workspace.scoped(spark)(commitFamily(base, "x1")).toMap
    val famN = Workspace.scoped(spark)(commitFamily(scaled, "xN")).toMap

    val qJson = rows.map { case (q, a, b) =>
      f""""$q":{"x1":$a%.3f,"x$factor":$b%.3f,"ratio":${b / a}%.2f}"""
    }
    val fJson = fam1.keys.toSeq.sorted.map { k =>
      f""""commit_$k":{"x1":${fam1(k)}%.3f,"x$factor":${famN(k)}%.3f,"ratio":${famN(k) / fam1(k)}%.2f}"""
    }
    println((qJson ++ fJson).mkString(
      s"""{"metric":"scaling","factor":$factor,"probes":{""", ",", "}}"))
    spark.stop()
  }

  private[graft] def buildBlowup(spark: SparkSession, base: String,
                          out: String, factor: Int): Unit = {
    val done = java.nio.file.Paths.get(s"$out/_BUILT")
    if (java.nio.file.Files.exists(done)) return
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    def rep(name: String)(shift: (DataFrame, Int) => DataFrame): Unit = {
      val src = spark.read.parquet(s"$base/$name.parquet")
      (0 until factor).map(k => shift(src, k)).reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    rep("events") { (d, k) => d
      .withColumn("event_id", col("event_id") + lit(k * Shift))
      .withColumn("user_id", col("user_id") + lit(k * Shift))
    }
    rep("documents") { (d, k) =>
      d.withColumn("doc_id", col("doc_id") + lit(k * Shift))
    }
    rep("embeddings") { (d, k) =>
      d.withColumn("vec_id", col("vec_id") + lit(k * Shift))
    }
    rep("lineitem") { (d, k) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(k * Shift))
    }
    rep("orders") { (d, k) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(k * Shift))
    }
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    java.nio.file.Files.write(done, "built".getBytes("UTF-8"))
  }
}
