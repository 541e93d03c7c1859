package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Workspace

import graft.ext.{DedupIndex, SimilarityIvfPq, SimilarityPq}
import graft.sinks.Bucketing
import graft.sources.Tables

/** Build/serve split for the artifact-backed bench queries.
  *
  * The oracle-checked q_* versions of these operators build their landed
  * artifact INSIDE the query (so the driver's correctness gate exercises
  * the loop end to end), which makes their bench number a build+serve
  * total. At 100 TB the two costs live on different axes: the artifact is
  * built once per landing cycle, the serve path runs per batch/query —
  * serving latency is the number that predicts production. Bench
  * therefore builds each artifact ONCE per session (timed as
  * `<name>_build`) and times the serve path alone (min-of-N, as
  * `<name>_serve`), alongside the unchanged end-to-end query.
  */
object BenchArtifacts {

  /** build returns an opaque handle (a workspace dir / table tag) the
    * serve closure consumes; serve must be the PURE query path — no
    * artifact writes. Run a build and its serves in one
    * [[Workspace.scoped]]. */
  final case class Split(build: (SparkSession, String) => String,
                         serve: (SparkSession, String, String) => DataFrame)

  val splits: Map[String, Split] = Map(
    // daily-crawl near-dedup: index the landed (even) half once, serve the
    // fresh (odd) half against it — the per-batch production op
    "q_dedup_incr" -> Split(
      build = (spark, sfDir) => {
        val dir = Workspace.dir("graft_bench_mhidx_")
        DedupIndex.writeIndex(
          Tables.documents(spark, sfDir).filter(col("doc_id") % 2 === 0), dir)
        dir
      },
      serve = (spark, sfDir, dir) =>
        DedupIndex.dedupAgainstIndex(
          Tables.documents(spark, sfDir).filter(col("doc_id") % 2 === 1),
          dir, threshold = 0.5)),
    // IVF-PQ ANN: land coarse+fine quantizers and codes once, serve top-k
    "q_sim_ivfpq" -> Split(
      build = (spark, sfDir) => {
        val dir = Workspace.dir("graft_bench_ivfpq_")
        SimilarityIvfPq.writeIndex(Tables.embeddings(spark, sfDir),
          nList = 16, m = 8, ksub = 16, dir)
        dir
      },
      serve = (spark, sfDir, dir) =>
        SimilarityIvfPq.serveTopK(
          Tables.embeddings(spark, sfDir).filter(col("vec_id") < 10),
          dir, Tables.embeddings(spark, sfDir),
          k = 5, nProbe = 6, rerankK = 20)),
    // flat PQ: train + encode + land codes once, serve ADC + exact rerank
    "q_sim_pq" -> Split(
      build = (spark, sfDir) => {
        val dir = Workspace.dir("graft_bench_pq_")
        val emb = Tables.embeddings(spark, sfDir)
        val cb = SimilarityPq.train(emb, m = 8, ksub = 16, nIters = 2)
        SimilarityPq.writeIndex(SimilarityPq.encode(emb, cb, 8, 16), cb,
          8, 16, dir)
        dir
      },
      serve = (spark, sfDir, dir) => {
        val (coded, cb, (m, ksub)) =
          SimilarityPq.loadIndex(spark, dir)
        SimilarityPq.rerankTopK(
          Tables.embeddings(spark, sfDir).filter(col("vec_id") < 10),
          coded, Tables.embeddings(spark, sfDir), cb, m, ksub,
          k = 5, rerankK = 20)
      }),
    // bucketed layout: land both sides bucketed once, serve the
    // exchange-free merge join
    "q_bucket_join" -> Split(
      build = (spark, sfDir) => {
        val tag = java.util.UUID.randomUUID().toString
          .replace("-", "").take(12)
        val dir = Workspace.dir("graft_bench_bucket_")
        Bucketing.writeBucketed(Tables.lineitem(spark, sfDir)
          .select(col("l_orderkey"), col("l_extendedprice"),
            col("l_quantity")),
          s"graft_bench_l_$tag", s"$dir/lineitem", "l_orderkey", 8)
        Bucketing.writeBucketed(Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderdate"),
            col("o_orderpriority")),
          s"graft_bench_o_$tag", s"$dir/orders", "o_orderkey", 8)
        tag
      },
      serve = (spark, sfDir, tag) =>
        Bucketing.bucketJoinPlan(spark,
          s"graft_bench_l_$tag", s"graft_bench_o_$tag")))
}
