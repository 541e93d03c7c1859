package graft.ext

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Workspace

import graft.sources.Tables

/** Landed MinHash index — incremental near-dedup for a daily-crawl
  * pipeline. [[DedupOps]] answers "find the duplicates inside this
  * corpus"; a real ingest loop instead asks, every day, "which of these
  * NEW documents duplicate anything already landed?" — and re-scanning
  * 100 TB of landed text per day to answer it is the design failure this
  * artifact exists to avoid.
  *
  * The index is signatures only, no text: per doc a 64-long MinHash
  * signature (~0.5 KB) plus its LSH band postings. Serving a new batch is
  *  (1) signature+banding over the NEW text only (map-side),
  *  (2) candidate generation by joining the new batch's (band, bucket)
  *      keys against the landed postings — the new side is broadcast, so
  *      the landed postings NEVER shuffle,
  *  (3) verification by signature agreement (the matching-component
  *      fraction is the textbook unbiased estimator of Jaccard), touching
  *      only candidate pairs.
  * Afterwards [[appendToIndex]] lands the survivors' postings — the loop
  * that keeps tomorrow's dedup incremental too. Same landed-artifact
  * treatment as [[SimilarityIvf]]'s IVF index and [[Ranking]]'s BM25
  * postings; the reference's whole design is "land it, then query it"
  * (/root/reference/airflow/dags/weather_etl.py:156–187).
  */
object DedupIndex {

  /** Index layout parameters, persisted with the artifact so serving can
    * never band differently than the landed postings. */
  case class Meta(k: Int, numHashes: Int, bands: Int, rowsPerBand: Int)

  private def signatures(docs: DataFrame, m: Meta): DataFrame =
    DedupOps.minhashSignatures(docs, m.k, m.numHashes)

  /** (band, bucket, doc_id) postings of a signature frame. */
  private def banded(sigs: DataFrame, m: Meta): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(m.bands - 1)),
        b => hash(slice(col("sig"), b * m.rowsPerBand + lit(1),
          lit(m.rowsPerBand))))).as(Seq("band", "bucket")))

  /** Land the index: band postings + signatures + one-row meta. The
    * postings land as PLAIN parquet with `band` as an ordinary column
    * (r16): the serve path joins every band against the broadcast new
    * batch — no consumer filters by band, so a `partitionBy("band")`
    * layout bought zero pruning while multiplying the files of every
    * landing ×16 (each writer task opens one file per band it holds) —
    * the small-files failure mode of guide §6, compounding per daily
    * append at 100 TB. */
  def writeIndex(docs: DataFrame, dir: String, k: Int = 3,
                 numHashes: Int = 64, bands: Int = 16,
                 rowsPerBand: Int = 4): Unit = {
    val m = Meta(k, numHashes, bands, rowsPerBand)
    val spark = docs.sparkSession
    import spark.implicits._
    val sigs = signatures(docs, m)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sigs.write.mode(SaveMode.Overwrite).parquet(s"$dir/sigs")
    banded(sigs, m).write.mode(SaveMode.Overwrite).parquet(s"$dir/postings")
    sigs.unpersist(blocking = false)
    Seq((m.k, m.numHashes, m.bands, m.rowsPerBand, PostingsLayout))
      .toDF("k", "numHashes", "bands", "rowsPerBand", "layout")
      .write.mode(SaveMode.Overwrite).json(s"$dir/meta")
  }

  /** Physical postings layout this code WRITES: flat parquet files with
    * `band` as an ordinary column (r16 — see [[writeIndex]]). Recorded in
    * the meta JSON so [[appendToIndex]] can refuse to append flat files
    * into an index landed under the older band-partition-dir layout
    * (a mixed directory mis-reads silently). */
  private[graft] val PostingsLayout = "plain"

  /** The landed index's recorded postings layout; None for an index
    * written before the marker existed (whose layout is unknowable —
    * either era's files could be on disk). */
  private[graft] def layoutOf(spark: SparkSession, dir: String): Option[String] = {
    val raw = spark.read.json(s"$dir/meta")
    if (raw.columns.contains("layout"))
      Option(raw.select(col("layout")).head().getString(0))
    else None
  }

  def readMeta(spark: SparkSession, dir: String): Meta = {
    import spark.implicits._
    spark.read.json(s"$dir/meta")
      .select(col("k").cast("int"), col("numHashes").cast("int"),
        col("bands").cast("int"), col("rowsPerBand").cast("int"))
      .as[Meta].head()
  }

  /** Estimated Jaccard = fraction of agreeing signature components. */
  private def estJaccard(a: org.apache.spark.sql.Column,
                         b: org.apache.spark.sql.Column,
                         numHashes: Int): org.apache.spark.sql.Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / numHashes

  /** Candidate (new_id, old_id, est_jaccard) pairs of a new batch against
    * the landed index. The new batch's postings and signatures are
    * broadcast (a daily batch is small next to the landed corpus); the
    * landed postings and signatures are only scanned+filtered, never
    * shuffled. */
  private def candidatesCore(newSigs: DataFrame, dir: String, m: Meta,
                             threshold: Double): DataFrame = {
    val spark = newSigs.sparkSession
    val newBands = banded(newSigs, m)
      .select(col("band"), col("bucket"), col("doc_id").as("new_id"))
    val landedBands = spark.read.parquet(s"$dir/postings")
      .select(col("band"), col("bucket"), col("doc_id").as("old_id"))
    val cands = landedBands
      .join(broadcast(newBands), Seq("band", "bucket"))
      .select(col("new_id"), col("old_id")).distinct()
    val landedSigs = spark.read.parquet(s"$dir/sigs")
      .select(col("doc_id").as("old_id"), col("sig").as("old_sig"))
    cands
      .join(broadcast(newSigs.select(col("doc_id").as("new_id"),
        col("sig").as("new_sig"))), "new_id")
      .join(landedSigs, "old_id")
      .withColumn("est_jaccard",
        round(estJaccard(col("new_sig"), col("old_sig"), m.numHashes), 6))
      .filter(col("est_jaccard") >= threshold)
      .select(col("new_id"), col("old_id"), col("est_jaccard"))
  }

  def candidatesAgainstIndex(newDocs: DataFrame, dir: String,
                             threshold: Double = 0.5): DataFrame = {
    val m = readMeta(newDocs.sparkSession, dir)
    candidatesCore(signatures(newDocs, m), dir, m, threshold)
  }

  /** EAGER condemned-id set of a new batch: materialized through a
    * batch-sized signature cache that is FREED before returning, so a loop
    * serving thousands of batches (the streaming twin, [[graft.streaming
    * .DedupStream]]) pins nothing per batch. The returned frame is
    * persisted and tiny (condemned ids only); callers unpersist it after
    * their anti-join lands. */
  def condemnedIds(newDocs: DataFrame, dir: String,
                   threshold: Double = 0.5): DataFrame = {
    val m = readMeta(newDocs.sparkSession, dir)
    val newSigs = signatures(newDocs, m)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = candidatesCore(newSigs, dir, m, threshold)
      .select(col("new_id").as("doc_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    newSigs.unpersist(blocking = false)
    out
  }

  /** The new batch minus everything that near-duplicates a landed doc. */
  def dedupAgainstIndex(newDocs: DataFrame, dir: String,
                        threshold: Double = 0.5): DataFrame =
    newDocs.join(condemnedIds(newDocs, dir, threshold), Seq("doc_id"),
      "left_anti")

  /** Land a (deduped) batch's postings + signatures — keeps the index
    * current without touching existing files (plain parquet append; see
    * [[writeIndex]] for why the postings are not band-partitioned). */
  def appendToIndex(docs: DataFrame, dir: String): Unit = {
    val layout = layoutOf(docs.sparkSession, dir)
    require(layout.contains(PostingsLayout),
      s"index at $dir records postings layout ${layout.getOrElse("(none)")}" +
        s" but this writer appends '$PostingsLayout' files — appending " +
        "would mix layouts in one directory and mis-read silently. " +
        "Rebuild the index (writeIndex) to migrate it.")
    val m = readMeta(docs.sparkSession, dir)
    val sigs = signatures(docs, m)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sigs.write.mode(SaveMode.Append).parquet(s"$dir/sigs")
    banded(sigs, m).write.mode(SaveMode.Append).parquet(s"$dir/postings")
    sigs.unpersist(blocking = false)
  }

  // ---- driver query ----

  /** q_dedup_incr — the daily-crawl loop end to end: land an index over
    * the even-id half of `documents`, serve the odd-id half against it,
    * report per-source survivor accounting. Hash-matched against a
    * generated DuckDB oracle that reads the signature table as a parquet
    * side-input ([[sides]] — the seeded xxhash64 MinHash family is the
    * one part DuckDB cannot replay) and REPLAYS the halves split, banding
    * (by slice equality — see the q_dedup_minhash superset note),
    * candidate pairing, the signature-agreement Jaccard estimate, the
    * ≥ 0.5 condemnation and the per-source rollup; the
    * landed-vs-recompute equivalence and never-shuffle-the-landed-side
    * plan stay pinned in DedupIndexSpec. */
  def qIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val landed = docs.filter(col("doc_id") % 2 === 0)
    val fresh = docs.filter(col("doc_id") % 2 === 1)
    val dir = Workspace.dir("graft_mhidx_")
    writeIndex(landed, dir)
    val kept = dedupAgainstIndex(fresh, dir, threshold = 0.5)
    fresh.groupBy(col("source")).agg(count(lit(1)).as("n_new"))
      .join(kept.groupBy(col("source")).agg(count(lit(1)).as("n_kept")),
        Seq("source"), "left")
      .select(col("source"), col("n_new"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy(col("source"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_incr" -> (qIncremental _))

  /** Oracle side-input: MinHash signatures over ALL documents (per-doc
    * computation, so signing the whole table equals signing each half) —
    * the oracle splits even/odd itself. */
  val sides: Map[String, (SparkSession, String, String) => Unit] = Map(
    "q_dedup_incr" -> ((spark: SparkSession, sfDir: String, dir: String) =>
      DedupOps.minhashSignatures(Tables.documents(spark, sfDir), k = 3,
        numHashes = 64).write.mode(SaveMode.Overwrite)
        .parquet(s"$dir/sigs")))

  val oracles: Map[String, String] = Map(
    "q_dedup_incr" ->
      """WITH sigs AS (
        |  SELECT doc_id, sig
        |  FROM read_parquet('{OUT_DIR}/_side/q_dedup_incr/sigs/*.parquet')),
        |banded AS (
        |  SELECT doc_id, b.band, sig[b.band*4+1 : b.band*4+4] AS slice
        |  FROM sigs, (SELECT unnest(range(0, 16)) AS band) b),
        |cands AS (
        |  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
        |  FROM (SELECT * FROM banded WHERE doc_id % 2 = 1) n
        |  JOIN (SELECT * FROM banded WHERE doc_id % 2 = 0) o
        |    ON o.band = n.band AND o.slice = n.slice),
        |condemned AS (
        |  SELECT DISTINCT c.new_id AS doc_id
        |  FROM cands c
        |  JOIN sigs n ON n.doc_id = c.new_id
        |  JOIN sigs o ON o.doc_id = c.old_id
        |  WHERE ROUND(CAST(len(list_filter(list_zip(n.sig, o.sig),
        |      p -> p[1] = p[2])) AS DOUBLE) / 64, 6) >= 0.5),
        |fresh AS (SELECT doc_id, source FROM documents WHERE doc_id % 2 = 1),
        |kept AS (
        |  SELECT source, COUNT(*) AS n_kept FROM fresh
        |  WHERE doc_id NOT IN (SELECT doc_id FROM condemned)
        |  GROUP BY source)
        |SELECT f.source, COUNT(*) AS n_new,
        |  COALESCE(MAX(k.n_kept), 0) AS n_kept
        |FROM fresh f LEFT JOIN kept k ON k.source = f.source
        |GROUP BY f.source
        |ORDER BY f.source""".stripMargin)
}
