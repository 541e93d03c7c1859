package graft.sql

import org.apache.spark.sql.{DataFrame, DataFrame => SqlDataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Workspace

import graft.analytics.Parity
import graft.sinks.{LakeQueries, VersionedTable}
import graft.sources.Tables

/** The SQL front door's DRIVER QUERY definitions — every `q_sql_*`
  * entry [[graft.SparkEntry]] exposes, with its DuckDB oracle SQL.
  * Split out of [[GraftCatalog]] (which keeps the catalog plugin's
  * machinery: resolution, pruning, pushdown, DDL) so the two concerns
  * — ENGINE code vs the fixed query suite that certifies it — live in
  * separate files. Each query builds its own disposable graft table
  * under a temp dir, drives the engine exclusively through the SQL
  * catalog door, and returns a live distributed frame whose rows the
  * driver hash-compares against [[oracles]] replayed by DuckDB. */
object SqlQueries {

  private def register(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  private def events(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))

  /** q_sql_time_travel — the q_time_travel protocol driven entirely from
    * SQL: `VERSION AS OF` reads the pinned v1 manifest, the bare
    * identifier reads the head, and a `TIMESTAMP AS OF` probe (pinned
    * in-query) resolves by commit wall clock — hash-matched against the
    * same oracle as the Scala-API twin, so the catalog path provably
    * serves identical snapshots. */
  def qSqlTimeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val ev = events(spark, sfDir)
    val dir = Workspace.dir("graft_sqltt_")
    val v1 = VersionedTable.commit(ev.filter(col("event_id") % 2 === 0), dir)
    VersionedTable.commit(ev.filter(col("event_id") % 2 === 1), dir)
    val head = spark.sql(s"SELECT * FROM graft.`$dir`")
    // wall-clock travel: any instant at/after the head commit reads the
    // head — pinned here so the micros→millis seam stays exercised
    val ts = System.currentTimeMillis() + 60000L
    val byTime = spark.sql(
      s"SELECT * FROM graft.`$dir` TIMESTAMP AS OF timestamp_millis($ts)")
    require(byTime.count() == head.count(),
      "TIMESTAMP AS OF did not resolve to the head snapshot")
    val a = spark.sql(s"SELECT * FROM graft.`$dir` VERSION AS OF $v1")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_v1"),
        round(Parity.decSum2(col("value")), 2).as("sum_v1"))
    val b = head
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_v2"),
        round(Parity.decSum2(col("value")), 2).as("sum_v2"))
    a.join(b, "event_type").orderBy(col("event_type"))
  }

  /** q_sql_merge — q_merge_lake driven through `CALL graft.merge_into`
    * with the source as a registered view and the merged head read back
    * via the catalog: same oracle as the Scala twin, plus the returned
    * version row pinned in-query. */
  def qSqlMerge(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val ev = events(spark, sfDir)
    val dir = Workspace.dir("graft_sqlmerge_")
    VersionedTable.commitClustered(ev, dir, zCols = Seq("event_id"),
      statCols = Seq("event_id"), numFiles = 8)
    val updates = ev.filter(col("event_id") % 10 === 0)
      .withColumn("value", col("value") + 1000.0)
    val inserts = ev.filter(col("event_id") % 10 === 1)
      .withColumn("event_id", col("event_id") + 10000000L)
    updates.unionByName(inserts).createOrReplaceTempView("q_sql_merge_src")
    val res = spark.sql(
      s"CALL graft.merge_into('$dir', 'q_sql_merge_src', 'event_id')")
    require(res.collect().map(_.getInt(0)).toSeq == Seq(2),
      "merge_into must return the committed version")
    spark.sql(s"SELECT * FROM graft.`$dir`")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q_sql_delete — `CALL graft.delete_where` lands vectors, the catalog
    * read REFUSES the merge-on-read snapshot (pinned in-query — silently
    * serving dead rows through SQL would be corruption), `CALL
    * graft.compact` materializes, and the clean head reads back through
    * SQL: hash-matched against a WHERE NOT oracle. */
  def qSqlDelete(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val ev = events(spark, sfDir)
    val dir = Workspace.dir("graft_sqldel_")
    VersionedTable.commit(ev, dir)
    spark.sql(s"CALL graft.delete_where('$dir', 'value > 90.0')")
    val refused = scala.util.Try(
      spark.sql(s"SELECT * FROM graft.`$dir`").collect())
    require(refused.isFailure &&
      refused.failed.get.getMessage.contains("delete debt"),
      "a merge-on-read snapshot must refuse a catalog read loudly")
    spark.sql(s"CALL graft.compact('$dir', '${1L << 30}')")
    spark.sql(s"SELECT * FROM graft.`$dir`")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q_sql_ddl_insert — the full SQL lifecycle with hidden partitioning:
    * `CREATE TABLE … PARTITIONED BY (days(ts))` declares the layout,
    * two `INSERT INTO … SELECT` statements land the events table as
    * transform-clustered commits, and the SELECT's WHERE window is
    * answered after the manifest prunes the file list (gain pinned
    * in-query via the scan-prune seam) — hash-matched against the raw
    * table, proving DDL + DML + pruned query changed LAYOUT, not
    * results. */
  def qSqlDdlInsert(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val tmp = Workspace.dir("graft_sqlddl_")
    val dir = s"$tmp/t"
    spark.sql(s"CREATE TABLE graft.`$dir` (event_id BIGINT, " +
      "ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE) " +
      "PARTITIONED BY (days(ts)) TBLPROPERTIES ('files' = '8')")
    ev.createOrReplaceTempView("q_sql_ddl_src")
    spark.sql(s"INSERT INTO graft.`$dir` " +
      "SELECT * FROM q_sql_ddl_src WHERE event_id % 2 = 0")
    spark.sql(s"INSERT INTO graft.`$dir` " +
      "SELECT * FROM q_sql_ddl_src WHERE event_id % 2 = 1")
    val where = "ts >= TIMESTAMP '2024-01-05 00:00:00' " +
      "AND ts < TIMESTAMP '2024-01-09 00:00:00'"
    // one executed probe pins the pruning gain; the RETURNED frame stays
    // lazy (the driver gate and plan invariants read its real plan)
    val probed = spark.sql(
      s"SELECT COUNT(*) FROM graft.`$dir` WHERE $where").head().getLong(0)
    val (total, kept) = GraftCatalog.lastScanPrune
    require(kept < total,
      s"SQL WHERE kept $kept of $total files — manifest pruning inert")
    require(probed ==
      ev.filter(col("ts") >= lit(java.time.Instant.parse("2024-01-05T00:00:00Z")) &&
        col("ts") < lit(java.time.Instant.parse("2024-01-09T00:00:00Z"))).count(),
      "pruned SQL read lost or invented rows")
    spark.sql(s"SELECT event_type, value FROM graft.`$dir` WHERE $where")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q_sql_alter — metadata-only schema evolution end-to-end: half the
    * events land, `ALTER TABLE … ADD COLUMNS (note STRING)` evolves the
    * declared schema (no file rewritten — pinned by the pre-ALTER read
    * refusing the column and the post-ALTER read serving typed nulls),
    * the other half lands WITH the column, and one aggregate over the
    * evolved table hash-matches a DuckDB oracle that reconstructs the
    * null pattern. */
  def qSqlAlter(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val tmp = Workspace.dir("graft_sqlalter_")
    val dir = s"$tmp/t"
    spark.sql(s"CREATE TABLE graft.`$dir` " +
      "(event_id BIGINT, event_type STRING, value DOUBLE)")
    ev.filter(col("event_id") % 2 === 0)
      .createOrReplaceTempView("q_sql_alter_v1")
    spark.sql(s"INSERT INTO graft.`$dir` SELECT * FROM q_sql_alter_v1")
    // the column must not predate the ALTER
    require(scala.util.Try(
      spark.sql(s"SELECT note FROM graft.`$dir`")).isFailure,
      "'note' resolved before ALTER TABLE added it")
    spark.sql(s"ALTER TABLE graft.`$dir` ADD COLUMNS (note STRING)")
    // already-landed files serve typed nulls through the evolved schema
    require(spark.sql(s"SELECT COUNT(note) FROM graft.`$dir`")
      .head().getLong(0) == 0L,
      "pre-ALTER rows must read the added column as NULL")
    ev.filter(col("event_id") % 2 === 1)
      .withColumn("note", concat(lit("t:"), col("event_type")))
      .createOrReplaceTempView("q_sql_alter_v2")
    spark.sql(s"INSERT INTO graft.`$dir` " +
      "SELECT event_id, event_type, value, note FROM q_sql_alter_v2")
    spark.sql(s"SELECT * FROM graft.`$dir`")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), count(col("note")).as("n_note"),
        round(Parity.decSum2(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q_sql_branch — the branch lifecycle driven entirely from SQL:
    * `CALL graft.create_branch` forks, `INSERT INTO
    * graft.`dir#branch=…`` lands on the fork (parent isolation pinned
    * in-query), a native `UPDATE` against the SAME branch fragment
    * mutates the branch lineage only (the parent's manifest log is
    * byte-level untouched — pinned), the branch fragment read serves
    * the fork's lineage, `CALL graft.fast_forward` publishes it
    * (carrying the update's delete vectors), `CALL graft.compact`
    * materializes, and the parent head hash-matches an oracle that
    * reconstructs insert + update. The `#history` metadata view is
    * pinned along the way. */
  def qSqlBranch(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val ev = events(spark, sfDir)
    val dir = Workspace.dir("graft_sqlbranch_")
    val even = ev.filter(col("event_id") % 2 === 0)
    VersionedTable.commit(even, dir)
    val res = spark.sql(s"CALL graft.create_branch('$dir', 'audit', 'head')")
    require(res.collect().map(_.getInt(0)).toSeq == Seq(1),
      "create_branch must return the branch head version")
    ev.filter(col("event_id") % 2 === 1)
      .createOrReplaceTempView("q_sql_branch_src")
    spark.sql(s"INSERT INTO graft.`$dir#branch=audit` " +
      "SELECT * FROM q_sql_branch_src")
    // isolation: the parent head is untouched while the branch has all
    val evenN = even.count()
    require(spark.sql(s"SELECT COUNT(*) FROM graft.`$dir`")
      .head().getLong(0) == evenN,
      "a branch landing leaked into the parent lineage")
    require(spark.sql(s"SELECT COUNT(*) FROM graft.`$dir#branch=audit`")
      .head().getLong(0) == ev.count(),
      "the branch fragment read did not serve the branch lineage")
    // DML through the branch fragment lands on the BRANCH lineage only:
    // the parent's manifest log must not gain a version
    spark.sql(s"UPDATE graft.`$dir#branch=audit` " +
      "SET value = value + 1000.0 WHERE event_id % 10 = 7")
    require(VersionedTable.versions(dir) == Seq(1),
      "branch-fragment UPDATE leaked a commit into the parent lineage")
    spark.sql(s"CALL graft.fast_forward('$dir', 'audit')")
    // the published head carries the branch update's merge-on-read
    // vectors; materialize before serving through the catalog
    spark.sql(s"CALL graft.compact('$dir', '${1L << 30}')")
    require(spark.sql(s"SELECT COUNT(*) FROM graft.`$dir#history`")
      .head().getLong(0) == 3L,
      "#history must list the fork commit, fast-forward, and compaction")
    spark.sql(s"SELECT * FROM graft.`$dir`")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q_sql_update — the native `UPDATE` statement end-to-end: the DML
    * strategy routes it to [[VersionedTable.updateWhere]] (ONE
    * merge-on-read commit: delete vector + updated copies; pinned
    * in-query by the single new version), compaction materializes, and
    * the head hash-matches an oracle that recomputes the assignment. */
  def qSqlUpdate(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val ev = events(spark, sfDir)
    val dir = Workspace.dir("graft_sqlupd_")
    VersionedTable.commit(ev, dir)
    spark.sql(s"UPDATE graft.`$dir` SET value = value + 1000.0 " +
      "WHERE event_id % 10 = 0")
    require(VersionedTable.versions(dir) == Seq(1, 2),
      "UPDATE must land exactly one merge-on-read commit")
    spark.sql(s"CALL graft.compact('$dir', '${1L << 30}')")
    spark.sql(s"SELECT * FROM graft.`$dir`")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q_sql_rename — column-id indirection end-to-end: a table created
    * with a NARROW int key lands half the events, `ALTER COLUMN TYPE
    * BIGINT` widens and `RENAME COLUMN` re-names it — both metadata-only
    * (pinned in-query: the `#files` inventory is byte-identical across
    * the ALTERs, and the old name refuses) — then the other half lands
    * under the NEW name with values only a genuine 64-bit column can
    * carry. One aggregate over the evolved table hash-matches a DuckDB
    * oracle reconstructing the widen+rename arithmetic: old narrow files
    * and new wide files provably serve through one logical schema. */
  def qSqlRename(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val tmp = Workspace.dir("graft_sqlrename_")
    val dir = s"$tmp/t"
    spark.sql(s"CREATE TABLE graft.`$dir` " +
      "(eid INT, event_type STRING, value DOUBLE)")
    ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id").cast("int").as("eid"),
        col("event_type"), col("value"))
      .createOrReplaceTempView("q_sql_rename_v1")
    spark.sql(s"INSERT INTO graft.`$dir` SELECT * FROM q_sql_rename_v1")
    val filesBefore = spark.sql(s"SELECT file FROM graft.`$dir#files`")
      .collect().map(_.getString(0)).toSet
    spark.sql(s"ALTER TABLE graft.`$dir` ALTER COLUMN eid TYPE BIGINT")
    spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN eid TO event_id")
    val filesAfter = spark.sql(s"SELECT file FROM graft.`$dir#files`")
      .collect().map(_.getString(0)).toSet
    require(filesAfter == filesBefore,
      "widen+rename must be metadata-only (zero files rewritten)")
    require(scala.util.Try(
      spark.sql(s"SELECT eid FROM graft.`$dir`").collect()).isFailure,
      "the old column name must not resolve after RENAME")
    ev.filter(col("event_id") % 2 === 1)
      .select((col("event_id") + 10000000000L).as("event_id"),
        col("event_type"), col("value"))
      .createOrReplaceTempView("q_sql_rename_v2")
    spark.sql(s"INSERT INTO graft.`$dir` SELECT * FROM q_sql_rename_v2")
    spark.sql(s"SELECT * FROM graft.`$dir`")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count(when(col("event_id") > 2147483647L, 1)).as("n_wide"),
        max(col("event_id")).as("max_id"),
        round(Parity.decSum2(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q_sql_nested_evolution — NESTED struct evolution end-to-end, the
    * reference's raw-document shape (`main.temp`, weather_etl.py:124–125):
    * half the events land inside a struct column, then `ADD COLUMNS
    * (main.score BIGINT)`, `RENAME COLUMN main.temp TO reading`, and
    * FIRST/AFTER repositioning at BOTH levels (`main` to the front, the
    * added member ahead of its siblings) evolve the STRUCT
    * metadata-only (pinned in-query: the `#files` inventory is
    * byte-identical across all four ALTERs, and the old nested name
    * refuses) — pre-evolution files serve typed NULLs for the new
    * member and their values under the renamed one, resolved by NAME
    * through the reordered declaration — then the other half lands with
    * all three members stored, positionally targeting the NEW order.
    * One aggregate over nested fields of both vintages hash-matches a
    * DuckDB oracle reconstructing null-vs-stored per row. */
  def qSqlNestedEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val tmp = Workspace.dir("graft_sqlnested_")
    val dir = s"$tmp/t"
    spark.sql(s"CREATE TABLE graft.`$dir` " +
      "(event_id BIGINT, main STRUCT<temp: DOUBLE, kind: STRING>)")
    ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id"),
        struct(col("value").as("temp"), col("event_type").as("kind"))
          .as("main"))
      .createOrReplaceTempView("q_sql_nested_v1")
    spark.sql(s"INSERT INTO graft.`$dir` SELECT * FROM q_sql_nested_v1")
    val filesBefore = spark.sql(s"SELECT file FROM graft.`$dir#files`")
      .collect().map(_.getString(0)).toSet
    spark.sql(s"ALTER TABLE graft.`$dir` ADD COLUMNS (main.score BIGINT)")
    spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN main.temp TO reading")
    // REPOSITION both levels (round 13): the struct column moves FIRST
    // and the added member moves ahead of its siblings — declared-order-
    // only edits; the hash match proves values never move with them
    spark.sql(s"ALTER TABLE graft.`$dir` ALTER COLUMN main FIRST")
    spark.sql(s"ALTER TABLE graft.`$dir` ALTER COLUMN main.score FIRST")
    val filesAfter = spark.sql(s"SELECT file FROM graft.`$dir#files`")
      .collect().map(_.getString(0)).toSet
    require(filesAfter == filesBefore,
      "nested ADD+RENAME+REPOSITION must be metadata-only (zero files " +
        "rewritten)")
    require(scala.util.Try(
      spark.sql(s"SELECT main.temp FROM graft.`$dir`").collect()).isFailure,
      "the old nested name must not resolve after RENAME")
    // v2 lands in the NEW declared order (main first; score leading its
    // struct) — positional INSERT targets the repositioned declaration
    ev.filter(col("event_id") % 2 === 1)
      .select(
        struct((col("event_id") % 97).as("score"),
          col("value").as("reading"), col("event_type").as("kind"))
          .as("main"),
        col("event_id"))
      .createOrReplaceTempView("q_sql_nested_v2")
    spark.sql(s"INSERT INTO graft.`$dir` SELECT * FROM q_sql_nested_v2")
    spark.sql(s"SELECT * FROM graft.`$dir`")
      .groupBy(col("main.kind").as("kind"))
      .agg(count(lit(1)).as("n"),
        count(col("main.score")).as("n_scored"),
        sum(col("main.score")).as("sum_score"),
        round(Parity.decSum2(col("main.reading")), 2).as("sum_reading"))
      .orderBy(col("kind"))
  }

  /** q_sql_elem_evolution — ARRAY-OF-STRUCT element evolution, the
    * reference's raw-document repeated group (`weather[0].description`,
    * weather_etl.py:125): half the events land with a 1-element
    * `weather ARRAY<STRUCT<cond, n:INT>>`, then `ADD COLUMNS
    * (weather.element.score DOUBLE)`, `ALTER COLUMN weather.element.n
    * TYPE BIGINT`, `RENAME COLUMN weather.element.cond TO sky` and
    * `ADD COLUMNS (weather.element.q INT DEFAULT 3)` (an ELEMENT
    * existence default, substituted per element) evolve the ELEMENT
    * struct metadata-only (pinned in-query: the `#files` inventory is
    * byte-identical across all four ALTERs) —
    * pre-evolution files serve typed NULLs for the new member, promote
    * the widened one per file, and serve the RENAMED member's stored
    * values under its new logical name (element physical names are
    * rename-stable; the relabel is positional) — then the other half
    * lands with the full evolved element shape, including beyond-int
    * `n` values only the widened type can carry. One aggregate over
    * element fields of both vintages hash-matches a DuckDB oracle
    * reconstructing null-vs-stored per row; a broken relabel would
    * group the pre-rename half under NULL and hash-mismatch. */
  def qSqlElemEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val tmp = Workspace.dir("graft_sqlelem_")
    val dir = s"$tmp/t"
    spark.sql(s"CREATE TABLE graft.`$dir` " +
      "(event_id BIGINT, weather ARRAY<STRUCT<cond: STRING, n: INT>>)")
    ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id"),
        array(struct(col("event_type").as("cond"),
          (col("event_id") % 50).cast("int").as("n"))).as("weather"))
      .createOrReplaceTempView("q_sql_elem_v1")
    spark.sql(s"INSERT INTO graft.`$dir` SELECT * FROM q_sql_elem_v1")
    val filesBefore = spark.sql(s"SELECT file FROM graft.`$dir#files`")
      .collect().map(_.getString(0)).toSet
    spark.sql(s"ALTER TABLE graft.`$dir` " +
      "ADD COLUMNS (weather.element.score DOUBLE)")
    spark.sql(s"ALTER TABLE graft.`$dir` " +
      "ALTER COLUMN weather.element.n TYPE BIGINT")
    spark.sql(s"ALTER TABLE graft.`$dir` " +
      "RENAME COLUMN weather.element.cond TO sky")
    // an ELEMENT existence default: pre-ADD elements serve 3 (per
    // element, through the transform-lambda substitution), post-ADD
    // elements serve their stored values
    spark.sql(s"ALTER TABLE graft.`$dir` " +
      "ADD COLUMNS (weather.element.q INT DEFAULT 3)")
    val filesAfter = spark.sql(s"SELECT file FROM graft.`$dir#files`")
      .collect().map(_.getString(0)).toSet
    require(filesAfter == filesBefore,
      "element ADD+widen+RENAME+DEFAULT must be metadata-only (zero " +
        "files rewritten)")
    ev.filter(col("event_id") % 2 === 1)
      .select(col("event_id"),
        array(struct(col("event_type").as("sky"),
          (col("event_id") % 50 + 10000000000L).as("n"),
          col("value").as("score"),
          (col("event_id") % 5).cast("int").as("q"))).as("weather"))
      .createOrReplaceTempView("q_sql_elem_v2")
    spark.sql(s"INSERT INTO graft.`$dir` SELECT * FROM q_sql_elem_v2")
    val el = element_at(col("weather"), 1)
    spark.sql(s"SELECT * FROM graft.`$dir`")
      .groupBy(el.getField("sky").as("kind"))
      .agg(count(lit(1)).as("n"),
        count(el.getField("score")).as("n_scored"),
        sum(el.getField("n")).as("sum_n"),
        round(Parity.decSum2(el.getField("score")), 2).as("sum_score"),
        sum(el.getField("q")).as("sum_q"))
      .orderBy(col("kind"))
  }

  /** q_sql_default — ADD COLUMN DEFAULT + declared NOT NULL end-to-end:
    * half the events land, then `ADD COLUMN score INT DEFAULT 7` and
    * `ADD COLUMN grade STRING NOT NULL DEFAULT 'c'` evolve the table
    * metadata-only (pinned in-query: the `#files` inventory is
    * byte-identical across both ALTERs — pre-ADD history serves the
    * defaults via EXISTS_DEFAULT substitution at read time, zero
    * rewrites), a NULL into the declared NOT NULL column refuses
    * (pinned), and the other half lands with stored values. One
    * aggregate over the evolved table hash-matches a DuckDB oracle
    * reconstructing default-vs-stored per row. */
  def qSqlDefault(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val tmp = Workspace.dir("graft_sqldefault_")
    val dir = s"$tmp/t"
    spark.sql(s"CREATE TABLE graft.`$dir` " +
      "(event_id BIGINT, event_type STRING, value DOUBLE)")
    ev.filter(col("event_id") % 2 === 0)
      .createOrReplaceTempView("q_sql_default_v1")
    spark.sql(s"INSERT INTO graft.`$dir` SELECT * FROM q_sql_default_v1")
    val filesBefore = spark.sql(s"SELECT file FROM graft.`$dir#files`")
      .collect().map(_.getString(0)).toSet
    spark.sql(s"ALTER TABLE graft.`$dir` ADD COLUMN score INT DEFAULT 7")
    spark.sql(s"ALTER TABLE graft.`$dir` " +
      "ADD COLUMN grade STRING NOT NULL DEFAULT 'c'")
    val filesAfter = spark.sql(s"SELECT file FROM graft.`$dir#files`")
      .collect().map(_.getString(0)).toSet
    require(filesAfter == filesBefore,
      "ADD COLUMN DEFAULT must be metadata-only (zero files rewritten)")
    require(scala.util.Try(spark.sql(
      s"INSERT INTO graft.`$dir` VALUES (0, 'x', 0.0, 0, NULL)"))
      .isFailure,
      "a NULL into the declared NOT NULL column must refuse")
    ev.filter(col("event_id") % 2 === 1)
      .select(col("event_id"), col("event_type"), col("value"),
        (col("event_id") % 100).cast("int").as("score"),
        substring(col("event_type"), 1, 1).as("grade"))
      .createOrReplaceTempView("q_sql_default_v2")
    spark.sql(s"INSERT INTO graft.`$dir` SELECT * FROM q_sql_default_v2")
    spark.sql(s"SELECT * FROM graft.`$dir`")
      .groupBy(col("grade"))
      .agg(count(lit(1)).as("n"),
        sum(col("score")).as("sum_score"),
        round(Parity.decSum2(col("value")), 2).as("sum_value"))
      .orderBy(col("grade"))
  }

  /** q_sql_nested_default — ADD COLUMN NOT NULL DEFAULT on a NESTED
    * struct member, substituted by the ENGINE's own read path where
    * Spark's EXISTS_DEFAULT machinery is top-level-only (see
    * [[NestedDefaults]]), with the NOT NULL declaration landing
    * alongside (parent-null-guarded, commit-enforced — see
    * [[NestedNotNull]]): half the events land inside a struct, then
    * `ADD COLUMNS (main.score BIGINT NOT NULL DEFAULT 7)` evolves the
    * member metadata-only (pinned in-query: the `#files` inventory is
    * byte-identical, the member declares NOT NULL in the reported
    * schema, and an INSERT storing NULL in it under a non-null parent
    * refuses — the append-door gate that keeps stored and served values
    * aligned) — pre-ADD rows serve 7 wherever their parent struct is
    * non-null, NULL parents stay NULL (the member exists where the
    * parent does) — then the other half lands with stored values. One
    * aggregate over default-vs-stored rows of both vintages (including
    * a filter ON the defaulted member, served by the substitution
    * Project above the scan) hash-matches a DuckDB oracle
    * reconstructing the substitution per row. */
  def qSqlNestedDefault(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val tmp = Workspace.dir("graft_sqlndef_")
    val dir = s"$tmp/t"
    spark.sql(s"CREATE TABLE graft.`$dir` " +
      "(event_id BIGINT, main STRUCT<kind: STRING, reading: DOUBLE>)")
    // every third pre-ADD row lands a NULL parent struct: the default
    // must NOT be fabricated under it
    ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id"),
        when(col("event_id") % 3 =!= 0,
          struct(col("event_type").as("kind"), col("value").as("reading")))
          .as("main"))
      .createOrReplaceTempView("q_sql_ndef_v1")
    spark.sql(s"INSERT INTO graft.`$dir` SELECT * FROM q_sql_ndef_v1")
    val filesBefore = spark.sql(s"SELECT file FROM graft.`$dir#files`")
      .collect().map(_.getString(0)).toSet
    spark.sql(s"ALTER TABLE graft.`$dir` " +
      "ADD COLUMNS (main.score BIGINT NOT NULL DEFAULT 7)")
    val filesAfter = spark.sql(s"SELECT file FROM graft.`$dir#files`")
      .collect().map(_.getString(0)).toSet
    require(filesAfter == filesBefore,
      "nested ADD NOT NULL DEFAULT must be metadata-only (zero files " +
        "rewritten)")
    require(!spark.table(s"graft.`$dir`").schema("main").dataType
      .asInstanceOf[StructType]("score").nullable,
      "the added member must declare NOT NULL (parent-null-guarded, " +
        "commit-enforced)")
    require(scala.util.Try(spark.sql(s"INSERT INTO graft.`$dir` VALUES " +
      "(0, named_struct('kind', 'x', 'reading', 0.0, 'score', " +
      "CAST(NULL AS BIGINT)))")).isFailure,
      "NULL into a defaulted NOT NULL nested member under a non-null " +
        "parent must refuse (it would silently read back as the default)")
    ev.filter(col("event_id") % 2 === 1)
      .select(col("event_id"),
        struct(col("event_type").as("kind"), col("value").as("reading"),
          (col("event_id") % 97 + 1).as("score")).as("main"))
      .createOrReplaceTempView("q_sql_ndef_v2")
    spark.sql(s"INSERT INTO graft.`$dir` SELECT * FROM q_sql_ndef_v2")
    spark.sql(s"SELECT * FROM graft.`$dir`")
      .filter(col("main").isNull || col("main.score") >= 7)
      .groupBy(coalesce(col("main.kind"), lit("(none)")).as("kind"))
      .agg(count(lit(1)).as("n"),
        count(col("main.score")).as("n_scored"),
        sum(col("main.score")).as("sum_score"),
        round(Parity.decSum2(col("main.reading")), 2).as("sum_reading"))
      .orderBy(col("kind"))
  }

  /** q_sql_constraint — the q_constraint_gate twin driven purely via
    * SQL DDL: `ALTER TABLE ADD CONSTRAINT … CHECK` declares (born-valid
    * or refused — pinned in-query: a born-broken declaration throws and
    * leaves no constraint behind), a violating `INSERT` refuses
    * atomically (pinned: zero rows of it land), a conforming INSERT
    * passes, `DROP CONSTRAINT` re-opens the gate (pinned: the previously
    * violating row now lands). The final aggregate filters the sentinel
    * back out so the hash match proves the gated landings converged to
    * exactly the events rows DuckDB aggregates. */
  def qSqlConstraint(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val tmp = Workspace.dir("graft_sqlcstr_")
    val dir = s"$tmp/t"
    spark.sql(s"CREATE TABLE graft.`$dir` " +
      "(event_id BIGINT, event_type STRING, value DOUBLE)")
    ev.filter(col("event_id") % 2 === 0)
      .createOrReplaceTempView("q_sql_cstr_v1")
    spark.sql(s"INSERT INTO graft.`$dir` SELECT * FROM q_sql_cstr_v1")
    // born-broken declaration refuses and declares nothing
    require(scala.util.Try(spark.sql(s"ALTER TABLE graft.`$dir` " +
      "ADD CONSTRAINT v_tiny CHECK (value < 1.0)")).isFailure,
      "a CHECK the live table already violates must refuse")
    require(VersionedTable.constraints(dir).isEmpty,
      "a refused declaration must leave no constraint behind")
    spark.sql(s"ALTER TABLE graft.`$dir` " +
      "ADD CONSTRAINT v_cap CHECK (value <= 1000000.0)")
    // a violating batch refuses atomically: nothing lands
    require(scala.util.Try(spark.sql(
      s"INSERT INTO graft.`$dir` VALUES (-1, 'x', 2000000.0)")).isFailure,
      "a violating INSERT must refuse")
    require(spark.table(s"graft.`$dir`")
      .filter(col("event_id") === -1).isEmpty,
      "the refused batch must not have landed any rows")
    // conforming rows pass the per-commit gate
    ev.filter(col("event_id") % 2 === 1)
      .createOrReplaceTempView("q_sql_cstr_v2")
    spark.sql(s"INSERT INTO graft.`$dir` SELECT * FROM q_sql_cstr_v2")
    // DROP re-opens the gate — the same violating row now lands
    spark.sql(s"ALTER TABLE graft.`$dir` DROP CONSTRAINT v_cap")
    spark.sql(s"INSERT INTO graft.`$dir` VALUES (-1, 'x', 2000000.0)")
    require(spark.table(s"graft.`$dir`")
      .filter(col("event_id") === -1).count() == 1,
      "DROP CONSTRAINT must re-admit the previously violating row")
    spark.sql(s"SELECT * FROM graft.`$dir`")
      .filter(col("event_id") >= 0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q_sql_merge_full — the full MERGE clause set in ONE statement over
    * the events lake table: conditional `WHEN MATCHED … UPDATE`, bare
    * `WHEN MATCHED … DELETE`, conditional `WHEN NOT MATCHED … INSERT`,
    * and `WHEN NOT MATCHED BY SOURCE … DELETE` — routed to the engine's
    * general merge (one atomic commit, pinned in-query) and hash-matched
    * against a DuckDB CTE encoding the same clause semantics on the same
    * tables. */
  def qSqlMergeFull(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val ev = events(spark, sfDir)
    val dir = Workspace.dir("graft_sqlmf_")
    VersionedTable.commitClustered(ev, dir, zCols = Seq("event_id"),
      statCols = Seq("event_id"), numFiles = 8)
    val matchedSide = ev.filter(col("event_id") % 7 === 0)
      .withColumn("value", col("value") + 500.0)
    val insertSide = ev.filter(col("event_id") % 7 === 3)
      .withColumn("event_id", col("event_id") + 20000000L)
    matchedSide.unionByName(insertSide)
      .createOrReplaceTempView("q_sql_merge_full_src")
    spark.sql(s"MERGE INTO graft.`$dir` t USING q_sql_merge_full_src s " +
      "ON t.event_id = s.event_id " +
      "WHEN MATCHED AND s.value > 560.0 THEN UPDATE SET value = s.value " +
      "WHEN MATCHED THEN DELETE " +
      "WHEN NOT MATCHED AND s.event_type = 'click' THEN INSERT * " +
      "WHEN NOT MATCHED BY SOURCE AND t.value < 5.0 THEN DELETE")
    require(VersionedTable.versions(dir) == Seq(1, 2),
      "a full-clause MERGE must land exactly one commit")
    spark.sql(s"SELECT * FROM graft.`$dir`")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q_sql_dedup — the ext/ dedup surface driven from SQL: `CALL
    * graft.dedup_ngram` lands the full Jaccard pair table through the
    * lake protocol, the catalog reads it back, and the top-20 selection
    * hash-matches q_dedup_ngram's own DuckDB oracle — the CALL provably
    * computes the identical pairs the Scala API does (pinned in-query by
    * an except() parity check against the direct call). */
  def qSqlDedup(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val docs = Tables.documents(spark, sfDir)
    docs.createOrReplaceTempView("q_sql_dedup_docs")
    val out = Workspace.dir("graft_sqldedup_") + "/out"
    spark.sql(
      s"CALL graft.dedup_ngram('q_sql_dedup_docs', '$out', '3', '0')")
    val landed = spark.sql(s"SELECT * FROM graft.`$out`")
    val direct = graft.ext.DedupOps.jaccardPairs(docs, k = 3, maxDf = None)
      .select(landed.columns.map(col).toIndexedSeq: _*)
    // order-insensitive multiset fingerprint: ONE pass per side (count +
    // wrap-safe sum of row hashes) instead of two exceptAll legs, which
    // re-executed BOTH pipelines and hash-partitioned full result sets
    // twice — same proof (multiset equality), ~10× less shuffle
    def sig(df: SqlDataFrame): (Long, Any) = {
      // hash NATIVE column bytes: both sides carry identical schemas
      // (landed is the direct frame round-tripped through parquet, which
      // is exact for long/double), and the per-row string casts were the
      // bulk of the fingerprint passes' CPU over the ~O(pairs) table.
      // All pair columns are non-null by construction, so xxhash64's
      // null-skip cannot make distinct rows collide here.
      val h = xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*)
      val r = df.agg(count(lit(1)).as("n"),
        sum(h.cast("decimal(38,0)")).as("s")).head()
      (r.getLong(0), r.get(1))
    }
    require(sig(landed) == sig(direct),
      "CALL dedup_ngram landed different pairs than the Scala API")
    landed.select(col("id_a"), col("id_b"), col("common"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
      .limit(20)
  }

  /** q_sql_topk — `CALL graft.topk_similar` lands exact cosine top-5 for
    * the probe set as a lake table; the read-back hash-matches
    * q_sim_brute's oracle. */
  def qSqlTopk(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val emb = Tables.embeddings(spark, sfDir)
    emb.filter(col("vec_id") < 10)
      .createOrReplaceTempView("q_sql_topk_queries")
    emb.createOrReplaceTempView("q_sql_topk_corpus")
    val out = Workspace.dir("graft_sqltopk_") + "/out"
    spark.sql("CALL graft.topk_similar('q_sql_topk_queries', " +
      s"'q_sql_topk_corpus', '$out', '5')")
    spark.sql(s"SELECT * FROM graft.`$out`")
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("score"), 6).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** q_sql_curate — `CALL graft.curate` lands the per-doc survival flags
    * as a lake table; the funnel aggregate over the read-back
    * hash-matches q_curation_funnel's oracle. */
  def qSqlCurate(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val all = Tables.documents(spark, sfDir)
    all.filter(col("doc_id") >= 2)
      .createOrReplaceTempView("q_sql_curate_docs")
    all.filter(col("doc_id") < 2)
      .createOrReplaceTempView("q_sql_curate_eval")
    val out = Workspace.dir("graft_sqlcurate_") + "/out"
    spark.sql("CALL graft.curate('q_sql_curate_docs', " +
      s"'q_sql_curate_eval', '$out', '0.5', '0')")
    spark.sql(s"SELECT * FROM graft.`$out`")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        sum(col("q_ok").cast("long")).as("n_quality"),
        sum((col("q_ok") && !col("is_dup")).cast("long")).as("n_dedup"),
        sum((col("q_ok") && !col("is_dup") && !col("is_cont")).cast("long"))
          .as("n_clean"))
      .orderBy(col("source"))
  }

  /** q_sql_fastagg — metadata-only aggregates from SQL: a bare
    * COUNT(*)/MIN/MAX over a landed table answers from the stats sidecar
    * as a one-row LocalScan (the SQL twin of fastCount/fastMinMax),
    * pinned in-query by refusing any plan that contains a real scan. At
    * 100 TB this is one sidecar read versus a full-table pass. */
  def qSqlFastAgg(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val ev = events(spark, sfDir)
    val dir = Workspace.dir("graft_sqlfastagg_")
    val v = VersionedTable.commit(ev, dir)
    VersionedTable.writeStats(spark, dir, v,
      Seq("event_id", "event_type", "value"))
    val q = spark.sql(s"SELECT count(*) AS n, min(event_id) AS min_id, " +
      s"max(event_id) AS max_id, min(event_type) AS min_type, " +
      s"max(event_type) AS max_type, min(value) AS min_value, " +
      s"max(value) AS max_value FROM graft.`$dir`")
    val plan = q.queryExecution.sparkPlan.toString
    require(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"aggregates were not served from the sidecar:\n$plan")
    q
  }

  /** q_sql_dpp — runtime (DPP) file skipping on the SQL surface: the
    * fact table is hidden-bucket-partitioned on the join key, the dim
    * side's surviving keys arrive as a runtime IN-filter after its
    * selective predicate evaluates, and the scan re-prunes its file list
    * through the bucket transform's derived stats BEFORE opening
    * anything — pinned in-query (files after < files before). The fact
    * side never pays for buckets the dim cannot touch, which at 100 TB
    * is the entire fact-dim join discipline. */
  def qSqlDpp(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val ev = events(spark, sfDir)
    val dir = Workspace.dir("graft_sqldpp_")
    VersionedTable.declarePartitioning(dir, Seq("bucket(8,event_type)"),
      numFiles = 8)
    VersionedTable.commit(ev, dir)
    // dim: every event type, keep-flagged only for the lexicographic min
    // and max — deterministic, and re-derivable by the oracle. Written
    // as parquet: a literal dim constant-folds to a LocalRelation whose
    // filter pre-evaluates away, and no DPP subquery gets built
    val b = ev.agg(min(col("event_type")), max(col("event_type")))
      .collect()(0)
    val (mn, mx) = (b.getString(0), b.getString(1))
    val dimTmp = Workspace.dir("graft_sqldpp_dim_")
    ev.select(col("event_type")).distinct()
      .withColumn("keep",
        (col("event_type") === mn || col("event_type") === mx).cast("int"))
      .write.mode("overwrite").parquet(dimTmp.toString)
    spark.read.parquet(dimTmp.toString)
      .createOrReplaceTempView("q_sql_dpp_dim")
    val q = spark.sql(
      s"""SELECT g.event_type AS event_type, count(*) AS n,
         |  ROUND(CAST(SUM(CAST(g.value AS DECIMAL(18,2))) AS DOUBLE), 2)
         |    AS sum_value
         |FROM graft.`$dir` g JOIN q_sql_dpp_dim d
         |  ON g.event_type = d.event_type
         |WHERE d.keep = 1
         |GROUP BY g.event_type ORDER BY event_type""".stripMargin)
    // drive one execution under a deterministic benefit estimate and pin
    // that the runtime filter actually skipped files
    val old = spark.conf.getOption(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats")
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try {
      GraftCatalog.recordRuntimePrune(0, 0)
      q.collect()
      val (before, after) = GraftCatalog.lastRuntimePrune
      require(before > 0 && after < before,
        s"runtime filter pruned nothing: $before -> $after files")
    } finally old.fold(spark.conf.unset(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats"))(
      spark.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.useStats", _))
    q
  }

  /** q_sql_spj — storage-partitioned join: two tables landed under the
    * same `bucket(16, event_id)` hidden partitioning join in SQL with
    * ZERO Exchange (pinned in-query on the executed join plan, broadcast
    * disabled for the probe so the shuffle question is actually asked).
    * Every file holds exactly one bucket (the exact-partitioner landing),
    * both scans report the layout as KeyGroupedPartitioning resolved
    * against the catalog's own `bucket` function, and Spark's v2
    * bucketing aligns them. At 100 TB this is the fact-fact join without
    * the two table-sized shuffles — the one plan shape `broadcast()`
    * cannot rescue. */
  def qSqlSpj(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val ev = events(spark, sfDir)
    val dirA = Workspace.dir("graft_sqlspj_a_")
    val dirB = Workspace.dir("graft_sqlspj_b_")
    VersionedTable.declarePartitioning(dirA, Seq("bucket(16,event_id)"))
    VersionedTable.declarePartitioning(dirB, Seq("bucket(16,event_id)"))
    VersionedTable.commit(ev, dirA)
    VersionedTable.commit(
      ev.filter(col("event_id") % 3 === 0)
        .select(col("event_id"), (col("value") * 2).as("boost")), dirB)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val olds = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val j = spark.sql(
        s"""SELECT a.event_type, b.boost
           |FROM graft.`$dirA` a JOIN graft.`$dirB` b
           |  ON a.event_id = b.event_id""".stripMargin)
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      require(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"),
        s"expected a partitioned join:\n$plan")
      require(!plan.contains("Exchange"),
        s"co-bucketed SQL join still shuffled:\n$plan")
    } finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    spark.sql(
      s"""SELECT a.event_type AS event_type, count(*) AS n,
         |  ROUND(CAST(SUM(CAST(b.boost AS DECIMAL(18,2))) AS DOUBLE), 2)
         |    AS sum_boost
         |FROM graft.`$dirA` a JOIN graft.`$dirB` b
         |  ON a.event_id = b.event_id
         |GROUP BY a.event_type ORDER BY event_type""".stripMargin)
  }

  /** q_sql_changes — incremental consumption from SQL: the
    * `#changes=A..B` ref fragment serves exactly the rows appended
    * between two pinned versions, through the SAME pruning scan builder
    * as any snapshot (pushdown + file skipping against version B's
    * sidecar), read-only. In-query pins: an empty range serves zero
    * rows, and a lineage with an overwrite in range REFUSES with the
    * same pure-append message as the Scala [[VersionedTable.readChanges]]
    * — silently serving rewritten rows as "new" would corrupt every
    * downstream incremental consumer. */
  def qSqlChanges(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val ev = events(spark, sfDir)
    val dir = Workspace.dir("graft_sqlchg_")
    VersionedTable.commit(ev.filter(col("event_id") % 3 === 0), dir)
    VersionedTable.commit(ev.filter(col("event_id") % 3 === 1), dir)
    VersionedTable.commit(ev.filter(col("event_id") % 3 === 2), dir)
    require(spark.sql(s"SELECT * FROM graft.`$dir#changes=2..2`")
      .count() == 0, "an empty changes range must serve zero rows")
    val dir2 = Workspace.dir("graft_sqlchg2_")
    VersionedTable.commit(ev.filter(col("event_id") % 100 === 0), dir2)
    VersionedTable.commit(ev.filter(col("event_id") % 100 === 1), dir2,
      append = false) // overwrite: non-append lineage
    val refused = scala.util.Try(
      spark.sql(s"SELECT * FROM graft.`$dir2#changes=1..2`").collect())
    require(refused.isFailure &&
      refused.failed.get.getMessage.contains("pure appends"),
      "a non-append range must refuse through SQL like readChanges does")
    spark.sql(s"SELECT * FROM graft.`$dir#changes=1..3`")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q_sql_change_feed — q_change_feed's snapshot CDC driven through
    * `CALL graft.change_feed`: the keyed i/u/d diff between two
    * snapshots (after-images for i/u, before-image for d — across an
    * overwrite, which the pure-append `#changes=` fragment rightly
    * refuses) lands as a table, and the feed reads back through the
    * catalog — same oracle as the Scala twin. */
  def qSqlChangeFeed(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val v2 = o.filter(col("o_orderkey") % 7 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 3 === 0, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")))
      .unionByName(
        o.select((col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
            col("o_orderstatus"), col("o_totalprice"))
          .filter(col("o_orderkey") % 11 === 0))
    val tmp = Workspace.dir("graft_sqlcdf_")
    val dir = s"$tmp/t"
    val out = s"$tmp/feed"
    VersionedTable.commit(o, dir)
    VersionedTable.commit(v2, dir, append = false)
    val res = spark.sql(
      s"CALL graft.change_feed('$dir', '$out', 'o_orderkey', '1', '2')")
    require(res.collect().map(_.getInt(0)).toSeq == Seq(1),
      "change_feed must return the out table's committed version")
    spark.sql(s"SELECT * FROM graft.`$out`")
      .groupBy(col("op"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(col("op"))
  }

  /** q_sql_catalog — the warehouse-managed lifecycle end to end:
    * a catalog configured with a warehouse root resolves BARE names
    * (`cat.corp.by_type`) under it, `CREATE NAMESPACE` + CTAS build the
    * tree, `SHOW TABLES` enumerates exactly the managed tables (pinned
    * in-query before AND after a `DROP TABLE` purge), and the surviving
    * table's content — read back through bare-name resolution —
    * hash-matches the oracle that recomputes the CTAS aggregate from
    * the raw events. The catalog name is unique per run so repeated
    * executions never see a cached instance's old warehouse root. */
  def qSqlCatalog(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val tmp = Workspace.dir("graft_sqlwh_")
    val cat = s"gwh${java.util.UUID.randomUUID().toString.take(8)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp)
    spark.sql(s"CREATE NAMESPACE $cat.corp")
    ev.createOrReplaceTempView("q_sql_cat_src")
    spark.sql(s"CREATE TABLE $cat.corp.by_type AS " +
      "SELECT event_type, COUNT(*) AS n, " +
      "ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) " +
      "AS sum_value FROM q_sql_cat_src GROUP BY event_type")
    spark.sql(s"CREATE TABLE $cat.corp.scratch AS " +
      "SELECT event_id FROM q_sql_cat_src WHERE event_id % 97 = 0")
    val listed = spark.sql(s"SHOW TABLES IN $cat.corp")
      .select(col("tableName")).collect().map(_.getString(0)).sorted.toSeq
    require(listed == Seq("by_type", "scratch"),
      s"SHOW TABLES must list exactly the managed tables, got $listed")
    spark.sql(s"DROP TABLE $cat.corp.scratch")
    val after = spark.sql(s"SHOW TABLES IN $cat.corp")
      .select(col("tableName")).collect().map(_.getString(0)).toSeq
    require(after == Seq("by_type"),
      s"DROP TABLE must purge and unlist, got $after")
    spark.sql(s"SELECT event_type, n, sum_value FROM $cat.corp.by_type " +
      "ORDER BY event_type")
  }

  /** q_sql_rtas — atomic REPLACE TABLE AS SELECT end to end: CTAS lands
    * the even half of events (v1), RTAS swaps the table to a per-type
    * aggregate with a DIFFERENT schema in ONE overwrite snapshot, and
    * the in-query pins prove the swap's atomicity story: exactly two
    * versions exist (one publish per stage), and `VERSION AS OF 1`
    * still serves the pre-replace row count through time travel. The
    * returned head hash-matches the oracle recomputing the aggregate
    * from raw events. */
  def qSqlRtas(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val tmp = Workspace.dir("graft_sqlrtas_")
    val dir = s"$tmp/t"
    ev.createOrReplaceTempView("q_sql_rtas_src")
    spark.sql(s"CREATE TABLE graft.`$dir` AS " +
      "SELECT event_id, event_type, value FROM q_sql_rtas_src " +
      "WHERE event_id % 2 = 0")
    val evens = spark.sql(s"SELECT COUNT(*) FROM graft.`$dir`")
      .head().getLong(0)
    spark.sql(s"REPLACE TABLE graft.`$dir` AS " +
      "SELECT event_type, COUNT(*) AS n, " +
      "ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) " +
      "AS sum_value FROM q_sql_rtas_src GROUP BY event_type")
    require(VersionedTable.versions(dir) == Seq(1, 2),
      "RTAS must be ONE overwrite snapshot on top of the CTAS commit")
    require(spark.sql(
      s"SELECT COUNT(*) FROM graft.`$dir` VERSION AS OF 1")
      .head().getLong(0) == evens,
      "the pre-replace snapshot must stay time-travelable")
    spark.sql(s"SELECT event_type, n, sum_value FROM graft.`$dir` " +
      "ORDER BY event_type")
  }

  /** q_sql_limit — LIMIT pushdown as minimal-file-cover admission:
    * orders lands as four single-file commits, `LIMIT 1000` over the
    * bare catalog read plans only as many files as the O(1) `rows`
    * sidecar proves sufficient (pinned in-query through the admission
    * seam — strictly fewer than the snapshot's files), and the served
    * row count hash-matches DuckDB applying the same limit. At 100 TB
    * this is every `df.show()` and interactive `LIMIT` probe opening a
    * handful of files instead of planning the whole table. */
  def qSqlLimit(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val tmp = Workspace.dir("graft_sqllim_")
    val dir = s"$tmp/t"
    (0 until 4).foreach(i => VersionedTable.commit(
      o.filter(col("o_orderkey") % 4 === i).coalesce(1), dir))
    GraftCatalog.lastLimitAdmit = (0, 0)
    // the returned plan is the COUNT over the limited subquery — a real
    // distributed aggregate (codegen span, PlanInvariantsSpec's floor),
    // not a driver-local relation; the agg never serves metadata-only
    // because the LIMIT sits between it and the relation
    val out = spark.sql(
      s"SELECT count(*) AS n FROM (SELECT * FROM graft.`$dir` LIMIT 1000)")
    require(out.head().getLong(0) == 1000L, "limit under-delivered")
    val (cand, adm) = GraftCatalog.lastLimitAdmit
    require(cand == 4 && adm > 0 && adm < 4,
      s"expected a strict file cover over 4 files: ($cand, $adm)")
    out
  }

  /** q_sql_topn — TopN pushdown as a range-stat file cover: orders
    * lands as four single-file commits with DISJOINT key ranges,
    * `ORDER BY o_orderkey DESC LIMIT 100` (the "tail the table" probe)
    * plans only the files whose range stats can reach the 100th-newest
    * key (pinned in-query — strictly fewer than the snapshot's files;
    * the zero-null proof comes from `CALL write_stats`' exact null
    * counts), and the served rows hash-match DuckDB running the same
    * ORDER BY. At 100 TB this is "show me the latest N" opening the
    * newest files only. */
  def qSqlTopn(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val hi = o.agg(max("o_orderkey")).head().getLong(0)
    val tmp = Workspace.dir("graft_sqltopn_")
    val dir = s"$tmp/t"
    // four disjoint key-range landings (what time-ordered ingest
    // produces naturally for a timestamp column)
    val cut = hi / 4 + 1
    (0 until 4).foreach(i => VersionedTable.commit(
      o.filter(col("o_orderkey") >= i * cut &&
        col("o_orderkey") < (i + 1) * cut).coalesce(1), dir))
    VersionedTable.writeStats(spark, dir,
      VersionedTable.versions(dir).last, Seq("o_orderkey"))
    GraftCatalog.lastTopNAdmit = (0, 0)
    val out = spark.sql(s"SELECT o_orderkey, o_totalprice FROM " +
      s"graft.`$dir` ORDER BY o_orderkey DESC LIMIT 100")
    val rows = out.collect()
    val (cand, adm) = GraftCatalog.lastTopNAdmit
    require(cand == 4 && adm > 0 && adm < 4,
      s"expected a strict range cover over 4 files: ($cand, $adm)")
    require(rows.length == 100, s"expected 100 rows, got ${rows.length}")
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq), out.schema)
  }

  /** q_sql_colstats — the ANALYZE loop end to end: two commits land
    * events with a derived nullable column, `CALL write_stats` records
    * the CBO ingredients, and the `#colstats` metadata view serves the
    * snapshot fold — exact null counts hash-matched against a DuckDB
    * oracle recomputing them from raw events, approximate NDV pinned
    * in-query against the exact distinct count (±2%, and full file
    * coverage) since an approximation can't hash-match. */
  def qSqlColstats(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"),
        nullif(col("event_type"), lit("click")).as("maybe"), col("value"))
    val tmp = Workspace.dir("graft_sqlcst_")
    val dir = s"$tmp/t"
    VersionedTable.commit(ev.filter(col("event_id") % 2 === 0), dir)
    VersionedTable.commit(ev.filter(col("event_id") % 2 === 1), dir)
    spark.sql(s"CALL graft.write_stats('$dir', 'event_id,maybe')")
    val view = spark.sql(s"SELECT * FROM graft.`$dir#colstats`")
    val rows = view.collect().map(r => r.getString(0) -> r).toMap
    val exactIds = ev.select(col("event_id")).distinct().count()
    val ndv = rows("event_id").getAs[Long]("ndv")
    // lgK=12 HLL has ~1.6% relative standard error; 5% ≈ 3σ
    require(math.abs(ndv - exactIds) <= exactIds / 20 + 1,
      s"HLL NDV $ndv too far from exact $exactIds")
    require(rows.values.forall(r =>
      r.getAs[Long]("files_with_stats") == r.getAs[Long]("data_files")),
      "write_stats must cover every data file")
    // the same ANALYZE pass recorded per-file KLL sketches for numeric
    // columns; under Spark's own histogram opt-in conf the snapshot fold
    // serves an equi-height histogram to the CBO — pinned here: the
    // optimizer's attribute stats carry bins whose total height is the
    // row count (the ingredient uniform min/max interpolation lacks)
    val prevCbo = spark.conf.getOption("spark.sql.cbo.enabled")
    val prevHist =
      spark.conf.getOption("spark.sql.statistics.histogram.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.statistics.histogram.enabled", "true")
      val stats = spark.sql(s"SELECT event_id FROM graft.`$dir`")
        .queryExecution.optimizedPlan.stats
      val hist = stats.attributeStats.collectFirst {
        case (a, s) if a.name == "event_id" => s.histogram
      }.flatten
      require(hist.isDefined,
        "the KLL fold must reach the optimizer as a histogram")
      val h = hist.get
      val total = ev.count()
      require(math.abs(h.height * h.bins.length - total) <=
        total * 0.02 + 1,
        s"equi-height bins must cover the rows: ${h.height} x " +
          s"${h.bins.length} vs $total")
    } finally {
      prevCbo.fold(spark.conf.unset("spark.sql.cbo.enabled"))(
        spark.conf.set("spark.sql.cbo.enabled", _))
      prevHist.fold(
        spark.conf.unset("spark.sql.statistics.histogram.enabled"))(
        spark.conf.set("spark.sql.statistics.histogram.enabled", _))
    }
    view.select(col("column").as("col_name"), col("null_count"))
      .orderBy(col("col_name"))
  }

  /** q_sql_group — multi-table transactions as snapshot groups, driven
    * from SQL end-to-end: a detail table and its 1-row stats summary
    * form a group whose invariant is "the summary describes exactly the
    * detail rows". The transaction lands BOTH table mutations through
    * ordinary commits, and the in-query pins prove group readers never
    * see the partial state (detail landed, summary stale) — only the
    * atomic `CALL group_pin` advance exposes both, `VERSION AS OF` on
    * the group handle still serves the old consistent pair, and the
    * presented head pair hash-matches DuckDB computing summary and
    * detail from the same full data. */
  def qSqlGroup(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val tmp = Workspace.dir("graft_sqlgrp_")
    val det = s"$tmp/detail"
    val sm = s"$tmp/stats"
    val g = s"$tmp/grp"
    def statsOf(df: DataFrame) = df.agg(
      count(lit(1)).as("n"), round(Parity.decSum2(col("o_totalprice")), 2)
        .as("total"))
    val even = col("o_orderkey") % 2 === 0
    VersionedTable.commit(o.filter(even), det)
    VersionedTable.commit(statsOf(o.filter(even)), sm)
    spark.sql(
      s"CALL graft.create_group('$g', 'detail=$det;stats=$sm')").collect()
    def pair(asOf: String = "") = spark.sql(
      s"""SELECT s.n AS n, s.total AS total, d.n_rows AS n_rows,
         |  d.total_rows AS total_rows
         |FROM graft.`$g#table=stats` $asOf s CROSS JOIN (
         |  SELECT COUNT(*) AS n_rows,
         |    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
         |      AS DOUBLE), 2) AS total_rows
         |  FROM graft.`$g#table=detail` $asOf) d""".stripMargin)
    val before = pair().head()
    require(before.getLong(0) == before.getLong(2),
      s"group v1 must be internally consistent: $before")
    // the transaction: land BOTH mutations, group still serves v1
    val dv = VersionedTable.commit(o.filter(!even), det)
    val sv = VersionedTable.commit(statsOf(o), sm, append = false)
    val partial = pair().head()
    require(partial == before,
      s"group readers saw a partial transaction: $partial vs $before")
    // the atomic advance — ONE group version pins both new table versions
    val gv = spark.sql(
      s"CALL graft.group_pin('$g', 'detail=$dv;stats=$sv')")
      .head().getInt(0)
    require(gv == 2, s"group_pin returned $gv")
    val after = pair().head()
    require(after.getLong(0) == after.getLong(2) &&
      after.getLong(0) > before.getLong(0),
      s"group v2 must serve the full consistent pair: $after")
    // time travel on the GROUP: v1 is still the old consistent pair
    require(pair("VERSION AS OF 1").head() == before,
      "group time travel must serve the prior cross-table snapshot")
    pair()
  }

  /** q_sql_compact_where — predicate-scoped maintenance under the
    * oracle gate: events lands as three disjoint event_id bands of two
    * files each, `CALL compact_where` packs ONE band (pinned in-query:
    * exactly that band's pair rewrites, every other file survives at
    * its original path), and the head aggregate hash-matches DuckDB
    * over the raw table — the logical rewrite preserved every row. At
    * 100 TB this is compacting today's partition without touching the
    * other 10^5 files' worth of history. */
  def qSqlCompactWhere(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val ev = events(spark, sfDir)
    val dir = Workspace.dir("graft_sqlcw_")
    val hi = ev.agg(max("event_id")).head().getLong(0)
    val cut = hi / 3 + 1
    (0 until 3).foreach(i => VersionedTable.commit(
      ev.filter(col("event_id") >= i * cut &&
        col("event_id") < (i + 1) * cut).repartition(2), dir))
    val v0 = VersionedTable.versions(dir).last
    VersionedTable.writeStats(spark, dir, v0, Seq("event_id"))
    val before = VersionedTable.prunedFiles(dir, v0,
      "event_id", Long.MinValue, Long.MaxValue)
    val band0 = VersionedTable.prunedFiles(dir, v0,
      "event_id", 0L, cut - 1).toSet
    require(before.size == 6 && band0.size == 2,
      s"fixture shape: ${before.size} files, band0 ${band0.size}")
    spark.sql(s"CALL graft.compact_where('$dir', 'event_id', '0', " +
      s"'${cut - 1}', '${1L << 30}')").collect()
    val v1 = VersionedTable.versions(dir).last
    val after = VersionedTable.prunedFiles(dir, v1,
      "event_id", Long.MinValue, Long.MaxValue)
    require(after.size == 5,
      s"band-0 pair must pack to one file: ${after.size}")
    require((before.toSet -- band0).subsetOf(after.toSet),
      "out-of-scope files must survive at their original paths")
    spark.sql(s"SELECT * FROM graft.`$dir`")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q_sql_zorder_where — scoped MULTI-KEY clustering under the oracle
    * gate: events lands as three disjoint event_id bands of two
    * arrival-ordered files each, `CALL zorder_where` re-lays out ONE
    * band z-ordered on (event_id, value) — pinned in-query: exactly that
    * band rewrites (every other file survives at its original path, the
    * O(slice) contract) AND a narrow probe on EACH z-column skips some
    * of the new z-files (multi-dimensional layout actually prunes, on
    * both dimensions) — then the hash-matched aggregate reads THROUGH
    * the pruned path: the final WHERE carries both z-columns. At 100 TB
    * this is clustering a hot slice without touching the other 10^5
    * files' worth of history — optimizeZorder's whole-table rewrite
    * stays for global re-layout. */
  def qSqlZorderWhere(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val ev = events(spark, sfDir)
    val dir = Workspace.dir("graft_sqlzw_")
    val hi = ev.agg(max("event_id")).head().getLong(0)
    val cut = hi / 3 + 1
    (0 until 3).foreach(i => VersionedTable.commit(
      ev.filter(col("event_id") >= i * cut &&
        col("event_id") < (i + 1) * cut).repartition(2), dir))
    val v0 = VersionedTable.versions(dir).last
    VersionedTable.writeStats(spark, dir, v0, Seq("event_id"))
    val before = VersionedTable.prunedFiles(dir, v0,
      "event_id", Long.MinValue, Long.MaxValue)
    val band0 = VersionedTable.prunedFiles(dir, v0,
      "event_id", 0L, cut - 1).toSet
    require(before.size == 6 && band0.size == 2,
      s"fixture shape: ${before.size} files, band0 ${band0.size}")
    val bandBytes = band0.toSeq.map(f => new java.io.File(f).length).sum
    spark.sql(s"CALL graft.zorder_where('$dir', 'event_id', '0', " +
      s"'${cut - 1}', 'event_id,value', '${math.max(1L, bandBytes / 6)}')")
      .collect()
    val v1 = VersionedTable.versions(dir).last
    val after = VersionedTable.prunedFiles(dir, v1,
      "event_id", Long.MinValue, Long.MaxValue)
    val kept = before.toSet -- band0
    require(kept.subsetOf(after.toSet),
      "out-of-scope files must survive at their original paths")
    val zFiles = (after.toSet -- kept).toSeq
    require(zFiles.size >= 4, s"z-rewrite produced ${zFiles.size} files")
    val idAdmit = VersionedTable.prunedFiles(dir, v1,
      "event_id", 0L, cut / 8).toSet
    require(zFiles.count(idAdmit) < zFiles.size,
      "event_id probe skipped nothing inside the z-scope")
    val vAdmit = VersionedTable.prunedFiles(dir, v1,
      "value", 0.0d, 30.0d).toSet
    require(zFiles.count(vAdmit) < zFiles.size,
      "value probe skipped nothing inside the z-scope")
    spark.sql(s"SELECT * FROM graft.`$dir`")
      .filter(col("event_id") < cut / 4 &&
        col("value").between(5.0, 60.0))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q_sql_asof — the engine's one custom relational operator through
    * its SQL front door: `CALL graft.asof_join(...)` lands the sorted-
    * merge as-of join of two views through the table protocol (the
    * ext-procedure pattern), and the landed table hash-matches DuckDB's
    * NATIVE `ASOF LEFT JOIN` — [[graft.operators.AsOf.qAsofJoin]]'s
    * oracle verbatim, so the Scala DSL and the SQL door provably compute
    * the same operator. */
  def qSqlAsof(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val ev = Tables.events(spark, sfDir)
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
      .createOrReplaceTempView("q_sql_asof_purchases")
    ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id").as("s_user_id"), col("ts").as("s_ts"))
      .agg(org.apache.spark.sql.functions.min(col("event_id"))
        .as("signup_event_id"))
      .createOrReplaceTempView("q_sql_asof_signups")
    val tmp = Workspace.dir("graft_sqlasof_")
    val dir = s"$tmp/t"
    spark.sql(s"CALL graft.asof_join('q_sql_asof_purchases', " +
      "'q_sql_asof_signups', 'user_id', 'ts', 's_user_id', 's_ts', " +
      s"'$dir', 'backward')").collect()
    spark.sql(s"SELECT event_id, user_id, signup_event_id " +
      s"FROM graft.`$dir` ORDER BY event_id")
  }

  /** q_sql_asof_tvf — the as-of join INLINE in SELECT via the
    * table-valued function (`FROM asof_join(...)`) — the composing twin
    * of q_sql_asof's landing CALL: no materialization, the TVF expands
    * at analysis time to the same AsOfJoinPlan the Scala DSL builds, and
    * the surrounding query (projection + ORDER BY here) composes around
    * it like any relation. The purchase side arrives as an INLINE
    * relation via the standard `TABLE(SELECT … WHERE …)` argument
    * syntax (mixed with a named view on the other side) — composing the
    * as-of over a filtered subquery needs no temp-view hop. Pinned
    * in-query: the EXECUTED plan contains AsOfJoinExec (the sorted-merge
    * exec, not a rewrite), a bad direction refuses, and a PARTITION
    * BY-decorated TABLE argument refuses (the as-of defines its own
    * per-key ordering). Hash-matches [[graft.operators.AsOf.qAsofJoin]]'s
    * DuckDB native-ASOF oracle verbatim — third surface, same oracle. */
  def qSqlAsofTvf(spark: SparkSession, sfDir: String): DataFrame = {
    org.apache.spark.sql.graft.AsOfJoinTvf.register(spark)
    val ev = Tables.events(spark, sfDir)
    ev.select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"))
      .createOrReplaceTempView("q_sql_asof_tvf_events")
    ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id").as("s_user_id"), col("ts").as("s_ts"))
      .agg(org.apache.spark.sql.functions.min(col("event_id"))
        .as("signup_event_id"))
      .createOrReplaceTempView("q_sql_asof_tvf_signups")
    // the purchase side arrives as an INLINE relation — the standard
    // `TABLE(SELECT … WHERE …)` argument, no temp-view hop — mixed with
    // a named view on the signup side; both expand into ONE AsOfJoinPlan
    val out = spark.sql(
      "SELECT event_id, user_id, signup_event_id " +
        "FROM asof_join(" +
        "TABLE(SELECT user_id, event_id, ts FROM q_sql_asof_tvf_events " +
        "WHERE event_type = 'purchase'), " +
        "'q_sql_asof_tvf_signups', 'user_id', 'ts', 's_user_id', 's_ts', " +
        "'backward') " +
        "ORDER BY event_id")
    val plan = out.queryExecution.executedPlan.toString
    require(plan.contains("AsOfJoin"),
      "the TVF must plan through AsOfJoinExec (sorted-merge), not a " +
        s"rewrite:\n$plan")
    require(scala.util.Try(spark.sql(
      "SELECT * FROM asof_join('q_sql_asof_tvf_events', " +
        "'q_sql_asof_tvf_signups', 'user_id', 'ts', 's_user_id', 's_ts', " +
        "'sideways')").collect()).isFailure,
      "a bad direction must refuse at analysis time")
    require(scala.util.Try(spark.sql(
      "SELECT * FROM asof_join(" +
        "TABLE(SELECT * FROM q_sql_asof_tvf_events) PARTITION BY user_id, " +
        "'q_sql_asof_tvf_signups', 'user_id', 'ts', 's_user_id', 's_ts')")
      .collect()).isFailure,
      "PARTITION BY on a TABLE argument must refuse — the as-of defines " +
        "its own per-key ordering")
    out
  }

  /** q_sql_cdf — the keyed change-data feed as a read-only SQL handle:
    * the same two-appends-then-MERGE lineage as q_cdf_stream, consumed
    * through `graft.`t#cdf=0..3`` instead of the streaming reader — the
    * two doors share [[graft.sources.TableStreamSource.cdfSlice]] AND
    * this query shares q_cdf_stream's oracle verbatim, so SQL parity is
    * proven end-to-end: per-transition i/u/d history (u = after image,
    * d = before image), keyed by the `cdf.key` table property. Pinned
    * in-query: the feed plan is distributed (no LocalTableScan — the
    * fragment serves through the DSv2→v1 bridge, never a driver
    * collect) and a sub-range serves only its own transitions. */
  def qSqlCdf(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val tmp = Workspace.dir("graft_sqlcdf_")
    val src = s"$tmp/t"
    VersionedTable.commit(ev.filter(col("event_id") % 2 === 0), src)
    VersionedTable.commit(ev.filter(col("event_id") % 2 === 1), src)
    val changes = ev.filter(col("event_id") % 7 === 0 &&
        col("event_id") % 10 =!= 0)
      .withColumn("value", col("value") + 1).withColumn("op", lit("u"))
      .unionByName(ev.filter(col("event_id") % 10 === 0)
        .withColumn("op", lit("d")))
    VersionedTable.mergeChanges(spark, src, changes, "event_id")
    spark.sql(s"ALTER TABLE graft.`$src` " +
      "SET TBLPROPERTIES ('cdf.key' = 'event_id')")
    val feed = spark.sql(s"SELECT * FROM graft.`$src#cdf=0..3`")
    val plan = feed.queryExecution.executedPlan.toString
    require(!plan.contains("LocalTableScan"),
      "the #cdf= feed must serve distributed, never a driver collect")
    // a sub-range serves only its own transitions: (2, 3] is the MERGE
    // diff alone — no `i` rows from the two appends
    require(spark.sql(s"SELECT DISTINCT op FROM graft.`$src#cdf=2..3`")
      .collect().map(_.getString(0)).sorted.sameElements(Array("d", "u")),
      "'#cdf=2..3' must serve only the MERGE transition's u/d rows")
    feed.groupBy(col("op"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("value")), 2).as("sum_value"))
      .orderBy(col("op"), col("event_type"))
  }

  /** q_sql_nested_stats — file-level pruning on a NESTED leaf, composed
    * with a nested RENAME: events land as three disjoint bands inside a
    * struct column, the member renames (metadata-only), `CALL
    * write_stats(dir, 'main.reading')` records bounds for the LOGICAL
    * dotted path (translated to the physical one the sidecar is keyed
    * by), and the hash-matched aggregate reads through a nested-leaf
    * WHERE — pinned in-query to have skipped two of the three band
    * files. At 100 TB this is the raw-document table (weather_etl.py's
    * `main.temp`) answering a nested range predicate by opening one
    * band, not the archive. */
  def qSqlNestedStats(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"))
    val tmp = Workspace.dir("graft_sqlnstats_")
    val dir = s"$tmp/t"
    spark.sql(s"CREATE TABLE graft.`$dir` (event_id BIGINT, " +
      "main STRUCT<temp: DOUBLE, kind: STRING>)")
    val hi = ev.agg(max("event_id")).head().getLong(0)
    val cut = hi / 3 + 1
    (0 until 3).foreach { i =>
      ev.filter(col("event_id") >= i * cut && col("event_id") < (i + 1) * cut)
        .select(col("event_id"),
          struct(col("event_id").cast("double").as("temp"),
            col("event_type").as("kind")).as("main"))
        .coalesce(1)
        .createOrReplaceTempView(s"q_sql_nstats_b$i")
      spark.sql(s"INSERT INTO graft.`$dir` SELECT * FROM q_sql_nstats_b$i")
    }
    spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN main.temp TO reading")
    spark.sql(s"CALL graft.write_stats('$dir', 'main.reading')").collect()
    // pin the prune on a forced probe; the RETURNED frame stays a live
    // distributed plan (PlanInvariantsSpec expects codegen spans)
    // <= cut-1, not < cut: the manifest range probe is closed-interval
    // (superset guarantee), so a strict bound AT band 1's exact min
    // would admit that band too
    spark.sql(s"SELECT COUNT(*) FROM graft.`$dir` " +
      s"WHERE main.reading <= ${cut - 1}").collect()
    val (total, kept) = GraftCatalog.lastScanPrune
    require(total == 3 && kept == 1,
      s"nested-leaf pruning kept $kept of $total band files")
    spark.sql(s"SELECT * FROM graft.`$dir`")
      .filter(col("main.reading") <= cut - 1)
      .groupBy(col("main.kind").as("kind"))
      .agg(count(lit(1)).as("n"),
        sum(col("main.reading")).cast("long").as("sum_reading"))
      .orderBy(col("kind"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sql_cdf" -> (qSqlCdf _),
    "q_sql_nested_stats" -> (qSqlNestedStats _),
    "q_sql_asof" -> (qSqlAsof _),
    "q_sql_asof_tvf" -> (qSqlAsofTvf _),
    "q_sql_zorder_where" -> (qSqlZorderWhere _),
    "q_sql_compact_where" -> (qSqlCompactWhere _),
    "q_sql_group" -> (qSqlGroup _),
    "q_sql_colstats" -> (qSqlColstats _),
    "q_sql_limit" -> (qSqlLimit _),
    "q_sql_topn" -> (qSqlTopn _),
    "q_sql_rtas" -> (qSqlRtas _),
    "q_sql_catalog" -> (qSqlCatalog _),
    "q_sql_changes" -> (qSqlChanges _),
    "q_sql_change_feed" -> (qSqlChangeFeed _),
    "q_sql_spj" -> (qSqlSpj _),
    "q_sql_fastagg" -> (qSqlFastAgg _),
    "q_sql_dpp" -> (qSqlDpp _),
    "q_sql_rename" -> (qSqlRename _),
    "q_sql_nested_evolution" -> (qSqlNestedEvolution _),
    "q_sql_elem_evolution" -> (qSqlElemEvolution _),
    "q_sql_nested_default" -> (qSqlNestedDefault _),
    "q_sql_default" -> (qSqlDefault _),
    "q_sql_constraint" -> (qSqlConstraint _),
    "q_sql_merge_full" -> (qSqlMergeFull _),
    "q_sql_dedup" -> (qSqlDedup _),
    "q_sql_topk" -> (qSqlTopk _),
    "q_sql_curate" -> (qSqlCurate _),
    "q_sql_time_travel" -> (qSqlTimeTravel _),
    "q_sql_merge" -> (qSqlMerge _),
    "q_sql_delete" -> (qSqlDelete _),
    "q_sql_ddl_insert" -> (qSqlDdlInsert _),
    "q_sql_alter" -> (qSqlAlter _),
    "q_sql_branch" -> (qSqlBranch _),
    "q_sql_update" -> (qSqlUpdate _))

  val oracles: Map[String, String] = Map(
    // the SQL door provably computes the same operator as the Scala DSL:
    // one oracle, shared verbatim (DuckDB's native ASOF LEFT JOIN)
    "q_sql_asof" -> graft.operators.AsOf.oracles("q_asof_join"),
    "q_sql_asof_tvf" -> graft.operators.AsOf.oracles("q_asof_join"),
    // the '#cdf=' fragment provably serves the streaming reader's feed:
    // q_cdf_stream's oracle, shared verbatim
    "q_sql_cdf" -> graft.sources.TableStream.oracles("q_cdf_stream"),
    "q_sql_nested_stats" ->
      """WITH m AS (SELECT MAX(event_id) // 3 + 1 AS cut FROM events)
        |SELECT event_type AS kind, COUNT(*) AS n,
        |  CAST(SUM(event_id) AS BIGINT) AS sum_reading
        |FROM events, m
        |WHERE event_id < m.cut
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_sql_zorder_where" ->
      """WITH m AS (SELECT MAX(event_id) // 3 + 1 AS cut FROM events)
        |SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM events, m
        |WHERE event_id < m.cut // 4 AND value BETWEEN 5.0 AND 60.0
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_sql_compact_where" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_sql_group" ->
      """SELECT COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS total,
        |  COUNT(*) AS n_rows,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS total_rows
        |FROM orders""".stripMargin,
    "q_sql_limit" ->
      """SELECT COUNT(*) AS n
        |FROM (SELECT * FROM orders LIMIT 1000) AS t""".stripMargin,
    "q_sql_topn" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderkey DESC LIMIT 100""".stripMargin,
    "q_sql_colstats" ->
      """SELECT 'event_id' AS col_name, CAST(0 AS BIGINT) AS null_count
        |UNION ALL
        |SELECT 'maybe' AS col_name,
        |  (SELECT COUNT(*) FROM events WHERE event_type = 'click')
        |    AS null_count
        |ORDER BY col_name""".stripMargin,
    "q_sql_rtas" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_sql_catalog" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_sql_changes" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM events
        |WHERE event_id % 3 <> 0
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // the CALL drives the exact q_change_feed surface — shared oracle
    "q_sql_change_feed" -> LakeQueries.oracles("q_change_feed"),
    "q_sql_spj" ->
      """WITH b AS (SELECT event_id, value * 2 AS boost FROM events
        |           WHERE event_id % 3 = 0)
        |SELECT e.event_type AS event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(b.boost AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_boost
        |FROM events e JOIN b ON e.event_id = b.event_id
        |GROUP BY e.event_type
        |ORDER BY event_type""".stripMargin,
    "q_sql_fastagg" ->
      """SELECT COUNT(*) AS n, MIN(event_id) AS min_id,
        |  MAX(event_id) AS max_id, MIN(event_type) AS min_type,
        |  MAX(event_type) AS max_type, MIN(value) AS min_value,
        |  MAX(value) AS max_value
        |FROM events""".stripMargin,
    "q_sql_dpp" ->
      """WITH b AS (SELECT MIN(event_type) AS mn, MAX(event_type) AS mx
        |           FROM events)
        |SELECT e.event_type AS event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM events e, b
        |WHERE e.event_type = b.mn OR e.event_type = b.mx
        |GROUP BY e.event_type
        |ORDER BY event_type""".stripMargin,
    // the CALL-procedure queries reproduce their Scala twins' surfaces
    // exactly, so they share the twins' oracles verbatim — one oracle,
    // two provably-identical paths
    "q_sql_dedup" -> graft.ext.DedupOps.oracles("q_dedup_ngram"),
    "q_sql_topk" -> graft.ext.Similarity.oracles("q_sim_brute"),
    "q_sql_curate" -> graft.ext.Curation.oracles("q_curation_funnel"),
    "q_sql_merge_full" ->
      """WITH src AS (
        |  SELECT event_id, event_type, value + 500.0 AS value
        |  FROM events WHERE event_id % 7 = 0
        |  UNION ALL
        |  SELECT event_id + 20000000 AS event_id, event_type, value
        |  FROM events WHERE event_id % 7 = 3
        |), merged AS (
        |  -- WHEN MATCHED AND s.value > 560 THEN UPDATE; else DELETE
        |  SELECT t.event_id, t.event_type, s.value
        |  FROM events t JOIN src s USING (event_id)
        |  WHERE COALESCE(s.value > 560.0, FALSE)
        |  UNION ALL
        |  -- WHEN NOT MATCHED BY SOURCE AND t.value < 5 THEN DELETE
        |  SELECT t.event_id, t.event_type, t.value FROM events t
        |  WHERE NOT EXISTS (SELECT 1 FROM src s
        |                    WHERE s.event_id = t.event_id)
        |    AND NOT COALESCE(t.value < 5.0, FALSE)
        |  UNION ALL
        |  -- WHEN NOT MATCHED AND s.event_type = 'click' THEN INSERT *
        |  SELECT s.event_id, s.event_type, s.value FROM src s
        |  WHERE NOT EXISTS (SELECT 1 FROM events t
        |                    WHERE t.event_id = s.event_id)
        |    AND COALESCE(s.event_type = 'click', FALSE)
        |)
        |SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM merged
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_sql_rename" ->
      """SELECT event_type, COUNT(*) AS n,
        |  COUNT(CASE WHEN event_id % 2 = 1 THEN 1 END) AS n_wide,
        |  MAX(CASE WHEN event_id % 2 = 1 THEN event_id + 10000000000
        |      ELSE event_id END) AS max_id,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_sql_nested_evolution" ->
      """WITH evolved AS (
        |  SELECT event_type AS kind, value AS reading,
        |    CAST(NULL AS BIGINT) AS score
        |  FROM events WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT event_type, value, event_id % 97
        |  FROM events WHERE event_id % 2 = 1
        |)
        |SELECT kind, COUNT(*) AS n, COUNT(score) AS n_scored,
        |  CAST(SUM(score) AS BIGINT) AS sum_score,
        |  ROUND(CAST(SUM(CAST(reading AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_reading
        |FROM evolved
        |GROUP BY kind
        |ORDER BY kind""".stripMargin,
    "q_sql_elem_evolution" ->
      """WITH evolved AS (
        |  SELECT event_type AS kind,
        |    CAST(event_id % 50 AS BIGINT) AS n_val,
        |    CAST(NULL AS DOUBLE) AS score,
        |    3 AS q
        |  FROM events WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT event_type, event_id % 50 + 10000000000, value,
        |    CAST(event_id % 5 AS INT)
        |  FROM events WHERE event_id % 2 = 1
        |)
        |SELECT kind, COUNT(*) AS n, COUNT(score) AS n_scored,
        |  CAST(SUM(n_val) AS BIGINT) AS sum_n,
        |  ROUND(CAST(SUM(CAST(score AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_score,
        |  CAST(SUM(q) AS BIGINT) AS sum_q
        |FROM evolved
        |GROUP BY kind
        |ORDER BY kind""".stripMargin,
    "q_sql_nested_default" ->
      """WITH evolved AS (
        |  SELECT CASE WHEN event_id % 3 <> 0 THEN event_type END AS kind,
        |    CASE WHEN event_id % 3 <> 0 THEN value END AS reading,
        |    CASE WHEN event_id % 3 <> 0 THEN CAST(7 AS BIGINT) END
        |      AS score,
        |    (event_id % 3 = 0) AS parent_null
        |  FROM events WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT event_type, value, event_id % 97 + 1, FALSE
        |  FROM events WHERE event_id % 2 = 1
        |)
        |SELECT COALESCE(kind, '(none)') AS kind, COUNT(*) AS n,
        |  COUNT(score) AS n_scored,
        |  CAST(SUM(score) AS BIGINT) AS sum_score,
        |  ROUND(CAST(SUM(CAST(reading AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_reading
        |FROM evolved
        |WHERE parent_null OR score >= 7
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q_sql_default" ->
      """WITH evolved AS (
        |  SELECT event_type, value, 7 AS score, 'c' AS grade
        |  FROM events WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT event_type, value, CAST(event_id % 100 AS INT) AS score,
        |    substr(event_type, 1, 1) AS grade
        |  FROM events WHERE event_id % 2 = 1
        |)
        |SELECT grade, COUNT(*) AS n,
        |  CAST(SUM(score) AS BIGINT) AS sum_score,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM evolved
        |GROUP BY grade
        |ORDER BY grade""".stripMargin,
    "q_sql_constraint" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_sql_ddl_insert" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-09 00:00:00'
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_sql_time_travel" ->
      """SELECT event_type,
        |  COUNT(CASE WHEN event_id % 2 = 0 THEN 1 END) AS n_v1,
        |  ROUND(CAST(SUM(CASE WHEN event_id % 2 = 0
        |    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 2) AS sum_v1,
        |  COUNT(*) AS n_v2,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_v2
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_sql_merge" ->
      """WITH src AS (
        |  SELECT event_id, event_type, value + 1000.0 AS value
        |  FROM events WHERE event_id % 10 = 0
        |  UNION ALL
        |  SELECT event_id + 10000000 AS event_id, event_type, value
        |  FROM events WHERE event_id % 10 = 1
        |), merged AS (
        |  SELECT * FROM src
        |  UNION ALL
        |  SELECT e.event_id, e.event_type, e.value FROM events e
        |  WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.event_id = e.event_id)
        |)
        |SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM merged
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_sql_delete" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM events
        |WHERE NOT (value > 90.0)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_sql_alter" ->
      """SELECT event_type, COUNT(*) AS n,
        |  COUNT(CASE WHEN event_id % 2 = 1 THEN 1 END) AS n_note,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_sql_branch" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(CASE WHEN event_id % 10 = 7
        |    THEN value + 1000.0 ELSE value END AS DECIMAL(18,2)))
        |    AS DOUBLE), 2) AS sum_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_sql_update" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(CASE WHEN event_id % 10 = 0
        |    THEN value + 1000.0 ELSE value END AS DECIMAL(18,2)))
        |    AS DOUBLE), 2) AS sum_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)
}
