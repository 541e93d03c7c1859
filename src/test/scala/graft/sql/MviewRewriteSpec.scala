package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sinks.VersionedTable

/** Materialized aggregate views + transparent rewrite: a FRESH view
  * answers derivable aggregates with the base table never scanned; any
  * doubt (staleness, non-derivable expression, filter on a measure,
  * distinct, slices, time travel to a pre-view version) falls back to
  * the base scan — correctness never rides on the rewrite firing. */
class MviewRewriteSpec extends SparkSpec {
  import spark.implicits._

  private val ops = VersionedTable

  private def register(): Unit =
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)

  /** (src, view) with the standard fixture: 3 event types, 2 days,
    * nullable measure `mv`, non-null measure `v`. */
  private def fixture(prefix: String): (String, String) = {
    register()
    val src = tmpDir(s"$prefix-src")
    val view = tmpDir(s"$prefix-view") + "/v"
    val rows = (0 until 600).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(
        if (i % 2 == 0) "2024-03-01 10:00:00" else "2024-03-02 10:00:00"),
        s"t${i % 3}", i * 1.5,
        if (i % 5 == 0) null else java.lang.Double.valueOf(i * 2.0))
    }
    ops.commit(rows.toDF("id", "ts", "etype", "v", "mv"), src)
    Mview.createAggView(spark, src, view,
      "day=cast(ts as date);etype",
      "n=count(1);sum_v=sum(v);min_v=min(v);max_v=max(v);n_v=count(v);" +
        "sum_mv=sum(mv);n_mv=count(mv)")
    (src, view)
  }

  private def scansView(df: DataFrame, view: String, src: String): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    plan.contains(view) && !plan.contains(s"$src/data")
  }
  private def scansBase(df: DataFrame, src: String): Boolean =
    df.queryExecution.executedPlan.toString.contains(s"$src/data")

  test("optimizer-IO canary: re-planning over an unchanged table does " +
      "ZERO property-file reads (the rewrite rule runs per Aggregate per " +
      "fixed-point iteration — behind an object store each uncached read " +
      "is a GET per plan)") {
    val (src, view) = fixture("mv-canary")
    def planOnce(): Unit = spark.sql(
      s"""SELECT etype, count(*) AS n, sum(v) AS s
         |FROM graft.`$src` GROUP BY 1""".stripMargin)
      .queryExecution.executedPlan
    planOnce() // warm: the first plan may pay the one allowed miss
    val before = ops.propsReads.get()
    (1 to 4).foreach(_ => planOnce())
    val delta = ops.propsReads.get() - before
    assert(delta == 0,
      s"optimizer re-read table properties $delta times over an " +
        "unchanged table; the properties memo must absorb repeat plans")
    // view still answers the query after the memoized plans — the memo
    // must not have pinned a stale attachment
    val df = spark.sql(s"SELECT etype, count(*) AS n FROM graft.`$src` " +
      "GROUP BY 1")
    assert(scansView(df, view, src))
  }

  test("exact-group, subset-rollup and global aggregates rewrite to the view") {
    val (src, view) = fixture("mv-basic")
    val exact = spark.sql(
      s"""SELECT cast(ts as date) AS day, etype, count(*) AS n, sum(v) AS s
         |FROM graft.`$src` GROUP BY 1, 2""".stripMargin)
    assert(scansView(exact, view, src), "exact-group query must read the view")
    val direct = ops.read(spark, src).groupBy(
      col("ts").cast("date").as("day"), col("etype"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    assert(exact.collect().toSet == direct.collect().toSet)

    val rollup = spark.sql(
      s"SELECT etype, count(*) AS n, min(v) AS lo FROM graft.`$src` GROUP BY 1")
    assert(scansView(rollup, view, src))
    assert(rollup.collect().toSet ==
      ops.read(spark, src).groupBy(col("etype"))
        .agg(count(lit(1)), min(col("v"))).collect().toSet)

    val global = spark.sql(s"SELECT count(*) AS n, max(v) AS hi, " +
      s"sum(v) AS s FROM graft.`$src` WHERE etype = 't1'")
    assert(scansView(global, view, src))
    val row = global.head()
    assert(row.getLong(0) == 200L)
  }

  test("expression rollup over a derived dimension, and min/max read dims") {
    val (src, view) = fixture("mv-expr")
    val q = spark.sql(
      s"""SELECT month(cast(ts as date)) AS m, count(*) AS n,
         |  max(cast(ts as date)) AS last_day
         |FROM graft.`$src` GROUP BY 1""".stripMargin)
    assert(scansView(q, view, src),
      "month() over the day dimension must rewrite")
    val r = q.head()
    assert(r.getInt(0) == 3 && r.getLong(1) == 600L &&
      r.getDate(2).toString == "2024-03-02")
  }

  test("avg derives from sum+count with exact null semantics") {
    val (src, view) = fixture("mv-avg")
    // mv is nullable: avg must divide by count(mv), not count(*)
    val q = spark.sql(s"SELECT etype, avg(mv) AS a FROM graft.`$src` " +
      "GROUP BY 1")
    assert(scansView(q, view, src))
    val direct = ops.read(spark, src).groupBy(col("etype"))
      .agg(avg(col("mv"))).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    q.collect().foreach(r =>
      assert(math.abs(r.getDouble(1) - direct(r.getString(0))) < 1e-9))
    // global avg through the count(v) state column
    val q2 = spark.sql(s"SELECT avg(v) AS a FROM graft.`$src`")
    assert(scansView(q2, view, src))
    assert(math.abs(q2.head().getDouble(0) - (599.0 * 1.5 / 2)) < 1e-9)
  }

  test("filters on dimensions rewrite; filters on measures fall back") {
    val (src, view) = fixture("mv-filter")
    val onDim = spark.sql(s"SELECT count(*) AS n FROM graft.`$src` " +
      "WHERE cast(ts as date) = date'2024-03-01' AND etype <> 't2'")
    assert(scansView(onDim, view, src))
    assert(onDim.head().getLong(0) == 200L)
    val onMeasure = spark.sql(s"SELECT count(*) AS n FROM graft.`$src` " +
      "WHERE v > 100.0")
    assert(scansBase(onMeasure, src),
      "a measure filter is not derivable; must scan the base")
  }

  test("staleness, distinct, count(col) without state, and slices fall back") {
    val (src, view) = fixture("mv-fallback")
    val q = s"SELECT etype, count(*) AS n FROM graft.`$src` GROUP BY 1"
    assert(scansView(spark.sql(q), view, src))
    // distinct aggregates are not derivable
    assert(scansBase(spark.sql(
      s"SELECT count(DISTINCT id) FROM graft.`$src` GROUP BY etype"), src))
    // count(id): no count-of-id state column
    assert(scansBase(spark.sql(
      s"SELECT etype, count(id) FROM graft.`$src` GROUP BY 1"), src))
    // append → stale view → fallback; refresh → rewrite again
    ops.commit(Seq((9999L, java.sql.Timestamp.valueOf("2024-03-03 00:00:00"),
      "t0", 1.0, java.lang.Double.valueOf(1.0)))
      .toDF("id", "ts", "etype", "v", "mv"), src)
    val stale = spark.sql(q)
    assert(scansBase(stale, src), "a stale view must never serve")
    assert(stale.collect().map(_.getLong(1)).sum == 601L)
    val r = Mview.refreshView(spark, view)
    assert(r.mode == "incremental", s"refresh after append was ${r.mode}")
    val freshAgain = spark.sql(q)
    assert(scansView(freshAgain, view, src))
    assert(freshAgain.collect().map(_.getLong(1)).sum == 601L)
    // VERSION AS OF the pre-append snapshot: view (at v2) must not serve v1
    assert(scansBase(spark.sql(s"SELECT etype, count(*) AS n FROM " +
      s"graft.`$src` VERSION AS OF 1 GROUP BY 1"), src))
    // a #changes slice is not a snapshot — never rewritten
    assert(scansBase(spark.sql(s"SELECT etype, count(*) AS n FROM " +
      s"graft.`$src#changes=1..2` GROUP BY 1"), src))
  }

  test("rewritten output binds under parent operators (order/having/join)") {
    val (src, view) = fixture("mv-parent")
    val q = spark.sql(
      s"""SELECT etype, count(*) AS n, round(sum(v), 2) AS s
         |FROM graft.`$src` GROUP BY etype HAVING count(*) > 0
         |ORDER BY s DESC""".stripMargin)
    assert(scansView(q, view, src))
    val rows = q.collect()
    assert(rows.length == 3 && rows.map(_.getLong(1)).sum == 600L)
    assert(rows.map(_.getDouble(2)).toSeq ==
      rows.map(_.getDouble(2)).sortBy(-_).toSeq)
  }

  test("decimal sums rewrite with the re-sum cast back to the query type") {
    val (src, view) = fixture("mv-dec")
    val view2 = tmpDir("mv-dec-view2") + "/v"
    Mview.createAggView(spark, src, view2,
      "etype", "n=count(1);s=sum(cast(v as decimal(18,4)))")
    val q = spark.sql(s"SELECT sum(cast(v as decimal(18,4))) AS s " +
      s"FROM graft.`$src`")
    assert(scansView(q, view2, src))
    assert(q.schema("s").dataType.simpleString == "decimal(28,4)")
    assert(q.head().getDecimal(0) ==
      new java.math.BigDecimal("269550.0000"))
    // the day/etype view (no decimal state) leaves this query alone —
    // attachment order must not matter
    assert(!q.queryExecution.executedPlan.toString.contains(view))
  }

  test("a fresh view serves aggregates the debt-carrying scan refuses") {
    val (src, view) = fixture("mv-debt")
    ops.deleteWhere(spark, src, col("id") === 0L)
    val r = Mview.refreshView(spark, view)
    assert(r.mode == "recompute", s"post-delete refresh was ${r.mode}")
    val q = spark.sql(s"SELECT count(*) AS n FROM graft.`$src` " +
      "WHERE etype = 't0'")
    assert(scansView(q, view, src))
    assert(q.head().getLong(0) == 199L)
    // the raw row read still refuses until compaction — the rewrite
    // widened what's answerable, not what's readable
    val e = intercept[Exception] {
      spark.sql(s"SELECT id FROM graft.`$src` WHERE etype = 't0'").collect()
    }
    assert(e.getMessage.contains("delete debt"))
  }

  test("adversarial: wrong table, measure grouping, non-spec exprs, distinct-as-aggregate") {
    val (src, view) = fixture("mv-adv")
    // an identically-shaped SIBLING table must never be served by src's
    // view — identity is (dir, version), not schema shape
    val other = tmpDir("mv-adv-other")
    ops.commit((0 until 10).map(i => (i.toLong, java.sql.Timestamp.valueOf(
      "2024-03-01 10:00:00"), s"t${i % 3}", 1.0,
      java.lang.Double.valueOf(1.0)))
      .toDF("id", "ts", "etype", "v", "mv"), other)
    val q = spark.sql(s"SELECT etype, count(*) AS n FROM graft.`$other` " +
      "GROUP BY 1")
    assert(!q.queryExecution.executedPlan.toString.contains(view))
    assert(q.collect().map(_.getLong(1)).sum == 10L)
    // grouping by a measure is not derivable
    assert(scansBase(spark.sql(
      s"SELECT v, count(*) FROM graft.`$src` GROUP BY v"), src))
    // sum over an expression the spec does not carry
    assert(scansBase(spark.sql(
      s"SELECT etype, sum(v + 1.0) FROM graft.`$src` GROUP BY 1"), src))
    // SELECT DISTINCT over dimensions is an Aggregate with no agg
    // functions — served by the view's group columns
    val d = spark.sql(s"SELECT DISTINCT etype FROM graft.`$src`")
    assert(scansView(d, view, src))
    assert(d.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("t0", "t1", "t2"))
  }

  test("the first view that derives the query serves it; others are skipped") {
    val (src, viewA) = fixture("mv-two")
    // a second, coarser view: etype only, carrying a distinct agg set
    val viewB = tmpDir("mv-two-b") + "/v"
    Mview.createAggView(spark, src, viewB,
      "etype", "cnt=count(1);s18=sum(cast(v as decimal(18,4)))")
    // only B carries the decimal sum → B serves
    val q = spark.sql(s"SELECT etype, sum(cast(v as decimal(18,4))) AS s " +
      s"FROM graft.`$src` GROUP BY 1")
    assert(scansView(q, viewB, src))
    assert(!q.queryExecution.executedPlan.toString.contains(viewA))
    // both could serve a plain count — attachment order wins, answer equal
    val c = spark.sql(s"SELECT etype, count(*) AS n FROM graft.`$src` " +
      "GROUP BY 1 ORDER BY 1")
    assert(!scansBase(c, src))
    assert(c.collect().map(_.getLong(1)).toSeq == Seq(200L, 200L, 200L))
  }

  test("streaming maintainer keeps the view fresh across landings") {
    val (src, view) = fixture("mv-stream")
    val ck = tmpDir("mv-stream-ck")
    def drain(): Unit = {
      val q = Mview.maintainer(spark, view, ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      assert(!q.isActive, "maintainer drain did not finish")
    }
    val sql = s"SELECT etype, count(*) AS n FROM graft.`$src` GROUP BY 1"
    assert(scansView(spark.sql(sql), view, src))
    ops.commit(Seq((7777L, java.sql.Timestamp.valueOf("2024-03-04 00:00:00"),
      "t1", 2.0, java.lang.Double.valueOf(2.0)))
      .toDF("id", "ts", "etype", "v", "mv"), src)
    assert(scansBase(spark.sql(sql), src), "stale until the maintainer runs")
    drain()
    val served = spark.sql(sql)
    assert(scansView(served, view, src),
      "maintainer drain must restore freshness")
    assert(served.collect().map(_.getLong(1)).sum == 601L)
    // a re-drain with nothing new is a no-op (pointer already advanced)
    val v = ops.versions(view).last
    drain()
    assert(ops.versions(view).last == v, "an idle drain republished state")
  }

  test("refresh_view and create_agg_view drive from SQL procedures") {
    register()
    val src = tmpDir("mv-proc-src")
    val view = tmpDir("mv-proc-view") + "/v"
    ops.commit(Seq((1L, "a", 2.0), (2L, "a", 3.0), (3L, "b", 4.0))
      .toDF("id", "k", "v"), src)
    val created = spark.sql(s"CALL graft.create_agg_view('$src', '$view', " +
      "'k', 'n=count(1);s=sum(v)')").head().getInt(0)
    assert(created == 1)
    val q = spark.sql(s"SELECT k, count(*) AS n, sum(v) AS s " +
      s"FROM graft.`$src` GROUP BY k ORDER BY k")
    assert(scansView(q, view, src))
    assert(q.collect().map(r => (r.getString(0), r.getLong(1),
      r.getDouble(2))).toSeq == Seq(("a", 2L, 5.0), ("b", 1L, 4.0)))
    ops.commit(Seq((4L, "b", 6.0)).toDF("id", "k", "v"), src)
    assert(spark.sql(s"CALL graft.refresh_view('$view')").head().getInt(0) == 2)
    assert(spark.sql(s"SELECT k, sum(v) AS s FROM graft.`$src` " +
      s"GROUP BY k ORDER BY k").collect().map(_.getDouble(1)).toSeq ==
      Seq(5.0, 10.0))
  }

  test("mview.auto.refresh=true: a source commit re-arms the rewrite " +
      "with no intervening CALL; mutations (MERGE/DELETE) trigger too") {
    val (src, view) = fixture("mv-auto")
    spark.sql(
      s"CALL graft.set_property('$view', 'mview.auto.refresh', 'true')")
    val sql = s"SELECT etype, count(*) AS n FROM graft.`$src` GROUP BY 1"
    assert(scansView(spark.sql(sql), view, src))
    // a plain landing: the commit itself triggers the O(delta) refresh —
    // the very next query is already served by the view
    ops.commit(Seq((9001L, java.sql.Timestamp.valueOf("2024-03-05 00:00:00"),
      "t2", 1.0, java.lang.Double.valueOf(1.0)))
      .toDF("id", "ts", "etype", "v", "mv"), src)
    val afterCommit = spark.sql(sql)
    assert(scansView(afterCommit, view, src),
      "a commit on an auto-refresh source must leave the view fresh")
    assert(afterCommit.collect().map(_.getLong(1)).sum == 601L)
    // a row-level mutation (delete vector) triggers too — the refresh
    // falls back to recompute where the delta isn't append-shaped, and
    // the served numbers track the live table exactly
    ops.deleteWhere(spark, src, col("id") === 9001L)
    val afterDelete = spark.sql(sql)
    assert(scansView(afterDelete, view, src),
      "a deleteWhere on an auto-refresh source must leave the view fresh")
    assert(afterDelete.collect().map(_.getLong(1)).sum == 600L)
    // opt-out stays manual: a view WITHOUT the property goes stale on
    // commit exactly as before (fallback, never a wrong answer)
    val (src2, view2) = fixture("mv-auto-off")
    ops.commit(Seq((9002L, java.sql.Timestamp.valueOf("2024-03-05 00:00:00"),
      "t2", 1.0, java.lang.Double.valueOf(1.0)))
      .toDF("id", "ts", "etype", "v", "mv"), src2)
    val stale = spark.sql(
      s"SELECT etype, count(*) AS n FROM graft.`$src2` GROUP BY 1")
    assert(scansBase(stale, src2),
      "without the property the view must NOT auto-refresh")
    assert(stale.collect().map(_.getLong(1)).sum == 601L)
    assert(Mview.specOf(view2).nonEmpty)
  }
}
