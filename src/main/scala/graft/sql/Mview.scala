package graft.sql

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Coalesce, Divide, EvalMode, Expression, Literal, NamedExpression, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import org.apache.spark.sql.graft.Workspace

import graft.sinks.{IncrementalView, VersionedTable, ViewRefresh}

/** Materialized aggregate views with '''transparent query rewrite''' —
  * the OLAP-engine capability the incremental-view machinery
  * ([[graft.sinks.IncrementalViewOps]]) was built to feed: declare a
  * grouped rollup ONCE against a lake table, keep it current at
  * O(changes) cost per refresh, and every SQL aggregate the view can
  * answer is silently re-planned to read the view instead of the table.
  * At 100 TB the difference is a full fact-table scan per dashboard
  * query versus one manifest-sized state read — the reason warehouses
  * ship this (the reference recomputes its derived aggregate per DAG run,
  * /root/reference/airflow/dags/weather_etl.py:156–184; this is that
  * derive step made free at query time).
  *
  * '''Declaration''' (`CALL graft.create_agg_view(src, view, groups,
  * aggs)`): `groups` and `aggs` are `out=expr` lists — expressions, not
  * just columns, so derived dimensions (`day=cast(ts as date)`) and
  * decimal-stabilized measures (`s=sum(cast(v as decimal(18,4)))`) are
  * first-class. Agg functions: `count` / `sum` / `min` / `max` (each
  * mergeable — the refresh folds deltas; `avg` is NOT a state column,
  * it derives at rewrite time from sum+count). The spec persists as
  * durable properties on the VIEW (`mview.src/group/aggs`); the source
  * carries only an attachment pointer (`mview.attached`).
  *
  * '''Rewrite soundness''' ([[MviewRewrite]], an optimizer rule over the
  * already-pushed-down plan):
  *  - matches `Aggregate` over a catalog scan that serves a COMPLETE
  *    snapshot ([[PruningScanBuilder.GraftScan.mviewIdentity]] — a
  *    `#changes=` slice never qualifies; branch/tag handles resolve to
  *    their own dir/version identity and compose correctly);
  *  - the view must be '''exactly fresh''': its head's incorporation
  *    pointer (`ivm:src@vN`) names the SAME version the scan is pinned
  *    to — `VERSION AS OF` an older snapshot, or a stale view, falls
  *    back to the base scan (always-correct fallback, never an
  *    approximate serve). The view read is pinned at the version the
  *    freshness check saw, so a concurrent refresh between check and
  *    plan cannot shift the answer;
  *  - every query expression must be DERIVABLE: grouping expressions,
  *    filter conditions and aggregate arguments resolve against the
  *    spec by CANONICAL expression equality (both sides analyzed in the
  *    same session, so casts/timezones normalize identically). Grouping
  *    by a subset of the view's dimensions, or by expressions OVER them
  *    (`month(cast(ts as date))`), re-aggregates the view — sound
  *    because every mergeable agg re-folds: `count(*)` → `sum(n)`
  *    (coalesced to 0 for the global-empty case), `sum(x)` → `sum(sum_x)`
  *    (cast back when decimal re-summing widens the type), `min`/`max`
  *    re-fold or read a grouping dimension directly, `avg(x)` →
  *    `sum(sum_x)/sum(count_x)` requiring the spec to carry BOTH (a
  *    non-null-count match, so null semantics survive). `DISTINCT`,
  *    `FILTER`, `count(col)` without a spec counterpart, or any filter
  *    on a non-dimension column → no rewrite;
  *  - rewritten output keeps the original plan's attribute ids, names
  *    and data types (aliases re-issued under the original `ExprId`s),
  *    so parent operators re-bind untouched.
  *
  * A fresh view even serves aggregates over a snapshot carrying
  * merge-on-read delete debt — the refresh read the Scala path (which
  * applies deletes), so the view is exact while the raw catalog scan
  * would refuse; the metadata answer outlives the data path, exactly
  * like `fastCount`.
  *
  * Scale shape: the rewrite itself is plan-time only — one properties
  * read on the scanned dir (manifest-sized) plus one spec analysis per
  * attached view; the served plan reads |groups| state rows instead of
  * the table. Refresh cost is the incremental-view contract:
  * O(delta) + one bounded state republish.
  */
object Mview {

  /** One `out=expr` spec entry; `fn` is empty for group dimensions. */
  final case class Entry(out: String, fn: String, sql: String)

  final case class Spec(src: String, groups: Seq[Entry], aggs: Seq[Entry])

  private val AggFns = Set("count", "sum", "min", "max")

  /** Parse `out=expr[;out=expr…]`; a bare column name `c` shorthands
    * `c=c`. For aggs, `expr` must be `fn(inner)` with fn mergeable. */
  private[sql] def parseEntries(s: String, agg: Boolean): Seq[Entry] =
    splitTop(s, ';').map { e =>
      val i = e.indexOf('=')
      val (out, ex) =
        if (i < 0) (e.trim, e.trim) else (e.take(i).trim, e.drop(i + 1).trim)
      require(out.nonEmpty && ex.nonEmpty, s"bad mview spec entry '$e'")
      if (!agg) Entry(out, "", ex)
      else {
        val p = ex.indexOf('(')
        val fn = if (p < 0) "" else ex.take(p).trim.toLowerCase
        require(AggFns(fn) && ex.endsWith(")"),
          s"mview agg '$e' must be count(…)/sum(…)/min(…)/max(…) — " +
            "avg derives at rewrite time from sum+count")
        Entry(out, fn, ex)
      }
    }

  /** Split on `sep` at paren depth 0 (expression-safe) — also the
    * transform-spec splitter ([[GraftCatalog.splitSpecs]] delegates). */
  private[sql] def splitTop(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach { c =>
      if (c == sep && depth == 0) { out += cur.toString; cur.clear() }
      else {
        if (c == '(') depth += 1 else if (c == ')') depth -= 1
        cur += c
      }
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  private def fmt(es: Seq[Entry]): String =
    es.map(e => s"${e.out}=${e.sql}").mkString(";")

  private[sql] def specOf(viewDir: String): Option[Spec] = {
    val p = VersionedTable.tableProperties(viewDir)
    for (src <- p.get("mview.src"); g <- p.get("mview.group");
         a <- p.get("mview.aggs"))
      yield Spec(src, parseEntries(g, agg = false), parseEntries(a, agg = true))
  }

  private[sql] def attachedViews(srcDir: String): Seq[String] =
    VersionedTable.tableProperties(srcDir).get("mview.attached")
      .map(splitTop(_, ';')).getOrElse(Seq.empty)

  /** Declare + initially build an aggregate view. The view directory
    * must be unused; re-declaring over existing state would silently
    * orphan it. Idempotently installs the rewrite rule in this session. */
  def createAggView(spark: SparkSession, srcDir: String, viewDir: String,
                    groupSpec: String, aggSpec: String): ViewRefresh = {
    require(VersionedTable.versions(viewDir).isEmpty,
      s"$viewDir already has committed versions; CALL refresh_view to " +
        "maintain it, or choose a fresh directory")
    val groups = parseEntries(groupSpec, agg = false)
    val aggs = parseEntries(aggSpec, agg = true)
    require((groups ++ aggs).map(_.out).distinct.size ==
      groups.size + aggs.size, "mview out columns must be distinct")
    VersionedTable.setTableProperty(viewDir, "mview.src", srcDir)
    VersionedTable.setTableProperty(viewDir, "mview.group", fmt(groups))
    VersionedTable.setTableProperty(viewDir, "mview.aggs", fmt(aggs))
    val att = attachedViews(srcDir)
    if (!att.contains(viewDir))
      VersionedTable.setTableProperty(srcDir, "mview.attached",
        (att :+ viewDir).mkString(";"))
    install(spark)
    refreshView(spark, viewDir)
  }

  /** Advance the view to the source head (noop / incremental / recompute
    * per the [[graft.sinks.IncrementalViewOps.refresh]] contract). */
  def refreshView(spark: SparkSession, viewDir: String): ViewRefresh = {
    val spec = specOf(viewDir).getOrElse(throw new IllegalArgumentException(
      s"$viewDir carries no mview declaration (mview.src/group/aggs)"))
    IncrementalView.refresh(spark, spec.src, viewDir,
      partials(spec), mergeStates(spec))
  }

  /** Build per-group mergeable state from raw rows — the spec, verbatim. */
  private def partials(spec: Spec)(df: DataFrame): DataFrame = {
    val gs = spec.groups.map(g => expr(g.sql).as(g.out))
    val as = spec.aggs.map(a => expr(a.sql).as(a.out))
    df.groupBy(gs: _*).agg(as.head, as.tail: _*)
  }

  /** Fold two state frames: counts and sums re-sum, mins min, maxes max —
    * each cast back to the state column's type so a decimal re-sum never
    * widens the stored schema across refreshes. */
  private def mergeStates(spec: Spec)(a: DataFrame, b: DataFrame): DataFrame = {
    val stateType = a.schema.fields.map(f => f.name -> f.dataType).toMap
    val folds = spec.aggs.map { e =>
      val c = col(e.out)
      val f = e.fn match {
        case "count" | "sum" => org.apache.spark.sql.functions.sum(c)
        case "min" => org.apache.spark.sql.functions.min(c)
        case "max" => org.apache.spark.sql.functions.max(c)
      }
      f.cast(stateType(e.out)).as(e.out)
    }
    a.unionByName(b).groupBy(spec.groups.map(g => col(g.out)): _*)
      .agg(folds.head, folds.tail: _*)
  }

  /** Continuous freshness: a foreachBatch maintainer driven by the
    * source's OWN table-stream — each micro-batch (one or more landed
    * versions, per the stream's admission) triggers one [[refreshView]],
    * so between landings the view is exactly fresh and the rewrite
    * serves every derivable aggregate. Exactly-once needs no txn
    * plumbing here: the refresh pointer protocol makes a replayed
    * trigger a no-op (the pointer already advanced), and a crash
    * between landing and refresh just means the NEXT trigger folds two
    * deltas. The batch itself is only the trigger signal — the refresh
    * pulls its delta via readChanges, so rows are read once. Caller
    * `.start()`s (e.g. with `Trigger.AvailableNow` for a drain, or
    * ProcessingTime to shadow the landing cadence). */
  def maintainer(spark: SparkSession, viewDir: String,
                 checkpoint: String): org.apache.spark.sql.streaming
                   .DataStreamWriter[org.apache.spark.sql.Row] = {
    val spec = specOf(viewDir).getOrElse(throw new IllegalArgumentException(
      s"$viewDir carries no mview declaration (mview.src/group/aggs)"))
    spark.readStream.format("graft-table").load(spec.src)
      .writeStream
      .foreachBatch { (_: DataFrame, _: Long) =>
        refreshView(spark, viewDir); ()
      }
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
  }

  /** Idempotently add the rewrite rule to this session's optimizer —
    * always BEFORE [[NestedDefaultRewrite]] when both are installed: the
    * user batch applies rules in list order each fixed-point iteration,
    * and the mview rewrite must see the BARE `Aggregate → scan` shape on
    * a defaulted source before the substitution Project wraps it (the
    * view's state folds SERVED values — [[graft.sinks.IncrementalView]]
    * substitutes on refresh — so replacing the substituted scan with the
    * view read is value-identical). Installed after the wrap, the
    * rewrite would silently never fire on defaulted tables: a
    * performance cliff, not a wrong answer, but a cliff the order fully
    * removes. */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(MviewRewrite)) {
      val at = cur.indexOf(NestedDefaultRewrite)
      spark.experimental.extraOptimizations =
        if (at < 0) cur :+ MviewRewrite
        else (cur.take(at) :+ MviewRewrite) ++ cur.drop(at)
    }
  }

  // ---- driver-gate queries -------------------------------------------

  private def register(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)

  private def requireServedBy(df: DataFrame, what: String,
      mustContain: String, mustNotContain: String): Unit = {
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    require(plan.contains(mustContain) && !plan.contains(mustNotContain),
      s"$what: expected a plan over $mustContain without " +
        s"$mustNotContain:\n$plan")
  }

  /** q_sql_mview — the materialized-view lifecycle under the oracle
    * gate: half the events land and a view builds; the SAME SQL
    * aggregate is pinned REWRITTEN (served by the view's files, base
    * data never scanned); the other half appends and the query is
    * pinned FALLEN BACK (stale views must never serve); one
    * O(delta) refresh (mode pinned `incremental`) and the final
    * presented result is pinned rewritten again — so the hash-match
    * proves maintain + rewrite converged to exactly the from-scratch
    * aggregate DuckDB computes. */
  def qSqlMview(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("value"))
    val tmp = Workspace.dir("graft_sqlmv_")
    val src = s"$tmp/src"
    val view = s"$tmp/view"
    val even = org.apache.spark.sql.functions.col("event_id") % 2 === 0
    VersionedTable.commit(ev.filter(even), src)
    spark.sql(s"CALL graft.create_agg_view('$src', '$view', 'event_type', " +
      "'n=count(1);sum_v=sum(cast(value as decimal(18,4)));" +
      "min_v=min(value);max_v=max(value)')").collect()
    val q =
      s"""SELECT event_type, COUNT(*) AS n,
         |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
         |    AS sum_v,
         |  ROUND(MIN(value), 6) AS min_v, ROUND(MAX(value), 6) AS max_v
         |FROM graft.`$src` GROUP BY event_type ORDER BY event_type"""
        .stripMargin
    requireServedBy(spark.sql(q), "fresh view", view, s"$src/data")
    VersionedTable.commit(ev.filter(!even), src)
    requireServedBy(spark.sql(q), "stale view", s"$src/data", view)
    val r = refreshView(spark, view)
    require(r.mode == "incremental",
      s"refresh after a pure append was ${r.mode}, not an O(delta) fold")
    val served = spark.sql(q)
    requireServedBy(served, "refreshed view", view, s"$src/data")
    served
  }

  /** q_sql_mview_rollup — derivation breadth over one day+type view:
    * grouping by an EXPRESSION over the derived day dimension
    * (`month(cast(ts as date))`), a dimension filter, and an avg
    * derived from decimal sum ÷ count — all pinned served by the view
    * with the base table unscanned, hash-matched against DuckDB running
    * the same rollup from scratch. */
  def qSqlMviewRollup(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark)
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("ts"),
        org.apache.spark.sql.functions.col("value"))
    val tmp = Workspace.dir("graft_sqlmvr_")
    val src = s"$tmp/src"
    val view = s"$tmp/view"
    VersionedTable.commit(ev, src)
    createAggView(spark, src, view,
      "day=cast(ts as date);event_type",
      "n=count(1);sum_v=sum(cast(value as decimal(18,4)))")
    val served = spark.sql(
      s"""SELECT month(CAST(ts AS DATE)) AS m, event_type, COUNT(*) AS n,
         |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
         |    AS sum_v,
         |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
         |    / COUNT(*), 6) AS avg_v
         |FROM graft.`$src`
         |WHERE event_type >= 'b'
         |GROUP BY 1, 2 ORDER BY m, event_type""".stripMargin)
    requireServedBy(served, "month rollup", view, s"$src/data")
    served
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sql_mview" -> (qSqlMview _),
    "q_sql_mview_rollup" -> (qSqlMviewRollup _))

  val oracles: Map[String, String] = Map(
    "q_sql_mview" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
        |    AS sum_v,
        |  ROUND(MIN(value), 6) AS min_v, ROUND(MAX(value), 6) AS max_v
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sql_mview_rollup" ->
      """SELECT CAST(month(CAST(ts AS DATE)) AS INTEGER) AS m, event_type,
        |  COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
        |    AS sum_v,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |    / COUNT(*), 6) AS avg_v
        |FROM events
        |WHERE event_type >= 'b'
        |GROUP BY 1, 2 ORDER BY m, event_type""".stripMargin)
}

/** The transparent rewrite rule — see [[Mview]] for the soundness
  * contract. Runs in the "User Provided Optimizers" batch (after scan
  * pushdown), so it matches `Aggregate → [Filter] → [Project] →
  * DataSourceV2ScanRelation(GraftScan)`; the Filter above the scan is
  * always still present for data predicates (file-source pushdown is
  * inexact), and scan-level file pruning needs no undo because the
  * filter is re-applied over the view. */
object MviewRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!plan.exists(_.isInstanceOf[Aggregate])) return plan
    plan.transformDown {
      case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
    }
  }

  /** Peel Projects and collect Filter conjuncts down to the catalog scan
    * relation. Alias-bearing Projects (the optimizer's
    * PullOutGroupingExpressions moves complex grouping expressions into
    * one, grouping on `_groupingexpression#N`) are recorded as
    * substitution maps so the caller can inline the definitions back —
    * matching happens against what the user WROTE, not the pulled form. */
  private def strip(p: LogicalPlan, conds: Seq[Expression],
      subs: Seq[Map[Long, Expression]]): Option[
      (DataSourceV2ScanRelation, Seq[Expression], Seq[Map[Long, Expression]])] =
    p match {
      case Filter(c, ch) => strip(ch, conds :+ c, subs)
      case Project(pl, ch)
          if pl.forall(ne => ne.isInstanceOf[AttributeReference] ||
            (ne.isInstanceOf[Alias] && ne.deterministic)) =>
        val m = pl.collect { case a: Alias => a.exprId.id -> a.child }.toMap
        strip(ch, conds, if (m.isEmpty) subs else subs :+ m)
      case r: DataSourceV2ScanRelation => Some((r, conds, subs))
      case _ => None
    }

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    val (scanRel, conds, subs) =
      strip(agg.child, Seq.empty, Seq.empty).getOrElse(return None)
    val (dir, version) = (scanRel.scan match {
      case gs: PruningScanBuilder#GraftScan => gs.mviewIdentity
      case _ => None
    }).getOrElse(return None)
    val views = Mview.attachedViews(dir)
    if (views.isEmpty) return None
    // restore pulled-out grouping definitions: every expression above the
    // projects is rewritten to reference scan attributes only
    def inline(e: Expression): Expression =
      subs.foldLeft(e)((cur, m) => cur.transform {
        case a: Attribute if m.contains(a.exprId.id) => m(a.exprId.id)
      })
    val spark = SparkSession.active
    views.view.flatMap { v =>
      Try(rewriteWith(spark, agg, scanRel, conds.map(inline), inline,
        dir, version, v)).toOption.flatten
    }.headOption
  }

  // ---- per-view rewrite attempt -------------------------------------

  private def rewriteWith(spark: SparkSession, agg: Aggregate,
      scanRel: DataSourceV2ScanRelation, conds: Seq[Expression],
      inline: Expression => Expression,
      dir: String, version: Int, viewDir: String): Option[LogicalPlan] = {
    val spec = Mview.specOf(viewDir).getOrElse(return None)
    if (spec.src != dir) return None
    // freshness: the view head must incorporate EXACTLY the scanned
    // version; pin the view read at that head so a concurrent refresh
    // cannot move the answer between check and plan
    val (viewHead, incorporated) =
      IncrementalView.headIncorporation(viewDir, dir).getOrElse(return None)
    if (incorporated != version) return None

    // resolve the spec against the table's FULL schema (the query's scan
    // output is already pruned; spec aggs over pruned-away columns must
    // not fail the whole view — they just never match), then align spec
    // attributes onto the query's scan attributes by name
    val fullAttrs = DataTypeUtils.toAttributes(scanRel.relation.table.schema())
    val parsed = Try {
      val parser = spark.sessionState.sqlParser
      Aggregate(
        spec.groups.map(g => parser.parseExpression(g.sql)),
        (spec.groups ++ spec.aggs).map(e =>
          Alias(parser.parseExpression(e.sql), e.out)()),
        LocalRelation(fullAttrs))
    }.getOrElse(return None)
    val analyzed = Try(spark.sessionState.analyzer.execute(parsed))
      .toOption.collect { case a: Aggregate if a.resolved => a }
      .getOrElse(return None)
    val resolver = spark.sessionState.conf.resolver
    val byName: Map[Attribute, Attribute] = fullAttrs.flatMap(fa =>
      scanRel.output.find(o => resolver(o.name, fa.name)).map(fa -> _)).toMap
    def align(e: Expression): Expression = e.transform {
      case a: AttributeReference => byName.getOrElse(a, a)
    }
    // spec dimensions: resolved group exprs (positional with spec.groups)
    val dims: Seq[(Expression, String)] =
      analyzed.groupingExpressions.zip(spec.groups.map(_.out))
        .map { case (e, out) => (align(e).canonicalized, out) }
    // spec aggregates: out → (fn name, canonicalized arg, result type)
    val specAggs: Seq[(String, String, Expression)] =
      analyzed.aggregateExpressions.drop(spec.groups.size)
        .zip(spec.aggs).flatMap { case (ne, entry) =>
          ne match {
            case Alias(ae: AggregateExpression, _) =>
              ae.aggregateFunction.children.headOption
                .map(c => (entry.out, entry.fn, align(c).canonicalized))
            case _ => None
          }
        }

    // the view state, pinned at the checked head; resolve columns lazily
    // so only a successful rewrite pays the read
    lazy val viewPlanRaw: LogicalPlan = VersionedTable
      .read(spark, viewDir, Some(viewHead)).queryExecution.analyzed
    lazy val viewCols: Map[String, Attribute] =
      viewPlanRaw.output.map(a => a.name -> a).toMap
    def viewAttr(out: String): Option[Attribute] = viewCols.get(out)

    def findAgg(fn: String, argCanonical: Expression): Option[Attribute] =
      specAggs.collectFirst {
        case (out, f, c) if f == fn && c == argCanonical => out
      }.flatMap(viewAttr)

    val tz = Some(SQLConf.get.sessionLocalTimeZone)
    val evalMode = EvalMode.fromSQLConf(SQLConf.get)
    def sumOf(a: Attribute): Expression = Sum(a).toAggregateExpression()

    /** count(arg) → Σ view count-state; coalesce(…, 0) restores COUNT's
      * zero-on-empty for the global-aggregate-over-empty-table case. */
    def mapCount(arg: Expression): Option[Expression] =
      findAgg("count", arg.canonicalized)
        .map(a => Coalesce(Seq(sumOf(a), Literal(0L))))

    def mapAgg(ae: AggregateExpression): Option[Expression] = {
      if (ae.isDistinct || ae.filter.isDefined) return None
      ae.aggregateFunction match {
        case c: Count if c.children.size == 1 => mapCount(c.children.head)
        case s: Sum =>
          findAgg("sum", s.child.canonicalized).map { a =>
            val re = sumOf(a)
            if (re.dataType == s.dataType) re
            else Cast(re, s.dataType, tz, evalMode)
          }
        case m: Min =>
          findAgg("min", m.child.canonicalized)
            .orElse(dimAttr(m.child))
            .map(a => Min(a).toAggregateExpression())
        case m: Max =>
          findAgg("max", m.child.canonicalized)
            .orElse(dimAttr(m.child))
            .map(a => Max(a).toAggregateExpression())
        case av: Average if av.dataType == DoubleType =>
          // avg(x) = Σ sum_x / Σ count_x — count_x must be a spec
          // count of the SAME expression, so null skipping survives
          // exactly (a row count would overweight null groups)
          for {
            s <- findAgg("sum", av.child.canonicalized)
            if s.dataType == DoubleType || s.dataType == LongType ||
              s.dataType.isInstanceOf[DecimalType]
            c <- findAgg("count", av.child.canonicalized)
          } yield Divide(Cast(sumOf(s), DoubleType, tz, evalMode),
            Cast(sumOf(c), DoubleType, tz, evalMode))
        case _ => None
      }
    }

    /** min/max over a grouping DIMENSION reads the dimension directly —
      * extremes are distinct-insensitive. */
    def dimAttr(e: Expression): Option[Attribute] =
      dims.collectFirst { case (c, out) if c == e.canonicalized => out }
        .flatMap(viewAttr)

    /** The view attribute of a `cast(x as date)` dimension over exactly
      * this source attribute, UTC-zoned — a TOTAL function of x (never
      * nulls a non-null input, nulls a null one), so day-granular
      * predicates on x translate exactly. */
    def dateDimOf(x: Attribute): Option[Attribute] =
      dims.collectFirst {
        case (Cast(a: AttributeReference, org.apache.spark.sql.types
          .DateType, czt, _), out)
          if a.exprId == x.exprId &&
            (x.dataType == org.apache.spark.sql.types.TimestampNTZType ||
              czt.exists(z => Try(java.time.ZoneId.of(z).normalized() ==
                java.time.ZoneOffset.UTC).getOrElse(false))) => out
      }.flatMap(viewAttr)

    val MicrosPerDay = 86400000000L
    /** A timestamp literal that is exactly a UTC midnight, as its epoch
      * day — the only instants where a raw-timestamp bound is expressible
      * on a day dimension. (The optimizer unwraps `cast(ts as date) ⋈ d`
      * into exactly such bounds: `ts >= midnight ∧ ts < next-midnight`.) */
    def midnightDay(us: Long): Option[Int] =
      if (Math.floorMod(us, MicrosPerDay) == 0L)
        Some(Math.floorDiv(us, MicrosPerDay).toInt)
      else None
    def tsLit(e: Expression): Option[Long] = e match {
      case Literal(us: Long, org.apache.spark.sql.types.TimestampType) =>
        Some(us)
      case Literal(us: Long, org.apache.spark.sql.types.TimestampNTZType) =>
        Some(us)
      case _ => None
    }
    def dayLit(day: Int): Expression =
      Literal(day, org.apache.spark.sql.types.DateType)

    /** Day-granular comparisons on a raw timestamp column → the date
      * dimension; `isnotnull(ts)` → `isnotnull(day)` (total cast). */
    def mapDayPredicate(e: Expression): Option[Expression] = {
      import org.apache.spark.sql.catalyst.expressions.{GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual}
      def ge(x: Expression, l: Expression): Option[Expression] = x match {
        case a: Attribute => for (d <- dateDimOf(a); us <- tsLit(l);
          day <- midnightDay(us)) yield GreaterThanOrEqual(d, dayLit(day))
        case _ => None
      }
      def lt(x: Expression, l: Expression): Option[Expression] = x match {
        case a: Attribute => for (d <- dateDimOf(a); us <- tsLit(l);
          day <- midnightDay(us)) yield LessThan(d, dayLit(day))
        case _ => None
      }
      e match {
        case GreaterThanOrEqual(x, l) => ge(x, l)
        case LessThanOrEqual(l, x) => ge(x, l)
        case LessThan(x, l) => lt(x, l)
        case GreaterThan(l, x) => lt(x, l)
        case IsNotNull(a: Attribute) => dateDimOf(a).map(IsNotNull(_))
        case _ => None
      }
    }

    /** Total derivation: a dimension match replaces the subtree, an
      * aggregate maps through the state, anything else must be a
      * deterministic shell over derivable children. Unmatched source
      * attributes fail closed. */
    def mapExpr(e: Expression): Option[Expression] =
      dims.collectFirst { case (c, out) if c == e.canonicalized => out }
        .flatMap(viewAttr)
        .orElse(mapDayPredicate(e)) match {
        case some @ Some(_) => some
        case None => e match {
          case ae: AggregateExpression => mapAgg(ae)
          case _: Attribute => None
          case _: SubqueryExpression => None
          case _ if !e.deterministic => None
          case _ if e.children.isEmpty => Some(e)
          case other =>
            val kids = other.children.map(mapExpr)
            if (kids.forall(_.isDefined))
              Some(other.withNewChildren(kids.map(_.get)))
            else None
        }
      }

    val newGroups = agg.groupingExpressions.map(g =>
      mapExpr(inline(g)).getOrElse(return None))
    val newAggs: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case al: Alias =>
        val c = mapExpr(inline(al.child)).getOrElse(return None)
        if (c.dataType != al.child.dataType) return None
        Alias(c, al.name)(al.exprId, al.qualifier, al.explicitMetadata)
      case a: AttributeReference =>
        val c = mapExpr(inline(a)).getOrElse(return None)
        if (c.dataType != a.dataType) return None
        Alias(c, a.name)(a.exprId, a.qualifier)
      case _ => return None
    }
    val newConds = conds.map(c => mapExpr(c).getOrElse(return None))

    val needed = (newGroups ++ newAggs ++ newConds)
      .flatMap(_.references).toSet
    val pruned = Project(
      viewPlanRaw.output.filter(needed.contains), viewPlanRaw)
    val child = newConds.reduceOption(org.apache.spark.sql.catalyst
      .expressions.And(_, _)).map(Filter(_, pruned)).getOrElse(pruned)
    Some(Aggregate(newGroups, newAggs, child))
  }
}
