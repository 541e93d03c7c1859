package graft.sql

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame => SqlDataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.{Expression => CatalystExpr, GenericInternalRow}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, Literal => V2Literal, NamedReference, SortDirection, SortOrder => V2SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max => V2Max, Min => V2Min}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeV2Filtering, Statistics => V2Statistics}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning => V2KeyGroupedPartitioning, Partitioning => V2Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.FileScanBuilder
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sinks.VersionedTable

/** The lake's SQL front door — a Spark catalog plugin
  * (`spark.sql.catalog.graft = graft.sql.GraftCatalog`) that puts every
  * [[graft.sinks.VersionedTable]] operation on the SQL surface the
  * reference exposes its whole pipeline through (weather_etl.py:65–79,
  * 158–184 — its load path IS SQL strings):
  *
  *  - '''reads + time travel''', via Spark's own resolution — no parser
  *    work at all:
  *    {{{
  *    SELECT * FROM graft.`/lake/events`                      -- head
  *    SELECT * FROM graft.`/lake/events` VERSION AS OF 3      -- pinned
  *    SELECT * FROM graft.`/lake/events` TIMESTAMP AS OF '...'-- by clock
  *    }}}
  *    `loadTable` resolves the manifest ONCE and hands Catalyst a
  *    parquet table over exactly that snapshot's files — predicate
  *    pushdown, column pruning and vectorized scanning are the stock
  *    DSv2 parquet path, so the SQL read plans identically to
  *    `read()`'s scan at any scale.
  *  - '''mutations + maintenance''', as Spark 4 SQL procedures
  *    (`CALL graft.merge_into('/lake/events', 'src_view', 'event_id')`,
  *    `CALL graft.delete_where('/lake/events', 'value > 9000')`, …) —
  *    each returns the committed version as a one-row result.
  *
  * Snapshots carrying merge-on-read delete debt (positional vectors or
  * equality deletes) refuse a catalog read loudly: serving them would
  * need the anti-join the Scala reader applies, and silently returning
  * dead rows through SQL is worse than a clear instruction to `compact`
  * first — the same normalization contract MERGE and promotion enforce. */
class GraftCatalog extends TableCatalog with ProcedureCatalog
    with FunctionCatalog with SupportsNamespaces with StagingTableCatalog {

  private var catName = "graft"

  /** Optional warehouse root (`spark.sql.catalog.graft.warehouse=/lake`).
    * With it set the catalog owns a directory tree: bare identifiers
    * (`graft.db.t`) resolve under the root, `SHOW TABLES` / `SHOW
    * NAMESPACES` enumerate it, and `DROP TABLE` purges managed tables.
    * Absolute-path spellings (`graft.`/abs/path``) keep external-table
    * semantics everywhere: resolvable, never enumerated, never purged. */
  private var warehouse: Option[String] = None

  /** The engine's partition-transform functions, exposed so Spark can
    * resolve a scan's reported `bucket(n, k)` partitioning to a bound
    * function identity — the compatibility anchor storage-partitioned
    * joins hang on (two scans co-partition exactly when their bound
    * transforms share a canonical name and bucket count). */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      Array(Identifier.of(Array.empty[String], "bucket"))
    else Array.empty

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.namespace.isEmpty && ident.name.equalsIgnoreCase("bucket"))
      org.apache.spark.sql.graft.Spj.BucketFunction
    else throw new NoSuchFunctionException(ident)
  private def ops = VersionedTable

  /** Opt in to the analyzer keeping `DEFAULT` clauses and constraint DDL
    * instead of rejecting them at parse time: column defaults ride the
    * declared schema as Spark's own CURRENT_DEFAULT / EXISTS_DEFAULT
    * field metadata, and `ALTER TABLE ADD/DROP CONSTRAINT` maps onto the
    * engine's commit-enforced CHECK constraints. */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = Option(options.get("warehouse"))
      .map(_.stripSuffix("/")).filter(_.nonEmpty)
    // `io=hadoop` binds the engine's metadata backend to the Hadoop
    // FileSystem (HDFS/ABFS/anything the classpath provides) — what a
    // real landing runs; the manifest protocol is backend-invariant
    // (HadoopVersionedTableSpec proves it on the same spec suite as
    // java.nio). PROCESS-WIDE by design: the catalog surface references
    // the VersionedTable singleton throughout, and a real driver runs
    // exactly one metadata store — configure it once, not per catalog.
    // LATCHED: the first catalog that names a backend wins the process,
    // a later catalog naming the SAME kind is an idempotent re-bind,
    // and a later catalog naming a DIFFERENT kind refuses loudly — two
    // catalogs configured with conflicting io values must not silently
    // last-writer-win in lazy initialization order, stranding
    // already-resolved paths on a different store mid-session.
    Option(options.get("io")).foreach { kind =>
      val prev = GraftCatalog.ioKindLatch.get()
      if (prev != null && prev != kind)
        throw new IllegalStateException(
          s"catalog '$name' configured io='$kind' but this process " +
            s"already bound its metadata backend to io='$prev' — the " +
            "backend is process-wide (one metadata store per driver); " +
            "configure every graft catalog with the same io value")
      if (prev == null) {
        kind match {
          case "local" => graft.sinks.VersionedTable
            .setBackend(graft.sinks.TableIO.local)
          case "hadoop" =>
            val conf = SparkSession.getActiveSession
              .map(_.sessionState.newHadoopConf())
              .getOrElse(new org.apache.hadoop.conf.Configuration())
            graft.sinks.VersionedTable
              .setBackend(new graft.sinks.HadoopTableIO(conf))
          case other => throw new IllegalArgumentException(
            s"unknown catalog io backend '$other' — use 'local' or " +
              "'hadoop'")
        }
        // AFTER the bind: setBackend releases the latch (it is the
        // explicit programmatic door), so the config-door latch lands
        // once the switch it guards has actually happened
        GraftCatalog.ioKindLatch.set(kind)
      }
    }
    // configuring the catalog is the opt-in for the whole SQL front
    // door: the DML strategy (UPDATE / MERGE INTO / expression DELETE)
    // rides along so the statements work without a separate install call
    SparkSession.getActiveSession.foreach(GraftDml.install)
  }
  override def name(): String = catName

  /** `graft.`/lake/events`` parses to a single backquoted name part; a
    * qualified spelling (`graft.a.b`) re-joins on '/'. A RELATIVE
    * spelling resolves under the warehouse root when one is configured
    * — that's what makes `graft.db.t` a real name rather than a path
    * relative to the driver's cwd. */
  private def dirOf(ident: Identifier): String = {
    val joined = (ident.namespace :+ ident.name).mkString("/")
    if (joined.startsWith("/")) joined
    else warehouse.map(w => s"$w/$joined").getOrElse(joined)
  }

  /** A `#`-fragment on the identifier addresses a named ref or a
    * metadata view of the table — the SQL spelling of the Scala readers
    * ([[VersionedTable.readBranch]]/`readTagged`/`history`/`filesMeta`):
    *
    *  - `graft.`/lake/t#branch=audit``  — the branch's own lineage
    *    (readable AND insertable: a branch is a full table)
    *  - `graft.`/lake/t#tag=run-17``    — the snapshot an immutable tag pins
    *  - `graft.`/lake/t#history``       — the commit log as data
    *  - `graft.`/lake/t#files``         — the head file inventory as data
    *  - `graft.`/lake/t#partitions``    — per-partition files/rows/bytes
    *  - `graft.`/lake/t#segments``      — the metadata layout itself
    *  - `graft.`/lake/t#colstats``      — per-column nulls/NDV/bounds
    *  - `graft.`/lake/t#changes=A..B``  — the appended slice between
    *    two pinned versions
    *
    * Only these exact forms are recognized; any other `#` stays a
    * literal path character. */
  private sealed trait Ref
  private case object RefHead extends Ref
  private case class RefBranch(branch: String) extends Ref
  private case class RefTag(tagName: String) extends Ref
  private case object RefHistory extends Ref
  private case object RefFiles extends Ref
  private case object RefPartitions extends Ref
  private case object RefSegments extends Ref
  private case object RefColStats extends Ref
  private case class RefChanges(from: Int, to: Int) extends Ref
  private case class RefCdf(from: Int, to: Int) extends Ref
  private case class RefGroupTable(alias: String) extends Ref
  private case object RefMembers extends Ref

  private def parseRef(raw: String): (String, Ref) = {
    val i = raw.lastIndexOf('#')
    if (i <= 0) (raw, RefHead)
    else raw.substring(i + 1) match {
      case "history" => (raw.substring(0, i), RefHistory)
      case "members" => (raw.substring(0, i), RefMembers)
      case s if s.startsWith("table=") && s.length > 6 =>
        (raw.substring(0, i), RefGroupTable(s.drop(6)))
      case "files" => (raw.substring(0, i), RefFiles)
      case "partitions" => (raw.substring(0, i), RefPartitions)
      case "segments" => (raw.substring(0, i), RefSegments)
      case "colstats" => (raw.substring(0, i), RefColStats)
      case s if s.startsWith("branch=") && s.length > 7 =>
        (raw.substring(0, i), RefBranch(s.drop(7)))
      case s if s.startsWith("tag=") && s.length > 4 =>
        (raw.substring(0, i), RefTag(s.drop(4)))
      case s if s.startsWith("changes=") =>
        // `#changes=A..B`: the rows appended between version A
        // (exclusive) and B (inclusive) — a malformed range refuses
        // loudly rather than degrading to a silent whole-table read
        s.drop(8).split("""\.\.""", -1) match {
          case Array(a, b) if a.nonEmpty && b.nonEmpty &&
              a.forall(_.isDigit) && b.forall(_.isDigit) =>
            (raw.substring(0, i), RefChanges(a.toInt, b.toInt))
          case _ => throw new IllegalArgumentException(
            s"malformed changes fragment '#$s' — expected " +
              "'#changes=<fromVersion>..<toVersion>'")
        }
      case s if s.startsWith("cdf=") =>
        // `#cdf=A..B`: the KEYED i/u/d change feed across the version
        // transitions in (A, B] — the streaming reader's feed as a
        // read-only SQL handle (keyed by the `cdf.key` table property)
        s.drop(4).split("""\.\.""", -1) match {
          case Array(a, b) if a.nonEmpty && b.nonEmpty &&
              a.forall(_.isDigit) && b.forall(_.isDigit) =>
            (raw.substring(0, i), RefCdf(a.toInt, b.toInt))
          case _ => throw new IllegalArgumentException(
            s"malformed cdf fragment '#$s' — expected " +
              "'#cdf=<fromVersion>..<toVersion>'")
        }
      case _ => (raw, RefHead)
    }
  }

  /** The directory whose manifest log serves `ident`'s rows, resolving a
    * branch fragment to the branch's own table directory (a branch IS a
    * table); a pinned `version` composes (`VERSION AS OF` on a branch
    * reads the branch lineage). Tags and metadata views pin their own
    * snapshot and refuse an extra version. */
  private def resolve(ident: Identifier,
                      version: Option[Int]): (String, Option[Int]) = {
    val (base, ref) = parseRef(dirOf(ident))
    ref match {
      case RefHead => (base, version)
      case RefBranch(b) => (ops.resolveBranch(base, b), version)
      case RefTag(t) =>
        require(version.isEmpty,
          s"'#tag=$t' pins a version; VERSION/TIMESTAMP AS OF cannot re-pin")
        val ts = ops.tags(base)
        if (!ts.contains(t)) throw new NoSuchTableException(ident)
        (base, Some(ts(t)))
      case RefHistory | RefFiles | RefPartitions | RefSegments
          | RefColStats | RefMembers =>
        throw new UnsupportedOperationException(
          "metadata views do not time-travel; drop the AS OF clause")
      case RefChanges(_, _) =>
        throw new UnsupportedOperationException(
          "a '#changes=' range pins both endpoints; AS OF cannot re-pin")
      case RefCdf(_, _) =>
        throw new UnsupportedOperationException(
          "a '#cdf=' range pins both endpoints; AS OF cannot re-pin")
      case RefGroupTable(_) =>
        throw new UnsupportedOperationException(
          "a snapshot-group handle is read-only; mutate the member " +
            "tables through their own paths and CALL group_pin to " +
            "advance the group atomically")
    }
  }

  private def snapshot(ident: Identifier, pinned: Option[Int]): Table = {
    val spark = SparkSession.active
    // every session that can load a table gets the nested-existence-
    // default substitution rule (idempotent, one list-contains check) —
    // a session reading a defaulted table without it would serve nulls
    // where the declaration promises values
    NestedDefaultRewrite.install(spark)
    parseRef(dirOf(ident)) match {
      case (base, RefHistory) =>
        require(pinned.isEmpty, "metadata views do not time-travel")
        if (ops.versions(base).isEmpty) throw new NoSuchTableException(ident)
        return new GraftMetaTable(s"$catName.$base#history",
          () => ops.history(spark, base))
      case (base, RefFiles) =>
        require(pinned.isEmpty, "metadata views do not time-travel")
        if (ops.versions(base).isEmpty) throw new NoSuchTableException(ident)
        return new GraftMetaTable(s"$catName.$base#files",
          () => ops.filesMeta(spark, base))
      case (base, RefPartitions) =>
        require(pinned.isEmpty, "metadata views do not time-travel")
        if (ops.versions(base).isEmpty) throw new NoSuchTableException(ident)
        return new GraftMetaTable(s"$catName.$base#partitions",
          () => ops.partitionsMeta(spark, base))
      case (base, RefSegments) =>
        require(pinned.isEmpty, "metadata views do not time-travel")
        if (ops.versions(base).isEmpty) throw new NoSuchTableException(ident)
        return new GraftMetaTable(s"$catName.$base#segments",
          () => ops.segmentsMeta(spark, base))
      case (base, RefColStats) =>
        require(pinned.isEmpty, "metadata views do not time-travel")
        if (ops.versions(base).isEmpty) throw new NoSuchTableException(ident)
        return new GraftMetaTable(s"$catName.$base#colstats",
          () => ops.colStatsMeta(spark, base))
      case (base, RefMembers) =>
        require(pinned.isEmpty, "metadata views do not time-travel")
        if (!graft.sinks.SnapshotGroup.isGroup(base))
          throw new NoSuchTableException(ident)
        return new GraftMetaTable(s"$catName.$base#members",
          () => spark.createDataFrame(graft.sinks.SnapshotGroup
            .members(base).map(m => (m.alias, m.dir, m.version)))
            .toDF("alias", "dir", "version"))
      case (base, RefGroupTable(alias)) =>
        // the group's CROSS-TABLE snapshot: `VERSION AS OF` pins the
        // GROUP version, and the member serves at exactly the version
        // that group manifest recorded — read-only (mutations go through
        // the member tables + an atomic group_pin)
        if (!graft.sinks.SnapshotGroup.isGroup(base))
          throw new NoSuchTableException(ident)
        val m = graft.sinks.SnapshotGroup.memberOf(base, alias, pinned)
        val declaredG = ops.declaredSchema(m.dir)
          .map(DataType.fromJson(_).asInstanceOf[StructType])
        val (gv, gFiles, gDebt, gPhys) =
          ops.snapshotInfo(m.dir, Some(m.version))
        return new GraftTable(s"$catName.$base#table=$alias", spark,
          catName, m.dir, gv, gFiles, gDebt, declaredG, readOnly = true,
          fileSchema = gPhys)
      case (base, RefCdf(a, b)) =>
        // the KEYED i/u/d feed across (a, b] — the exact per-transition
        // union the streaming reader serves (TableStreamSource.cdfSlice
        // is the shared core: pure-append transitions serve files
        // directly, only rewriting transitions pay the keyed diff, an
        // expired start refuses). Read-only; the key comes from the
        // `cdf.key` table property (a table-level identity, like the
        // streaming option("changeKey", ...)).
        require(pinned.isEmpty,
          "a '#cdf=' range pins both endpoints; AS OF cannot re-pin")
        val cvs = ops.versions(base)
        if (cvs.isEmpty) throw new NoSuchTableException(ident)
        require(a <= b && b <= cvs.last,
          s"'#cdf=$a..$b' is not a valid range of $base " +
            s"(head: v${cvs.last})")
        val cdfKey = ops.tableProperties(base).getOrElse("cdf.key",
          throw new IllegalArgumentException(
            s"the '#cdf=' feed of $base is keyed; declare the key once " +
              "with ALTER TABLE ... SET TBLPROPERTIES ('cdf.key' = " +
              "'<unique key column>')"))
        val baseSc = ops.read(spark, base,
          Some(if (cvs.contains(b)) b else cvs.last)).schema
        val reservedCdf = graft.sources.TableStreamSource.cdfColumns
          .map(_.name.toLowerCase).toSet
        val clash = baseSc.fieldNames.filter(n => reservedCdf(n.toLowerCase))
        require(clash.isEmpty,
          s"'#cdf=' reserves column(s) ${clash.mkString(", ")} for change " +
            s"metadata, and the table at $base already carries them")
        require(!reservedCdf(cdfKey.toLowerCase) &&
          baseSc.fieldNames.exists(_.equalsIgnoreCase(cdfKey)),
          s"cdf.key '$cdfKey' is not a column of $base " +
            s"(have: ${baseSc.fieldNames.mkString(", ")})")
        return new GraftFrameTable(s"$catName.$base#cdf=$a..$b",
          () => graft.sources.TableStreamSource.cdfSlice(
            spark, base, cdfKey, a, b, fresh = false))
      case (base, RefChanges(a, b)) =>
        require(pinned.isEmpty,
          "a '#changes=' range pins both endpoints; AS OF cannot re-pin")
        if (ops.versions(base).isEmpty) throw new NoSuchTableException(ident)
        // the appended slice is a plain file list: serve it through the
        // SAME pruning scan as any snapshot (pushdown, stats skipping,
        // covers — scoped to version B's sidecar), read-only. The
        // pure-append soundness checks live in changedFiles and refuse
        // identically to the Scala readChanges.
        val added = ops.changedFiles(base, a, b)
        val declaredC = ops.declaredSchema(base)
          .map(DataType.fromJson(_).asInstanceOf[StructType])
        if (added.isEmpty)
          return new GraftMetaTable(s"$catName.$base#changes=$a..$b",
            () => ops.read(spark, base, Some(b)).limit(0))
        return new GraftTable(s"$catName.$base#changes=$a..$b", spark,
          catName, base, b, added, debt = false, declaredC,
          readOnly = true, slice = true)
      case _ => ()
    }
    // a tag-pinned handle is read-only: a "write to a tag" would land on
    // the head while the reader keeps seeing the pin — refuse the
    // capability instead
    val ro = parseRef(dirOf(ident))._2.isInstanceOf[RefTag]
    val (dir, version) = resolve(ident, pinned)
    // a bare group handle never scans: its manifest lines are member
    // pins, not data files — feeding them to the parquet reader fails
    // with an opaque file error, so refuse with the right address
    if (graft.sinks.SnapshotGroup.isGroup(dir))
      throw new UnsupportedOperationException(
        s"'$dir' is a snapshot group, not a table; read a member via " +
          "`#table=<alias>` or list its pins via `#members`")
    val declared = ops.declaredSchema(dir)
      .map(DataType.fromJson(_).asInstanceOf[StructType])
    if (ops.versions(dir).isEmpty) {
      // a declared-but-never-committed table still resolves: CREATE TABLE
      // then INSERT INTO is the normal SQL bootstrap order
      declared match {
        case Some(sc) =>
          new GraftTable(s"$catName.$dir@v0", spark, catName, dir, 0,
            Seq.empty, debt = false, Some(sc), readOnly = ro)
        case None => throw new NoSuchTableException(ident)
      }
    } else {
      val (v, files, debt, phys) =
        try ops.snapshotInfo(dir, version)
        catch { case _: IllegalArgumentException =>
          throw new NoSuchTableException(ident)
        }
      if (files.isEmpty && declared.isEmpty)
        throw new NoSuchTableException(ident)
      new GraftTable(s"$catName.$dir@v$v", spark, catName, dir, v,
        files, debt, declared, readOnly = ro, fileSchema = phys)
    }
  }

  override def loadTable(ident: Identifier): Table = snapshot(ident, None)

  /** `VERSION AS OF n`. */
  override def loadTable(ident: Identifier, version: String): Table =
    snapshot(ident, Some(version.toInt))

  /** `TIMESTAMP AS OF ts` — Spark hands micros; the manifest stamps are
    * millis. Resolves against the addressed lineage (a branch travels by
    * its OWN commit clock). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val (dir, _) = resolve(ident, None)
    snapshot(ident, Some(ops.versionAt(dir, timestampMicros / 1000L)))
  }

  override def tableExists(ident: Identifier): Boolean =
    parseRef(dirOf(ident)) match {
      // a snapshot group EXISTS at its identifier — so CREATE TABLE
      // refuses to stomp it and DROP TABLE reaches the tag-releasing
      // purge — but loadTable refuses a bare-group scan loudly
      case (base, RefHead) => ops.versions(base).nonEmpty
      case (base, RefBranch(b)) =>
        ops.branches(base).contains(b)
      case (base, RefTag(t)) => ops.tags(base).contains(t)
      case (base, RefHistory | RefFiles | RefPartitions | RefSegments
          | RefColStats) =>
        ops.versions(base).nonEmpty
      case (base, RefChanges(a, b)) =>
        val vs = ops.versions(base)
        vs.contains(a) && vs.contains(b)
      case (base, RefCdf(a, b)) =>
        val vs = ops.versions(base)
        vs.nonEmpty && a <= b && b <= vs.last
      case (base, RefMembers) => graft.sinks.SnapshotGroup.isGroup(base)
      case (base, RefGroupTable(alias)) =>
        graft.sinks.SnapshotGroup.isGroup(base) &&
          graft.sinks.SnapshotGroup.members(base).exists(_.alias == alias)
    }

  /** A directory is a graft table iff it carries committed versions or a
    * declared schema — the same existence rule resolution uses. A
    * snapshot GROUP is excluded even though it carries `manifests/vN`:
    * its manifest lines are member pins, not data-file paths, so a scan
    * over them is garbage — groups are addressed via `#members` /
    * `#table=alias` only. */
  private def isGraftTable(dir: String): Boolean =
    !graft.sinks.SnapshotGroup.isGroup(dir) &&
      (ops.versions(dir).nonEmpty || ops.declaredSchema(dir).isDefined)

  private def nsDir(w: String, namespace: Array[String]): String =
    (w +: namespace).mkString("/")

  /** `SHOW TABLES` — enumerable only under a warehouse root; a pure
    * path-addressed catalog has nothing to list. */
  override def listTables(namespace: Array[String]): Array[Identifier] =
    warehouse match {
      case None => Array.empty // paths are the namespace; nothing to list
      case Some(w) =>
        val d = nsDir(w, namespace)
        if (namespace.nonEmpty && !namespaceExists(namespace))
          throw new NoSuchNamespaceException(namespace)
        ops.childNames(d).sorted
          .filter(n => isGraftTable(s"$d/$n"))
          .map(n => Identifier.of(namespace, n)).toArray
    }

  // ---- namespaces: directories under the warehouse root ----

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    warehouse match {
      case None => Array.empty
      case Some(w) =>
        if (namespace.nonEmpty && !namespaceExists(namespace))
          throw new NoSuchNamespaceException(namespace)
        val d = nsDir(w, namespace)
        ops.childNames(d).sorted
          .filter { n =>
            val c = s"$d/$n"
            ops.isDirectory(c) && !isGraftTable(c) &&
              !graft.sinks.SnapshotGroup.isGroup(c)
          }
          .map(n => namespace :+ n).toArray
    }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || warehouse.exists { w =>
      val d = nsDir(w, namespace)
      ops.isDirectory(d) && !isGraftTable(d) &&
        !graft.sinks.SnapshotGroup.isGroup(d)
    }

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = warehouse match {
    case None => throw new UnsupportedOperationException(
      "CREATE NAMESPACE needs a warehouse root (set " +
        s"spark.sql.catalog.$catName.warehouse); a path-addressed " +
        "catalog has no directory tree to own")
    case Some(w) =>
      if (namespaceExists(namespace) ||
        isGraftTable(nsDir(w, namespace)))
        throw new NamespaceAlreadyExistsException(namespace)
      ops.makeDirs(nsDir(w, namespace))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "ALTER NAMESPACE not supported: namespaces are plain directories " +
        "with no metadata to alter")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = warehouse match {
    case None => false
    case Some(w) =>
      if (!namespaceExists(namespace) || namespace.isEmpty) false
      else {
        val d = nsDir(w, namespace)
        require(cascade || ops.childNames(d).isEmpty,
          s"namespace ${namespace.mkString(".")} is not empty; " +
            "use DROP NAMESPACE ... CASCADE")
        ops.purgeDir(d); true
      }
  }

  /** `CREATE TABLE graft.`/dir` (…) PARTITIONED BY (days(ts),
    * bucket(16, user_id))` — the DSv2 transform array maps ONE-TO-ONE
    * onto [[VersionedTable.declarePartitioning]]: the standard SQL DDL
    * for hidden partitioning IS the declaration, and every subsequent
    * landing (INSERT INTO here, commit/commitOnce in Scala, CALL
    * procedures) clusters by the declared transforms automatically.
    * `TBLPROPERTIES ('files' = 'N')` caps files per landed batch. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // CREATE TABLE targets a base table: a ref fragment would declare the
    // schema at the literal '#'-containing path while reads re-parse the
    // fragment and resolve elsewhere — an inconsistent state, so refuse
    require(parseRef(dirOf(ident))._2 == RefHead,
      "CREATE TABLE targets a base table, not a ref or metadata view " +
        s"('${ident.name}' carries a '#' fragment)")
    val dir = dirOf(ident)
    if (ops.versions(dir).nonEmpty || ops.declaredSchema(dir).isDefined)
      throw new TableAlreadyExistsException(ident)
    val specs = partitions.toSeq.map(GraftCatalog.transformSpec)
    val numFiles = Option(properties.get("files")).map(_.toInt).getOrElse(8)
    if (specs.nonEmpty) ops.declarePartitioning(dir, specs, numFiles)
    // every column gets its stable field id + physical name at birth —
    // the indirection RENAME/widening resolve through (ColumnMapping)
    var declared = ColumnMapping.assign(schema, Seq.empty)
    // `graft.nested.default.<path>` properties (what SHOW CREATE emits
    // for nested existence defaults — see GraftTable.properties)
    // reconstruct the declaration: CONSUMED here into schema metadata,
    // never persisted (the reporting side derives them back)
    val ndPrefix = "graft.nested.default."
    properties.asScala.toSeq.filter(_._1.startsWith(ndPrefix))
      .sortBy(_._1).foreach { case (k, sql) =>
        declared = NestedDefaults.withDefault(declared,
          NestedDefaults.parsePropertyPath(k.stripPrefix(ndPrefix)), sql)
      }
    ops.declareSchema(dir, declared.json)
    GraftCatalog.persistUserProperties(dir, properties)
    loadTable(ident)
  }

  /** CREATE TABLE with INLINE constraints (`CONSTRAINT c CHECK (…)` in
    * the column list): Spark 4 routes these through the TableInfo
    * overload, whose DEFAULT implementation delegates to the legacy
    * signature and silently DROPS the constraints — a re-created table
    * from SHOW CREATE output (which emits them) would lose enforcement.
    * Delegate for schema/partitions/properties, then register each
    * constraint through the same commit-enforced machinery ALTER ADD
    * CONSTRAINT uses (born-empty: the born-valid scan over zero rows is
    * vacuous; only CHECK ENFORCED is accepted, same refusal contract). */
  override def createTable(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    // Validate the WHOLE constraint list BEFORE creating anything:
    // every statement-level refusal — non-CHECK kind, NOT ENFORCED,
    // duplicate name — is decidable from the declaration alone, and a
    // refusal thrown after the legacy createTable would leave a
    // half-created table (schema landed, constraint never enforced)
    // whose retried CREATE hits TableAlreadyExistsException.
    val checks = info.constraints().toSeq.map {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
        require(c.enforced(),
          s"CHECK constraint '${c.name()}' NOT ENFORCED is not " +
            "supported: the engine validates every commit, so an " +
            "unenforced declaration would be a lie")
        c
      case other => throw new UnsupportedOperationException(
        s"constraint '${other.name()}' (${other.getClass.getSimpleName})" +
          " is not supported: only CHECK constraints are engine-" +
          "enforced; PK/unique/FK would be declared but never checked")
    }
    val dups = checks.groupBy(_.name()).collect {
      case (n, cs) if cs.size > 1 => n }
    require(dups.isEmpty, s"duplicate CHECK constraint name(s) " +
      s"${dups.mkString(", ")} in CREATE TABLE")
    val dir = dirOf(ident)
    val existedBefore = ops.isDirectory(dir)
    val table = createTable(ident, info.schema(), info.partitions(),
      info.properties())
    // After pre-validation only backend IO can fail here; don't leave
    // the half-created table behind — mirror the staged-CREATE abort
    // (engine artifacts only; the dir itself only if this CREATE made it)
    try checks.foreach { c =>
      ops.addConstraint(SparkSession.active, dir, c.name(),
        c.predicateSql(), preValidated = true) // the table is born empty
    } catch { case e: Throwable =>
      ops.purgeDir(s"$dir/constraints")
      ops.purgeTableArtifacts(dir)
      if (!existedBefore) ops.purgeDir(dir)
      throw e
    }
    if (checks.nonEmpty) loadTable(ident) else table
  }
  /** Metadata-only schema evolution — the declared schema IS the table
    * schema at read time (already-landed files never rewrite), resolved
    * through the [[ColumnMapping column-id indirection]] every declared
    * field carries:
    *
    *  - `ALTER TABLE … ADD COLUMNS (c T)` — the new column must be
    *    nullable (historical files have no value for it; the stock
    *    parquet schema-evolution read serves typed nulls), lands
    *    appended with a FRESH physical name that avoids every name the
    *    table ever addressed — so `DROP COLUMN c` then `ADD COLUMNS
    *    (c T)` serves nulls, never the dropped column's stale bytes.
    *    Positioned adds (`FIRST` / `AFTER x`) land at the requested
    *    declared position — metadata-only, like `ALTER COLUMN c
    *    FIRST/AFTER d`, because nothing keys on position (see
    *    `reposition` below). NOT NULL adds are legal exactly when a
    *    non-null DEFAULT covers the history.
    *  - `ALTER TABLE … DROP COLUMN c` — removed from the declared
    *    schema and recorded in the retired ledger; files keep the bytes,
    *    reads project them away. Refuses on a column anchoring declared
    *    partitioning (future landings would have nothing to cluster by).
    *  - `ALTER TABLE … RENAME COLUMN a TO b` — METADATA-ONLY: the
    *    logical name changes, the physical name (what files and stats
    *    sidecars carry) never does; writers rename logical→physical on
    *    landing, readers translate back, so zero files rewrite and old
    *    snapshots stay correct. Renaming a partition-anchored column is
    *    safe for the same reason (transforms anchor the physical name).
    *  - `ALTER TABLE … ALTER COLUMN c TYPE T` — safe WIDENING only
    *    (byte→short→int→long, float→double): the declared type changes,
    *    old files keep the narrow bytes and the parquet reader promotes
    *    per file (SPARK-40876). Refuses when the column anchors a
    *    declared bucket transform or carries bloom sidecars — both hash
    *    the value's TYPE-SPECIFIC bytes, so a widened probe would
    *    silently stop matching and pruning would drop live files.
    *
    * ADD / DROP / RENAME apply to NESTED struct members too
    * (`main.humidity`), with the same metadata-only guarantees: member
    * ids and physical names are per-field at every depth, collision
    * scope is the enclosing struct, and the retired ledger records full
    * dotted physical paths — so a raw-document table (the reference's
    * `main.temp` / `weather[0].description` shape, weather_etl.py:124–125)
    * evolves when the API adds a field, with zero rewrites. Array ELEMENT
    * and map VALUE structs evolve the same way (addressed via the
    * literal `.element.` / `.value.` path segments); map KEY structs are
    * identity-bearing and never evolve.
    *
    * Everything else (narrowing, string↔number re-types, map-key
    * struct evolution) refuses loudly — no silent approximation. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val (base, ref) = parseRef(dirOf(ident))
    val dir = ref match {
      case RefHead => base
      case RefBranch(b) => ops.resolveBranch(base, b) // a branch is a table
      case _ => throw new UnsupportedOperationException(
        "ALTER TABLE applies to a table or branch, not a tag or metadata view")
    }
    // SET/UNSET TBLPROPERTIES route to the durable property store (the
    // maintenance knobs — compact.auto.files, eqdel.compact.threshold —
    // are SQL-settable this way); they never touch the schema, and a
    // property-only ALTER must not pin a declared schema as a side
    // effect on a Scala-created table
    val (propChanges, schemaChanges) = changes.partition {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => true
      case _ => false
    }
    propChanges.foreach {
      case sp: TableChange.SetProperty =>
        ops.setTableProperty(dir, sp.property(), sp.value())
      case rp: TableChange.RemoveProperty =>
        ops.removeTableProperty(dir, rp.property())
      case _ => ()
    }
    // ADD/DROP CONSTRAINT — the SQL front door of the engine's
    // commit-enforced CHECK constraints (VersionedTable.addConstraint:
    // declaration scans the live table once and refuses if born broken;
    // every future commit validates the batch in one fold). Only CHECK
    // ENFORCED maps onto that machinery; unique/PK/FK and NOT ENFORCED
    // refuse loudly — the engine never declares what it doesn't enforce.
    val (constraintChanges, schemaChanges2) = schemaChanges.partition {
      case _: TableChange.AddConstraint | _: TableChange.DropConstraint =>
        true
      case _ => false
    }
    constraintChanges.foreach {
      case ac: TableChange.AddConstraint => ac.constraint() match {
        case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
          require(c.enforced(),
            s"CHECK constraint '${c.name()}' NOT ENFORCED is not " +
              "supported: the engine validates every commit, so an " +
              "unenforced declaration would be a lie")
          // Spark's analyzer pre-validates ADD CONSTRAINT with its own
          // scan of the resolved table snapshot and stamps that
          // snapshot's version() here. When the head hasn't moved, the
          // engine's born-valid scan would read the SAME rows again —
          // one full validation at 100 TB, not two. A moved head (or a
          // path that skipped Spark's validation) still pays ours.
          val preValidated = Option(ac.validatedTableVersion())
            .contains(ops.versions(dir).lastOption.getOrElse(0).toString)
          ops.addConstraint(SparkSession.active, dir, c.name(),
            c.predicateSql(), preValidated = preValidated)
        case other => throw new UnsupportedOperationException(
          s"constraint '${other.name()}' (${other.getClass.getSimpleName})" +
            " is not supported: only CHECK constraints are engine-" +
            "enforced; PK/unique/FK would be declared but never checked")
      }
      case dc: TableChange.DropConstraint =>
        require(dc.ifExists() || ops.constraints(dir).contains(dc.name()),
          s"no constraint '${dc.name()}' at $dir " +
            s"(have: ${ops.constraints(dir).keys.mkString(", ")})")
        ops.dropConstraint(dir, dc.name())
      case _ => ()
    }
    if (schemaChanges2.isEmpty) return loadTable(ident)
    // base schema: the declaration if CREATE TABLE pinned one, else the
    // head snapshot's inferred schema (Scala-created tables evolve too);
    // either way every field has ids after `assign`. The raw base json
    // is the CAS token: the final declaration write refuses if another
    // ALTER moved the declaration while this one was being computed.
    val baseJson = ops.declaredSchema(dir)
    val cur = ColumnMapping.assign(
      baseJson
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(snapshot(ident, None).schema()),
      ops.retiredColumns(dir).map(_._1))
    val partPhys = ops.partitioningOf(dir).map(_.source.toLowerCase).toSet
    def one(names: Array[String], what: String): String = {
      require(names.length == 1,
        s"nested $what unsupported: ${names.mkString(".")}")
      names.head
    }
    def fieldOf(sc: StructType, n: String, what: String): StructField =
      sc.fields.find(_.name.equalsIgnoreCase(n)).getOrElse(
        throw new IllegalArgumentException(s"$what: no column '$n'"))
    // The anchor discipline, extended to CHECK constraints: a declared
    // predicate references columns by (logical-at-declaration ==
    // physical-forever) name, so renaming or dropping any PREFIX of a
    // referenced path would leave a constraint every future commit
    // fails to resolve — the table bricks until dropConstraint. Refuse
    // up front instead, exactly like partitioning / sort.order anchors.
    def refuseConstraintAnchored(path: Seq[String], what: String): Unit = {
      val parser = SparkSession.active.sessionState.sqlParser
      ops.constraints(dir).foreach { case (cn, sql) =>
        val refs = scala.util.Try(parser.parseExpression(sql).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts
        }).getOrElse(Seq.empty)
        val hit = refs.exists(r => r.length >= path.length &&
          r.take(path.length).zip(path).forall {
            case (x, y) => x.equalsIgnoreCase(y)
          })
        require(!hit,
          s"$what: column '${path.mkString(".")}' is referenced by CHECK " +
            s"constraint '$cn' ($sql); drop or re-declare the constraint " +
            "first")
      }
    }
    // Navigate to the struct containing a NESTED path's last segment and
    // apply `f` to it — the seam ADD/DROP/RENAME/widen of a struct
    // member shares. Parents are plain structs, array ELEMENT structs,
    // or map VALUE structs; map KEY structs are structurally
    // unreachable (keys are identity-bearing — they never evolve).
    // Element members carry their own ids and physical names exactly
    // like plain struct members, and every translation seam (the scan's
    // physify/logify relabel, the write path's physicalType cast, the
    // retired ledger's dotted physical paths) recurses through
    // collections — so RENAME/DROP inside elements are metadata-only
    // too; the rows themselves are POSITIONAL at every depth and never
    // rebuild. Addressed by LOGICAL name; `f` receives the enclosing
    // struct and the dotted PHYSICAL prefix its members land under.
    def updateStructAt(sc: StructType, parents: Seq[String], what: String)
        (f: (StructType, String) => StructType): StructType = {
      def walk(cur: StructType, rest: Seq[String],
               physPrefix: String): StructType = rest match {
        case Seq() => f(cur, physPrefix)
        case head +: tail =>
          val i = cur.fields.indexWhere(_.name.equalsIgnoreCase(head))
          require(i >= 0, s"$what: no column '$head'")
          val fld = cur.fields(i)
          val pfx = s"$physPrefix${ColumnMapping.physOf(fld)}."
          // Spark addresses through collections with literal `element`
          // (arrays) / `value` (maps) path segments — the
          // findNestedField(includeCollections = true) convention; the
          // segment is structural, so it consumes no physical-path part
          def seg(s: String) = tail.headOption.exists(_.equalsIgnoreCase(s))
          val updated = fld.dataType match {
            case t: StructType => fld.copy(dataType = walk(t, tail, pfx))
            case a @ ArrayType(t: StructType, _) if seg("element") =>
              fld.copy(dataType = a.copy(
                elementType = walk(t, tail.tail, pfx)))
            case m @ MapType(_, t: StructType, _) if seg("value") =>
              fld.copy(dataType = m.copy(
                valueType = walk(t, tail.tail, pfx)))
            case other => throw new UnsupportedOperationException(
              s"$what: '$head' is ${other.simpleString}, not a struct — " +
                "there is no evolvable struct at this path (arrays via " +
                "`.element.`, map values via `.value.`; map keys do " +
                "not evolve)")
          }
          StructType(cur.fields.updated(i, updated))
      }
      walk(sc, parents, "")
    }
    // Reorder `name` within its struct per FIRST/AFTER. Declared order is
    // PRESENTATION plus the positional-INSERT target — it is metadata-only
    // here because nothing else keys on position: files resolve columns
    // (and nested group members) by NAME, sidecars/blooms/the retired
    // ledger key physical names, the scan seam translates the QUERY's
    // requested order, and every engine rewrite re-derives the current
    // declared order per operation.
    def reposition(st: StructType, name: String,
                   pos: TableChange.ColumnPosition,
                   what: String): StructType = {
      val i = st.fields.indexWhere(_.name.equalsIgnoreCase(name))
      require(i >= 0, s"$what: no column '$name'")
      val f = st.fields(i)
      val rest = st.fields.patch(i, Nil, 1)
      pos match {
        case _: TableChange.First => StructType(f +: rest)
        case a: TableChange.After =>
          val j = rest.indexWhere(_.name.equalsIgnoreCase(a.column()))
          require(j >= 0,
            s"$what: AFTER column '${a.column()}' does not exist in the " +
              "same struct")
          StructType((rest.take(j + 1) :+ f) ++ rest.drop(j + 1))
        case other => throw new UnsupportedOperationException(
          s"$what: unsupported position $other")
      }
    }
    val widenings: Map[DataType, Set[DataType]] = Map(
      ByteType -> Set(ShortType, IntegerType, LongType),
      ShortType -> Set(IntegerType, LongType),
      IntegerType -> Set(LongType),
      FloatType -> Set(DoubleType))
    val updated = schemaChanges2.foldLeft(cur) { (sc, ch) =>
      ch match {
        case add: TableChange.AddColumn if add.fieldNames().length > 1 =>
          // nested ADD — metadata-only like the top-level one: the new
          // struct member gets a fresh id + a physical name avoiding
          // everything its ENCLOSING STRUCT ever addressed, and
          // pre-evolution files serve typed nulls through the stock
          // parquet nested-schema-evolution read. DEFAULT declares a
          // nested EXISTENCE default, substituted by the ENGINE's own
          // read path (Spark's mechanism is top-level-only) — see
          // [[NestedDefaults]] for the full semantics (coalesce reads,
          // append-door NULL gate, substituted ANALYZE). NOT NULL is
          // legal exactly when a non-null DEFAULT covers the history —
          // same contract as the top-level add (and alterTable's
          // nullability scaladoc); un-defaulted NOT NULL refuses below.
          val path = add.fieldNames().toSeq
          val dotted = path.mkString(".")
          val dv = Option(add.defaultValue())
          val existsLit = dv.map { d =>
            // parents may be plain structs, array ELEMENT structs or map
            // VALUE structs: the write gate is batch-shaped either way
            // (element members enforce through a forall lambda —
            // [[NestedNotNull.predicate]]) and the read substitution
            // rebuilds elements through a transform lambda
            // ([[NestedDefaults.rebuildAny]]); a NULL element is a NULL
            // parent and stays NULL
            require(!(add.dataType().isInstanceOf[StructType] ||
                add.dataType().isInstanceOf[ArrayType] ||
                add.dataType().isInstanceOf[MapType]),
              s"ADD COLUMN '$dotted' DEFAULT needs an atomic-typed " +
                s"member, got ${add.dataType().simpleString}")
            val v = d.getValue
            require(v != null,
              s"ADD COLUMN '$dotted' DEFAULT must be a constant-foldable " +
                "expression (the value already-landed rows serve)")
            val folded = org.apache.spark.sql.catalyst.expressions.Cast(
              org.apache.spark.sql.catalyst.expressions.Literal(
                v.value(), v.dataType()), add.dataType(),
              Some(SparkSession.active.sessionState.conf
                .sessionLocalTimeZone)).eval(null)
            require(folded != null,
              s"ADD COLUMN '$dotted' DEFAULT NULL is the absent-default " +
                "behavior (or the default does not fit the member type) " +
                "— omit the DEFAULT instead")
            org.apache.spark.sql.catalyst.expressions.Literal(
              folded, add.dataType())
          }
          // NOT NULL is legal exactly when a non-null existence default
          // covers already-landed history (the top-level convention) —
          // existsLit is non-null by construction above. The member
          // constraint is parent-null-guarded and commit-enforced
          // ([[graft.sql.NestedNotNull]]); user batches storing NULL
          // under a non-null parent already refuse via the defaults gate.
          require(add.isNullable || existsLit.isDefined,
            s"ADD COLUMN '$dotted' NOT NULL needs a non-null DEFAULT: " +
              "already-landed files have no value for it")
          updateStructAt(sc, path.init, s"ADD COLUMN '$dotted'") {
            (st, _) =>
              require(!st.fieldNames.exists(_.equalsIgnoreCase(path.last)),
                s"column '$dotted' already exists")
              st
          }
          val added = ColumnMapping.addField(sc, path, add.dataType(),
            ops.retiredColumns(dir))
          val stamped = existsLit match {
            case None => added
            case Some(lit) =>
              // stamp the EXISTS_DEFAULT (canonical literal SQL, parsed
              // + re-cast at read time so later member widening needs no
              // metadata rewrite) onto the new member — CURRENT_DEFAULT
              // is deliberately absent: an INSERT can never OMIT a
              // struct member, so only the existence half is meaningful
              updateStructAt(added, path.init,
                  s"ADD COLUMN '$dotted'") { (st, _) =>
                val i = st.fields.indexWhere(
                  _.name.equalsIgnoreCase(path.last))
                val f = st.fields(i)
                StructType(st.fields.updated(i, f.copy(
                  nullable = add.isNullable,
                  metadata =
                    new MetadataBuilder().withMetadata(f.metadata)
                      .putString(NestedDefaults.ExistsKey, lit.sql)
                      .build())))
              }
          }
          if (add.position() == null) stamped
          else updateStructAt(stamped, path.init,
              s"ADD COLUMN '$dotted'") { (st, _) =>
            reposition(st, path.last, add.position(),
              s"ADD COLUMN '$dotted'")
          }
        case add: TableChange.AddColumn =>
          val n = one(add.fieldNames(), "ADD COLUMN")
          require(!sc.fieldNames.exists(_.equalsIgnoreCase(n)),
            s"column '$n' already exists")
          // DEFAULT makes the add metadata-only in BOTH directions: the
          // evaluated literal lands as EXISTS_DEFAULT (Spark's own
          // parquet readers substitute it wherever a file lacks the
          // physical column — pre-ADD history serves the default with
          // zero rewrites, post-ADD files serve their stored values,
          // including explicit NULLs), and the default SQL lands as
          // CURRENT_DEFAULT (future INSERTs omitting the column or
          // writing the DEFAULT keyword resolve it). A NOT NULL add is
          // legal exactly when a non-null default covers the history.
          val dv = Option(add.defaultValue())
          val existsLit = dv.map { d =>
            val v = d.getValue
            require(v != null,
              s"ADD COLUMN '$n' DEFAULT must be a constant-foldable " +
                "expression (the initial value for already-landed rows)")
            org.apache.spark.sql.catalyst.expressions.Literal(
              v.value(), v.dataType())
          }
          require(add.isNullable || existsLit.exists(_.value != null),
            s"ADD COLUMN '$n' NOT NULL needs a non-null DEFAULT: " +
              "already-landed files have no value for it")
          val added = ColumnMapping.addField(sc, n, add.dataType(),
            ops.retiredColumns(dir))
          val stamped = dv match {
            case None => added
            case Some(d) =>
              val f0 = added.fields.last
              val sql = Option(d.getSql)
                .getOrElse(existsLit.get.sql)
              val meta = new MetadataBuilder().withMetadata(f0.metadata)
                .putString("CURRENT_DEFAULT", sql)
                .putString("EXISTS_DEFAULT", existsLit.get.sql)
                .build()
              StructType(added.fields.dropRight(1) :+
                f0.copy(nullable = add.isNullable, metadata = meta))
          }
          if (add.position() == null) stamped
          else reposition(stamped, n, add.position(), s"ADD COLUMN '$n'")
        case del: TableChange.DeleteColumn if del.fieldNames().length > 1 =>
          // nested DROP — removed from the declared struct and recorded
          // in the retired ledger under its full dotted PHYSICAL path
          // (rename-stable), so a later re-add inside the same struct
          // addresses a fresh physical name and cannot resurrect the
          // dropped bytes. Files keep the bytes; reads project them away.
          val path = del.fieldNames().toSeq
          val dotted = path.mkString(".")
          def resolves(cur: StructType, rest: Seq[String]): Boolean =
            rest match {
              case Seq(last) =>
                cur.fieldNames.exists(_.equalsIgnoreCase(last))
              case head +: tail =>
                def seg(s: String) =
                  tail.headOption.exists(_.equalsIgnoreCase(s))
                cur.fields.find(_.name.equalsIgnoreCase(head))
                  .map(_.dataType).exists {
                    case st: StructType => resolves(st, tail)
                    case ArrayType(st: StructType, _) if seg("element") =>
                      resolves(st, tail.tail)
                    case MapType(_, st: StructType, _) if seg("value") =>
                      resolves(st, tail.tail)
                    case _ => false
                  }
            }
          if (del.ifExists() && !resolves(sc, path)) sc
          else {
            refuseConstraintAnchored(path, s"DROP COLUMN '$dotted'")
            updateStructAt(sc, path.init, s"DROP COLUMN '$dotted'") {
            (st, physPrefix) =>
              val f = fieldOf(st, path.last, s"DROP COLUMN '$dotted'")
              require(st.length > 1,
                s"cannot drop the last member of struct " +
                  s"'${path.init.mkString(".")}' — drop the struct " +
                  "column itself")
              ColumnMapping.retireEntries(f, physPrefix).foreach {
                case (id, p) => ops.retireColumn(dir, id, p)
              }
              StructType(st.filterNot(_.name.equalsIgnoreCase(path.last)))
            }
          }
        case del: TableChange.DeleteColumn =>
          val n = one(del.fieldNames(), "DROP COLUMN")
          if (!sc.fieldNames.exists(_.equalsIgnoreCase(n))) {
            require(del.ifExists(), s"no column '$n' to drop")
            sc
          } else {
            val f = fieldOf(sc, n, "DROP COLUMN")
            require(!partPhys.contains(ColumnMapping.physOf(f).toLowerCase),
              s"column '$n' anchors declared partitioning; re-declare " +
                "partitioning before dropping it")
            // same anchor discipline for the declared sort order: with
            // the column gone, every future compaction would silently
            // skip the sort (the filter drops unresolvable columns) —
            // the exact silent decay the born-valid declaration check
            // exists to prevent
            require(!ops.sortOrderOf(dir).exists(c =>
              c.equalsIgnoreCase(ColumnMapping.physOf(f)) ||
                c.equalsIgnoreCase(n)),
              s"column '$n' anchors the declared sort.order; clear or " +
                "re-declare the property before dropping it")
            require(sc.length > 1, "cannot drop a table's last column")
            refuseConstraintAnchored(Seq(n), s"DROP COLUMN '$n'")
            // a struct retires its members too (full dotted physical
            // paths), so re-adding the struct later cannot resurrect
            // nested bytes either
            ColumnMapping.retireEntries(f).foreach { case (id, p) =>
              ops.retireColumn(dir, id, p)
            }
            StructType(sc.filterNot(_.name.equalsIgnoreCase(n)))
          }
        case rn: TableChange.RenameColumn if rn.fieldNames().length > 1 =>
          // nested RENAME — METADATA-ONLY exactly like the top-level one:
          // the logical name changes, the physical name (what every file
          // carries inside the parquet group) never does, so zero files
          // rewrite and old snapshots stay correct.
          val path = rn.fieldNames().toSeq
          val dotted = path.mkString(".")
          val to = rn.newName()
          refuseConstraintAnchored(path, s"RENAME COLUMN '$dotted'")
          updateStructAt(sc, path.init, s"RENAME COLUMN '$dotted'") {
            (st, _) =>
              val f = fieldOf(st, path.last, s"RENAME COLUMN '$dotted'")
              require(!st.fieldNames.exists(c =>
                c.equalsIgnoreCase(to) && !c.equalsIgnoreCase(path.last)),
                s"RENAME COLUMN '$dotted' TO '$to': target name already " +
                  "exists in the struct")
              StructType(st.fields.map(x =>
                if (x.name.equalsIgnoreCase(path.last)) f.copy(name = to)
                else x))
          }
        case rn: TableChange.RenameColumn =>
          val n = one(rn.fieldNames(), "RENAME COLUMN")
          val to = rn.newName()
          refuseConstraintAnchored(Seq(n), s"RENAME COLUMN '$n'")
          val f = fieldOf(sc, n, "RENAME COLUMN")
          require(!sc.fieldNames.exists(c =>
            c.equalsIgnoreCase(to) && !c.equalsIgnoreCase(n)),
            s"RENAME COLUMN '$n' TO '$to': target name already exists")
          StructType(sc.fields.map(x =>
            if (x.name.equalsIgnoreCase(n)) f.copy(name = to) else x))
        case ut: TableChange.UpdateColumnType if ut.fieldNames().length > 1 =>
          // nested widening — metadata-only like the top-level one: the
          // parquet reader promotes narrow struct members per file
          // (probed: int→long, float→double inside a group), range stats
          // compare as decimal strings so pruning survives, and the same
          // bucket/bloom guards apply at the dotted physical path
          val path = ut.fieldNames().toSeq
          val dotted = path.mkString(".")
          val nt = ut.newDataType()
          updateStructAt(sc, path.init, s"ALTER COLUMN '$dotted' TYPE") {
            (st, physPrefix) =>
              val f = fieldOf(st, path.last, s"ALTER COLUMN '$dotted' TYPE")
              require(widenings.get(f.dataType).exists(_.contains(nt)),
                s"ALTER COLUMN '$dotted' TYPE ${nt.simpleString}: only " +
                  s"safe widenings are supported " +
                  s"(${f.dataType.simpleString} allows: " +
                  widenings.getOrElse(f.dataType, Set.empty)
                    .map(_.simpleString).mkString(", ") + ")")
              val physPath = s"$physPrefix${ColumnMapping.physOf(f)}"
              require(!ops.partitioningOf(dir).exists {
                case b: graft.sinks.PartitionTransform.Bucket =>
                  b.source == physPath
                case _ => false
              }, s"column '$dotted' anchors a declared bucket transform, " +
                "which hashes type-specific bytes; re-declare " +
                "partitioning before widening")
              require(!ops.hasBloomStats(dir, physPath),
                s"column '$dotted' carries bloom sidecars built over the " +
                  "narrow type; rebuild blooms (write_blooms) after " +
                  "widening instead")
              StructType(st.fields.map(x =>
                if (x.name.equalsIgnoreCase(path.last)) f.copy(dataType = nt)
                else x))
          }
        case ut: TableChange.UpdateColumnType =>
          val n = one(ut.fieldNames(), "ALTER COLUMN TYPE")
          val f = fieldOf(sc, n, "ALTER COLUMN TYPE")
          val nt = ut.newDataType()
          require(widenings.get(f.dataType).exists(_.contains(nt)),
            s"ALTER COLUMN '$n' TYPE ${nt.simpleString}: only safe " +
              s"widenings are supported (${f.dataType.simpleString} " +
              "allows: " + widenings.getOrElse(f.dataType, Set.empty)
                .map(_.simpleString).mkString(", ") + ")")
          val phys = ColumnMapping.physOf(f)
          require(!ops.partitioningOf(dir).exists {
            case b: graft.sinks.PartitionTransform.Bucket => b.source == phys
            case _ => false
          }, s"column '$n' anchors a declared bucket transform, which " +
            "hashes type-specific bytes; re-declare partitioning before " +
            "widening")
          require(!ops.hasBloomStats(dir, phys),
            s"column '$n' carries bloom sidecars built over the narrow " +
              "type; rebuild blooms (write_blooms) after widening instead")
          StructType(sc.fields.map(x =>
            if (x.name.equalsIgnoreCase(n)) f.copy(dataType = nt) else x))
        case un: TableChange.UpdateColumnNullability
            if un.fieldNames().length > 1 =>
          // nested SET NOT NULL — born-valid or refused, like the
          // top-level one, under the parent-null-guarded semantics
          // ([[NestedNotNull]]): the member constraint applies where its
          // enclosing parent (struct, array element, map value) is
          // non-null. The born-valid probe evaluates over SERVED values:
          // raw files at the declared physical schema (relaxed — pre-ADD
          // vintages may lack members; EXISTS_DEFAULT rides top-level
          // fields), nested defaults substituted first so a faithful
          // stored NULL under a defaulted member doesn't misfire, then
          // ONE violation probe of the guarded predicate. Raw files, not
          // the live view: delete-vector-hidden rows still carry bytes,
          // and refusing on them is the conservative side. SET NULLABLE
          // relaxes freely.
          val path = un.fieldNames().toSeq
          val dotted = path.mkString(".")
          if (!un.nullable()) {
            val pred = NestedNotNull.predicate(sc, path)
            if (ops.versions(dir).nonEmpty) {
              val files = ops.manifestLines(dir, ops.versions(dir).last)
                .filter(_.nonEmpty).filterNot(_.startsWith("#"))
              if (files.nonEmpty) {
                val spark = SparkSession.active
                def relaxDt(dt: DataType): DataType = dt match {
                  case s: StructType => StructType(s.fields.map(f =>
                    f.copy(dataType = relaxDt(f.dataType), nullable = true)))
                  case a: ArrayType => a.copy(
                    elementType = relaxDt(a.elementType), containsNull = true)
                  case m: MapType => m.copy(
                    valueType = relaxDt(m.valueType), valueContainsNull = true)
                  case o => o
                }
                val declPhys = ColumnMapping.physicalSchema(sc)
                val raw = spark.read
                  .schema(relaxDt(declPhys).asInstanceOf[StructType])
                  .parquet(files: _*)
                val served = NestedDefaults.substitute(raw, declPhys)
                val bad = served.filter(!expr(pred)).limit(1).count()
                require(bad == 0,
                  s"ALTER COLUMN '$dotted' SET NOT NULL: existing row(s) " +
                    "violate it (a NULL member under a non-null parent); " +
                    "a declaration born broken proves nothing")
              }
            }
          }
          updateStructAt(sc, path.init,
              s"ALTER COLUMN '$dotted' NULLABILITY") { (st, _) =>
            val f = fieldOf(st, path.last, s"ALTER COLUMN '$dotted'")
            StructType(st.fields.map(x =>
              if (x.name.equalsIgnoreCase(path.last))
                f.copy(nullable = un.nullable())
              else x))
          }
        case un: TableChange.UpdateColumnNullability =>
          val n = one(un.fieldNames(), "ALTER COLUMN NULLABILITY")
          val f = fieldOf(sc, n, "ALTER COLUMN")
          if (!un.nullable() && f.nullable && ops.versions(dir).nonEmpty) {
            // SET NOT NULL is born-true or refused (the addConstraint
            // discipline): one raw scan of the snapshot's files at the
            // column's declared physical schema — EXISTS_DEFAULT
            // metadata rides it, so pre-ADD history reads as the
            // declared default, not as spurious nulls. Raw files, not
            // the live view: rows only delete vectors hide still carry
            // the bytes, and refusing on them is the conservative side.
            val phys = ColumnMapping.physOf(f)
            val spark = SparkSession.active
            // physicalType: a struct column's MEMBERS must be addressed
            // by their physical names too, or a renamed member reads as
            // missing and the group's nullness proof degrades
            val nulls = spark.read
              .schema(StructType(Seq(f.copy(name = phys,
                dataType = ColumnMapping.physicalType(f.dataType),
                nullable = true))))
              .parquet(ops.manifestLines(dir, ops.versions(dir).last)
                .filter(_.nonEmpty).filterNot(_.startsWith("#")): _*)
              // backtick-quote: a literal dot in the NAME must not
              // parse as a nested reference
              .filter(col("`" + phys.replace("`", "``") + "`").isNull)
              .limit(1).count()
            require(nulls == 0,
              s"ALTER COLUMN '$n' SET NOT NULL: existing row(s) are " +
                "NULL; a declaration born broken proves nothing " +
                "(and TopN admission would trust it)")
          }
          StructType(sc.fields.map(x =>
            if (x.name.equalsIgnoreCase(n)) x.copy(nullable = un.nullable())
            else x))
        case uc: TableChange.UpdateColumnComment =>
          // COMMENT is pure documentation riding the declared schema —
          // works at any depth (struct / element / value members) via
          // the same navigation every other member edit uses
          val path = uc.fieldNames().toSeq
          val dotted = path.mkString(".")
          def comment(st: StructType): StructType = {
            val f = fieldOf(st, path.last, s"ALTER COLUMN '$dotted'")
            StructType(st.fields.map(x =>
              if (x.name.equalsIgnoreCase(path.last))
                f.withComment(uc.newComment())
              else x))
          }
          if (path.length == 1) comment(sc)
          else updateStructAt(sc, path.init,
            s"ALTER COLUMN '$dotted'") { (st, _) => comment(st) }
        case up: TableChange.UpdateColumnPosition =>
          // ALTER COLUMN c FIRST / AFTER d — declared-order-only (see
          // [[reposition]]): presentation plus the positional-INSERT
          // target change; zero files move. Nested members (struct,
          // array element, map value) reorder within their enclosing
          // struct; the AFTER anchor must live in the SAME struct.
          val path = up.fieldNames().toSeq
          val dotted = path.mkString(".")
          if (path.length == 1)
            reposition(sc, path.head, up.position(),
              s"ALTER COLUMN '$dotted'")
          else updateStructAt(sc, path.init,
              s"ALTER COLUMN '$dotted'") { (st, _) =>
            reposition(st, path.last, up.position(),
              s"ALTER COLUMN '$dotted'")
          }
        case ud: TableChange.UpdateColumnDefaultValue =>
          // SET/DROP DEFAULT touches CURRENT_DEFAULT only (what future
          // INSERTs resolve); EXISTS_DEFAULT — what already-landed
          // history serves — is immutable by contract: changing it would
          // metadata-rewrite the PAST, silently altering rows that were
          // committed under the old declaration. A NESTED member refuses
          // with the full story: its default IS the existence half
          // (INSERTs can never OMIT a struct member, so CURRENT_DEFAULT
          // has nothing to resolve) and the existence half is immutable
          // — drop and re-add the member to change what new history
          // would serve.
          require(ud.fieldNames().length == 1,
            s"ALTER COLUMN '${ud.fieldNames().mkString(".")}' SET/DROP " +
              "DEFAULT is unsupported on nested members: a nested " +
              "default is an EXISTENCE default (INSERTs cannot omit a " +
              "struct member, so there is no current-default to " +
              "change), and existence defaults are immutable — history " +
              "already serves the declared value. DROP COLUMN and " +
              "re-ADD the member to change it.")
          val n = one(ud.fieldNames(), "ALTER COLUMN DEFAULT")
          val f = fieldOf(sc, n, "ALTER COLUMN")
          val sqlOpt = Option(ud.newCurrentDefault()).map(_.getSql)
            .filter(s => s != null && s.trim.nonEmpty)
          val mb = new MetadataBuilder().withMetadata(f.metadata)
          sqlOpt match {
            case Some(sql) =>
              // born-valid or refused: the default must parse, fold to a
              // constant, and cast to the column's type — a garbage
              // declaration failing every FUTURE insert helps no one
              val expr = SparkSession.active.sessionState.sqlParser
                .parseExpression(sql)
              require(expr.foldable,
                s"ALTER COLUMN '$n' SET DEFAULT must be constant-" +
                  s"foldable, got: $sql")
              val v = org.apache.spark.sql.catalyst.expressions
                .Cast(expr, f.dataType, Option(
                  org.apache.spark.sql.internal.SQLConf.get
                    .sessionLocalTimeZone)).eval(null)
              require(f.nullable || v != null,
                s"ALTER COLUMN '$n' SET DEFAULT NULL contradicts the " +
                  "declared NOT NULL")
              mb.putString("CURRENT_DEFAULT", sql)
            case None =>
              mb.remove("CURRENT_DEFAULT")
          }
          StructType(sc.fields.map(x =>
            if (x.name.equalsIgnoreCase(n)) x.copy(metadata = mb.build())
            else x))
        case other => throw new UnsupportedOperationException(
          s"unsupported ALTER TABLE change ${other.getClass.getSimpleName}; " +
            "supported: ADD COLUMNS (incl. struct members, FIRST/AFTER, " +
            "NOT NULL with DEFAULT), DROP COLUMN (incl. struct members), " +
            "RENAME COLUMN (incl. struct members), ALTER COLUMN TYPE " +
            "(safe widening; incl. struct members), ALTER COLUMN " +
            "FIRST/AFTER, ALTER COLUMN COMMENT, ALTER COLUMN SET/DROP " +
            "NOT NULL, ALTER COLUMN SET/DROP DEFAULT, ADD/DROP " +
            "CONSTRAINT (CHECK)")
      }
    }
    ops.casDeclareSchema(dir, baseJson, updated.json)
    loadTable(ident)
  }
  // ---- atomic CTAS / RTAS (StagingTableCatalog) ----
  //
  // The engine's manifest publish is itself the atomic boundary, so
  // staging needs no shadow directory: a staged CREATE's first commit
  // is v1 (readers see nothing until it lands), a staged REPLACE's
  // write is ONE logical-overwrite snapshot (readers see the old head
  // until the new manifest publishes, then the whole new table).
  // Declarations (schema / partitioning) land lazily inside the write
  // job and are restored on abort.

  private def stagedOf(ident: Identifier, info: TableInfo,
                       mustExist: Option[Boolean]): StagedTable = {
    val (base, ref) = parseRef(dirOf(ident))
    require(ref == RefHead,
      "CREATE/REPLACE TABLE targets a base table, not a ref or metadata " +
        s"view ('${ident.name}' carries a '#' fragment)")
    require(!graft.sinks.SnapshotGroup.isGroup(base),
      s"'$base' is a snapshot group; CTAS/RTAS cannot replace it " +
        "(DROP TABLE releases its member pins first)")
    val exists = isGraftTable(base)
    mustExist.foreach { m =>
      if (m && !exists) throw new NoSuchTableException(ident)
      if (!m && exists) throw new TableAlreadyExistsException(ident)
    }
    new StagedGraftTable(s"$catName.$base", base, info,
      replacing = exists,
      priorDeclared = if (exists) ops.declaredSchema(base) else None,
      priorPartitioning =
        if (exists)
          Some((ops.partitioningOf(base).map(_.spec),
            ops.partitioningNumFiles(base)))
        else None,
      existedBefore = ops.isDirectory(base))
  }

  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable =
    stagedOf(ident, info, mustExist = Some(false))

  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable =
    stagedOf(ident, info, mustExist = Some(true))

  override def stageCreateOrReplace(ident: Identifier,
                                    info: TableInfo): StagedTable =
    stagedOf(ident, info, mustExist = None)

  /** `DROP TABLE` purges catalog-MANAGED tables — those resolved under
    * the warehouse root: directory, manifests, sidecars, segments, data
    * files and branch lineages all go. External path-addressed tables
    * keep the refusal: the catalog does not own that data, and history
    * removal there is expire()/vacuum. */
  override def dropTable(ident: Identifier): Boolean = {
    val (base, ref) = parseRef(dirOf(ident))
    require(ref == RefHead,
      "DROP TABLE targets a base table, not a ref or metadata view " +
        s"('${ident.name}' carries a '#' fragment)")
    if (graft.sinks.SnapshotGroup.isGroup(base)) {
      // a group's pins are GC state on OTHER tables: release every
      // member tag before the purge, or member expire refuses those
      // versions forever with no group_expire left to run. This branch
      // runs BEFORE the external-table refusal: a group dir holds only
      // pins and manifests, never data, so dropping a path-addressed
      // group releases its member tags without destroying anything the
      // catalog doesn't own — and it is the ONLY SQL path that can
      // release a path group's pins at all.
      graft.sinks.SnapshotGroup.drop(base)
      ops.purgeDir(base)
      true
    }
    else if (!warehouse.exists(w => base.startsWith(w + "/")))
      throw new UnsupportedOperationException(
        "DROP TABLE on a path-addressed (external) table is not " +
          "supported: the catalog does not own that data; history " +
          "removal is expire()/vacuum")
    else if (!isGraftTable(base)) false
    else { ops.purgeDir(base); true }
  }
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("RENAME TABLE not supported")

  // ---- procedures: the mutation/maintenance surface ----

  /** One-row result: the version the call committed (or resolved) — or
    * whatever other integer the procedure's contract names (`outCol`). */
  private def versionRow(outCol: String, v: Int): util.Iterator[Scan] = {
    val scan: Scan = new LocalScan {
      override def rows(): Array[InternalRow] = Array(InternalRow(v))
      override def readSchema(): StructType =
        StructType(Seq(StructField(outCol, IntegerType, nullable = false)))
    }
    util.Collections.singletonList(scan).iterator()
  }

  /** A fixed-signature procedure: `body` gets the argument row in
    * parameter order and returns the committed version. */
  private case class Proc(procName: String, argNames: Seq[String],
      procDescription: String, outCol: String = "version")(
      body: (SparkSession, Seq[String]) => Int)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = procDescription
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      argNames.map(n => ProcedureParameter.in(n, StringType).build()).toArray
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val args = argNames.indices.map { i =>
        val s = input.getUTF8String(i)
        require(s != null, s"procedure $procName: argument " +
          s"'${argNames(i)}' must not be NULL")
        s.toString
      }
      versionRow(outCol, body(SparkSession.active, args))
    }
  }

  /** Every argument is a STRING (paths, view names, predicates, numbers
    * as literals) — the uniform signature keeps `CALL` sites obvious and
    * sidesteps implicit-cast surprises in positional binding. */
  private val procs: Map[String, Proc] = Seq(
    Proc("merge_into", Seq("dir", "source_view", "key"),
      "Copy-on-write MERGE of a registered view into the table by key")(
      (s, a) => ops.merge(s, a(0), s.table(a(1)), a(2))),
    Proc("apply_changes", Seq("dir", "changes_view", "key", "op_col"),
      "CDC changelog apply: op column 'u' upserts / 'd' deletes, one commit")(
      (s, a) => ops.mergeChanges(s, a(0), s.table(a(1)), a(2), a(3))),
    Proc("delete_where", Seq("dir", "predicate"),
      "Land positional delete vectors for rows matching a SQL predicate")(
      (s, a) => ops.deleteWhere(s, a(0), expr(a(1)))),
    Proc("delete_by_keys", Seq("dir", "key_col", "keys_view"),
      "O(keys) equality-delete commit; compact() materializes it")(
      (s, a) => ops.deleteByKeys(s, a(0), a(1), s.table(a(2)))),
    Proc("compact", Seq("dir", "target_bytes"),
      "Bin-pack small files; materializes all deletes for rewritten files")(
      (s, a) => ops.compact(s, a(0), a(1).toLong)),
    Proc("compact_where", Seq("dir", "column", "lo", "hi", "target_bytes"),
      "Scoped compact: only files whose [column] stats may intersect " +
        "[lo, hi] rewrite — O(hot slice), never O(table)")(
      (s, a) => {
        // schema from the declaration (or one vintage's footers) — NOT
        // a full merge-on-read plan over every data file; a scoped
        // maintenance call must not pay O(table) to learn a column type
        val sc = ops.declaredSchema(a(0))
          .map(j => DataType.fromJson(j).asInstanceOf[StructType])
          .getOrElse(ops.vintageSchema(s, a(0), ops.versions(a(0)).last))
        val f = sc.fields.find(_.name.equalsIgnoreCase(a(1))).getOrElse(
          throw new IllegalArgumentException(
            s"compact_where: no column '${a(1)}' in ${a(0)}"))
        // type the bounds through the ENGINE (one 1-row cast job), the
        // same discipline as equality-probe hashing: a string bound
        // against a numeric column would silently admit everything —
        // and resolve the LOGICAL name to the physical one stats carry
        val r = s.range(1)
          .select(org.apache.spark.sql.functions.lit(a(2)).cast(f.dataType),
            org.apache.spark.sql.functions.lit(a(3)).cast(f.dataType))
          .head()
        require(!r.isNullAt(0) && !r.isNullAt(1),
          s"compact_where: bounds '${a(2)}'..'${a(3)}' do not cast to " +
            s"${f.dataType.simpleString}")
        ops.compactWhere(s, a(0),
          Seq((ColumnMapping.physOf(f), r.get(0), r.get(1))), a(4).toLong)
      }),
    Proc("optimize_zorder", Seq("dir", "cols"),
      "Rewrite live rows z-ordered on comma-separated cols; delete-free")(
      (s, a) => ops.optimizeZorder(s, a(0),
        a(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq)),
    Proc("zorder_where",
      Seq("dir", "column", "lo", "hi", "zcols", "target_bytes"),
      "Scoped multi-key clustering: only files whose [column] stats may " +
        "intersect [lo, hi] rewrite z-ordered on comma-separated zcols — " +
        "O(hot slice), never O(table)")(
      (s, a) => {
        // bound typing + logical→physical resolution: the compact_where
        // discipline verbatim (a string bound against a numeric column
        // would silently admit everything)
        val sc = ops.declaredSchema(a(0))
          .map(j => DataType.fromJson(j).asInstanceOf[StructType])
          .getOrElse(ops.vintageSchema(s, a(0), ops.versions(a(0)).last))
        def phys(n: String, what: String): StructField =
          sc.fields.find(_.name.equalsIgnoreCase(n)).getOrElse(
            throw new IllegalArgumentException(
              s"zorder_where: no $what column '$n' in ${a(0)}"))
        val f = phys(a(1), "scope")
        val r = s.range(1)
          .select(org.apache.spark.sql.functions.lit(a(2)).cast(f.dataType),
            org.apache.spark.sql.functions.lit(a(3)).cast(f.dataType))
          .head()
        require(!r.isNullAt(0) && !r.isNullAt(1),
          s"zorder_where: bounds '${a(2)}'..'${a(3)}' do not cast to " +
            s"${f.dataType.simpleString}")
        val zCols = a(4).split(',').map(_.trim).filter(_.nonEmpty).toSeq
          .map(c => ColumnMapping.physOf(phys(c, "cluster")))
        ops.zorderWhere(s, a(0),
          Seq((ColumnMapping.physOf(f), r.get(0), r.get(1))), zCols,
          a(5).toLong)
      }),
    Proc("rollback", Seq("dir", "to_version"),
      "Restore an old file set as a new inspectable version")(
      (_, a) => ops.rollback(a(0), a(1).toInt)),
    Proc("expire", Seq("dir", "keep_last"),
      "GC manifests beyond keep_last and files nothing retained references")(
      (_, a) => { ops.expire(a(0), a(1).toInt); ops.versions(a(0)).last }),
    Proc("expire_before", Seq("dir", "ts_millis"),
      "Expire history older than an instant (retention-policy expire)")(
      (_, a) => { ops.expireBefore(a(0), a(1).toLong)
        ops.versions(a(0)).last }),
    Proc("write_stats", Seq("dir", "cols"),
      "(Re)collect per-file min/max stats for comma-separated cols " +
        "(nested leaves as dotted paths, e.g. main.temp)")(
      (s, a) => { val d = a(0); val v = ops.versions(d).last
        // resolve LOGICAL (possibly dotted) names to the PHYSICAL paths
        // the files and sidecars carry — the compact_where discipline;
        // names that don't resolve against a declared schema pass
        // through as-is (Scala-created tables have identity mapping)
        val declaredS = ops.declaredSchema(d)
          .map(j => DataType.fromJson(j).asInstanceOf[StructType])
        def physPath(c: String): String = declaredS.flatMap { sc =>
          def walk(s: StructType, parts: List[String]): Option[String] =
            parts match {
              case Nil => None
              case h :: t =>
                s.fields.find(_.name.equalsIgnoreCase(h)).flatMap { f =>
                  val p = ColumnMapping.physOf(f)
                  t match {
                    case Nil => Some(p)
                    case _ => f.dataType match {
                      case st: StructType => walk(st, t).map(n => s"$p.$n")
                      case _ => None
                    }
                  }
                }
            }
          walk(sc, c.split('.').toList)
        }.getOrElse(c)
        ops.writeStats(s, d, v,
          a(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
            .map(physPath)); v }),
    Proc("create_tag", Seq("dir", "name", "at_version"),
      "Pin a committed version ('head' or a number) under an immutable " +
        "name; a GC anchor expire() refuses to cross")(
      (_, a) => { val v = if (a(2) == "head") ops.versions(a(0)).last
                          else a(2).toInt
        ops.tag(a(0), a(1), v); v }),
    Proc("create_branch", Seq("dir", "name", "from_version"),
      "Zero-copy fork from 'head' or a version; read/write it as " +
        "graft.`dir#branch=name`")(
      (_, a) => { val bd = ops.createBranch(a(0), a(1),
          if (a(2) == "head") None else Some(a(2).toInt))
        ops.versions(bd).last }),
    Proc("fast_forward", Seq("dir", "name"),
      "Publish the branch head into the parent; refuses unless the " +
        "parent is still at the fork point")(
      (s, a) => ops.fastForward(s, a(0), a(1))),
    Proc("promote", Seq("from_dir", "to_dir", "mode"),
      "Write-audit-publish: reference the staged snapshot's files into " +
        "to_dir ('append' or 'replace'), zero bytes copied")(
      (s, a) => {
        val append = a(2) match {
          case "append" => true
          case "replace" => false
          case other => throw new IllegalArgumentException(
            s"promote mode must be 'append' or 'replace': '$other'")
        }
        ops.promote(s, a(0), a(1), append = append)
      }),
    Proc("vacuum_orphans", Seq("dir", "grace_ms"), outCol = "removed",
      procDescription = "Delete data files no retained manifest " +
        "references, older than the grace window")(
      (_, a) => ops.vacuumOrphans(a(0), a(1).toLong)),
    Proc("write_blooms", Seq("dir", "cols", "m_bits"),
      "(Re)build per-file bloom filters for comma-separated cols at the " +
        "head version (e.g. after widening a probed column)")(
      (s, a) => { val d = a(0); val v = ops.versions(d).last
        ops.writeBlooms(s, d, v,
          a(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq,
          a(2).toInt); v }),
    Proc("set_not_null", Seq("dir", "column"),
      "Declare a column — or a dotted nested member, 'main.rh' / " +
        "'tags.element.k'; backtick-quote a segment whose NAME contains " +
        "a dot, '`obs.raw`' — NOT NULL, born-true or refused (one raw " +
        "scan over SERVED values proves zero violations) — the SQL " +
        "front door Spark's analyzer denies to ALTER COLUMN … SET NOT " +
        "NULL; enforcement is per-commit (nested: parent-null-guarded), " +
        "and TopN pushdown gets its zero-null proof (nested: when the " +
        "whole chain declares)")(
      (s, a) => {
        val ident = Identifier.of(Array.empty, a(0))
        // parseMultipartIdentifier honors backtick quoting, so a
        // TOP-LEVEL column whose name contains a literal dot stays
        // addressable ('`a.b`' → one segment) while plain dotted paths
        // still split into nested segments
        val path = s.sessionState.sqlParser
          .parseMultipartIdentifier(a(1)).toArray
        alterTable(ident,
          TableChange.updateColumnNullability(path, false))
        // resolve the SAME way alterTable did (warehouse-relative names
        // map under the warehouse; absolute paths pass through) — the
        // raw argument would read a different location under a
        // configured warehouse
        ops.versions(dirOf(ident)).lastOption.getOrElse(0)
      }),
    Proc("set_property", Seq("dir", "key", "value"),
      "Set a durable table property (e.g. eqdel.compact.threshold, " +
        "compact.target.bytes)")(
      (_, a) => { ops.setTableProperty(a(0), a(1), a(2))
        ops.versions(a(0)).lastOption.getOrElse(0) }),
    Proc("compact_if_debt", Seq("dir", "target_bytes"),
      "Materialize merge-on-read debt if present, else no-op; restores " +
        "fastCount/catalog reads on CDC-heavy tables")(
      (s, a) => ops.compactIfDebt(s, a(0), a(1).toLong)),
    Proc("declare_partitioning", Seq("dir", "specs", "num_files"),
      "Declare (or evolve) hidden partitioning: comma-separated " +
        "transforms, e.g. 'days(ts),bucket(16,user_id)' — new landings " +
        "cluster by the new spec, probes compose across vintages")(
      (_, a) => { ops.declarePartitioning(a(0),
        GraftCatalog.splitSpecs(a(1)), a(2).toInt)
        ops.versions(a(0)).lastOption.getOrElse(0) }),
    Proc("delete_tag", Seq("dir", "name"),
      "Remove a tag (unpins its version for expire)")(
      (_, a) => { ops.deleteTag(a(0), a(1))
        ops.versions(a(0)).lastOption.getOrElse(0) }),
    Proc("drop_branch", Seq("dir", "name"),
      "Delete an abandoned branch lineage (its exclusive files reclaim " +
        "on the parent's next vacuum)")(
      (_, a) => { ops.dropBranch(a(0), a(1))
        ops.versions(a(0)).lastOption.getOrElse(0) }),
    // ---- the LLM-pipeline (ext/) surface as CALL procedures: each lands
    // its result THROUGH the table protocol (out_dir becomes a versioned
    // table readable as graft.`out_dir`) and returns the committed
    // version — results never collect to the driver, so the procedures
    // scale exactly as their Scala twins do ----
    Proc("asof_join",
      Seq("left_view", "right_view", "left_key", "left_ts", "right_key",
        "right_ts", "out_dir", "direction"),
      "Land the as-of join of two views: for every left row, the latest " +
        "right row with the same key and right_ts <= left_ts " +
        "(direction 'backward'), or the earliest with right_ts >= " +
        "left_ts ('forward'). Left-outer; right-side ts ties must be " +
        "pre-deduped. The engine's sorted-merge AsOfJoinExec — one " +
        "shuffle + sort per side, never an inequality-join explosion")(
      (s, a) => {
        val (left, right) = (s.table(a(0)), s.table(a(1)))
        val out = a(7).toLowerCase(java.util.Locale.ROOT) match {
          case "backward" =>
            graft.operators.AsOf.join(left, right, a(2), a(3), a(4), a(5))
          case "forward" =>
            graft.operators.AsOf.joinForward(left, right, a(2), a(3),
              a(4), a(5))
          case other => throw new IllegalArgumentException(
            s"asof_join direction must be 'backward' or 'forward': '$other'")
        }
        ops.commit(out, a(6), append = false)
      }),
    Proc("dedup_ngram", Seq("docs_view", "out_dir", "k", "max_df"),
      "Land all n-gram Jaccard near-dup pairs (id_a, id_b, common, " +
        "jaccard) of a (doc_id, text) view; max_df <= 0 disables the " +
        "stop-shingle cutoff (oracle parity only)")(
      (s, a) => {
        val maxDf = if (a(3).toInt <= 0) None else Some(a(3).toInt)
        ops.commit(graft.ext.DedupOps.jaccardPairs(
          s.table(a(0)), a(2).toInt, maxDf), a(1), append = false)
      }),
    Proc("minhash_dedup", Seq("docs_view", "out_dir", "k", "threshold"),
      "Land the SURVIVORS of MinHash-LSH near-dedup: candidates from " +
        "banded signatures, exact-Jaccard verified >= threshold, greedy " +
        "smaller-id-wins keep rule")(
      (s, a) => {
        val docs = s.table(a(0))
        val verified = graft.ext.DedupOps.verifyJaccard(
          graft.ext.DedupOps.minhashCandidates(
            graft.ext.DedupOps.minhashSignatures(docs, a(2).toInt)),
          docs, a(2).toInt)
          .filter(col("jaccard") >= a(3).toDouble)
        ops.commit(docs.join(verified.select(col("id_b").as("doc_id"))
          .distinct(), Seq("doc_id"), "left_anti"), a(1), append = false)
      }),
    Proc("topk_similar", Seq("queries_view", "corpus_view", "out_dir", "k"),
      "Land exact cosine top-k neighbors (query_id, vec_id, score, rank) " +
        "of (vec_id, embedding) views; the brute baseline of the ANN stack")(
      (s, a) => ops.commit(graft.ext.Similarity.bruteForceTopK(
        s.table(a(0)), s.table(a(1)), a(3).toInt), a(2), append = false)),
    Proc("create_group", Seq("group_dir", "members"),
      "Declare a snapshot group over committed tables " +
        "('alias=dir;alias=dir'), pinning their heads as group v1 — " +
        "read members as graft.`group_dir#table=alias`")(
      (_, a) => graft.sinks.SnapshotGroup.create(a(0),
        GraftCatalog.splitKv(a(1)).map { case (k, v) => k -> v }.toMap)),
    Proc("group_pin", Seq("group_dir", "updates"),
      "Atomically advance the group to pin 'alias=version;…' (absent " +
        "aliases keep their pins) — the multi-table transaction commit: " +
        "land each mutation via its own CALL, then pin all the returned " +
        "versions in ONE group version")(
      (_, a) => graft.sinks.SnapshotGroup.commit(a(0))(_ =>
        GraftCatalog.splitKv(a(1)).map { case (k, v) => k -> v.toInt }
          .toMap)),
    Proc("group_expire", Seq("group_dir", "keep_last"),
      "Drop group history beyond keep_last, releasing its member tags " +
        "so table-level GC can reclaim that history")(
      (_, a) => { graft.sinks.SnapshotGroup.expire(a(0), a(1).toInt)
        graft.sinks.SnapshotGroup.versions(a(0)).last }),
    Proc("create_agg_view", Seq("src_dir", "view_dir", "group", "aggs"),
      "Declare + build a materialized aggregate view ('out=expr' lists; " +
        "aggs count/sum/min/max) — fresh views transparently answer " +
        "derivable SQL aggregates over the source")(
      (s, a) => Mview.createAggView(s, a(0), a(1), a(2), a(3)).viewVersion),
    Proc("refresh_view", Seq("view_dir"),
      "Advance a materialized view to its source head (noop / " +
        "O(delta) incremental / recompute after non-append history)")(
      (s, a) => Mview.refreshView(s, a(0)).viewVersion),
    Proc("change_feed", Seq("src_dir", "out_dir", "key", "from_version",
      "to_version"),
      "Land the keyed CDC diff between two snapshots (op = i/u/d, " +
        "after-image for i/u, before-image for d) as out_dir's new " +
        "snapshot — works across overwrites/deletes/compactions, " +
        "unlike the pure-append '#changes=' fragment")(
      (s, a) => ops.commit(
        ops.changeFeed(s, a(0), a(2), a(3).toInt, a(4).toInt),
        a(1), append = false)),
    Proc("curate", Seq("docs_view", "eval_view", "out_dir", "threshold",
      "max_df"),
      "Land per-doc curation survival flags (q_ok, is_dup, is_cont) — " +
        "quality gate, near-dedup, decontamination vs the eval view")(
      (s, a) => {
        val maxDf = if (a(4).toInt <= 0) None else Some(a(4).toInt)
        ops.commit(graft.ext.Curation.survivalFlags(
          s.table(a(0)), s.table(a(1)), maxDf, a(3).toDouble),
          a(2), append = false)
      })
  ).map(p => p.procName -> p).toMap

  override def loadProcedure(ident: Identifier): UnboundProcedure =
    procs.getOrElse(ident.name,
      throw new RuntimeException(
        s"unknown procedure $catName.${ident.name}; known: " +
          procs.keys.toSeq.sorted.mkString(", ")))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    procs.keys.toSeq.sorted
      .map(n => Identifier.of(Array.empty, n)).toArray
}

/** A versioned-table snapshot as a DSv2 table: reads go through a
  * manifest-pruning scan builder (SQL WHERE reaches the file-skipping
  * layer), writes land as plain [[VersionedTable.commit]]s (so `INSERT
  * INTO` inherits constraints, OCC, stats and hidden partitioning — the
  * whole landing discipline — for free via the V1 write seam).
  *
  * Merge-on-read delete debt refuses at data-serving time, not
  * resolution or plan time: INSERTs and further DELETEs against a
  * debt-carrying table are ordinary commits and must work; only serving
  * rows without applying the deletes is corruption. */
private[sql] class GraftTable(tblName: String, spark: SparkSession,
    catName: String, dir: String, pinnedVersion: Int, files: Seq[String],
    debt: Boolean, declared: Option[StructType],
    readOnly: Boolean = false, slice: Boolean = false,
    fileSchema: Option[StructType] = None)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  override def name(): String = tblName

  /** The snapshot this table object is pinned to, as DSv2 version
    * identity. Spark stamps it into `AddConstraint.validatedTableVersion`
    * after its OWN pre-validation scan of exactly this snapshot — which
    * is what lets [[GraftCatalog.alterTable]] skip the engine's second
    * born-valid scan when the head hasn't moved (one full-table
    * validation at 100 TB, not two). */
  override def version(): String = pinnedVersion.toString

  /** The declared hidden partitioning as DSv2 transforms, reported
    * under LOGICAL column names — so `SHOW CREATE TABLE` / `DESCRIBE`
    * round-trip the `PARTITIONED BY` clause a user declared. */
  override def partitioning(): Array[Transform] = {
    import graft.sinks.PartitionTransform._
    val back = renames.map(_.swap) // physical → logical
    def lg(c: String) = back.getOrElse(c, c)
    VersionedTable.partitioningOf(dir).map {
      case Identity(s) => Expressions.identity(lg(s))
      case Days(s) => Expressions.days(lg(s))
      case Bucket(n, s) => Expressions.bucket(n, lg(s))
      case Truncate(w, s) => Expressions.apply("truncate",
        Expressions.literal(Integer.valueOf(w)), Expressions.column(lg(s)))
    }.toArray
  }

  /** Durable table properties (the maintenance knobs), so `SHOW
    * TBLPROPERTIES` serves what `ALTER TABLE … SET TBLPROPERTIES` and
    * `CALL set_property` wrote — plus DERIVED `graft.nested.default.*`
    * presentation keys, one per nested existence default in the
    * declared schema. Nested member defaults have no CREATE TABLE
    * column syntax, so without these SHOW CREATE TABLE silently LOSES
    * them (found by the round-14 round-trip probe); as TBLPROPERTIES
    * they ride the emitted DDL and [[GraftCatalog.createTable]]
    * reconstructs them. Derived, never stored: the schema metadata is
    * the single source of truth. */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    VersionedTable.tableProperties(dir).foreach { case (k, v) =>
      m.put(k, v)
    }
    declared.foreach { sc =>
      graft.sql.NestedDefaults.paths(sc).foreach { case (p, _, sql) =>
        m.put("graft.nested.default." +
          graft.sql.NestedDefaults.renderPropertyPath(p), sql)
      }
    }
    // the declared per-landing file cap rides the partitioning
    // declaration, not the property store — report it so SHOW CREATE's
    // TBLPROPERTIES ('files' = 'N') round-trips the layout intent
    // (createTable consumes the key for declarePartitioning; a
    // re-created table would otherwise silently revert to the default)
    if (VersionedTable.partitioningOf(dir).nonEmpty)
      m.put("files", VersionedTable.partitioningNumFiles(dir).toString)
    m
  }

  /** The manifest-log directory this table serves — a branch fragment
    * resolves to the branch's own directory, so DML through the catalog
    * lands on the addressed lineage. */
  private[sql] def tableDir: String = dir

  /** True for snapshots that must never accept a mutation through this
    * handle — a `#tag=` fragment pins history; writing "to a tag" would
    * silently land on the head instead. */
  private[sql] def isReadOnly: Boolean = readOnly

  /** The declared schema if CREATE TABLE pinned one; else `fileSchema`,
    * the snapshot's `#schema=` manifest header (every live file's
    * physical schema, no footer read); else — a snapshot written without
    * the header — inferred from the files through the stock parquet
    * path, one footer-sampling Spark job per table object (Spark loads
    * the table more than once per statement). */
  override lazy val schema: StructType = declared.orElse(fileSchema)
    .getOrElse(ParquetTable(tblName, spark, CaseInsensitiveStringMap.empty(),
      files, None, classOf[ParquetFileFormat]).schema)

  /** logical → physical renames from the declared column mapping (empty
    * for tables that never renamed — every path below short-circuits). */
  private[sql] lazy val renames: Map[String, String] =
    declared.map(ColumnMapping.renames).getOrElse(Map.empty)
  private def physOfName(n: String): String = renames.getOrElse(n, n)

  override def capabilities(): util.Set[TableCapability] =
    if (readOnly) util.EnumSet.of(TableCapability.BATCH_READ)
    else util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  /** Declared CHECK constraints, reported through the DSv2 seam so
    * `DESCRIBE TABLE EXTENDED` and the analyzer see what the engine
    * enforces at every commit. Always enforced + validated: declaration
    * scanned the live table, and every commit since re-validated. */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    VersionedTable.constraints(dir).toSeq.sortBy(_._1).map { case (n, e) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(n).predicateSql(e).enforced(true)
        .validationStatus(org.apache.spark.sql.connector.catalog
          .constraints.Constraint.ValidationStatus.VALID)
        .build()
        .asInstanceOf[org.apache.spark.sql.connector.catalog.constraints.Constraint]
    }.toArray

  /** The debt refusal lives at data-SERVING time (`Scan.toBatch`), not
    * builder creation: Spark's DELETE/write planning builds and discards
    * a scan over the relation as plan scaffolding (stacking a second
    * `DELETE FROM` on a MOR head must work), while any plan that would
    * actually SERVE rows from a debt-carrying snapshot still refuses
    * with the compact instruction before a single row moves. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PruningScanBuilder(spark, dir, pinnedVersion, files, schema, options,
      renames = renames,
      snapshotComplete = !slice,
      refuseServe = if (!debt) None else Some(
        s"$dir@v$pinnedVersion carries merge-on-read delete debt (positional " +
          s"vectors or equality deletes); a catalog read cannot apply them " +
          s"— run CALL $catName.compact('$dir', <target_bytes>) to " +
          s"materialize, or read through the Scala API"))

  /** Native `DELETE FROM graft.`dir` WHERE …` — Spark routes a DELETE
    * whose condition translates fully to source filters here; the engine
    * lands positional delete vectors ([[VersionedTable.deleteWhere]]:
    * zero data rewritten, compaction materializes), exactly like `CALL
    * $catName.delete_where`. An untranslatable condition (expressions,
    * subqueries) refuses via [[canDeleteWhere]] rather than silently
    * deleting the wrong rows. A bare `DELETE FROM t` (no WHERE) is the
    * empty conjunction: every row. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    !readOnly &&
      filters.forall(f => GraftCatalog.filterToColumn(f, physOfName).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    // fail loudly on an untranslatable filter HERE, not only at the
    // canDeleteWhere gate: 'never delete more than asked' is enforced at
    // the mutation site, so contract drift across Spark versions cannot
    // silently widen a delete
    val cond = filters.toSeq.map(f =>
      GraftCatalog.filterToColumn(f, physOfName).getOrElse(
        throw new UnsupportedOperationException(
          s"DELETE filter $f has no exact engine translation")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    VersionedTable.deleteWhere(spark, dir, cond)
    ()
  }

  /** `TRUNCATE TABLE` — one EMPTY logical-overwrite snapshot, not the
    * SupportsDelete default (deleteWhere(true) would write an
    * O(table-rows) positional vector and leave merge-on-read debt).
    * Atomic at the manifest publish, prior versions stay
    * time-travelable, rollback undoes it. */
  override def truncateTable(): Boolean = {
    require(!readOnly,
      s"$tblName is a read-only handle (tag or metadata view); " +
        "TRUNCATE targets the table or a branch")
    VersionedTable.commit(
      spark.createDataFrame(spark.sparkContext
        .emptyRDD[org.apache.spark.sql.Row],
        ColumnMapping.physicalSchema(schema)),
      dir, append = false)
    true
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: SqlDataFrame, ignored: Boolean): Unit = {
              // land under PHYSICAL names: Spark has already resolved the
              // insert to the table schema (logical names, positional), so
              // the relabel is positional — toDF at the top level, and
              // when a NESTED rename exists, a struct cast (field-
              // positional, value-preserving, codegen'd) that relabels
              // the members files must carry
              val out = GraftCatalog.toPhysicalNames(data, schema)
              VersionedTable.commit(out, dir, append = !overwrite)
              ()
            }
          }
      }
    }
}

/** A metadata view (`#history` / `#files`) as a DSv2 table. The frame is
  * driver-built from the manifest log alone — one row per version or per
  * data file, no data file opened — so serving it as a LocalScan moves
  * manifest-sized state, never table-sized. Resolution snapshots the
  * frame once; a re-query re-resolves the identifier and sees new
  * commits. */
private[sql] class GraftMetaTable(tblName: String, thunk: () => SqlDataFrame)
    extends Table with SupportsRead {

  private lazy val frame = thunk()

  override def name(): String = tblName
  override lazy val schema: StructType = frame.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def rows(): Array[InternalRow] = {
          val conv =
            CatalystTypeConverters.createToCatalystConverter(frame.schema)
          frame.collect().map(r => conv(r).asInstanceOf[InternalRow])
        }
        override def readSchema(): StructType = frame.schema
      }
    }
}

/** A DATA-SIZED derived frame (the `#cdf=` feed) as a read-only DSv2
  * table. Unlike [[GraftMetaTable]] — whose LocalScan collects a
  * manifest-sized frame through the driver — this serves the frame's
  * own DISTRIBUTED plan through the DSv2→v1 bridge ([[V1Scan]]):
  * `buildScan()` hands Spark the DataFrame's RDD, so the feed's joins
  * and unions execute exactly as the streaming reader's do, no row ever
  * moving through the driver. Resolution is lazy and snapshots once per
  * table resolution; a re-query re-resolves the identifier. */
private[sql] class GraftFrameTable(tblName: String,
    thunk: () => SqlDataFrame)
    extends Table with SupportsRead {

  private lazy val frame = thunk()

  override def name(): String = tblName
  override lazy val schema: StructType = frame.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      // column pruning at the V2 layer: the pruned projection folds into
      // the frame's own plan (Catalyst prunes the feed's joins/unions
      // underneath), so `SELECT op FROM t#cdf=…` never moves full rows.
      // An EMPTY required schema (COUNT(*)) keeps the full frame — the
      // rows only need counting, and a zero-column v1 scan is undefined.
      private var required: Option[StructType] = None
      override def pruneColumns(s: StructType): Unit =
        required = Some(s).filter(_.fields.nonEmpty)
      override def build(): Scan = {
        val served = required match {
          case Some(s) => frame.select(s.fieldNames.toIndexedSeq.map(n =>
            frame.col("`" + n.replace("`", "``") + "`")): _*)
          case None => frame
        }
        new org.apache.spark.sql.connector.read.V1Scan {
          override def readSchema(): StructType = served.schema
          override def toV1TableScan[T <: BaseRelation with TableScan](
              context: org.apache.spark.sql.SQLContext): T =
            new BaseRelation with TableScan {
              override def sqlContext: org.apache.spark.sql.SQLContext =
                context
              override def schema: StructType = served.schema
              override def buildScan(): org.apache.spark.rdd.RDD[
                org.apache.spark.sql.Row] = served.rdd
            }.asInstanceOf[T]
        }
      }
    }
}

/** Atomic CTAS/RTAS through the engine's own commit protocol. The
  * manifest publish IS the atomic boundary, so there is no shadow
  * directory: CREATE's write lands v1 (table birth = one atomic
  * publish), REPLACE's write lands ONE logical-overwrite snapshot
  * (readers see the old head until the new manifest exists, then the
  * whole new table — and prior versions stay time-travelable).
  *
  * Declarations land lazily INSIDE the write job, so an aborted stage
  * restores: a create-abort purges exactly the engine's artifacts (a
  * pre-existing directory's unrelated children survive), a
  * replace-abort restores the prior schema/partitioning declarations —
  * unless the overwrite already committed, in which case the swap
  * happened atomically and is kept (aborting a landed swap would be a
  * second, silent overwrite).
  *
  * REPLACE's column mapping keeps the id + physical name of every
  * column whose (name, type) survives — retained snapshots keep
  * serving it — and gives everything else a fresh id and a physical
  * name no retained file carries, retiring the replaced-away columns
  * ([[ColumnMapping.replaceAssign]]): same-name-different-type can
  * never resurrect old bytes. */
private[sql] class StagedGraftTable(tblName: String, dir: String,
    info: TableInfo, replacing: Boolean, priorDeclared: Option[String],
    priorPartitioning: Option[(Seq[String], Int)], existedBefore: Boolean)
    extends StagedTable with SupportsWrite {

  private val ops = VersionedTable

  private var stagedRetire: Seq[(Long, String)] = Seq.empty
  @volatile private var committed = false
  @volatile private var declaredOnDisk = false

  // a staged (CTAS/RTAS) landing has no post-commit registration hook
  // that could fail-and-abort cleanly, and Spark's CTAS syntax carries
  // no column list anyway — refuse LOUDLY rather than inherit the
  // TableInfo default's silent drop (the createTable twin registers
  // inline constraints; here the route is ALTER ADD CONSTRAINT after
  // the landing, which born-valid-scans the landed rows)
  require(info.constraints().isEmpty,
    "inline constraints are not supported on CTAS/RTAS: land the data, " +
      "then ALTER TABLE ... ADD CONSTRAINT (validated against the " +
      "landed rows)")

  /** The declaration this stage will publish (ids + physical names),
    * with any `graft.nested.default.<path>` properties consumed into
    * member metadata — the same reconstruction [[GraftCatalog
    * .createTable]] performs, so the SHOW CREATE round-trip holds for
    * RTAS-shaped re-creations too. */
  private val declared: StructType = {
    val base =
      if (!replacing) ColumnMapping.assign(info.schema(), Seq.empty)
      else {
        val cur = priorDeclared
          .map(DataType.fromJson(_).asInstanceOf[StructType])
          .getOrElse {
            val spark = SparkSession.active
            ops.read(spark, dir).schema
          }
        val (d, retiredNow) =
          ColumnMapping.replaceAssign(cur, ops.retiredColumns(dir),
            info.schema())
        stagedRetire = retiredNow
        d
      }
    val ndPrefix = "graft.nested.default."
    info.properties().asScala.toSeq.filter(_._1.startsWith(ndPrefix))
      .sortBy(_._1).foldLeft(base) { case (sc, (k, sql)) =>
        NestedDefaults.withDefault(sc,
          NestedDefaults.parsePropertyPath(k.stripPrefix(ndPrefix)), sql)
      }
  }

  override def name(): String = tblName
  override def schema(): StructType = info.schema()
  override def partitioning(): Array[Transform] = info.partitions()
  override def properties(): util.Map[String, String] = info.properties()
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(lwi: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
      override def truncate(): WriteBuilder = this // REPLACE overwrites anyway
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: SqlDataFrame, ignored: Boolean): Unit = {
              val specs = info.partitions().toSeq
                .map(GraftCatalog.transformSpec)
              val numFiles = Option(info.properties().get("files"))
                .map(_.toInt).getOrElse(8)
              if (specs.nonEmpty) ops.declarePartitioning(dir, specs, numFiles)
              else if (replacing && priorPartitioning.exists(_._1.nonEmpty))
                ops.clearPartitioning(dir) // the new table is unpartitioned
              stagedRetire.foreach { case (id, phys) =>
                ops.retireColumn(dir, id, phys)
              }
              ops.declareSchema(dir, declared.json)
              GraftCatalog.persistUserProperties(dir, info.properties())
              declaredOnDisk = true
              val out = GraftCatalog.toPhysicalNames(data, declared)
              VersionedTable.commit(out, dir, append = !replacing)
              committed = true
              ()
            }
          }
      }
    }

  override def commitStagedChanges(): Unit = () // the publish was atomic

  override def abortStagedChanges(): Unit =
    if (!replacing) {
      ops.purgeTableArtifacts(dir)
      if (!existedBefore) ops.purgeDir(dir)
    } else if (declaredOnDisk && !committed) {
      // the write failed between declaration and publish: restore
      priorDeclared.foreach(ops.declareSchema(dir, _))
      priorPartitioning match {
        case Some((specs, n)) if specs.nonEmpty =>
          ops.declarePartitioning(dir, specs, n)
        case _ => ops.clearPartitioning(dir)
      }
    }
}

/** The SQL read path's manifest pruning: Catalyst pushes the query's
  * predicates here (the same hook the stock file sources use); they are
  * DELEGATED verbatim to an inner parquet scan builder — parquet footer
  * pushdown, column pruning and vectorization stay exactly stock — and
  * TRANSLATED into range/equality probes against the manifest stats
  * sidecar. At build() the snapshot's file list shrinks to the survivors
  * before Spark plans the scan, composing every layer the Scala readers
  * have (typed min/max, blooms, declared bucket transforms) under the
  * usual superset guarantee: untranslatable predicates prune nothing and
  * are still evaluated by Spark on the surviving files. */
private[sql] class PruningScanBuilder(spark: SparkSession, dir: String,
    version: Int, files: Seq[String], tableSchema: StructType,
    options: CaseInsensitiveStringMap,
    renames: Map[String, String] = Map.empty,
    snapshotComplete: Boolean = true,
    refuseServe: Option[String] = None)
    extends ScanBuilder with SupportsPushDownCatalystFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {

  // Column-mapping translation: data files, footers and stats sidecars
  // all carry PHYSICAL names, so the inner parquet builder operates
  // physically and the logical names exist only at this seam. Soundness
  // rests on InternalRow being POSITIONAL: the physical schema is the
  // table schema with fields renamed in place (same order, same declared
  // types), so the physical scan's rows serve the logical attributes
  // unchanged — only readSchema's names need mapping back.
  private val backNames: Map[String, String] = renames.map(_.swap)
  // The physical read schema RELAXES nullability: a declared NOT NULL
  // column may be absent from pre-ADD files (served via its
  // EXISTS_DEFAULT metadata, which the copy preserves), and the
  // vectorized parquet reader refuses a missing *required* column
  // outright. Correctness is unharmed — the declaration is
  // commit-enforced, so the served values are non-null regardless of
  // what the file schema claims. toLogical restores the declared
  // nullability so the scan's reported schema keeps the contract.
  // Both directions translate STRUCTURALLY against the declared schema
  // (fields matched by name at each level, struct members recursed —
  // through array ELEMENT and map VALUE structs too, where member rows
  // are just as positional), so NESTED renames resolve at every depth —
  // the pruned schema Spark hands over may be any nested subset of the
  // table schema (collection element subsets included), and the
  // physical read schema coming back mirrors it.
  private def toPhys(s: StructType): StructType = physify(s, tableSchema)
  private def childPair(fdt: DataType, ddt: DataType)
      (recurse: (StructType, StructType) => StructType): DataType =
    (fdt, ddt) match {
      case (fs: StructType, ds: StructType) => recurse(fs, ds)
      case (fa @ ArrayType(fs: StructType, _), ArrayType(ds: StructType, _))
        => fa.copy(elementType = recurse(fs, ds))
      case (fm @ MapType(_, fs: StructType, _), MapType(_, ds: StructType, _))
        => fm.copy(valueType = recurse(fs, ds))
      case _ => fdt
    }
  private def physify(s: StructType, decl: StructType): StructType =
    StructType(s.fields.map { f =>
      decl.fields.find(_.name.equalsIgnoreCase(f.name)) match {
        case Some(d) =>
          f.copy(name = ColumnMapping.physOf(d),
            dataType = childPair(f.dataType, d.dataType)(physify),
            nullable = true)
        case None => f.copy(nullable = true)
      }
    })
  private def toLogical(s: StructType): StructType =
    logify(s, tableSchema)
  private def logify(s: StructType, decl: StructType): StructType =
    StructType(s.fields.map { f =>
      decl.fields.find(d =>
        ColumnMapping.physOf(d).equalsIgnoreCase(f.name)) match {
        case Some(d) =>
          f.copy(name = d.name,
            dataType = childPair(f.dataType, d.dataType)(logify),
            nullable = d.nullable)
        case None => f
      }
    })
  // exprId is preserved by withName, so residual predicates translated
  // back still bind to the plan's original attributes
  private def renameAttrs(e: CatalystExpr,
                          m: Map[String, String]): CatalystExpr =
    if (m.isEmpty) e
    else e.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          if m.contains(a.name) => a.withName(m(a.name))
    }

  private lazy val nestedRenames: Boolean =
    ColumnMapping.hasNestedRenames(tableSchema)

  /** Filter translation for the INNER parquet builder, logical →
    * physical at EVERY depth: the top-level rename is the attribute
    * name, and a NESTED rename is the attribute's dataType — parquet's
    * nested-predicate pushdown derives dotted paths from
    * `childSchema(ordinal).name`, so without the type rewrite a filter
    * on a renamed struct member names a column no file carries and
    * row-group skipping silently stops. Ordinal-based extraction makes
    * the rewrite value-safe (positions are identical in the physical
    * type); exprIds are preserved. Only ever applied to the expressions
    * handed to the inner builder — the plan's own attributes are never
    * touched. */
  private def toPhysExpr(e: CatalystExpr): CatalystExpr =
    if (renames.isEmpty && !nestedRenames) e
    else e.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        tableSchema.fields.find(_.name.equalsIgnoreCase(a.name)) match {
          case Some(d) =>
            val pt = ColumnMapping.physicalType(d.dataType)
            val renamed = a.withName(ColumnMapping.physOf(d))
            if (pt == d.dataType) renamed
            else renamed.copy(dataType = pt)(renamed.exprId,
              renamed.qualifier)
          case None => a
        }
    }

  private def parquetBuilder(paths: Seq[String]): FileScanBuilder =
    ParquetTable(s"graft.$dir@v$version", spark, options, paths,
      Some(toPhys(tableSchema)), classOf[ParquetFileFormat])
      .newScanBuilder(options).asInstanceOf[FileScanBuilder]

  private val inner = parquetBuilder(files)
  private var captured: Seq[CatalystExpr] = Seq.empty
  private var innerCaptured: Seq[CatalystExpr] = Seq.empty
  private var required: Option[StructType] = None

  // Filters that REACH a nested existence default are withheld from the
  // INNER parquet builder: parquet row-group stats describe STORED
  // values, and a row group whose defaulted member is stored NULL (a
  // rewrite carrying pre-evolution rows forward) or absent would be
  // skipped by a predicate its SERVED (substituted) values match.
  // Path-precise, not root-conservative: a predicate on main.temp still
  // pushes when only main.rh carries a default — its stored values ARE
  // its served values. Unsafe = a GetStructField chain that resolves TO
  // a defaulted leaf or extracts a substruct CONTAINING one (wholesale
  // use), or a bare reference to a defaulted root outside any member
  // extraction (struct-wholesale comparison). Manifest-level pruning
  // keeps every filter — the stats sidecar is written from SUBSTITUTED
  // values (statsLines), so its bounds describe what the scan serves;
  // files not yet covered are kept conservatively.
  private lazy val defaultedRoots: Set[String] =
    NestedDefaults.defaultedRoots(tableSchema)
  private lazy val defaultedPaths: Seq[Seq[String]] =
    NestedDefaults.paths(tableSchema).map(_._1.map(_.toLowerCase))

  private def reachesDefaulted(e: CatalystExpr): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GetStructField}
    def pathOf(x: CatalystExpr): Option[Seq[String]] = x match {
      case a: AttributeReference => Some(Seq(a.name.toLowerCase))
      case g: GetStructField =>
        val n = g.name.getOrElse(
          g.child.dataType.asInstanceOf[StructType](g.ordinal).name)
        pathOf(g.child).map(_ :+ n.toLowerCase)
      case _ => None
    }
    def unsafe(x: CatalystExpr): Boolean = x match {
      case g: GetStructField => pathOf(g) match {
        case Some(p) => defaultedPaths.exists(dp =>
          dp.startsWith(p) || p.startsWith(dp))
        case None => g.children.exists(unsafe)
      }
      case a: AttributeReference => defaultedRoots(a.name.toLowerCase)
      case other => other.children.exists(unsafe)
    }
    unsafe(e)
  }

  override def pushFilters(filters: Seq[CatalystExpr]): Seq[CatalystExpr] = {
    captured = filters.map(toPhysExpr)
    val innerSafe =
      if (defaultedPaths.isEmpty) filters
      else filters.filterNot(reachesDefaulted)
    innerCaptured = innerSafe.map(toPhysExpr)
    val postScan = inner.pushFilters(innerCaptured)
    // snapshot-level stats serving (statsServable below) relies on every
    // pushed DATA filter surviving as a residual Filter above the scan —
    // parquet row-group skipping is best-effort, so the stock builder
    // always retains them. Record the invariant instead of assuming it:
    // if a future inner builder ever fully consumes a filter, stats must
    // stop serving the whole-snapshot fold or estimates silently
    // overcount with nothing above the scan correcting them.
    // withheld (defaulted-root) filters are residual by construction —
    // counting against innerCaptured keeps the invariant exact
    allFiltersResidual = postScan.size == innerCaptured.size
    // the residuals Spark keeps must be the plan's OWN expressions
    // (original attribute names AND types): when every filter was
    // retained — the parquet invariant just recorded — hand back the
    // originals; a partially-consuming inner builder falls back to the
    // name-only back-translation (plus the withheld originals)
    if (allFiltersResidual) filters
    else postScan.map(renameAttrs(_, backNames)) ++
      filters.filterNot(innerSafe.contains)
  }
  private var allFiltersResidual: Boolean = true
  override def pushedFilters(): Array[Predicate] = inner.pushedFilters
  override def pruneColumns(requiredSchema: StructType): Unit = {
    // once an aggregation is pushed the scan's schema IS the aggregate
    // schema — Spark does not prune further, but guard against contract
    // drift: those synthetic fields must never reach the parquet builder
    if (agged.isDefined) return
    required = Some(toPhys(requiredSchema))
    inner.pruneColumns(required.get)
  }

  // ---- aggregate pushdown: COUNT(*) / MIN / MAX served from the
  // manifest sidecar alone — the SQL twin of fastCount/fastMinMax.
  private var agged: Option[(StructType, InternalRow)] = None
  private var aggCache: Option[(Aggregation, Option[(StructType, InternalRow)])] = None

  /** A reference — top-level OR a nested leaf ("main.temp") — resolved
    * to (physical dotted path, leaf type); the sidecar is dotted-path-
    * keyed, so nested stats consumers (agg pushdown, TopN) resolve here.
    * Complex-typed leaves decline. */
  private def resolveLeaf(parts: Seq[String]): Option[(String, DataType)] = {
      def walk(s: StructType, ps: List[String]): Option[(String, DataType)] =
        ps match {
          case h :: Nil =>
            s.fields.find(_.name.equalsIgnoreCase(h))
              .map(f => (ColumnMapping.physOf(f), f.dataType))
          case h :: t =>
            s.fields.find(_.name.equalsIgnoreCase(h)).flatMap { f =>
              f.dataType match {
                case st: StructType => walk(st, t).map {
                  case (p, dt) => (s"${ColumnMapping.physOf(f)}.$p", dt)
                }
                case _ => None
              }
            }
          case Nil => None
        }
      walk(tableSchema, parts.toList).filter {
        case (_, _: StructType | _: ArrayType | _: MapType) => false
        case _ => true
      }
    }
  /** Metadata-served aggregation, or None to decline to the scan path.
    * Sound only when the scan would serve the WHOLE snapshot exactly:
    * Spark only pushes aggregates when no post-scan Filter remains, but
    * the no-residual-predicate guard is re-checked here rather than
    * trusted; GROUP BY declines.
    * COUNT(*) folds the per-file `rows` sidecar lines; MIN/MAX folds the
    * typed range stats — which are exact, not truncated — declining on
    * delete vectors (the extremal row may be dead), missing/wild/all-null
    * stats, nested references, or a type the sidecar cannot round-trip.
    * An EMPTY snapshot is served directly: count 0, null extremes. */
  private def serveAgg(agg: Aggregation): Option[(StructType, InternalRow)] = {
    // NOT gated on refuseServe: COUNT(*) under POSITIONAL delete debt is
    // exactly the fastCount contract (live = data rows − vector rows,
    // both in the sidecar), so it serves while row-reads refuse; every
    // agg that can't be answered exactly declines per-part below, and a
    // declined aggregation lands on the scan path, which still refuses.
    // A `#changes=` slice declines outright: statNumRows/fastMinMax fold
    // the WHOLE snapshot's sidecar, not the slice's file subset — serving
    // them would answer COUNT(*)/extremes for the snapshot at B instead
    // of the appended slice the query addressed
    if (!snapshotComplete || captured.nonEmpty ||
        agg.groupByExpressions.nonEmpty) return None
    def minMaxPart(e: V2Expression, isMin: Boolean)
        : Option[(StructField, Any)] = e match {
      case ref: NamedReference =>
        resolveLeaf(ref.fieldNames.toSeq).flatMap { case (physPath, dt) =>
          val field = StructField(
            s"${if (isMin) "min" else "max"}" +
              s"(${ref.fieldNames.mkString(".")})", dt)
          // a provably-empty snapshot (no files, or all files 0-row with
          // no debt) has null extremes by SQL semantics
          if (files.isEmpty ||
              (!VersionedTable.hasDeleteDebt(dir, version) &&
                VersionedTable.statNumRows(dir, version).contains(0L)))
            Some((field, null))
          else VersionedTable.fastMinMax(dir, physPath, Some(version))
            .flatMap { case (tag, lo, hi) =>
              GraftCatalog.statBoundToCatalyst(
                tag, if (isMin) lo else hi, dt) }
            .map(v => (field, v))
        }
      case _ => None
    }
    val parts: Seq[Option[(StructField, Any)]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          // statNumRows, not fastCount: planning must never pay
          // per-file footer IO, so incomplete sidecar coverage declines
          VersionedTable.statNumRows(dir, version).map(n =>
            (StructField("count(*)", LongType, nullable = false), n))
        case m: V2Min => minMaxPart(m.column, isMin = true)
        case m: V2Max => minMaxPart(m.column, isMin = false)
        case _ => None // COUNT(col)/SUM/AVG need data the sidecar lacks
      }
    if (parts.exists(_.isEmpty)) None
    else {
      val ps = parts.flatten
      Some((StructType(ps.map(_._1)),
        new GenericInternalRow(ps.map(_._2).toArray)))
    }
  }

  private def servable(agg: Aggregation): Option[(StructType, InternalRow)] =
    aggCache match {
      case Some((a, r)) if a == agg => r
      case _ =>
        val r = serveAgg(agg); aggCache = Some((agg, r)); r
    }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    servable(agg).isDefined
  override def pushAggregation(agg: Aggregation): Boolean = {
    agged = servable(agg)
    agged.isDefined
  }

  // ---- LIMIT admission: `LIMIT n` over a bare snapshot read admits
  // only as many files as the sidecar's exact per-file row counts need
  // to provably cover n rows — `graft.t LIMIT 10` (and every
  // `df.show()`) on a 100 TB table opens a handful of files instead of
  // planning all of them. Always PARTIALLY pushed (the default): the
  // scan guarantees AT LEAST min(n, table rows) survive, Spark's own
  // limit does the exact trim.
  private var limitPushed: Option[Int] = None
  // both pushdown traits default this true; the diamond needs one owner.
  // ALWAYS partial: admission only shrinks the file list, Spark does
  // the exact trim (full push would make the cover a correctness
  // surface instead of a pure planning optimization)
  override def isPartiallyPushed(): Boolean = true
  override def pushLimit(limit: Int): Boolean = {
    // sound only when every admitted row is a result row: a pushed data
    // filter could discard rows inside admitted files while dropped
    // files held matches, and row-level delete debt makes per-file live
    // counts data-dependent. (Filters are pushed before limits, so
    // `captured` is final here; coverage of the `rows` sidecar is
    // checked at build time where the decision actually bites.)
    // limit > 0: a pushed LIMIT 0 would leave admitForTopN/admitForLimit
    // with an empty prefix reducing over nothing (Spark's
    // OptimizeLimitZero normally rewrites it away, but the contract
    // accepts 0 — refuse it here rather than rely on an upstream rule)
    val ok = limit > 0 && captured.isEmpty && refuseServe.isEmpty &&
      !VersionedTable.hasDeleteDebt(dir, version)
    if (ok) limitPushed = Some(limit)
    ok
  }

  /** Fewest-files cover of `n` rows: biggest files admit first (ties on
    * path for determinism), stopping at the first file that reaches the
    * target. Declines (keeps everything) unless every candidate has an
    * exact sidecar count — a guessed cover could under-deliver. */
  private def admitForLimit(paths: Seq[String], n: Int): Seq[String] =
    VersionedTable.statRowsPerFile(dir, version) match {
      case Some(rows) if paths.forall(rows.contains) =>
        val ordered = paths.sortBy(f => (-rows(f), f))
        var cum = 0L
        val take = ordered.takeWhile { f =>
          val before = cum; cum += rows(f); before < n
        }
        GraftCatalog.recordLimitAdmit(paths.size, take.size)
        take
      case _ => paths
    }

  // ---- TopN admission: `ORDER BY c LIMIT n` (the "tail the table by
  // timestamp" query) admits a file cover proved sufficient by the
  // per-file RANGE stats: take files by their extreme-facing bound
  // until the exact row counts cover n, fix the n-th value's enclosure
  // from that prefix, and keep exactly the files whose range can reach
  // it. Partial push again — Spark runs the real TopN sort on the
  // admitted rows.
  private var topNPushed: Option[(String, Boolean, Int)] = None
  override def pushTopN(orders: Array[V2SortOrder], limit: Int): Boolean = {
    // soundness needs provable order: a bare top-level column whose
    // type the sidecar encodes order-faithfully, zero nulls (declared
    // non-nullable, or an exact ANALYZE null count of 0 — a null sorts
    // outside the range stats, so ANY possible null kills the proof),
    // no pushed filters, no delete debt. Multi-key orderings admit by
    // the PRIMARY key only: boundary ties stay admitted by construction
    // (their files' ranges reach the bound), so secondary keys only
    // re-order rows the cover already contains.
    val ok = limit > 0 && captured.isEmpty && refuseServe.isEmpty &&
      orders.nonEmpty && !VersionedTable.hasDeleteDebt(dir, version) &&
      (orders.head.expression() match {
        case ref: NamedReference =>
          // top-level OR a nested leaf ("main.temp"): the bound cover on
          // the dotted physical path prunes the same way. Zero-null proof
          // for a nested key: a declared NOT NULL on the LEAF alone is
          // not enough (a NULL parent struct still nulls the path), but
          // the WHOLE-CHAIN declaration — every field on the path NOT
          // NULL, each commit-enforced ([[NestedNotNull]]; defaulted
          // members serve their non-null default, and sidecar bounds
          // describe served values) — is: no level can null the path.
          // Anything less requires the ANALYZE null count of the DOTTED
          // path, which counts null-parent rows too by construction of
          // count(col).
          resolveLeaf(ref.fieldNames.toSeq).exists { case (physPath, dt) =>
            def chainNotNull(st: StructType, ps: List[String]): Boolean =
              ps match {
                case h :: t =>
                  st.fields.find(_.name.equalsIgnoreCase(h)).exists { f =>
                    !f.nullable && (t.isEmpty || (f.dataType match {
                      case cs: StructType => chainNotNull(cs, t)
                      case _ => false
                    }))
                  }
                case Nil => false
              }
            val declaredNotNull =
              chainNotNull(tableSchema, ref.fieldNames.toList)
            val noNulls = declaredNotNull ||
              VersionedTable.statNullCount(dir, version, physPath)
                .contains(0L)
            if (noNulls) {
              topNPushed = Some((physPath,
                orders.head.direction() == SortDirection.DESCENDING,
                limit))
            }
            noNulls
          }
        case _ => false
      })
    ok
  }

  /** Range-stat cover of the top `n` rows on `phys`: files sorted by
    * their bound facing the requested extreme (min ascending for ASC,
    * max descending for DESC), prefix until the exact counts cover n,
    * then keep every file whose range reaches the prefix's enclosure of
    * the n-th value — boundary ties included by construction. Declines
    * (keeps everything) unless every live candidate carries BOTH an
    * exact row count and a same-tag order-faithful bound. */
  private def admitForTopN(paths: Seq[String], phys: String,
                           desc: Boolean, n: Int): Seq[String] = {
    val rowsOpt = VersionedTable.statRowsPerFile(dir, version)
    val bounds = VersionedTable.statBoundsPerFile(dir, version, phys)
    rowsOpt match {
      case Some(rows) if paths.forall(rows.contains) =>
        val live = paths.filter(rows(_) > 0L)
        val tags = live.flatMap(f => bounds.get(f).map(_._1)).distinct
        // every live file needs a bound, and all under ONE encoding —
        // cross-tag comparison (or an all-null/wild file) has no order
        if (!live.forall(bounds.contains) || tags.length > 1)
          return paths
        // order-faithful bound comparison: num = exact decimal strings
        // (ints/floats/dates/micros), str = UNSIGNED UTF-8 byte order —
        // Spark's own UTF8String collation, NOT Java's UTF-16 compareTo
        // (they disagree beyond the BMP, and a mis-ordered bound here
        // would drop files that hold real top-n rows)
        val cmp: (String, String) => Int = tags.headOption match {
          case Some("num") =>
            (a, b) => BigDecimal(a).compare(BigDecimal(b))
          case _ => (a, b) => graft.sinks.StatValue.utf8Compare(
            graft.sinks.StatValue.decodeStr(a),
            graft.sinks.StatValue.decodeStr(b))
        }
        def lo(f: String) = bounds(f)._2
        def hi(f: String) = bounds(f)._3
        // leading bound faces the extreme; trailing closes the enclosure
        val (lead, trail) = if (desc) (hi _, lo _) else (lo _, hi _)
        val dir0 = if (desc) -1 else 1
        val ordered = live.sortWith { (a, b) =>
          val c = cmp(lead(a), lead(b)) * dir0
          if (c != 0) c < 0 else a < b
        }
        var cum = 0L
        val prefix = ordered.takeWhile { f =>
          val before = cum; cum += rows(f); before < n
        }
        if (cum < n) return paths // table smaller than n: nothing to cut
        // the n-th value in the requested order is enclosed by the
        // prefix's worst trailing bound; any file whose leading bound
        // cannot reach it holds no top-n row
        val enclosure = prefix.map(trail).reduce { (a, b) =>
          if (cmp(a, b) * dir0 >= 0) a else b
        }
        val keep = live.filter(f => cmp(lead(f), enclosure) * dir0 <= 0)
        GraftCatalog.recordTopNAdmit(paths.size, keep.size)
        keep
      case _ => paths
    }
  }

  /** Pushed v1 filters → (conjunctive optional-bound ranges, equality
    * probe sets). The filter array is a conjunction; Or/Not/IsNull/
    * prefix filters translate to nothing and prune nothing. */
  private def probes(fs: Seq[Filter])
      : (Seq[(String, Option[Any], Option[Any])], Seq[(String, Seq[Any])]) = {
    val ranges = Seq.newBuilder[(String, Option[Any], Option[Any])]
    val eqs = Seq.newBuilder[(String, Seq[Any])]
    fs.foreach {
      case EqualTo(c, v) if v != null =>
        ranges += ((c, Some(v), Some(v))); eqs += ((c, Seq(v)))
      case EqualNullSafe(c, v) if v != null =>
        ranges += ((c, Some(v), Some(v))); eqs += ((c, Seq(v)))
      case GreaterThan(c, v) if v != null => ranges += ((c, Some(v), None))
      case GreaterThanOrEqual(c, v) if v != null =>
        ranges += ((c, Some(v), None))
      case LessThan(c, v) if v != null => ranges += ((c, None, Some(v)))
      case LessThanOrEqual(c, v) if v != null =>
        ranges += ((c, None, Some(v)))
      case In(c, vs) if vs.nonEmpty && !vs.contains(null) =>
        eqs += ((c, vs.toSeq))
      case _ => () // superset guarantee: untranslated ⇒ unpruned
    }
    (ranges.result(), eqs.result())
  }

  override def build(): Scan = agged match {
    case Some((aggSchema, row)) =>
      // a pushed aggregation IS the scan: one local row, zero files
      // opened — `SELECT count(*) FROM graft.t` over 100 TB moves one
      // sidecar read, exactly like the Scala fastCount
      new LocalScan {
        override def rows(): Array[InternalRow] = Array(row)
        override def readSchema(): StructType = aggSchema
        override def description(): String =
          s"GraftAggScan($dir@v$version, ${aggSchema.fieldNames.mkString(", ")})"
      }
    case None =>
      // the captured catalyst conjuncts translate through Spark's OWN v1
      // bridge — the same translation the parquet source applies, so the
      // manifest probes see exactly what the footers see
      val v1Filters = captured.flatMap(
        org.apache.spark.sql.graft.FilterBridge.translate)
      val (ranges, eqs) = probes(v1Filters)
      val kept =
        if (files.isEmpty || (ranges.isEmpty && eqs.isEmpty)) files
        else VersionedTable.prunedFilesPushed(spark, dir, version, ranges, eqs)
      GraftCatalog.recordPrune(files.size, kept.size)
      val admitted = (topNPushed, limitPushed) match {
        case (Some((phys, desc, n)), _) => admitForTopN(kept, phys, desc, n)
        case (None, Some(n)) => admitForLimit(kept, n)
        case _ => kept
      }
      new GraftScan(admitted, limited = admitted.size < kept.size)
  }

  /** The row-serving scan: a stock parquet scan over the manifest-pruned
    * file list, carrying the three planner contracts that matter at
    * 100 TB —
    *  - '''statistics''' ([[SupportsReportStatistics]]): sizeInBytes from
    *    the surviving files and an EXACT row count from the `rows`
    *    sidecar when the scan serves the whole snapshot, so a small graft
    *    table auto-broadcasts in SQL joins instead of defaulting to
    *    sort-merge under `defaultSizeInBytes`;
    *  - '''runtime filtering''' ([[SupportsRuntimeV2Filtering]]): DPP
    *    join-key probe sets re-prune the file list AT EXECUTION time
    *    through the same sidecar stack (range stats, blooms, bucket
    *    transforms) the static WHERE pruning uses — a fact-dim join ships
    *    the dim's keys here and never opens the fact files those keys
    *    cannot touch;
    *  - '''column mapping''': the physical scan serves logical attributes
    *    positionally; only the reported schema maps names back.
    * Rebuilds after a runtime filter REPLAY the original pushdown calls,
    * so parquet-level pruning stays byte-identical to the static plan's. */
  private[sql] class GraftScan(initialKept: Seq[String],
      limited: Boolean = false) extends Scan
      with SupportsReportStatistics with SupportsRuntimeV2Filtering
      with SupportsReportPartitioning {

    private var kept: Seq[String] = initialKept
    private var current: Scan = buildOver(kept)

    /** The (dir, version) this scan serves, iff it serves the COMPLETE
      * snapshot (a `#changes=` slice returns None) — the identity the
      * materialized-view rewrite ([[Mview]]) needs to prove a fresh
      * aggregate view answers for this exact table state. Pruned file
      * lists still qualify: pruning only drops files the pushed filters
      * cannot match, and the rewrite re-applies those filters over the
      * view. */
    private[sql] def mviewIdentity: Option[(String, Int)] =
      // a LIMIT-admitted scan dropped real rows by design — it can never
      // vouch for the full snapshot (unreachable today: limit pushdown
      // needs a Limit directly above the scan, rewrite needs an
      // Aggregate there — but the identity must not lie if plans drift)
      if (snapshotComplete && !limited) Some((dir, version)) else None

    // ---- storage-partitioned layout: when the table declares ONE
    // bucket transform and every live file provably holds a single
    // bucket, the scan serves key-grouped partitions and a co-bucketed
    // SQL join (v2 bucketing on) plans with ZERO Exchange on this side.
    // gate BOTH the report and the regrouping on Spark's v2-bucketing
    // switch: with it off the report would be ignored anyway, and
    // regrouping would cost split parallelism on every plain read
    private def v2BucketingOn: Boolean = spark.conf
      .get("spark.sql.sources.v2.bucketing.enabled", "false") == "true"
    private lazy val spjLayout =
      if (!v2BucketingOn) None
      else VersionedTable.bucketLayout(dir, version)
    // the partition-KEY set is frozen at first planning: runtime (DPP)
    // filtering that empties a bucket must yield an EMPTY partition, not
    // a changed key set (BatchScanExec rejects key drift)
    private lazy val reportedBuckets: Seq[Int] = spjLayout
      .map { case (_, ids) => kept.map(ids).distinct.sorted }
      .getOrElse(Seq.empty)

    private def buildOver(paths: Seq[String]): Scan =
      if (paths.size == files.size) inner.build()
      else {
        val b2 = parquetBuilder(paths)
        // replay the INNER filter set (defaulted-root filters stay
        // withheld — row-group stats see stored, not served, values)
        b2.pushFilters(innerCaptured)
        required.foreach(b2.pruneColumns)
        b2.build()
      }

    /** The declared LOGICAL schema iff it carries nested existence
      * defaults — what [[NestedDefaultRewrite]] wraps this scan's
      * relation with. Time travel follows the engine's top-level
      * convention (schema — and its declared defaults — travels with
      * the HEAD, data with the version): a `VERSION AS OF` scan built
      * before the ADD serves the member's default over its pinned
      * files, byte-identical on disk. */
    private[sql] def nestedDefaultDecl: Option[StructType] =
      if (NestedDefaults.hasAny(tableSchema)) Some(tableSchema) else None

    private def refuse[T](serve: => T): T = refuseServe match {
      case Some(msg) => throw new IllegalArgumentException(msg)
      case None => serve
    }

    override def readSchema(): StructType = toLogical(current.readSchema())
    override def description(): String = current.description()

    /** The scan's clustering, in the connector grammar: `bucket(n, k)`
      * over the LOGICAL key name, resolved by Spark against this
      * catalog's own FunctionCatalog (`bucket`), so two graft scans with
      * the same layout are provably shuffle-compatible. Unknown the
      * moment the layout proof fails — misreporting would corrupt joins,
      * under-reporting only costs a shuffle. */
    override def outputPartitioning(): V2Partitioning = spjLayout match {
      case Some((b, _)) if reportedBuckets.nonEmpty =>
        new V2KeyGroupedPartitioning(
          Array(Expressions.bucket(b.n,
            backNames.getOrElse(b.source, b.source))),
          reportedBuckets.size)
      case _ => new UnknownPartitioning(0)
    }

    override def toBatch: org.apache.spark.sql.connector.read.Batch =
      refuse(spjLayout match {
        case Some((_, ids)) if reportedBuckets.nonEmpty =>
          org.apache.spark.sql.graft.Spj.groupByBucket(
            current.toBatch, reportedBuckets, ids)
        case _ => current.toBatch
      })
    override def toMicroBatchStream(checkpointLocation: String)
        : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
      refuse(current.toMicroBatchStream(checkpointLocation))
    override def toContinuousStream(checkpointLocation: String)
        : org.apache.spark.sql.connector.read.streaming.ContinuousStream =
      refuse(current.toContinuousStream(checkpointLocation))

    override def estimateStatistics(): V2Statistics = {
      // size: delegate to the inner FileScan (file bytes × the session's
      // compression factor — the stock convention join planning expects)
      val size = current match {
        case s: SupportsReportStatistics => s.estimateStatistics().sizeInBytes
        case _ => java.util.OptionalLong.of(VersionedTable.fileBytes(kept))
      }
      // rows: EXACT from the sidecar, but only when this scan serves the
      // whole snapshot — under residual predicates, runtime pruning, or a
      // `#changes=` slice (whose sidecar fold describes the snapshot, not
      // the slice) the count would overestimate, so report unknown
      // snapshot-level stats (rows + attribute stats) serve under pushed
      // data predicates too: parquet data filters are ALWAYS retained as
      // a residual Filter above the scan (row-group skipping is
      // best-effort), and that Filter is exactly the consumer that
      // re-derives selectivity from these stats — FilterEstimation bails
      // outright when the child's rowCount is absent, which would mute
      // the very histogram that prices a pushed range predicate. The
      // snapshot count is a SUPERSET of the scan's output under file
      // pruning, and coherently so: pruning only drops files the
      // residual predicate excludes anyway, so Filter(selectivity x
      // snapshot) lands on the true output. LIMIT-admitted scans and
      // `#changes=` slices stay excluded — there the snapshot fold
      // describes something the scan does not serve.
      val statsServable = snapshotComplete && refuseServe.isEmpty &&
        !limited && allFiltersResidual
      val rows =
        if (statsServable) VersionedTable.statNumRows(dir, version)
        else None
      // column-level CBO stats (exact null counts + mergeable-HLL NDV)
      // fold from the sidecar under the same whole-snapshot condition;
      // reported under LOGICAL names so CBO sees the user's schema.
      // Sidecar min/max BOUNDS stay unreported: they are type-tag-encoded
      // strings and a mistyped object silently poisons selectivity.
      // Under `spark.sql.statistics.histogram.enabled` (Spark's own
      // ANALYZE-histogram opt-in, honored here as the serve gate) numeric
      // columns additionally report the KLL-folded equi-height histogram
      // plus its exact double min/max — safe where the string bounds were
      // not, because the sketch ingested `cast(col as double)` so the
      // values are doubles BY CONSTRUCTION, and `EstimationUtils.toDouble`
      // parses any numeric's toString. This is what lets FilterEstimation
      // price a range predicate on a SKEWED column: ndv + uniform
      // interpolation between min/max cannot see where the mass sits.
      val colStats = new java.util.HashMap[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      if (statsServable) {
        val hists: Map[String,
            (Double, Double, Double, Seq[(Double, Double, Long)])] =
          if (org.apache.spark.sql.internal.SQLConf.get.histogramEnabled)
            VersionedTable.histogramsOf(dir, version,
              org.apache.spark.sql.internal.SQLConf.get.histogramNumBins)
          else Map.empty
        val lens = VersionedTable.lenStatsOf(dir, version)
        VersionedTable.columnStatsOf(dir, version).foreach {
          case (phys, (nulls0, ndv0)) =>
            def opt(o: Option[Long]) =
              o.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
            val (nullsOpt, ndvOpt) = (opt(nulls0), opt(ndv0))
            // exact length stats for variable-width columns: the row-
            // width ingredient that makes broadcast BYTE estimates track
            // actual string payloads instead of the 20-byte default
            val (avgLenOpt, maxLenOpt) = lens.get(phys) match {
              case Some((a, m)) => (java.util.OptionalLong.of(a),
                java.util.OptionalLong.of(m))
              case None => (java.util.OptionalLong.empty(),
                java.util.OptionalLong.empty())
            }
            val hist = hists.get(phys)
            val minOpt = hist.fold(
              java.util.Optional.empty[Object]())(h =>
              java.util.Optional.of(java.lang.Double.valueOf(h._1)))
            val maxOpt = hist.fold(
              java.util.Optional.empty[Object]())(h =>
              java.util.Optional.of(java.lang.Double.valueOf(h._2)))
            val histOpt = hist.fold(java.util.Optional.empty[
                org.apache.spark.sql.connector.read.colstats.Histogram]()) {
              case (_, _, h, bs) =>
                java.util.Optional.of(
                  new org.apache.spark.sql.connector.read.colstats.Histogram {
                    override def height(): Double = h
                    override def bins(): Array[org.apache.spark.sql
                        .connector.read.colstats.HistogramBin] =
                      bs.map { case (l, u, d) =>
                        new org.apache.spark.sql.connector.read.colstats
                            .HistogramBin {
                          override def lo(): Double = l
                          override def hi(): Double = u
                          override def ndv(): Long = d
                        }
                      }.toArray
                  })
            }
            colStats.put(
              Expressions.column(backNames.getOrElse(phys, phys)),
              new org.apache.spark.sql.connector.read.colstats
                .ColumnStatistics {
                override def nullCount(): java.util.OptionalLong = nullsOpt
                override def distinctCount(): java.util.OptionalLong = ndvOpt
                override def avgLen(): java.util.OptionalLong = avgLenOpt
                override def maxLen(): java.util.OptionalLong = maxLenOpt
                override def min(): java.util.Optional[Object] = minOpt
                override def max(): java.util.Optional[Object] = maxOpt
                override def histogram(): java.util.Optional[
                    org.apache.spark.sql.connector.read.colstats.Histogram] =
                  histOpt
              })
        }
      }
      new V2Statistics {
        override def sizeInBytes(): java.util.OptionalLong = size
        override def numRows(): java.util.OptionalLong =
          rows.fold(java.util.OptionalLong.empty())(
            java.util.OptionalLong.of)
        override def columnStats(): java.util.Map[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
          colStats
      }
    }

    override def filterAttributes(): Array[NamedReference] =
      // a LIMIT-admitted file list is a minimal cover of n rows; letting
      // a runtime (DPP) probe drop admitted files could leave fewer than
      // n matching rows while unadmitted files held more — so a limited
      // scan opts out of runtime filtering entirely (it admits few files
      // by construction; there is nothing worth re-pruning)
      if (limited) Array.empty
      else VersionedTable.pruneHandleColumns(dir, version)
        .map(p => org.apache.spark.sql.graft.FilterBridge.fieldRef(
          backNames.getOrElse(p, p)))
        .toArray

    override def filter(predicates: Array[Predicate]): Unit = {
      // DPP hands the dim side's join-key values as IN/EqualTo predicate
      // sets over LOGICAL names; translate through Spark's own v1 bridge,
      // relabel to physical, and re-prune through the full sidecar stack.
      // Untranslatable predicates prune nothing (superset guarantee —
      // Spark re-applies the join itself, runtime pruning is only a skip)
      val v1 = predicates.flatMap(p =>
        org.apache.spark.sql.graft.FilterBridge.predicateToV1(p)).toSeq
      val (ranges0, eqs0) = probes(v1)
      def ren(c: String) = renames.getOrElse(c, c)
      val ranges = ranges0.map { case (c, lo, hi) => (ren(c), lo, hi) }
      // bound the driver-side probe fan-out: bloom/bucket probing is
      // O(values × files); past this a skip is no longer worth planning
      val eqs = eqs0.map { case (c, vs) => (ren(c), vs) }
        .filter(_._2.size <= PruningScanBuilder.MaxRuntimeProbeValues)
      if (ranges.nonEmpty || eqs.nonEmpty) {
        val admit = VersionedTable
          .prunedFilesPushed(spark, dir, version, ranges, eqs).toSet
        val survivors = kept.filter(admit)
        GraftCatalog.recordRuntimePrune(kept.size, survivors.size)
        if (survivors.size < kept.size) {
          kept = survivors
          current = buildOver(kept)
        }
      }
    }
  }
}

private[sql] object PruningScanBuilder {
  /** Per-column cap on runtime equality probe values — past this the
    * driver-side sidecar probing (O(values × files)) costs more than the
    * skip saves, and a huge key set seldom prunes anyway. */
  val MaxRuntimeProbeValues = 10000
}

/** Oracle-gated queries proving the SQL surface returns byte-identical
  * results to the Scala API on the same tables. */
object GraftCatalog {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  /** The io backend kind the process latched at first explicit catalog
    * configuration (null until one names a backend). A direct
    * [[graft.sinks.VersionedTable.setBackend]] call — the deliberate
    * programmatic door specs use to interpose and restore backends —
    * clears it via [[resetIoLatch]]: the latch guards the CONFIG door's
    * silent last-writer-wins, not the explicit API. */
  private[sql] val ioKindLatch =
    new java.util.concurrent.atomic.AtomicReference[String](null)
  private[graft] def resetIoLatch(): Unit = ioKindLatch.set(null)

  import graft.analytics.Parity
  import graft.sources.Tables

  /** Relabel a write batch to the PHYSICAL names files carry, from the
    * declared schema's column mapping. Positional (Spark resolved the
    * insert to the declared order): a table with only top-level renames
    * gets a pure `toDF` relabel; a table with NESTED renames rebuilds
    * the affected struct columns with a struct cast — field-positional,
    * value-preserving, whole-stage-codegen'd — so the parquet groups'
    * member names match what every reader resolves. Identity mapping
    * short-circuits to the batch untouched. */
  private[sql] def toPhysicalNames(data: SqlDataFrame,
                                   declared: StructType): SqlDataFrame = {
    val flat = ColumnMapping.renames(declared)
    val nested = ColumnMapping.hasNestedRenames(declared)
    if (flat.isEmpty && !nested) data
    else if (!nested)
      data.toDF(declared.fields.map(ColumnMapping.physOf).toIndexedSeq: _*)
    else {
      val cols = declared.fields.toIndexedSeq.zipWithIndex.map {
        case (f, i) =>
          val src = org.apache.spark.sql.functions.col(
            "`" + data.columns(i).replace("`", "``") + "`")
          val pt = ColumnMapping.physicalType(f.dataType)
          val c = if (pt == f.dataType) src else src.cast(pt)
          c.as(ColumnMapping.physOf(f))
      }
      data.select(cols: _*)
    }
  }

  /** DSv2 partition transform → [[graft.sinks.PartitionTransform]] spec
    * string. Loud on anything the engine has no clustering for. */
  private[sql] def transformSpec(t: Transform): String = {
    def ref: String = t.references() match {
      case Array(r) => r.fieldNames().mkString(".")
      case other => throw new UnsupportedOperationException(
        s"partition transform ${t.describe()} must reference exactly one " +
          s"column, got ${other.length}")
    }
    def intArg: Int = t.arguments().collectFirst {
      case l: V2Literal[_] if l.value() != null &&
          (l.dataType() == IntegerType || l.dataType() == LongType) =>
        l.value().toString.toInt
    }.getOrElse(throw new UnsupportedOperationException(
      s"partition transform ${t.describe()} needs an integer argument"))
    t.name().toLowerCase(java.util.Locale.ROOT) match {
      case "identity" => s"identity($ref)"
      case "days" => s"days($ref)"
      case "bucket" => s"bucket($intArg,$ref)"
      case "truncate" => s"truncate($intArg,$ref)"
      case other => throw new UnsupportedOperationException(
        s"unsupported partition transform '$other' (${t.describe()}); " +
          "supported: identity(c), days(c), bucket(n, c), truncate(w, c)")
    }
  }

  /** v1 source filter → engine [[Column]] predicate, for the
    * [[SupportsDelete]] seam: Spark hands a DELETE's condition as
    * translated filters (LOGICAL names); the engine's deleteWhere wants
    * a Column over the table's raw files (PHYSICAL names) — `ren`
    * translates. None for anything without an exact Column equivalent —
    * the caller REFUSES then (deletes must never be a superset or
    * subset of what the user asked). */
  private[sql] def filterToColumn(f: Filter,
      ren: String => String = identity): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(ren(a)) === lit(v))
    case EqualNullSafe(a, v) => Some(col(ren(a)) <=> lit(v))
    case GreaterThan(a, v) => Some(col(ren(a)) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(ren(a)) >= lit(v))
    case LessThan(a, v) => Some(col(ren(a)) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(ren(a)) <= lit(v))
    case In(a, vs) => Some(col(ren(a)).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(ren(a)).isNull)
    case IsNotNull(a) => Some(col(ren(a)).isNotNull)
    case StringStartsWith(a, v) => Some(col(ren(a)).startsWith(v))
    case StringEndsWith(a, v) => Some(col(ren(a)).endsWith(v))
    case StringContains(a, v) => Some(col(ren(a)).contains(v))
    case Not(c) => filterToColumn(c, ren).map(!_)
    case And(l, r) =>
      for (a <- filterToColumn(l, ren); b <- filterToColumn(r, ren))
        yield a && b
    case Or(l, r) =>
      for (a <- filterToColumn(l, ren); b <- filterToColumn(r, ren))
        yield a || b
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }

  /** (snapshot files, files kept) of the most recent catalog scan build —
    * the observability seam specs pin SQL-side manifest pruning on. */
  @volatile private[graft] var lastScanPrune: (Int, Int) = (0, 0)
  private[sql] def recordPrune(total: Int, kept: Int): Unit =
    lastScanPrune = (total, kept)

  /** (files before, files after) of the most recent RUNTIME (DPP) prune —
    * the observability seam specs pin execution-time file skipping on. */
  @volatile private[graft] var lastRuntimePrune: (Int, Int) = (0, 0)
  private[sql] def recordRuntimePrune(before: Int, after: Int): Unit =
    lastRuntimePrune = (before, after)

  /** (candidate files, files admitted) of the most recent LIMIT
    * admission — the observability seam specs pin minimal-cover
    * planning on. */
  @volatile private[graft] var lastLimitAdmit: (Int, Int) = (0, 0)
  private[sql] def recordLimitAdmit(total: Int, kept: Int): Unit =
    lastLimitAdmit = (total, kept)

  /** (candidate files, files admitted) of the most recent TopN
    * admission. */
  @volatile private[graft] var lastTopNAdmit: (Int, Int) = (0, 0)
  private[sql] def recordTopNAdmit(total: Int, kept: Int): Unit =
    lastTopNAdmit = (total, kept)

  /** Decode a sidecar stat bound back to the CATALYST-internal value of
    * `dt` — the aggregate-pushdown seam. Every `num` encoding is exact
    * for its source type (ints verbatim, floats through their exact
    * decimal expansion, dates as epoch days, timestamps as epoch micros),
    * so the round trip reproduces the column value bit-for-bit; `str`
    * bounds are the full strings (never truncated). None for any
    * (tag, type) pair the sidecar cannot round-trip — the caller falls
    * back to scanning. */
  private[sql] def statBoundToCatalyst(tag: String, bound: String,
                                       dt: DataType): Option[Any] =
    try (tag, dt) match {
      case ("num", BooleanType) => Some(bound == "1")
      case ("num", ByteType) => Some(BigDecimal(bound).toByteExact)
      case ("num", ShortType) => Some(BigDecimal(bound).toShortExact)
      case ("num", IntegerType) => Some(BigDecimal(bound).toIntExact)
      case ("num", LongType) => Some(BigDecimal(bound).toLongExact)
      case ("num", FloatType) => Some(java.lang.Float.parseFloat(bound))
      case ("num", DoubleType) => Some(java.lang.Double.parseDouble(bound))
      case ("num", d: DecimalType) =>
        val dec = Decimal(BigDecimal(bound))
        if (dec.changePrecision(d.precision, d.scale)) Some(dec) else None
      case ("num", DateType) => Some(BigDecimal(bound).toIntExact)
      case ("num", TimestampType) => Some(BigDecimal(bound).toLongExact)
      case ("str", StringType) => Some(UTF8String.fromString(bound))
      case _ => None
    } catch { case _: ArithmeticException | _: NumberFormatException => None }

  /** `'k=v;k=v'` pairs for the group procedures. */
  private[sql] def splitKv(s: String): Seq[(String, String)] =
    s.split(';').toSeq.map(_.trim).filter(_.nonEmpty).map { e =>
      val i = e.indexOf('=')
      require(i > 0 && i < e.length - 1, s"expected 'key=value': '$e'")
      (e.take(i).trim, e.drop(i + 1).trim)
    }

  /** Split a comma-separated transform-spec list at paren depth 0 only
    * (`'days(ts),bucket(16,k)'` → two specs — a naive split would cut
    * bucket's argument list). One splitter for the whole SQL layer:
    * [[Mview.splitTop]] owns the depth tracking. */
  private[sql] def splitSpecs(s: String): Seq[String] =
    Mview.splitTop(s, ',')

  /** Persist CREATE TABLE's user TBLPROPERTIES into the durable store,
    * dropping Spark-injected bookkeeping keys and the engine's `files`
    * write knob (consumed by the partitioning declaration). */
  private[sql] def persistUserProperties(dir: String,
      properties: util.Map[String, String]): Unit = {
    val reserved = Set("provider", "location", "comment", "owner",
      "external", "files", "is_managed_location")
    properties.asScala.filterNot { case (k, _) =>
      reserved(k.toLowerCase(java.util.Locale.ROOT)) ||
        k.startsWith("option.") ||
        // derived presentation keys, consumed by createTable into the
        // declared schema — persisting them would fork the source of
        // truth (see GraftTable.properties)
        k.startsWith("graft.nested.default.")
    }.toSeq.sortBy(_._1).foreach { case (k, v) =>
      VersionedTable.setTableProperty(dir, k, v)
    }
  }

}
