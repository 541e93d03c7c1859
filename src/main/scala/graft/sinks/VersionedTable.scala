package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.functions._

/** A maintenance-time conflict a mechanical re-run resolves: the
  * snapshot's SHAPE moved underneath the op — vectors landed or were
  * consolidated, equality deletes appeared that the rewrite itself can
  * materialize. Distinct from DATA conflicts (a concurrent append
  * touching a MERGE source key, an equality delete a MERGE must not
  * reason about), which abort immediately and stay aborted: blindly
  * re-running those could serialize a stale read-modify-write over newer
  * data. Subclasses ConcurrentModificationException so callers catching
  * the loud-abort contract keep working. */
class SnapshotShapeConflict(msg: String)
    extends java.util.ConcurrentModificationException(msg)

/** One action of a [[VersionedTableOps.mergeInto]] WHEN clause.
  * Assignment values and clause conditions address the joined row as
  * `__t_<col>` (target) / `__s_<col>` (source); assignment keys are
  * plain target column names. */
sealed trait MergeAction
final case class MergeUpdate(set: Map[String, Column]) extends MergeAction
case object MergeDelete extends MergeAction
final case class MergeInsert(values: Map[String, Column]) extends MergeAction

/** `WHEN <kind> [AND condition] THEN <action>` — clauses apply in order,
  * first satisfied condition wins (None = unconditional). */
final case class MergeClause(condition: Option[Column], action: MergeAction)

/** Versioned landed table — snapshot isolation, time travel, and rollback
  * via a manifest log: the core protocol of every lake table format
  * (Iceberg's snapshot list, Delta's transaction log), reduced to its
  * engine-native essentials, because a 100 TB landing that only ever
  * appends files in place has no consistent answer to "what did the table
  * contain when yesterday's training job started?".
  *
  * Protocol:
  * - data files are IMMUTABLE parquet, written once under `data/`, never
  *   modified, never deleted by commits;
  * - a snapshot is a manifest (`manifests/v{N}`) listing its data files,
  *   one path per line;
  * - a commit writes data files first, then publishes the manifest with
  *   ONE atomic create ([[TableIO.createExclusive]]) — optimistic
  *   concurrency: if v{N} already exists (a concurrent writer won), an
  *   APPEND commit re-resolves the head and republishes the NEW head's
  *   file list plus its own files ([[publishOnHead]]), so the loser's
  *   retry carries the winner's rows forward — retrying with the stale
  *   base would silently drop the winner's files from the head lineage
  *   (and expiration would then delete them); nothing is ever overwritten;
  * - a reader resolves a manifest ONCE (latest, or a pinned version) and
  *   reads exactly its files — a commit racing the read cannot tear it,
  *   because the files a manifest references are immutable;
  * - rollback is just a NEW manifest pointing at an old file set — history
  *   is append-only, so the bad version stays inspectable.
  *
  * File deletion is a separate, orthogonal GC ("expire snapshots older
  * than N") that removes files referenced by no retained manifest — the
  * same separation the real formats make.
  *
  * Row-level deletes are merge-on-read: [[deleteWhere]] lands positional
  * delete vectors (`#del=` manifest lines) that readers anti-join at scan
  * time, [[compact]] materializes them into rewritten files, and [[expire]]
  * GCs the superseded vectors — data files stay immutable throughout.
  *
  * All metadata IO goes through a [[TableIO]]: `java.nio` + hard links
  * locally, Hadoop `FileSystem` where a real landing lives. The default
  * [[VersionedTable]] object binds the local backend; bind
  * `new VersionedTableOps(new HadoopTableIO(conf))` for the rest.
  *
  * The class is cut by concern into self-typed traits, one file each,
  * mixed back in here behind the one API:
  *  - this file: commit, read, delete, update, rollback and time travel;
  *    the copy-on-write rewrite commit ([[publishRewrite]]), compaction
  *    and z-order; MERGE and CDC apply;
  *  - `ManifestLog.scala`: manifest and sidecar IO, segments, carry and
  *    fold, the `#rows=`/`#schema=` headers, the OCC publishes;
  *  - `TableMeta.scala`: hidden partitioning, table properties and the
  *    maintenance triggers they drive, the declared-schema chain and
  *    retired-column ledger, CHECK constraints;
  *  - `ScanPlanning.scala`: stats and bloom sidecars, file pruning,
  *    metadata-only COUNT/MIN/MAX and the CBO folds;
  *  - `LakeRefs.scala`: the change feed and commit history, tags and
  *    branches, write-audit-publish, vacuum, the metadata tables and
  *    [[expire]];
  *  - `LakeQueries.scala`: the oracle-checked lake queries.
  */
class VersionedTableOps(protected val io: TableIO)
    extends ManifestLog with TableMeta with ScanPlanning with LakeRefs {

  protected def manifestDir(dir: String): String = s"$dir/manifests"

  /** Commit wall clock (epoch millis) — a seam so specs can inject a
    * deterministic clock instead of sleeping around real time. */
  protected def now(): Long = System.currentTimeMillis()

  def commit(df: DataFrame, dir: String, append: Boolean = true,
             txnId: Option[String] = None): Int = {
    val pt = partitioningOf(dir)
    val written =
      if (pt.isEmpty) df else PartitionTransform.clusterFor(df, pt, ptNumFiles(dir))
    val newFiles = writeBatch(written, dir)
    val phys = physOf(written)
    validateConstraints(df.sparkSession, dir, newFiles, userBatch = true)
    // per-file row counts land with EVERY commit (footers of the batch
    // just written — O(batch), local), and the head's stats lines carry
    // forward, so a plain append no longer silently discards the pruning
    // metadata a clustered landing built up. A partitioned table records
    // full covering stats (rows lines ride in the same aggregate).
    val rowsNew =
      if (pt.isEmpty) rowsLines(df.sparkSession, newFiles)
      else statsLines(df.sparkSession, dir, newFiles,
        pt.flatMap(_.statNames).distinct, cbo = cboOnCommit(dir),
        known = Some(phys))
    val meta = txnId.map(t => s"#txn=$t").toSeq :+ s"#ts=${now()}"
    // an append inherits the head's delete vectors (they reference the
    // carried files); a logical overwrite starts clean — none of its files
    // existed when any prior delete was computed
    if (append) {
      // the batch's bulk lines land in NEW segments ONCE, outside the OCC
      // loop (they don't depend on the head); the head's bulk carries as
      // raw pointers — an append removes nothing, so pointer reuse is
      // sound and the manifest write is O(batch + pointers), never
      // O(table files)
      val cov = coversOf(rowsNew)
      val newSeg = segLine(dir, newFiles, cov)
      val newStatsSeg = segLine(dir, rowsNew, cov)
      var headAt: Option[Int] = None
      publishOnHeadTxn(dir, txnId, guardFiles = newFiles) { h =>
        headAt = h
        meta ++ carryManifest(dir, h, Seq(phys)) ++ newSeg
      } match {
        case Left(existing) =>
          // a LIVE same-txn writer won the race: this batch never
          // published and must not land its stats or trigger maintenance
          discardUnpublishedBatch(newFiles)
          existing
        case Right(v) =>
          val hdr = (headAt match {
            case None => Some((0L, 0L)) // first commit: totals start at 0
            case some => headerOrUpgrade(dir, some)
          }).map { case (d, del) =>
            rowsHeaderLine(d + sumRows(rowsNew), del)
          }.toSeq
          io.writeLines(statsPath(dir, v),
            hdr ++ carrySidecar(dir, headAt) ++ newStatsSeg)
          val out =
            maybeAutoCompact(df.sparkSession, dir, newFiles).getOrElse(v)
          maybeAutoExpire(dir)
          maybeAutoAnalyze(df.sparkSession, dir, sumRows(rowsNew))
          maybeAutoRefresh(df.sparkSession, dir)
          out
      }
    } else {
      // a logical overwrite's lines don't derive from the head, but a
      // txn-carrying one still rides the same exactly-once arbiter
      publishOnHeadTxn(dir, txnId, guardFiles = newFiles)(_ =>
        meta ++ schemaHeader(Seq.empty, Seq(phys), replacesAll = true) ++
          newFiles) match {
        case Left(existing) =>
          discardUnpublishedBatch(newFiles)
          existing
        case Right(v) =>
          io.writeLines(statsPath(dir, v),
            rowsHeaderLine(sumRows(rowsNew), 0L) +: rowsNew)
          // an overwrite discarded every previously-counted small file
          if (io.exists(smallCountPath(dir)))
            io.writeLines(smallCountPath(dir), Seq("0"))
          val out =
            maybeAutoCompact(df.sparkSession, dir, newFiles).getOrElse(v)
          maybeAutoExpire(dir)
          maybeAutoAnalyze(df.sparkSession, dir, sumRows(rowsNew))
          maybeAutoRefresh(df.sparkSession, dir)
          out
      }
    }
  }

  /** Exactly-once commit for replayable sources (Structured Streaming's
    * foreachBatch): the transaction id rides IN the manifest, so the
    * manifest publish is itself the atomic "this batch landed" marker —
    * there is no crash window between data commit and marker write in
    * which a replay could double-land (the Delta `txn` action, in manifest
    * form). A redelivered (txnId already committed) batch is a no-op that
    * returns the original version. Assumes one writer per txn namespace —
    * exactly what foreachBatch guarantees per query. */
  def commitOnce(df: DataFrame, dir: String, txnId: String,
                 append: Boolean = true): Int =
    if (committedTxns(dir).contains(txnId)) versionOfTxn(dir, txnId)
    else commit(df, dir, append, txnId = Some(txnId))

  /** The version whose manifest carries `txnId` (latest if several — a
    * compaction copies ledgers forward, so several manifests can). */
  private def versionOfTxn(dir: String, txnId: String): Int =
    versions(dir).reverse.find { v =>
      io.readLines(manifestPath(dir, v)).contains(s"#txn=$txnId")
    }.get

  /** Read a snapshot: the pinned `version`, or the head. The file list is
    * resolved HERE, once — the returned DataFrame keeps reading this exact
    * snapshot no matter what commits after. If the snapshot carries delete
    * vectors, they are applied merge-on-read; a delete-free snapshot reads
    * as a plain scan (zero overhead). */
  def read(spark: SparkSession, dir: String,
           version: Option[Int] = None): DataFrame = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val raw = rawManifest(dir, v)
    readLive(spark, dir, raw, filesIn(raw))
  }

  /** `file:` URIs (as `_metadata.file_path` reports them) normalized to the
    * plain-path form manifests store, so delete-vector keys and manifest
    * validation agree on one spelling. */
  private[sinks] def plainPath = regexp_replace(
    col("_metadata.file_path"), "^file:/*", "/")

  /** Nullability-relaxed declared PHYSICAL schema, when the table has a
    * declaration — the first choice of [[physSchemaOf]], ahead of the
    * manifest's `#schema=` header, and the pin every engine-internal read
    * of a possibly-mixed-vintage file set must use: schema inference samples
    * ONE footer, so on a file set straddling a schema evolution the
    * sample may predate it and a later-added column would silently
    * VANISH from the read (and, through a rewrite, from the rewritten
    * files — data loss). The pin makes pre-evolution files serve typed
    * nulls instead, the read path's own semantics. Nullability relaxes
    * because a declared NOT NULL column may be absent from pre-ADD
    * files and the vectorized reader refuses a missing REQUIRED column;
    * dropped columns project away (a rewrite sheds retired bytes — the
    * ledger keeps re-adds safe regardless). */
  private[graft] def declPhysOf(dir: String): Option[StructType] =
    declaredSchema(dir)
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .map(s => relaxed(graft.sql.ColumnMapping.physicalSchema(s)))

  /** `s` with every field, array element and map value nullable — the
    * shape a parquet read serves whatever the footer claims. */
  private[sinks] def relaxed(s: StructType): StructType = {
    import org.apache.spark.sql.types._
    def relax(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = relax(f.dataType), nullable = true)))
      case a: ArrayType =>
        a.copy(elementType = relax(a.elementType), containsNull = true)
      case m: MapType =>
        m.copy(valueType = relax(m.valueType), valueContainsNull = true)
      case o => o
    }
    relax(s).asInstanceOf[StructType]
  }

  /** The raw scan of `files` tagged with (file, position) identity columns
    * and with `dels` anti-joined away — the live view, keeping the identity
    * columns so [[deleteWhere]] can address surviving rows. Position comes
    * from parquet row index (`_metadata.row_index`): stable because data
    * files are immutable. */
  private def taggedLive(spark: SparkSession, files: Seq[String],
                         dels: Seq[String],
                         pin: Option[StructType]): DataFrame = {
    val raw = scan(spark, files, pin)
    val tagged = raw.select(
      (Seq(plainPath.as("__graft_file"),
        col("_metadata.row_index").as("__graft_pos")) ++
        raw.columns.map(col)): _*)
    if (dels.isEmpty) tagged
    else {
      // the delete side is the small side by construction (positions of
      // deleted rows, consolidated by compaction) — AQE broadcasts it;
      // the data side never shuffles
      val dd = readDelVectors(spark, dels)
      tagged.join(dd,
        tagged("__graft_file") === dd("file_path") &&
          tagged("__graft_pos") === dd("pos"),
        "left_anti")
    }
  }

  private def readFiles(spark: SparkSession, files: Seq[String],
                        dels: Seq[String],
                        pin: Option[StructType]): DataFrame =
    if (dels.isEmpty) scan(spark, files, pin)
    else taggedLive(spark, files, dels, pin)
      .drop("__graft_file", "__graft_pos")

  /** Scan of `files` with the version's FULL row-erasure state applied:
    * positional vectors anti-joined on (file, pos), then every equality
    * delete that APPLIES to a file (file entered the table before the
    * delete landed — seq scoping) anti-joined on its key column. Files
    * are grouped by their applicable-delete set so each distinct "era"
    * costs one scan leg; the delete sides are tiny and broadcast. A
    * snapshot without equality deletes pays nothing here, and [[compact]]
    * materializes them away — read cost grows with eras only between
    * maintenance passes. Null-key semantics: a null in the delete file
    * erases null-key rows (null-safe equality), matching the delete-by-key
    * contract rather than SQL join semantics. `raw` is the version's
    * manifest ([[rawManifest]]): deletes and the schema pin
    * ([[physSchemaOf]]) come from it without another read. */
  private[sinks] def readLive(spark: SparkSession, dir: String,
      raw: Seq[String], files: Seq[String]): DataFrame = {
    val pin = physSchemaOf(dir, raw)
    val dels = delsIn(raw)
    val eqs = eqDelsIn(raw)
    if (eqs.isEmpty || files.isEmpty) readFiles(spark, files, dels, pin)
    else {
      val added = addedAtOf(dir, files)
      val groups = files.groupBy(f =>
        eqs.filter { case (s, _, _) => added.getOrElse(f, 0) < s })
      groups.toSeq.sortBy(_._2.head).map { case (applicable, fs) =>
        val base = readFiles(spark, fs, dels, pin)
        applicable.groupBy(_._2).toSeq.sortBy(_._1)
          .foldLeft(base) { case (acc, (c, ds)) =>
            val keys = spark.read.parquet(ds.map(_._3): _*)
            acc.join(keys, acc(c) <=> keys(c), "left_anti")
          }
      }.reduce(_ unionByName _)
    }
  }

  /** Merge-on-read row deletes — `DELETE FROM table WHERE predicate`
    * without rewriting a single data file, which at 100 TB is the
    * difference between an O(matched-positions) commit and rewriting a
    * 1 GB file to drop three rows (GDPR erasure, bad-crawl retraction).
    *
    * Mechanics: one scan of the head's LIVE view (existing deletes
    * applied, so positions are never re-listed) collects the (file, pos)
    * identity of matching rows into a positional delete file under
    * `deletes/`; the commit publishes the SAME data files plus a `#del=`
    * manifest line. Readers anti-join the delete vectors at scan time;
    * [[compact]] materializes them away; [[expire]] GCs superseded ones.
    * Positions are parquet row indexes, stable because data files are
    * immutable.
    *
    * OCC: every publish attempt re-validates that each file the delete
    * vector references is still in the head — a concurrent COMPACT that
    * rewrote one would silently resurrect the deleted rows (positions
    * don't transfer to rewritten files), so that race fails loudly and
    * the caller re-runs against the new head. Concurrent APPENDS are
    * fine: new files are never referenced by this vector.
    *
    * Returns the new version, or the current head unchanged when nothing
    * matched. */
  def deleteWhere(spark: SparkSession, dir: String,
                  predicate: Column): Int = {
    val out = deleteWhereAttempts(spark, dir, predicate)
    maybeAutoRefresh(spark, dir)
    out
  }
  private def deleteWhereAttempts(spark: SparkSession, dir: String,
                                  predicate: Column): Int = retryingShape(3) {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val head = vs.last
    val raw = rawManifest(dir, head)
    // predicates evaluate over SERVED values (nested existence defaults
    // substituted) so DELETE WHERE and SELECT WHERE agree on the same
    // rows; the position computation is unaffected by the substitution
    val matched = substDefaults(dir,
        taggedLive(spark, filesIn(raw), delsIn(raw), physSchemaOf(dir, raw)))
      .filter(predicate)
      .select(col("__graft_file").as("file_path"),
        col("__graft_pos").as("pos"))
    val delDir = s"$dir/deletes/${java.util.UUID.randomUUID}"
    // one vector file per delete commit: positions are two longs a row —
    // tiny next to the data they erase — and one file keeps the manifest
    // line count O(deletes), not O(deletes x scan partitions).
    // The row count and the distinct touched files ride the WRITE job as
    // observed metrics — the former shape re-read the just-written vector
    // twice (an isEmpty probe, then a distinct().collect()), two extra
    // Spark jobs per delete. collect_set stays bounded: ≤ head file count.
    val obs = org.apache.spark.sql.Observation(
      s"deleteWhere-${java.util.UUID.randomUUID}")
    matched.observe(obs, count(lit(1)).as("n"),
        collect_set(col("file_path")).as("files"))
      .coalesce(1).write.parquet(delDir)
    val newDel = io.list(delDir).filter(_.endsWith(".parquet")).sorted
      .map(n => s"$delDir/$n")
    val obsRow = if (newDel.isEmpty) Map.empty[String, Any] else obs.get
    if (newDel.isEmpty || obsRow("n").asInstanceOf[Long] == 0L) {
      io.list(delDir).foreach(n => io.delete(s"$delDir/$n"))
      io.delete(delDir)
      return head
    }
    val referenced =
      obsRow("files").asInstanceOf[scala.collection.Seq[String]].toSet
    // merge-on-read: every head data file stays — pointer carry is sound
    var headAt: Option[Int] = None
    val v = publishOnHead(dir, guardFiles = newDel) { (h, base) =>
      val missing = referenced -- base.toSet
      if (missing.nonEmpty)
        throw new SnapshotShapeConflict(
          s"delete vector references ${missing.size} file(s) no longer in " +
            s"the head (concurrent compaction/overwrite rewrote them); " +
            s"re-run deleteWhere against the new head")
      headAt = h
      Seq(s"#ts=${now()}") ++ carryManifest(dir, h, Seq.empty) ++
        newDel.map(f => s"#del=$f")
    }
    // delete vectors never move min/max (stats stay a superset guarantee);
    // the new vector's own row count lands so fastCount can subtract the
    // dead rows from the sidecar alone
    val delRowLines = rowsLines(spark, newDel)
    val hdr = headerOrUpgrade(dir, headAt).map { case (d, del) =>
      rowsHeaderLine(d, del + sumRows(delRowLines))
    }.toSeq
    io.writeLines(statsPath(dir, v),
      hdr ++ carrySidecar(dir, headAt) ++ delRowLines)
    v
  }

  /** Merge-on-read row UPDATE — `UPDATE table SET … WHERE predicate` as
    * ONE atomic commit landing (a) a positional delete vector erasing the
    * matched rows and (b) new data file(s) carrying their updated copies.
    * Zero untouched rows rewrite: at 100 TB an update touching 0.1% of
    * rows costs O(matched) IO, where the copy-on-write alternative
    * ([[merge]]) rewrites every file containing a match. The updated
    * copies land through the table's full discipline — declared
    * partitioning clusters them, CHECK constraints validate them, their
    * stats lines ride the same commit.
    *
    * `assignments` maps column name → new-value expression evaluated
    * over the matched row (SQL `SET c = expr`; unassigned columns carry
    * through; assigning a column the table lacks refuses).
    *
    * OCC mirrors [[deleteWhere]] (vector-referenced files must still be
    * in the head) plus the check the append half makes necessary: the
    * head's row-erasure state must not have changed since the matched
    * rows were scanned — a concurrent delete overlapping the match would
    * be silently RESURRECTED by our updated copies otherwise. Either
    * conflict throws [[SnapshotShapeConflict]] and auto-retries against
    * the new head (bounded), re-scanning the matches.
    *
    * Unmaterialized equality deletes refuse at entry ([[compact]] first):
    * their seq scoping orders against data files, and the update's
    * appended file would re-order that history. Returns the new version
    * (head unchanged when nothing matched). */
  def updateWhere(spark: SparkSession, dir: String, predicate: Column,
                  assignments: Map[String, Column]): Int = {
    val out = updateWhereAttempts(spark, dir, predicate, assignments)
    maybeAutoRefresh(spark, dir)
    out
  }
  private def updateWhereAttempts(spark: SparkSession, dir: String,
      predicate: Column, assignments: Map[String, Column]): Int =
    retryingShape(3) {
    require(assignments.nonEmpty, "updateWhere needs at least one assignment")
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val head = vs.last
    val raw = rawManifest(dir, head)
    require(eqDelsIn(raw).isEmpty,
      s"$dir carries unmaterialized equality deletes; compact() before " +
        "updateWhere (their seq scoping does not order against the " +
        "update's appended rows)")
    val files = filesIn(raw)
    if (files.isEmpty) return head
    val headDels = delsIn(raw)
    // matched rows serve BOTH halves (positions out, updated copies out):
    // one scan, cached for the second pass
    // served-value semantics for both the predicate AND the assignment
    // expressions (an UPDATE reading main.rh sees the default, like any
    // SELECT); rewritten rows then MATERIALIZE the substituted values
    val matched = substDefaults(dir,
        taggedLive(spark, files, headDels, physSchemaOf(dir, raw)))
      .filter(predicate).persist()
    try {
      val dataCols = matched.columns.drop(2).toSeq // after (file, pos) tags
      val bad = assignments.keySet -- dataCols.toSet
      require(bad.isEmpty,
        s"updateWhere assigns unknown column(s): ${bad.mkString(", ")}")
      if (matched.isEmpty) return head
      val delDir = s"$dir/deletes/${java.util.UUID.randomUUID}"
      // the touched-file set rides the vector WRITE as an observed metric
      // (bounded: ≤ head file count) — the former shape re-read the
      // just-written vector with a distinct().collect(), one extra job
      val obs = org.apache.spark.sql.Observation(
        s"updateWhere-${java.util.UUID.randomUUID}")
      matched.select(col("__graft_file").as("file_path"),
          col("__graft_pos").as("pos"))
        .observe(obs, collect_set(col("file_path")).as("files"))
        .coalesce(1).write.parquet(delDir)
      val newDel = io.list(delDir).filter(_.endsWith(".parquet")).sorted
        .map(n => s"$delDir/$n")
      val updated = matched.select(dataCols.map(c =>
        assignments.get(c).map(_.as(c)).getOrElse(col(c))): _*)
      val pt = partitioningOf(dir)
      val written =
        if (pt.isEmpty) updated
        else PartitionTransform.clusterFor(updated, pt, ptNumFiles(dir))
      val newFiles = writeBatch(written, dir)
      val phys = physOf(written)
      validateConstraints(spark, dir, newFiles)
      val rowsNew =
        if (pt.isEmpty) rowsLines(spark, newFiles)
        else statsLines(spark, dir, newFiles,
          pt.flatMap(_.statNames).distinct, cbo = cboOnCommit(dir),
          known = Some(phys))
      val referenced =
        obs.get("files").asInstanceOf[scala.collection.Seq[String]].toSet
      // merge-on-read update: all head files carry, plus the updated
      // copies — pointer carry + one new segment, like an append
      val newSeg = segLine(dir, newFiles, coversOf(rowsNew))
      val delRowLines = rowsLines(spark, newDel)
      val newStatsSeg = segLine(dir, delRowLines ++ rowsNew)
      var headAt: Option[Int] = None
      val v = publishOnHead(dir,
          guardFiles = newDel ++ newFiles) { (h, base) =>
        val missing = referenced -- base.toSet
        if (missing.nonEmpty)
          throw new SnapshotShapeConflict(
            s"update vector references ${missing.size} file(s) no longer " +
              "in the head (concurrent compaction/overwrite); re-running " +
              "updateWhere against the new head")
        val curDels = h.toSeq.flatMap(delFilesOf(dir, _))
        if (curDels.toSet != headDels.toSet ||
            h.toSeq.flatMap(eqDelsOf(dir, _)).nonEmpty)
          throw new SnapshotShapeConflict(
            "row-erasure state changed during updateWhere (concurrent " +
              "delete); re-running against the new head so updated copies " +
              "cannot resurrect concurrently-deleted rows")
        headAt = h
        Seq(s"#ts=${now()}") ++ carryManifest(dir, h, Seq(phys)) ++
          newDel.map(f => s"#del=$f") ++ newSeg
      }
      val hdr = headerOrUpgrade(dir, headAt).map { case (d, del) =>
        rowsHeaderLine(d + sumRows(rowsNew), del + sumRows(delRowLines))
      }.toSeq
      io.writeLines(statsPath(dir, v),
        hdr ++ carrySidecar(dir, headAt) ++ newStatsSeg)
      v
    } finally {
      matched.unpersist()
      ()
    }
  }

  /** Merge-on-read delete-BY-KEY — `DELETE FROM table WHERE key IN
    * (keys)` as an O(|keys|) commit with ZERO data scanned: the keys land
    * as an equality-delete file under `deletes/`, and readers anti-join
    * them against every data file that was already in the table when the
    * delete landed. That scoping (Iceberg v2 sequence numbers, carried
    * here as the landing version in the `#eqdel=` manifest line) is the
    * correctness half of the operator: a key legitimately RE-INSERTED
    * after the delete is a new row and survives — an unscoped filter
    * would silently swallow it forever.
    *
    * vs the siblings: [[deleteWhere]] scans the table to resolve
    * arbitrary predicates to positions; [[merge]]/[[mergeChanges]]
    * rewrite the affected files copy-on-write. This is the cheapest of
    * the three — the GDPR-erasure / retraction-feed shape, where the
    * keys are known and the table is 100 TB — at the price of a per-era
    * anti-join at read time until [[compact]] materializes it.
    *
    * Normalization contract (enforced loudly elsewhere): MERGE,
    * incremental reads, promotion, and history expiration refuse while
    * unmaterialized equality deletes are present — run [[compact]] to
    * fold them into the data files first. Keys are deduplicated; a null
    * key erases null-key rows. Returns the new version (head unchanged
    * when `keys` is empty). */
  def deleteByKeys(spark: SparkSession, dir: String, keyCol: String,
                   keys: DataFrame): Int = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val delDir = s"$dir/deletes/${java.util.UUID.randomUUID}"
    keys.select(col(keyCol)).distinct().coalesce(1).write.parquet(delDir)
    val out = io.list(delDir).filter(_.endsWith(".parquet")).sorted
      .map(n => s"$delDir/$n")
    // footers already carry the row count — emptiness is a driver-local
    // read, not another Spark job over the just-written file
    if (out.isEmpty || footerRowCounts(spark, out).values.sum == 0L) {
      io.list(delDir).foreach(n => io.delete(s"$delDir/$n"))
      io.delete(delDir)
      return vs.last
    }
    // merge-on-read: all head files carry — pointer carry, like deleteWhere
    var headAt: Option[Int] = None
    val v = publishOnHeadRaw(dir, guardFiles = out) { h =>
      headAt = h
      // seq = the version being published: the delete applies to exactly
      // the head's files (all added at ≤ head < seq), never to later
      // appends — re-resolved per OCC retry like every head derivation
      val seq = h.getOrElse(0) + 1
      Seq(s"#ts=${now()}") ++ carryManifest(dir, h, Seq.empty) ++
        out.map(f => s"#eqdel=$seq\t$keyCol\t$f")
    }
    // key erasure never moves a file's min/max: superset guarantee holds;
    // the totals carry unchanged — equality deletes are data-dependent
    // debt (fastCount refuses on them until compact materializes)
    val hdr = headerOrUpgrade(dir, headAt).map { case (d, del) =>
      rowsHeaderLine(d, del)
    }.toSeq
    val carried = hdr ++ carrySidecar(dir, headAt)
    if (carried.nonEmpty) io.writeLines(statsPath(dir, v), carried)
    // auto-materialize on threshold (the `eqdel.compact.threshold` table
    // property): a CDC-heavy table's eras would otherwise pile up until
    // an operator remembers to compact — with the property set, the
    // delete that crosses the line pays the materialization itself, and
    // the metadata paths (fastCount, catalog reads, MERGE) stay usable
    // without babysitting. Read cost between passes stays O(eras).
    val committedV = tableProperties(dir).get("eqdel.compact.threshold")
      .map(_.toInt).filter(_ > 0) match {
      case Some(t) if eqDelsOf(dir, v).size >= t =>
        compact(spark, dir,
          tableProperties(dir).get("compact.target.bytes").map(_.toLong)
            .getOrElse(DefaultCompactTargetBytes))
      case _ => v
    }
    maybeAutoRefresh(spark, dir)
    committedV
  }

  /** Roll the head back to `toVersion`'s file set — as a NEW version, so
    * the rolled-back state stays inspectable. Carries `toVersion`'s delete
    * vectors too: the rolled-back STATE includes which rows were dead. */
  def rollback(dir: String, toVersion: Int): Int = {
    val v = publish(dir, versions(dir).last + 1,
      s"#ts=${now()}" +: carryManifest(dir, Some(toVersion), Seq.empty))
    // the restored state's sidecar (stats bounds, blooms, row counts)
    // describes the same immutable files — copy it (pointers and all:
    // segments are immutable and GC-pinned by this new reference) so a
    // rollback doesn't silently turn off pruning and metadata-only counts
    val p = statsPath(dir, toVersion)
    if (io.exists(p)) io.writeLines(statsPath(dir, v), io.readLines(p))
    v
  }

  /** Commit wall-clock of a version (absent on manifests published by a
    * pre-timestamp build). */
  private[sinks] def tsOf(dir: String, version: Int): Option[Long] =
    io.readLines(manifestPath(dir, version))
      .collectFirst { case l if l.startsWith("#ts=") => l.drop(4).toLong }

  /** Time-travel by wall clock: read the HIGHEST version whose commit
    * timestamp is ≤ `tsMillis` — "what did the table contain when
    * yesterday's training job started?" asked in the job's own terms.
    * Version numbers stay the order of record (a slow OCC loser can carry
    * an earlier stamp than the winner below it — the stamp is taken
    * before publish), so resolution filters on stamps but picks the max
    * VERSION among the qualifying. Fails loudly when nothing is old
    * enough; unstamped manifests (pre-timestamp builds) never qualify. */
  def readAsOf(spark: SparkSession, dir: String, tsMillis: Long): DataFrame =
    read(spark, dir, Some(versionAt(dir, tsMillis)))

  /** The version [[readAsOf]] resolves `tsMillis` to — shared with the
    * SQL catalog's `TIMESTAMP AS OF` path. */
  private[graft] def versionAt(dir: String, tsMillis: Long): Int = {
    val stamped = versions(dir)
      .flatMap(v => tsOf(dir, v).map(t => (v, t)))
    val at = stamped.filter(_._2 <= tsMillis).map(_._1)
    require(at.nonEmpty,
      s"no version at or before $tsMillis in $dir " +
        s"(earliest stamp: ${stamped.headOption.map(_._2)})")
    at.max
  }

  /** First version whose commit stamp is at or after `tsMillis` — the
    * STREAMING twin of [[versionAt]] (which answers at-or-before for
    * time travel): a consumer starting "from instant T" wants the
    * commits that happened at or after T. None = every retained commit
    * predates the instant (the consumer tails from past the head). */
  private[graft] def versionAtOrAfter(dir: String,
                                      tsMillis: Long): Option[Int] =
    versions(dir)
      .flatMap(v => tsOf(dir, v).map(t => (v, t)))
      .filter(_._2 >= tsMillis).map(_._1).minOption

  /** (resolved version, live data files, has delete debt, `#schema=`
    * header) — the seam the SQL catalog plans a snapshot read through,
    * parsed from one manifest read. The header is the files' physical
    * schema, not a declaration: it never carries CREATE TABLE semantics. */
  private[graft] def snapshotInfo(dir: String, version: Option[Int])
      : (Int, Seq[String], Boolean, Option[StructType]) = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val raw = rawManifest(dir, v)
    (v, filesIn(raw), delsIn(raw).nonEmpty || eqDelsIn(raw).nonEmpty,
      schemaIn(raw))
  }

  // ---- copy-on-write rewrites: compaction, z-order, MERGE ----

  /** The parquet files a write landed under `dir`, sorted. */
  private def parquetIn(dir: String): Seq[String] =
    io.list(dir).filter(_.endsWith(".parquet")).sorted.map(n => s"$dir/$n")

  /** The one commit of every copy-on-write rewrite ([[merge]],
    * [[mergeChanges]], [[mergeInto]], [[compact]] and its scoped forms,
    * [[optimizeZorder]]): publish "the files `replaced` of version `head`
    * (raw manifest `raw`) are now `newFiles`" on the OCC head. `newFiles`
    * were written from a frame of physical schema `phys`; they get stats
    * for `statCols` (row counts only when empty).
    *
    * Deletes: the rewrite materialized every delete of the replaced
    * files. Positional vectors of kept files survive, consolidated into
    * one vector (carried as they are when nothing is replaced); an
    * equality delete survives while it still applies to a kept file.
    *
    * Each attempt refuses a head whose delete state moved since `raw` —
    * a delete landing mid-rewrite references files this rewrite already
    * copied without it, so carrying it would half-apply it and dropping
    * it would resurrect rows ([[SnapshotShapeConflict]], worded with `op`
    * and `rerun`). `onHead` runs the caller's own checks on the fresh
    * head's raw manifest first. With `txnId` the commit is exactly-once:
    * a live writer that already landed the same transaction wins, and
    * its version is returned (this rewrite's files are orphan-sweep
    * debris). Returns the version. */
  private def publishRewrite(spark: SparkSession, dir: String, op: String,
      rerun: String, head: Int, raw: Seq[String], replaced: Set[String],
      newFiles: Seq[String], phys: StructType, statCols: Seq[String],
      txnId: Option[String] = None,
      onHead: Seq[String] => Unit = _ => ()): Int = {
    val dels = delsIn(raw)
    val eqs = eqDelsIn(raw)
    val kept = filesIn(raw).filterNot(replaced)
    val survivorDel: Seq[String] =
      if (dels.isEmpty || replaced.isEmpty) dels
      else if (kept.isEmpty) Seq.empty
      else {
        val survivors = readDelVectors(spark, dels)
          .filter(col("file_path").isInCollection(kept))
        val sDir = s"$dir/deletes/${java.util.UUID.randomUUID}"
        survivors.coalesce(1).write.parquet(sDir)
        val out = parquetIn(sDir)
        // emptiness from the footers (driver-local) — re-reading the
        // just-written vector was one extra Spark job per rewrite
        if (footerRowCounts(spark, out).values.sum == 0L) {
          io.list(sDir).foreach(n => io.delete(s"$sDir/$n"))
          io.delete(sDir)
          Seq.empty
        } else out
      }
    // a surviving equality delete must still APPLY to a kept file
    // (otherwise it would linger forever and keep expire refusing); files
    // appended after `head` never count — every delete here predates them
    val liveEq =
      if (eqs.isEmpty) eqs
      else {
        val keptAdded = addedAtOf(dir, kept)
        eqs.filter { case (s, _, _) =>
          kept.exists(f => keptAdded.getOrElse(f, 0) < s)
        }
      }
    val added = if (newFiles.isEmpty) Seq.empty else Seq(phys)
    val newStats =
      if (newFiles.isEmpty) Seq.empty
      else if (statCols.isEmpty) rowsLines(spark, newFiles)
      else statsLines(spark, dir, newFiles, statCols, cbo = cboOnCommit(dir),
        known = Some(phys))
    val delRows = rowsLines(spark, survivorDel)
    // the old vectors' rows lines drop with the replaced files' (the
    // survivors re-land theirs); untouched segments ride verbatim
    val removed = replaced ++ dels
    val newSeg = segLine(dir, newFiles, coversOf(newStats))
    val newStatsSeg = segLine(dir, newStats ++ delRows,
      coversOf(newStats ++ delRows))
    var carried: Seq[String] = Seq.empty
    var dropped: Map[String, Long] = Map.empty
    var headAt: Option[Int] = None
    publishOnHeadTxn(dir, txnId, guardFiles = newFiles ++ survivorDel) { h =>
      val hRaw = h.toSeq.flatMap(rawManifest(dir, _))
      if (delsIn(hRaw).toSet != dels.toSet)
        throw new SnapshotShapeConflict(
          s"delete vectors changed during $op; $rerun against the new head")
      onHead(hRaw)
      if (eqDelsIn(hRaw).toSet != eqs.toSet)
        throw new SnapshotShapeConflict(
          s"equality deletes changed during $op; $rerun against the new head")
      headAt = h
      val (c, dr) = carrySidecarExcept(dir, h, removed)
      carried = c; dropped = dr
      // carry the head's txn ledger forward but stamp our OWN wall clock —
      // the rewritten snapshot is a new commit, not a re-dating of the old
      hRaw.filter(_.startsWith("#txn=")) ++ txnId.map(t => s"#txn=$t") ++
        Seq(s"#ts=${now()}") ++
        survivorDel.map(f => s"#del=$f") ++
        liveEq.map { case (s, c, p) => s"#eqdel=$s\t$c\t$p" } ++
        carryManifestExcept(dir, hRaw, removed, replaced, added) ++ newSeg
    } match {
      case Left(existing) => existing
      case Right(v) =>
        io.writeLines(statsPath(dir, v),
          rewriteHeader(dir, headAt, replaced, dels.toSet, dropped,
            sumRows(newStats), sumRows(delRows)) ++ carried ++ newStatsSeg)
        v
    }
  }

  /** Bin-pack compaction — the maintenance op a streaming landing needs
    * most: after 10^5 [[commitOnce]] micro-batches the head manifest
    * lists 10^5 tiny file groups, and every reader pays for them. This
    * rewrites the head's files smaller than `targetBytes` into
    * ~target-sized ones and publishes the result as a NEW snapshot whose
    * manifest swaps the rewritten subset — a LOGICAL rewrite: the small
    * files stay on disk, pinned versions still read them, and [[expire]]
    * GCs them once no retained manifest references them (the
    * land-then-maintain separation, same as the directory-swap
    * [[Compaction]] but protocol-native and non-destructive).
    *
    * Scale shape: the rewrite is shuffle-free (`coalesce` merges read
    * partitions in place), stats stay O(affected) — carried lines cover
    * kept files, one scan covers the rewritten output — and the head's
    * `#`-metadata (streaming txn ids) rides into the new manifest, so
    * compacting never shortens the exactly-once replay ledger. OCC: a
    * concurrent append that lands mid-compact survives, because every
    * publish attempt re-resolves the head and keeps any file it didn't
    * rewrite. Returns the new version (or the head unchanged when fewer
    * than `minInputFiles` files are under target). */
  def compact(spark: SparkSession, dir: String, targetBytes: Long,
              minInputFiles: Int = 2,
              statCols: Seq[String] = Seq.empty): Int =
    compactScoped(spark, dir, targetBytes, minInputFiles, statCols,
      Seq.empty)

  /** Predicate-scoped compaction — [[compact]] restricted to the files a
    * conjunctive set of `(column, lo, hi)` range predicates ADMITS
    * through the stats layer ([[prunedFilesPushed]]: range stats + segment
    * covers, the same superset-guaranteed admission scans use). The
    * 100 TB shape this exists for: a streaming table accumulates small
    * files in today's partition only — `compactWhere(_, dir,
    * Seq(("ts", dayLo, dayHi)), target)` rewrites THAT slice and
    * nothing else, so maintenance cost tracks the hot window, never
    * table size. Admission is a superset (files that merely MIGHT
    * intersect rewrite too — harmless: a rewrite preserves rows), and
    * everything else is the [[compact]] contract verbatim: deletes
    * materialize for rewritten files and consolidate/carry for kept
    * ones, untouched manifest segments ride verbatim (O(affected)
    * metadata), OCC retries shape conflicts, pinned versions still read
    * the old files. SQL: `CALL graft.compact_where(dir, column, lo, hi,
    * target_bytes)`. */
  def compactWhere(spark: SparkSession, dir: String,
                   predicates: Seq[(String, Any, Any)], targetBytes: Long,
                   minInputFiles: Int = 2,
                   statCols: Seq[String] = Seq.empty): Int = {
    require(predicates.nonEmpty,
      "compactWhere needs at least one (column, lo, hi) predicate; " +
        "use compact() for the whole table")
    compactScoped(spark, dir, targetBytes, minInputFiles, statCols,
      predicates)
  }

  /** Predicate-scoped MULTI-KEY clustering — [[optimizeZorder]]
    * restricted to the files a conjunctive `(column, lo, hi)` scope
    * ADMITS through the stats layer, exactly [[compactWhere]]'s
    * admission (and its degenerate-scope refusals: un-encodable bounds,
    * a type-family mismatch, or a column with no range stats would
    * silently admit — and rewrite — the whole table, so they refuse
    * loudly). The 100 TB shape this exists for: a hot slice (today's
    * partition, one tenant's key range) that needs genuinely
    * multi-dimensional layout gets it at O(slice) — every in-scope live
    * file rewrites range-partitioned and sorted by the Morton value of
    * `zCols` ([[Layout.writeZordered]]), while out-of-scope files
    * survive byte-identical; [[optimizeZorder]]'s whole-table rewrite
    * stays for global re-layout. Output file count is sized by
    * `targetBytes` like every compaction. Deletes touching the rewritten
    * files materialize; vectors for kept files consolidate and carry;
    * stats for `zCols` are recorded alongside the head's tracked columns
    * (clustering without stats would skip nothing). SQL:
    * `CALL graft.zorder_where(dir, column, lo, hi, zcols, target_bytes)`. */
  def zorderWhere(spark: SparkSession, dir: String,
                  predicates: Seq[(String, Any, Any)], zCols: Seq[String],
                  targetBytes: Long, bitsPerDim: Int = 6): Int = {
    require(predicates.nonEmpty,
      "zorderWhere needs at least one (column, lo, hi) predicate; " +
        "use optimizeZorder() for the whole table")
    require(zCols.nonEmpty, "zorderWhere needs at least one cluster column")
    compactScoped(spark, dir, targetBytes, minInputFiles = 1,
      statCols = Seq.empty, predicates, zorder = Some((zCols, bitsPerDim)))
  }

  private def compactScoped(spark: SparkSession, dir: String,
      targetBytes: Long, minInputFiles: Int, statCols: Seq[String],
      scope: Seq[(String, Any, Any)],
      zorder: Option[(Seq[String], Int)] = None): Int = retryingShape(3) {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val head = vs.last
    // A scope whose bounds can't meet the stats layer (unencodable
    // values, a type-family mismatch against the column's recorded
    // tags, or no range stats at all) would silently admit EVERY file —
    // turning the "O(hot slice)" call into a full-table rewrite. Refuse
    // loudly instead: the superset guarantee is fine for a scan, but a
    // rewrite's cost must never ride on a degenerate admission.
    val what = if (zorder.isDefined) "zorderWhere" else "compactWhere"
    scope.foreach { case (c, lo, hi) =>
      val fam = (StatValue.encodeBound(lo), StatValue.encodeBound(hi)) match {
        case (Some((tl, _)), Some((th, _))) if tl == th => tl
        case _ => throw new IllegalArgumentException(
          s"$what: bounds for '$c' ($lo .. $hi) are not " +
            "stats-comparable; pass values of the column's own type")
      }
      val tags = statsOf(dir, head, c).values.map(_._1).toSet
      require(tags.nonEmpty,
        s"$what: column '$c' has no range stats at v$head of " +
          s"$dir — writeStats first, or the scope would admit (and " +
          "rewrite) the whole table")
      require(tags == Set(fam),
        s"$what: '$c' bounds are $fam but its stats are " +
          s"${tags.mkString(",")} — a mismatched probe admits everything")
    }
    // scope admission re-resolves per OCC attempt — a retry against a
    // new head must re-admit against THAT head's stats
    val inScope: String => Boolean =
      if (scope.isEmpty) _ => true
      else prunedFilesPushed(spark, dir, head,
        scope.map { case (c, lo, hi) => (c, Option(lo), Option(hi)) },
        Nil).toSet
    // a z-order pass rewrites EVERY admitted file regardless of size —
    // re-layout is the point, not bin-packing — while a plain compact
    // only gathers the under-target ones
    val raw = rawManifest(dir, head)
    val headFiles = filesIn(raw)
    val small = headFiles
      .filter(f => inScope(f) && (zorder.isDefined || io.size(f) < targetBytes))
    val delsAtStart = delsIn(raw)
    val eqsAtStart = eqDelsIn(raw)
    // minInputFiles is a bin-packing heuristic; it must not veto a
    // debt-clearing pass — compact is the materialization path
    // ([[deleteByKeys]]' contract sends dependent ops here, the SQL
    // catalog refuses MOR reads until it runs), and a one-small-file
    // table would otherwise carry its vector forever. Debt riding ONLY
    // on over-target files still consolidates (not rewrites) them — the
    // partial-compact contract: rewriting a huge file for one dead row
    // is write amplification; raise targetBytes to force full
    // materialization.
    // A SCOPED pass tests debt against its OWN candidates, not the
    // table: out-of-scope vectors can't be cleared by an in-scope
    // rewrite, and a global flag would make every scoped pass on a
    // table carrying any unrelated debt churn a fresh no-progress
    // version forever. The vector read is churn-proportional (delete
    // rows, not table rows) and only paid on the scoped path.
    // lazy: only consulted when small.size < minInputFiles — the common
    // scoped pass with enough candidates never pays the vector read
    lazy val debt =
      if (scope.isEmpty) delsAtStart.nonEmpty || eqsAtStart.nonEmpty
      else {
        val smallAdded = addedAtOf(dir, small)
        val eqTouches = eqsAtStart.exists { case (s, _, _) =>
          small.exists(f => smallAdded.getOrElse(f, 0) < s)
        }
        def delTouches = delsAtStart.nonEmpty && {
          val sm = small.toSet
          readDelVectors(spark, delsAtStart).select("file_path")
            .distinct().collect().exists(r => sm(r.getString(0)))
        }
        eqTouches || delTouches
      }
    if (small.isEmpty || (small.size < minInputFiles && !debt)) return head
    val smallSet = small.toSet
    val numOut = math.max(1,
      math.ceil(small.map(io.size).sum.toDouble / targetBytes).toInt)
    val batchDir = s"$dir/data/${java.util.UUID.randomUUID}"
    // the rewrite MATERIALIZES every delete for the files it touches —
    // positional vectors (positions don't transfer to rewritten files) AND
    // applicable equality deletes (the rewritten files get a NEW add
    // version, past every existing delete's seq, so carrying the lines
    // for them would silently stop applying); [[publishRewrite]] keeps
    // the deletes of kept files
    val live = readLive(spark, dir, raw, small)
    val sortCols = sortOrderOf(dir)
      .filter(c => live.columns.exists(_.equalsIgnoreCase(c)))
    // the declared sort order rides every compaction: range-partition on
    // the sort key (globally disjoint file ranges, so min/max pruning
    // actually skips) + local sort (row-group stats tighten too); absent
    // a declaration the rewrite is a plain bin-pack as before. A z-order
    // pass clusters by the Morton value instead — multi-dimensional
    // layout IS the request, so it overrides the declared prefix order
    // for the rewritten slice.
    zorder match {
      case Some((zc, bits)) =>
        Layout.writeZordered(live, zc, batchDir, numOut, bits)
      case None if sortCols.nonEmpty =>
        live.repartitionByRange(numOut, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
          .write.parquet(batchDir)
      case None => live.coalesce(numOut).write.parquet(batchDir)
    }
    // explicit statCols let the maintenance pass ADD pruning metadata to
    // a landing that never collected it (commitOnce streams don't);
    // otherwise inherit whatever columns the head already tracks — and a
    // declared sort order always stats its own columns (the clustering
    // is worthless if no range stats record it)
    val cols =
      ((if (statCols.nonEmpty) statCols else statColsOf(dir, head)) ++
        sortCols ++ zorder.toSeq.flatMap(_._1)).distinct
    publishRewrite(spark, dir, "compaction", "re-run compact", head, raw,
      smallSet, parquetIn(batchDir), physOf(live), cols)
  }

  /** OPTIMIZE ZORDER — rewrite the table's LIVE rows z-ordered on
    * `zCols` as one logical-rewrite snapshot: the lake maintenance pass
    * that turns an arrival-ordered landing (streaming commitOnce batches,
    * CDC merges) into a scan-layout one, so min/max pruning on the
    * cluster keys actually skips files. Differences from [[compact]]
    * (which only bin-packs small files, keeping arrival order): the
    * rewrite set is EVERY live file, the output is range-partitioned and
    * sorted by the Morton value ([[Layout.writeZordered]] — one quantile
    * pass + one range shuffle), and every delete (positional AND
    * equality) is materialized — the clustered snapshot starts
    * delete-free. Old files stay for time travel; [[expire]] GCs them.
    *
    * Stats for `zCols` are (re)computed alongside whatever columns the
    * head already tracked — clustering without stats would skip nothing.
    * The txn ledger is carried forward (replay horizons survive
    * maintenance, same rule as compact). Concurrency: a delete landing
    * mid-rewrite aborts loudly (it references files this rewrite copied
    * without it); a concurrent APPEND rides through untouched — its
    * files simply stay unclustered until the next pass. */
  def optimizeZorder(spark: SparkSession, dir: String, zCols: Seq[String],
                     numFiles: Int = 16, bitsPerDim: Int = 6): Int =
    retryingShape(3) {
    require(zCols.nonEmpty, "optimizeZorder needs at least one cluster column")
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val head = vs.last
    val raw = rawManifest(dir, head)
    val rewrite = filesIn(raw)
    val batchDir = s"$dir/data/${java.util.UUID.randomUUID}"
    // live view of the WHOLE head: positional vectors anti-joined,
    // equality deletes applied — the rewrite materializes them all
    val live = readLive(spark, dir, raw, rewrite)
    Layout.writeZordered(live, zCols, batchDir, numFiles, bitsPerDim)
    publishRewrite(spark, dir, "optimizeZorder", "re-run", head, raw,
      rewrite.toSet, parquetIn(batchDir), physOf(live),
      (statColsOf(dir, head) ++ zCols).distinct)
  }

  /** MERGE (upsert) `source` into the table by `key` — copy-on-write
    * scoped by the manifest: a matched table row is replaced by its source
    * row, an unmatched source row is inserted, and ONLY the files that
    * actually contain a matched key are rewritten. At 100 TB that scoping
    * is the whole operator: a CDC batch touching 0.1% of keys rewrites
    * ~0.1% of files (stats-pruned, then membership-confirmed), not the
    * table — every untouched file survives byte-identical in the new
    * manifest.
    *
    * Candidate selection is two-phase, each a superset of the next:
    * manifest stats drop files whose [min,max] can't contain any source
    * key (free, no data read), then ONE semi-join scan of the survivors
    * confirms actual membership — the files it names are exactly the
    * rewrite set. The rewrite reads those files LIVE (delete vectors
    * applied, so dead rows stay dead), anti-joins the source keys, and
    * unions the full source: updates and inserts land in one batch.
    *
    * Source keys must be unique (checked; "multiple source rows matched"
    * is a correctness error in every MERGE dialect, failed loudly here).
    *
    * Concurrency: vectors changing mid-merge abort (same rule as
    * [[compact]]); a concurrent APPEND is validated — if its files contain
    * a source key the merge aborts (its rewrite would duplicate that key:
    * write-write conflict under serializable semantics), otherwise the
    * append rides through the retry untouched. Returns the new version. */
  def merge(spark: SparkSession, dir: String, source: DataFrame,
            key: String, txnId: Option[String] = None): Int =
    mergeBatch(spark, dir, source, key, None, txnId)

  /** CDC changelog apply — [[merge]] plus row deletes, in ONE commit: the
    * change batch carries an op column (`"u"` upsert / `"d"` delete), and
    * a file containing a deleted key is simply part of the rewrite set
    * (its copy omits the row). Pair with an optional `txnId` and a
    * foreachBatch loop ([[graft.streaming.MergeStream]]) and this is
    * exactly-once streaming CDC into the lake table. A key may appear
    * once in the batch (fold multi-change streams to last-change-per-key
    * first — [[graft.analytics.Cdc]] semantics) and may not be both
    * upserted and deleted. */
  def mergeChanges(spark: SparkSession, dir: String, changes: DataFrame,
                   key: String, opCol: String = "op",
                   txnId: Option[String] = None): Int =
    mergeBatch(spark, dir, changes, key, Some(opCol), txnId)

  /** What the one validation pass ([[precheck]]) proved and derived about
    * a merge batch: keys are unique and none is both upserted and deleted;
    * `span` is the affected-key [min, max] (None = no non-null key) and
    * `hasUpserts` says whether any row lands. */
  private case class ChangePrecheck(hasUpserts: Boolean,
                                    span: Option[(Any, Any)])

  /** ONE aggregate pass validates a merge batch — bad ops, duplicate keys
    * and upsert∩delete are three verdicts of one per-key rollup, which
    * also yields the key span and the upsert count the rewrite needs.
    * `opCol` None: every row is an upsert. */
  private def precheck(batch: DataFrame, key: String,
                       opCol: Option[String]): ChangePrecheck = {
    // A NULL op makes `!isin("u","d")` evaluate to NULL (filtered out),
    // which would let the row pass validation and then silently match
    // neither the upsert nor the delete branch — count "not a definite
    // match" instead so malformed rows fail loudly rather than vanish.
    // Internal aliases carry an unlikely prefix so a user key column
    // literally named "nu"/"nd"/"nbad" can't make the second aggregate's
    // references ambiguous.
    val op = opCol.fold(lit("u"))(col)
    val r = batch.groupBy(col(key)).agg(
        count(when(op === "u", lit(1))).as("__graft_nu"),
        count(when(op === "d", lit(1))).as("__graft_nd"),
        count(when(!coalesce(op.isin("u", "d"), lit(false)),
          lit(1))).as("__graft_nbad"))
      .agg(sum(col("__graft_nbad")).as("bad"),
        max(col("__graft_nu")).as("maxu"),
        count(when(col("__graft_nu") > 0 && col("__graft_nd") > 0,
          lit(1))).as("both"),
        sum(col("__graft_nu")).as("urows"),
        min(col(key)).as("kmin"), max(col(key)).as("kmax"))
      .head()
    val empty = r.isNullAt(0)
    require(empty || r.getLong(0) == 0,
      s"op column '${opCol.mkString}' must be 'u' or 'd' (non-null)")
    require(empty || r.getLong(1) <= 1,
      s"source has duplicate '$key' values — a MERGE with a " +
        s"many-to-one match is ambiguous; dedupe the source first")
    require(empty || r.getLong(2) == 0,
      s"a '$key' value is both upserted and deleted in one batch — " +
        s"fold the changelog to last-change-per-key first")
    ChangePrecheck(
      hasUpserts = !empty && r.getLong(3) > 0,
      // all-NULL keys aggregate to a null kmin: no span — a (null, null)
      // span would make mayIntersect keep EVERY head file as a candidate
      span = if (empty || r.isNullAt(4)) None else Some((r.get(4), r.get(5))))
  }

  /** Core of [[merge]]/[[mergeChanges]]: upsert and delete by `key`,
    * rewriting ONLY the files that contain an affected key. With `txnId`,
    * the commit is exactly-once: an already committed transaction returns
    * its version without reading anything (the manifest ledger is the
    * replay marker, as in [[commitOnce]]). The batch is persisted so
    * validation, the u/d splits and the rewrite share one
    * materialization. */
  private def mergeBatch(spark: SparkSession, dir: String, batch: DataFrame,
                         key: String, opCol: Option[String],
                         txnId: Option[String]): Int =
    if (txnId.exists(committedTxns(dir).contains))
      versionOfTxn(dir, txnId.get)
    else {
      val ch = batch.persist()
      try {
        val pre = precheck(ch, key, opCol)
        val (upserts, deleteKeys) = opCol match {
          case Some(o) => (ch.filter(col(o) === "u").drop(o),
            ch.filter(col(o) === "d").select(col(key)))
          case None => (ch, ch.limit(0).select(col(key)))
        }
        val v = retryingShape(3) { mergeBatchAttempt(spark, dir, upserts,
          deleteKeys, key, txnId, pre) }
        maybeAutoRefresh(spark, dir)
        v
      } finally ch.unpersist()
    }

  private def mergeBatchAttempt(spark: SparkSession, dir: String,
                   upserts: DataFrame, deleteKeys: DataFrame, key: String,
                   txnId: Option[String], pre: ChangePrecheck): Int = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val head = vs.last
    val raw = rawManifest(dir, head)
    val filesAtStart = filesIn(raw)
    val mergePin = physSchemaOf(dir, raw)
    // the rewrite's candidate selection and survivor logic reason about
    // per-file row liveness; layering era-scoped equality deletes under
    // that would be easy to get silently wrong — normalize first instead
    require(eqDelsIn(raw).isEmpty,
      s"$dir carries unmaterialized equality deletes; run compact() to " +
        s"fold them into the data files before MERGE")
    // every key the batch affects, for file-touching and row removal
    val affectedKeys = upserts.select(col(key)).unionByName(deleteKeys)
    val touched = filesWithKeys(spark, dir, head, raw, mergePin, key,
      affectedKeys, pre.span)
    // rewrite = surviving rows of touched files (minus every affected
    // key: updated rows are replaced, deleted rows just end here) + the
    // upserts; a no-match batch rewrites nothing and lands the upserts
    // as a plain new file, in the table's column order (schema-only
    // read, no data scanned)
    val tableCols = mergePin
      .getOrElse(scan(spark, Seq(filesAtStart.head), None).schema)
      .fieldNames
    val rewritten =
      if (touched.isEmpty) upserts.select(tableCols.map(col).toSeq: _*)
      else readFiles(spark, touched, delsIn(raw), mergePin)
        .join(affectedKeys, Seq(key), "left_anti")
        .unionByName(upserts)
        .select(tableCols.map(col).toSeq: _*)
    publishRewrite(spark, dir, "merge", "re-run", head, raw, touched.toSet,
      landMerged(spark, dir, rewritten, touched.size,
        touched.nonEmpty || pre.hasUpserts),
      physOf(rewritten), statColsOf(dir, head), txnId,
      mergeConflicts(spark, dir, filesAtStart, key, affectedKeys,
        bySource = false))
  }

  /** The files of version `head` (raw manifest `raw`, schema pin `pin`)
    * holding a key of `keys` (one column, named `key`), in two phases,
    * each a superset of the next: manifest stats drop the files whose
    * range misses `span` (the keys' [min, max]; None = no key) without
    * reading data, then ONE semi-join scan of the live rows of the rest
    * names the files that hold a key (a collect bounded by file count). */
  private def filesWithKeys(spark: SparkSession, dir: String, head: Int,
      raw: Seq[String], pin: Option[StructType], key: String,
      keys: DataFrame, span: Option[(Any, Any)]): Seq[String] =
    span match {
      case None => Seq.empty
      case Some((lo, hi)) =>
        val stats = statsOf(dir, head, key)
        val candidates = filesIn(raw).filter { f =>
          stats.get(f).forall(mayIntersect(_, lo, hi))
        }
        if (candidates.isEmpty) Seq.empty
        else taggedLive(spark, candidates, delsIn(raw), pin)
          .join(keys, Seq(key), "left_semi")
          .select("__graft_file").distinct()
          .collect().map(_.getString(0)).toSeq
    }

  /** Land a merge's rewritten `rows`: the table's file granularity kept —
    * ~one file per touched file (a shuffle-free merge of read
    * partitions), ONE file for a pure-insert merge, none without rows —
    * then checked against the table's CHECK constraints. */
  private def landMerged(spark: SparkSession, dir: String, rows: DataFrame,
                         touched: Int, hasRows: Boolean): Seq[String] =
    if (!hasRows) Seq.empty
    else {
      val batchDir = s"$dir/data/${java.util.UUID.randomUUID}"
      rows.coalesce(math.max(1, touched)).write.parquet(batchDir)
      val fs = parquetIn(batchDir)
      validateConstraints(spark, dir, fs)
      fs
    }

  /** A merge's own checks on the fresh OCC head (raw manifest `hRaw`):
    * an equality delete that landed mid-merge, and files appended since
    * `filesAtStart` that hold a key of `keys` (one column, named `key`) —
    * serializable write-conflict validation: the rewrite was computed
    * without them, so a hit would double (or revive) that key. Under
    * BY-SOURCE clauses every append conflicts: they quantify over every
    * target row. The appended files read pinned to the head's schema. */
  private def mergeConflicts(spark: SparkSession, dir: String,
      filesAtStart: Seq[String], key: String, keys: DataFrame,
      bySource: Boolean)(hRaw: Seq[String]): Unit = {
    if (eqDelsIn(hRaw).nonEmpty)
      throw new java.util.ConcurrentModificationException(
        "an equality delete landed during merge; compact, then " +
          "re-run against the new head")
    val appended = filesIn(hRaw).filterNot(filesAtStart.toSet)
    if (appended.nonEmpty) {
      if (bySource)
        throw new SnapshotShapeConflict(
          "a concurrent append landed during a BY-SOURCE merge " +
            "(which quantifies over every target row); re-running " +
            "against the new head")
      if (scan(spark, appended, physSchemaOf(dir, hRaw)).select(col(key))
        .join(keys, Seq(key), "left_semi").limit(1).count() > 0)
        throw new java.util.ConcurrentModificationException(
          "a concurrent append landed rows matching a merge source " +
            "key; re-run the merge against the new head")
    }
  }

  /** Full-clause MERGE — the CDC shapes [[merge]]'s single-key upsert
    * cannot express: ordered conditional `WHEN MATCHED [AND cond] THEN
    * UPDATE/DELETE`, conditional `WHEN NOT MATCHED [AND cond] THEN
    * INSERT`, and `WHEN NOT MATCHED BY SOURCE [AND cond] THEN
    * UPDATE/DELETE`, with standard first-satisfied-clause-wins
    * semantics (a NULL condition matches nothing, like SQL).
    *
    * Expression contract: clause conditions and assignment values are
    * evaluated over the joined row with target columns addressed as
    * `__t_<col>` and source columns as `__s_<col>` (the SQL strategy
    * rewrites `t.c` / `s.c` to exactly these; Scala callers use the
    * same spelling). Assignment KEYS are plain target column names.
    * Unassigned columns carry the target value through an UPDATE; an
    * INSERT must assign every table column.
    *
    * Scale shape: without BY-SOURCE clauses this is [[merge]]'s
    * file-scoped rewrite — manifest stats prune candidate files by the
    * source key range, one membership semi-join names the touched
    * files, and ONLY those rewrite (plus one appended file for
    * surviving inserts). BY-SOURCE clauses quantify over every target
    * row by definition, so they rewrite the whole head — that cost is
    * the semantics, not the implementation; the commit is still one
    * atomic publish. OCC mirrors [[merge]]: concurrent vector
    * changes, equality deletes, and appends carrying affected keys (or
    * ANY append, under BY-SOURCE) abort loudly and auto-retry bounded
    * against the new head. Unmaterialized equality deletes refuse at
    * entry (compact first). Source keys must be unique ([[merge]]'s
    * many-to-one ambiguity contract). */
  def mergeInto(spark: SparkSession, dir: String, source: DataFrame,
                targetKey: String, sourceKey: String,
                matched: Seq[MergeClause],
                notMatched: Seq[MergeClause],
                notMatchedBySource: Seq[MergeClause] = Seq.empty): Int = {
    val out = retryingShape(3) { mergeIntoAttempt(spark, dir, source,
      targetKey, sourceKey, matched, notMatched, notMatchedBySource) }
    maybeAutoRefresh(spark, dir)
    out
  }

  private def mergeIntoAttempt(spark: SparkSession, dir: String,
      source: DataFrame, targetKey: String, sourceKey: String,
      matched: Seq[MergeClause], notMatched: Seq[MergeClause],
      notMatchedBySource: Seq[MergeClause]): Int = {
    matched.foreach(c => require(!c.action.isInstanceOf[MergeInsert],
      "WHEN MATCHED supports UPDATE/DELETE"))
    notMatched.foreach(c => require(c.action.isInstanceOf[MergeInsert],
      "WHEN NOT MATCHED supports INSERT"))
    notMatchedBySource.foreach(c =>
      require(!c.action.isInstanceOf[MergeInsert],
        "WHEN NOT MATCHED BY SOURCE supports UPDATE/DELETE"))
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val head = vs.last
    val raw = rawManifest(dir, head)
    val filesAtStart = filesIn(raw)
    require(filesAtStart.nonEmpty, s"$dir head has no data files")
    val delsAtStart = delsIn(raw)
    require(eqDelsIn(raw).isEmpty,
      s"$dir carries unmaterialized equality deletes; run compact() to " +
        s"fold them into the data files before MERGE")
    val bySource = notMatchedBySource.nonEmpty
    val src = source.persist()
    try {
      val pre = precheck(src, sourceKey, None)
      val updPin = physSchemaOf(dir, raw)
      val tschema = updPin
        .getOrElse(scan(spark, Seq(filesAtStart.head), None).schema)
      val tcols = tschema.fieldNames.toSeq
      notMatched.foreach { c =>
        val vals = c.action.asInstanceOf[MergeInsert].values
        require(vals.keySet == tcols.toSet,
          s"INSERT must assign every table column; missing " +
            s"${(tcols.toSet -- vals.keySet).mkString(", ")}" +
            (if ((vals.keySet -- tcols.toSet).nonEmpty)
              s"; unknown ${(vals.keySet -- tcols.toSet).mkString(", ")}"
            else ""))
      }
      matched.foreach {
        case MergeClause(_, MergeUpdate(set)) =>
          require((set.keySet -- tcols.toSet).isEmpty,
            s"UPDATE assigns unknown column(s): " +
              (set.keySet -- tcols.toSet).mkString(", "))
        case _ => ()
      }
      notMatchedBySource.foreach {
        case MergeClause(_, MergeUpdate(set)) =>
          require((set.keySet -- tcols.toSet).isEmpty,
            s"BY SOURCE UPDATE assigns unknown column(s): " +
              (set.keySet -- tcols.toSet).mkString(", "))
        case _ => ()
      }

      // touched files: every file under BY-SOURCE quantification, else
      // the files holding a source key
      val srcKeys = src.select(col(sourceKey).as(targetKey))
      val touched =
        if (bySource) filesAtStart
        else filesWithKeys(spark, dir, head, raw, updPin, targetKey, srcKeys,
          pre.span)

      // the joined frame: live target rows of touched files as __t_*,
      // source rows as __s_*, presence markers on both sides
      val t0 = readFiles(spark, touched, delsAtStart, updPin)
      val t = t0.select(tcols.map(c => col(c).as(s"__t_$c")) :+
        lit(true).as("__t_present"): _*)
      val s0 = src.select(src.columns.toSeq.map(c =>
        col(c).as(s"__s_$c")) :+ lit(true).as("__s_present"): _*)
      val joined =
        if (touched.isEmpty)
          // nothing matched: no target scan at all — inserts only
          s0.select((tcols.map(c => lit(null).cast(tschema(c).dataType)
            .as(s"__t_$c")) :+ lit(false).as("__t_present")) ++
            s0.columns.toSeq.map(col): _*)
        else t.join(s0,
          t(s"__t_$targetKey") === s0(s"__s_$sourceKey"), "full_outer")

      // first-satisfied-clause-wins chains; an unconditional clause
      // terminates its chain (later clauses are unreachable, as in SQL)
      def chain(cs: Seq[(Option[Column], Column)], default: Column): Column =
        cs.foldRight(default) { case ((cond, v), acc) =>
          cond.map(c => when(c, v).otherwise(acc)).getOrElse(v)
        }
      def keepOf(cs: Seq[MergeClause], default: Column): Column =
        chain(cs.map(c => c.condition ->
          lit(!c.action.isInstanceOf[MergeDelete.type])), default)
      // every leaf value casts to the target column's (physical) type
      // BEFORE entering the when-chain: the chain's branches must
      // type-unify, and a source whose nested member names differ from
      // the physical ones (a renamed element/struct member — positional
      // layout identical, names forked by design) would otherwise fail
      // analysis against the carry/null branches. The leaf cast is the
      // same pure positional relabel the outer cast used to apply.
      def valOf(cs: Seq[MergeClause], c: String, carry: Column): Column =
        chain(cs.map(cl => cl.condition -> (cl.action match {
          case MergeUpdate(set) =>
            set.get(c).map(_.cast(tschema(c).dataType)).getOrElse(carry)
          case MergeDelete => carry // dropped by keep, value irrelevant
          case MergeInsert(vals) => vals(c).cast(tschema(c).dataType)
        })), carry)

      val isMatched = coalesce(col("__t_present"), lit(false)) &&
        coalesce(col("__s_present"), lit(false))
      val isTargetOnly = coalesce(col("__t_present"), lit(false)) &&
        !coalesce(col("__s_present"), lit(false))
      val keep =
        when(isMatched, keepOf(matched, lit(true)))
          .when(isTargetOnly, keepOf(notMatchedBySource, lit(true)))
          .otherwise(keepOf(notMatched, lit(false)))
      def outCol(c: String): Column = {
        val carry = col(s"__t_$c")
        when(isMatched, valOf(matched, c, carry))
          .when(isTargetOnly, valOf(notMatchedBySource, c, carry))
          .otherwise(valOf(notMatched, c,
            lit(null).cast(tschema(c).dataType)))
          .cast(tschema(c).dataType).as(c)
      }
      val rewritten = joined.filter(keep).select(tcols.map(outCol): _*)
      publishRewrite(spark, dir, "merge", "re-run", head, raw, touched.toSet,
        landMerged(spark, dir, rewritten, touched.size,
          touched.nonEmpty || pre.hasUpserts),
        physOf(rewritten), statColsOf(dir, head),
        onHead = mergeConflicts(spark, dir, filesAtStart, targetKey, srcKeys,
          bySource))
    } finally { src.unpersist(); () }
  }
}

/** The default (local-filesystem) binding. */
object VersionedTable
    extends VersionedTableOps(new SwitchableTableIO(TableIO.local)) {

  /** Bind the process-wide metadata backend — what lets the SQL
    * catalog (which references this singleton throughout) run over
    * HDFS/ABFS: `spark.sql.catalog.graft.io=hadoop` calls this at
    * catalog initialize. ONE backend per driver process: the engine's
    * path-keyed memos (segments, properties, CBO folds) are flushed on
    * switch, so configure the backend once, before table IO — not as a
    * per-query toggle. */
  def setBackend(b: TableIO): Unit = {
    io.asInstanceOf[SwitchableTableIO].set(b)
    clearPathMemos()
    // an explicit programmatic switch releases the catalog-config latch:
    // the caller changed the store deliberately (specs interpose and
    // restore backends this way), so a later catalog initialize may
    // re-declare the binding rather than refuse against a stale kind
    graft.sql.GraftCatalog.resetIoLatch()
  }

  def backend: TableIO = io.asInstanceOf[SwitchableTableIO].current
}
