package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import org.apache.spark.sql.graft.{StreamingDf, Workspace}

import graft.sinks.VersionedTable

/** A [[graft.sinks.VersionedTable]] as a Structured Streaming SOURCE —
  * `spark.readStream.format("graft-table").load(dir)` tails the table's
  * manifest log, turning a landed table into the head of a downstream
  * incremental pipeline (land → derive → land, each hop exactly-once when
  * the sink is `commitOnce` / [[graft.streaming.VersionedStream]]).
  *
  * Offsets ARE table versions: micro-batch (start, end] reads exactly the
  * files appended between manifest `start` and manifest `end` — the same
  * `readChanges` contract the batch maintainers use, planned as a plain
  * parquet scan of those files (full pushdown/pruning, no custom row
  * reader). Tailing the MANIFEST log — not the directory — is the point:
  * a file-stream source would see uncommitted batch directories, crash
  * debris, and constraint-rejected files; this source sees only what a
  * manifest published.
  *
  * The first batch of a fresh query is the whole snapshot at the admitted
  * head (the landed history is data too); `startingVersion` narrows it to
  * `>= that version's appends` for tail-only consumers. Non-append source
  * history in a consumed range (overwrite, rollback, row deletes,
  * compaction) fails the query LOUDLY via `readChanges` — silently
  * re-emitting rewritten rows would corrupt every downstream aggregate;
  * restart from a fresh checkpoint (or a `startingVersion` past the
  * rewrite) after reconciling downstream. `maxVersionsPerTrigger` caps
  * admission per trigger — including the first: a capped catch-up reads
  * the snapshot AT the first admitted version, then tails deltas, so the
  * union over batches is exactly the table regardless of the cap.
  *
  * **Schema-change restart recipe** (the operational half of the loud
  * re-type failure in `conform`): when a pinned column changes TYPE
  * upstream, the query dies by design — silent casts corrupt downstream
  * state. To resume: (1) recover the last fully-consumed source version
  * from the dead checkpoint with [[TableStreamSource.lastCommittedVersion]];
  * (2) restart with a FRESH checkpoint and `startingVersion` = that
  * version + 1 — the consumed prefix is never re-served, so nothing can
  * double-land; (3) give the restarted query a NEW sink txn namespace
  * (queryName) — a fresh checkpoint resets micro-batch ids to 0, so
  * reusing the old name collides with the destination ledger's landed
  * `queryName:batchId` txns and the first new batches silently no-op
  * (the ledger cannot tell a renamed batch from a replayed one); (4)
  * renegotiate the schema explicitly in the hop — cast the re-typed
  * column back to the destination's type (or migrate the destination)
  * so one table never accumulates mixed physical types. Exactly-once
  * holds across the restart: the prefix is guarded by `startingVersion`,
  * the suffix by the destination's txn ledger under the new namespace.
  * Spec'd end-to-end in TableStreamSpec ("restart renegotiation").
  *
  * V1 `Source` is the right seam here (it is how Spark's own file stream
  * and the open lake formats expose log-tailing sources): `getBatch`
  * returns a DataFrame over exactly the committed files, which DSv2's
  * row-level `PartitionReader` contract cannot express without
  * re-implementing the parquet reader.
  */
class TableStreamSource extends StreamSourceProvider with StreamSinkProvider
    with DataSourceRegister {
  override def shortName(): String = "graft-table"

  /** The SINK half of the format — `stream.writeStream
    * .format("graft-table").start(dir)` lands every micro-batch as one
    * atomic exactly-once snapshot commit, carrying the transaction
    * ledger INSIDE the engine ([[VersionedTable.commitOnce]]) so the
    * foreachBatch + [[graft.streaming.VersionedStream]] recipe's
    * single-writer caveat moves out of user code entirely.
    *
    * Txn namespace: `option("txn", ...)` when given, else the query's
    * CHECKPOINT LOCATION — which makes the schema-change restart recipe
    * one step shorter by construction: a fresh checkpoint (whose batch
    * ids restart at 0) automatically lands under a fresh namespace, so
    * the old ledger can never swallow the new query's first batches.
    *
    * Output modes: Append lands each batch as a snapshot append;
    * Complete REPLACES the head per batch (a streaming aggregate
    * maintaining a whole result table — the logical-overwrite commit);
    * Update needs `option("mergeKey", k)` — each batch is a keyed
    * changelog MERGED into the table as one file-scoped copy-on-write
    * commit ([[graft.sinks.VersionedTable.mergeChanges]]), with
    * `option("opColumn", c)` naming the `"u"`/`"d"` column (absent =
    * all rows upserts) and `option("orderColumn", c)` folding
    * multi-change batches to last-change-per-key before the merge's
    * unique-key gate. Update WITHOUT a mergeKey refuses loudly (a
    * blind append would duplicate keys).
    * Explicit partitionBy refuses: layout is the TABLE's declared
    * (hidden) partitioning, applied by every commit already. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "graft-table sink: use the table's declared (hidden) partitioning, " +
        "not partitionBy — every commit clusters by it automatically")
    val p = parameters.map {
      case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v
    }
    val mergeKey = p.get("mergekey")
    require(outputMode != OutputMode.Update() || mergeKey.isDefined,
      "graft-table sink in Update mode needs option(\"mergeKey\", ...): " +
        "each batch is a keyed changelog merged into the table (a blind " +
        "append would duplicate keys)")
    require(mergeKey.isEmpty || outputMode == OutputMode.Update(),
      "option(\"mergeKey\") is the Update-mode contract; Append appends " +
        "snapshots and Complete overwrites — neither merges by key")
    val dir = dirOf(parameters)
    val txn = p.get("txn").orElse(p.get("checkpointlocation")).getOrElse(
      throw new IllegalArgumentException(
        "graft-table sink needs a transaction namespace: set " +
          "option(\"txn\", ...) or a checkpointLocation"))
    mergeKey match {
      case Some(k) =>
        new TableMergeSink(dir, txn, k, p.get("opcolumn"),
          p.get("ordercolumn"))
      case None =>
        new TableVersionSink(dir, txn,
          append = outputMode != OutputMode.Complete())
    }
  }

  private def dirOf(parameters: Map[String, String]): String = {
    val p = parameters.map {
      case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v
    }
    val dir = p.getOrElse("path", throw new IllegalArgumentException(
      "graft-table needs a table directory: .load(dir) or option(\"path\", dir)"))
    // a branch is a full table lineage of its own; streaming it is just
    // tailing the branch directory's manifest log (validated: a retired
    // or misspelled branch fails loudly, never an empty stream)
    p.get("branch").map(VersionedTable.resolveBranch(dir, _)).getOrElse(dir)
  }

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    ("graft-table", schema.getOrElse(
      TableStreamSource.pinnedSchema(sqlContext.sparkSession,
        dirOf(parameters), parameters.map {
          case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v
        })))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    new TableVersionSource(sqlContext, dirOf(parameters),
      parameters.map { case (k, v) =>
        k.toLowerCase(java.util.Locale.ROOT) -> v
      })
}

object TableStreamSource {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.execution.streaming.checkpointing.{CommitLog, OffsetSeqLog}

  /** The query's pinned schema: the vintage at `startingVersion` for a
    * tail consumer, else the OLDEST retained vintage — i.e. the schema
    * of the first data the query will serve, resolved deterministically
    * ([[graft.sinks.VersionedTable.vintageSchema]]). Whole-table parquet
    * inference is footer-order-dependent the moment a column was
    * re-typed, which made the loud mid-stream failure (and the restart
    * recipe that follows it) nondeterministic. A fresh consumer that
    * wants an EVOLVED head schema pins it by setting `startingVersion`
    * past the evolution point. */
  private[sources] def pinnedSchema(spark: SparkSession, dir: String,
      params: Map[String, String]): StructType = {
    val sv = resolveStartingVersion(dir, params)
    val anchor =
      if (sv > 1) math.min(sv,
        VersionedTable.versions(dir).lastOption.getOrElse(sv))
      else VersionedTable.versions(dir).headOption.getOrElse(
        throw new IllegalArgumentException(s"no committed version at $dir"))
    val base = VersionedTable.vintageSchema(spark, dir, anchor)
    if (changeFeedMode(params)) {
      // the feed APPENDS its metadata columns; a table that already
      // carries one (e.g. a CDC landing whose rows store their own `op`)
      // would get a duplicate field that tagInserts silently overwrites —
      // refuse loudly instead (read the plain stream, or rename)
      val reserved = cdfColumns.map(_.name.toLowerCase).toSet
      val clash = base.fieldNames.filter(n => reserved(n.toLowerCase))
      require(clash.isEmpty,
        s"readChangeFeed reserves column(s) ${clash.mkString(", ")} for " +
          s"change metadata, and the table at $dir already carries them; " +
          "rename the column(s) or consume the plain table stream")
      StructType(base.fields.toSeq ++ cdfColumns)
    } else base
  }

  /** The change-feed rows ride the table's columns plus the change
    * metadata: `op` ([[graft.sinks.VersionedTable.changeFeed]]'s
    * `i`/`u`/`d` alphabet — `i`/`u` carry the AFTER image, `d` the
    * BEFORE image) and `_commit_version` (the table version whose
    * transition produced the row — the stream's provenance column, and
    * the replay anchor: a row's identity is (key, op, version), so a
    * redelivered micro-batch re-serves exactly the same rows). */
  private[graft] val cdfColumns: Seq[org.apache.spark.sql.types.StructField] =
    Seq(org.apache.spark.sql.types.StructField("op",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("_commit_version",
          org.apache.spark.sql.types.LongType, nullable = true))

  private[sources] def changeFeedMode(params: Map[String, String]): Boolean =
    params.get("readchangefeed").exists(_.trim.equalsIgnoreCase("true"))

  /** Default per-trigger version cap in change-feed mode (see the
    * admission note in latestOffset) — overridable either way with an
    * explicit `maxVersionsPerTrigger`. */
  private[sources] val CdfDefaultVersionsPerTrigger = 64

  /** `startingVersion`, or `startingTimestamp` resolved to the first
    * version committed at or after the instant (epoch millis or an ISO
    * instant string) — a timestamp past every retained commit starts
    * tail-only at head+1. The two options together refuse: they could
    * disagree and one would silently win. */
  private[sources] def resolveStartingVersion(
      dir: String, params: Map[String, String]): Int = {
    val sv = params.get("startingversion").map(_.toInt)
    val st = params.get("startingtimestamp").map { s =>
      val ms = s.toLongOption.getOrElse(
        java.time.Instant.parse(s).toEpochMilli)
      VersionedTable.versionAtOrAfter(dir, ms).getOrElse(
        VersionedTable.versions(dir).lastOption.getOrElse(0) + 1)
    }
    require(sv.isEmpty || st.isEmpty,
      "set startingVersion OR startingTimestamp, not both")
    sv.orElse(st).getOrElse(1)
  }

  /** The keyed change-data feed for the version range `(base, endV]` —
    * the shared core the STREAMING source (cdfBatch) and the SQL
    * `#cdf=A..B` read fragment both serve, so the two doors provably
    * compute the same feed: the union of PER-VERSION-TRANSITION diffs
    * (a consumer sees every intermediate state change, not one net diff),
    * each transition replay-deterministic between two PINNED snapshots.
    * A transition whose predecessor was expired serves its whole
    * snapshot as `i` rows; a pure-append transition serves its appended
    * files directly (O(delta), no diff); only a genuinely rewriting
    * transition pays the keyed diff.
    *
    * `fresh = false` (a pinned range, or a checkpointed offset) REFUSES
    * when `base` has been expired: the gap's deletes/updates are
    * unrecoverable, and quietly re-serving the first retained snapshot
    * as inserts would diverge a replica forever. A FRESH consumer
    * (`fresh = true`) legally catches up snapshot-as-inserts. */
  private[graft] def cdfSlice(spark: SparkSession, dir: String,
      changeKey: String, base: Int, endV: Int,
      fresh: Boolean): DataFrame = {
    val vs = VersionedTable.versions(dir)
    require(fresh || base == 0 || vs.headOption.forall(base >= _),
      s"change-feed start v$base of $dir has been expired (oldest " +
        s"retained: v${vs.headOption.getOrElse(0)}): deletes between " +
        "them are unrecoverable. Re-sync the consumer from a fresh " +
        "snapshot (a range starting at 0 serves it as inserts).")
    val targets = vs.filter(v => v > base && v <= endV)
    if (targets.isEmpty) {
      val anchor = if (endV > 0 && vs.contains(endV)) endV else vs.head
      tagInserts(VersionedTable.read(spark, dir, Some(anchor)).limit(0), 0)
    }
    // allowMissingColumns: transitions on either side of an ADD COLUMN
    // boundary carry different vintage schemas; the streaming side
    // conforms to its pinned schema afterward, the SQL side serves the
    // union shape (missing members as nulls)
    else {
      // Plan-size discipline: one union leg PER TRANSITION would grow
      // the plan linearly in the pinned range (the reference's own
      // 2-minute landing cadence makes a day 720 transitions — a month
      // would brick the analyzer), so consecutive pure-append
      // transitions COLLAPSE into one scan leg: appended files are
      // disjoint per transition and carry no delete debt
      // (changedFiles' precondition), so a single multi-file read with
      // `_commit_version` looked up from the manifest's file→version
      // map serves exactly the rows the per-transition legs did. Legs
      // end up O(rewriting transitions + append runs), and the
      // rewriting count is CAPPED — each rewrite leg is a keyed
      // snapshot diff, and an uncapped range of them is a planner
      // bomb no collapse can fix.
      val legs = collectLegs(dir, targets, predecessorMap(vs))
      val rewrites = legs.count(_.isInstanceOf[RewriteLeg])
      require(rewrites <= CdfMaxRewritesPerRange,
        s"'#cdf=$base..$endV' of $dir spans $rewrites rewriting " +
          s"transitions (cap $CdfMaxRewritesPerRange): each one plans a " +
          "keyed snapshot diff, and this many in one statement is a " +
          "planner-breaking union. Chunk the range ('#cdf=A..M' then " +
          "'#cdf=M..B') or consume the streaming change feed " +
          "(readChangeFeed), which self-paces at " +
          s"$CdfDefaultVersionsPerTrigger transitions per trigger.")
      legs.map {
        case SnapshotLeg(v) =>
          tagInserts(VersionedTable.read(spark, dir, Some(v)), v)
        case RewriteLeg(v) =>
          cdfTransition(spark, dir, changeKey, v, vs)
        case AppendRunLeg(run) if run.size == 1 =>
          cdfTransition(spark, dir, changeKey, run.head, vs)
        case AppendRunLeg(run) =>
          appendRunLeg(spark, dir, changeKey, run, vs)
      }.reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** Hard ceiling on rewriting transitions a single `#cdf=` range may
    * plan — equal to the streaming door's per-trigger version cap, so a
    * feed the stream can serve in one micro-batch is always plannable
    * from SQL too. Private behind [[withCdfMaxRewrites]] so the refusal
    * path is testable without 65 real rewrite commits. */
  private var CdfMaxRewritesVar = 64
  private[graft] def CdfMaxRewritesPerRange: Int = CdfMaxRewritesVar

  /** Run `f` with the rewrite cap lowered, restoring — the only
    * sanctioned way to mutate [[CdfMaxRewritesPerRange]]. */
  private[sources] def withCdfMaxRewrites[T](n: Int)(f: => T): T =
    synchronized {
      val prev = CdfMaxRewritesVar
      CdfMaxRewritesVar = n
      try f finally CdfMaxRewritesVar = prev
    }

  private sealed trait CdfLeg
  private case class SnapshotLeg(v: Int) extends CdfLeg
  private case class AppendRunLeg(run: Vector[Int]) extends CdfLeg
  private case class RewriteLeg(v: Int) extends CdfLeg

  /** Footer-schema probes paid by [[appendRunLeg]] — the spec seam that
    * pins "a declared table's append run opens ZERO files at planning":
    * only the undeclared Scala-door fallback increments. */
  private[graft] val vintageProbes =
    new java.util.concurrent.atomic.AtomicLong

  /** version → its predecessor in the lineage, built ONCE per slice —
    * the per-target `takeWhile` scan it replaces was O(range²) driver
    * integer work (harmless at the rewrite cap, pointless all the
    * same). `vs` is the sorted version list. */
  private def predecessorMap(vs: Seq[Int]): Map[Int, Option[Int]] =
    vs.zip(None +: vs.map(Some(_))).toMap

  private def collectLegs(dir: String, targets: Seq[Int],
                          prevOf: Map[Int, Option[Int]]): Seq[CdfLeg] = {
    val legs = scala.collection.mutable.ArrayBuffer.empty[CdfLeg]
    targets.foreach { v =>
      prevOf(v) match {
        case None => legs += SnapshotLeg(v)
        case Some(p) if VersionedTable.isPureAppend(dir, p, v) =>
          legs.lastOption match {
            case Some(AppendRunLeg(run)) =>
              legs(legs.size - 1) = AppendRunLeg(run :+ v)
            case _ => legs += AppendRunLeg(Vector(v))
          }
        case Some(_) => legs += RewriteLeg(v)
      }
    }
    legs.toSeq
  }

  /** One scan leg for a RUN of consecutive pure-append transitions.
    * `_commit_version` is per FILE (a file lands in exactly one
    * transition), derived from the manifest lineage and attached by a
    * broadcast hash join on the normalized `input_file_name()` — O(1)
    * per row and codegen-resident, where a map-literal `element_at`
    * would scan the whole literal per row. The read schema: a DECLARED
    * table pins its nullability-relaxed declared physical schema
    * ([[VersionedTable.declPhysOf]]) — ZERO file opens, and the only
    * schema that is sound over a MULTI-commit file set (the a43738c
    * lesson: footer inference is per-commit; the run's widened members
    * read narrow per-file fine, later-added members serve typed nulls).
    * An undeclared Scala-door table keeps the per-transition footer
    * probe ([[vintageProbes]] counts them — the spec seam for "zero
    * probes on a declared run") folded with the engine's own widening
    * rules: parquet's `mergeSchema` refuses int→long across an ALTER
    * COLUMN TYPE boundary, while an explicit widened schema reads
    * narrow per-file members fine (probed, round 11). A fold the rules
    * can't bridge falls back to per-transition legs for this run —
    * correctness first, the collapsed plan is an optimization. */
  private def appendRunLeg(spark: SparkSession, dir: String,
      changeKey: String, run: Seq[Int], vs: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.functions._
    val prev = predecessorMap(vs)
    val filesByV: Seq[(Int, Seq[String])] = run.map { v =>
      v -> VersionedTable.changedFiles(dir, prev(v).get, v)
    }
    val fileToV = filesByV.flatMap { case (v, fs) => fs.map(_ -> v.toLong) }
    if (fileToV.isEmpty) // a run of metadata-only commits: no rows
      return tagInserts(
        VersionedTable.read(spark, dir, Some(run.last)).limit(0), run.last)
    val merged: Option[org.apache.spark.sql.types.StructType] =
      VersionedTable.declPhysOf(dir).orElse {
        val vintages = filesByV.filter(_._2.nonEmpty)
          .map { case (_, fs) =>
            vintageProbes.incrementAndGet()
            spark.read.parquet(fs: _*).schema
          }
        vintages.tail
          .foldLeft(
            Option(vintages.head: org.apache.spark.sql.types.DataType)) {
            (acc, s) => acc.flatMap(a => widenMerge(a, s))
          }.collect { case s: org.apache.spark.sql.types.StructType => s }
      }
    merged match {
      case None => // unbridgeable vintage mix: per-transition legs
        run.map(v => cdfTransition(spark, dir, changeKey, v, vs))
          .reduce(_.unionByName(_, allowMissingColumns = true))
      case Some(schema) =>
        val files = fileToV.map(_._1)
        val mapDf = spark.createDataFrame(
          spark.sparkContext.parallelize(
            fileToV.map { case (f, v) => org.apache.spark.sql.Row(f, v) },
            1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("__cdf_file",
              org.apache.spark.sql.types.StringType, nullable = false),
            org.apache.spark.sql.types.StructField("_commit_version",
              org.apache.spark.sql.types.LongType, nullable = false))))
        spark.read.schema(schema).parquet(files: _*)
          .withColumn("__cdf_file",
            regexp_replace(input_file_name(), "^file:(//)?", ""))
          .join(broadcast(mapDf), Seq("__cdf_file"), "left")
          .drop("__cdf_file")
          .withColumn("_commit_version",
            coalesce(col("_commit_version"), raise_error(lit(
              "cdf append-run file→version lookup missed — " +
                "input_file_name normalization drifted from the " +
                "manifest path form"))))
          .withColumn("op", lit("i"))
    }
  }

  /** Schema union with the engine's safe widenings (byte→short→int→long,
    * float→double), recursive through structs/arrays/maps; fields
    * present on one side only join as nullable (they read as nulls from
    * the other side's files). None = the vintages need more than
    * widening — the caller falls back rather than guessing. */
  private def widenMerge(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    (a, b) match {
      case (x, y) if x == y => Some(x)
      case (x: StructType, y: StructType) =>
        val yByName = y.fields.map(f => f.name -> f).toMap
        val fromX = x.fields.map { xf =>
          yByName.get(xf.name) match {
            case None => Some(xf.copy(nullable = true))
            case Some(yf) => widenMerge(xf.dataType, yf.dataType)
              .map(t => StructField(xf.name, t, nullable = true))
          }
        }
        val extraY = y.fields.filterNot(f => x.fieldNames.contains(f.name))
          .map(f => Option(f.copy(nullable = true)))
        val all = fromX ++ extraY
        if (all.exists(_.isEmpty)) None
        else Some(StructType(all.flatten.toIndexedSeq))
      case (ArrayType(xe, xn), ArrayType(ye, yn)) =>
        widenMerge(xe, ye).map(ArrayType(_, xn || yn))
      case (MapType(xk, xv, xn), MapType(yk, yv, yn)) =>
        for { k <- widenMerge(xk, yk); v <- widenMerge(xv, yv) }
          yield MapType(k, v, xn || yn)
      case (FloatType, DoubleType) | (DoubleType, FloatType) =>
        Some(DoubleType)
      case (x, y) =>
        val rank = Seq[DataType](ByteType, ShortType, IntegerType, LongType)
        (rank.indexOf(x), rank.indexOf(y)) match {
          case (i, j) if i >= 0 && j >= 0 => Some(rank(math.max(i, j)))
          case _ => None
        }
    }
  }

  private def cdfTransition(spark: SparkSession, dir: String,
      changeKey: String, v: Int, vs: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.functions.lit
    vs.takeWhile(_ < v).lastOption match {
      case None =>
        tagInserts(VersionedTable.read(spark, dir, Some(v)), v)
      case Some(p) if VersionedTable.isPureAppend(dir, p, v) =>
        tagInserts(VersionedTable.readChanges(spark, dir, p, v), v)
      case Some(p) =>
        VersionedTable.changeFeed(spark, dir, changeKey, p, v)
          .withColumn("_commit_version", lit(v.toLong))
    }
  }

  private def tagInserts(df: org.apache.spark.sql.DataFrame,
                         v: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.lit
    df.withColumn("op", lit("i"))
      .withColumn("_commit_version", lit(v.toLong))
  }

  /** The last source version a dead query FULLY consumed, recovered from
    * its checkpoint — the anchor for the schema-change restart recipe
    * (`startingVersion` = this + 1 on a fresh checkpoint). Reads Spark's
    * own logs: the newest entry in `commits/` names the last completed
    * micro-batch (offsets are written BEFORE a batch runs, so the bare
    * offsets log over-counts a batch that died mid-flight); that batch's
    * entry in `offsets/` carries this source's offset, which IS the table
    * version. None = the query never completed a batch (restart plain).
    */
  def lastCommittedVersion(spark: SparkSession,
                           checkpoint: String): Option[Long] = {
    val commits = new CommitLog(spark, s"$checkpoint/commits")
    val offsets = new OffsetSeqLog(spark, s"$checkpoint/offsets")
    commits.getLatest().flatMap { case (batchId, _) =>
      offsets.get(batchId)
        .flatMap(_.offsets.headOption.flatten)
        .map(_.json().trim.toLong)
    }
  }
}

/** The exactly-once streaming sink: one micro-batch = one atomic
  * [[VersionedTable.commitOnce]] under `txnNamespace:batchId`. A batch
  * redelivered after a crash between the data commit and Spark's offset
  * commit finds its txn already in the manifest ledger and no-ops — the
  * manifest publish IS the replay marker, so there is no window in
  * which a replay double-lands. */
private[sources] class TableVersionSink(dir: String, txnNamespace: String,
    append: Boolean) extends Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the incoming frame is the incremental execution's plan; run it once
    // and re-wrap as a batch frame (ForeachBatchSink's discipline) so the
    // engine's own parquet write can re-plan it
    val batch = org.apache.spark.sql.graft.PlanDf.asBatch(data)
    VersionedTable.commitOnce(batch, dir, s"$txnNamespace:$batchId",
      append = append)
    ()
  }
  override def toString: String = s"TableVersionSink[$dir]"
}

/** The Update-mode (CDC upsert) sink: one micro-batch = one keyed
  * [[VersionedTable.mergeChanges]] commit under `txnNamespace:batchId`,
  * rewriting ONLY the files containing an affected key. Replays no-op
  * through the same manifest ledger as the append sink. The first batch
  * on a table with no committed version bootstraps it: after the fold,
  * surviving upserts ARE the table (and a delete for a key that never
  * existed is a no-op), so the batch lands as a plain exactly-once
  * commit. */
private[sources] class TableMergeSink(dir: String, txnNamespace: String,
    key: String, opCol: Option[String], orderCol: Option[String])
    extends Sink {
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions.{coalesce, col, lit, row_number}

  /** Last change per key by `orderCol` (deletes last on ties when an op
    * column exists — deterministic under equal stamps). One bounded
    * window over the BATCH, never the table. */
  private def fold(batch: DataFrame): DataFrame = orderCol match {
    case None => batch
    case Some(oc) =>
      val w = opCol match {
        case Some(o) => Window.partitionBy(col(key))
          .orderBy(col(oc).desc, col(o).asc)
        case None => Window.partitionBy(col(key)).orderBy(col(oc).desc)
      }
      batch.withColumn("__rank", row_number().over(w))
        .filter(col("__rank") === 1).drop("__rank", oc)
  }

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = data.sparkSession
    val batch = fold(org.apache.spark.sql.graft.PlanDf.asBatch(data))
    val txn = s"$txnNamespace:$batchId"
    (opCol, VersionedTable.versions(dir).isEmpty) match {
      case (Some(o), false) =>
        VersionedTable.mergeChanges(spark, dir, batch, key, o, Some(txn))
      case (None, false) =>
        VersionedTable.merge(spark, dir, batch, key, Some(txn))
      case (o, true) =>
        // bootstrap: no table yet — the folded upserts are the table
        val rows = o.map(c => batch
          .filter(coalesce(col(c) =!= lit("d"), lit(true))).drop(c))
          .getOrElse(batch)
        VersionedTable.commitOnce(rows, dir, txn)
    }
    ()
  }
  override def toString: String = s"TableMergeSink[$dir by $key]"
}

/** A table version as a streaming offset. */
private[sources] case class TableVersionOffset(v: Long) extends OffsetV1 {
  override def json(): String = v.toString
}

private[sources] class TableVersionSource(sqlContext: SQLContext,
    dir: String, params: Map[String, String]) extends Source
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val spark = sqlContext.sparkSession
  private val ops = VersionedTable

  private val startingVersion: Int =
    TableStreamSource.resolveStartingVersion(dir, params)
  private val maxVersionsPerTrigger: Option[Int] =
    params.get("maxversionspertrigger").map { s =>
      val m = s.toInt
      require(m > 0, s"maxVersionsPerTrigger must be positive, got $m")
      m
    }
  private val maxRowsPerTrigger: Option[Long] =
    params.get("maxrowspertrigger").map { s =>
      val m = s.toLong
      require(m > 0, s"maxRowsPerTrigger must be positive, got $m")
      m
    }

  /** Change-data-feed mode (`option("readChangeFeed", "true")`): instead
    * of refusing non-append lineage, each micro-batch serves the KEYED
    * i/u/d diff per version transition in its admitted range — which
    * makes a table maintained by MERGE/UPDATE/DELETE/compaction (the
    * engine's whole mutation surface) streamable. Offsets remain table
    * versions. Requires `option("changeKey", k)`: the diff is keyed
    * ([[VersionedTable.changeFeed]]'s unique-key contract), and the key
    * is what a downstream [[VersionedTable.mergeChanges]] folds by.
    * Cost shape: a pure-append transition serves its appended files
    * directly as `i` rows (O(delta), no diff); only a genuinely
    * rewriting transition pays the keyed snapshot diff — whose shuffle
    * is (key, hash), width-independent, with payloads fetched
    * churn-proportionally. */
  private val changeFeedMode: Boolean =
    TableStreamSource.changeFeedMode(params)
  private val changeKey: Option[String] = params.get("changekey")
  require(!changeFeedMode || changeKey.nonEmpty,
    "readChangeFeed needs option(\"changeKey\", k): the change feed is a " +
      "keyed diff, and the key is what a downstream merge folds by")
  require(changeKey.isEmpty || changeFeedMode,
    "option(\"changeKey\") is the readChangeFeed contract; a plain table " +
      "stream has no diff to key")

  override val schema: StructType =
    TableStreamSource.pinnedSchema(spark, dir, params)

  for (k <- changeKey) {
    // validate against the BASE table columns, not the CDF-appended
    // schema: `op`/`_commit_version` are feed metadata, and keying the
    // diff by them would pass here only to fail deep inside changeFeed
    // with an unrelated resolution error
    val reserved = TableStreamSource.cdfColumns.map(_.name.toLowerCase).toSet
    require(!reserved(k.toLowerCase),
      s"changeKey '$k' is a reserved change-feed metadata column; key " +
        "the diff by a column of the table itself")
    val base = schema.fields.filterNot(f => reserved(f.name.toLowerCase))
    require(base.exists(_.name.equalsIgnoreCase(k)),
      s"changeKey '$k' is not a column of $dir " +
        s"(have: ${base.map(_.name).mkString(", ")})")
  }

  /** Any offset back to a version: live offsets are ours, restored ones
    * arrive as SerializedOffset (V1) / raw json (admission path). */
  private def versionOf(o: OffsetV2): Long = o match {
    case TableVersionOffset(v) => v
    case other => other.json().trim.toLong
  }

  /** Version 0 = nothing consumed (manifests start at 1). */
  override def initialOffset(): OffsetV2 = TableVersionOffset(0L)
  override def deserializeOffset(json: String): OffsetV2 =
    TableVersionOffset(json.trim.toLong)

  /** AvailableNow pins the drain target at query start — each trigger
    * still admits at most `maxVersionsPerTrigger`, so a capped drain runs
    * SEVERAL micro-batches until the pinned head is reached (the file
    * source's semantics), instead of stopping after one capped batch. */
  @volatile private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget =
      Some(ops.versions(dir).lastOption.map(_.toLong).getOrElse(0L))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** The admission decision: from the engine-supplied consumed base,
    * admit up to the head, capped by the per-trigger rate and the
    * AvailableNow target. Version-granular — engine row limits don't
    * subdivide a manifest (a version is the atomic replay unit). */
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    // the V1 admission path passes null before anything is consumed
    val base = Option(start).map(versionOf).getOrElse(0L)
    val head = ops.versions(dir).lastOption.map(_.toLong).getOrElse(0L)
    // change-feed catch-up self-caps: every admitted version transition
    // contributes its own diff subtree (joins included) to ONE micro-
    // batch plan, so an uncapped first batch over hundreds of retained
    // mutation versions would build hundreds of joins in one DAG.
    // Bounded admission keeps plans flat; AvailableNow drains loop until
    // the pinned head regardless, and an explicit maxVersionsPerTrigger
    // still overrides in either direction.
    val effectiveCap = maxVersionsPerTrigger
      .orElse(if (changeFeedMode)
        Some(TableStreamSource.CdfDefaultVersionsPerTrigger) else None)
    val rated = effectiveCap.fold(head)(m =>
      math.min(head, base + m))
    // row-based admission from the O(1) `#rows` sidecar headers: admit
    // versions while the cumulative appended-row delta fits the cap,
    // always at least one (progress guarantee — a version is the atomic
    // replay unit, so a giant landing admits alone and overshoots the
    // cap rather than subdividing). A version without a recorded header
    // (pre-upgrade) admits alone and stops the extension — the cap is
    // honored conservatively, never guessed.
    val rowCapped = maxRowsPerTrigger.fold(rated) { cap =>
      var admitted = base
      var rows = 0L
      var stop = false
      var prevTotal: Option[Long] =
        if (base == 0) Some(0L)
        else ops.rowsHeaderOf(dir, base.toInt).map(_._1)
      for (v <- ops.versions(dir) if !stop && v > base && v <= rated) {
        val cur = ops.rowsHeaderOf(dir, v).map(_._1)
        (for (c <- cur; p <- prevTotal) yield c - p) match {
          case Some(d) if admitted == base || rows + math.max(d, 0L) <= cap =>
            rows += math.max(d, 0L); admitted = v; prevTotal = cur
          case None if admitted == base =>
            admitted = v; stop = true
          case _ => stop = true
        }
      }
      admitted
    }
    val admitted = availableNowTarget.fold(rowCapped)(t =>
      math.min(rowCapped, math.max(t, base)))
    TableVersionOffset(math.max(admitted, base))
  }

  /** Engine uses the admission path above; this is the plain-V1 fallback
    * (uncapped head), kept total rather than throwing. */
  override def getOffset: Option[OffsetV1] =
    ops.versions(dir).lastOption.map(v => TableVersionOffset(v.toLong))

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endV = versionOf(end).toInt
    // version 0 (initialOffset) and an absent start both mean "fresh"
    val sV = start.map(versionOf(_).toInt).getOrElse(0)
    // the diff has joins inside: serve it as ONE streaming leaf, or the
    // incremental planner would re-plan them as stateful stream-stream
    // joins (see StreamingDf.asStreamingLeaf)
    if (changeFeedMode)
      return StreamingDf.asStreamingLeaf(conform(cdfBatch(sV, endV)))
    val batch =
      if (sV >= endV) ops.read(spark, dir, Some(endV)).limit(0)
      else if (sV > 0) ops.readChanges(spark, dir, sV, endV)
      else if (startingVersion <= 1)
        ops.read(spark, dir, Some(endV)) // the catch-up snapshot
      else if (startingVersion == endV + 1)
        // tail-only anchor exactly past the admitted head (the restart
        // recipe's consumed-everything case, or a startingTimestamp
        // after every retained commit): nothing yet, not an error
        ops.read(spark, dir, Some(endV)).limit(0)
      else {
        require(startingVersion <= endV,
          s"startingVersion $startingVersion is beyond the admitted head " +
            s"$endV of $dir")
        ops.readChanges(spark, dir, startingVersion - 1, endV)
      }
    StreamingDf.asStreaming(conform(batch))
  }

  /** The change-feed micro-batch for the admitted range `(sV, endV]`:
    * the union of PER-VERSION-TRANSITION diffs, so a consumer sees every
    * intermediate state change (not one net diff across the range — a
    * key inserted at v5 and deleted at v7 must emit both, or a
    * downstream audit/replication consumer silently loses history).
    * Replay-deterministic: every transition diffs two PINNED snapshots,
    * so a redelivered batch re-serves byte-identical rows.
    *
    * A transition whose predecessor was expired (including the first
    * retained version) serves its whole snapshot as `i` rows — the
    * landed history is data, exactly the plain stream's catch-up
    * semantics. A pure-append transition serves its appended files
    * directly (O(delta), no diff). Only a genuinely rewriting
    * transition pays the keyed diff. */
  /** A CHECKPOINTED consumer whose offset version has been expired must
    * refuse (the shared [[TableStreamSource.cdfSlice]] refusal): the
    * gap's deletes/updates are unrecoverable, and quietly re-serving the
    * first retained snapshot as `i` rows would diverge a replica forever
    * (keys deleted in the gap come back). A FRESH consumer is different —
    * snapshot-as-inserts converges an empty replica, so catch-up stays
    * legal there. The streaming side then `conform`s each batch to the
    * query's pinned schema. */
  private def cdfBatch(sV: Int, endV: Int): DataFrame =
    TableStreamSource.cdfSlice(spark, dir, changeKey.get,
      base = if (sV > 0) sV else startingVersion - 1, endV = endV,
      fresh = sV == 0)

  /** Schema conformance per micro-batch — every batch is served AT the
    * query's pinned schema, the explicit-schema read discipline of
    * [[graft.sinks.SchemaEvolution]]: extra columns (a wider vintage, or
    * an old batch replayed under a newer pinned schema) are projected
    * away; a pinned column a batch's files don't carry reads as typed
    * NULLs (add/drop-column evolution — exactly how a pinned batch read
    * of mixed vintages resolves it); a column present at a DIFFERENT
    * type fails loudly — a silent cast can corrupt downstream state,
    * and the consumer must restart to renegotiate the schema. */
  private def conform(batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val got = batch.schema.map(f => f.name -> f.dataType).toMap
    val retyped = schema.filter(f =>
      got.get(f.name).exists(_ != f.dataType))
    require(retyped.isEmpty,
      s"table $dir changed schema mid-stream: column(s) " +
        s"${retyped.map(_.name).mkString(", ")} no longer carry their " +
        s"pinned type; restart the query from a fresh checkpoint to pick " +
        s"up the new schema")
    if (batch.schema == schema) batch
    else batch.select(schema.map { f =>
      if (got.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  override def commit(end: OffsetV1): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"TableVersionSource[$dir]"
}

/** Driver-gate query for the table stream. */
object TableStream {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.streaming.Trigger

  import graft.analytics.Parity
  import graft.streaming.VersionedStream

  /** Land one micro-batch and return its exact row count, riding the
    * landing's OWN write execution as an `observe` metric — the former
    * `b.isEmpty` probe was one extra Spark job (and one extra query
    * plan) per micro-batch, pure §5 double execution; and because the
    * landing is exactly-once, the SUM of these counts IS the
    * destination's row count, which retires the post-stream
    * `landed.count()` re-scan too. The count is exact (CollectMetrics
    * sees every row the write sees). Safe here because each query
    * invocation streams into a fresh checkpoint/destination, so
    * `commitOnce` never short-circuits on a replayed txn (in which case
    * no action would run and the metric would never resolve). */
  private def landCounted(b: org.apache.spark.sql.DataFrame, dst: String,
                          queryName: String, batchId: Long): Long = {
    val obs = org.apache.spark.sql.Observation(
      s"${queryName}_b${batchId}_${java.util.UUID.randomUUID}")
    VersionedStream.landBatch(b.observe(obs, count(lit(1)).as("n")),
      dst, queryName, batchId)
    obs.get("n").asInstanceOf[Long]
  }

  /** q_table_stream — the table→table streaming hop under the oracle
    * gate: the events table lands in a source VersionedTable as two
    * commits, a `graft-table` stream (capped at one version per trigger)
    * tails it through a [[VersionedStream]] exactly-once sink into a
    * destination table, and the DESTINATION is aggregated for the hash
    * match. The requires pin the capped drain shape (two non-empty
    * micro-batches — snapshot at v1, then the v2 delta) and that the
    * destination holds exactly one row per source row (no duplicate or
    * dropped landings across the hop). */
  def qTableStream(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val tmp = Workspace.dir("graft_tstream_")
    val src = s"$tmp/src"
    val dst = s"$tmp/dst"
    VersionedTable.commit(ev.filter(col("event_id") % 2 === 0), src)
    VersionedTable.commit(ev.filter(col("event_id") % 2 === 1), src)
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val landedRows = new java.util.concurrent.atomic.AtomicLong(0)
    val q = spark.readStream.format("graft-table")
      .option("maxVersionsPerTrigger", "1").load(src)
      .writeStream
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        val n = landCounted(b, dst, "q_table_stream", batchId)
        if (n > 0) batches.incrementAndGet()
        landedRows.addAndGet(n)
        ()
      }
      .option("checkpointLocation", s"$tmp/ck")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    require(batches.get() == 2,
      s"capped drain ran ${batches.get()} non-empty batches, expected 2")
    // exactly-once landing: the observed per-batch counts sum to the
    // destination's row count — same divergence pin, no re-scan job
    require(landedRows.get() == ev.count(),
      "destination row count diverged from the source table")
    VersionedTable.read(spark, dst)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q_branch_read — branch-aware CONSUMPTION under the oracle gate:
    * odd events land only on an `audit` branch, a `graft-table` stream
    * with `option("branch", ...)` tails the BRANCH lineage (snapshot at
    * the fork + the branch append, capped to pin two batches) into a
    * destination table, the parent provably never sees the branch data,
    * and after a branch-side audit delete the result is [[VersionedTable
    * .readBranch]]'s head — a hash match proves branch reads and branch
    * streams serve the fork's lineage, not the parent's. */
  def qBranchRead(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val tmp = Workspace.dir("graft_bread_")
    val parent = s"$tmp/t"
    val dst = s"$tmp/dst"
    val evens = ev.filter(col("event_id") % 2 === 0)
    VersionedTable.commit(evens, parent)
    val bd = VersionedTable.createBranch(parent, "audit")
    VersionedTable.commit(ev.filter(col("event_id") % 2 === 1), bd)
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val landedRows = new java.util.concurrent.atomic.AtomicLong(0)
    val q = spark.readStream.format("graft-table")
      .option("branch", "audit")
      .option("maxVersionsPerTrigger", "1").load(parent)
      .writeStream
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        val n = landCounted(b, dst, "q_branch_read", batchId)
        if (n > 0) batches.incrementAndGet()
        landedRows.addAndGet(n)
        ()
      }
      .option("checkpointLocation", s"$tmp/ck")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    require(batches.get() == 2,
      s"branch drain ran ${batches.get()} non-empty batches, expected 2 " +
        "(fork snapshot, then the branch append)")
    // exactly-once landing: observed batch counts sum to the destination
    require(landedRows.get() == ev.count(),
      "branch stream did not land the branch lineage exactly")
    require(VersionedTable.read(spark, parent).count() == evens.count(),
      "branch data leaked into the parent lineage")
    VersionedTable.deleteWhere(spark, bd, col("value") > 450.0)
    VersionedTable.readBranch(spark, parent, "audit")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q_cdf_stream — the streaming change-data feed under the oracle
    * gate: the events table lands as two appends, then a MERGE updates
    * every `event_id % 7 == 0` row (value + 1) and deletes every
    * `event_id % 10 == 0` row — non-append lineage the plain table
    * stream refuses. A `readChangeFeed` stream (capped to one version
    * per trigger, so each transition is its own micro-batch) tails the
    * keyed i/u/d rows into a destination table through the exactly-once
    * landing, and the DESTINATION aggregates per (op, event_type) for
    * the hash match — `u` rows must carry the AFTER image (value + 1),
    * `d` rows the BEFORE image, and the insert set is every event. */
  def qCdfStream(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val tmp = Workspace.dir("graft_cdf_")
    val src = s"$tmp/src"
    val dst = s"$tmp/dst"
    VersionedTable.commit(ev.filter(col("event_id") % 2 === 0), src)
    VersionedTable.commit(ev.filter(col("event_id") % 2 === 1), src)
    val changes = ev.filter(col("event_id") % 7 === 0 &&
        col("event_id") % 10 =!= 0)
      .withColumn("value", col("value") + 1).withColumn("op", lit("u"))
      .unionByName(ev.filter(col("event_id") % 10 === 0)
        .withColumn("op", lit("d")))
    VersionedTable.mergeChanges(spark, src, changes, "event_id")
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream.format("graft-table")
      .option("readChangeFeed", "true").option("changeKey", "event_id")
      .option("maxVersionsPerTrigger", "1").load(src)
      .writeStream
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        if (landCounted(b, dst, "q_cdf_stream", batchId) > 0)
          batches.incrementAndGet()
        ()
      }
      .option("checkpointLocation", s"$tmp/ck")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    require(batches.get() == 3,
      s"capped CDF drain ran ${batches.get()} non-empty batches, " +
        "expected 3 (one per version transition)")
    VersionedTable.read(spark, dst)
      .groupBy(col("op"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("value")), 2).as("sum_value"))
      .orderBy(col("op"), col("event_type"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_table_stream" -> (qTableStream _),
    "q_branch_read" -> (qBranchRead _),
    "q_cdf_stream" -> (qCdfStream _))

  val oracles: Map[String, String] = Map(
    "q_table_stream" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_branch_read" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM events
        |WHERE NOT (value > 450.0)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_cdf_stream" ->
      """SELECT op, event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM (
        |  SELECT 'i' AS op, event_type, value FROM events
        |  UNION ALL
        |  SELECT 'u' AS op, event_type, value + 1 AS value FROM events
        |  WHERE event_id % 7 = 0 AND event_id % 10 <> 0
        |  UNION ALL
        |  SELECT 'd' AS op, event_type, value FROM events
        |  WHERE event_id % 10 = 0
        |) feed
        |GROUP BY op, event_type
        |ORDER BY op, event_type""".stripMargin)
}
