package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType,
  StructType}
import org.apache.spark.sql.functions._

/** Lineage of [[VersionedTableOps]]: the change feed and commit history,
  * named refs (tags, branches, fast-forward), write-audit-publish,
  * orphan vacuum, the `#files`/`#segments`/`#colstats`/`#partitions`
  * metadata tables and snapshot expiry. */
private[sinks] trait LakeRefs { self: VersionedTableOps =>

  // ---- change feed and commit history ----

  /** Incremental read: exactly the rows appended between `fromVersion`
    * (exclusive) and `toVersion` (inclusive) — what a downstream
    * incremental consumer (a rollup maintainer, a dedup index appender)
    * reads instead of re-scanning the table. Sound ONLY over pure append
    * lineage: files are immutable, so new-files = new-rows iff no file was
    * removed in between. A logical overwrite, rollback, or compaction in
    * the range breaks that equivalence and this FAILS LOUDLY (the caller
    * falls back to a snapshot diff — [[graft.analytics.TableDiff]]) —
    * silently returning rewritten rows as "new" would corrupt every
    * incremental consumer downstream. The rows read pinned to
    * `toVersion`'s schema ([[physSchemaOf]]). */
  def readChanges(spark: SparkSession, dir: String,
                  fromVersion: Int, toVersion: Int): DataFrame = {
    val added = changedFiles(dir, fromVersion, toVersion)
    if (added.isEmpty) read(spark, dir, Some(toVersion)).limit(0)
    else scan(spark, added,
      physSchemaOf(dir, rawManifest(dir, toVersion)))
  }

  /** The files APPENDED between `fromVersion` (exclusive) and
    * `toVersion` (inclusive), with [[readChanges]]'s pure-append
    * soundness checks enforced loudly — the resolution seam the SQL
    * `#changes=` fragment shares with the Scala API, so both surfaces
    * refuse the same rewrites identically. Deletes present at
    * fromVersion reference fromVersion's files only, never the added
    * slice — the result needs no delete application. */
  private[graft] def changedFiles(dir: String, fromVersion: Int,
                                  toVersion: Int): Seq[String] = {
    val vs = versions(dir)
    require(vs.contains(fromVersion) && vs.contains(toVersion),
      s"versions [$fromVersion, $toVersion] not both in $vs")
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    val fromRaw = rawManifest(dir, fromVersion)
    val toRaw = rawManifest(dir, toVersion)
    val from = filesIn(fromRaw).toSet
    val to = filesIn(toRaw)
    val removed = from -- to.toSet
    require(removed.isEmpty,
      s"non-append lineage between v$fromVersion and v$toVersion " +
        s"(${removed.size} file(s) removed — overwrite/rollback/compaction " +
        s"in range); incremental reads are only sound over pure appends")
    require(delsIn(fromRaw).toSet == delsIn(toRaw).toSet,
      s"delete vectors changed between v$fromVersion and v$toVersion — " +
        s"rows were REMOVED, not just appended; incremental reads are only " +
        s"sound over pure appends (fall back to a snapshot diff)")
    require(eqDelsIn(fromRaw).toSet == eqDelsIn(toRaw).toSet,
      s"equality deletes changed between v$fromVersion and v$toVersion — " +
        s"rows were REMOVED, not just appended; incremental reads are only " +
        s"sound over pure appends (fall back to a snapshot diff)")
    to.filterNot(from)
  }

  /** Change-data feed between ANY two snapshots — the keyed diff
    * [[readChanges]]'s pure-append precondition cannot cover: works
    * across overwrites, rollbacks, row deletes, and compactions, because
    * it compares the two LIVE views rather than trusting file lineage.
    * One row per changed key with the table's columns plus `op`
    * (`i` insert / `u` update / `d` delete — [[mergeChanges]]'s alphabet,
    * so `mergeChanges(dst, feed-with-i-mapped-to-u)` replicates this
    * table's transition into another table); `i`/`u` carry the AFTER
    * image, `d` the BEFORE image.
    *
    * Scale shape: the diff itself shuffles only (key, content hash) —
    * [[graft.analytics.TableDiff]]'s width-independent join — and the
    * payloads are then fetched by joining the CHANGED key set back
    * against each snapshot (churn-proportional: a low-churn feed
    * broadcasts its key set against column-pruned scans; each snapshot
    * is read twice, narrow then pruned-wide, which beats shuffling full
    * payload rows for every unchanged key). `key` must be unique per
    * snapshot (it is the downstream merge key) — duplicate keys make
    * the diff ambiguous, same contract as [[merge]]. Hash caveat as
    * TableDiff: a 64-bit collision reports a changed pair as unchanged. */
  def changeFeed(spark: SparkSession, dir: String, key: String,
                 fromVersion: Int, toVersion: Int): DataFrame = {
    val before = read(spark, dir, Some(fromVersion))
    val after = read(spark, dir, Some(toVersion))
    val keyed = graft.analytics.TableDiff.diff(before, after, key)
      .filter(col("verdict") =!= "unchanged")
      .select(col(key),
        when(col("verdict") === "added", "i")
          .when(col("verdict") === "removed", "d")
          .otherwise("u").as("op"))
    after.join(keyed.filter(col("op") =!= "d"), Seq(key), "inner")
      .unionByName(
        before.join(keyed.filter(col("op") === "d"), Seq(key), "inner"))
  }

  /** The table's commit log as data: one row per retained version with
    * its wall-clock stamp, file count, and txn id (nulls where a manifest
    * predates stamping). The operational twin of DESCRIBE HISTORY — what
    * an operator reads before picking a rollback target or an expire
    * horizon. Driver-side cost is the manifest listing it already does. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    versions(dir).map { v =>
      val lines = io.readLines(manifestPath(dir, v))
      (v,
        lines.collectFirst { case l if l.startsWith("#ts=") =>
          l.drop(4).toLong },
        // file count needs the spliced view — data-file lines may live in
        // segments; every header this view reports stays inline
        manifestLines(dir, v)
          .count(l => l.nonEmpty && !l.startsWith("#")).toLong,
        lines.count(_.startsWith("#del=")).toLong,
        lines.collectFirst { case l if l.startsWith("#txn=") => l.drop(5) })
    }.toDF("version", "ts_millis", "n_files", "n_delete_files", "txn_id")
  }

  /** The NEWEST transaction id riding version `v`'s manifest, if any. A
    * merge carries the txn ledger forward (prior `#txn=` lines precede its
    * own), so "newest" is the last line — the txn that PUBLISHED this
    * version, which is what an incremental maintainer's head pointer
    * means. */
  def txnOf(dir: String, version: Int): Option[String] =
    io.readLines(manifestPath(dir, version))
      .filter(_.startsWith("#txn=")).lastOption.map(_.drop(5))

  /** Whether `[fromVersion, toVersion]` is pure-append lineage — the
    * exact precondition [[readChanges]] enforces loudly, exposed as a
    * predicate so a maintainer can CHOOSE between the incremental path
    * and a full recompute instead of pattern-matching exception text. */
  def isPureAppend(dir: String, fromVersion: Int, toVersion: Int): Boolean = {
    val vs = versions(dir)
    vs.contains(fromVersion) && vs.contains(toVersion) &&
      fromVersion <= toVersion &&
      (filesOf(dir, fromVersion).toSet --
        filesOf(dir, toVersion).toSet).isEmpty &&
      delFilesOf(dir, fromVersion).toSet ==
        delFilesOf(dir, toVersion).toSet &&
      eqDelsOf(dir, fromVersion).toSet == eqDelsOf(dir, toVersion).toSet
  }

  // ---- named refs: tags (immutable) and branches (forked lineages) ----

  private def tagPath(dir: String, name: String) = s"$dir/refs/tag.$name"
  private[sinks] def refName(name: String): String = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"ref name must be [A-Za-z0-9][A-Za-z0-9._-]*: '$name'")
    name
  }

  /** Tag a committed version with an immutable name — the audit anchor
    * ("the snapshot run X trained on") that survives head movement. A tag
    * is a pointer, not a copy: one atomic ref-file create, re-tagging an
    * existing name refuses (delete first — mutable names are branches).
    * [[expire]] refuses to drop a tagged version, so a tag is also a GC
    * pin: the files a tagged snapshot references stay alive until the
    * tag is deleted. */
  def tag(dir: String, name: String, version: Int): Unit = {
    require(versions(dir).contains(version),
      s"version $version not committed at $dir")
    io.mkdirs(s"$dir/refs")
    require(io.createExclusive(tagPath(dir, refName(name)),
      Seq(version.toString)),
      s"tag '$name' already exists at $dir (tags are immutable; " +
        s"deleteTag first, or use a branch for a moving ref)")
  }

  /** All tags of a table: name → version. */
  def tags(dir: String): Map[String, Int] =
    io.list(s"$dir/refs").collect {
      case n if n.startsWith("tag.") =>
        n.drop(4) -> io.readLines(s"$dir/refs/$n").head.trim.toInt
    }.toMap

  def deleteTag(dir: String, name: String): Unit =
    io.delete(tagPath(dir, name))

  /** Read the snapshot a tag pins. */
  def readTagged(spark: SparkSession, dir: String, name: String): DataFrame = {
    val t = tags(dir)
    require(t.contains(name), s"no tag '$name' at $dir (have: ${t.keys})")
    read(spark, dir, Some(t(name)))
  }

  /** A branch's table directory — a full table in its own right: commit,
    * deleteWhere, merge, compact, read all work on it directly. */
  def branchDir(dir: String, name: String): String =
    s"$dir/branches/${refName(name)}"

  /** Fork a branch from a committed version (default: head) — the
    * isolation half of audit/experiment workflows that need MUTATION,
    * not just the read pin a tag gives: rewrite history on the branch,
    * validate it, then [[fastForward]] the parent to it (or throw it
    * away) — production readers never see the intermediate states.
    *
    * Zero-copy: the branch's v1 manifest references the parent's data
    * files by path; its own commits land under the branch directory.
    * The parent's [[expire]] keeps branch-referenced files alive, and
    * expire ON a branch refuses outright (a `BRANCH` marker): the fork
    * shares parent-owned files, and a branch-local GC would delete them
    * under production. Fork refuses over unmaterialized equality deletes
    * (their seq scoping is per-lineage and does not transfer). */
  def createBranch(dir: String, name: String,
                   version: Option[Int] = None): String = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    require(eqDelsOf(dir, v).isEmpty,
      s"$dir@v$v carries unmaterialized equality deletes; compact before " +
        s"branching (seq scoping does not transfer across lineages)")
    val bd = branchDir(dir, name)
    require(versions(bd).isEmpty, s"branch '$name' already exists at $dir")
    io.mkdirs(bd)
    io.writeLines(s"$bd/BRANCH", Seq(s"#fork=$dir@$v", s"#ts=${now()}"))
    // pointer carry across lineages: segments are absolute-pathed and
    // immutable, so a fork is O(pointers) — the parent's [[expire]] pins
    // segments any live branch still references, exactly like data files
    publish(bd, 1, Seq(s"#fork=$v", s"#ts=${now()}") ++
      carryManifest(dir, Some(v), Seq.empty))
    val sp = statsPath(dir, v)
    if (io.exists(sp)) io.writeLines(statsPath(bd, 1), io.readLines(sp))
    // the fork carries the parent's DECLARATION, not just file
    // pointers: without it a branch read serves PHYSICAL names and
    // stored values (dropping renames, declared order and nested
    // existence defaults — all user-visible), and a branch write cannot
    // address post-evolution members at all (the write schema would
    // come from file footers). Current declaration, per the engine's
    // time-travel convention (schema travels with the head, data with
    // the version). The retired ledger rides along so a branch-side ADD
    // after a parent-side DROP never re-addresses dropped bytes. From
    // here the lineages evolve independently — a post-fork parent ALTER
    // stays parent-local, a branch ALTER stays branch-local.
    declaredSchema(dir).foreach(declareSchema(bd, _))
    retiredColumns(dir).foreach { case (id, p) => retireColumn(bd, id, p) }
    // the partitioning declaration rides too: branch landings on a
    // partitioned parent cluster by the same transforms (and record the
    // same covering stats), so a fast-forwarded slice prunes exactly
    // like a head landing would
    val pts = partitioningOf(dir)
    if (pts.nonEmpty) declarePartitioning(bd, pts.map(_.spec), ptNumFiles(dir))
    bd
  }

  /** Branch names forked from this table. */
  def branches(dir: String): Seq[String] =
    io.list(s"$dir/branches")
      .filter(n => io.exists(s"$dir/branches/$n/BRANCH") &&
        !io.exists(s"$dir/branches/$n/RETIRED")).sorted

  /** The directory of a LIVE branch — the validated resolver every
    * branch-aware consumer ([[readBranch]], the `graft-table` stream's
    * `branch` option) goes through: a misspelled or retired name fails
    * loudly here instead of silently reading an empty table. */
  def resolveBranch(dir: String, name: String): String = {
    val bd = branchDir(dir, name)
    require(io.exists(s"$bd/BRANCH") && !io.exists(s"$bd/RETIRED"),
      s"no live branch '$name' at $dir (known: " +
        s"${branches(dir).mkString(", ")})")
    bd
  }

  /** Read a branch head (or a pinned branch version) — the consumption
    * half of branch isolation: auditors read the fork's lineage while
    * production reads the parent, same snapshot/pruning machinery. */
  def readBranch(spark: SparkSession, dir: String, name: String,
                 version: Option[Int] = None): DataFrame =
    read(spark, resolveBranch(dir, name), version)

  /** Publish the branch head into the parent — strictly fast-forward:
    * the parent must not have moved since the fork (a concurrent commit
    * makes this a MERGE, which has no universal answer — refuse loudly,
    * the caller re-forks from the new head). One manifest create, zero
    * bytes copied; the branch's stats ride along. On success the branch
    * is stamped promoted (its files belong to the parent's lifecycle
    * now — [[expire]] on it refuses; [[retireBranch]] is the exit).
    * Returns the parent's new version. */
  def fastForward(spark: SparkSession, dir: String, name: String): Int = {
    val bd = branchDir(dir, name)
    val bvs = versions(bd)
    require(bvs.nonEmpty, s"no branch '$name' at $dir")
    val bh = bvs.last
    val fork = io.readLines(manifestPath(bd, bvs.head))
      .collectFirst { case l if l.startsWith("#fork=") => l.drop(6).toInt }
      .getOrElse(throw new IllegalArgumentException(
        s"branch '$name' has no fork marker — not fast-forwardable"))
    require(eqDelsOf(bd, bh).isEmpty,
      s"branch '$name' carries unmaterialized equality deletes; compact " +
        s"the branch before fast-forwarding")
    require(versions(dir).last == fork,
      s"$dir advanced past the fork point v$fork; not a fast-forward — " +
        s"re-fork from the new head and replay the branch work")
    // the ownership crossing validates like promote: the branch lineage
    // enforced its own FORK-TIME gates, so a row can be in contract
    // there and out of contract HERE (constraints or NOT NULLs the
    // parent declared after the fork, or that never copied) — the
    // parent's gates judge the branch head's LIVE view (audit deletes
    // applied) before anything publishes. Gate-free parents stay
    // metadata-only (no scan is built).
    // the branch is a FOREIGN lineage here (it may have evolved since
    // the fork): structural pin compatibility first, then the parent's
    // gates in foreign-batch mode (absent/incompatible nested NOT NULL
    // paths refuse instead of silently skipping)
    validatePinCompat(spark, s"fast-forward of '$name' into $dir",
      fromDecl = declaredSchema(bd), fromFiles = filesOf(bd, bh),
      toDir = dir)
    if (hasDeclaredGates(dir))
      validateConstraintsDf(dir, read(spark, bd, Some(bh)),
        foreignBatch = true)
    io.mkdirs(manifestDir(dir))
    // ownership boundary: the branch's metadata may reference BRANCH-local
    // segments, which retireBranch will delete — expand and re-segment
    // into the PARENT's segment store so the promoted head owns its
    // metadata outright (one O(branch-metadata) copy at promote time)
    val bhRaw = rawManifest(bd, bh)
    val bhFiles = filesIn(bhRaw)
    val fileLines =
      if (bhFiles.length >= foldInlineAt(dir))
        Seq(SegPrefix + writeSegment(dir, bhFiles))
      else bhFiles
    // the same file set as the branch head: its schema header and delete
    // vectors hold as they are
    val bhHeaders = schemaHeader(bhRaw, Seq.empty, replacesAll = false) ++
      bhRaw.filter(_.startsWith("#del="))
    val lines = Seq(s"#ts=${now()}") ++ bhHeaders ++ fileLines
    if (!io.createExclusive(manifestPath(dir, fork + 1), lines))
      throw new java.util.ConcurrentModificationException(
        s"$dir advanced during fast-forward of '$name'; re-fork and replay")
    val bhHdr = rowsHeaderOf(bd, bh)
      .map { case (d, del) => rowsHeaderLine(d, del) }.toSeq
    val bhStats = sidecarLines(bd, bh)
    if ((bhHdr ++ bhStats).nonEmpty) {
      val statLines =
        if (bhStats.length >= foldInlineAt(dir))
          Seq(SegPrefix + writeSegment(dir, bhStats))
        else bhStats
      // the branch head's totals are the promoted head's totals — same
      // file set; the header stays a raw line (readers never open
      // segments to find it)
      io.writeLines(statsPath(dir, fork + 1), bhHdr ++ statLines)
    }
    // ownership flip: the parent references the branch's files now
    publish(bd, bh + 1, Seq(s"#promoted=$dir", s"#ts=${now()}") ++
      bhHeaders ++ bhFiles)
    fork + 1
  }

  /** Drop a branch's manifests, leaving data files to the parent's
    * lifecycle (they are referenced there after a fast-forward; after an
    * abandoned experiment they become [[vacuumOrphans]] debris under the
    * branch directory). */
  def retireBranch(dir: String, name: String): Unit =
    retire(branchDir(dir, name))

  /** Delete an ABANDONED branch entirely — manifests and branch-local
    * data files (parent-owned files are referenced by path, never stored
    * under the branch, so they are untouched). Refuses after a
    * fast-forward: the parent references the branch's files then, and
    * [[retireBranch]] is the correct exit. */
  def dropBranch(dir: String, name: String): Unit = {
    val bd = branchDir(dir, name)
    require(!versions(bd).lastOption.exists(v =>
      metaOf(bd, v).exists(_.startsWith("#promoted="))),
      s"branch '$name' was fast-forwarded into $dir — its files are " +
        s"production now; use retireBranch instead")
    deleteTree(bd)
  }

  // ---- write-audit-publish (zero-copy promotion) and vacuum ----

  /** Zero-copy snapshot promotion — the publish half of write-audit-
    * publish: a staging table lands and is AUDITED in isolation (profile
    * gate, row counts, dedup checks — none of it visible to production
    * readers), then its head is promoted into `toDir` by publishing its
    * FILE LIST (and delete vectors) as a new version there. No byte is
    * copied or moved: files are immutable and path-addressed, so two
    * manifests may reference them — promotion costs one manifest write no
    * matter how many terabytes passed the audit.
    *
    * `append = false` makes the staged snapshot `toDir`'s whole content
    * (the classic WAP replace); `append = true` adds the staged files to
    * `toDir`'s head. Stats lines ride along, so pruning works in the
    * promoted table immediately.
    *
    * Ownership contract (enforced loudly, not by convention): after
    * promotion the PROMOTED-TO table owns the shared files' lifecycle.
    * The staging head is stamped `#promoted=`, which makes [[expire]] on
    * the staging table REFUSE (its GC would delete files production now
    * reads); the staging side is ended with [[retire]], which drops its
    * manifests without touching data. Schema equality is validated when
    * appending (a promotion is not a schema migration). */
  /** The PHYSICAL shape a declared schema pins on its files: physical
    * names at every depth (struct members, array elements, map values),
    * declared types. What the destination's scan will actually address
    * in a promoted file. */
  private def physicalShape(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def walk(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f => StructField(
        graft.sql.ColumnMapping.physOf(f), walk(f.dataType), f.nullable)))
      case a: ArrayType => a.copy(elementType = walk(a.elementType))
      case m: MapType => m.copy(valueType = walk(m.valueType))
      case other => other
    }
    walk(schema).asInstanceOf[StructType]
  }

  /** Structural-compatibility gate for the lineage crossings (promote,
    * fast-forward): every path BOTH sides address must agree in kind
    * (struct / array / map / atomic) and in type — equal, or the staged
    * type safely WIDENABLE to the destination's declared one (the same
    * set ALTER COLUMN TYPE accepts: byte→short/int/long, short→int/long,
    * int→long, float→double). Paths only one side carries are fine:
    * destination-only columns serve defaults / typed nulls per the
    * evolution contract (NOT NULL is the commit gates' concern), and
    * staged-only columns are invisible to the destination's pinned
    * scan. The staged side is judged by its own DECLARED physical shape
    * when it has one (the lineage's own invariants cover every landed
    * file, zero footer reads); an undeclared staging table falls back
    * to its head file's parquet footer. Same rule for the destination
    * pin. A names-only or append-only check here is not enough: a
    * replace promote swaps the file set but never the destination's
    * declaration, so a type-incompatible file set would publish and
    * every subsequent read would fail or serve typed nulls. */
  private def validatePinCompat(spark: SparkSession, what: String,
                                fromDecl: Option[String],
                                fromFiles: Seq[String],
                                toDir: String): Unit = {
    import org.apache.spark.sql.types._
    val pin: Option[StructType] = declaredSchema(toDir)
      .map(j => physicalShape(
        DataType.fromJson(j).asInstanceOf[StructType]))
      .orElse {
        val vs = versions(toDir)
        if (vs.isEmpty) None
        else filesOf(toDir, vs.last).headOption
          .map(f => spark.read.parquet(f).schema)
      }
    if (pin.isEmpty) return
    val staged: Option[StructType] = fromDecl
      .map(j => physicalShape(
        DataType.fromJson(j).asInstanceOf[StructType]))
      .orElse(fromFiles.headOption.map(f => spark.read.parquet(f).schema))
    if (staged.isEmpty) return
    val widen: Map[DataType, Set[DataType]] = Map(
      ByteType -> Set(ShortType, IntegerType, LongType),
      ShortType -> Set(IntegerType, LongType),
      IntegerType -> Set(LongType),
      FloatType -> Set(DoubleType))
    def ok(path: String, s: DataType, d: DataType): Unit = (s, d) match {
      case (ss: StructType, dd: StructType) =>
        ss.fields.foreach { sf =>
          dd.fields.find(_.name.equalsIgnoreCase(sf.name)).foreach { df =>
            ok(if (path.isEmpty) sf.name else s"$path.${sf.name}",
              sf.dataType, df.dataType)
          }
        }
      case (sa: ArrayType, da: ArrayType) =>
        ok(s"$path.element", sa.elementType, da.elementType)
      case (sm: MapType, dm: MapType) =>
        ok(s"$path.key", sm.keyType, dm.keyType)
        ok(s"$path.value", sm.valueType, dm.valueType)
      case (sv, dv) if sv == dv => ()
      case (sv, dv) if widen.get(sv).exists(_.contains(dv)) => ()
      case (sv, dv) => throw new IllegalArgumentException(
        s"$what refused: the staged lineage carries '$path' as " +
          s"${sv.simpleString} but the destination's physical pin " +
          s"reads it as ${dv.simpleString} — structurally incompatible" +
          "; evolve the destination (or restage under its shape) first")
    }
    ok("", staged.get, pin.get)
  }

  def promote(spark: SparkSession, fromDir: String, toDir: String,
              append: Boolean = true, version: Option[Int] = None): Int = {
    val fromVs = versions(fromDir)
    require(fromVs.nonEmpty, s"no committed version at $fromDir")
    val fv = version.getOrElse(fromVs.last)
    require(fromVs.contains(fv), s"version $fv not in $fromVs")
    // equality-delete seq numbers are PER-TABLE version numbers — they
    // don't transfer across manifest logs; normalize staging first
    require(eqDelsOf(fromDir, fv).isEmpty,
      s"$fromDir carries unmaterialized equality deletes; run compact() " +
        s"on staging before promoting (seq scoping does not transfer)")
    val fromRaw = rawManifest(fromDir, fv)
    val fromFiles = filesIn(fromRaw)
    val fromDels = fromRaw.filter(_.startsWith("#del="))
    // the staged files' physical schema, when their header records one
    val fromSchema = schemaIn(fromRaw).toSeq
    // EXPANDED copy, not pointer carry: retire() deletes the staging
    // table's segment files, so the promoted-to sidecar must own its lines
    val fromStats = sidecarLines(fromDir, fv)
    // a promotion lands rows the destination never validated: ALL its
    // declared gates — CHECK constraints AND (top-level + nested) NOT
    // NULL — apply to the staged LIVE view (audit deletes applied) like
    // any other commit. One scan, the price of declarations the staging
    // table didn't carry; gating on explicit constraints alone would
    // let a staging NULL land under a destination NOT NULL unseen.
    if (hasDeclaredGates(toDir))
      validateConstraintsDf(toDir, read(spark, fromDir, Some(fv)),
        foreignBatch = true)
    // promote is a POINTER CARRY: the destination will read these very
    // files under its own physical pin, so structural compatibility
    // (names AND types, nested) is validated on EVERY promote — append
    // and replace alike (a replace swaps the file set, never the
    // destination's declaration)
    validatePinCompat(spark, s"promote into $toDir",
      fromDecl = declaredSchema(fromDir), fromFiles = fromFiles,
      toDir = toDir)
    val toExists = versions(toDir).nonEmpty
    // an UNDECLARED destination has no evolution story (no defaults, no
    // retired-column ledger), so a column-set divergence on an append
    // promote is almost certainly a mistake — keep the strict name-set
    // equality there; declared destinations are governed by the pin +
    // gate validation above, which permits legitimate evolution drift
    if (toExists && append && declaredSchema(toDir).isEmpty) {
      val a = spark.read.parquet(filesOf(toDir, versions(toDir).last).head)
        .columns.toSet
      val b = spark.read.parquet(fromFiles.head).columns.toSet
      require(a == b,
        s"schema mismatch promoting into $toDir: ${a.diff(b)} vs ${b.diff(a)}")
    }
    val v =
      if (append && toExists) {
        // a promotion is an append to the destination: pointer carry,
        // promoted bulk as fresh destination-owned lines (fromStats is
        // already expanded — retire() deletes the staging segments)
        var headAt: Option[Int] = None
        val v0 = publishOnHeadRaw(toDir) { h =>
          headAt = h
          // staged files of unrecorded schema void the header
          val carried = carryManifest(toDir, h, fromSchema).filterNot(l =>
            fromSchema.isEmpty && fromFiles.nonEmpty &&
              l.startsWith(SchemaPrefix))
          Seq(s"#ts=${now()}") ++ carried ++ fromDels ++ fromFiles
        }
        val hdr = headerOrUpgrade(toDir, headAt).flatMap {
          case (d, del) =>
            // the staged lineage's own totals, if it kept them
            rowsHeaderOf(fromDir, fv).map { case (fd, fdel) =>
              rowsHeaderLine(d + fd, del + fdel)
            }
        }.toSeq
        val carried = carrySidecar(toDir, headAt)
        if ((hdr ++ carried ++ fromStats).nonEmpty)
          io.writeLines(statsPath(toDir, v0),
            hdr ++ carried ++ fromStats)
        v0
      } else {
        val v0 = publish(toDir, versions(toDir).lastOption.getOrElse(0) + 1,
          Seq(s"#ts=${now()}") ++
            schemaHeader(Seq.empty, fromSchema, replacesAll = true) ++
            fromDels ++ fromFiles)
        if (fromStats.nonEmpty)
          io.writeLines(statsPath(toDir, v0),
            derivedHeader(toDir, v0, fromStats) ++ fromStats)
        v0
      }
    // stamp the staging head: its files now belong to toDir's lifecycle —
    // expire() refuses on this marker, retire() is the exit
    publish(fromDir, fromVs.last + 1,
      Seq(s"#promoted=$toDir", s"#ts=${now()}") ++
        schemaHeader(fromRaw, Seq.empty, replacesAll = false) ++
        fromDels ++ fromFiles)
    v
  }

  /** End a promoted staging table: drop ALL its manifests and stats,
    * leaving data files in place (the promoted-to table references them;
    * its own [[expire]] governs their lifetime from here). A `RETIRED`
    * tombstone blocks [[vacuumOrphans]] from ever treating the now
    * manifest-less directory as all-orphan. */
  def retire(dir: String): Unit = {
    val vs = versions(dir)
    io.mkdirs(dir)
    io.writeLines(s"$dir/RETIRED", Seq(s"#ts=${now()}"))
    vs.foreach { v =>
      io.delete(manifestPath(dir, v))
      io.delete(statsPath(dir, v))
    }
    // metadata segments die with the manifests that referenced them —
    // promotion and fast-forward both copy EXPANDED (or re-segmented
    // destination-owned) metadata, so nothing outside this directory can
    // point at them
    io.list(segsDir(dir)).foreach { n =>
      val p = s"${segsDir(dir)}/$n"
      segCache.remove(p); io.delete(p)
    }
  }

  /** Delete data/vector files referenced by NO manifest — the debris a
    * crashed writer leaves (batch written, publish never reached; an
    * aborted merge/compact rewrite; an OCC loser that died mid-retry).
    * Commits are crash-safe BECAUSE unpublished files are simply garbage;
    * this is the sweeper that reclaims them. Only batch directories whose
    * entire tree is older than `graceMs` are removed — an in-flight
    * commit's files are always younger than the grace window. Refuses on
    * retired tables (no manifests ≠ no owners: the promoted-to table
    * holds the references). Returns the number of directories removed. */
  def vacuumOrphans(dir: String, graceMs: Long = 3600000L): Int = {
    require(!io.exists(s"$dir/RETIRED"),
      s"$dir is retired: its files belong to the table it was promoted " +
        s"into; vacuuming here would delete production data")
    // one reference snapshot: (version lineages scanned, batch dirs
    // referenced, segment paths referenced). Branch manifests count as
    // references — a fork pins parent batch dirs AND parent segments.
    def refSnapshot(): (Set[(String, Int)], Set[String], Set[String]) = {
      val lineages = (dir, versions(dir)) +: branches(dir).map { b =>
        val bd = branchDir(dir, b); (bd, versions(bd))
      }
      val files = lineages.flatMap { case (d, vs) => vs.flatMap(v =>
        filesOf(d, v) ++ delFilesOf(d, v) ++ eqDelsOf(d, v).map(_._3)) }
      val segs = lineages.flatMap { case (d, vs) =>
        vs.flatMap(v => segRefsOf(d, v)) }
      (lineages.flatMap { case (d, vs) => vs.map(d -> _) }.toSet,
        files.map(f => f.take(f.lastIndexOf('/'))).toSet, segs.toSet)
    }
    var (seen, referencedDirs, segRefs) = refSnapshot()
    val cutoff = now() - graceMs
    // Re-scan FRESH versions (published since the snapshot — only their
    // manifests are read, O(new commits)) right before each delete: a
    // writer whose batch aged past the grace window but whose publish
    // landed mid-sweep would otherwise lose its just-referenced files.
    // Together with the publisher-side guard in publishOnHeadTxn this
    // pins the protocol's contract: a publish that completes before the
    // delete is never torn; one that races into the same microseconds is
    // excluded by a grace window longer than the longest write stall.
    def stillOrphan(path: String): Boolean = {
      val lineages = (dir, versions(dir)) +: branches(dir).map { b =>
        val bd = branchDir(dir, b); (bd, versions(bd))
      }
      val fresh = lineages.flatMap { case (d, vs) =>
        vs.filterNot(v => seen((d, v))).map(d -> _) }
      if (fresh.nonEmpty) {
        referencedDirs ++= fresh.flatMap { case (d, v) =>
          (filesOf(d, v) ++ delFilesOf(d, v) ++ eqDelsOf(d, v).map(_._3))
            .map(f => f.take(f.lastIndexOf('/'))) }
        segRefs ++= fresh.flatMap { case (d, v) => segRefsOf(d, v) }
        seen ++= fresh
      }
      !referencedDirs.contains(path) && !segRefs.contains(path)
    }
    var removed = 0
    Seq(s"$dir/data", s"$dir/deletes").foreach { area =>
      io.list(area).map(n => s"$area/$n")
        .filter(d => io.isDir(d) && !referencedDirs.contains(d))
        .filter(d => newestMtime(d) < cutoff)
        .foreach { d =>
          if (stillOrphan(d)) { deleteTree(d); removed += 1 }
        }
    }
    // metadata-segment debris: a segment written for a publish that never
    // happened (crashed commit, OCC-retry fold) is referenced by no
    // manifest/sidecar of this table or its branches — sweep like data.
    io.list(segsDir(dir)).map(n => s"${segsDir(dir)}/$n")
      .filter(p => !segRefs.contains(p) && io.mtime(p) < cutoff)
      .foreach { p =>
        if (stillOrphan(p)) { segCache.remove(p); io.delete(p); removed += 1 }
      }
    removed
  }

  private def newestMtime(path: String): Long =
    if (!io.isDir(path)) io.mtime(path)
    else (io.mtime(path) +: io.list(path).map(n => newestMtime(s"$path/$n")))
      .max

  private def deleteTree(path: String): Unit = {
    if (io.isDir(path)) io.list(path).foreach(n => deleteTree(s"$path/$n"))
    io.delete(path)
  }

  /** The snapshot's file inventory as data — the `table$files` metadata
    * view every maintenance decision reads (compaction targets, skew in
    * file sizes, delete-vector debt per file). One row per data file:
    * path, bytes, and how many of its rows the snapshot's vectors have
    * erased. Cost: the manifest read plus a scan of the (tiny) vectors —
    * no data file is opened. */
  def filesMeta(spark: SparkSession, dir: String,
                version: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val v = version.getOrElse(vs.last)
    val files = filesOf(dir, v).map(f => (f, io.size(f))).toDF("file", "size_bytes")
    val dels = delFilesOf(dir, v)
    if (dels.isEmpty) files.withColumn("n_deleted", lit(0L))
    else files.join(
      readDelVectors(spark, dels).groupBy(col("file_path"))
        .agg(count(lit(1)).as("n_deleted")),
      files("file") === col("file_path"), "left")
      .drop("file_path")
      .withColumn("n_deleted", coalesce(col("n_deleted"), lit(0L)))
  }

  /** The stats sidecar as data — one row per (file, column) bound the
    * pruning layers consult, plus whether a bloom filter covers it. */
  /** The snapshot's PARTITION inventory as data — the `table$partitions`
    * view a maintenance operator reads before deciding what to compact
    * or where skew lives: one row per (declared transform, partition
    * value) with file count, live rows and bytes, folded ENTIRELY from
    * the manifest + stats sidecar (no data file opened). A file whose
    * bounds straddle partition values reports as `mixed(lo..hi)` — an
    * honest layout signal (it is exactly the file a probe cannot skip),
    * never a guess. Rows are data rows (delete-vector debt is per-file,
    * not per-partition — [[filesMeta]] carries that axis). */
  /** The snapshot's METADATA layout as data — one row per `#seg=`
    * segment pointer (manifest and sidecar) plus one `inline` row per
    * side, with payload entry counts, on-disk bytes, and the pointer's
    * recorded covering ranges. The operational view behind segmented
    * manifests: an operator reads it to see whether commit metadata is
    * staying O(batch) (pointer counts bounded by the fold thresholds)
    * and which segments a selective query can skip (covers present).
    * Cost: raw header reads + one readLines per segment — manifest-sized
    * driver work, no data file opened. */
  def segmentsMeta(spark: SparkSession, dir: String,
                   version: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val v = version.getOrElse(vs.last)
    def side(kind: String, p: String): Seq[(String, String, Long, Long, String)] = {
      if (!io.exists(p)) return Seq.empty
      val raw = io.readLines(p)
      val ptrs = raw.filter(segRef).map { l =>
        val sp = segPath(l)
        val covers = segCovers(l).toSeq.sortBy(_._1).map {
          case (c, (_, lo, hi)) => s"$c:[$lo..$hi]"
        }.mkString(", ")
        (kind, sp, readSegment(sp).size.toLong,
          if (io.exists(sp)) io.size(sp) else 0L, covers)
      }
      val inline = raw.count(l =>
        l.nonEmpty && !l.startsWith("#"))
      if (inline == 0) ptrs
      else ptrs :+ ((kind, "(inline)", inline.toLong, 0L, ""))
    }
    (side("manifest", manifestPath(dir, v)) ++
      side("sidecar", statsPath(dir, v)))
      .toDF("kind", "path", "entries", "bytes", "covers")
      .orderBy(col("kind"), col("path"))
  }

  /** Column-level statistics as data (`#colstats`): one row per column
    * with the snapshot fold the SQL scan serves CBO — exact null count,
    * merged-HLL NDV, the typed min/max bound when every file carries
    * one, and coverage (files with stats / data files). Manifest-sized:
    * one sidecar read, zero data files opened. */
  def colStatsMeta(spark: SparkSession, dir: String,
                   version: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val v = version.getOrElse(vs.last)
    val nFiles = filesOf(dir, v).size.toLong
    val cbo = columnStatsOf(dir, v)
    val cols = statColsOf(dir, v).filter(c =>
      PartitionTransform.parseOpt(c).isEmpty)
    cols.map { c =>
      val (nulls, ndv) = cbo.getOrElse(c, (None, None))
      val stats = statsOf(dir, v, c)
      // fastMinMax already returns str bounds DECODED — decoding again
      // would corrupt '+' to ' ' and crash on a trailing literal '%'
      val bound = fastMinMax(dir, c, Some(v)).map {
        case (_, lo, hi) => (lo, hi)
      }
      (c, nulls, ndv,
        bound.map(_._1).orNull, bound.map(_._2).orNull,
        stats.size.toLong, nFiles)
    }.toDF("column", "null_count", "ndv", "min", "max",
      "files_with_stats", "data_files")
      .orderBy(col("column"))
  }

  def partitionsMeta(spark: SparkSession, dir: String,
                     version: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val v = version.getOrElse(vs.last)
    val files = filesOf(dir, v)
    val rows = rowsOf(dir, v)
    val pts = partitioningOf(dir)
    def dayOf(micros: BigDecimal): String =
      java.time.LocalDate.ofEpochDay(
        Math.floorDiv(micros.toLong, 86400000000L)).toString
    val out = pts.flatMap { t =>
      val statName = t.statNames.head
      val stats = statsOf(dir, v, statName)
      def valueOf(f: String): String = stats.get(f) match {
        case None | Some(("null", _, _)) | Some(("wild", _, _)) => "unknown"
        case Some((tag, lo, hi)) =>
          // render the TRANSFORMED bound; equal ends = one partition
          def tv(b: String): String = t match {
            case _: PartitionTransform.Days if tag == "num" =>
              dayOf(BigDecimal(b))
            case PartitionTransform.Truncate(w, _) if tag == "str" =>
              StatValue.decodeStr(b).take(w)
            case PartitionTransform.Truncate(w, _) if tag == "num" =>
              val n = BigDecimal(b)
              (n - (((n % w) + w) % w)).toBigInt.toString
            case _ if tag == "str" => StatValue.decodeStr(b)
            case _ => b
          }
          val (lv, hv) = (tv(lo), tv(hi))
          if (lv == hv) lv else s"mixed($lv..$hv)"
      }
      files.groupBy(valueOf).toSeq.map { case (value, fs) =>
        (t.spec, value, fs.size.toLong,
          fs.flatMap(rows.get).sum, fileBytes(fs))
      }
    }
    out.toDF("transform", "value", "files", "rows", "bytes")
      .orderBy(col("transform"), col("value"))
  }

  def fileStatsMeta(spark: SparkSession, dir: String,
                    version: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val v = version.getOrElse(vs.last)
    val lines = sidecarLines(dir, v)
    // the `#` rows pseudo-column is surfaced by [[filesMeta]]/[[fastCount]],
    // not as a stats bound — this view is the PRUNING metadata
    val parsed = lines.map(_.split('\t').toSeq).collect {
      case Seq(f, c, tag, lo, hi) if c != "#" => (f, c, tag, lo, hi)
    }
    val blooms = parsed.collect { case (f, c, "bloom", _, _) => (f, c) }.toSet
    val ranged = parsed.filter(t => RangeTags(t._3))
      .map { case (f, c, tag, lo, hi) =>
        (f, c, tag,
          Option(if (tag == "str") StatValue.decodeStr(lo) else lo),
          Option(if (tag == "str") StatValue.decodeStr(hi) else hi),
          blooms.contains((f, c)))
      }
    // a bloom-only (file, column) still has a row: coverage is the point
    val bloomOnly = (blooms -- ranged.map(t => (t._1, t._2)).toSet).toSeq
      .map { case (f, c) =>
        (f, c, "bloom", Option.empty[String], Option.empty[String], true)
      }
    (ranged ++ bloomOnly)
      .toDF("file", "column", "tag", "min", "max", "has_bloom")
  }

  /** Expire history: drop all but the newest `keepLast` manifests and
    * delete data files no RETAINED manifest references — the orthogonal
    * GC pass every manifest-log format pairs with commits (commits never
    * delete; only expiration does). Readers pinned to an expired version
    * fail loudly on their next resolve, which is the contract: retention
    * is an operational policy, not a correctness knob.
    *
    * For [[commitOnce]] users: expiring a manifest also forgets its txn
    * id, so retention must exceed the source's replay horizon (the same
    * contract as Delta's txn retention). Pass that horizon as
    * `txnReplayHorizon` and expire REFUSES a `keepLast` below it —
    * aggressive GC must fail loudly, not silently break exactly-once.
    *
    * Batch directories emptied by the deletion are removed along with
    * their `_SUCCESS`/checksum markers. Returns the number of data files
    * deleted. */
  /** Expire history older than a wall-clock instant: keeps every
    * version stamped at or after `tsMillis` (always at least the head),
    * then runs the standard [[expire]] with all its guards — tag pins,
    * equality-delete scoping, the txn replay horizon. The retention-
    * policy spelling of expire ("keep 7 days"), since operators reason
    * in time, not version counts. */
  def expireBefore(dir: String, tsMillis: Long,
                   txnReplayHorizon: Int = 0): Int = {
    val keep = math.max(1,
      versions(dir).flatMap(v => tsOf(dir, v)).count(_ >= tsMillis))
    expire(dir, math.max(keep, txnReplayHorizon), txnReplayHorizon)
  }

  def expire(dir: String, keepLast: Int, txnReplayHorizon: Int = 0): Int = {
    require(keepLast >= 1, s"keepLast must be >= 1: $keepLast")
    // a branch shares its parent's data files; a branch-local GC would
    // delete them under production readers — branches end via
    // retireBranch, the PARENT's expire governs file lifetime
    require(!io.exists(s"$dir/BRANCH"),
      s"$dir is a branch: it references parent-owned files; expire the " +
        s"parent table instead (retireBranch ends the branch itself)")
    require(keepLast >= txnReplayHorizon,
      s"keepLast=$keepLast is below the txn replay horizon " +
        s"$txnReplayHorizon: expiring that deep forgets txn ids a replay " +
        s"could redeliver, breaking exactly-once")
    val vs = versions(dir)
    require(!vs.lastOption.exists(v =>
      metaOf(dir, v).exists(_.startsWith("#promoted="))),
      s"$dir's head is promoted: its files belong to the promoted-to " +
        s"table now — expiring here would GC files production reads; " +
        s"use retire() instead")
    val (dead, kept) = vs.splitAt(math.max(0, vs.length - keepLast))
    // a tag is a GC pin: expiring a tagged version would turn the named
    // audit anchor into a dangling ref — delete the tag first, loudly
    val pinned = tags(dir).filter { case (_, v) => dead.contains(v) }
    require(pinned.isEmpty,
      s"expire would drop tagged version(s) ${pinned.toSeq.sorted} at " +
        s"$dir; deleteTag first if the pin is no longer needed")
    // equality-delete applicability is scoped by FIRST-APPEARANCE version
    // (addedAtOf) — dropping manifests older than an unmaterialized delete
    // would shift that inference forward and silently stop the delete
    // applying in retained pinned reads; materialize first, then expire
    require(dead.isEmpty ||
      kept.forall(v => eqDelsOf(dir, v).isEmpty),
      s"retained history of $dir carries unmaterialized equality " +
        s"deletes; run compact() to fold them into the data files before " +
        s"expiring (their file scoping is derived from manifest history)")
    // delete files (positional vectors AND equality-delete key files) are
    // referenced files like any other: live while any retained manifest
    // lists them, GC'd when none does (a compaction that materialized
    // them orphans the old ones here)
    // live branches reference parent data files from their fork point —
    // they pin those files even when no retained parent manifest does
    val branchLive = branches(dir).flatMap { b =>
      val bd = branchDir(dir, b)
      versions(bd).flatMap(v =>
        filesOf(bd, v) ++ delFilesOf(bd, v) ++ eqDelsOf(bd, v).map(_._3))
    }.toSet
    val liveFiles = kept.flatMap(v =>
      filesOf(dir, v) ++ delFilesOf(dir, v) ++
        eqDelsOf(dir, v).map(_._3)).toSet ++ branchLive
    val deadFiles = dead.flatMap(v =>
      filesOf(dir, v) ++ delFilesOf(dir, v) ++
        eqDelsOf(dir, v).map(_._3)).toSet -- liveFiles
    // metadata segments GC exactly like data files: live while any
    // retained manifest/sidecar (or a live branch's) points at them
    val branchSegs = branches(dir).flatMap { b =>
      val bd = branchDir(dir, b)
      versions(bd).flatMap(v => segRefsOf(bd, v))
    }.toSet
    val liveSegs = kept.flatMap(v => segRefsOf(dir, v)).toSet ++ branchSegs
    val deadSegs = dead.flatMap(v => segRefsOf(dir, v)).toSet -- liveSegs
    // manifests first: a crash mid-expire must never leave a manifest
    // pointing at deleted files
    dead.foreach { v =>
      io.delete(manifestPath(dir, v))
      io.delete(statsPath(dir, v))
    }
    deadSegs.foreach { p => segCache.remove(p); io.delete(p) }
    deadFiles.foreach(io.delete)
    // hygiene: a batch dir whose parquet files are all gone keeps only
    // write markers — drop them and the dir (leaving them accumulates
    // 10^5 empty dirs on a streaming landing)
    deadFiles.map(f => f.take(f.lastIndexOf('/'))).toSet[String]
      .foreach { d =>
        val leftover = io.list(d)
        val junk = leftover.filter(n => n == "_SUCCESS" || n.endsWith(".crc"))
        if ((leftover.toSet -- junk).isEmpty) {
          junk.foreach(n => io.delete(s"$d/$n"))
          io.delete(d)
        }
      }
    deadFiles.size
  }
}
