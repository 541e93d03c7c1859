package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType,
  NumericType, StringType, StructType}
import org.apache.spark.sql.functions._

/** Scan planning of [[VersionedTableOps]]: the per-file stats and bloom
  * sidecars and their carry, manifest-level file pruning (range, bloom,
  * bucket), the metadata-only COUNT/MIN/MAX answers and the CBO folds the
  * SQL catalog reports. */
private[sinks] trait ScanPlanning { self: VersionedTableOps =>

  // ---- manifest-level file skipping (Iceberg-style scan planning) ----

  /** Per-file (min, max) stats for `statCols`, landed NEXT TO a version's
    * manifest as `s{N}` — the metadata that lets a reader prune FILES
    * before Spark even lists them, which at 100 TB is the difference
    * between planning over a manifest and listing a bucket. Stats are an
    * OPTIMIZATION layer: the manifest stays the single source of truth,
    * a version without a stats file (crash between publish and stats
    * write, or a commit that didn't collect them) degrades to no pruning,
    * never to wrong results.
    *
    * Format: tab-separated `path col tag min max` per line, TYPED — the
    * pruning keys a real landing filters on are dates and categorical
    * strings, not doubles:
    *  - `num`: every ordered numeric shape on one axis — integers,
    *    floats, decimals, booleans (0/1), dates (epoch day), timestamps
    *    (epoch micros) — compared as arbitrary-precision decimals;
    *  - `str`: strings, URL-encoded in the file (tabs/newlines in data
    *    must not break the format), compared decoded;
    *  - `null`: an all-null (or non-finite-extreme) file — no usable
    *    bound, always kept. */
  def writeStats(spark: SparkSession, dir: String, version: Int,
                 statCols: Seq[String], onlyMissing: Boolean = false): Unit = {
    val p = statsPath(dir, version)
    val existing = sidecarLines(dir, version)
    // re-deriving range bounds must not discard the OTHER sidecar layers
    // (bloom bitmaps, `rows` counts for data AND delete-vector files)
    // already landed for this version. statsLines re-emits rows lines for
    // the files it scans; keeping the originals too is harmless — a file
    // is immutable, so duplicate rows lines agree and consumers fold maps.
    val keep =
      existing.filter { l =>
        val a = l.split('\t')
        a.length >= 3 && (a(1) == "#" || a(2) == "bloom")
      }
    val raw = rawManifest(dir, version)
    val lines =
      if (!onlyMissing)
        keep ++ statsLines(spark, dir, filesIn(raw), statCols,
          cbo = true, known = schemaIn(raw))
      else keep ++ incrementalStatsLines(spark, dir, raw, statCols,
        existing)
    io.writeLines(p, derivedHeader(dir, version, lines) ++ lines)
  }

  /** The incremental ANALYZE body (`writeStats(onlyMissing = true)`, the
    * auto-ANALYZE door): per-file CBO lines are immutable and MERGEABLE
    * by construction (HLL union / KLL merge / exact null+length sums ARE
    * the serving fold), so a refresh only needs to scan the files still
    * MISSING their lines and keep every already-covered file's lines
    * verbatim — O(files landed since the last ANALYZE) per threshold
    * crossing instead of O(table), the same incremental discipline
    * [[writeBlooms]] follows for unbloomed files. The snapshot fold over
    * (kept ++ fresh) equals the full-rescan fold exactly: the fold is a
    * per-file map keyed by immutable paths, and a file's line does not
    * depend on WHICH pass scanned it. The explicit `CALL write_stats`
    * keeps the full rescan — the loud operator door for "re-derive
    * everything" (changed stat columns, suspected sidecar damage).
    *
    * Coverage is judged in two passes because the expected tag set is
    * type-dependent (`kll` only for numeric/date/timestamp leaves, `len`
    * only for string/binary) and this path deliberately avoids a schema
    * resolution of its own: pass 1 rescans files missing the
    * type-independent core (bounds + nulls + hll per requested column);
    * pass 2 rescans files missing any tag class that ANY line — kept or
    * fresh — shows for that column, so a vintage that predates the kll
    * layer rescans too rather than leaving the snapshot histogram fold
    * muted where a full rescan would serve it. */
  private def incrementalStatsLines(spark: SparkSession, dir: String,
      raw: Seq[String], statCols: Seq[String],
      existing: Seq[String]): Seq[String] = {
    val all = filesIn(raw)
    val known = schemaIn(raw)
    val allSet = all.toSet
    val statLines = existing.filter { l =>
      val a = l.split('\t')
      a.length >= 3 && a(1) != "#" && a(2) != "bloom" && allSet(a(0))
    }
    // tag CLASSES per (file, col): the four bounds tags collapse to one
    // class — "null"/"wild" are complete answers for a file, not gaps
    def cls(t: String): String = t match {
      case "num" | "str" | "null" | "wild" => "bounds"
      case other => other
    }
    def tagsOf(lines: Seq[String]): Map[String, Map[String, Set[String]]] =
      lines.map(_.split('\t')).groupBy(_.head).map { case (f, as) =>
        f -> as.groupBy(_(1)).map { case (c, cs) =>
          c -> cs.map(a => cls(a(2))).toSet
        }
      }
    val have = tagsOf(statLines)
    val plain = statCols.filter(c => PartitionTransform.parseOpt(c).isEmpty)
    val miss1 = all.filter { f =>
      val m = have.getOrElse(f, Map.empty[String, Set[String]])
      statCols.exists(c => !m.getOrElse(c, Set.empty)("bounds")) ||
        plain.exists { c =>
          val t = m.getOrElse(c, Set.empty[String])
          !t("nulls") || !t("hll")
        }
    }
    val fresh1 = statsLines(spark, dir, miss1, statCols, cbo = true,
      known = known)
    val freshTags = tagsOf(fresh1.filter { l =>
      val a = l.split('\t'); a.length >= 3 && a(1) != "#"
    })
    val expected: Map[String, Set[String]] = statCols.map { c =>
      val seen = (have.values ++ freshTags.values)
        .flatMap(_.getOrElse(c, Set.empty)).toSet
      c -> seen
    }.toMap
    val done1 = miss1.toSet
    val miss2 = all.filterNot(done1).filter { f =>
      val m = have.getOrElse(f, Map.empty[String, Set[String]])
      statCols.exists(c => !expected(c).subsetOf(m.getOrElse(c, Set.empty)))
    }
    val fresh2 = statsLines(spark, dir, miss2, statCols, cbo = true,
      known = known)
    val rescanned = done1 ++ miss2
    statLines.filterNot(l => rescanned(l.takeWhile(_ != '\t'))) ++
      fresh1 ++ fresh2
  }

  /** One stats line per (file, col) over exactly `files` — one grouped
    * aggregate, one scan of those files, min/max computed in the column's
    * OWN type (casting dates/strings to double is how date and categorical
    * pruning got lost before). */
  /** Should this table's commits pay the CBO-sketch cost inline?
    * Default NO — the ANALYZE discipline: per-landing stats stay
    * min/max + rows (the pruning ingredients), and the NDV/null-count
    * sketches land when the operator runs [[writeStats]] (`CALL
    * write_stats`) or opts the table in durably (`stats.cbo=true`, for
    * streaming tables that want always-fresh CBO stats at ~30% extra
    * stats-pass cost per landing). */
  private[sinks] def cboOnCommit(dir: String): Boolean =
    tableProperties(dir).get("stats.cbo").contains("true")

  /** Files fed through a [[statsLines]] scan, cumulatively — the test
    * seam (like [[footerReads]]) that lets specs pin the incremental
    * ANALYZE contract: "the second threshold crossing scanned ONLY the
    * files landed since the first". */
  private[sinks] val statsFilesScanned =
    new java.util.concurrent.atomic.AtomicLong

  /** The declared PHYSICAL schema iff the table carries nested existence
    * defaults — the stats scan substitutes through it so every sidecar
    * line (bounds, null counts, NDV/KLL) describes SERVED values; the
    * manifest pruning, sidecar MIN/MAX serving, TopN admission and CBO
    * folds built on those lines then agree with what the scan returns
    * (see [[graft.sql.NestedDefaults]]). Tables without nested defaults
    * — including every Scala-door table — pay one metadata read. */
  private[sinks] def statsSubstitution(dir: String)
      : Option[org.apache.spark.sql.types.StructType] =
    declaredSchema(dir)
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .filter(graft.sql.NestedDefaults.hasAny)
      .map(graft.sql.ColumnMapping.physicalSchema)

  /** Served-value view of an engine-internal frame: nested existence
    * defaults substituted when the table declares any (identity
    * otherwise) — what predicate evaluation in the DML doors uses so
    * DELETE/UPDATE WHERE agree with SELECT WHERE on the same rows. */
  private[sinks] def substDefaults(dir: String, df: DataFrame): DataFrame =
    statsSubstitution(dir)
      .map(graft.sql.NestedDefaults.substitute(df, _)).getOrElse(df)

  /** `known`: the physical schema of `files` when the caller has it (the
    * version's `#schema=` header, or the schema of the batch it just
    * wrote); it pins the scan when the table declares none. */
  private[sinks] def statsLines(spark: SparkSession, dir: String,
      files: Seq[String], statCols: Seq[String], cbo: Boolean = false,
      known: Option[StructType] = None): Seq[String] = {
    if (files.isEmpty) return Seq.empty
    statsFilesScanned.addAndGet(files.size)
    // A DECLARED table pins its physical schema on the stats scan:
    // schema inference samples ONE footer, and on a mixed-vintage file
    // set the sample may predate an evolution — a nested member added
    // later would then fail to resolve (nondeterministically, by file
    // order). The pin makes pre-evolution files serve typed nulls for
    // later members, exactly the read path's own semantics.
    val declPhys = declPhysOf(dir)
    val pin = declPhys.orElse(known)
    val subst = declPhys.filter(graft.sql.NestedDefaults.hasAny)
    def substituted(df: DataFrame): DataFrame =
      subst.map(graft.sql.NestedDefaults.substitute(df, _)).getOrElse(df)
    // Bounded driver memory at ANALYZE scale: the grouped aggregate
    // collects one row PER FILE, and with CBO sketches each row carries
    // ~25 KB (HLL + KLL base64) — a 100k-file whole-table write_stats
    // would otherwise materialize gigabytes in one collect. Chunking
    // caps the in-flight collect at ~512 rows; lines append across
    // chunks (per-file lines are independent by construction). The
    // FIRST read's schema pins every chunk: chunks of pre-evolution
    // files may lack a physical column entirely, and an explicit schema
    // makes the reader serve it as nulls instead of failing to resolve.
    if (files.size > StatsChunkFiles) {
      // an unpinned table still needs ONE schema pinned across chunks
      // (chunks of pre-evolution files may lack a column entirely)
      val schema = Some(pin.getOrElse(scan(spark, files, None).schema))
      return files.grouped(StatsChunkFiles).flatMap { chunk =>
        statsLinesChunk(spark, substituted(scan(spark, chunk, schema)),
          statCols, cbo)
      }.toSeq
    }
    statsLinesChunk(spark, substituted(scan(spark, files, pin)), statCols,
      cbo)
  }

  private def statsLinesChunk(spark: SparkSession, raw: DataFrame,
                              statCols: Seq[String],
                              cbo: Boolean): Seq[String] = {
    val df = raw.withColumn("__file", input_file_name())
    // a stats "column" is either a plain column or a declared partition
    // TRANSFORM spec (e.g. bucket(16,user_id)) — derived stats recompute
    // through the transform expression, so every rewrite path (compact,
    // merge, zorder) that re-derives via statColsOf carries them forward
    def exprOf(c: String): Column = PartitionTransform.parseOpt(c)
      .map(t => t.expr(raw.schema(t.source).dataType)).getOrElse(col(c))
    // a stat column may be a NESTED leaf ("main.temp" — the raw-document
    // shape): col() already resolves dotted paths, so only the TYPE
    // lookups below need to walk the schema. A literal top-level name
    // containing a dot wins over the dotted interpretation (pre-existing
    // col() semantics).
    def leafType(c: String)
        : Option[org.apache.spark.sql.types.DataType] = {
      def walk(dt: org.apache.spark.sql.types.DataType,
               parts: List[String])
          : Option[org.apache.spark.sql.types.DataType] =
        (dt, parts) match {
          case (t, Nil) => Some(t)
          case (s: org.apache.spark.sql.types.StructType, h :: t) =>
            s.fields.find(_.name.equalsIgnoreCase(h))
              .flatMap(f => walk(f.dataType, t))
          case _ => None
        }
      raw.schema.fields.find(_.name == c).map(_.dataType)
        .orElse(walk(raw.schema, c.split('.').toList))
    }
    // plain columns (not transform specs) additionally record the CBO
    // ingredients in the SAME grouped pass when asked: exact per-file
    // null counts and a mergeable per-file HLL sketch (union across
    // files = snapshot NDV — per-file approx counts would NOT merge,
    // sketches do)
    val plainCols =
      if (!cbo) Seq.empty
      else statCols.filter(c => PartitionTransform.parseOpt(c).isEmpty)
    def sketchable(c: String): Column = leafType(c) match {
      case Some(IntegerType | LongType | StringType | BinaryType) => col(c)
      // everything else goes through an injective-enough string form
      // (dates/decimals exact; float formatting is 1:1 up to -0.0) —
      // NDV is approximate by construction, the cast is not the error
      case _ => col(c).cast("string")
    }
    // numeric plain columns additionally record a per-file KLL quantile
    // sketch (k=800, mergeable): the snapshot fold derives the CBO's
    // equi-height histogram from the union — per-file percentiles would
    // NOT merge, sketches do. Numeric only: the histogram's bins are
    // doubles by API shape, and a lossy string→double would poison
    // range selectivity rather than inform it.
    // the KLL ingests CATALYST-INTERNAL units so the served histogram
    // bins compare against what FilterEstimation derives from literals:
    // numerics as-is, dates as days-since-epoch, timestamps as MICROS
    // (a bare cast-to-double gives seconds — off by 1e6 and the
    // estimator would price every time-range predicate absurdly)
    def kllExpr(c: String): Option[Column] = leafType(c) match {
      case Some(_: NumericType) => Some(col(c).cast("double"))
      case Some(org.apache.spark.sql.types.DateType) =>
        Some(datediff(col(c),
          lit(java.sql.Date.valueOf("1970-01-01"))).cast("double"))
      case Some(org.apache.spark.sql.types.TimestampType) =>
        Some(col(c).cast("double") * lit(1e6))
      case _ => None
    }
    val kllCols = plainCols.filter(c => kllExpr(c).isDefined)
    // variable-width plain columns record exact length sums + maxes in
    // the same pass: the fold serves ColumnStat.avgLen/maxLen, the row-
    // width ingredients that make broadcast BYTE estimates honest for
    // string-heavy tables (defaultSize guesses 20 for every string)
    val lenCols = plainCols.filter(c => leafType(c) match {
      case Some(StringType | BinaryType) => true
      case _ => false
    })
    val aggs = statCols.flatMap { c =>
      Seq(min(exprOf(c)).as(s"${c}__min"), max(exprOf(c)).as(s"${c}__max"))
    } ++ plainCols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}__cnt"),
        hll_sketch_agg(sketchable(c)).as(s"${c}__hll"))
    } ++ kllCols.map { c =>
      kll_sketch_agg_double(kllExpr(c).get, lit(800)).as(s"${c}__kll")
    } ++ lenCols.flatMap { c =>
      Seq(sum(length(col(c)).cast("long")).as(s"${c}__lensum"),
        max(length(col(c))).as(s"${c}__lenmax"))
    } :+ count(lit(1)).as("__rows")
    df.groupBy(col("__file")).agg(aggs.head, aggs.tail: _*)
      .collect().toSeq
      .flatMap { r =>
        // input_file_name is URI-formatted (file://...); normalize back to
        // the manifest's plain-path form so lookups match
        val path = r.getString(0).stripPrefix("file://").stripPrefix("file:")
        val n = r.getAs[Long]("__rows")
        val bounds = statCols.map { c =>
          val lo = StatValue.encodeBound(r.getAs[Any](s"${c}__min"))
          val hi = StatValue.encodeBound(r.getAs[Any](s"${c}__max"))
          (lo, hi) match {
            case (Some((tag, l)), Some((_, h))) => s"$path\t$c\t$tag\t$l\t$h"
            case _ =>
              // distinguish "no rows to bound" from "rows whose extreme
              // has no encodable bound": an all-null file (`null`) can
              // be skipped by min/max consumers — SQL MIN/MAX ignore
              // nulls — but a ±Infinity/NaN float extreme or an
              // unsupported type (`wild`) may BE the answer, so wild
              // files must block metadata-only min/max, not vanish
              val mn = r.getAs[Any](s"${c}__min")
              val mx = r.getAs[Any](s"${c}__max")
              val t = if (mn == null && mx == null) "null" else "wild"
              s"$path\t$c\t$t\t-\t-"
          }
        }
        val cbo = plainCols.flatMap { c =>
          val nulls = n - r.getAs[Long](s"${c}__cnt")
          // an all-null file has no sketch ("-" = empty, NOT missing —
          // absence means no coverage and blocks the snapshot fold)
          val b64 = Option(r.getAs[Array[Byte]](s"${c}__hll"))
            .map(java.util.Base64.getEncoder.encodeToString).getOrElse("-")
          Seq(s"$path\t$c\tnulls\t$nulls\t$nulls",
            s"$path\t$c\thll\t$b64\t-")
        } ++ kllCols.map { c =>
          val b64 = Option(r.getAs[Array[Byte]](s"${c}__kll"))
            .map(java.util.Base64.getEncoder.encodeToString).getOrElse("-")
          s"$path\t$c\tkll\t$b64\t-"
        } ++ lenCols.map { c =>
          // an all-null file sums to null: record 0/0 (contributes
          // nothing to either fold; coverage still counts the file)
          val s = Option(r.getAs[Any](s"${c}__lensum"))
            .map(_.toString).getOrElse("0")
          val m = Option(r.getAs[Any](s"${c}__lenmax"))
            .map(_.toString).getOrElse("0")
          s"$path\t$c\tlen\t$s\t$m"
        }
        s"$path\t#\trows\t$n\t$n" +: (bounds ++ cbo)
      }
  }

  /** Per-file row counts read from parquet FOOTERS — the commit-time
    * fallback for paths that write files without a stats scan (plain
    * [[commit]], delete-vector lands). O(this batch) local footer opens
    * ONCE at commit, so [[fastCount]] never pays O(table) serial remote
    * IO per call. The counter exists so specs can pin "zero footer opens"
    * on the pure-sidecar path. */
  private[sinks] val footerReads = new java.util.concurrent.atomic.AtomicLong
  private[sinks] def footerRowCounts(spark: SparkSession,
                                     files: Seq[String]): Map[String, Long] = {
    if (files.isEmpty) return Map.empty
    val conf = spark.sessionState.newHadoopConf()
    files.map { f =>
      footerReads.incrementAndGet()
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try f -> r.getRecordCount finally r.close()
    }.toMap
  }

  /** `rows` sidecar lines for just-written `files` (data or vector). */
  private[sinks] def rowsLines(spark: SparkSession,
      files: Seq[String]): Seq[String] =
    footerRowCounts(spark, files).toSeq.sortBy(_._1)
      .map { case (f, n) => s"$f\t#\trows\t$n\t$n" }

  /** (path → row count) from the `rows` sidecar lines at `version` —
    * keyed by path, so it covers data files AND delete-vector files. */
  private[sinks] def rowsOf(dir: String, version: Int): Map[String, Long] =
    sidecarLines(dir, version)
      .map(_.split('\t').toSeq)
      .collect { case Seq(f, "#", "rows", n, _) => f -> n.toLong }
      .toMap

  /** Stats lines of `headVersion` restricted to the files in `base` —
    * the carry-forward read, re-derived per OCC attempt because the head
    * (and thus the stats file to inherit) can move under a retry. */
  private def carriedStats(dir: String, headVersion: Option[Int],
                           base: Seq[String],
                           extraKeep: Seq[String] = Seq.empty): Seq[String] =
    headVersion.toSeq.flatMap { h =>
      // `extraKeep` is for non-data paths whose sidecar lines ride with
      // the manifest they are carried by — delete-vector files keep
      // their `rows` lines exactly as long as their `#del=` lines live
      val baseSet = base.toSet ++ extraKeep
      sidecarLines(dir, h)
        .filter(l => baseSet.contains(l.takeWhile(_ != '\t')))
    }

  /** Commit a batch in the FULL landing shape: the batch is z-ordered on
    * `zCols` ([[Layout.writeZordered]] — quantile rank buckets → Morton
    * code → one range shuffle, so each file covers a tight hyper-box),
    * then published with per-file stats CARRIED FORWARD incrementally:
    * stats lines for files inherited from the previous head are copied
    * from its stats file, and only the NEW batch's files are scanned —
    * per-commit stats cost is O(batch), never O(table), which is what
    * makes stats maintenance viable on a 100 TB landing. Clustered files
    * + manifest stats is the combination that makes [[prunedRead]]
    * actually skip: z-order gives files disjoint ranges, stats make the
    * ranges visible at planning time. */
  def commitClustered(df: DataFrame, dir: String, zCols: Seq[String],
                      statCols: Seq[String], numFiles: Int = 16,
                      bitsPerDim: Int = 6, append: Boolean = true): Int = {
    val spark = df.sparkSession
    val batchDir = s"$dir/data/${java.util.UUID.randomUUID}"
    Layout.writeZordered(df, zCols, batchDir, numFiles, bitsPerDim)
    val newFiles = io.list(batchDir).filter(_.endsWith(".parquet")).sorted
      .map(n => s"$batchDir/$n")
    validateConstraints(spark, dir, newFiles, userBatch = true)
    // the new files' stats need a scan — do it ONCE, outside the OCC
    // loop; a partition-declared table keeps its transform stats too, so
    // a z-ordered landing never silently drops bucket pruning
    // writeZordered writes exactly `df`'s columns
    val phys = physOf(df)
    val newStats = statsLines(spark, dir, newFiles,
      (statCols ++ partitioningOf(dir).flatMap(_.statNames)).distinct,
      cbo = cboOnCommit(dir), known = Some(phys))
    if (!append) {
      val v = publish(dir, versions(dir).lastOption.getOrElse(0) + 1,
        s"#ts=${now()}" +: (schemaHeader(Seq.empty, Seq(phys),
          replacesAll = true) ++ newFiles))
      if (!io.exists(batchDir)) { // the same stalled-past-grace guard
        io.delete(manifestPath(dir, v)) // as [[publishOnHeadTxn]]'s
        throw new IllegalStateException(
          s"commit to $dir aborted: batch directory $batchDir vanished " +
            "before publish — writer stalled past the vacuum grace window")
      }
      io.writeLines(statsPath(dir, v),
        rowsHeaderLine(sumRows(newStats), 0L) +: newStats)
      v
    } else {
      // same segmented-append shape as [[commit]]: batch bulk in new
      // segments once, head bulk carried as pointers
      val cov = coversOf(newStats)
      val newSeg = segLine(dir, newFiles, cov)
      val newStatsSeg = segLine(dir, newStats, cov)
      var headAt: Option[Int] = None
      val v = publishOnHeadRaw(dir, guardFiles = newFiles) { head =>
        headAt = head
        s"#ts=${now()}" +: (carryManifest(dir, head, Seq(phys)) ++ newSeg)
      }
      val hdr = (headAt match {
        case None => Some((0L, 0L))
        case some => headerOrUpgrade(dir, some)
      }).map { case (d, del) =>
        rowsHeaderLine(d + sumRows(newStats), del)
      }.toSeq
      io.writeLines(statsPath(dir, v),
        hdr ++ carrySidecar(dir, headAt) ++ newStatsSeg)
      v
    }
  }

  /** (file → (tag, min, max)) for `col` at `version`; empty if no stats.
    * Legacy 4-field lines (untagged doubles) and non-range lines (bloom
    * filters) are ignored — absent stats degrade to keeping the file,
    * never to a misread bound. */
  /** Sidecar tags that carry RANGE bounds (min/max pruning). Everything
    * else — `bloom` bitmaps, `nulls` counts, `hll` NDV sketches — shares
    * the line format but must never be read as a bound: a parser that
    * merely excluded "bloom" would let a later-added tag silently
    * OVERWRITE a file's num line in the per-file fold. */
  private[sinks] val RangeTags = Set("num", "str", "null", "wild")

  private[sinks] def statsOf(dir: String, version: Int, column: String)
      : Map[String, (String, String, String)] =
    sidecarLines(dir, version)
      .map(_.split('\t').toSeq)
      .collect { case Seq(f, c, tag, lo, hi)
        if c == column && RangeTags(tag) => f -> ((tag, lo, hi))
      }
      .toMap

  /** (file → (mBits, k, bitset)) bloom lines for `col` at `version`. */
  private def bloomsOf(dir: String, version: Int, column: String)
      : Map[String, (Int, Int, java.util.BitSet)] =
    sidecarLines(dir, version)
      .map(_.split('\t').toSeq)
      .collect { case Seq(f, c, "bloom", cfg, b64) if c == column =>
        val Array(m, k) = cfg.split(':').map(_.toInt)
        f -> ((m, k, java.util.BitSet.valueOf(
          java.util.Base64.getDecoder.decode(b64))))
      }
      .toMap

  /** Does a file with stored stats (tag, mn, mx) possibly intersect the
    * query range [lo, hi]? Typed comparison per tag family; any mismatch
    * (null tag, bound type vs column type, unparseable) keeps the file —
    * the superset guarantee is the one invariant pruning must never
    * trade away. */
  /** stored-upper >= query bound, typed per tag family; any mismatch
    * (null tag, bound type vs column type, unparseable) keeps the file —
    * the superset guarantee is the one invariant pruning must never
    * trade away. Both string sides are DECODED before ordering:
    * URL-encoding is not order-preserving (' ' → '+', punctuation →
    * %XX), so comparing a decoded stored bound against an encoded query
    * bound can wrongly prune a file that contains the probed string. */
  private def boundGeq(tag: String, mxS: String, q: Any): Boolean =
    (tag, StatValue.encodeBound(q)) match {
      case ("num", Some(("num", qe))) =>
        try BigDecimal(mxS) >= BigDecimal(qe)
        catch { case _: NumberFormatException => true }
      case ("str", Some(("str", qe))) =>
        // UTF-8 byte order, NOT Java's UTF-16 compareTo: the stored
        // bounds came from Spark's min/max (UTF8String binary order) and
        // the predicate the file must survive evaluates in that same
        // order — beyond the BMP the two orders disagree, and a UTF-16
        // comparison here would wrongly prune a file whose only row
        // (e.g. U+1F600) satisfies `s >= ''`
        StatValue.utf8Compare(
          StatValue.decodeStr(mxS), StatValue.decodeStr(qe)) >= 0
      case _ => true
    }

  /** stored-lower <= query bound — the other half of [[boundGeq]]. */
  private def boundLeq(tag: String, mnS: String, q: Any): Boolean =
    (tag, StatValue.encodeBound(q)) match {
      case ("num", Some(("num", qe))) =>
        try BigDecimal(mnS) <= BigDecimal(qe)
        catch { case _: NumberFormatException => true }
      case ("str", Some(("str", qe))) =>
        StatValue.utf8Compare(
          StatValue.decodeStr(mnS), StatValue.decodeStr(qe)) <= 0
      case _ => true
    }

  private[sinks] def mayIntersect(stat: (String, String, String),
                                  lo: Any, hi: Any): Boolean = {
    val (tag, mnS, mxS) = stat
    boundGeq(tag, mxS, lo) && boundLeq(tag, mnS, hi)
  }

  /** [[mayIntersect]] with OPTIONAL bounds — the shape SQL pushdown
    * produces (`ts >= x` has no upper bound). A missing side constrains
    * nothing. */
  private def mayIntersectOpt(stat: (String, String, String),
                              lo: Option[Any], hi: Option[Any]): Boolean = {
    val (tag, mnS, mxS) = stat
    lo.forall(boundGeq(tag, mxS, _)) && hi.forall(boundLeq(tag, mnS, _))
  }

  /** Manifest-level file skipping for PUSHED-DOWN predicates — the seam
    * the SQL catalog's scan builder calls with whatever conjunctive
    * ranges and equality probes it could translate from a query's WHERE
    * clause. `ranges` are optionally-bounded per-column intervals (ANDed);
    * `eqs` are per-column probe-value sets, each resolved through the
    * full equality stack ([[prunedFilesEq]]: range stats + blooms +
    * declared bucket transform). Untranslatable predicates simply don't
    * appear — pruning stays a superset guarantee, Spark still evaluates
    * the exact predicates on the surviving files. */
  private[graft] def prunedFilesPushed(spark: SparkSession, dir: String,
      version: Int, ranges: Seq[(String, Option[Any], Option[Any])],
      eqs: Seq[(String, Seq[Any])]): Seq[String] = {
    val raw = rawManifest(dir, version)
    val keep = rangePruned(dir, version, raw, ranges)
    eqs.foldLeft(keep) { case (acc, (c, vs)) =>
      val admit = eqPruned(spark, dir, version, raw, c, vs).toSet
      acc.filter(admit)
    }
  }

  /** Whether any head-version file carries a bloom sidecar line for
    * `column` — the gate ALTER COLUMN TYPE widening checks: bloom
    * positions hash the column's VALUE BYTES by type, so a widened probe
    * (long vs the int the filter was built from) would silently stop
    * matching and pruning would drop live files. */
  def hasBloomStats(dir: String, column: String): Boolean =
    versions(dir).lastOption.exists(v => bloomsOf(dir, v, column).nonEmpty)

  /** Schema of the table AT `version`'s vintage: inferred from the newest
    * files INTRODUCED at or before `version` (walking back past
    * file-less commits such as pure deletes). Whole-table parquet
    * inference picks an ARBITRARY file's footer under mixed-vintage
    * history — fine for uniform tables, nondeterministic the moment a
    * column was re-typed — so anything that PINS a schema (the stream
    * source's conformance contract) must anchor here instead. */
  private[graft] def vintageSchema(spark: SparkSession, dir: String,
      version: Int): org.apache.spark.sql.types.StructType = {
    val vs = versions(dir).filter(_ <= version).reverse
    require(vs.nonEmpty, s"no version at or before v$version of $dir")
    val intro = vs.view.map { v =>
      val prev = vs.find(_ < v).map(filesOf(dir, _).toSet)
        .getOrElse(Set.empty[String])
      filesOf(dir, v).filterNot(prev)
    }.find(_.nonEmpty)
    val files = intro.getOrElse {
      val f = filesOf(dir, vs.head)
      require(f.nonEmpty, s"no data files at or before v$version of $dir")
      f
    }
    spark.read.parquet(files: _*).schema
  }

  /** Read a snapshot with manifest-level file skipping: files whose
    * [min, max] for `column` cannot intersect [lo, hi] are dropped from
    * the scan BEFORE Spark sees them; files without stats are kept
    * (pruning must never lose rows). The caller still applies its exact
    * predicate — stats pruning is a superset guarantee, same contract as
    * parquet row-group skipping one level up. Bounds are typed: numbers
    * for numeric columns, `java.sql.Date`/`LocalDate` for dates,
    * `Timestamp`/`Instant` for timestamps, strings for string columns. */
  def prunedRead(spark: SparkSession, dir: String, column: String,
                 lo: Any, hi: Any,
                 version: Option[Int] = None): DataFrame =
    prunedScan(spark, dir, version)((v, raw) =>
      rangePruned(dir, v, raw, Seq((column, Option(lo), Option(hi)))))

  /** Read `version` (default: the head) over the files `prune` keeps of
    * its raw manifest — the one body of [[prunedRead]] and
    * [[prunedReadIn]]. */
  private def prunedScan(spark: SparkSession, dir: String,
      version: Option[Int])(
      prune: (Int, Seq[String]) => Seq[String]): DataFrame = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val v = version.getOrElse(vs.last)
    val raw = rawManifest(dir, v)
    val keep = prune(v, raw)
    if (keep.isEmpty) read(spark, dir, Some(v)).limit(0)
    // the full delete set is applied — vectors for pruned files simply
    // match nothing (anti-join keys are file paths)
    else readLive(spark, dir, raw, keep)
  }

  /** Candidate file lines of a version with SEGMENT-LEVEL skipping: a
    * pointer whose recorded cover satisfies `drop` loses its whole
    * segment UNREAD — the manifest-list move that makes selective
    * planning O(matching segments + headers) instead of O(table files).
    * `drop` must be sound against a TRUE cover (covers enclose every
    * payload file's range by construction), so dropping never violates
    * the superset guarantee. */
  private def coverPrunedFiles(raw: Seq[String],
      drop: Map[String, (String, String, String)] => Boolean)
      : Seq[String] =
    raw.flatMap { l =>
      if (segRef(l)) {
        if (drop(segCovers(l))) Seq.empty else readSegment(segPath(l))
      } else Seq(l)
    }.filter(l => l.nonEmpty && !l.startsWith("#"))

  /** Range-pruned files: segment-level cover skip, then per-file stats
    * refinement — the sidecar's disjoint segments are skipped by the
    * same covers (their files are already out of the candidate list). */
  private def rangePruned(dir: String, version: Int, raw: Seq[String],
      ranges: Seq[(String, Option[Any], Option[Any])]): Seq[String] = {
    def disjoint(covers: Map[String, (String, String, String)]): Boolean =
      ranges.exists { case (c, lo, hi) =>
        covers.get(c).exists(cov => !mayIntersectOpt(cov, lo, hi))
      }
    val candidates = coverPrunedFiles(raw, disjoint)
    if (ranges.isEmpty) return candidates
    val sp = statsPath(dir, version)
    val statLines =
      if (!io.exists(sp)) Seq.empty
      else io.readLines(sp).flatMap { l =>
        if (segRef(l)) {
          if (disjoint(segCovers(l))) Seq.empty else readSegment(segPath(l))
        } else Seq(l)
      }
    val cols = ranges.map(_._1).toSet
    val statsByCol = statLines.map(_.split('	').toSeq).collect {
      case Seq(f, c, tag, lo, hi) if cols.contains(c) && RangeTags(tag) =>
        (c, f, (tag, lo, hi))
    }.groupBy(_._1)
      .map { case (c, xs) => c -> xs.map(x => (x._2, x._3)).toMap }
    candidates.filter { f =>
      ranges.forall { case (c, lo, hi) =>
        statsByCol.get(c).flatMap(_.get(f))
          .forall(mayIntersectOpt(_, lo, hi))
      }
    }
  }

  /** Files `prunedRead` would scan — exposed so specs (and operators) can
    * assert the skipping itself, not just result correctness. */
  private[graft] def prunedFiles(dir: String, version: Int, column: String,
                                 lo: Any, hi: Any): Seq[String] =
    rangePruned(dir, version, rawManifest(dir, version),
      Seq((column, Option(lo), Option(hi))))

  // ---- bloom-filter file skipping (point lookups / IN-lists) ----

  /** Per-file bloom filters for `bloomCols`, appended to `version`'s stats
    * file as `bloom` lines — the skipping index min/max CANNOT provide:
    * on a high-cardinality key that isn't the clustering axis, every
    * file's [min, max] spans the whole domain and a point lookup scans
    * the table; a bloom answers "might this FILE contain this key?" at
    * planning time, so `WHERE id = x` touches ~1 file out of thousands.
    *
    * Scale shape: ONE scan of the target files builds every filter — per
    * row, k positions (`pmod(xxhash64(seed, col), m)`), aggregated as a
    * bounded per-file distinct-position set (≤ m/8 bytes of state per
    * file by construction, the map-side partial dedupes). Incremental:
    * only files LACKING a bloom line are scanned, so the maintenance call
    * after each append costs O(new files) — same discipline as the stats
    * carry-forward. Size `mBits` at ~10+ bits per expected distinct per
    * file (default suits ~10^4; a 10^7-row file wants 1 << 27).
    *
    * Nulls: a null key never matches an equality probe, so null positions
    * (xxhash64 of an all-null input degrades to the seed) only cost a bit
    * of fill, never correctness. Probing FOR null is not a bloom question
    * (`IS NULL` is a range-stats question — the `null` tag). */
  def writeBlooms(spark: SparkSession, dir: String, version: Int,
                  bloomCols: Seq[String], mBits: Int = 1 << 18,
                  k: Int = 5): Unit = {
    // pmod (not bit-masking) keeps any modulus mathematically sound, so
    // power-of-two m is a sizing convention, not a requirement — the
    // guard only pins the byte-array layout (whole bytes) and a floor.
    require(mBits >= 64 && mBits % 8 == 0,
      s"mBits must be >= 64 and a multiple of 8: $mBits")
    val p = statsPath(dir, version)
    val existing = if (io.exists(p)) io.readLines(p) else Seq.empty
    val raw = rawManifest(dir, version)
    val files = filesIn(raw)
    // The bitmap is OR-folded on the EXECUTORS (fixed m/8-byte buffer per
    // file, map-side partials merge before the shuffle); the driver
    // collects only the ~m/8-byte finished bitmap per file. Collecting
    // position SETS instead (the obvious collect_set) approaches
    // m/8 * 32 bits of driver transfer per near-full file — a full-table
    // build over 10^5 files would push the whole index through one
    // collect.
    val bloomAgg = udaf(new BloomBitsAgg(mBits),
      org.apache.spark.sql.Encoders.scalaLong)
    val newLines = bloomCols.flatMap { c =>
      val have = bloomsOf(dir, version, c).keySet
      val need = files.filterNot(have)
      if (need.isEmpty) Seq.empty
      else {
        val posArr = array((0 until k).map(s =>
          pmod(xxhash64(lit(s), col(c)), lit(mBits.toLong))): _*)
        // chunked like statsLines: the collect carries a finished m/8-
        // byte bitmap PER FILE, so one pass over a 100k-file table would
        // still pull files x m/8 bytes (e.g. 3 GB at the default m)
        // through a single collect — bound it per chunk instead. The
        // full-set schema pins every chunk (a chunk of pre-evolution
        // files may lack the bloom column; the explicit schema serves it
        // as nulls instead of failing to resolve).
        val pinned = Some(physSchemaOf(dir, raw)
          .getOrElse(scan(spark, need, None).schema))
        need.grouped(StatsChunkFiles).toSeq.flatMap { chunk =>
          scan(spark, chunk, pinned)
            .select(plainPath.as("__file"), explode(posArr).as("pos"))
            .groupBy(col("__file")).agg(bloomAgg(col("pos")).as("bits"))
            .collect().toSeq
            .map { r =>
              val b64 = java.util.Base64.getEncoder
                .encodeToString(r.getAs[Array[Byte]](1))
              s"${r.getString(0)}\t$c\tbloom\t$mBits:$k\t$b64"
            }
        }
      }
    }
    if (newLines.nonEmpty) io.writeLines(p, existing ++ newLines)
  }

  /** Files a probe for any of `values` on `column` must scan: bloom says
    * no → skip; no bloom, or all k positions set for SOME value → keep
    * (min/max range stats are ALSO consulted — both layers are superset
    * guarantees and compose). Probe positions are computed by the ENGINE
    * (one 1-row job casting each value to the column's own type), so
    * build and probe hash identically by construction. */
  private[graft] def prunedFilesEq(spark: SparkSession, dir: String,
      version: Int, column: String, values: Seq[Any]): Seq[String] =
    eqPruned(spark, dir, version, rawManifest(dir, version), column, values)

  /** [[prunedFilesEq]] over version `version`'s already-read manifest. */
  private def eqPruned(spark: SparkSession, dir: String, version: Int,
      raw: Seq[String], column: String, values: Seq[Any]): Seq[String] = {
    require(values.nonEmpty && values.forall(_ != null),
      "equality pruning needs non-null probe values")
    // segment-level skip first: a segment whose cover excludes EVERY
    // probe value cannot hold a match — dropped unread, same soundness
    // as the range path (covers are true enclosures)
    val files = coverPrunedFiles(raw, covers =>
      covers.get(column).exists(cov =>
        values.forall(v => !mayIntersect(cov, v, v))))
    if (files.isEmpty) return files
    val blooms = bloomsOf(dir, version, column)
    val stats = statsOf(dir, version, column)
    // a bucket transform on the probed column adds a third pruning
    // layer: each file's derived bucket-id range admits ~1/n of the key
    // space, with NO per-key index built — the landing's own clustering
    // is the index. Partition-spec EVOLUTION makes this per-file: the
    // candidate transforms are the currently-declared bucket PLUS every
    // bucket spec the stats sidecar itself records for this column, so
    // files landed under an old bucket(8,k) keep pruning by THEIR
    // vintage after the table re-declares bucket(16,k) — each file is
    // tested only against specs it has stats for (superset otherwise).
    val bucketSpecs: Seq[PartitionTransform.Bucket] =
      (partitioningOf(dir).collect { case b: PartitionTransform.Bucket
        if b.source == column => b } ++
        statColsOf(dir, version).flatMap(PartitionTransform.parseOpt)
          .collect { case b: PartitionTransform.Bucket
            if b.source == column => b }).distinct
    val bucketStats: Seq[(PartitionTransform.Bucket,
        Map[String, (String, String, String)])] =
      bucketSpecs.map(b => b -> statsOf(dir, version, b.spec))
        .filter(_._2.nonEmpty)
    if (blooms.isEmpty && stats.isEmpty && bucketStats.isEmpty) return files
    // the type the files were WRITTEN with (bucket ids and bloom
    // positions hash by it): the `#schema=` header when every file
    // carries one schema, else the first file's footer — never the
    // declaration, which a widened column has moved past old files
    val dt = schemaIn(raw)
      .getOrElse(scan(spark, Seq(files.head), None).schema)(column).dataType
    // probe bucket ids per spec vintage, hashed by the ENGINE through
    // the same expression each landing clustered with — build and probe
    // agree by construction; ONE tiny job covers every (spec, value)
    val bucketOk: String => Boolean =
      if (bucketStats.isEmpty) _ => true
      else {
        val exprs = for { (b, _) <- bucketStats; v <- values }
          yield pmod(hash(lit(v).cast(dt)), lit(b.n)).cast("int")
        val row = spark.range(1).select(exprs: _*).head()
        val bidsBySpec: Seq[(Map[String, (String, String, String)], Seq[Int])] =
          bucketStats.zipWithIndex.map { case ((_, bstats), i) =>
            bstats -> values.indices
              .map(j => row.getInt(i * values.size + j)).distinct
          }
        f => bidsBySpec.forall { case (bstats, bids) =>
          bstats.get(f).forall(st => bids.exists(id => mayIntersect(st, id, id)))
        }
      }
    // positions per (m, k) config present among the files (configs can
    // differ across maintenance eras); one tiny job computes them all
    val configs = blooms.values.map(v => (v._1, v._2)).toSet.toSeq
    val posByConfig: Map[(Int, Int), Seq[Seq[Int]]] =
      if (configs.isEmpty) Map.empty
      else {
        val exprs = for {
          (m, kk) <- configs; v <- values; s <- 0 until kk
        } yield pmod(xxhash64(lit(s), lit(v).cast(dt)), lit(m.toLong))
          .cast("int")
        val row = spark.range(1).select(exprs: _*).head()
        var i = -1
        configs.map { case (m, kk) =>
          (m, kk) -> values.map(_ =>
            (0 until kk).map { _ => i += 1; row.getInt(i) })
        }.toMap
      }
    files.filter { f =>
      val rangeOk = values.exists(v =>
        stats.get(f).forall(mayIntersect(_, v, v)))
      val bloomOk = blooms.get(f) match {
        case None => true
        case Some((m, kk, bits)) =>
          posByConfig((m, kk)).exists(_.forall(bits.get))
      }
      rangeOk && bloomOk && bucketOk(f)
    }
  }

  /** Point-lookup / IN-list read with bloom + range file skipping — the
    * needle-in-100-TB scan: `WHERE key IN (...)` resolves to the handful
    * of files whose filters admit a probe, before Spark plans anything.
    * The caller still applies the exact predicate (superset guarantee;
    * bloom false positives cost a file scan, never a wrong row). Delete
    * vectors apply as in every read. */
  def prunedReadIn(spark: SparkSession, dir: String, column: String,
                   values: Seq[Any], version: Option[Int] = None)
      : DataFrame =
    prunedScan(spark, dir, version)((v, raw) =>
      eqPruned(spark, dir, v, raw, column, values))

  /** The `#`-prefixed metadata header lines of a version's manifest
    * (segment pointers are storage layout, not headers — excluded). */
  private[sinks] def metaOf(dir: String, version: Int): Seq[String] =
    io.readLines(manifestPath(dir, version))
      .filter(l => l.startsWith("#") && !segRef(l))

  /** Column names a version's stats file covers (empty if none). The
    * `#` pseudo-column (per-file row counts) is table metadata, not a
    * stats-tracked column — inheriting it into a statsLines scan would
    * try to aggregate a column that doesn't exist. */
  private[sinks] def statColsOf(dir: String, version: Int): Seq[String] =
    sidecarLines(dir, version).map(_.split('\t'))
      .collect { case a if a.length >= 2 && a(1) != "#" => a(1) }.distinct

  // ---- metadata-only answers and the CBO folds ----

  /** Metadata-only COUNT(*): the live row count folded from the manifest
    * stats sidecar's per-file `rows` lines (written by every commit path —
    * append, clustered, merge, compact, z-order, delete — at the moment
    * the files land) minus the delete-vector row counts recorded the same
    * way. The happy path opens NOTHING: one sidecar read answers COUNT(*)
    * over 100 TB, the same discipline as [[fastMinMax]]. Files a
    * pre-upgrade manifest never counted fall back to a parquet-footer
    * read — still no data pages, but O(uncounted files) driver IO, which
    * is why commits record counts eagerly.
    * Unmaterialized EQUALITY deletes refuse loudly: their kill count
    * depends on data (a key may match 0 rows, or rows already
    * positionally dead) — run [[compact]] first. */
  def fastCount(spark: SparkSession, dir: String,
                version: Option[Int] = None): Long = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val v = version.getOrElse(vs.last)
    require(eqDelsOf(dir, v).isEmpty,
      s"$dir carries unmaterialized equality deletes at v$v — their row " +
        s"count is data-dependent; compact() first or use read().count()")
    // happy path: the incrementally-maintained totals header answers in
    // O(1) — one raw sidecar line, independent of file count
    rowsHeaderOf(dir, v) match {
      case Some((d, del)) => d - del
      case None =>
        val rows = rowsOf(dir, v)
        def total(files: Seq[String]): Long = {
          val missing = files.filterNot(rows.contains)
          files.flatMap(rows.get).sum +
            footerRowCounts(spark, missing).values.sum
        }
        total(filesOf(dir, v)) - total(delFilesOf(dir, v))
    }
  }

  /** Metadata-only MIN/MAX of a stats-tracked column, folded from the
    * manifest stats sidecar (one typed bound per file, written at commit
    * or by [[writeStats]]). Returns `(tag, min, max)` in the sidecar's
    * encoding — `num` bounds are decimal strings (dates as epoch days,
    * timestamps as micros), `str` bounds are the strings themselves.
    * All-null files contribute nothing (SQL MIN/MAX ignore nulls).
    * Returns None — "fall back to a scan" — when any live file lacks a
    * stats line for `column`, when every file is all-null, or when ANY
    * delete debt exists: a delete may have killed the extremal row, so
    * the sidecar bound is only an enclosure, not the answer. The happy
    * path answers min/max over 100 TB without touching data. */
  def fastMinMax(dir: String, column: String,
                 version: Option[Int] = None)
      : Option[(String, String, String)] = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val v = version.getOrElse(vs.last)
    if (delFilesOf(dir, v).nonEmpty || eqDelsOf(dir, v).nonEmpty)
      return None
    val stats = statsOf(dir, v, column)
    val files = filesOf(dir, v)
    if (!files.forall(stats.contains)) return None
    val all = files.map(stats(_))
    // a `wild` file has rows whose extreme could not be bounded
    // (±Infinity/NaN float, unsupported type) — unlike an all-null file
    // it cannot be skipped, because the unencodable extreme may BE the
    // table's min or max; any wild file forces the scan path
    if (all.exists(_._1 == "wild")) return None
    val bounds = all.filter(_._1 != "null")
    bounds.map(_._1).distinct match {
      case Seq("num") => Some(("num",
        bounds.map(b => BigDecimal(b._2)).min.toString,
        bounds.map(b => BigDecimal(b._3)).max.toString))
      case Seq("str") =>
        // fold in Spark's UTF8String order, not Java's — per-file bounds
        // were computed by Spark's min/max (UTF-8 binary), and the SQL
        // agg pushdown serves this fold as THE answer for MIN/MAX
        Some(("str",
          bounds.map(b => StatValue.decodeStr(b._2)).min(StatValue.utf8Ord),
          bounds.map(b => StatValue.decodeStr(b._3)).max(StatValue.utf8Ord)))
      case _ => None // all-null column, or mixed tags: scan instead
    }
  }

  /** On-disk bytes of `files` through the IO seam — the DSv2 statistics
    * `sizeInBytes` source (compressed parquet bytes, the same convention
    * Spark's own file sources report). A file that vanished under a
    * concurrent expire counts zero — statistics are estimates, never a
    * correctness surface. */
  private[graft] def fileBytes(files: Seq[String]): Long =
    files.iterator.map(f => if (io.exists(f)) io.size(f) else 0L).sum

  /** Exact live row count at `version` from the sidecar ALONE — the
    * plan-time twin of [[fastCount]]: planning must never pay per-file
    * IO, so there is no footer fallback, and instead of a loud require
    * this returns None on eq-delete debt or incomplete `rows` coverage
    * (the caller reports "unknown", Spark falls back to size-based
    * estimates). */
  private[graft] def statNumRows(dir: String, version: Int): Option[Long] = {
    // a declared-but-never-committed table has no manifest to fold; the
    // caller treats None as "unknown" (planning must never throw)
    if (!io.exists(manifestPath(dir, version))) {
      return if (version == 0) Some(0L) else None
    }
    if (eqDelsOf(dir, version).nonEmpty) return None
    rowsHeaderOf(dir, version) match {
      case Some((d, del)) => Some(d - del) // O(1): one raw header line
      case None =>
        val rows = rowsOf(dir, version)
        val data = filesOf(dir, version)
        val dels = delFilesOf(dir, version)
        if (!(data.iterator ++ dels.iterator).forall(rows.contains)) None
        else Some(data.iterator.map(rows).sum - dels.iterator.map(rows).sum)
    }
  }

  /** Per-column CBO ingredients folded from the sidecar: EXACT null
    * counts (sum of per-file `nulls` lines) and approximate NDV (union
    * of per-file `hll` sketches — per-file estimates would not merge,
    * sketches do; same DataSketches HLL library Spark's own
    * `hll_sketch_agg` writes). A column reports only when EVERY data
    * file of the snapshot carries its line — a partial fold would lie —
    * and nothing reports under row-level delete debt (dead rows would
    * inflate both). One sidecar read, zero data files opened, any table
    * size. */
  /** Memo for the CBO folds below: both are pure functions of the
    * version's sidecar (a version's data files are immutable, and the
    * one mutation path — `writeStats` adding ANALYZE layers later —
    * rewrites the sidecar file, so its byte size keys the cache
    * correctly). Without this, every query PLAN over a filtered scan of
    * an ANALYZEd table would re-heapify one HLL (and one KLL) sketch
    * per file per column — at 100k files that is real planner latency
    * paid per query rather than once per snapshot. Bounded: an
    * access-ordered LRU capped at 512 entries, so a storm of queries
    * over UNRELATED tables (test suites churn thousands of tmp tables)
    * evicts cold folds one by one instead of momentarily re-heapifying
    * every hot table's sketches after a wholesale clear; correctness
    * never rides on a hit. */
  private[sinks] val cboFoldCache =
    new java.util.LinkedHashMap[(String, Int, Long), AnyRef](
      64, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Int, Long), AnyRef]): Boolean =
        size > 512
    }
  private def cboFold[T <: AnyRef](dir: String, version: Int,
                                   tag: Long)(compute: => T): T = {
    val sp = statsPath(dir, version)
    val size = if (io.exists(sp)) io.size(sp) else -1L
    val key = (s"$dir#$tag", version, size)
    // synchronized get then compute OUTSIDE the lock then synchronized
    // put: the folds nest (lenStats consults columnStats), so the lock
    // must never be held across `compute` — the same hazard class as
    // ConcurrentHashMap's "Recursive update" under computeIfAbsent. A
    // racy duplicate compute is harmless — the folds are pure functions
    // of the key.
    val cached = cboFoldCache.synchronized(cboFoldCache.get(key))
    if (cached != null) return cached.asInstanceOf[T]
    val computed = compute
    cboFoldCache.synchronized(cboFoldCache.putIfAbsent(key, computed))
    computed
  }
  /** Test seam: number of LIVE entries a set of tables holds in the fold
    * cache (the LRU-survival spec's probe). */
  private[sinks] def cboFoldCacheKeysFor(dirs: Set[String]): Int =
    cboFoldCache.synchronized {
      val it = cboFoldCache.keySet.iterator
      var n = 0
      while (it.hasNext) {
        val k = it.next()
        if (dirs.exists(d => k._1.startsWith(d + "#"))) n += 1
      }
      n
    }

  private[graft] def columnStatsOf(dir: String, version: Int)
      : Map[String, (Option[Long], Option[Long])] =
    cboFold(dir, version, 0L)(columnStatsOfUncached(dir, version))

  private def columnStatsOfUncached(dir: String, version: Int)
      : Map[String, (Option[Long], Option[Long])] = {
    if (delFilesOf(dir, version).nonEmpty ||
      eqDelsOf(dir, version).nonEmpty) return Map.empty
    val dataFiles = filesOf(dir, version).toSet
    if (dataFiles.isEmpty) return Map.empty
    val parsed = sidecarLines(dir, version).map(_.split('\t').toSeq)
    val nulls = parsed.collect {
      case Seq(f, c, "nulls", lo, _) if dataFiles(f) => (c, f, lo.toLong)
    }
    val hlls = parsed.collect {
      case Seq(f, c, "hll", b64, _) if dataFiles(f) => (c, f, b64)
    }
    (nulls.map(_._1) ++ hlls.map(_._1)).distinct.map { c =>
      // fold per FILE (immutable ⇒ duplicate lines agree; rewrites may
      // re-emit a carried file's line next to the original)
      val nm = nulls.collect { case (`c`, f, n) => f -> n }.toMap
      val nullCount =
        if (nm.keySet == dataFiles) Some(nm.values.sum) else None
      val hm = hlls.collect { case (`c`, f, b) => f -> b }.toMap
      val ndv =
        if (hm.keySet != dataFiles) None
        else {
          val u = new org.apache.datasketches.hll.Union(12)
          hm.values.filter(_ != "-").foreach { b64 =>
            u.update(org.apache.datasketches.hll.HllSketch.heapify(
              java.util.Base64.getDecoder.decode(b64)))
          }
          Some(math.round(u.getEstimate))
        }
      c -> ((nullCount, ndv))
    }.toMap.filter { case (_, (a, b)) => a.isDefined || b.isDefined }
  }

  /** Snapshot equi-height histogram of a numeric PHYSICAL column, folded
    * from the per-file KLL sketches the ANALYZE pass recorded
    * ([[statsLines]] `kll` lines): merge across files (per-file
    * percentiles would not merge; sketches do), split the merged rank
    * space into `numBins` equal-count bins, and hand back
    * `(min, max, rowsPerBin, bins(lo, hi, ndvPerBin))` — exactly the
    * ingredients Spark's `FilterEstimation` needs to price a RANGE
    * predicate on a SKEWED column (ndv + uniform-interval interpolation
    * assumes mass spreads evenly between min and max; the histogram is
    * what corrects that, and is the difference between a filtered side
    * being judged broadcastable or not). min/max are EXACT (KLL stores
    * the extremes losslessly); interior boundaries carry the sketch's
    * ~0.6% rank error at k=800 — an estimator input, never a
    * correctness input. Per-bin NDV is apportioned from the HLL fold
    * (distinct values spread across equal-count bins), capped by the
    * bin's row count. Same coverage discipline as [[columnStatsOf]]:
    * any delete debt or a file without a line mutes the fold (None),
    * because dead or uncovered rows would shift every boundary. */
  /** (avgLen, maxLen) of variable-width PHYSICAL columns from the `len`
    * sidecar lines — exact: per-file length sums fold against the exact
    * non-null counts. Same coverage/debt discipline as the other CBO
    * folds; cached under the same key scheme (tag -1). */
  private[graft] def lenStatsOf(dir: String, version: Int)
      : Map[String, (Long, Long)] =
    cboFold(dir, version, -1L)(lenStatsOfUncached(dir, version))

  private def lenStatsOfUncached(dir: String, version: Int)
      : Map[String, (Long, Long)] = {
    if (delFilesOf(dir, version).nonEmpty ||
      eqDelsOf(dir, version).nonEmpty) return Map.empty
    val dataFiles = filesOf(dir, version).toSet
    if (dataFiles.isEmpty) return Map.empty
    val parsed = sidecarLines(dir, version).map(_.split('\t').toSeq)
    val lens = parsed.collect {
      case Seq(f, c, "len", s, m) if dataFiles(f) => (c, f, s.toLong, m.toLong)
    }
    val nulls = columnStatsOf(dir, version)
    val totalRows = statNumRows(dir, version)
    lens.map(_._1).distinct.flatMap { c =>
      // fold per FILE (duplicate lines from rewrite carries agree)
      val perFile = lens.collect { case (`c`, f, s, m) => f -> ((s, m)) }
        .toMap
      val covered = perFile.keySet == dataFiles
      val nonNull = for {
        t <- totalRows
        n <- nulls.get(c).flatMap(_._1)
      } yield t - n
      if (!covered || nonNull.isEmpty) None
      else {
        val sumAll = perFile.values.map(_._1).sum
        val maxAll = perFile.values.map(_._2).max
        val avg =
          if (nonNull.get <= 0) 0L
          else math.max(1L, math.round(sumAll.toDouble / nonNull.get))
        Some(c -> ((avg, maxAll)))
      }
    }.toMap
  }

  private[graft] def histogramsOf(dir: String, version: Int,
                                  numBins: Int = 64)
      : Map[String, (Double, Double, Double, Seq[(Double, Double, Long)])] =
    cboFold(dir, version, numBins.toLong)(
      histogramsOfUncached(dir, version, numBins))

  private def histogramsOfUncached(dir: String, version: Int, numBins: Int)
      : Map[String, (Double, Double, Double, Seq[(Double, Double, Long)])] = {
    if (delFilesOf(dir, version).nonEmpty ||
      eqDelsOf(dir, version).nonEmpty) return Map.empty
    val dataFiles = filesOf(dir, version).toSet
    if (dataFiles.isEmpty) return Map.empty
    val parsed = sidecarLines(dir, version).map(_.split('\t').toSeq)
    val klls = parsed.collect {
      case Seq(f, c, "kll", b64, _) if dataFiles(f) => (c, f, b64)
    }
    val ndvs = columnStatsOf(dir, version)
    klls.map(_._1).distinct.flatMap { c =>
      val km = klls.collect { case (`c`, f, b) => f -> b }.toMap
      if (km.keySet != dataFiles) None
      else {
        val merged =
          org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(800)
        km.values.filter(_ != "-").foreach { b64 =>
          merged.merge(org.apache.datasketches.kll.KllDoublesSketch.heapify(
            org.apache.datasketches.memory.Memory.wrap(
              java.util.Base64.getDecoder.decode(b64))))
        }
        if (merged.isEmpty) None
        else {
          val n = merged.getN
          val bins = math.max(1, math.min(numBins.toLong, n).toInt)
          val splits = (0 to bins).map(i =>
            merged.getQuantile(i.toDouble / bins))
          val height = n.toDouble / bins
          val perBin = ndvs.get(c).flatMap(_._2)
            .map(t => math.max(1L, t / bins)).getOrElse(1L)
            .min(math.max(1L, math.ceil(height).toLong))
          Some(c -> ((merged.getMinItem, merged.getMaxItem, height,
            (0 until bins).map(i => (splits(i), splits(i + 1), perBin)))))
        }
      }
    }.toMap
  }

  /** Source columns with ANY manifest pruning handle at `version` —
    * typed range stats, bloom bitmaps, or a declared transform's DERIVED
    * stat (`bucket(16,k)` answers equality probes on `k`). This is the
    * runtime-filter attribute set the SQL scan advertises: naming a
    * column here invites Spark to ship DPP join-key probe sets for it at
    * execution time, each answered from the sidecar without opening a
    * file. */
  private[graft] def pruneHandleColumns(dir: String,
                                        version: Int): Set[String] =
    statColsOf(dir, version)
      .map(c => PartitionTransform.parseOpt(c).map(_.source).getOrElse(c))
      .toSet

  /** Whether `version` carries any merge-on-read delete debt (positional
    * vectors or equality deletes). */
  private[graft] def hasDeleteDebt(dir: String, version: Int): Boolean =
    delFilesOf(dir, version).nonEmpty || eqDelsOf(dir, version).nonEmpty

  /** Per-data-file typed range bounds of PHYSICAL `column` — the
    * TopN-admission planning read: `file → (tag, lo, hi)` for every
    * data file that carries a usable (`num`/`str`) range line. Files
    * without a line (or all-null / `wild` files) are simply absent —
    * the CALLER must treat an absent live file as a decline, because
    * an unprovable extreme could belong anywhere in the order. */
  private[graft] def statBoundsPerFile(dir: String, version: Int,
                                       column: String)
      : Map[String, (String, String, String)] =
    if (!io.exists(manifestPath(dir, version))) Map.empty
    else statsOf(dir, version, column)
      .filter { case (_, (tag, _, _)) => tag == "num" || tag == "str" }

  /** EXACT snapshot-level null count of PHYSICAL `column` from the
    * CBO sidecar lines (ANALYZE discipline), or None without full
    * coverage — the zero-null proof TopN admission needs when the
    * declared schema still says nullable. */
  private[graft] def statNullCount(dir: String, version: Int,
                                   column: String): Option[Long] =
    columnStatsOf(dir, version).get(column).flatMap(_._1)

  /** Per-data-file EXACT live row counts from the sidecar alone — the
    * LIMIT-admission planning read: None unless the snapshot carries
    * zero row-level delete debt (live = physical only then) and EVERY
    * data file has a `rows` line, because admitting files on a partial
    * or debt-discounted count could cover fewer rows than promised. */
  private[graft] def statRowsPerFile(dir: String,
                                     version: Int): Option[Map[String, Long]] = {
    if (!io.exists(manifestPath(dir, version))) return None
    if (hasDeleteDebt(dir, version)) return None
    val rows = rowsOf(dir, version)
    val data = filesOf(dir, version)
    if (!data.forall(rows.contains)) None
    else Some(data.iterator.map(f => f -> rows(f)).toMap)
  }

  /** The storage-partitioned-join layout at `version`: when the table
    * declares exactly one bucket transform and EVERY live file's derived
    * bucket stat under the CURRENT spec is single-valued, returns
    * `(bucket, file → bucket id)` — the proof each file holds one bucket
    * of the key space, so a scan can serve its files key-grouped and a
    * co-bucketed join (or a group-by on the key) needs NO shuffle at
    * all. None the moment any file breaks the invariant (pre-spec
    * vintages, an old-vintage compaction that merged buckets): the scan
    * silently reports unknown partitioning and Spark shuffles as usual —
    * misreporting a layout would produce wrong joins, so the gate is
    * all-or-nothing. */
  private[graft] def bucketLayout(dir: String, version: Int)
      : Option[(PartitionTransform.Bucket, Map[String, Int])] =
    partitioningOf(dir).collect {
      case b: PartitionTransform.Bucket => b
    } match {
      case Seq(b) =>
        if (!io.exists(manifestPath(dir, version))) return None
        val stats = statsOf(dir, version, b.spec)
        val files = filesOf(dir, version)
        if (files.isEmpty) None
        else {
          val ids = files.flatMap { f =>
            stats.get(f).collect {
              case ("num", lo, hi) if lo == hi =>
                f -> scala.math.BigDecimal(lo).toIntExact
            }
          }.toMap
          if (ids.size == files.size) Some((b, ids)) else None
        }
      case _ => None
    }
}

/** Executor-side bloom bitmap fold: input is a bit position in [0, mBits),
  * state is the finished m/8-byte bitmap itself (fixed size, mergeable by
  * byte-wise OR). The byte layout — bit n ↔ byte n/8, bit n%8 within the
  * byte — is exactly `java.util.BitSet.valueOf`'s, so the sidecar wire
  * format (Base64 of the little-endian byte image) is unchanged from the
  * driver-built era and old lines stay readable. */
private[sinks] class BloomBitsAgg(mBits: Int)
    extends org.apache.spark.sql.expressions.Aggregator[
      Long, Array[Byte], Array[Byte]] {
  def zero: Array[Byte] = new Array[Byte](mBits / 8)
  def reduce(b: Array[Byte], pos: Long): Array[Byte] = {
    val p = pos.toInt
    b(p >>> 3) = (b(p >>> 3) | (1 << (p & 7))).toByte
    b
  }
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
    a
  }
  def finish(r: Array[Byte]): Array[Byte] = r
  def bufferEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
    org.apache.spark.sql.Encoders.BINARY
  def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
    org.apache.spark.sql.Encoders.BINARY
}

/** Typed encoding of manifest-stat values. One ordered axis per family:
  * everything numeric-like ("num" — integers, floats, decimals, booleans,
  * dates as epoch day, timestamps as epoch micros) compares as
  * BigDecimal; strings ("str") URL-encode for the tab-separated format
  * and compare decoded. A value that fits neither (null, NaN/Inf — parquet
  * min/max on non-finite floats is unreliable anyway) encodes to None and
  * the file is kept. */
private[graft] object StatValue {

  /** Encode a stats value or query bound by its runtime type. */
  def encodeBound(value: Any): Option[(String, String)] = value match {
    case null => None
    case b: Boolean => Some(("num", if (b) "1" else "0"))
    case n: Byte => Some(("num", n.toString))
    case n: Short => Some(("num", n.toString))
    case n: Int => Some(("num", n.toString))
    case n: Long => Some(("num", n.toString))
    case n: Float =>
      if (java.lang.Float.isFinite(n)) Some(("num", BigDecimal(n.toDouble).toString))
      else None
    case n: Double =>
      if (java.lang.Double.isFinite(n)) Some(("num", BigDecimal(n).toString))
      else None
    case n: java.math.BigDecimal => Some(("num", n.toPlainString))
    case n: BigDecimal => Some(("num", n.bigDecimal.toPlainString))
    case d: java.sql.Date => Some(("num", d.toLocalDate.toEpochDay.toString))
    case d: java.time.LocalDate => Some(("num", d.toEpochDay.toString))
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      Some(("num", (i.getEpochSecond * 1000000L + i.getNano / 1000L).toString))
    case i: java.time.Instant =>
      Some(("num", (i.getEpochSecond * 1000000L + i.getNano / 1000L).toString))
    case s: String =>
      Some(("str", java.net.URLEncoder.encode(s, "UTF-8")))
    case _ => None
  }

  def decodeStr(encoded: String): String =
    java.net.URLDecoder.decode(encoded, "UTF-8")

  /** [[utf8Compare]] as an `Ordering` — for min/max folds over bounds. */
  val utf8Ord: Ordering[String] = (a, b) => utf8Compare(a, b)

  /** Unsigned UTF-8 byte order over DECODED strings — Spark's own
    * UTF8String collation. Java's UTF-16 `compareTo` disagrees with it
    * beyond the BMP (surrogate pairs sort below U+E000..U+FFFF), so any
    * fold or comparison that must agree with what Spark's min/max wrote
    * per file — range-pruning bound checks, segment-cover folds, the
    * table-level string extremes, TopN bound admission — compares here,
    * never with String ordering. */
  def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    var r = 0
    while (r == 0 && i < x.length && i < y.length) {
      r = (x(i) & 0xff) - (y(i) & 0xff); i += 1
    }
    if (r != 0) r else x.length - y.length
  }
}
