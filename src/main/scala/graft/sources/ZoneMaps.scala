package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType}
import org.apache.spark.SerializableWritable
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** File-level min/max data skipping — an Iceberg/Delta-style zone-map
  * manifest over a plain parquet table, without adopting a table
  * format. Spark's parquet reader already prunes ROW GROUPS inside a
  * file it has opened (PushedFilters); what it cannot avoid at 100 TB
  * is opening the files at all: listing 100k objects, reading 100k
  * footers, scheduling 100k splits to discover that 99k of them
  * cannot match the predicate. The manifest moves that decision to
  * one tiny driver-side filter over (#files) rows, so a selective
  * interval query schedules only the files whose [min, max] range
  * intersects it — the same stats Iceberg keeps per data file in its
  * manifests.
  *
  * The reference's closest surface is its glob-driven `read_files`
  * listing (/root/reference/…/read_files_task.rs:107-114), which
  * always streams every matched file; file skipping is the capability
  * its "only read columns used in the query" TODO family
  * (/root/reference/DEV_NOTES.md:123) points toward, one level up.
  *
  * Correctness: a file whose manifest row has NULL min/max for a
  * column holds no non-null values of it (including a ZERO-ROW file —
  * the manifest keeps a null-stats row for those so coverage stays
  * total), and an interval predicate matches no null — so the SQL
  * filter `min_c <= hi AND max_c >= lo` (null → dropped) is exactly
  * the may-match test. Manifest rows carry each file's (size, mtime)
  * SIGNATURE, so both the coverage guard and [[update]] detect not
  * just added/removed files but a file REWRITTEN IN PLACE — the
  * silent-row-loss case where stale stats would wrongly prune it.
  * The file universe is always what SPARK'S OWN listing sees
  * (`inputFiles` — hidden/_temporary pruned, extension-agnostic), so
  * manifest coverage matches scan visibility exactly.
  *
  * Builds are FOOTER-ONLY (Iceberg's shortcut): parquet footers
  * already carry row-group min/max, so [[write]] and [[update]] read
  * O(files) footers, never data pages — with a per-file data-pass
  * fallback wherever a footer's statistics can't faithfully stand in
  * for the Spark-read values (INT96, truncated binary stats, scale
  * mismatches). ZoneMapsSpec proves footer-built ≡ data-built on
  * fixtures including all-null and zero-row files. */
object ZoneMaps {

  private val SigCols = Set("file", "n_rows", "file_size", "file_mtime")

  /** DATA-PASS stats (the slow path): one row per data file with
    * per-column min/max, row count, and the file's (size,
    * mtime-millis) signature — ONE column-pruned distributed pass
    * grouped by `_metadata.file_path`, O(selected column bytes).
    * Since the footer-only build landed this is (a) the per-file
    * FALLBACK when a footer's statistics are unusable (INT96
    * timestamps, truncated/absent binary stats, exotic types) and
    * (b) the oracle ZoneMapsSpec checks the footer build against.
    * NOTE: a zero-row file emits no group here; callers union
    * [[nullStatsRows]] for listed files this pass missed. */
  private[graft] def statsFor(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) ++
      Seq(count(lit(1)).as("n_rows"),
        max(col("__fsize")).as("file_size"),
        max(col("__fmtime")).as("file_mtime"))
    df.select(Seq(col("_metadata.file_path").as("file"),
        col("_metadata.file_size").as("__fsize"),
        unix_millis(col("_metadata.file_modification_time")).as("__fmtime")) ++
        cols.map(col): _*)
      .groupBy("file")
      .agg(aggs.head, aggs.tail: _*)
  }

  // ---- footer-only stats (the fast path) ----------------------------

  /** Parquet-footer → Spark external value converter for one
    * (parquet primitive, Spark type) pairing, or None when footer
    * statistics cannot faithfully represent the Spark-read value
    * (INT96, unit-lossy timestamps, scale-mismatched decimals, types
    * this table never uses). A None sends the FILE to the data-pass
    * fallback — correctness never depends on footer coverage. */
  private def converterFor(prim: PrimitiveType, dt: DataType): Option[AnyRef => Any] = {
    import PrimitiveTypeName._
    val pt = prim.getPrimitiveTypeName
    def tsMicros(v: AnyRef): Option[Long] =
      prim.getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MICROS =>
              Some(v.asInstanceOf[java.lang.Long].longValue())
            case LogicalTypeAnnotation.TimeUnit.MILLIS =>
              Some(v.asInstanceOf[java.lang.Long].longValue() * 1000L)
            case _ => None // NANOS min/max don't floor-divide safely
          }
        case _ => None
      }
    dt match {
      case BooleanType if pt == BOOLEAN => Some(identity)
      case ByteType if pt == INT32 =>
        Some(v => v.asInstanceOf[Integer].byteValue())
      case ShortType if pt == INT32 =>
        Some(v => v.asInstanceOf[Integer].shortValue())
      case IntegerType if pt == INT32 => Some(identity)
      case LongType if pt == INT64 => Some(identity)
      case LongType if pt == INT32 =>
        Some(v => v.asInstanceOf[Integer].longValue())
      case FloatType if pt == FLOAT => Some(identity)
      case DoubleType if pt == DOUBLE => Some(identity)
      case DoubleType if pt == FLOAT =>
        Some(v => v.asInstanceOf[java.lang.Float].doubleValue())
      case StringType if pt == BINARY =>
        Some(v => v.asInstanceOf[Binary].toStringUsingUTF8)
      case BinaryType if pt == BINARY =>
        Some(v => v.asInstanceOf[Binary].getBytes)
      case DateType if pt == INT32 =>
        Some(v => DateTimeUtils.toJavaDate(v.asInstanceOf[Integer].intValue()))
      case TimestampType if pt == INT64 =>
        // session TZ is pinned UTC engine-wide (Engine.tune), so the
        // stored micros ARE the read instant for both LTZ and NTZ files
        tsMicros(Long.box(0L)).map(_ =>
          (v: AnyRef) => DateTimeUtils.toJavaTimestamp(tsMicros(v).get))
      case TimestampNTZType if pt == INT64 =>
        tsMicros(Long.box(0L)).map(_ =>
          (v: AnyRef) => DateTimeUtils.microsToLocalDateTime(tsMicros(v).get))
      case d: DecimalType =>
        prim.getLogicalTypeAnnotation match {
          case dec: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation
              if dec.getScale == d.scale =>
            pt match {
              case INT32 => Some(v =>
                java.math.BigDecimal.valueOf(v.asInstanceOf[Integer].longValue(), d.scale))
              case INT64 => Some(v =>
                java.math.BigDecimal.valueOf(v.asInstanceOf[java.lang.Long].longValue(), d.scale))
              case BINARY | FIXED_LEN_BYTE_ARRAY => Some(v =>
                new java.math.BigDecimal(
                  new java.math.BigInteger(v.asInstanceOf[Binary].getBytes), d.scale))
              case _ => None
            }
          case _ => None
        }
      case _ => None
    }
  }

  /** Min/max of `name` across all row groups of one file, from footer
    * statistics alone. Some((null, null)) = the file provably holds no
    * non-null value (incl. the column being absent — a scan reads
    * nulls). None = stats unusable → caller falls back to the data
    * pass for this file. Raw parquet values are compared with the
    * column's OWN comparator (parquet-mr already drops stats written
    * with broken pre-1.8 binary orderings at footer-decode time). */
  private[graft] def footerMinMax(msg: MessageType, blocks: Seq[BlockMetaData],
                                  name: String, dt: DataType): Option[(Any, Any)] = {
    if (!msg.containsField(name)) return Some((null, null))
    val field = msg.getType(Array(name): _*)
    if (!field.isPrimitive) return None
    val prim = field.asPrimitiveType()
    if (prim.getPrimitiveTypeName == PrimitiveTypeName.INT96) return None
    val conv = converterFor(prim, dt).getOrElse(return None)
    val cmp = prim.comparator().asInstanceOf[java.util.Comparator[AnyRef]]
    // NaN poisons legacy float/double footer stats (pre parquet-mr 1.11
    // writers push NaN through Math.min/max): a NaN bound makes the
    // prune predicate `min <= hi && max >= lo` null out and silently
    // drop a file holding real in-range values. Modern parquet-mr
    // omits stats for NaN-bearing chunks (→ the hasNonNullValue branch
    // below already falls back); for legacy files the NaN must be
    // detected here and the whole file routed to the data pass.
    def poisoned(v: AnyRef): Boolean = v match {
      case f: java.lang.Float  => f.isNaN
      case d: java.lang.Double => d.isNaN
      case _ => false
    }
    var mn: AnyRef = null
    var mx: AnyRef = null
    for (b <- blocks) {
      val cc = b.getColumns.asScala.find(_.getPath.toDotString == name)
        .getOrElse(return None)
      val st = cc.getStatistics
      if (st == null) return None
      if (st.hasNonNullValue) {
        val lo = st.genericGetMin.asInstanceOf[AnyRef]
        val hi = st.genericGetMax.asInstanceOf[AnyRef]
        if (poisoned(lo) || poisoned(hi)) return None
        // inverted bounds = corrupt stats — checked PER BLOCK: a
        // corrupt block masked by a healthy wider block would survive
        // a file-level-only check and silently prune its rows
        if (cmp.compare(lo, hi) > 0) return None
        if (mn == null || cmp.compare(lo, mn) < 0) mn = lo
        if (mx == null || cmp.compare(hi, mx) > 0) mx = hi
      } else if (!(st.isNumNullsSet && st.getNumNulls == cc.getValueCount)) {
        return None // can't prove the chunk is all-null → not skippable
      }
    }
    Some((if (mn == null) null else conv(mn), if (mx == null) null else conv(mx)))
  }

  /** One manifest Row from one file's FOOTER (no data pages), or None
    * when any requested column's stats are unusable/corrupt. Runs on
    * executors. */
  private def footerRow(conf: Configuration, file: String,
                        cols: IndexedSeq[String], types: IndexedSeq[DataType],
                        size: Long, mtime: Long): Option[Row] =
    try {
      val footer = Parquet.footer(conf, new Path(file))
      val msg = footer.getFileMetaData.getSchema
      val blocks = footer.getBlocks.asScala.toSeq
      val nRows = blocks.map(_.getRowCount).sum
      val perCol = cols.indices.map(i =>
        footerMinMax(msg, blocks, cols(i), types(i)))
      if (perCol.exists(_.isEmpty)) None
      else Some(Row.fromSeq(
        file +: perCol.flatMap { case Some((mn, mx)) => Seq(mn, mx) } ++:
          Seq(nRows, size, mtime)))
    } catch { case NonFatal(_) => None } // data-pass fallback surfaces real errors

  /** FOOTER-ONLY stats build over exactly `files`: a distributed pass
    * that reads O(files) parquet footers and ZERO data pages — at
    * 100 TB / 1M files that is minutes where the data pass is hours,
    * and it makes compaction-triggered [[update]] calls cheap on the
    * rewritten files. Returns (stats rows for footer-covered files,
    * files needing the data-pass fallback). Zero-row files are
    * covered naturally (no blocks → null stats, n_rows 0).
    * Signatures come from the caller's listing, the same values the
    * coverage guard compares against. */
  private[graft] def statsFromFooters(spark: SparkSession,
                                      files: Seq[(String, (Long, Long))],
                                      cols: Seq[String],
                                      tableSchema: StructType): (DataFrame, Seq[String]) = {
    val types = cols.map(c => tableSchema(c).dataType).toIndexedSeq
    val schema = StructType(
      StructField("file", StringType, nullable = false) +:
        cols.zip(types).flatMap { case (c, t) =>
          Seq(StructField(s"min_$c", t), StructField(s"max_$c", t))
        } ++: Seq(StructField("n_rows", LongType, nullable = false),
          StructField("file_size", LongType, nullable = false),
          StructField("file_mtime", LongType, nullable = false)))
    val confBc = spark.sparkContext.broadcast(
      new SerializableWritable(spark.sparkContext.hadoopConfiguration))
    val colsB = cols.toIndexedSeq
    val slices = math.max(1, math.min(files.size,
      spark.sparkContext.defaultParallelism * 2))
    // collect is one tiny row per file — the same driver-bounded scale
    // as the listing and the manifest itself (update() collects both)
    val res: Array[(String, Option[Row])] =
      spark.sparkContext.parallelize(files.toIndexedSeq, slices)
        .map { case (f, (sz, mt)) =>
          f -> footerRow(confBc.value.value, f, colsB, types, sz, mt)
        }.collect()
    val rows = res.flatMap(_._2).toIndexedSeq
    val fallback = res.collect { case (f, None) => f }.toIndexedSeq
    (spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema),
      fallback)
  }

  /** Footer-first stats for `files` (full build and incremental
    * reconcile both come through here): footer pass over everything,
    * data pass over only the files whose footers were unusable,
    * null-stats rows for any file neither pass covered — coverage is
    * total by construction. */
  private def buildStats(spark: SparkSession, files: Seq[(String, (Long, Long))],
                         cols: Seq[String], tableSchema: StructType): DataFrame = {
    val (footer, fallback) = statsFromFooters(spark, files, cols, tableSchema)
    val withFallback =
      if (fallback.isEmpty) footer
      else footer.unionByName(
        statsFor(Parquet.read(spark, fallback.sorted: _*), cols)
          .select(footer.schema.fieldNames.map(col).toIndexedSeq: _*))
    val covered = withFallback.select("file").collect()
      .map(r => norm(r.getString(0))).toSet
    val missed = files.filterNot(f => covered.contains(norm(f._1)))
    if (missed.isEmpty) withFallback
    else withFallback.unionByName(
      nullStatsRows(spark, withFallback.schema, missed))
  }

  /** Manifest rows for files a stats pass produced no group for
    * (zero-row files): null min/max, n_rows 0, the listing's
    * signature. Null stats are exactly right — no interval can match
    * a file with no rows, so these prune always but keep coverage
    * total (the guard and idempotence depend on that). */
  private def nullStatsRows(spark: SparkSession, schema: StructType,
                            files: Seq[(String, (Long, Long))]): DataFrame = {
    import spark.implicits._
    val base = files.map { case (f, (sz, mt)) => (f, sz, mt) }
      .toDF("file", "file_size", "file_mtime")
    schema.fields.filterNot(f => SigCols.contains(f.name))
      .foldLeft(base.withColumn("n_rows", lit(0L)))((d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType)))
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  private def norm(s: String): String = new Path(s).toString

  /** The table's data files AS SPARK SEES THEM (same directory/hidden
    * pruning as any scan), each with its (size, mtime millis)
    * signature: `inputFiles` for the universe, then one listStatus
    * per parent directory for the signatures — driver-side metadata
    * ops, no Spark job over data.
    *
    * Signature granularity (same caveat as [[graft.pipeline.Stores
    * .dirSig]]): (size, mtime) detects every rewrite EXCEPT an
    * in-place rewrite to identical byte length within one mtime tick
    * of the underlying store's clock. The engine's own writers never
    * rewrite in place (new file names / new generations), so the
    * guard is exact for managed tables; for tables mutated by foreign
    * writers that rewrite in place, verifyCoverage's staleness check
    * inherits the store's Last-Modified granularity. */
  private def listLive(spark: SparkSession,
                       tableDir: String): Map[String, (Long, Long)] = {
    val files = Parquet.read(spark, tableDir).inputFiles
    val conf = spark.sparkContext.hadoopConfiguration
    files.groupBy(f => new Path(f).getParent).toSeq.flatMap {
      case (parent, inDir) =>
        val fs = parent.getFileSystem(conf)
        val wanted = inDir.map(f => new Path(f).getName).toSet
        fs.listStatus(parent)
          .filter(s => wanted.contains(s.getPath.getName))
          .map(s => norm(s.getPath.toString) -> ((s.getLen, s.getModificationTime)))
    }.toMap
  }

  private def requireSigSchema(schema: StructType, manifestDir: String): Unit =
    require(Seq("file_size", "file_mtime").forall(schema.fieldNames.contains),
      s"[ZONEMAP_SCHEMA] manifest at $manifestDir predates file signatures " +
        "(no file_size/file_mtime columns) — rebuild it with ZoneMaps.write")

  /** Build the manifest from scratch — FOOTER-ONLY (O(files), no data
    * pages; per-file data-pass fallback only where footer stats are
    * unusable). Overwrites `manifestDir` (a single small parquet). */
  def write(spark: SparkSession, tableDir: String, manifestDir: String,
            cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "zone map needs at least one column")
    val schema = Parquet.schema(spark, tableDir)
    buildStats(spark, listLive(spark, tableDir).toSeq.sortBy(_._1), cols, schema)
      .coalesce(1)
      .write.mode("overwrite").parquet(manifestDir)
  }

  /** Incrementally reconcile the manifest with the table: stats are
    * recomputed ONLY for files the manifest has never seen or whose
    * (size, mtime) signature changed — a FOOTER pass over exactly
    * those paths, O(changed files) not O(table) — and rows for files
    * that no longer match anything on disk are dropped
    * (compaction/deletes; an in-place rewrite counts on both sides).
    * Returns (filesRefreshed, rowsDropped); a no-change table returns
    * (0, 0). Surviving rows ride a driver-side collect — the manifest
    * is one row per file, the same driver-bounded scale as the
    * listing itself. The column set is frozen by the existing
    * manifest's schema. */
  def update(spark: SparkSession, tableDir: String,
             manifestDir: String): (Int, Int) = {
    // update() reconciles OUT-OF-BAND table changes by contract —
    // drop cached query plans/data for the path before re-listing
    spark.catalog.refreshByPath(tableDir)
    val existing = Parquet.read(spark, manifestDir)
    requireSigSchema(existing.schema, manifestDir)
    val cols: Seq[String] = existing.schema.fieldNames.toSeq
      .collect { case n if n.startsWith("min_") => n.stripPrefix("min_") }
    val existingRows = existing.collect()
    val live = listLive(spark, tableDir)
    val survivors = existingRows.filter { r =>
      live.get(norm(r.getAs[String]("file")))
        .contains((r.getAs[Long]("file_size"), r.getAs[Long]("file_mtime")))
    }
    val survivorNames = survivors.map(r => norm(r.getAs[String]("file"))).toSet
    val fresh = live.filterNot(f => survivorNames.contains(f._1))
    val newStats =
      if (fresh.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          existing.schema)
      else
        buildStats(spark, fresh.toSeq.sortBy(_._1), cols,
            Parquet.schema(spark, tableDir))
          .select(existing.schema.fieldNames.map(col).toIndexedSeq: _*)
    // `existing` is already collected to driver rows, and newStats
    // reads only table files — the manifest dir is not an input of
    // this write, so overwriting it directly is safe
    newStats.unionByName(
        spark.createDataFrame(
          spark.sparkContext.parallelize(survivors.toIndexedSeq, 1), existing.schema))
      .coalesce(1).write.mode("overwrite").parquet(manifestDir)
    (fresh.size, existingRows.length - survivors.length)
  }

  /** Files that MAY contain rows with `c` in [lo, hi], plus the total
    * file count (for observability/specs) — ONE read of the tiny
    * manifest (the may-match test is evaluated in the same pass that
    * lists it).
    *
    * `verifyCoverage` (default true) fails loud on a stale manifest:
    * a file added, removed, or REWRITTEN IN PLACE since the manifest
    * was built (signature compare — name, size, mtime). The guard
    * costs a table LISTING per read; that is the defensive default
    * for ad-hoc use, but a serving path whose writes run [[update]]
    * on a managed cadence (the store convention everywhere else in
    * this engine) should pass `verifyCoverage = false` and keep the
    * read at O(matching files) — otherwise the listing the manifest
    * exists to avoid is re-paid per query. */
  def prunedFiles(spark: SparkSession, tableDir: String, manifestDir: String,
                  c: String, lo: Any, hi: Any,
                  verifyCoverage: Boolean = true): (Seq[String], Int) = {
    val manifest = Parquet.read(spark, manifestDir)
    if (verifyCoverage) requireSigSchema(manifest.schema, manifestDir)
    // the fast path reads only (file, keep), so a pre-signature
    // manifest keeps serving until its next rebuild
    val sigCols =
      if (verifyCoverage) Seq(col("file_size"), col("file_mtime")) else Seq.empty
    val m = manifest
      .select(Seq(col("file"),
        (col(s"min_$c") <= lit(hi) && col(s"max_$c") >= lit(lo)).as("keep")) ++
        sigCols: _*)
      .collect()
    if (verifyCoverage) {
      val manifestSig = m.map(r =>
        norm(r.getString(0)) -> ((r.getLong(2), r.getLong(3)))).toMap
      val liveSig = listLive(spark, tableDir)
      require(manifestSig == liveSig,
        s"[STALE_ZONEMAP] manifest at $manifestDir disagrees with the table " +
          s"at $tableDir (${manifestSig.size} vs ${liveSig.size} files; " +
          s"missing=${(liveSig.keySet -- manifestSig.keySet).take(3).mkString(",")} " +
          s"extra=${(manifestSig.keySet -- liveSig.keySet).take(3).mkString(",")} " +
          s"resigned=${manifestSig.collect { case (f, s) if liveSig.get(f).exists(_ != s) => f }
            .take(3).mkString(",")}) — run ZoneMaps.update")
    }
    // null `keep` = null stats = no non-null values in that file: skip
    val kept = m.filter(r => !r.isNullAt(1) && r.getBoolean(1))
      .map(_.getString(0)).toSeq
    (kept, m.length)
  }

  /** Interval read through the manifest: rows of the table with `c`
    * BETWEEN lo AND hi, scanning only may-match files. Equals the
    * full-scan filter by the zone-map invariant; the residual filter
    * still applies (and pushes down) inside the surviving files. The
    * schema comes from the surviving files' own footers — the full
    * table is only consulted (for its schema) when everything was
    * pruned. */
  def readPruned(spark: SparkSession, tableDir: String, manifestDir: String,
                 c: String, lo: Any, hi: Any,
                 verifyCoverage: Boolean = true): DataFrame = {
    val (files, _) =
      prunedFiles(spark, tableDir, manifestDir, c, lo, hi, verifyCoverage)
    val base =
      if (files.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          Parquet.schema(spark, tableDir))
      else Parquet.read(spark, files: _*)
    base.filter(col(c).between(lit(lo), lit(hi)))
  }
}
