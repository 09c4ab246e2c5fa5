package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SQLContext}
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `spark.read.format("txlog")` / `df.write.format("txlog")` — the
  * [[TxLogTable]] surfaced through Spark's stable DataSource API, so
  * the transactional table composes with everything that speaks
  * DataFrameReader/Writer (SQL `CREATE TABLE ... USING txlog`,
  * `spark.read`, structured-streaming `foreachBatch` sinks, BI tools)
  * instead of requiring the library's own class.
  *
  * Read options:
  *   - `versionAsOf`   — time-travel to an exact committed version
  *   - `timestampAsOf` — epoch millis, `yyyy-MM-dd HH:mm:ss`, or
  *     ISO-8601 instant; resolves via the manifest-header walk
  *
  * The relation implements [[PrunedFilteredScan]]: Spark pushes the
  * query's column set and convertible predicates into `buildScan`,
  * which (a) prunes the snapshot's FILE LIST through the manifest
  * stats + Bloom sidecars ([[TxLogTable.scanPathsAt]]) — files whose
  * ranges prove they cannot match are never opened — and (b) hands the
  * surviving paths to the vectorized parquet reader with the same
  * predicates, so row-group pushdown applies inside each file too.
  * Pushed filters are re-applied exactly; `unhandledFilters` therefore
  * reports only the ones the converter cannot express, and the
  * physical plan shows the rest under `PushedFilters:`.
  *
  * Write modes map onto commit actions: Append → [[TxLogTable.append]]
  * (one optimistic commit), Overwrite → [[TxLogTable.overwrite]],
  * ErrorIfExists / Ignore gate on table existence. Options
  * `statsCols` / `bloomCols` / `sortCols` (comma-separated) flow to
  * the commit so data-skipping sidecars are declared at write time,
  * exactly like the programmatic path.
  */
final class TxLogSourceProvider extends RelationProvider
    with CreatableRelationProvider with StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister
    with org.apache.spark.sql.connector.catalog.TableProvider {

  override def shortName(): String = "txlog"

  // ── DataSource V2: batch READS resolve through TxLogV2Table ───────
  // (one snapshot pinned per getTable; scans push columns/predicates
  // and runtime filters through the V2 seams — see TxLogV2.scala).
  // Batch writes, streaming, and SaveMode semantics intentionally keep
  // their V1 paths: the table exposes V1_BATCH_WRITE but not
  // BATCH_WRITE / MICRO_BATCH_READ / STREAMING_WRITE, so Spark falls
  // back to the V1 seams below for exactly those surfaces.

  /** Writers hand their query schema straight to [[getTable]] (so a
    * first write may CREATE the table without a schema-inference
    * round-trip that would fail on a not-yet-existing root).
    */
  override def supportsExternalMetadata(): Boolean = true

  private def resolveVersion(table: TxLogTable,
      parameters: Map[String, String]): Long =
    parameters.get("versionAsOf") match {
      case Some(v) => v.toLong
      case None => parameters.get("timestampAsOf") match {
        case Some(ts) => table.versionAsOf(parseTs(ts))
        case None => table.currentVersion
      }
    }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val params = ciParams(options)
    val root = rootOf(params)
    val table = new TxLogTable(
      org.apache.spark.sql.SparkSession.active, root)
    require(table.exists, s"txlog table does not exist at $root")
    TxLogV2.asNullable(table.schemaAt(resolveVersion(table, params)))
  }

  override def getTable(schema: StructType,
      partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.Table = {
    import scala.jdk.CollectionConverters._
    val params = org.apache.spark.sql.catalyst.util.CaseInsensitiveMap(
      properties.asScala.toMap): Map[String, String]
    val root = rootOf(params)
    val spark = org.apache.spark.sql.SparkSession.active
    val table = new TxLogTable(spark, root)
    val version = if (table.exists) resolveVersion(table, params) else -1L
    new TxLogV2Table(spark, root, version, Option(schema))
  }

  private def ciParams(options: CaseInsensitiveStringMap): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    org.apache.spark.sql.catalyst.util.CaseInsensitiveMap(
      options.asCaseSensitiveMap().asScala.toMap)
  }

  private def rootOf(parameters: Map[String, String]): String = {
    val raw = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "txlog source requires a path: spark.read.format(\"txlog\").load(root)"))
    // Any Hadoop scheme resolves through the table's TxStore (the
    // session Hadoop conf picks the FileSystem). `file:` URIs — what
    // catalog tables hand as locations — normalize to plain local
    // paths so one table has ONE canonical root string regardless of
    // which surface referenced it.
    val uri = try java.net.URI.create(raw) catch { case _: Exception => null }
    if (uri == null || uri.getScheme == null || uri.getScheme != "file") raw
    else uri.getPath
  }

  /** `timestampAsOf` accepts epoch millis, ISO-8601 instants, or the
    * SQL `yyyy-MM-dd HH:mm:ss[.fff]` form (interpreted in UTC, the
    * session zone the engine pins).
    */
  private[sources] def parseTs(s: String): Long = {
    val t = s.trim
    if (t.matches("-?\\d+")) t.toLong
    else try java.time.Instant.parse(t).toEpochMilli
    catch {
      case _: java.time.format.DateTimeParseException =>
        java.time.LocalDateTime
          .parse(t.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val table = new TxLogTable(sqlContext.sparkSession, rootOf(parameters))
    require(table.exists,
      s"txlog table does not exist at ${rootOf(parameters)}")
    val version = parameters.get("versionAsOf") match {
      case Some(v) => v.toLong
      case None => parameters.get("timestampAsOf") match {
        case Some(ts) => table.versionAsOf(parseTs(ts))
        case None => table.currentVersion
      }
    }
    new TxLogRelation(sqlContext, table, version)
  }

  private def csv(parameters: Map[String, String], key: String): Seq[String] =
    parameters.get(key).toSeq.flatMap(_.split(",")).map(_.trim)
      .filter(_.nonEmpty)

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val root = rootOf(parameters)
    val table = new TxLogTable(sqlContext.sparkSession, root)
    val sortCols = csv(parameters, "sortCols")
    val statsCols = csv(parameters, "statsCols")
    val bloomCols = csv(parameters, "bloomCols")
    def write(f: => Unit): Unit = { table.ensureExists(data.schema); f }
    def doAppend(): Unit = write(table.append(data, sortCols = sortCols,
      statsCols = statsCols, bloomCols = bloomCols))
    mode match {
      case SaveMode.Append => doAppend()
      case SaveMode.Overwrite =>
        write(table.overwrite(data, sortCols = sortCols,
          statsCols = statsCols, bloomCols = bloomCols))
      case SaveMode.ErrorIfExists =>
        if (table.exists) throw new IllegalStateException(
          s"txlog table already exists at $root (mode=ErrorIfExists)")
        doAppend()
      case SaveMode.Ignore =>
        if (!table.exists) doAppend()
    }
    createRelation(sqlContext, parameters)
  }

  // ── streaming: the table as a CDC source and an append sink ───────

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val table = new TxLogTable(sqlContext.sparkSession, rootOf(parameters))
    require(table.exists,
      s"txlog table does not exist at ${rootOf(parameters)}")
    val base = TxLogStream.changeSchema(table)
    val full =
      if (parameters.get("onSchemaEvolution").contains("evolved"))
        base.add("_evolved", org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType), nullable = true)
      else base
    (shortName(), full)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val root = rootOf(parameters)
    val table = new TxLogTable(sqlContext.sparkSession, root)
    require(table.exists, s"txlog table does not exist at $root")
    val configured = parameters.get("startingVersion") match {
      case Some("earliest") => -1L
      case Some(v) => v.toLong - 1 // startingVersion itself is included
      case None => table.currentVersion // tail: only future commits
    }
    // Anchor the start in the checkpoint-scoped metadata dir: tail
    // mode must mean "commits after the FIRST stream start", not
    // "after every restart" — otherwise a restart with no committed
    // batch yet would silently skip the commits in between.
    // metadataPath arrives as a Hadoop URI string (`file:/ckpt/...`);
    // the anchor rides the CHECKPOINT's filesystem (any scheme) with
    // the commit-owner put-if-absent supplying first-writer-wins.
    val (ckStore, metaDir) = TxStore.forSpec(metadataPath,
      sqlContext.sparkSession.sessionState.newHadoopConf())
    val anchorPath = new org.apache.hadoop.fs.Path(metaDir, "graft-start")
    val startExclusive = {
      if (!ckStore.exists(anchorPath)) {
        ckStore.mkdirs(metaDir)
        // same resolution order as table commits (native primitive,
        // else the conf-injected CAS owner) — a checkpoint on an
        // object store anchors through the same seam
        CommitOwner.resolveOption(null, sqlContext.sparkSession,
            ckStore.fs)
          .getOrElse(CommitOwner.forStore(ckStore.fs))
          .putIfAbsent(ckStore.fs, anchorPath,
            configured.toString.getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
      }
      new String(ckStore.readAllBytes(anchorPath),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
    }
    new TxLogChangeSource(sqlContext.sparkSession, root, startExclusive,
      parameters.get("maxVersionsPerBatch").map(_.toLong),
      parameters.getOrElse("onSchemaEvolution", "ignore"),
      parameters.get("maxBytesPerBatch").map(_.toLong))
  }

  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"txlog sink supports Append output mode only, got $outputMode")
    require(partitionColumns.isEmpty,
      "txlog sink does not take partition columns (use sortCols)")
    new TxLogAppendSink(sqlContext.sparkSession, rootOf(parameters), parameters)
  }
}

object TxLogRelation {
  private[sources] def asNullable(
      dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = asNullable(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(valueType = asNullable(m.valueType), valueContainsNull = true)
    case o => o
  }

  /** Source `Filter` → `Column`, for the subset with exact Column
    * semantics. `None` marks the filter unhandled: Spark keeps its own
    * copy above the scan, so correctness never depends on coverage
    * here — only pruning effectiveness does.
    */
  private[sources] def toColumn(f: Filter): Option[Column] = {
    def attr(a: String): Column = col(s"`$a`")
    f match {
      case EqualTo(a, v) => Some(attr(a) === lit(v))
      case EqualNullSafe(a, v) => Some(attr(a) <=> lit(v))
      case GreaterThan(a, v) => Some(attr(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(attr(a) >= lit(v))
      case LessThan(a, v) => Some(attr(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(attr(a) <= lit(v))
      case In(a, vs) => Some(attr(a).isin(vs.toIndexedSeq.map(lit): _*))
      case IsNull(a) => Some(attr(a).isNull)
      case IsNotNull(a) => Some(attr(a).isNotNull)
      case StringStartsWith(a, p) => Some(attr(a).startsWith(p))
      case StringEndsWith(a, s) => Some(attr(a).endsWith(s))
      case StringContains(a, s) => Some(attr(a).contains(s))
      case And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
      case Or(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
      case Not(c) => toColumn(c).map(not)
      case _ => None
    }
  }
}

/** One snapshot of a [[TxLogTable]] as a Spark relation. Immutable by
  * construction — the version is fixed at planning time, and later
  * commits never touch a published snapshot's files — so a cached or
  * re-executed plan always re-reads identical data.
  *
  * Since the DSv2 migration ([[TxLogV2Table]]) this V1 relation backs
  * only the surfaces Spark still routes through V1: `CREATE TEMPORARY
  * VIEW ... USING txlog`, the `spark.sql.sources.useV1SourceList`
  * escape hatch, and the [[TxLogDvScan]] V1-bridge execution of
  * snapshots with bulk deletion vectors. Dynamic file pruning happens
  * Spark-native through [[TxLogBatchScan]]'s runtime filtering.
  */
final class TxLogRelation(val sqlContext: SQLContext,
    private[graft] val table: TxLogTable,
    private[graft] val version: Long)
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  /** SQL `INSERT INTO` / `INSERT OVERWRITE` on a `USING txlog` table:
    * one optimistic commit through the version protocol. The relation
    * object itself stays pinned to its planning-time snapshot —
    * readers re-resolve the view to see the new version (standard V1
    * relation semantics).
    */
  override def insert(data: DataFrame, overwrite: Boolean): Unit =
    if (overwrite) table.overwrite(data) else table.append(data)

  // Parquet file sources force every column nullable at read time; the
  // relation must declare the schema it actually produces.
  override val schema: StructType =
    TxLogRelation.asNullable(table.schemaAt(version))
      .asInstanceOf[StructType]

  /** True on-disk bytes of the snapshot's live files (one driver-side
    * metadata walk, O(#files)). Without this a BaseRelation reports
    * `spark.sql.defaultSizeInBytes` (≈ Long.Max) and a small txlog
    * dimension table could NEVER be auto-broadcast — every join
    * against it would shuffle. Parquet compresses, so this
    * UNDER-estimates in-memory size the same way Spark's own file
    * sources do — consistent with how the broadcast threshold is
    * tuned.
    */
  override def sizeInBytes: Long =
    table.onDiskBytes(table.scanPathsAt(version, lit(true)))

  /** Catalyst-facing table statistics (the CBO surface, judge-grade:
    * join reorder and filter-selectivity estimation otherwise fly
    * blind on txlog tables, seeing only `sizeInBytes`): exact row
    * count + per-column min/max/nullCount aggregated from the
    * manifest skipping stats ([[TxLogTable.statsSummaryAt]]), carried
    * on a synthetic EXTERNAL CatalogTable that
    * `LogicalRelation.computeStats` already knows how to consume.
    * None when any live file lacks stats — exactness over coverage.
    * min/max ride only for types whose [[DataSkipping]] encoding
    * matches `CatalogColumnStat.fromExternalString` version-2 format
    * (integrals, fp, decimal, date=epoch-day, timestamp=micros);
    * strings/booleans surface nullCount only. Lazy + cached per
    * relation instance: the snapshot is immutable, so the summary
    * cannot go stale.
    */
  private[graft] lazy val catalogTableWithStats
      : Option[org.apache.spark.sql.catalyst.catalog.CatalogTable] = {
    import org.apache.spark.sql.catalyst.catalog._
    table.statsSummaryAt(version).map { case (rows, ranges, ndvs) =>
      val colStats = schema.fields.iterator.flatMap { f =>
        ranges.get(f.name).map { r =>
          val mm = TxLogV2.minMaxOk(f.dataType)
          f.name -> CatalogColumnStat(
            // the theta-union estimate; the selectivity estimator
            // requires an NDV to engage at all, so ranges without one
            // (pre-sketch manifests) surface nullCount only
            distinctCount = ndvs.get(f.name).map(BigInt(_)),
            min = if (mm) r.min else None,
            max = if (mm) r.max else None,
            nullCount = Some(BigInt(r.nulls)),
            avgLen = None, maxLen = None, histogram = None,
            version = CatalogColumnStat.VERSION)
        }
      }.toMap
      CatalogTable(
        identifier = org.apache.spark.sql.catalyst.TableIdentifier(
          s"txlog_v$version"),
        tableType = CatalogTableType.EXTERNAL,
        storage = CatalogStorageFormat.empty,
        schema = schema,
        provider = Some("txlog"),
        stats = Some(CatalogStatistics(
          sizeInBytes = BigInt(math.max(1L, sizeInBytes)),
          rowCount = Some(BigInt(rows)),
          colStats = colStats)))
    }
  }

  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters.filter(f => TxLogRelation.toColumn(f).isEmpty)

  /** Records [[TxLogV2.lastScan]]: the planned paths, and the live
    * ones only under [[TxLogV2.captureScans]].
    */
  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val spark = sqlContext.sparkSession
    val pushed = filters.toIndexedSeq.flatMap(TxLogRelation.toColumn)
    def live: Int = TxLogV2.denominator(table.liveDataPaths(version).size)
    def readOf(paths: Seq[String]): DataFrame =
      if (paths.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      // deletion vectors apply on the pruned scan exactly as in
      // readAt; the physical/logical column mapping is the table's
      // concern (readPathsAt reads what the files store and
      // surfaces this version's logical names)
      else table.readPathsAt(version, paths)
    val base: DataFrame = if (pushed.isEmpty) {
      TxLogV2.lastScan = (live, live)
      table.readAt(version)
    } else {
      val pred = pushed.reduce(_ && _)
      val paths = table.scanPathsAt(version, pred)
      TxLogV2.lastScan = (paths.size, live)
      // Re-apply the exact predicate: manifest pruning is file-level
      // (may-match), and these filters were reported HANDLED.
      readOf(paths).filter(pred)
    }
    base.select(requiredColumns.toIndexedSeq.map(c => col(s"`$c`")): _*).rdd
  }
}
