package graft.sources

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** File-level IO utilities around the engine's sources/sinks.
  *
  * Reference surface: output-exists short circuit S14 (FileStorage.isDone,
  * FileStorage.scala:44-74 — used as an idempotent re-run guard before
  * expensive jobs), glob listing S15 (FileStorage.listFiles:40-42), and
  * TableRow-style JSON line IO S8 (TableRowJsonIO.scala:32-72 — native
  * `spark.read.json` in this engine).
  */
object GraftIO {

  /** Sorted file list under a directory or glob-free path (lexical order —
    * the reference processes shards lexically for determinism, W4). */
  def listFiles(path: String): Seq[String] = {
    val f = new File(path)
    if (f.isFile) Seq(path)
    else if (f.isDirectory)
      f.listFiles().filter(_.isFile).map(_.getPath)
        .filterNot(p => new File(p).getName.startsWith(".") ||
          new File(p).getName.startsWith("_"))
        .sorted.toSeq
    else Seq.empty
  }

  /** Idempotent-output guard: a Spark-written directory is complete iff its
    * _SUCCESS marker exists (the reference checks the xxxxx-of-yyyyy shard
    * pattern; Spark's commit protocol gives us the marker instead). */
  def outputExists(path: String): Boolean = new File(path, "_SUCCESS").isFile

  /** Run `job` only if `output` is not already complete — the reference's
    * short-circuit around every sampler sink (BigSamplerAvro.scala:240-242). */
  def unlessDone(output: String)(job: => Unit): Boolean =
    if (outputExists(output)) false else { job; true }

  /** Newline-delimited JSON read with optional explicit schema (S8).
    * Deliberately NO custom timestamp formats here: Spark's DEFAULT
    * parser is both lenient (space or 'T' separator, 1-9 fraction
    * digits, numeric offsets — external feeds keep parsing) and
    * micro-capable, so it round-trips [[writeJsonLines]]'s 6-digit
    * output exactly; a custom pattern would DISABLE that lenient
    * fallback and silently null every shape it doesn't match
    * (spec-locked in AvroIOSpec). The fidelity bug was write-side only. */
  def readJsonLines(spark: SparkSession, path: String,
                    schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(s => r.schema(s)).json(path)
  }

  /** Newline-delimited JSON write (S8). Timestamps are written with all
    * six fraction digits: Spark's default `[.SSS]` formats silently
    * TRUNCATE micros, which breaks the cross-format hash/cohort contract
    * (the same logical row must fingerprint identically from parquet,
    * avro, and JSON — spec-locked in HashSpec). */
  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
      .json(path)

  /** `spark.read.parquet(path)` without its schema-inference Spark job.
    *
    * A default (mergeSchema=false) parquet read infers its data schema
    * from ONE footer, but reads it in a Spark job (`ParquetUtils.inferSchema`
    * → `mergeSchemasInParallel`): ~100 ms of fixed cost per read. Here the
    * same footer ([[schemaSource]]) is read on the driver and converted
    * with the calls that job makes per file, and the result is handed to
    * Spark as the read schema. Partition columns are still discovered and
    * appended by Spark. The DataFrame is the one `spark.read.parquet(path)`
    * returns: same schema, same rows.
    *
    * Falls back to the plain read — and so to Spark's own result or error
    * — when `mergeSchema` is on, the path is a glob or carries a streaming
    * `_spark_metadata` log, no data file exists, a footer column is also a
    * partition column (Spark keeps it at its data position, a read schema
    * would move it last), or listing or the footer read throws. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    inferParquetSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The data schema Spark would infer for a default read of `path`, or
    * None where [[readParquet]] must leave inference to Spark. */
  private def inferParquetSchema(spark: SparkSession,
                                 path: String): Option[StructType] = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    if (conf.isParquetSchemaMergingEnabled || path.exists("{}[]*?\\".contains(_)))
      return None
    try {
      if (FileStreamSink.hasMetadata(Seq(path), hadoopConf, conf)) return None
      val src = schemaSource(spark, path, hadoopConf)
      if (!src.hasData) return None
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
      val footer = new org.apache.parquet.hadoop.Footer(src.file.getPath,
        readFooter(src.file, hadoopConf))
      val schema = ParquetFileFormat.readSchemaFromFooter(footer, converter)
      val resolver = conf.resolver
      val overlaps = schema.exists(f => src.partitionColumns.exists(resolver(_, f.name)))
      if (overlaps) None else Some(schema)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** What a default parquet read of a path sees: its partition columns
    * and the file whose footer speaks for it. */
  private final case class SchemaSource(
      file: org.apache.hadoop.fs.FileStatus, hasData: Boolean,
      partitionColumns: Seq[String])

  /** Lists `path` with a fresh `InMemoryFileIndex`, as `spark.read` does
    * (same hidden-file and `_metadata` rules, same partition discovery),
    * and picks the file Spark's default inference reads: `_common_metadata`,
    * then `_metadata`, then the first data file by full path string — the
    * order of `ParquetUtils.splitFiles`. Throws when the path holds no
    * parquet file at all. */
  private def schemaSource(spark: SparkSession, path: String,
                           hadoopConf: org.apache.hadoop.conf.Configuration): SchemaSource = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileWriter.{
      PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
    val p = new Path(path)
    val qualified = p.getFileSystem(hadoopConf).makeQualified(p)
    val index = new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
      spark, Seq(qualified), Map.empty, None)
    val files = index.allFiles().sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    val data = files.filterNot(f => f.getPath.getName == PARQUET_COMMON_METADATA_FILE ||
      f.getPath.getName == PARQUET_METADATA_FILE)
    val file = named(PARQUET_COMMON_METADATA_FILE).orElse(named(PARQUET_METADATA_FILE))
      .orElse(data.headOption).getOrElse(throw new IllegalArgumentException(
        s"no parquet data files under $path"))
    SchemaSource(file, data.nonEmpty, index.partitionSchema.fieldNames.toSeq)
  }

  /** One file's footer without its row-group metadata, as the inference
    * job reads it. */
  private def readFooter(file: org.apache.hadoop.fs.FileStatus,
                         hadoopConf: org.apache.hadoop.conf.Configuration) =
    org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, hadoopConf),
      org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)

  /** Read a parquet source whose schema contains TIMESTAMP(NANOS) columns,
    * surfacing them as raw LONG nanos — WITHOUT mutating the session.
    *
    * Spark rejects NANOS timestamps unless the session-wide legacy conf
    * `spark.sql.legacy.parquet.nanosAsLong` is on — but that conf changes
    * the meaning of every subsequent NANOS read in the session, which a
    * library function must not do. Instead the first data file's footer is
    * read directly and converted under a PRIVATE SQLConf with the flag set;
    * the resulting StructType is passed as an explicit read schema, which
    * bypasses the session-conf check entirely (both vectorized and row
    * readers accept INT64-NANOS columns against a LongType request).
    *
    * The FIRST data file's footer is authoritative — the same one-footer
    * semantics as a default (mergeSchema=false) parquet read. */
  def readParquetNanosAsLong(spark: SparkSession, path: String): DataFrame = {
    val message = footerSchema(spark, path)
    // clone of the SESSION conf (case sensitivity, binary-as-string, … carry
    // over) with only the nanos flag added — and only on the clone
    val conf = spark.sessionState.conf.clone()
    conf.setConfString("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(conf).convert(message)
    spark.read.schema(schema).parquet(path)
  }

  /** The parquet schema of the footer [[readParquet]] infers from (see
    * [[schemaSource]]) — the same one-footer semantics as a default
    * (mergeSchema=false) read. Hive-partitioned layouts (col=value dirs)
    * are rejected up front because partition columns are absent from
    * file footers. */
  private def footerSchema(spark: SparkSession,
                           path: String): org.apache.parquet.schema.MessageType = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val src = schemaSource(spark, path, hadoopConf)
    require(src.partitionColumns.isEmpty,
      s"footerSchema: $path looks hive-partitioned " +
        s"(${src.partitionColumns.mkString(", ")}); partition columns are " +
        "absent from file footers — read partitions individually")
    readFooter(src.file, hadoopConf).getFileMetaData.getSchema
  }

  /** Read a parquet source surfacing each column in `tsCols` as an
    * epoch-MICROSECOND LONG, whatever INT64 timestamp unit the file uses —
    * NANOS, MICROS or MILLIS — without mutating the session.
    *
    * Real-world parquet is overwhelmingly TIMESTAMP(MICROS); synthetic
    * writers (e.g. arrow with `ns` precision) emit TIMESTAMP(NANOS), which
    * Spark rejects outright unless a session-wide legacy conf is set. This
    * reader makes the unit a per-file detail instead of a caller
    * assumption: the first footer's logical-type annotation decides the
    * scale, the physical INT64 is read raw against an explicit LongType
    * request schema (accepted by both the vectorized and row readers for
    * every timestamp unit — verified against MICROS and NANOS files), and
    * the values are normalized to micros (NANOS → div 1000, MILLIS →
    * × 1000). Integer division truncates sub-micro precision exactly like
    * a MICROS writer would have.
    *
    * A `tsCols` column that is plain INT64 (no timestamp annotation) is
    * passed through untouched — the caller already has longs and is
    * responsible for their unit. Non-INT64 timestamp encodings (INT96) are
    * rejected: their unit cannot be normalized by scaling. */
  def readParquetTsAsMicros(spark: SparkSession, path: String,
                            tsCols: Seq[String] = Seq("ts")): DataFrame = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.spark.sql.types.{LongType, StructType}
    val message = footerSchema(spark, path)
    // per-column micros conversion (SQL over the raw long) driven by the
    // footer's logical type; `div` truncates like a MICROS writer would
    val scale: Map[String, String] = tsCols.map { c =>
      require(message.containsField(c),
        s"readParquetTsAsMicros: no column `$c` in $path")
      val t = message.getType(Array(c): _*)
      require(t.isPrimitive && t.asPrimitiveType().getPrimitiveTypeName ==
        PrimitiveTypeName.INT64,
        s"readParquetTsAsMicros: `$c` in $path is not INT64 " +
          s"($t) — INT96 / nested timestamps cannot be unit-scaled")
      val sql = t.getLogicalTypeAnnotation match {
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          ts.getUnit match {
            case TimeUnit.NANOS  => s"`$c` div 1000 AS `$c`"
            case TimeUnit.MICROS => s"`$c`"
            case TimeUnit.MILLIS => s"`$c` * 1000 AS `$c`"
          }
        case _ => s"`$c`" // plain INT64 — already the caller's longs
      }
      c -> sql
    }.toMap
    // request schema: footer-derived (under a nanos-tolerant PRIVATE conf
    // clone so NANOS columns don't abort conversion), with every requested
    // ts column overridden to LongType — the readers then hand back the
    // raw INT64 values regardless of the timestamp annotation
    val conf = spark.sessionState.conf.clone()
    conf.setConfString("spark.sql.legacy.parquet.nanosAsLong", "true")
    val converted = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(conf).convert(message)
    val request = StructType(converted.map(f =>
      if (scale.contains(f.name)) f.copy(dataType = LongType) else f))
    val raw = spark.read.schema(request).parquet(path)
    raw.selectExpr(raw.columns.map(c => scale.getOrElse(c, s"`$c`")): _*)
  }

  /** Bucketed parquet table: rows are hash-clustered into `buckets` files
    * per partition on `bucketCols` and registered in the session catalog.
    * Joins/aggregations on the bucket columns then plan WITHOUT an
    * Exchange — at 100 TB this turns the BigDiffy full-outer join of two
    * tables pre-bucketed on the diff key into a shuffle-free zip of
    * co-located buckets. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    buckets: Int = 32): Unit = {
    val spark = df.sparkSession
    // `overwrite` alone cannot replace an ORPHANED managed-table directory
    // (location on disk, no catalog entry — what a previous JVM leaves
    // behind with an in-memory catalog): CREATE TABLE fails with
    // LOCATION_ALREADY_EXISTS. Clear the stale location ONLY in that
    // orphan case; when the table IS cataloged, plain overwrite keeps its
    // staged atomicity and its fail-fast on writing a table being read
    // (eagerly dropping here would delete the source under a lazy `df`
    // derived from the same table). Names are default-database by contract
    // (this is a local co-location utility, not a metastore API).
    if (!spark.catalog.tableExists(table)) {
      val loc = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")),
        table.toLowerCase(java.util.Locale.ROOT))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) {
        // refuse to clear the orphan if `df` itself READS from it (e.g. a
        // recovery flow that re-registers via spark.read.parquet(loc)) —
        // deleting first would destroy the data under the lazy plan
        val locStr = fs.makeQualified(loc).toString
        val readsTarget = df.queryExecution.analyzed.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            r.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.rootPaths.map(p =>
                  p.getFileSystem(spark.sparkContext.hadoopConfiguration)
                    .makeQualified(p).toString)
              case _ => Nil
            }
        }.flatten.exists(p => p == locStr || p.startsWith(locStr + "/"))
        if (readsTarget)
          throw new IllegalArgumentException(
            s"writeBucketed: input DataFrame reads from the orphaned target " +
              s"location $locStr — materialize it elsewhere first")
        fs.delete(loc, true)
      }
    }
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }
}
