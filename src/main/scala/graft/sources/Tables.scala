package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.expr

/** Typed loaders for the test star schema. Scans stay declarative so
  * Catalyst pushes filters/projections into the parquet reader —
  * `PlanSpec` asserts `PushedFilters`/`ReadSchema` on the hot queries.
  *
  * Every load DECLARES its schema: [[parquet]] reads it from one
  * footer on the driver, so no schema-inference job runs before the
  * query's own (SourcesSpec counts 0 jobs per table load). At scale
  * the declared schema comes from a catalog; the footer is its local
  * stand-in.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` with the schema Spark would infer, read
    * without a Spark job: the footer of the first data file by path
    * (the file inference picks with `mergeSchema` off), converted by
    * the function inference calls per file, so the Spark row-metadata
    * key and the session's timestamp and binary confs still apply.
    * `prepare` sees the footer's parquet schema before it is
    * converted. Nothing is cached. A path with no data file goes to
    * Spark's reader unchanged, which raises its own error. */
  private[graft] def parquet(spark: SparkSession, path: String,
                             prepare: MessageType => Unit = _ => ()): DataFrame =
    firstFooter(spark, path) match {
      case Some(footer) =>
        prepare(footer.getParquetMetadata.getFileMetaData.getSchema)
        val schema = ParquetFileFormat.readSchemaFromFooter(footer,
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The footer of the first data file under `path` by path string,
    * skipping `_*` and `.*` names as Spark's file index does. */
  private def firstFooter(spark: SparkSession, path: String): Option[Footer] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def leaves(st: FileStatus): Iterator[FileStatus] =
      if (!st.isDirectory) Iterator(st)
      else fs.listStatus(st.getPath).iterator.filter { c =>
        val n = c.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }.flatMap(leaves)
    val files = if (fs.exists(root)) leaves(fs.getFileStatus(root)) else Iterator.empty
    files.minByOption(_.getPath.toString).map { st =>
      new Footer(st.getPath, ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(st, conf), SKIP_ROW_GROUPS))
    }
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `ts` arrives as TIMESTAMP(MICROS) in current testdata and Spark
    * reads it natively (NTZ or LTZ depending on isAdjustedToUTC).
    * Older generations wrote TIMESTAMP(NANOS), which Spark's reader
    * rejects unless `spark.sql.legacy.parquet.nanosAsLong=true`
    * surfaces it as Long; that conf is set ONLY when the footer's `ts`
    * is NANOS, before the schema is converted — loading µs data never
    * mutates session state. The Long branch truncates ns→µs exactly
    * like DuckDB does, so the oracle agrees bit-for-bit with every
    * physical shape (SourcesSpec writes all three and asserts
    * identical load output). */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = parquet(s, s"$d/events.parquet", { footer =>
      val nanos = footer.containsField("ts") &&
        (footer.getType(footer.getFieldIndex("ts")).getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
          case _ => false
        })
      if (nanos) s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    })
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // normalize to TIMESTAMP (session TZ is pinned UTC, so this is
        // lossless) — downstream ops cast ts↔long epoch seconds, which
        // Spark forbids on NTZ
        raw.withColumn("ts", expr("to_timestamp_ltz(ts)"))
      case _ => raw
    }
  }

  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Restore scan parallelism over the driver's SINGLE-row-group
    * testdata files: one parquet row group = one Spark split = one
    * task, which serializes every downstream per-row transform (JSON
    * codec, gram hashing, regex) on one core until the first exchange.
    * A production lake writes many row groups and files, so splits
    * give this parallelism for free — and then this is a NO-OP: the
    * exchange is added only when the input plan has fewer than half
    * the cluster's cores in partitions, so the same call sites that
    * buy back local parallelism never round-robin-shuffle a corpus
    * that already arrives split. Use ONLY ahead of CPU-heavy decode
    * paths — cheap scans should keep their exchange-free plan. */
  def fanOut(df: DataFrame): DataFrame = {
    // a streaming frame has no static partition count (df.rdd would
    // throw); micro-batch parallelism comes from the source config
    if (df.isStreaming) return df
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    // physical-plan partition count of the input as it would execute
    // (no job is run; rdd construction only plans)
    if (df.rdd.getNumPartitions >= math.max(1, parallelism / 2)) df
    else df.repartition(parallelism)
  }
}
