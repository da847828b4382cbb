package graft.io

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Readers for the driver-generated parquet tables (TESTDATA.md).
  *
  * All tables are plain parquet scans — Catalyst handles column pruning and
  * predicate pushdown, so readers stay schema-on-read and un-opinionated.
  * The one wrinkle is `events.ts`, whose physical encoding has varied across
  * testdata generations (parquet TIMESTAMP(NANOS), TIMESTAMP(MICROS) naive or
  * UTC-adjusted). [[normalizeEvents]] adapts to whichever encoding the scan
  * yields and always produces BOTH canonical forms: `ts_ns` (long, the
  * per-key total-order column, matching DuckDB's ordering of the native ts)
  * and `ts` (TimestampType micros for calendar functions year/month/etc.,
  * which are truncation-insensitive).
  */
object Tables {

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(parquetSchema(spark, path)).parquet(path)
  }

  /** (path, leaf files' (name, length, mtime), explicitly set conf). */
  private type SchemaKey = (String, Seq[(String, Long, Long)], Map[String, String])
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[SchemaKey, StructType]()

  /** The inferred schema of the parquet at `path`, inferred once per state
    * of its files and session conf: inference runs a Spark job (a footer
    * read), and every reader call paid it again on files it had already
    * read. The memo key is the path, every leaf file's name, length and
    * mtime — a rewrite at the same path infers afresh — and the session's
    * explicitly set conf, which steers inference (`nanosAsLong` turns
    * int64-nanos columns from timestamps into longs). Listing the leaves
    * runs no job. */
  private def parquetSchema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // listStatus, not listFiles: a located status reads each file's owner
    // and mode, which on a local file system without the native Hadoop
    // library forks an `ls` per file
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk) else Seq(st)
    // a missing path keys no leaves; its inference raises the engine's error
    val leaves =
      if (!fs.exists(p)) Seq.empty
      else walk(fs.getFileStatus(p))
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
    schemaMemo.computeIfAbsent((p.toString, leaves, spark.conf.getAll),
      _ => spark.read.parquet(path).schema)
  }

  def region(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** Spread a narrow scan across the cluster ONLY when it arrives in fewer
    * splits than there are cores (the small-single-file test inputs): at
    * production scale the input is already many splits and the exchange is
    * skipped entirely, so downstream projections keep the scan's
    * partitioning with zero shuffle. Partition-count inspection plans the
    * RDD lineage but runs no job. */
  def spreadIfNarrow(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(key) else df
  }

  /** The (doc_id, text) projection every text/dedup entry point starts
    * from — pruned to two columns and spread only when the scan arrives in
    * fewer splits than the cluster has slots (see [[spreadIfNarrow]]). */
  def documentsNarrow(spark: SparkSession, sfDir: String): DataFrame =
    spreadIfNarrow(
      documents(spark, sfDir).select(col("doc_id"), col("text")),
      col("doc_id"))

  private val fmtCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** A table re-read through a DIFFERENT file format (json/orc/csv…): the
    * parquet fixture is converted once per (format, sf, table) into a
    * cached temp directory, then read back with the ORIGINAL parquet
    * schema applied explicitly — schema inference is a per-run full-pass
    * cost (and a determinism risk) a production reader never pays. The
    * source-format witnesses register the SAME query over the converted
    * copy under the parquet form's oracle, so format round-trip fidelity
    * is hash-checked, not assumed. */
  def formatCopy(spark: SparkSession, sfDir: String, name: String,
                 format: String): DataFrame = {
    val dir = fmtCache.computeIfAbsent(s"$format:$sfDir:$name", { _ =>
      val out = java.nio.file.Files.createTempDirectory(s"graft-$format-$name-")
      out.toFile.deleteOnExit()
      table(spark, sfDir, name).write.mode("overwrite").format(format)
        .save(out.toString)
      out.toString
    })
    spark.read.schema(table(spark, sfDir, name).schema).format(format).load(dir)
  }

  /** Persist a frame as a bucketed (and per-bucket sorted) catalog table —
    * the co-located-join primitive: two tables bucketed the same way on
    * their join keys sort-merge-join with ZERO exchanges, pre-paying the
    * shuffle once at write time. At 100 TB this is how a fact table that is
    * joined repeatedly on the same key amortizes its shuffle; bucket count
    * should be sized so a bucket fits one task (rows/buckets × row width ≲
    * executor memory). */
  def saveBucketed(df: DataFrame, tableName: String,
                   buckets: Int, keys: Seq[String]): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(tableName)

  /** Structured-streaming file source over `<sfDir>/<name>.parquet`,
    * adapting to whichever LAYOUT the fixture generation chose (the same
    * defensive posture [[normalizeEvents]] takes for the ts encoding):
    *
    *  - a single bare parquet FILE streams via a leaf-name glob over its
    *    parent directory (`pathGlobFilter` matches leaf file names only, so
    *    globbing the file name directly is the one layout-safe form);
    *  - a Spark-written DIRECTORY dataset streams over the directory itself
    *    (its `part-*` files would never match a `<name>.parquet` leaf glob —
    *    the silent-empty-drain trap the old single-file assertion guarded).
    *
    * Schema is pinned from the batch scan's (file-source streams require
    * an explicit schema), inferred once ([[parquetSchema]]). */
  def streamTable(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schema = parquetSchema(spark, path)
    if (fs.getFileStatus(p).isFile)
      spark.readStream.schema(schema)
        .option("pathGlobFilter", s"$name.parquet").parquet(sfDir)
    else
      spark.readStream.schema(schema).parquet(path)
  }

  /** Normalize a raw `events` scan — batch OR streaming — to the canonical
    * shape, adapting to whichever physical encoding the writer chose for
    * `ts` instead of assuming one:
    *
    *  - parquet TIMESTAMP(NANOS) surfaced as a BIGINT via
    *    `spark.sql.legacy.parquet.nanosAsLong` → rename to `ts_ns`
    *    (lossless ns long) and derive `ts` by truncation to micros;
    *  - parquet TIMESTAMP(MICROS), UTC-adjusted (TimestampType) or naive
    *    (TimestampNTZType) → keep `ts` (casting NTZ to TimestampType; every
    *    entry-point session pins `spark.sql.session.timeZone=UTC`, so the
    *    cast is value-preserving) and derive `ts_ns = unix_micros(ts)×1000`.
    *
    * Ordering parity with the DuckDB oracle holds in every branch: the
    * oracle orders by the native `ts` it reads, and ×1000 is monotone, so
    * `ts_ns` remains the total-order key with no oracle SQL changes. */
  def normalizeEvents(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case org.apache.spark.sql.types.TimestampType =>
        raw.withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      case other =>
        throw new IllegalArgumentException(
          s"events.ts has unsupported type $other — expected int64 nanos " +
            "(nanosAsLong), TIMESTAMP, or TIMESTAMP_NTZ")
    }

  /** `events` with `ts` usable: ts_ns (long, total-order key) + ts (micros timestamp). */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // still required for the TIMESTAMP(NANOS) encoding; a no-op for micros
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEvents(table(spark, sfDir, "events"))
  }
}
