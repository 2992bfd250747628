package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Parquet loaders for the testdata tables (TESTDATA.md). Every
  * operator entry point takes `(SparkSession, sfDir)` and reads only
  * through here, so Catalyst sees a plain parquet relation and can
  * push filters/projections into the scan.
  *
  * Schemas are inferred once per file per JVM. A bare
  * `spark.read.parquet(path)` infers the schema by running a one-task
  * Spark job that reads the file's footer, and every query builds its
  * reads afresh, so that job used to precede most queries (14 of the
  * 24 build-phase jobs of perfbench's `etl_daily`). `load` keeps the
  * inferred schema in a JVM-wide memo and passes it to
  * `spark.read.schema(...)`, which skips inference. The memo key is
  * everything that shapes the inferred schema: the file's qualified
  * path, length and modification time (a rewritten file is inferred
  * again) and the session's values of `schemaConfs`. A hit costs one
  * `getFileStatus` per read; nothing else is cached across sessions.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Session settings that change what parquet schema inference
    * returns for the same file (see `events` for the `ts` variants
    * they produce). */
  private val schemaConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong")

  private case class SchemaKey(path: String, len: Long, mtime: Long,
      confs: Seq[String])

  private val schemas = new ConcurrentHashMap[SchemaKey, StructType]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val hp = new Path(path)
    val st = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(hp)
    val key = SchemaKey(st.getPath.toString, st.getLen,
      st.getModificationTime, schemaConfs.map(spark.conf.get))
    val schema = schemas.computeIfAbsent(key,
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Spread a small-file scan across all cores. The testdata tables are
    * single small parquet files → one input split → CPU-heavy per-row
    * operators (hashing, shingling) run single-threaded without this.
    * On a real cluster the input would arrive in many splits; this
    * restores that shape locally. Use only in front of compute-heavy
    * per-row work — a shuffle is not free.
    */
  def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` arrives in whatever parquet timestamp encoding the
    * corpus generator used — normalize every variant to a plain
    * TimestampType so downstream operators see one type:
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) → Spark 4 reads
    *    TIMESTAMP_NTZ; the session TZ is pinned to UTC (Sessions), so
    *    casting reinterprets the wall-clock as the same UTC instant.
    *  - TIMESTAMP(NANOS) → raw long if the caller set the legacy
    *    `spark.sql.legacy.parquet.nanosAsLong` read; convert ns→µs
    *    (older corpus generations).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _        => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
