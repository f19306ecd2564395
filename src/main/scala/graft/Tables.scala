package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.Memo.memo

/** Loaders for the driver's synthetic parquet corpus (TESTDATA.md).
  *
  * Columnar parquet scans — Catalyst pushes predicates and prunes
  * columns into these reads, so every query should start here rather
  * than caching or collecting (SURVEY.md §1 "Orientation & schema
  * system"). Schemas are fixed by the corpus (FIXTURES.md §A) but have
  * drifted across corpus regenerations, so we read them as-written
  * rather than declaring them, and assert them in CorpusCanarySpec.
  *
  * Resolve once per session: [[load]] infers a file's schema from its
  * parquet footer the first time a session reads it, and afterwards
  * reads with that schema given, so a query's load runs no Spark job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val schemas = Memo.cache[(String, Long, Long), StructType]

  /** `spark.read.parquet` of `<dir>/<name>.parquet`, with the footer
    * schema inference (one Spark job) memoized per (session, path,
    * modification time, length). The cached value is exactly the schema
    * Spark infers, so plans and outputs equal those of the bare read.
    * The stamp comes from one Hadoop `getFileStatus` per load (no Spark
    * job): a file rewritten at the same path is inferred again. For a
    * directory of part files the stamp is the directory's own, which
    * changes whenever a writer adds, removes or renames a part file (a
    * Spark overwrite does all three). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    val schema = memo(schemas, spark, (path, st.getModificationTime, st.getLen)) {
      spark.read.parquet(path).schema
    }
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, dir: String): DataFrame = load(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame = load(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame = load(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = load(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame = load(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame = load(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame = load(s, dir, "lineitem")

  /** Schema-adaptive events loader. The driver has shipped `events.ts`
    * in two parquet encodings across corpus regenerations:
    *
    *   - INT64 TIMESTAMP(NANOS), which Spark 4 refuses to read natively
    *     (PARQUET_TYPE_ILLEGAL). Only then do we set the legacy SQLConf
    *     `spark.sql.legacy.parquet.nanosAsLong`, read the column as long
    *     nanos and floor-divide to a microsecond timestamp. `div` is
    *     integral division: ns values (~1.7e18) would lose precision
    *     through a double `/`; truncation is floor for positive epochs,
    *     matching how every query buckets ts downward.
    *   - plain timestamp[us] (isAdjustedToUTC=false), which Spark reads
    *     as TIMESTAMP_NTZ. Queries and the DuckDB oracle both treat ts
    *     as wall-clock; the session tz is pinned to UTC everywhere
    *     (Verify/Bench/specs), so casting NTZ → TIMESTAMP is value-
    *     preserving and gives every downstream query the one ts type
    *     they were written against.
    *
    * Dispatch on the type Spark actually inferred, so either corpus
    * shape loads — and a third shape fails loudly here, in one place,
    * instead of as 60 scattered analysis errors. */
  def events(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = try load(s, dir, "events") catch {
      case e: Exception if illegalParquetType(e) =>
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        load(s, dir, "events")
    }
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalStateException(
        s"events.ts has unsupported parquet type $other; " +
        "expected INT64 nanos, TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }

  /** Whether `e` is Spark refusing a footer type it cannot map (an INT64
    * TIMESTAMP(NANOS) column without the legacy flag). The footer is read
    * inside the inference job, so the error arrives as the cause of the
    * job failure. */
  private def illegalParquetType(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case t: SparkThrowable => t.getCondition == "PARQUET_TYPE_ILLEGAL"
      case _ => false
    }

  def documents(s: SparkSession, dir: String): DataFrame = load(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")
}
