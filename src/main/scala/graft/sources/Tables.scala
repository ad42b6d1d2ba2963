package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Loaders for the driver's parquet test tables (TESTDATA.md) plus the
  * canonical event/tweet schema of the reference pipeline.
  *
  * Reference data model: a JSON tweet stream `{text, created_at, sentiment,
  * entities}` (fake_producer.py:85-90, spark_stream.py:18-22). The reference
  * declares `entities` as an array of empty structs — a lossy placeholder; the
  * producers actually emit an array of entity strings, so the engine models it
  * as `ArrayType(StringType)` (SURVEY.md §1.2).
  */
object Tables {

  /** Canonical tweet-event schema used by the streaming pipeline and parsers. */
  val tweetSchema: StructType = StructType(Seq(
    StructField("text", StringType),
    StructField("created_at", TimestampType),
    StructField("sentiment", StringType),
    StructField("entities", ArrayType(StringType))))

  private def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark 4 refuses to read
    * natively; read it as long nanos (legacy conf) and truncate to a µs
    * timestamp (`div 1000` truncation == DuckDB's ns→µs cast, so the oracle
    * sees bit-identical values).
    *
    * The conf properly belongs at session build (Verify/Bench/test builders
    * set it); the set here is a defensive repeat for ad-hoc sessions and is
    * acknowledged session-global: after any events() call, other
    * TIMESTAMP(NANOS) parquet in the session also reads as long. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      // Spark 4.1 surfaces parquet TIMESTAMP(isAdjustedToUTC=false) as
      // TIMESTAMP_NTZ, whose numeric casts the analyzer rejects; normalize to
      // LTZ at the source. The session TZ is pinned to UTC engine-wide, so the
      // instant (and every oracle hash) is unchanged.
      case TimestampNTZType =>
        df.withColumn("ts", df.col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** The embedding catalog as `(vec_id, v)` with `v` an `array<double>` —
    * the one place the vector operators' element type is decided. */
  def vectors(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
}
