package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The timed action of every batch query: a row count plus an
  * order-insensitive checksum over every output column. `count()` alone
  * would let Catalyst prune the columns away; hashing all of them forces
  * each to be computed.
  *
  * Doubles are canonicalized the way tools/check.py does before it hashes
  * (rounded to 9 decimals), and -0.0 folds into 0.0, so fold-order noise
  * cannot flip a checksum. Rows hash independently and the hashes are
  * summed as an exact decimal, so row order and partitioning drop out. */
object Checksum {

  final case class Result(rows: Long, sum: String)

  private def needsCanon(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(e, _) => needsCanon(e)
    case StructType(fs) => fs.exists(f => needsCanon(f.dataType))
    case _ => false
  }

  def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 9) + lit(0.0)
    case ArrayType(e, _) if needsCanon(e) => transform(c, x => canon(x, e))
    case StructType(fs) if needsCanon(t) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  /** The aggregate frame whose single row is (rows, checksum). */
  def frame(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.sortBy(_.name).toSeq
      .map(f => canon(col(s"`${f.name}`"), f.dataType).as(f.name))
    val h = xxhash64(to_json(struct(cols: _*), Map("ignoreNullFields" -> "false")))
    df.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)).as("rows"), coalesce(sum(col("h")), lit(0)).as("sum"))
  }

  def of(df: DataFrame): Result = {
    val r = frame(df).collect().head
    Result(r.getLong(0), r.get(1).toString)
  }
}
