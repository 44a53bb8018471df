package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive result digest: one aggregate over every column of
  * a result, so no column can be pruned the way a bare `count` would
  * prune it. Each row hashes to two independent 64-bit values whose
  * exact (decimal) sums over all rows form the digest; row order and
  * partitioning therefore never change it, while changing, adding or
  * dropping a single row does.
  *
  * Floating-point values are first printed to 9 significant digits:
  * the summation order of a distributed aggregate moves only the last
  * few bits of a double, which this rounding absorbs, and the gate
  * queries that have an oracle already round their floats for the
  * exact comparison in `tools/check.py`.
  */
object Check {
  final case class Digest(rows: Long, value: String)

  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(e, _)        => hasFloat(e)
    case StructType(fs)         => fs.exists(f => hasFloat(f.dataType))
    case _: MapType             => true
    case _                      => false
  }

  private[graftbench] def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      when(d === 0.0, lit("0")).otherwise(format_string("%.9g", d))
    case ArrayType(e, _) if hasFloat(e) => transform(c, x => norm(x, e))
    case StructType(fs) if hasFloat(t) =>
      struct(fs.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(k, v, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), k).as("k"), norm(e.getField("value"), v).as("v"))))
    case _ => c
  }

  /** The digest of `df`, computed by one Spark action. */
  def digest(df: DataFrame): Digest = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    val hashed =
      if (cols.isEmpty) renamed.select(lit(0L).as("h1"), lit(0).as("h2"))
      else renamed.select(xxhash64(cols: _*).as("h1"), hash(cols: _*).as("h2"))
    val r = hashed.agg(
      count(lit(1)),
      coalesce(sum(col("h1").cast(DecimalType(38, 0))), lit(BigDecimal(0))),
      coalesce(sum(col("h2").cast(DecimalType(38, 0))), lit(BigDecimal(0)))).head()
    Digest(r.getLong(0), s"${r.getDecimal(1).toPlainString}:${r.getDecimal(2).toPlainString}")
  }
}
