package etlbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a query's whole result: every column of
  * every row goes into one xxhash64 per row, summed exactly. Used as the
  * timed action because `count()` lets the optimizer prune output
  * columns, so a wrong value in a pruned column would never show.
  */
object Digest {
  private def norm(c: Column, t: DataType): Column = t match {
    // xxhash64 rejects maps; their entries in key order carry the same data
    case m: MapType => norm(array_sort(map_entries(c)), ArrayType(StructType(Seq(
      StructField("key", m.keyType), StructField("value", m.valueType)))))
    // -0.0 and NaN payloads hash differently from their equal values
    case DoubleType | FloatType => when(c.isNaN, lit(Double.NaN))
      .otherwise(c.cast(DoubleType) + lit(0.0))
    case _ => c
  }

  /** (row count, digest) of `df`, computed by one full-result job. */
  def apply(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    val s = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    (r.getLong(0), s)
  }
}
