package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What a catalog query's output must match: row count, schema and an
  * order-insensitive content hash (the sum of per-row xxhash64 values,
  * with floating-point values rounded to 6 decimals so last-ulp
  * summation-order differences do not count as a change).
  */
case class Fingerprint(rows: Long, schema: String, hash: String)

object Fingerprint {

  def of(df: DataFrame): Fingerprint = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => normalize(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    Fingerprint(r.getLong(0), df.schema.simpleString,
      Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }
}
