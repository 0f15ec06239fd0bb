package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent fingerprint of a result: (row count, digest).
  *
  * Every column is rendered to a canonical string first, so a frame and the
  * parquet dump of the same frame (whose timestamps were written as NTZ)
  * digest alike. Doubles and floats are rounded to 9 significant digits,
  * which absorbs the last-ulp jitter of float sums whose order depends on
  * task timing. Each row hashes to a 64-bit xxhash and the digest is the
  * exact decimal sum of those hashes, so row order does not matter and any
  * changed, added or dropped row moves it. */
object Digest {

  private def canon(c: Column, dt: DataType): Column = {
    val s = dt match {
      case DoubleType | FloatType =>
        val d = c.cast(DoubleType)
        when(isnan(d), lit("NaN"))
          .when(d === 0.0, lit("0"))
          .otherwise(format_string("%.8e", d))
      case TimestampType => c.cast(TimestampNTZType).cast(StringType)
      case _ => c.cast(StringType)
    }
    coalesce(s, lit("\u0000null"))
  }

  def rowHash(df: DataFrame): Column =
    xxhash64(df.schema.fields.toIndexedSeq.map(f => canon(col(f.name), f.dataType)): _*)

  def of(df: DataFrame): (Long, String) = {
    val r = df.select(rowHash(df).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}
