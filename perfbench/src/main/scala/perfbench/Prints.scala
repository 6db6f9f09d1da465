package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Order-independent content hashes: a row count and the exact sum of
  * every row's 64-bit hash over all columns, so neither row order nor
  * file layout matters. Floating-point values are rounded to 6 decimals
  * first, so a float sum whose summation order varies from run to run
  * still hashes the same. */
object Prints {
  private def stable(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(DoubleType | FloatType, _) =>
      transform(c, x => round(x.cast(DoubleType), 6))
    case _ => c
  }

  /** One row (n, h) holding `df`'s count and hash, as a lazy frame. */
  def agg(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq
      .map(f => stable(col(s"`${f.name}`"), f.dataType))
    df.agg(count(lit(1)).as("n"),
      coalesce(sum(xxhash64(cols: _*).cast("decimal(38,0)")), lit(0))
        .cast("string").as("h"))
  }

  /** `n:h` for `df`, in one job. */
  def of(df: DataFrame): String = {
    val r = agg(df).head()
    s"${r.getLong(0)}:${r.getString(1)}"
  }
}
