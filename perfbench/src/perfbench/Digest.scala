package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a job's output, computed where the rows
  * are: the job's action aggregates its output to one row in Spark rather
  * than collecting it to the driver.
  *
  * Columns are taken in name order and each value is rendered canonically
  * (doubles rounded to 6 significant digits, as `tools/compare.py` does, so
  * a last-bit difference from a different summation order never reads as
  * a mismatch). Each rendered row is hashed to 64 bits; the digest is the
  * row count with the sums of the hashes' two 32-bit halves and the xor of
  * the hashes. Sums and xor commute, so any row order or partitioning
  * gives the same digest, and the sums still tell a duplicated row from a
  * missing one.
  */
object Digest {

  def of(df: DataFrame): String = {
    val fields = df.schema.fields.sortBy(_.name)
    val h = xxhash64(concat_ws("|", fields.map(f => render(col(f.name), f.dataType)).toIndexedSeq: _*))
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(shiftrightunsigned(col("h"), 32)),
        sum(col("h").bitwiseAND(lit(0xffffffffL))), bit_xor(col("h")))
      .head()
    val (n, hi, lo, x) = (r.getLong(0), r.getAs[Any](1), r.getAs[Any](2), r.getAs[Any](3))
    s"$n:$hi:$lo:$x"
  }

  private def render(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      val e = floor(log10(abs(d)))
      when(d.isNull, lit("NULL"))
        .when(d === 0.0 || isnan(d) || d.isin(Double.PositiveInfinity, Double.NegativeInfinity),
          d.cast(StringType))
        .otherwise(concat(round(d * pow(lit(10.0), lit(5) - e)).cast(LongType).cast(StringType),
          lit("e"), e.cast(LongType).cast(StringType)))
    case _: ArrayType | _: MapType | _: StructType => coalesce(to_json(c), lit("NULL"))
    case _ => coalesce(c.cast(StringType), lit("NULL"))
  }
}
