package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Consumes every column of a query result on the executors and folds
  * it into an order-independent digest, so a timed request can never
  * be pruned down to a row count. Floating-point values are rendered to
  * ten significant digits first: a sum whose addition order follows
  * task completion may differ in its last bits between runs.
  */
object Consume {

  final case class Digest(rows: Long, sum: Long, xor: Long, bytes: Long) {
    def key: String = s"$rows:$sum:$xor"
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9e", c.cast("double"))
    case ArrayType(e, _) => transform(c, x => canon(x, e))
    case StructType(fs) =>
      struct(fs.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(k, v, _) =>
      transform(map_entries(c), e =>
        struct(canon(e.getField("key"), k), canon(e.getField("value"), v)))
    case _ => c
  }

  /** One job: canonical JSON per row → (rows, Σ hash mod 2^31, ⊕ hash,
    * Σ bytes). The sum keeps duplicate rows visible; the xor catches
    * what a sum collision would hide. */
  def digest(df: DataFrame): Digest = {
    val row = to_json(struct(df.schema.fields.toSeq.map(f =>
      canon(col(s"`${f.name}`"), f.dataType).as(f.name)): _*),
      Map("ignoreNullFields" -> "false"))
    val h = xxhash64(row)
    val r = df.select(h.as("h"), octet_length(row).as("b"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(1L << 31))),
        bit_xor(col("h")), sum(col("b")))
      .head()
    Digest(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2),
      if (r.isNullAt(3)) 0L else r.getLong(3))
  }
}
