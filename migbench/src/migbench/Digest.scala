package migbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count and an order-independent content digest of a table: the sum
  * over rows of a hash of every column rendered as text. The schema picks
  * the columns and their rendering, so a loaded copy is read the way its
  * source was. */
final case class Digest(rows: Long, hashSum: BigDecimal)

object Digest {

  /** The two aggregates, usable in `agg` or in an `observe` on a write. */
  def aggregates(schema: StructType): Seq[Column] = {
    val parts = schema.fields.toSeq.map { f =>
      val c = col(f.name)
      coalesce(f.dataType match {
        case BinaryType => hex(c)
        case _: ArrayType => to_json(c)
        case TimestampType => date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
        case _ => c.cast("string")
      }, lit("\u0000null"))
    }
    Seq(count(lit(1)).as("rows"), sum(xxhash64(parts: _*).cast("decimal(38,0)")).as("hash_sum"))
  }

  def of(rows: Long, hashSum: java.math.BigDecimal): Digest =
    Digest(rows, if (hashSum == null) BigDecimal(0) else BigDecimal(hashSum))

  def of(df: DataFrame, schema: StructType): Digest = {
    val aggs = aggregates(schema)
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    of(r.getLong(0), r.getDecimal(1))
  }
}
