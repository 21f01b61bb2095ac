package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A full-row fingerprint: the row count plus an order-independent sum of a
  * per-row hash over every column.
  *
  * This is the consuming action of every read op. Because the hash reads
  * every column, Catalyst cannot prune a computed column the way it can
  * under `.count()`. Values are normalized first so the fingerprint depends
  * on what the query computed, not on the order Spark happened to combine
  * it in: doubles keep 6 significant digits (a sum's last bits move with
  * partition order), -0.0 reads as 0.0, and arrays and maps are sorted.
  */
final case class Fingerprint(rows: Long, hash: String) {
  override def toString: String = s"$rows:$hash"
}

object Fingerprint {
  def parse(s: String): Fingerprint = s.split(':') match {
    case Array(r, h) => Fingerprint(r.toLong, h)
    case _ => throw new IllegalArgumentException(s"bad fingerprint '$s'")
  }

  def of(df: DataFrame): Fingerprint = {
    val cols = df.schema.fields.toSeq.map(f => normalize(col(s"`${f.name}`"), f.dataType))
    val row = df.select(xxhash64(lit(0) +: cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    Fingerprint(row.getLong(0), Option(row.getDecimal(1)).fold("0")(_.toPlainString))
  }

  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.6e", c.cast(DoubleType) + lit(0.0))
    // normalizing turns every map into an array, so every element orders
    case ArrayType(et, _) => array_sort(transform(c, normalize(_, et)))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      normalize(map_entries(c), ArrayType(StructType(Seq(
        StructField("key", kt), StructField("value", vt)))))
    case _ => c
  }
}
