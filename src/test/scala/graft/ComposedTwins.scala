package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Composed twins of native expressions that more than one spec uses as
  * its oracle (a twin one spec uses lives in that spec). */
object ComposedTwins {

  /** 60-bit hash from md5 hex chars 16..30 — disjoint digest bits from
    * `TextFunctions.hash60`; the `hi` half of the native
    * `TokenHashes60Pair`. */
  def hash60b(c: Column): Column =
    conv(substring(md5(c), 16, 15), 16, 10).cast("bigint")
}
