package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Killed-run forensics (round-8 postmortem: the driver window closed
  * mid-suite and the round recorded NO correctness evidence): the oracle
  * SQL is written FIRST — the per-query parquet dumps that follow are
  * already incremental, so any queries that complete before a timeout are
  * comparable — and a `[verify]` stderr line per query shows exactly where
  * a killed run died.
  *
  * `Verify <sfDir> <outDir> [key...]`: with keys, only those are dumped
  * and only their oracle SQL is written (then `tools/check_oracle.py`
  * compares just them); a key `SparkEntry` does not define fails before
  * any session exists, so a typo cannot pass as an empty compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [key...]")
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    val keep: String => Boolean = if (only.isEmpty) _ => true else only
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    writeOracleSql(outDir, keep)
    val names = SparkEntry.queries.toSeq.filter(kv => keep(kv._1)).sortBy(_._1)
    val t0 = System.nanoTime()
    names.zipWithIndex.foreach { case ((name, fn), i) =>
      val q0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] ${i + 1}/${names.size} $name ok " +
          f"(${(System.nanoTime() - q0) / 1e9}%.1f s, total ${(System.nanoTime() - t0) / 1e9}%.1f s)")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${i + 1}/${names.size} $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  /** Writes `oracle_sql.json` for the oracle keys `keep` accepts. JSON
    * string escape covers backslash, quote and ALL control chars (<0x20):
    * a tab or CR in hand-written oracle SQL would otherwise make the
    * DuckDB compare's json.load fail and silently skip every check. */
  def writeOracleSql(outDir: String, keep: String => Boolean): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
