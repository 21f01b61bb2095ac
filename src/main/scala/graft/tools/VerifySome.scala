package graft.tools

/** Selective Verify: like [[graft.Verify]] but only for the named queries —
  * fast iteration on one operator without re-running the whole inventory.
  * `sbt "runMain graft.tools.VerifySome <sfDir> <outDir> <name> [name...]"`
  * then `python3 tools/check_oracle.py <sfDir> <outDir>`. */
object VerifySome {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSet
    val spark = graft.Session.local()
    new java.io.File(outDir).mkdirs()
    graft.SparkEntry.queries.filter(kv => names(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable => System.err.println(s"[verify] $name failed: ${e.getMessage}") }
    }
    graft.Verify.writeOracleSql(outDir, names)
    spark.stop()
  }
}
