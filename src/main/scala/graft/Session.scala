package graft

import org.apache.spark.sql.SparkSession

/** The one way a graft main or spec builds its session. Every setting
  * that makes two runs comparable lives here, so a tool measures under
  * the same conditions as Bench and Verify:
  *  - master `local[cores]` with `cores` shuffle partitions;
  *  - UTC session time zone (cross-engine date math);
  *  - `nanosAsLong`: TIMESTAMP(NANOS)-era `events.ts` reads as an
  *    epoch-nanos long; micros-era data is normalized by `Tables`;
  *  - UI off, log level WARN.
  *
  * Callers choose only `cores` and the deployment confs below
  * (where scratch and the warehouse live, which extensions load). Runtime
  * SQL confs a tool needs (e.g. AQE off) are set with `spark.conf.set`
  * after creation, where they stay visible at the call site. */
object Session {

  /** Static confs that say where the session runs, not how it plans. */
  private val deployment: Set[String] =
    Set("spark.local.dir", "spark.sql.warehouse.dir", "spark.sql.extensions")

  /** `SPARK_GRAFT_CPUS`, else 4 — the thread count Bench and Verify run at. */
  def defaultCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def local(cores: Int = defaultCores,
            confs: Map[String, String] = Map.empty): SparkSession = {
    val unknown = confs.keySet -- deployment
    require(unknown.isEmpty,
      s"Session.local takes only deployment confs, not ${unknown.mkString(", ")}")
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val spark = confs.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
