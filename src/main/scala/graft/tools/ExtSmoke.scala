package graft.tools

import org.apache.spark.sql.functions._

/** Live smoke for the SparkSessionExtensions SQL surface and the
  * flatMapGroupsWithState sessionizer over the real events table.
  * Run: `sbt "runMain graft.tools.ExtSmoke /root/testdata/sf0.001"`. */
object ExtSmoke {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.local(confs = Map(
      "spark.sql.extensions" -> "graft.GraftExtensions")) // deployment path
    import spark.implicits._

    // SQL surface via extensions (no register() call in this session)
    spark.read.parquet(s"$dir/embeddings.parquet").createOrReplaceTempView("emb")
    val top = spark.sql(
      """SELECT e.vec_id,
               round(graft_dot(CAST(e.embedding AS ARRAY<DOUBLE>), q.qv) /
                     (graft_l2norm(CAST(e.embedding AS ARRAY<DOUBLE>)) * graft_l2norm(q.qv)), 4) AS cos
         FROM emb e CROSS JOIN
           (SELECT CAST(embedding AS ARRAY<DOUBLE>) AS qv FROM emb WHERE vec_id = 0) q
         ORDER BY cos DESC, vec_id LIMIT 3""").collect()
    println(s"sql_ext_topk=${top.map(r => s"${r.getLong(0)}:${r.getDouble(1)}").mkString(",")}")
    println("sql_ext_simhash=" + spark.sql(
      "SELECT graft_simhash60(array(CAST(7 AS BIGINT), CAST(5 AS BIGINT), CAST(5 AS BIGINT)))")
      .head().getLong(0))

    // streaming sessionizer over real events, compared to the batch query
    val ev = graft.sources.Tables.events(spark, dir)
      .select($"user_id", $"event_id", graft.streaming.Events.nsToUs($"ts").as("ts_us"))
      .as[graft.streaming.Events.SessionEvent]
    implicit val ctx = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[graft.streaming.Events.SessionEvent]
    val q = graft.streaming.Events.sessionizeStream(ms.toDS())
      .writeStream.outputMode("append").format("memory").queryName("livesessions").start()
    ms.addData(ev.collect().toSeq)
    q.processAllAvailable(); q.stop()
    val closedViaStream = spark.table("livesessions").count()
    val batchSessions = graft.streaming.Events.sessionize(
      graft.sources.Tables.events(spark, dir)).count()
    val users = ev.select($"user_id").distinct().count()
    println(s"stream_closed_sessions=$closedViaStream batch_sessions=$batchSessions open(users)=$users")
    // append-mode stream emits closed sessions only: batch total minus one open per user
    println(s"parity=${closedViaStream == batchSessions - users}")
    spark.stop()
  }
}
