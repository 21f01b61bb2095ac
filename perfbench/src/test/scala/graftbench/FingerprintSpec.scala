package graftbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {
  // scratch under the build's own target directory, as a run keeps its own
  private val scratch = Files.createDirectories(Paths.get("target", "spec-scratch")).toFile

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.local.dir", s"$scratch/spark-local")
    .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = { spark.stop(); graftbench.Files.delete(scratch) }

  test("the fingerprint ignores row order and partitioning") {
    import spark.implicits._
    val rows = Seq((1L, "a", 0.1 + 0.2, Seq(3, 1, 2)), (2L, "b", -0.0, Seq(5, 4)))
    val a = rows.toDF("k", "s", "d", "xs")
    val b = rows.reverse.toDF("k", "s", "d", "xs").repartition(2)
      .withColumn("xs", reverse(col("xs")))
      .withColumn("d", when(col("k") === 1, lit(0.3)).otherwise(lit(0.0)))
    assert(Fingerprint.of(a) == Fingerprint.of(b))
  }

  test("the fingerprint changes with any column of any row") {
    import spark.implicits._
    val base = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("k", "s", "d")
    val fp = Fingerprint.of(base)
    assert(Fingerprint.of(base.withColumn("s", when(col("k") === 2, "c").otherwise(col("s")))) != fp)
    assert(Fingerprint.of(base.withColumn("d", when(col("k") === 1, 1.6).otherwise(col("d")))) != fp)
    assert(Fingerprint.of(base.filter(col("k") === 1)) != fp)
    assert(Fingerprint.parse(fp.toString) == fp)
  }

  test("every output column is computed, which count() would prune") {
    val boom = udf((x: Long) => { if (x >= 0) throw new IllegalStateException("computed"); x })
    val df = spark.range(3).withColumn("c", boom(col("id")))
    assert(df.count() == 3)
    val e = intercept[Exception](Fingerprint.of(df))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("computed")))
  }

  test("a wrong pinned fingerprint and a failing op are counted, and the run goes on") {
    val root = Files.createTempDirectory(scratch.toPath, "harness").toFile
    try {
      val tables = s"$root/tables"
      Data.ensure(spark, tables, s"$root/tables.tmp")
      val op = "dedup_simhash_pairs"
      def harness(pins: Map[String, Fingerprint], ops: Seq[String]) = {
        val w = new Workloads.Corpus(spark, tables, pins, ops)
        (w, new Harness(spark, w, root.toString, cores = 2, seed = 1L, traced = false))
      }
      val (probe, first) = harness(Map.empty, Seq(op))
      first.measure(0, minRounds = 1)
      val right = probe.seen(op).head

      val (_, good) = harness(Map(op -> right), Seq(op))
      good.measure(0, minRounds = 1)
      assert(good.samples.count(_.failed) == 0)

      val wrong = Fingerprint(right.rows, "1" + right.hash.stripPrefix("-"))
      val (_, bad) = harness(Map(op -> wrong), Seq(op, "no_such_key"))
      bad.measure(0, minRounds = 1)
      assert(bad.samples.size == 2)
      assert(bad.samples.count(_.failed) == 2)
      val line = bad.report(setupS = 1.0, layers = Map.empty)
      assert(line.contains("\"correct\": false") && line.contains("\"attempted\": 2") &&
        line.contains("\"failed\": 2"))
    } finally graftbench.Files.delete(root)
  }
}
