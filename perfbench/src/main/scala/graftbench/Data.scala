package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generated inputs. The engine sees only what this file writes.
  *
  * Three tables: `lineitem`, which `SparkEntry.prepareShared` reads during
  * set-up, and the `documents` and `embeddings` the corpus ops read. They
  * mirror the shapes and value domains the engine's queries are written
  * against (TPC-H-ish line items, a 30-word document vocabulary with planted
  * near-duplicates, unit-norm 64-d clustered embeddings). They are a pure
  * function of [[TableSeed]] and the row counts: every value comes from
  * `xxhash64` of the row id, so a table is bit-identical at any partition
  * count, and the fingerprints pinned in `fingerprints.tsv` stay valid.
  */
object Data {
  val TableSeed = 42L
  /** `lineitem` at 0.001 of TPC-H sf1; only set-up reads it. */
  val LineRows = 6000L
  private val Orders = 1500L
  private val Parts = 200L
  private val Suppliers = 10L
  /** Documents and embeddings at 0.1 of the engine's sf1 row counts. */
  val DocRows = 5000L
  val VecRows = 5000L

  /** Uniform [0, 1) from the row key and a per-column salt. */
  private def u(salt: Int, keys: Column*): Column =
    (xxhash64(lit(TableSeed) +: lit(salt) +: keys: _*)
      .bitwiseAND(lit((1L << 53) - 1)).cast("double") / lit(math.pow(2, 53)))

  private def pick(salt: Int, key: Column, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (u(salt, key) * values.size).cast("int") + 1)

  private val id = col("id")

  val Vocab: Seq[String] = Seq("join", "hash", "row", "batch", "scan", "column",
    "customer", "filter", "small", "slow", "merge", "order", "vector", "line",
    "table", "data", "agg", "value", "key", "stream", "window", "a", "spark",
    "part", "group", "big", "sort", "query", "fast", "the")

  val Names: Seq[String] = Seq("lineitem", "documents", "embeddings")

  def tables(spark: SparkSession): Seq[(String, DataFrame)] =
    Names.zip(Seq(lineitem(spark), documents(spark), embeddings(spark)))

  private def lineitem(spark: SparkSession): DataFrame = {
    val qty = ((u(20, id) * 50).cast("int") + 1).cast("double")
    spark.range(0, LineRows, 1, 4).select(
      (u(16, id) * Orders).cast("long").as("l_orderkey"),
      (u(17, id) * Parts).cast("long").as("l_partkey"),
      (u(18, id) * Suppliers).cast("long").as("l_suppkey"),
      ((u(19, id) * 7).cast("int") + 1).as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + u(21, id) * 1200), 2).as("l_extendedprice"),
      ((u(22, id) * 11).cast("int") / 100.0).as("l_discount"),
      ((u(23, id) * 9).cast("int") / 100.0).as("l_tax"),
      pick(24, id, Seq("A", "N", "R")).as("l_returnflag"),
      pick(25, id, Seq("F", "O")).as("l_linestatus"),
      to_timestamp(date_add(lit("1995-01-02").cast("date"), (u(26, id) * 2498).cast("int")))
        .as("l_shipdate"))
  }

  /** Word sequences over [[Vocab]]; one document in twenty is an earlier
    * document with " dup" appended, the near-duplicates the dedup keys find. */
  private def documents(spark: SparkSession): DataFrame = {
    val vocab = array(Vocab.map(lit): _*)
    val words = transform(sequence(lit(1), (u(32, id) * 90).cast("int") + 10),
      i => element_at(vocab, (u(33, id, i) * Vocab.size).cast("int") + 1))
    val base = spark.range(0, DocRows, 1, 4).select(id, array_join(words, " ").as("fresh"),
      when(id > 20 && u(34, id) < 0.05, (u(35, id) * id).cast("long")).as("copy_of"))
    val src = base.select(col("id").as("src_id"), col("fresh").as("src_text"))
    base.join(src, col("copy_of") === col("src_id"), "left")
      .select(id.as("doc_id"),
        when(col("copy_of").isNull, col("fresh"))
          .otherwise(concat(col("src_text"), lit(" dup"))).as("text"),
        pick(36, id, Seq("en", "en", "en", "fr", "zh", "de", "es")).as("lang"),
        concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Ten label clusters: a per-label centre plus per-row noise, unit norm. */
  private def embeddings(spark: SparkSession): DataFrame = {
    val raw = spark.range(0, VecRows, 1, 4)
      .select(id, (u(37, id) * 10).cast("int").as("label"))
      .select(id, col("label"), transform(sequence(lit(0), lit(63)), d =>
        (u(38, col("label"), d) - 0.5) + (u(39, id, d) - 0.5) * 0.6).as("v"))
    val norm = sqrt(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x))
    raw.select(id.as("vec_id"),
      transform(col("v"), x => (x / norm).cast("float")).as("embedding"),
      col("label"))
  }

  /** Makes sure `dir` holds every table as `<name>.parquet`, writing them
    * under `tmp` and renaming when it does not. */
  def ensure(spark: SparkSession, dir: String, tmp: String): Unit = {
    val target = new java.io.File(dir)
    if (!target.isDirectory) {
      tables(spark).foreach { case (name, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/$name.parquet")
      }
      target.getParentFile.mkdirs()
      require(new java.io.File(tmp).renameTo(target), s"cannot move tables to $dir")
    }
  }

  /** Bytes of the named tables under `dir`. */
  def bytes(dir: String, names: String*): Long =
    names.map(t => Files.bytesUnder(new java.io.File(s"$dir/$t.parquet"))).sum
}
