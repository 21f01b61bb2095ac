package graftbench

import java.io.{File, PrintWriter}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.etl.ReferencePipeline

/** Daily Airbnb-shaped CSV batches for the reference's two DAGs, and the
  * model that predicts what the stores must hold after each day.
  *
  * The listing id space is bounded ([[Ids]]), so the five table stores level
  * off after a few days while the review documents keep growing. Planted
  * work, one kind per cleaning stage:
  *  - `$1,234.00` money strings and 9-character zips (`20009-374`);
  *  - state names the value map normalizes;
  *  - null names (dropped) and null beds (filled with -1);
  *  - exact duplicate rows, and ids re-delivered on a later day with a new
  *    price (latest wins);
  *  - reviews with exact duplicates, re-delivered reviews from the day
  *    before, and unparseable listing ids (`id123`, dropped).
  */
final class Listings(seed: Long) {
  import Listings._

  /** id -> (price in cents, beds after fill) of the latest row with a name. */
  private val live = mutable.Map.empty[Long, (Long, Long)]
  /** listing id -> distinct (date, comment) pairs. */
  private val reviews = mutable.Map.empty[Long, mutable.Set[(String, String)]]
  private var lastReviews: Seq[(String, String, String)] = Nil
  private var day = 0

  /** Writes day `day + 1`'s two CSV batches under `dir`; returns the bytes. */
  def nextDay(dir: String): Long = {
    day += 1
    val rng = new scala.util.Random(seed * 1000003L + day)
    val rows = (0 until RowsPerDay).map(_ => rng.nextInt(Ids).toLong).distinct.map { id =>
      val name = if (rng.nextDouble() < 0.03) None else Some(s"Host $id ${Words(rng.nextInt(Words.size))}")
      val cents = 2000L + rng.nextInt(248000)
      val beds = if (rng.nextDouble() < 0.1) None else Some(1L + rng.nextInt(6))
      val state = States(rng.nextInt(States.size))
      val zip = f"${rng.nextInt(100000)}%05d-${rng.nextInt(1000)}%03d"
      name.foreach(_ => live(id) = (cents, beds.getOrElse(-1L)))
      Seq(id.toString, name.getOrElse(""), "\"" + money(cents) + "\"", zip, state,
        beds.fold("")(_.toString), (100000L + id % 700).toString,
        Words(rng.nextInt(Words.size)), (1 + rng.nextInt(7)).toString).mkString(",")
    }
    val dups = rows.filter(_ => rng.nextDouble() < 0.05)
    val listings = writeCsv(s"$dir/listings/part-0.csv",
      "id,name,price,zipcode,state,beds,host_id,about,listings_count", rng.shuffle(rows ++ dups))

    val fresh = (0 until ReviewsPerDay).map { _ =>
      val lid = rng.nextInt(Ids).toLong
      val date = f"2024-${1 + (day / 28) % 12}%02d-${1 + day % 28}%02d"
      val comment = Words(rng.nextInt(Words.size)) + " " + Words(rng.nextInt(Words.size))
      if (rng.nextDouble() < 0.02) (s"id$lid", date, comment) else (lid.toString, date, comment)
    }
    val redelivered = lastReviews.filter(_ => rng.nextDouble() < 0.1)
    val exactDups = fresh.filter(_ => rng.nextDouble() < 0.05)
    val batch = fresh ++ redelivered ++ exactDups
    batch.foreach { case (lid, date, comment) =>
      lid.toLongOption.foreach(l => reviews.getOrElseUpdate(l, mutable.Set.empty) += (date -> comment))
    }
    lastReviews = fresh
    val reviewBytes = writeCsv(s"$dir/reviews/part-0.csv", "listing_id,rdate,comments",
      rng.shuffle(batch).map { case (l, d, c) => s"$l,$d,$c" })
    listings + reviewBytes
  }

  /** One op: the day's CSV extract, the listings DAG, the reviews DAG. */
  def load(spark: SparkSession, dir: String, store: String, trace: Trace): Unit = {
    val (raw, rv) = trace.span("sources.csv") {
      (graft.sources.Tables.csv(spark, s"$dir/listings"),
        graft.sources.Tables.csv(spark, s"$dir/reviews", "ISO-8859-1"))
    }
    trace.span("etl.run") { ReferencePipeline.run(spark, raw, Config, store) }
    trace.span("etl.load_reviews") {
      ReferencePipeline.loadReviews(spark, rv, s"$store/reviews_store", "listing_id", Seq("rdate", "comments"))
    }
  }

  /** Store schemas, read once: they do not change from day to day. */
  private val schemas = mutable.Map.empty[String, org.apache.spark.sql.types.StructType]

  private def read(spark: SparkSession, path: String) = {
    val df = schemas.get(path).fold(spark.read)(spark.read.schema).parquet(path)
    schemas(path) = df.schema
    df
  }

  /** Compares the stores with the model; returns the mismatches found. */
  def check(spark: SparkSession, store: String): Seq[String] = {
    val expectIds = live.size.toLong
    val counts = TableNames.map(t => read(spark, s"$store/$t").select(lit(t).as("t"), col("id")))
      .reduce(_ unionByName _)
      .groupBy("t").agg(count(lit(1)), countDistinct(col("id"))).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val idErrors = TableNames.flatMap { t =>
      counts.get(t) match {
        case Some((rows, ids)) if rows == expectIds && ids == expectIds => None
        case got => Some(s"$t: (rows, ids) $got, expected $expectIds")
      }
    }
    val facts = read(spark, s"$store/price_info").join(read(spark, s"$store/hotel_facilities"), "id")
      .select(col("id").cast("long"), (col("price") * 100).cast("long"), col("beds").cast("long"))
      .collect()
    val prices = facts.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val beds = facts.map(r => r.getLong(0) -> r.getLong(2)).toMap
    val valueErrors = live.collect {
      case (id, (cents, b)) if !prices.get(id).contains(cents) || !beds.get(id).contains(b) =>
        s"id $id: price ${prices.get(id)} beds ${beds.get(id)}, expected $cents / $b"
    }.take(3)
    val sizes = read(spark, s"$store/reviews_store")
      .select(col("listing_id").cast("long"), size(col("reviews")).cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reviewErrors =
      (if (sizes.size != reviews.size) Seq(s"reviews_store: ${sizes.size} listings, expected ${reviews.size}")
       else Nil) ++
      reviews.collect {
        case (id, set) if !sizes.get(id).contains(set.size.toLong) =>
          s"listing $id: ${sizes.get(id)} reviews, expected ${set.size}"
      }.take(3)
    idErrors ++ valueErrors ++ reviewErrors
  }
}

object Listings {
  val Ids = 3000
  val RowsPerDay = 900
  val ReviewsPerDay = 1500
  val Words = Seq("quiet", "central", "sunny", "cosy", "spacious", "modern", "clean", "bright")
  val States = Seq("UNITED STATES", "UNITED KINGDOM", "FRANCE", "SPAIN", "US", "UK")
  val TableNames = Seq("host_info", "hotel_location", "hotel_facilities", "price_info",
    "host_metrics", "documents_store")

  /** The same configuration the engine's `pipeline_reference_etl` key uses. */
  val Config: ReferencePipeline.Config = ReferencePipeline.Config(
    key = "id",
    moneyCols = Seq("price"),
    truncateCols = Map("zipcode" -> 5),
    valueMaps = Map("state" -> Map("UNITED STATES" -> "US", "UNITED KINGDOM" -> "UK")),
    requiredCols = Seq("name"),
    fillMinusOne = Seq("beds"),
    tableSchema = Map(
      "host_info" -> Seq("name", "host_id"),
      "hotel_location" -> Seq("state", "zipcode"),
      "hotel_facilities" -> Seq("beds"),
      "price_info" -> Seq("price"),
      "host_metrics" -> Seq("listings_count")),
    docFlat = Seq("id", "name"),
    docNested = ("host_desc", Seq("host_id", "about")))

  def money(cents: Long): String = {
    val whole = cents / 100
    val grouped = if (whole >= 1000) f"${whole / 1000},${whole % 1000}%03d" else whole.toString
    f"$$$grouped.${cents % 100}%02d"
  }

  private def writeCsv(path: String, header: String, lines: Seq[String]): Long = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try { w.println(header); lines.foreach(w.println) } finally w.close()
    f.length()
  }
}
