package graftbench

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** One workload: the ops of a round, and how to run, prepare and check one.
  * `op` is the timed call; `before` and `after` are not timed. */
trait Workload {
  def name: String
  def ops: Seq[String]
  /** Bytes of input the engine has been given so far. */
  def inputBytes: Long
  /** The part of that input kept outside the scratch root. */
  def inputOutsideRoot: Long = 0L
  def before(op: String): Unit = ()
  /** Runs the op; returns an error message when its output is wrong. */
  def op(op: String, trace: Trace): Option[String]
  def after(op: String): Option[String] = None
}

object Workloads {
  val Names: Seq[String] = Seq("listings_etl", "corpus_dedup_search")

  /** Near-duplicate detection by minhash LSH (shingle hashes, signatures,
    * band keys) and by simhash (token hashes), and an ANN store lifecycle
    * (IVF assignment, write, append, probe): the native kernels, the
    * candidate joins and a store. Three ops keep a round near a third of a
    * run, so every op is timed about three times. */
  val CorpusKeys: Seq[String] = Seq("dedup_minhash_lsh", "dedup_simhash_pairs", "sim_ann_upsert")

  /** The corpus tables the ops read. */
  val CorpusTables: Seq[String] = Seq("documents", "embeddings")

  /** The corpus workload: each op builds one engine query over the tables
    * in `dir` and fingerprints it. */
  final class Corpus(spark: SparkSession, dir: String, pinned: Map[String, Fingerprint],
                     val ops: Seq[String] = CorpusKeys) extends Workload {
    val name = "corpus_dedup_search"
    val inputBytes: Long = Data.bytes(dir, CorpusTables: _*)
    override def inputOutsideRoot: Long = inputBytes
    /** Fingerprints seen, for pinning. */
    val seen = scala.collection.mutable.Map.empty[String, Set[Fingerprint]]

    /** Every op is cold, the way a new corpus batch is. */
    override def before(op: String): Unit = SparkEntry.clearMemos()

    def op(op: String, trace: Trace): Option[String] = {
      val df = trace.span("queries.construct") { SparkEntry.queries(op)(spark, dir) }
      val fp = trace.span("exec") { Fingerprint.of(df) }
      seen(op) = seen.getOrElse(op, Set.empty) + fp
      pinned.get(op) match {
        case Some(p) if p == fp => None
        case Some(p) => Some(s"$op: fingerprint $fp, pinned $p")
        case None => Some(s"$op: no pinned fingerprint (read $fp)")
      }
    }
  }

  /** The listings workload: one op, and one round, loads one day's batches.
    * The stores and the batches are kept for the whole run. */
  final class Etl(spark: SparkSession, root: String, seed: Long) extends Workload {
    val name = "listings_etl"
    val ops: Seq[String] = Seq("day")
    private val listings = new Listings(seed)
    private val store = s"$root/store"
    private var day = 0
    private var fed = 0L
    def inputBytes: Long = fed
    private def dayDir = s"$root/input/day-$day"

    override def before(op: String): Unit = {
      day += 1
      fed += listings.nextDay(dayDir)
    }

    def op(op: String, trace: Trace): Option[String] = {
      listings.load(spark, dayDir, store, trace)
      None
    }

    override def after(op: String): Option[String] = {
      val errors = listings.check(spark, store)
      if (errors.isEmpty) None else Some(s"day $day: ${errors.mkString("; ")}")
    }
  }
}
