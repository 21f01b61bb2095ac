package graft

import org.apache.spark.sql.functions._
import graft.etl.CorpusPipeline
import graft.functions.TextFunctions._

/** Contract checks for the end-to-end corpus prep (each stage is
  * separately oracle-checked; this proves the composition). */
class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val out = CorpusPipeline.prepare(docs).cache()

  test("prepared corpus is a subset with split and pack columns attached") {
    assert(out.count() > 0 && out.count() <= docs.count())
    assert(out.columns.toSet === (docs.columns.toSet ++ Set("split", "pack_id")))
    assert(out.join(docs, Seq("doc_id"), "left_anti").isEmpty, "no invented rows")
  }

  test("no two kept docs share normalized text; no near-dup pairs remain") {
    val normDups = out.select(md5(normalizeText($"text")).as("h"))
      .groupBy("h").count().filter($"count" > 1)
    assert(normDups.isEmpty, "exact dedup must hold on the output")
    val residualPairs = graft.operators.Dedup
      .minhashNearDups(out, "text", "doc_id", 0.8)
    // representatives of different clusters can't be >= tau similar unless
    // LSH missed the pair in the FIRST pass too; identical parameters mean
    // any pair found now would have been found then — so none remain
    assert(residualPairs.isEmpty, "near-dup representatives must be unique per cluster")
  }

  test("quality floor holds and splits partition the output") {
    assert(out.filter(size(tokens($"text")) < 5).isEmpty)
    val splits = out.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(splits.keySet.subsetOf(Set("train", "validation", "test")))
    assert(splits.values.sum === out.count())
  }

  test("packing is contiguous from zero within each (lang, split) group") {
    val bad = out.groupBy("lang", "split")
      .agg(min("pack_id").as("lo"), countDistinct("pack_id").as("n"),
        max("pack_id").as("hi"))
      .filter($"lo" =!= 0 || $"hi" =!= $"n" - 1)
    assert(bad.isEmpty, "pack ids must be 0..n-1 per group (cumsum fill)")
  }

  test("htmlInput: preparing markup equals preparing the extracted text") {
    // wrap each doc in deterministic markup (head noise, comments,
    // entity trailer) — the wire format a crawl actually delivers
    val markup = docs.withColumn("text", concat(
      lit("<html><head><style>p{}</style><script>1<2</script></head><body><p>"),
      $"text", lit("</p><!-- c --></body></html>")))
    val viaFlag = CorpusPipeline.prepare(markup,
      CorpusPipeline.Config(htmlInput = true))
    val viaPre = CorpusPipeline.prepare(
      markup.withColumn("text", extractHtmlText($"text")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"text", $"split", $"pack_id")
        .as[(Long, String, String, Long)].collect().toSet
    val a = rows(viaFlag)
    assert(a === rows(viaPre), "the flag must be exactly the prepended stage")
    assert(a.nonEmpty && a.forall(!_._2.contains("<")),
      "prepared text is the extracted text, not markup")
  }

  test("pipeline is deterministic across reruns") {
    val again = CorpusPipeline.prepare(docs)
      .select($"doc_id", $"split", $"pack_id")
    val first = out.select($"doc_id", $"split", $"pack_id")
    assert(first.exceptAll(again).isEmpty && again.exceptAll(first).isEmpty)
  }
}
