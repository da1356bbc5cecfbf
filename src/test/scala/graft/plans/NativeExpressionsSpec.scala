package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Dedup, Similarity}

class NativeExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("native simhash64 is bit-identical to the HOF formulation") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents").limit(100)
    val both = docs.select(
      Dedup.simhash64Hof($"text").as("hof"),
      NativeExpressions.simhash64($"text").as("native"))
    assert(both.filter($"hof" =!= $"native").count() == 0)
  }

  test("native dot product matches the sequential fold bit-for-bit") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings").limit(50)
    val both = emb.crossJoin(
        emb.select($"embedding".as("e2"), $"vec_id".as("v2")).limit(5))
      .select(
        Similarity.dotHof($"embedding", $"e2").as("hof"),
        NativeExpressions.dotF($"embedding", $"e2").as("native"))
    assert(both.filter($"hof" =!= $"native").count() == 0)
  }

  test("native TextStats matches the composed regex counters") {
    import graft.functions.TextFunctions._
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val both = docs.select(
      NativeExpressions.textStats($"text").as("st"),
      tokenCount($"text").as("t"), stopwordCount($"text").as("s"),
      punctCount($"text").as("p"), alnumChars($"text").as("a"))
    assert(both.filter(
      col("st.n_tok") =!= $"t" || col("st.n_stop") =!= $"s" ||
        col("st.n_punct") =!= $"p" || col("st.n_alnum") =!= $"a").count() == 0)
  }

  test("native readability counters match the composed regex formulation field-for-field") {
    import graft.queries.CurationQueries
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val both = docs.select(
      CurationQueries.readabilityPanel($"text").as("nat"),
      CurationQueries.readabilityPanelHof($"text").as("hof"))
    assert(both.filter(to_json($"nat") =!= to_json($"hof")).count() == 0)
    // tricky shapes: empty, whitespace-only, no-vowel words, multi
    // sentence marks, U+0130 (lowercase expansion introduces a vowel),
    // non-latin words, surrogate pairs
    val edge = Seq("", "   \t\n ", "xyz qrst!!", "Mr. Smith?! Dr. N. cwm fly",
      "İ STANBUL city", "русский текст.", "emoji 😀 word",
      "a.b!c?d").toDF("text")
    val eb = edge.select(
      CurationQueries.readabilityPanel($"text").as("nat"),
      CurationQueries.readabilityPanelHof($"text").as("hof"))
    assert(eb.filter(to_json($"nat") =!= to_json($"hof")).count() == 0)
  }

  test("native sorted-intersect count matches size(array_intersect) on sorted distinct arrays") {
    // real shingle sets (sorted, distinct — the hotPerDoc shape) crossed
    // against a handful of others, plus edge shapes: empty/empty,
    // empty/non-empty, identical, disjoint, and a null input
    val sh = sort_array(array_distinct(graft.functions.TextFunctions.shingles($"text")))
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .limit(60).select($"doc_id", sh.as("sa"))
    val pairs = docs.crossJoin(
      docs.select($"sa".as("sb"), $"doc_id".as("id2")).limit(6))
    val both = pairs.select(
      size(array_intersect($"sa", $"sb")).as("ref"),
      NativeExpressions.sortedIntersectCount($"sa", $"sb").as("native"))
    assert(both.filter($"ref" =!= $"native").count() == 0)
    assert(both.filter($"native" > 0).count() > 0, "fixture must exercise non-trivial overlap")
    val edges = Seq(
      (Some(Seq[String]()), Some(Seq[String]())),
      (Some(Seq[String]()), Some(Seq("a", "b"))),
      (Some(Seq("a", "b", "c")), Some(Seq("a", "b", "c"))),
      (Some(Seq("a", "c")), Some(Seq("b", "d"))),
      (None, Some(Seq("a")))).toDF("sa", "sb")
    val got = edges.select(NativeExpressions.sortedIntersectCount($"sa", $"sb").as("n")).collect()
    assert(got(0).getInt(0) == 0 && got(1).getInt(0) == 0 &&
      got(2).getInt(0) == 3 && got(3).getInt(0) == 0 && got(4).isNullAt(0))
  }

  test("native expressions survive codegen (no fallback errors) and null inputs") {
    val df = Seq(Some("hash join scan"), None).toDF("t")
    val out = df.select(NativeExpressions.simhash64($"t").as("s")).collect()
    assert(out(0).getString(0).matches("[01]{64}"))
    assert(out(1).isNullAt(0))
  }
}
