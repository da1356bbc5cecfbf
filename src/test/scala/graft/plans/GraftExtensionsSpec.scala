package graft.plans

import graft.SparkSpec

class GraftExtensionsSpec extends SparkSpec {

  test("native functions are callable from SQL after registration") {
    import spark.implicits._
    GraftExtensions.register(spark)
    Seq(("hash join scan", Array(1.0f, 2.0f)), ("sort merge", Array(3.0f, 4.0f)))
      .toDF("text", "vec").createOrReplaceTempView("ext_t")
    val row = spark.sql(
      "SELECT simhash64(text) AS sh, dot_product_f(vec, vec) AS d FROM ext_t ORDER BY d")
      .collect().head
    assert(row.getString(0).matches("[01]{64}"))
    assert(row.getDouble(1) == 5.0)
  }

  test("text_stats is callable from SQL") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT text_stats('The quick, brown fox.') AS st").select("st.*").collect().head
    assert(r.getInt(0) == 4) // n_tok
    assert(r.getInt(1) == 1) // n_stop: 'the'
    assert(r.getInt(2) == 2) // n_punct: comma + period
    assert(r.getInt(3) == 16) // n_alnum
  }

  test("top_ngrams is callable from SQL") {
    GraftExtensions.register(spark)
    val rows = spark.sql(
      "SELECT explode(top_ngrams('spam ham spam ham spam ham', 2, 3)) AS e")
      .select("e.n", "e.gram", "e.cnt").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
    assert(rows.contains((2, "spam ham", 3)))
    assert(rows.exists(_._1 == 3))
  }

  test("jaro_winkler and hilbert_index are callable from SQL") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT jaro_winkler('martha', 'marhta') AS jw,
        |  hilbert_index(3L, 9L, 16) AS h""".stripMargin).collect().head
    assert(r.getDouble(0) == 0.9611111111111111)
    assert(r.getLong(1) == NativeExpressions.hilbertCompute(3L, 9L, 16))
    // non-literal bits parameter fails with the clear shape error
    val err = intercept[Exception] {
      spark.sql("SELECT hilbert_index(1L, 2L, CAST(id AS INT)) FROM range(1)").collect()
    }
    assert(err.getMessage.contains("literal integer")
      || String.valueOf(err.getCause).contains("literal integer"))
  }

  test("registration is idempotent and survives re-registration") {
    GraftExtensions.register(spark)
    GraftExtensions.register(spark)
    assert(spark.sql("SELECT dot_product_f(array(1.0f), array(2.0f))")
      .collect().head.getDouble(0) == 2.0)
  }
}
