package graft

import org.apache.spark.sql.functions._

/** Text-SQL access to the injected native functions — the engine's
  * extension point (SURVEY §6, reference:duckdb:39-55).
  */
class ExtensionsSpec extends SparkSpec {

  test("installed functions are callable from text SQL and match the API") {
    GraftExtensions.installInto(spark)
    import spark.implicits._
    val df = Seq("the quick brown fox", "a b").toDF("text")
    df.createOrReplaceTempView("ext_docs")
    val viaSql = spark.sql("""
      SELECT graft_simhash64(text) AS sh, graft_rolling_fp(text) AS fp,
             graft_minhash_sig(text, 3) AS sig
      FROM ext_docs ORDER BY text""").collect()
    val viaApi = df
      .select(functions.FastText.simhash64(col("text")).as("sh"),
        functions.FastText.rollingFp(col("text")).as("fp"))
      .orderBy(col("text")).collect()
    assert(viaSql(0).getLong(0) == viaApi(0).getLong(0))
    assert(viaSql(1).getLong(1) == viaApi(1).getLong(1))
    assert(viaSql(0).getSeq[Long](2).size == 64)
  }

  test("graft_vector_sum works as a SQL aggregate (GROUP BY + HAVING " +
      "path through the analyzer)") {
    GraftExtensions.installInto(spark)
    import spark.implicits._
    Seq((1L, Seq(1.0, 2.0)), (1L, Seq(3.0, 4.0)), (2L, Seq(5.0, 6.0)))
      .toDF("g", "v").createOrReplaceTempView("ext_vecs")
    val rows = spark.sql("""
      SELECT g, graft_vector_sum(v) AS s FROM ext_vecs
      GROUP BY g ORDER BY g""").collect()
    assert(rows(0).getSeq[Double](1) == Seq(4.0, 6.0))
    assert(rows(1).getSeq[Double](1) == Seq(5.0, 6.0))
  }

  test("no DuckDB dialect name shadows a Spark builtin") {
    val builtin = org.apache.spark.sql.catalyst.analysis.FunctionRegistry
      .builtin
    val clashes = GraftExtensions.dialect.map(_._1).filter(n =>
      builtin.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    assert(clashes.isEmpty, s"dialect names Spark defines: $clashes")
    // and the other direction: a pin only makes sense on a name Spark
    // defines, and no name is in both tables
    val pins = GraftExtensions.pins.map(_._1)
    val unknown = pins.filterNot(n => builtin.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    assert(unknown.isEmpty, s"pinned names Spark lacks: $unknown")
    val both = pins.intersect(GraftExtensions.dialect.map(_._1))
    assert(both.isEmpty, s"names in both tables: $both")
  }

  test("arg_max resolves as an aggregate under GROUP BY, FILTER and " +
      "OVER") {
    import spark.implicits._
    Seq((1, 10, "a"), (1, 30, "b"), (1, 20, "c"), (2, 5, "d"))
      .toDF("g", "k", "v").createOrReplaceTempView("ext_argmax")
    val grouped = LakeSql.sql(spark, """
      SELECT g, arg_max(v, k) AS top,
             arg_max(v, k) FILTER (WHERE k < 30) AS top_below
      FROM ext_argmax GROUP BY g ORDER BY g""").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(grouped == Seq((1, "b", "c"), (2, "d", "d")))
    val windowed = LakeSql.sql(spark, """
      SELECT v, arg_max(v, k) OVER (PARTITION BY g) AS top
      FROM ext_argmax ORDER BY v""").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(windowed == Seq(("a", "b"), ("b", "b"), ("c", "b"), ("d", "d")))
  }
}
