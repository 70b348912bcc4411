package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.TextOps

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def tfidf(df: DataFrame, k: Int = 3) =
    TextOps.tfidfTopTerms(df, k = k).orderBy("doc_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
      .toSeq

  test("t06: equal (tf, df) keys rank by term; a lower df wins a tf tie") {
    // doc 1: every term tf 1; c also occurs in doc 2 (df 2), so the
    // df-1 terms a, b, d take ranks 1..3 in term order and c drops out
    val got = tfidf(Seq(1L -> "d c b a", 2L -> "c x").toDF("doc_id", "text"))
    assert(got.filter(_._1 == 1L) == Seq(
      (1L, 1L, "a", 1L, 1L), (1L, 2L, "b", 1L, 1L), (1L, 3L, "d", 1L, 1L)))
    assert(got.filter(_._1 == 2L) == Seq(
      (2L, 1L, "x", 1L, 1L), (2L, 2L, "c", 1L, 2L)))
  }

  test("t06: a doc with fewer than k distinct terms keeps what it has") {
    val docs = Seq(1L -> "z z", 2L -> "y", 3L -> "", 4L -> "w v u t")
      .toDF("doc_id", "text")
    val got = tfidf(docs)
    assert(got.filter(_._1 == 1L) == Seq((1L, 1L, "z", 2L, 1L)))
    assert(got.filter(_._1 == 2L) == Seq((2L, 1L, "y", 1L, 1L)))
    assert(got.filter(_._1 == 3L) == Seq((3L, 1L, "", 1L, 1L)))
    assert(got.count(_._1 == 4L) == 3)
    // n_docs counts every input row: score = tf·(ln(5/2)+1) for doc 1
    val score = TextOps.tfidfTopTerms(docs).filter(col("doc_id") === 1L)
      .select("score").as[Double].collect().toSeq
    assert(score == Seq(math.rint(2 * (math.log(5.0 / 2.0) + 1) * 1e4) / 1e4))
  }

  test("t06 equals the explode + groupBy + countDistinct formulation on " +
      "the test documents") {
    val docs = Tables.documents(spark, sfDir)
    val terms = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = terms.groupBy("term").agg(countDistinct("doc_id").as("df"))
    val nDocs = docs.count()
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("term"))
    val old = tf.join(dfreq, "term")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn"), col("term"), col("tf"), col("df"),
        round(col("tf") * (log((lit(nDocs) + 1.0) / (col("df") + 1.0))
          + 1.0), 4).as("score"))
      .orderBy("doc_id", "rn").collect().toSeq
    val got = TextOps.tfidfTopTerms(docs).orderBy("doc_id", "rn")
      .collect().toSeq
    assert(got.nonEmpty && got == old)
  }

  test("t02 rounds like DuckDB's ROUND(double, 4) on a scaled tie") {
    // 0.8262499999999999 × 1e4 is exactly 8262.5 in binary: DuckDB
    // rounds that half away from zero; Spark's round(x, 4) rounds the
    // decimal string 0.8262499999999999 down.
    val x = 0.8262499999999999
    assert(x * 1e4 == 8262.5)
    val r = Seq(x).toDF("x")
      .select(TextOps.round4(col("x")), round(col("x"), 4)).head()
    assert(r.getDouble(0) == 0.8263)
    assert(r.getDouble(1) == 0.8262)
  }
}
