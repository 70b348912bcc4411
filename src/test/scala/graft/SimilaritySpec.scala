package graft

import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  private def run(name: String) =
    Registry.byName(name).fn(spark, sfDir)

  test("a01 brute-force top-k matches an independent driver-side ranking") {
    // Independent oracle: pull vectors locally, compute cosine in plain
    // Scala, rank with the same tie-break (cos desc, vec_id asc).
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val n = norm(a) * norm(b)
      if (n > 0) d / n else 0.0
    }
    val got = run("a01_cosine_topk_bruteforce").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val qIds = got.map(_._1).distinct
    qIds.foreach { q =>
      val expected = vecs.keys.filter(_ != q).toSeq
        .map(v => (v, cos(vecs(q), vecs(v))))
        .sortBy { case (v, c) => (-c, v) }.take(10).map(_._1)
      val actual = got.filter(_._1 == q).sortBy(_._3).map(_._2).toSeq
      assert(actual == expected, s"query $q")
    }
  }

  test("a02/a03 ANN results are valid ids ranked by true cosine") {
    for (name <- Seq("a02_ann_lsh", "a03_ivf_ann")) {
      val rows = run(name)
        .select(col("q_id"), col("neighbor_id"), col("cos"), col("rnk"))
        .collect()
      assert(rows.nonEmpty, name)
      rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
        val byRank = g.sortBy(_.getLong(3))
        // ranks are 1..k dense and cos non-increasing
        assert(byRank.map(_.getLong(3)).toSeq ==
          (1L to byRank.length).toSeq, name)
        val cs = byRank.map(_.getDouble(2))
        assert(cs.zip(cs.tail).forall { case (a, b) => a >= b }, name)
      }
    }
  }

  test("lshTopK / bruteForceTopK: output ordered by (q_id, rnk) and " +
      "equal to the dedup-vectors-then-cos, global-orderBy formulation") {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.{FastVector, VectorOps}
    import graft.operators.Similarity
    val corpus = Similarity.prepared(Tables.embeddings(spark, sfDir),
      "vec_id", "embedding")
    val qs = Similarity.asQueries(corpus.filter(col("vec_id") < 8))
    def oldTopK(cand: org.apache.spark.sql.DataFrame) = {
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      cand.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 10)
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          round(col("cos"), 4).as("cos"), col("rnk"))
        .orderBy(col("q_id"), col("rnk"))
    }
    val planes = (0 until 16).map(t =>
      VectorOps.makePlanes(seed = 200 + t, nBits = 6, dim = 64))
    def bucketed(df: org.apache.spark.sql.DataFrame, idc: String,
        nvc: String, tc: String, bc: String) =
      df.select(col(idc), col(nvc),
        posexplode(FastVector.hyperplaneBuckets(col(nvc), planes)).as(Seq(tc, bc)))
    val oldLsh = oldTopK(bucketed(corpus, "vec_id", "nv", "tbl", "bucket")
      .join(broadcast(bucketed(qs, "q_id", "q_nv", "qtbl", "qbucket")),
        col("tbl") === col("qtbl") && col("bucket") === col("qbucket") &&
          col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("q_nv"), col("nv")).distinct()
      .select(col("q_id"), col("vec_id"),
        FastVector.dot(col("q_nv"), col("nv")).as("cos")))
    val oldBrute = oldTopK(corpus.join(broadcast(qs), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        FastVector.dot(col("q_nv"), col("nv")).as("cos")))
    for ((name, got, old) <- Seq(
        ("lsh", Similarity.lshTopK(corpus, qs, excludeSelf = true), oldLsh),
        ("brute", Similarity.bruteForceTopK(corpus, qs, excludeSelf = true),
          oldBrute))) {
      val rows = got.collect().toSeq
      assert(rows.nonEmpty, name)
      val keys = rows.map(r => (r.getLong(0), r.getLong(3)))
      assert(keys == keys.sorted, s"$name: not ordered by (q_id, rnk)")
      assert(rows == old.collect().toSeq, name)
    }
  }

  test("ANN is deterministic across runs") {
    val r1 = run("a02_ann_lsh").collect().toSeq
    val r2 = run("a02_ann_lsh").collect().toSeq
    assert(r1 == r2)
  }
}
