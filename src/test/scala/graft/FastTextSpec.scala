package graft

import org.apache.spark.sql.functions._
import graft.functions.{FastText, FastVector, TextHash, VectorOps}

/** The native Catalyst expressions must produce EXACTLY the values of
  * the reference HOF formulations they replace — hash for hash, slot
  * for slot — on adversarial inputs (empty docs, short docs, repeated
  * tokens, multi-space runs, unicode).
  */
class FastTextSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    "the quick brown fox jumps over the lazy dog",
    "a b",
    "",
    "one  two   three four five six seven",
    "中文 文档 测试 一 二 三 四",
    "x " * 200 + "tail words here",
    (1 to 100).map(i => s"tok$i").mkString(" "))
  private def df = docs.toDF("text")

  test("MinHashSig equals the TextHash HOF signature on every doc") {
    val (pa, pb) = TextHash.makePerms(seed = 42L, 64)
    val rows = df.select(
      FastText.minhashSig(col("text"), 3, pa, pb).as("fast"),
      TextHash.minhashSignature(
        TextHash.shingleHashes31(col("text"), 3), pa, pb).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("SimHash64 equals the TextHash HOF simhash on every doc") {
    val rows = df.select(
      FastText.simhash64(col("text")).as("fast"),
      TextHash.simhash64(col("text")).as("hof")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("RollingFp equals the TextHash HOF fingerprint on every doc") {
    val rows = df.select(
      FastText.rollingFp(col("text")).as("fast"),
      TextHash.rollingFingerprint(col("text")).as("hof")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("CharPoly31 equals the TextHash HOF fold on every doc") {
    val rows = df.select(
      FastText.charPoly31(col("text")).as("fast"),
      TextHash.charPoly31(col("text")).as("hof")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("ShingleMin31 equals coalesce(array_min(shingleHashesPoly), P)") {
    val rows = df.select(
      FastText.shingleMin31(col("text"), 8).as("fast"),
      coalesce(array_min(TextHash.shingleHashesPoly(col("text"), 8)),
        lit(TextHash.P)).as("hof")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("DistinctShingles equals array_distinct(TextHash.shingles) per doc") {
    val rows = df.select(
      FastText.distinctShingles(col("text"), 3).as("fast"),
      array_distinct(TextHash.shingles(col("text"), 3)).as("hof")).collect()
    rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("WordNgrams equals the HOF bigram builder per doc") {
    val w = TextHash.tokens(col("text"))
    val hof = when(size(w) >= 2,
      transform(sequence(lit(1), size(w) - 1), i =>
        concat(element_at(w, i), lit(" "), element_at(w, i + 1))))
      .otherwise(array().cast("array<string>"))
    val rows = df.select(
      FastText.wordNgrams(col("text"), 2).as("fast"), hof.as("hof")).collect()
    rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("TermCounts equals explode + groupBy(doc, term).count() per doc") {
    val rows = df.withColumn("id", monotonically_increasing_id())
    val fast = rows.select(col("id"),
        explode(FastText.termCounts(col("text"))).as("t"))
      .select(col("id"), col("t.term"), col("t.tf")).collect().toSet
    val ref = rows.select(col("id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf")).collect().toSet
    assert(fast.nonEmpty && fast == ref)
  }

  test("LangScore equals the HOF bigram-profile argmax on every doc") {
    val profiles = Seq(
      "en" -> Seq("th", "he", "in", "er", "an"),
      "de" -> Seq("er", "en", "ch", "de", "ei"),
      "zh" -> Seq("中文", "文档", "测试", "一 ", " 二"))
    val bg = array_distinct(expr(
      "transform(sequence(1, greatest(length(text)-1, 1)), " +
        "i -> substr(text, i, 2))"))
    val scored = profiles.map { case (lang, profile) =>
      struct(
        (size(array_intersect(bg, typedLit(profile))).cast("double") /
          size(typedLit(profile))).as("score"),
        lit(lang).as("lang"))
    }
    val hofBest = array_max(array(scored: _*))
    val fastBest = FastText.langScore(col("text"), profiles)
    val rows = df.select(
      fastBest.getField("lang").as("fl"), fastBest.getField("score").as("fs"),
      hofBest.getField("lang").as("hl"), hofBest.getField("score").as("hs"))
      .collect()
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(2))
      assert(r.getDouble(1) == r.getDouble(3))
    }
  }

  test("native expressions participate in whole-stage codegen") {
    // Regression net: a parquet-scan projection of the native exprs must
    // generate code containing the static runtime calls (CodegenFallback
    // would not), and compile with codegen fallback disabled.
    import org.apache.spark.sql.execution.debug._
    val prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val docs = Tables.documents(spark, sfDir).select(
        FastText.simhash64(col("text")).as("sh"),
        FastText.rollingFp(col("text")).as("fp"))
      assert(docs.count() > 0)
      assert(docs.queryExecution.debug.codegenToSeq().map(_._2).mkString
        .contains("FastTextRuntime"))
      val vecs = Tables.embeddings(spark, sfDir)
        .select(FastVector.normalize(col("embedding")).as("nv"))
        .select(FastVector.dot(col("nv"), col("nv")).as("d"))
      assert(vecs.count() > 0)
      assert(vecs.queryExecution.debug.codegenToSeq().map(_._2).mkString
        .contains("FastVectorRuntime"))
      // BytePool (m04) joined the hot path in round 3 — same bar.
      val pooled = Tables.documents(spark, sfDir)
        .select(FastVector.bytePool(
          org.apache.spark.sql.functions.encode(col("text"), "UTF-8"), 16)
          .as("p"))
      assert(pooled.count() > 0)
      assert(pooled.queryExecution.debug.codegenToSeq().map(_._2).mkString
        .contains("bytePool"))
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("FastVector dot/normalize/buckets equal the VectorOps HOF forms") {
    val vecs = Seq(
      Seq(1.0f, -2.0f, 3.0f, 0.5f),
      Seq(0.0f, 0.0f, 0.0f, 0.0f),
      Seq(-1.5f, 2.5f, -3.5f, 4.5f)).toDF("v")
    val planes = (0 until 3).map(t =>
      VectorOps.makePlanes(seed = 300 + t, nBits = 6, dim = 4))
    val rows = vecs.select(
      FastVector.normalize(col("v")).as("fn"),
      VectorOps.normalize(col("v")).as("hn"),
      FastVector.hyperplaneBuckets(FastVector.normalize(col("v")), planes)
        .as("fb"),
      array(planes.map(p => VectorOps.hyperplaneBucket(
        VectorOps.normalize(col("v")), typedLit(p))): _*).as("hb"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Double](0) == r.getSeq[Double](1))
      assert(r.getSeq[Long](2) == r.getSeq[Long](3))
    }
    val dotRows = vecs.select(
      FastVector.dot(col("v").cast("array<double>"),
        col("v").cast("array<double>")).as("fd"),
      VectorOps.dot(col("v"), col("v")).as("hd")).collect()
    dotRows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }
}
