package graft

import org.apache.spark.sql.functions._
import graft.util.Par

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("Par: decimal money sum is partitioning-invariant (exact arithmetic)") {
    val values = (1 to 1000).map(i => (i % 97) + i * 0.01)
    val df1 = values.toDF("x").repartition(1)
    val df8 = values.toDF("x").repartition(8)
    def total(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(Par.moneySum(Par.dec2(col("x"))).as("t")).collect()(0).getDouble(0)
    assert(total(df1) == total(df8)) // bit-identical, not approx
  }

  test("Par: oneMinus/onePlus stay exact DECIMAL(12,2)") {
    val row = Seq(0.07).toDF("d")
      .select(Par.oneMinus(col("d")).as("om"), Par.onePlus(col("d")).as("op"))
      .collect()(0)
    assert(row.getDecimal(0).toString == "0.93")
    assert(row.getDecimal(1).toString == "1.07")
  }

  test("d01 exact dedup keeps the minimum doc_id per content hash") {
    val docs = Seq((5L, "same text"), (2L, "same text"), (9L, "other"))
      .toDF("doc_id", "text")
    val got = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n"))
      .orderBy(col("keep_id")).collect()
    assert(got.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((2L, 2L), (9L, 1L)))
  }

  test("q31 sample predicate is deterministic across partitionings") {
    val ids = Registry.byName("q31_sample").fn(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber")).collect().toSeq
    val again = Registry.byName("q31_sample").fn(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber")).collect().toSeq
    assert(ids == again && ids.nonEmpty)
  }

  test("q34 hot-key salted join equals the plain join on skewed data") {
    // 1000 rows of one hot key + scattered cold keys, joined to a dim
    // of all keys: the salted formulation must be result-identical.
    val probe = ((1 to 1000).map(i => (7L, i.toLong)) ++
      (1 to 200).map(i => (i.toLong % 50 + 100, i.toLong)))
      .toDF("k", "payload")
    val build = (0L to 200L).map(k => (k, s"v$k")).toDF("bk", "tag") union
      Seq((7L, "hot")).toDF("bk", "tag").limit(0) // keep 0..200 incl 7
    val plain = probe.join(build, col("k") === col("bk"))
      .groupBy(col("tag")).agg(count(lit(1)).as("n"), sum(col("payload")).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // salted: detect hot keys (>=100 rows), explode build side for them
    val hot = probe.groupBy(col("k").as("hk")).agg(count(lit(1)).as("hn"))
      .filter(col("hn") >= 100).select(col("hk"))
    val saltedBuild = build
      .join(broadcast(hot), col("bk") === col("hk"), "left_outer")
      .withColumn("salt", explode(when(col("hk").isNotNull,
        sequence(lit(0), lit(7))).otherwise(array(lit(0)))))
    val saltedProbe = probe
      .join(broadcast(hot), col("k") === col("hk"), "left_outer")
      .withColumn("salt", when(col("hk").isNotNull,
        pmod(xxhash64(col("payload")), lit(8)).cast("int")).otherwise(lit(0)))
    val salted = saltedProbe.join(saltedBuild,
        saltedProbe("k") === saltedBuild("bk") &&
          saltedProbe("salt") === saltedBuild("salt"))
      .groupBy(col("tag")).agg(count(lit(1)).as("n"), sum(col("payload")).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(plain.toSeq == salted.toSeq)
  }

  test("q34 threshold derives from the per-reducer budget: a huge " +
      "budget takes the cold path (zero hot keys, zero replication), a " +
      "tiny one salts — and BOTH regimes equal the plain join") {
    import graft.operators.RelationalQueries.{hotKeys, saltedJoinAgg}
    val l0 = Tables.lineitem(spark, sfDir)
    val o0 = Tables.orders(spark, sfDir)
    def run(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val plain = run(l0.join(o0, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(12,2)"))
          .cast("double").as("qty"))
      .orderBy(col("o_orderpriority")))
    // cold regime: no lineitem key can overflow a 10^9-row reducer
    val cold = hotKeys(l0, col("l_orderkey"), maxRowsPerReducer = 1000000000L)
    assert(cold.count() == 0)
    assert(run(saltedJoinAgg(l0, o0, cold)) == plain)
    // hot regime: the gate's budget of 8 flags real keys and replicates
    val hot = hotKeys(l0, col("l_orderkey"), maxRowsPerReducer = 8)
    val nHot = hot.count()
    assert(nHot > 0, "expected hot keys at the test-scale budget")
    // build side replicates ONLY hot keys: plain orders + (nSalt-1)
    // extra copies per hot order, nothing for cold keys
    val hotOrders = o0.join(hot, col("o_orderkey") === col("hk")).count()
    val saltedBuild = o0.select(col("o_orderkey"))
      .join(broadcast(hot), col("o_orderkey") === col("hk"), "left_outer")
      .withColumn("salt", explode(when(col("hk").isNotNull,
        sequence(lit(0), lit(7))).otherwise(array(lit(0)))))
    assert(saltedBuild.count() == o0.count() + hotOrders * 7)
    assert(run(saltedJoinAgg(l0, o0, hot)) == plain)
  }

  test("connected components merges transitive chains to one cluster") {
    import graft.operators.DupClusters
    // planted chain 1-2, 2-3, plus isolated pair 10-11
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val got = DupClusters.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert(got(10L) == 10L && got(11L) == 10L)
  }

  test("large-star/small-star components: a planted 1000-link chain " +
      "converges in O(log n) rounds and matches propagation labels") {
    import graft.operators.DupClusters
    // A 1000-edge path graph has diameter 1000: min-label propagation
    // would need ~1000 rounds; the alternating star algorithm must
    // finish well inside 15 (O(log n) contraction).
    val chain = (0L until 1000L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = DupClusters.connectedComponentsStar(chain, maxRounds = 15)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == 1001 && labels.forall(_._2 == 0L))
    // Same contract as propagation on a branching multi-component graph
    // (star + chain + isolated pair + self-loop singleton).
    val edges = Seq((5L, 2L), (2L, 9L), (2L, 7L), (30L, 31L), (31L, 32L),
      (40L, 41L), (50L, 50L)).toDF("a", "b")
    val star = DupClusters.connectedComponentsStar(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prop = DupClusters.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == prop)
    assert(star(9L) == 2L && star(32L) == 30L && star(50L) == 50L)
  }

  test("q57 KS drift matches a driver-side brute force over the same " +
      "integer grid") {
    import org.apache.spark.sql.functions._
    val row = Registry.byName("q57_ks_drift").fn(spark, sfDir).collect()
    assert(row.length == 1)
    val (na, nb, ksNum, ksStat) = (row.head.getLong(0), row.head.getLong(1),
      row.head.getLong(2), row.head.getDouble(3))
    val o = Tables.orders(spark, sfDir).select(
      floor(col("o_totalprice") * 100).cast("long").as("vc"),
      (col("o_orderdate") < lit("1998-01-01").cast("timestamp")).as("a"))
      .collect()
    val aV = o.filter(_.getBoolean(1)).map(_.getLong(0)).sorted
    val bV = o.filterNot(_.getBoolean(1)).map(_.getLong(0)).sorted
    assert(na == aV.length && nb == bV.length)
    def cumLe(sorted: Array[Long], v: Long): Long = {
      var lo = 0; var hi = sorted.length
      while (lo < hi) { val m = (lo + hi) / 2
        if (sorted(m) <= v) lo = m + 1 else hi = m }
      lo.toLong
    }
    val grid = (aV ++ bV).distinct.sorted
    val brute = grid.map(v =>
      math.abs(cumLe(aV, v) * nb - cumLe(bV, v) * na)).max
    assert(ksNum == brute, s"ks_num $ksNum != brute $brute")
    assert(ksStat == brute.toDouble / (na.toDouble * nb.toDouble))
    assert(ksStat > 0.0 && ksStat <= 1.0)
  }

  test("t16 hash classifier: margins match a driver-side replay of the " +
      "bucket/weight algebra and are partitioning-invariant") {
    val P = 2147483647L
    def polyOf(s: String): Long =
      s.foldLeft(0L)((a, c) => (a * 131 + c.toLong) % P)
    def weightOf(tok: String): Long = {
      val bucket = ((506952114L * polyOf(tok) + 40503L) % P) % 4096
      (bucket * 2654435761L % P) % 2001 - 1000
    }
    val rows = Registry.byName("t16_hash_classifier").fn(spark, sfDir)
      .limit(20).collect()
    val texts = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val toks = "[a-z0-9]+".r.findAllIn(texts(r.getLong(0))).toSeq
      val margin = toks.map(weightOf).sum
      assert(r.getLong(2) == margin, s"doc ${r.getLong(0)}")
      assert(r.getLong(1) == toks.length)
      assert(r.getBoolean(3) == (margin > 0))
    }
    // weights live in [-1000, 1000] by construction
    assert((0L until 4096L).map(b => (b * 2654435761L % P) % 2001 - 1000)
      .forall(w => w >= -1000 && w <= 1000))
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key exists in queries, and names are inventory keys") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
    assert(qs.forall(_.matches("[a-z]+[0-9]+[a-z0-9_]*")))
    // Registry.byName is a toMap: a duplicate name would silently drop
    // one of the two queries
    val names = Registry.all.map(_.name)
    assert(names.diff(names.distinct).isEmpty,
      s"duplicate registry names: ${names.diff(names.distinct).mkString(", ")}")
  }
}
