package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.{ExpandExec, SparkPlan}

/** Mechanical plan-shape gate: the §5 "scan aggs no shuffle / joins
  * one shuffle max" claims, previously prose + spot specs, asserted
  * as EXCHANGE COUNTS per gated key. Counts are taken with AQE off
  * (deterministic initial plan) and reused exchanges NOT recounted —
  * a ReusedExchangeExec wrapper is the reuse working, not a new
  * shuffle. Each bound is the measured honest shape; a regression
  * that adds an exchange (a lost broadcast, a dropped partial agg, a
  * resurrected Expand) fails here before it costs anything at scale.
  */
class PlanShapeSpec extends SparkSpec {

  // The executedPlan MUST be forced while adaptive.enabled is still
  // false: it is a lazy val, and if first touched after the finally
  // restores AQE the root is an AdaptiveSparkPlanExec leaf whose
  // children are invisible to collectWithSubqueries — every bound
  // would pass vacuously (r15 advisor finding).
  private def planOf(name: String): SparkPlan = {
    val prior = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try Registry.byName(name).fn(spark, sfDir).queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prior)
  }

  private def shuffles(plan: SparkPlan): Int =
    plan.collectWithSubqueries {
      case e: ShuffleExchangeLike => e
    }.size

  private def expands(plan: SparkPlan): Int =
    plan.collectWithSubqueries {
      case e: ExpandExec => e
    }.size

  // key -> max exchanges. The ≤1 class is one output-ordering or
  // global-agg exchange on top of pure scan-side work; ≤2 adds one
  // keyed aggregate below it (q01 agg+sort, q10 pre-agg+topk, d01
  // keyed dedup+order).
  private val bounds = Seq(
    "q02_filter_project" -> 1,
    "q06_scan_agg" -> 1,
    "q03_join_agg" -> 1, // dims broadcast: the agg is the only shuffle
    "x25_sql_tpch_q6" -> 1,
    "t01_token_count" -> 1,
    "t02_quality_score" -> 1,
    "t04_fingerprint" -> 1,
    "t16_hash_classifier" -> 1, // scoring itself is zero-shuffle
    // d03's r16 over-full-bucket guard short-circuits below
    // DefaultMaxBucket corpus size (gate data runs the record-shape
    // 1-exchange plan); the ceiling of 3 leaves room for the guard's
    // sampled count aggregate + widen when a caller runs it live at
    // scale. Still zero shuffles of the band table beyond the widen.
    "d03_simhash" -> 3,
    "m01_binary_meta" -> 1,
    "x111_sql_list_comprehension" -> 1,
    "x112_sql_operators" -> 1,
    "q01_pricing_summary" -> 2,
    "q10_topk" -> 2,
    "d01_exact_dedup" -> 2)

  test("exchange-count ceilings hold for the keys §5 calls scan-bound " +
      "or one-shuffle") {
    Sql.open(spark, sfDir)
    val over = bounds.flatMap { case (name, max) =>
      val n = shuffles(planOf(name))
      if (n > max) Some(s"$name: $n exchanges (bound $max)") else None
    }
    assert(over.isEmpty, over.mkString("; "))
  }

  // Pipeline families (r16, the VERDICT item-8 extension): dedup/ANN/
  // text keys whose §5 claims were prose-only. Bounds are the measured
  // honest shapes at r16 — a regression that resurfaces a shuffle
  // (lost broadcast in the bucket guard, a global sort sneaking into
  // d16's gram sharding, a second pass in the scoring keys) fails here
  // before it costs anything at scale. Ceilings, not equalities:
  // memoized evidence (d14's localCheckpoint) may legitimately REMOVE
  // exchanges on a warm session.
  private val pipelineBounds = Seq(
    "d02_minhash_lsh" -> 3, // band self-join + over-full-bucket guard agg
    "d04_ngram_jaccard" -> 3, // candidate join + two shingle-set joins
    "d05_embedding_neardup" -> 2, // bucket self-join + pair dedup agg
    "a01_cosine_topk_bruteforce" -> 2, // partial top-k + final merge
    "a02_ann_lsh" -> 3, // bucket probe join + dedup + topk
    "a03_ivf_ann" -> 3, // probe-confined: centroid assign + cluster join
    "a05_range_search" -> 1, // scan-side filter, one output ordering
    "d10_span_dedup" -> 4, // widen + gram window + per-doc count + order
    "d14_dedup_pipeline" -> 4, // candidates + verify + CC + anti-join
    "d16_exact_substring" -> 4, // widen + gram window + per-doc fold + order
    "t06_tfidf" -> 5, // widen + term window + doc rank + n_docs + order
    "t10_gopher_quality" -> 1, // pure scan-side scoring
    "t15_clean_pipeline" -> 1, // scan-side cleaning, one ordering
    "t17_bpe_tokens" -> 1) // scan-side tokenization

  test("pipeline-family exchange ceilings hold (dedup/ANN/text keys: " +
      "bucket-local joins and scan-side scoring, never corpus-wide " +
      "extra passes)") {
    Sql.open(spark, sfDir)
    val over = pipelineBounds.flatMap { case (name, max) =>
      val n = shuffles(planOf(name))
      if (n > max) Some(s"$name: $n exchanges (bound $max)") else None
    }
    assert(over.isEmpty, over.mkString("; "))
  }

  // ---------------------------------------------------------- join-DML
  // The fusion contract for x125's machinery: an UPDATE … FROM
  // evaluates its source once (LakeFormat.once: a stable source is
  // re-read, anything else is checkpointed), then runs exactly TWO
  // joins over the target — one inside the capped hit probe (hit
  // files, match count and ambiguity), one inside the rewrite of the
  // hit files — and the execution that carries the write contains
  // exactly ONE join. DELETE … USING is the same shape with semi/anti
  // joins. A regression back to a three-pass shape (or a second join
  // sneaking into the write plan) fails here. Plans are captured from
  // the engine's own execution via SparkListenerSQLExecutionStart — the
  // gate sees what actually ran, not a reconstruction.
  private def capturePlans(body: => Unit)
      : Seq[org.apache.spark.sql.execution.SparkPlanInfo] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlanInfo]()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => acc.add(s.sparkPlanInfo); ()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // listener bus is async: wait for quiescence (no new execution-
      // start events for 1.2 s, 20 s ceiling)
      var last = -1; var stableSince = System.nanoTime()
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (System.nanoTime() < deadline &&
          (acc.size() != last ||
            System.nanoTime() - stableSince < 1200L * 1000 * 1000)) {
        if (acc.size() != last) { last = acc.size(); stableSince = System.nanoTime() }
        Thread.sleep(100)
      }
    } finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    acc.asScala.toSeq
  }

  private def countNodes(p: org.apache.spark.sql.execution.SparkPlanInfo,
      pred: String => Boolean): Int =
    (if (pred(p.nodeName)) 1 else 0) +
      p.children.map(countNodes(_, pred)).sum

  test("join-DML (x125 machinery) runs one join in the write pass and " +
      "at most two joins total per statement (source checkpointed " +
      "once; no third pass)") {
    Sql.open(spark, sfDir)
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val root = graft.util.Scratch.dir("planshape_jdml")
    val t = s"psj_$tag"
    LakeSql.sql(spark, s"""CREATE TABLE $t USING deltalite
      LOCATION '$root/$t'
      AS SELECT n_nationkey AS k, n_name AS nm,
                CAST(n_regionkey AS DOUBLE) AS v
         FROM nation""")
    try {
      for ((what, stmt) <- Seq(
          "UPDATE … FROM" -> s"""UPDATE $t SET v = v + s.extra
            FROM (SELECT r_regionkey, CAST(r_regionkey AS DOUBLE) AS extra
                  FROM region) AS s
            WHERE $t.v = s.r_regionkey""",
          // the UPDATE above doubled v (v = v + extra with extra = v),
          // so even values survive: r_regionkey + 1 hits v ∈ {2, 4}
          "DELETE … USING" -> s"""DELETE FROM $t USING region r
            WHERE $t.v = r.r_regionkey + 1""")) {
        val plans = capturePlans { LakeSql.sql(spark, stmt); () }
        val joins = (p: org.apache.spark.sql.execution.SparkPlanInfo) =>
          countNodes(p, _.toLowerCase(java.util.Locale.ROOT).contains("join"))
        val isWrite = (p: org.apache.spark.sql.execution.SparkPlanInfo) =>
          countNodes(p, n => n.contains("Insert") || n.contains("Overwrite") ||
            n.contains("WriteFiles") || n.contains("DataWriting")) > 0
        val writePlans = plans.filter(isWrite)
        assert(writePlans.nonEmpty, s"$what: no write execution captured")
        val writeJoins = writePlans.map(joins)
        assert(writeJoins.forall(_ <= 1) && writeJoins.exists(_ == 1),
          s"$what: write-pass join counts ${writeJoins.mkString(",")} " +
            "(want exactly one join carrying the rewrite)")
        val total = plans.map(joins).sum
        assert(total <= 2,
          s"$what: $total joins across the statement (bound 2: " +
            "ambiguity count + rewrite)")
      }
    } finally LakeSql.sql(spark, s"DROP TABLE $t")
  }

  test("q09/q30 plan without Expand (the r14 aggregate-shape finding: " +
      "co-located COUNT(DISTINCT)s expanded the scan x3/x4) and within " +
      "their split-aggregate exchange budget") {
    Sql.open(spark, sfDir)
    for ((name, maxSh) <- Seq("q09_distinct" -> 6,
        "q30_approx_distinct" -> 4)) {
      val df = planOf(name)
      assert(expands(df) == 0, s"$name: Expand resurfaced")
      val n = shuffles(df)
      assert(n <= maxSh, s"$name: $n exchanges (bound $maxSh)")
    }
  }
}
