package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ParamLiteral

/** Literal-independent generated code: statements that differ only in
  * a primitive constant share their compiled classes, while results,
  * pushed scan filters, exchange reuse, ANSI errors and EXPLAIN text
  * stay what they were with inlined literals.
  */
class CodegenReuseSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def sql(text: String): DataFrame = LakeSql.sql(spark, text)

  private def params(plan: SparkPlan): Seq[ParamLiteral] =
    collectWithSubqueries(plan) {
      case f: FilterExec => f.condition.collect { case p: ParamLiteral => p }
      case p: ProjectExec =>
        p.projectList.flatMap(_.collect { case p: ParamLiteral => p })
    }.flatten

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private lazy val keys: Array[Long] = {
    Sql.open(spark, sfDir)
    spark.table("orders").select(col("o_orderkey").cast("long"))
      .orderBy("o_orderkey").collect().map(_.getLong(0))
  }

  test("a second statement that differs only in its literals compiles " +
      "nothing: point reads and range aggregates") {
    val (k1, k2) = (keys(10), keys(500))
    def point(k: Long) = sql("SELECT o_orderkey, o_custkey, o_totalprice " +
      s"FROM orders WHERE o_orderkey = $k")
    def range(a: Long, b: Long) = sql("SELECT o_orderpriority, COUNT(*) AS n, " +
      "SUM(o_totalprice) AS total FROM orders " +
      s"WHERE o_orderkey BETWEEN $a AND $b GROUP BY o_orderpriority")
    point(k1).collect()
    val second = compiles(assert(point(k2).collect().map(_.getLong(0)).toSeq == Seq(k2)))
    assert(second == 0, s"point read with a new key compiled $second classes")
    range(keys(20), keys(300)).collect()
    var rows = 0L
    val secondRange = compiles {
      rows = range(keys(400), keys(900)).collect().map(_.getLong(1)).sum
    }
    assert(rows == 501)
    assert(secondRange == 0,
      s"range aggregate with new bounds compiled $secondRange classes")
  }

  test("a point read's scan still pushes the real value; only the filter " +
      "above it holds the parameter") {
    val k = keys(42)
    val df = sql(s"SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey = $k")
    df.collect()
    val plan = df.queryExecution.executedPlan
    val pushed = collect(plan) { case s: FileSourceScanExec =>
      s.metadata.getOrElse("PushedFilters", "") }
    assert(pushed.exists(_.contains(s"EqualTo(o_orderkey,$k)")), pushed)
    assert(params(plan).map(_.value) == Seq(k), plan)
  }

  test("branches and join sides that differ only in a literal keep their " +
      "own rows: no exchange or union merges them") {
    val (a, b) = (keys(3), keys(7))
    val union = sql(s"SELECT o_orderkey FROM orders WHERE o_orderkey = $a " +
      s"UNION ALL SELECT o_orderkey FROM orders WHERE o_orderkey = $b")
    assert(union.collect().map(_.getLong(0)).sorted.toSeq == Seq(a, b))
    // The literal sits in a projection below an exchange and nowhere
    // in the scans, so only its value tells the two sides apart.
    def selfJoin(x: Int, y: Int) = spark.sql(
      s"""SELECT count(*) FROM
        (SELECT DISTINCT o_custkey + $x AS k FROM orders) l JOIN
        (SELECT DISTINCT o_custkey + $y AS k FROM orders) r ON l.k = r.k""")
    // collect(), not head(): head plans and runs a new query, and an
    // adaptive plan shows its final stages only once it ran
    def count(df: DataFrame) = df.collect().head.getLong(0)
    val reference = withConf("spark.sql.exchange.reuse" -> "false") {
      (count(selfJoin(1, 1)), count(selfJoin(1, 2)))
    }
    assert(reference._1 != reference._2)
    Seq("true", "false").foreach { aqe =>
      withConf("spark.sql.adaptive.enabled" -> aqe,
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val same = selfJoin(1, 1)
        val differ = selfJoin(1, 2)
        assert(count(same) == reference._1, s"AQE $aqe")
        assert(count(differ) == reference._2, s"AQE $aqe")
        def reused(df: DataFrame) = collectWithSubqueries(
          df.queryExecution.executedPlan) { case r: ReusedExchangeExec => r }
        assert(reused(differ).isEmpty, s"AQE $aqe")
        if (aqe == "false") // the reuse of equal sides survives
          assert(reused(same).nonEmpty, same.queryExecution.executedPlan)
        assert(params(differ.queryExecution.executedPlan).nonEmpty, s"AQE $aqe")
      }
    }
  }

  test("ANSI overflow through a parametrized + still throws " +
      "ARITHMETIC_OVERFLOW") {
    val k = keys(1)
    withConf("spark.sql.ansi.enabled" -> "true") {
      val df = spark.table("orders").filter(col("o_orderkey") === k)
        .select((col("o_orderkey").cast("long") + lit(Long.MaxValue)).as("v"))
      val thrown = intercept[Exception](df.collect())
      val e = Iterator.iterate[Throwable](thrown)(_.getCause).takeWhile(_ != null)
        .collectFirst { case a: ArithmeticException with SparkThrowable => a }
        .getOrElse(fail("no Spark arithmetic error", thrown))
      assert(e.getCondition == "ARITHMETIC_OVERFLOW", e.getMessage)
      assert(e.getMessage.contains("long overflow"), e.getMessage)
      assert(params(df.queryExecution.executedPlan).map(_.value)
        .contains(Long.MaxValue))
    }
  }

  test("date and timestamp comparisons return what the values say, and " +
      "EXPLAIN prints the literals it printed before") {
    val k = keys(5)
    val days = spark.table("orders").select(col("o_orderdate").cast("string"))
      .collect().map(_.getString(0).take(10))
    val (lo, hi) = ("1994-01-01", "1995-06-30")
    val byDate = sql("SELECT COUNT(*) FROM orders WHERE " +
      s"o_orderdate >= DATE '$lo' AND o_orderdate < DATE '$hi'")
    assert(byDate.collect().head.getLong(0) == days.count(d => d >= lo && d < hi))
    assert(params(byDate.queryExecution.executedPlan).nonEmpty)

    val ts = spark.range(0, 1000)
      .select(timestamp_seconds(col("id") * 3600).as("ts"))
    val byTs = ts.filter(col("ts") >= to_timestamp(lit("1970-01-10 00:00:00")))
    assert(byTs.collect().length == 1000 - 9 * 24)
    assert(params(byTs.queryExecution.executedPlan).nonEmpty)

    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = sql(s"SELECT o_orderkey FROM orders WHERE o_orderkey = $k " +
        s"AND o_orderdate < DATE '$hi'")
      val plan = df.queryExecution.executedPlan
      assert(params(plan).nonEmpty, plan)
      val inlined = plan.transformAllExpressions {
        case p: ParamLiteral => Literal(p.value, p.dataType)
      }
      assert(plan.toString == inlined.toString)
      val explain = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(explain.contains(s"(o_orderkey#") && explain.contains(s"= $k)"), explain)
      // o_orderdate is TIMESTAMP_NTZ: the date literal is cast to it
      assert(explain.contains(s"(o_orderdate#") && explain.contains(s"< $hi 00:00:00)"),
        explain)
    }
  }

  test("the engine session caches 1000 generated classes") {
    assert(spark.sparkContext.getConf.get("spark.sql.codegen.cache.maxEntries") == "1000")
  }
}
