package graft.perfbench

import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity, TextOps}
import graft.sources.HudiLite

/** One benchmark statement.
  *
  *  - `text` is what the engine receives: SQL for `LakeSql.sql`, or, for
  *    calls into the operator and Hudi APIs, a one-line description of the
  *    call whose parameters `api` binds.
  *  - `duck` is the DuckDB replay: statements run in order on one DuckDB
  *    connection per run; when `compare` is set, the rows of the last one
  *    must equal the rows the engine returned.
  *  - `countRows` marks the replay statements whose affected-row counts add
  *    up to the rows this statement changed.
  *  - `travel` is the index of the statement whose committed Delta version a
  *    `VERSION AS OF {V}` read names (-1: the table's creation); the runner
  *    fills in the version.
  */
final case class Stmt(family: String, kind: String, text: String,
    duck: Seq[String], compare: Boolean, countRows: Seq[Int] = Nil,
    travel: Option[Int] = None, deltaWrite: Boolean = false,
    api: Option[Ctx => DataFrame] = None)

/** What a statement's API call needs from the run. */
final case class Ctx(spark: SparkSession, data: String, lake: String)

object Kind {
  val Query = "query" // LakeSql.sql, rows collected
  val Dml = "dml"     // LakeSql.sql, executes on the call
  val ApiRead = "api_read"   // a public operator or reader, rows collected
  val ApiWrite = "api_write" // a public writer
}

/** A workload: its input, its set-up, and its seeded statement passes.
  * Every pass holds each of the workload's statement families a fixed
  * number of times in seeded order with seeded parameters, so runs with
  * different seeds measure the same mix. */
trait Workload {
  def name: String
  /** Scale factor of the input, and the tables the DuckDB replay reads. */
  def sf: Double
  def tables: Seq[String]
  /** The tail percentile reported. A measured phase runs at least
    * `minStatements`, so at least ten samples lie beyond it. */
  def tailPct: Double
  def minStatements: Int = math.ceil(10 / (1 - tailPct / 100)).toInt
  /** Passes before anything is measured, while the JIT compiles the
    * statement families' code paths: the first pass of a fresh JVM runs at
    * half the steady speed or less, the second still 20–30% below it. */
  def warmupPasses: Int = 2
  /** Set-up after session start: `Sql.open` over the input, and any lake
    * tables seeded under `c.lake`. */
  def setup(c: Ctx): Unit
  /** DuckDB statements that seed the replay's own tables. */
  def duckSetup: Seq[String] = Nil
  /** The statements of pass `pass`; `start` is the run index of its first. */
  def pass(seed: Long, pass: Int, start: Int): Seq[Stmt]
  /** The layer of the workload's API calls. */
  def apiLayer: String = "operators"
  /** Lake tables (name → path under `lake`) whose final contents are
    * checked and measured. */
  def lakeTables(lake: String): Seq[(String, String)] = Nil
}

object Gen {
  def rng(seed: Long, pass: Int, salt: Int): Random =
    new Random(seed * 1000003L + pass * 7919L + salt)

  /** The workloads at their benchmark scale. */
  def all: Seq[Workload] = Seq(Interactive(), LakeDml(), LlmDedup())

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n; known: " +
      all.map(_.name).mkString(", ")))

  def date(day: Int): String =
    java.time.LocalDate.of(1992, 1, 1).plusDays(day.toLong).toString

  /** One statement per family, in seeded order with seeded parameters. */
  def shuffled(r: Random, fams: Seq[Random => Stmt]): Seq[Stmt] =
    r.shuffle(fams).map(_(r))

  def q(family: String, sql: String): Stmt =
    Stmt(family, Kind.Query, sql, Seq(sql), compare = true)
}

import Gen._

/** Short DuckDB-dialect statements at sf0.01: point lookups, QUALIFY,
  * DISTINCT ON, list/map functions, strftime, ordered string_agg, EXCLUDE,
  * GROUP BY ALL, small joins and top-k. */
final case class Interactive(sf: Double = 0.01) extends Workload {
  val name = "interactive-dialect"
  val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events")
  val tailPct = 75.0

  def setup(c: Ctx): Unit = graft.Sql.open(c.spark, c.data)

  private val z = Data.Sizes(sf)
  private def ck(r: Random) = 1 + r.nextInt(z.customer.toInt - 40)
  private def ok(r: Random) = 1 + r.nextInt(z.orders.toInt - 40)

  private val fams: Seq[Random => Stmt] = Seq(
    r => q("point_order", s"""SELECT o_orderkey, o_custkey, o_totalprice,
      o_orderstatus FROM orders WHERE o_orderkey = ${ok(r)}"""),
    r => q("point_customer", s"""SELECT c_name, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey = ${ck(r)}"""),
    r => { val a = ck(r); q("qualify", s"""SELECT o_custkey, o_orderkey,
      o_totalprice, ROW_NUMBER() OVER (PARTITION BY o_custkey
        ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders WHERE o_custkey BETWEEN $a AND ${a + 20}
      QUALIFY rn <= 2""") },
    r => q("distinct_on", s"""SELECT DISTINCT ON (c_nationkey) c_nationkey,
      c_custkey, c_acctbal FROM customer
      WHERE c_mktsegment = '${Data.Segments(r.nextInt(5))}'
      ORDER BY c_nationkey, c_acctbal DESC, c_custkey"""),
    r => { val a = ck(r); q("list", s"""SELECT o_custkey,
      list(o_orderkey ORDER BY o_orderkey) AS ks,
      list_sort(list(o_orderpriority ORDER BY o_orderkey)) AS ps
      FROM orders WHERE o_custkey BETWEEN $a AND ${a + 5}
      GROUP BY o_custkey""") },
    r => q("map", s"""SELECT n_name,
      map_values(map(['n', 'r'], [n_nationkey, n_regionkey])) AS vs,
      cardinality(map([n_nationkey], [n_name])) AS c
      FROM nation WHERE n_regionkey = ${r.nextInt(5)}"""),
    r => q("strftime", s"""SELECT strftime(o_orderdate, '%Y-%m') AS ym,
      COUNT(*) AS n FROM orders WHERE o_custkey < ${20 + r.nextInt(200)}
      GROUP BY ALL ORDER BY ALL"""),
    r => { val a = ck(r); q("string_agg", s"""SELECT c_nationkey,
      string_agg(c_name, ',' ORDER BY c_custkey) AS names
      FROM customer WHERE c_custkey BETWEEN $a AND ${a + 30}
      GROUP BY c_nationkey""") },
    r => { val a = ck(r); q("exclude", s"""SELECT * EXCLUDE (c_name,
      c_mktsegment) FROM customer WHERE c_custkey BETWEEN $a AND ${a + 9}""") },
    r => q("group_by_all", s"""SELECT l_returnflag, l_linestatus,
      COUNT(*) AS n, SUM(l_quantity) AS q FROM lineitem
      WHERE l_orderkey < ${500 + r.nextInt(5000)} GROUP BY ALL"""),
    r => q("small_join", s"""SELECT n_name, COUNT(*) AS n,
      SUM(c_acctbal) AS bal FROM customer JOIN nation
        ON c_nationkey = n_nationkey
      WHERE c_acctbal > ${r.nextInt(9000)} GROUP BY n_name"""),
    r => q("top_k", s"""SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderdate >= DATE '${date(r.nextInt(2300))}'
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 5"""),
    r => { val u = r.nextInt(490); q("events_json", s"""SELECT
      user_id, event_type, COUNT(*) AS n, SUM(value) AS v
      FROM events WHERE user_id BETWEEN $u AND ${u + 3}
        AND (props ->> 'k') < '5'
      GROUP BY ALL""") },
    r => { val a = ck(r); q("split_part", s"""SELECT c_custkey,
      split_part(c_name, '#', 2) AS num, lower(c_mktsegment) AS seg
      FROM customer WHERE c_custkey BETWEEN $a AND ${a + 9}""") },
    r => { val a = ok(r); q("join_lines", s"""SELECT o_orderkey,
      COUNT(*) AS n, SUM(l_extendedprice) AS total
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      WHERE o_orderkey BETWEEN $a AND ${a + 30} GROUP BY o_orderkey""") },
    r => q("order_by_all", s"""SELECT c_mktsegment, c_nationkey,
      COUNT(*) AS n FROM customer
      WHERE c_nationkey < ${3 + r.nextInt(5)} GROUP BY ALL ORDER BY ALL"""))

  def pass(seed: Long, pass: Int, start: Int): Seq[Stmt] =
    shuffled(rng(seed, pass, 2), fams)
}

/** Writes beside reads on one Delta and one Iceberg table seeded from
  * orders, plus a Hudi table through `HudiLite.upsert` and `snapshot`.
  * Keyed MERGE and full-sync MERGE update key ranges the seed picks. */
final case class LakeDml(sf: Double = 0.1) extends Workload {
  val name = "lake-dml"
  override val apiLayer = "sources"
  val tables = Seq("region", "nation", "orders", "lineitem")
  val tailPct = 60.0

  private val z = Data.Sizes(sf)
  /** The lake tables start with the first `seeded` order keys. Upserts
    * pick ranges inside them, so every one does the same kind of work;
    * INSERT adds new keys. */
  private val orders = z.orders.toInt
  private val seeded = orders * 4 / 5
  private val half = orders / 2
  /** Key-range width: `1/n` of the orders, at least `min` keys. */
  private def width(n: Int, min: Int) = math.max(min, orders / n)
  private val Cols =
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, " +
      "o_orderpriority"

  override def lakeTables(lake: String): Seq[(String, String)] = Seq(
    "d_orders" -> s"$lake/d_orders", "i_orders" -> s"$lake/i_orders",
    "h_orders" -> s"$lake/h_orders")

  def setup(c: Ctx): Unit = {
    graft.Sql.open(c.spark, c.data)
    Seq("d_orders" -> "deltalite", "i_orders" -> "iceberglite").foreach {
      case (t, p) => graft.LakeSql.sql(c.spark, s"""CREATE TABLE $t USING $p
        LOCATION '${c.lake}/$t' AS SELECT $Cols FROM orders
        WHERE o_orderkey <= $seeded""")
    }
    HudiLite.create(c.spark, s"${c.lake}/h_orders",
      c.spark.table("orders").filter(col("o_orderkey") <= seeded),
      "o_orderkey", HudiLite.MergeOnRead)
  }

  override def duckSetup: Seq[String] = Seq("d_orders", "i_orders",
    "h_orders").map(t => s"CREATE TABLE $t AS SELECT $Cols FROM orders " +
      s"WHERE o_orderkey <= $seeded")

  private def src(a: Int, w: Int, bump: Int): String =
    s"""SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
      o_totalprice + $bump AS o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey BETWEEN $a AND ${a + w}"""

  /** MERGE … WHEN MATCHED UPDATE * / NOT MATCHED INSERT * as DuckDB's
    * DELETE + INSERT. */
  private def upsertDuck(t: String, s: String): Seq[String] = Seq(
    s"DELETE FROM $t WHERE o_orderkey IN (SELECT o_orderkey FROM ($s))",
    s"INSERT INTO $t SELECT * FROM ($s)")

  private def merge(t: String, r: Random): Stmt = {
    val w = width(30, 10); val a = 1 + r.nextInt(seeded - w)
    val s = src(a, w, 1 + r.nextInt(50))
    Stmt("merge", Kind.Dml, s"""MERGE INTO $t USING ($s) AS src
      ON $t.o_orderkey = src.o_orderkey
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""", upsertDuck(t, s), compare = false,
      countRows = Seq(1), deltaWrite = t == "d_orders")
  }

  private def fullsync(t: String, r: Random): Stmt = {
    val w = width(10, 30); val a = 1 + r.nextInt(seeded - w)
    val s = src(a + w / 3, w / 3, 7)
    val cond = s"o_orderkey BETWEEN $a AND ${a + w}"
    Stmt("fullsync", Kind.Dml, s"""MERGE INTO $t USING ($s) AS src
      ON $t.o_orderkey = src.o_orderkey
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *
      WHEN NOT MATCHED BY SOURCE AND $cond THEN DELETE""",
      (s"DELETE FROM $t WHERE $cond AND o_orderkey NOT IN " +
        s"(SELECT o_orderkey FROM ($s))") +: upsertDuck(t, s),
      compare = false, countRows = Seq(0, 2), deltaWrite = t == "d_orders")
  }

  private def update(t: String, r: Random): Stmt = {
    val w = width(30, 10); val a = 1 + r.nextInt(seeded - w)
    val sql = s"""UPDATE $t SET o_orderpriority = '1-URGENT',
      o_totalprice = o_totalprice + 0.5 WHERE o_orderkey BETWEEN $a AND ${a + w}"""
    Stmt("update", Kind.Dml, sql, Seq(sql), compare = false,
      countRows = Seq(0), deltaWrite = t == "d_orders")
  }

  private def delete(t: String, r: Random): Stmt = {
    val w = width(50, 6); val a = 1 + r.nextInt(seeded - w)
    val sql = s"DELETE FROM $t WHERE o_orderkey BETWEEN $a AND ${a + w} " +
      "AND o_orderstatus = 'F'"
    Stmt("delete", Kind.Dml, sql, Seq(sql), compare = false,
      countRows = Seq(0), deltaWrite = t == "d_orders")
  }

  /** Inserted copies get keys above every generated key, unique per
    * statement, so no later MERGE meets a duplicate target key. */
  private def insert(t: String, r: Random, idx: Int): Stmt = {
    val w = width(30, 10); val a = 1 + r.nextInt(orders - w)
    val off = 10000000L * (idx + 1)
    val sql = s"""INSERT INTO $t SELECT o_orderkey + $off AS o_orderkey,
      o_custkey, 'N' AS o_orderstatus, o_totalprice, o_orderdate,
      o_orderpriority FROM orders WHERE o_orderkey BETWEEN $a AND ${a + w}"""
    Stmt("insert", Kind.Dml, sql, Seq(sql), compare = false,
      countRows = Seq(0), deltaWrite = t == "d_orders")
  }

  private def point(t: String, r: Random): Stmt =
    q("point", s"SELECT $Cols FROM $t WHERE o_orderkey = ${1 + r.nextInt(seeded)}")

  private def range(t: String, r: Random): Stmt = {
    val a = 1 + r.nextInt(half)
    q("read", s"""SELECT o_orderpriority, COUNT(*) AS n,
      SUM(o_totalprice) AS total FROM $t
      WHERE o_orderkey BETWEEN $a AND ${a + half} GROUP BY o_orderpriority""")
  }

  private def hudiSrc(a: Int, w: Int, bump: Int)(c: Ctx): DataFrame =
    c.spark.table("orders").filter(col("o_orderkey").between(a, a + w))
      .withColumn("o_orderstatus", lit("H"))
      .withColumn("o_totalprice", col("o_totalprice") + bump)

  private def hudiUpsert(r: Random): Stmt = {
    val w = width(60, 5); val a = 1 + r.nextInt(seeded - w)
    val b = 1 + r.nextInt(20)
    val s = s"""SELECT o_orderkey, o_custkey, 'H' AS o_orderstatus,
      o_totalprice + $b AS o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey BETWEEN $a AND ${a + w}"""
    Stmt("hudi_upsert", Kind.ApiWrite,
      s"HudiLite.upsert(h_orders, orders keys $a..${a + w}, status H, " +
        s"price + $b)", upsertDuck("h_orders", s), compare = false,
      countRows = Seq(1), api = Some(c => {
        HudiLite.upsert(c.spark, s"${c.lake}/h_orders", hudiSrc(a, w, b)(c))
        c.spark.emptyDataFrame
      }))
  }

  private def hudiRead(r: Random): Stmt = {
    val a = 1 + r.nextInt(half)
    Stmt("hudi_read", Kind.ApiRead,
      s"HudiLite.snapshot(h_orders) keys $a..${a + half} count, sum",
      Seq(s"""SELECT COUNT(*) AS n, SUM(o_totalprice) AS total FROM h_orders
        WHERE o_orderkey BETWEEN $a AND ${a + half}"""), compare = true,
      api = Some(c => HudiLite.snapshot(c.spark, s"${c.lake}/h_orders")
        .filter(col("o_orderkey").between(a, a + half))
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("total"))))
  }

  private def optimize(t: String): Stmt = Stmt("optimize", Kind.Dml,
    s"OPTIMIZE $t", Nil, compare = false, deltaWrite = t == "d_orders")

  /** Run indices of the Delta writes so far, newest last; -1 is the
    * CTAS. Passes are generated in order, so a pass sees earlier ones. */
  private var deltaWrites = Vector(-1)

  /** A `VERSION AS OF` read of one of the last four Delta versions. */
  private def travel(r: Random): Stmt = {
    val back = deltaWrites.takeRight(4)
    val target = back(r.nextInt(back.size))
    val agg = "SELECT COUNT(*) AS n, SUM(o_totalprice) AS total, " +
      "MAX(o_orderkey) AS max_key FROM "
    Stmt("travel", Kind.Query, agg + "d_orders VERSION AS OF {V}",
      Seq(agg + s"d_orders_s${target + 1}"), compare = true,
      travel = Some(target))
  }

  def pass(seed: Long, pass: Int, start: Int): Seq[Stmt] = {
    if (pass == 0) deltaWrites = Vector(-1)
    val r = rng(seed, pass, 3)
    val (a, b) = if (pass % 2 == 0) ("d_orders", "i_orders")
      else ("i_orders", "d_orders")
    val body = r.shuffle(Seq[Int => Stmt](
      _ => merge("d_orders", r), _ => merge("i_orders", r),
      _ => fullsync(a, r), _ => update(b, r), _ => delete(a, r),
      i => insert(b, r, i), _ => point("d_orders", r),
      _ => point("i_orders", r), _ => range("d_orders", r),
      _ => range("i_orders", r), _ => hudiUpsert(r), _ => hudiRead(r),
      _ => travel(r))) :+ ((_: Int) => optimize(a))
    body.zipWithIndex.map { case (f, j) =>
      val s = f(start + j)
      if (s.deltaWrite) deltaWrites :+= start + j
      s
    }
  }
}

/** The LLM-data pipeline through the public Dedup, TextOps and Similarity
  * functions over seeded document and embedding ranges. Each statement has
  * the shape of a registered key (t04, t06, d02, d03, d16, a02) and is
  * checked by that key's reference SQL, which replays the TextHash and
  * VectorOps formulations in DuckDB over the same rows. */
final case class LlmDedup(sf: Double = 0.1) extends Workload {
  val name = "llm-dedup"
  val tables = Seq("region", "nation", "orders", "lineitem", "documents",
    "embeddings")
  /** Three measured passes: 18 statements, so the tail is p44. */
  val tailPct = 44.0
  /** One: across ten seeds a second warm-up pass did not make the measured
    * figures steadier here (the host's speed moved them more), and a run
    * has to fit the time budget. */
  override val warmupPasses = 1

  def setup(c: Ctx): Unit = graft.Sql.open(c.spark, c.data)

  private val z = Data.Sizes(sf)
  private lazy val oracles = graft.SparkEntry.oracleSql

  private def docsOp(key: String, r: Random, width0: Int)(
      f: DataFrame => DataFrame): Stmt = {
    val width = math.min(width0, z.documents.toInt / 2)
    val a = r.nextInt(z.documents.toInt - width)
    val b = a + width - 1
    Stmt(key, Kind.ApiRead, s"$key over documents doc_id $a..$b",
      Seq(s"""CREATE OR REPLACE TEMP VIEW documents AS SELECT * FROM
        base_documents WHERE doc_id BETWEEN $a AND $b""", oracles(key)),
      compare = true, api = Some(c => f(c.spark.table("documents")
        .filter(col("doc_id").between(a, b)))))
  }

  private val fams: Seq[Random => Stmt] = Seq(
    r => docsOp("t04_fingerprint", r, 150)(d =>
      TextOps.withFingerprints(d).select(col("doc_id"), col("fp"),
        col("winnow_fp"))),
    r => docsOp("t06_tfidf", r, 1200)(d =>
      TextOps.tfidfTopTerms(d).orderBy(col("doc_id"), col("rn"))),
    r => docsOp("d02_minhash_lsh", r, 1000)(d =>
      Dedup.minhashCandidatePairs(d)
        .orderBy(col("n_bands").desc, col("doc_a"), col("doc_b")).limit(500)),
    r => docsOp("d03_simhash", r, 800)(d =>
      Dedup.simhashPairs(d)
        .orderBy(col("hamming"), col("doc_a"), col("doc_b")).limit(500)),
    r => docsOp("d16_exact_substring", r, 500)(d =>
      Dedup.exactSubstringDedup(d, n = 8)),
    // The whole corpus and the key's fixed query set: the ANN cost grows
    // with the corpus, so a seeded size would give runs with different
    // seeds different work, and the reference SQL names the queries.
    _ => {
      val hi = z.embeddings
      Stmt("a02_ann_lsh", Kind.ApiRead,
        s"a02_ann_lsh over embeddings vec_id < $hi",
        Seq(s"""CREATE OR REPLACE TEMP VIEW embeddings AS SELECT * FROM
          base_embeddings WHERE vec_id < $hi""", oracles("a02_ann_lsh")),
        compare = true, api = Some { c =>
          val corpus = Similarity.prepared(c.spark.table("embeddings")
            .filter(col("vec_id") < hi), "vec_id", "embedding")
          Similarity.lshTopK(corpus,
            Similarity.asQueries(corpus.filter(col("vec_id") < 8)),
            excludeSelf = true)
        })
    })

  def pass(seed: Long, pass: Int, start: Int): Seq[Stmt] =
    shuffled(rng(seed, pass, 4), fams)
}
