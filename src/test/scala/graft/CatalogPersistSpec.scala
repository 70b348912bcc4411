package graft

import org.apache.spark.sql.functions._

/** Durable catalog (`spark.graft.catalog.dir`) + CREATE VIEW: DDL from
  * one session is visible in a brand-new session that replays the op
  * log — the persistent half of the reference's Parser → Binder →
  * catalog entry path (reference:duckdb:24-38). Uses `newSession()`
  * (fresh session state, so a fresh LakeSql catalog map) as the
  * restart stand-in.
  */
class CatalogPersistSpec extends SparkSpec {

  test("CREATE TABLE + CREATE VIEW in session 1 are queryable in a new " +
      "session; DROP is durable too; views expand and refuse DML") {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val root = graft.util.Scratch.dir("catpersist")
    val name = s"cust_persist_$tag"
    val view = s"v_building_$tag"

    val s1 = spark.newSession()
    s1.conf.set(LakeSql.CatalogDirKey, s"$root/catalog")
    Sql.open(s1, sfDir)
    LakeSql.sql(s1, s"""CREATE TABLE $name USING deltalite
      LOCATION '$root/$name'
      AS SELECT * FROM customer WHERE c_custkey <= 200""")
    LakeSql.sql(s1, s"""CREATE VIEW $view AS
      SELECT c_custkey, c_acctbal FROM $name
      WHERE c_mktsegment = 'BUILDING'""")
    val expectTable = LakeSql.sql(s1, s"SELECT COUNT(*) AS n FROM $name")
      .head.getLong(0)
    val expectView = LakeSql.sql(s1, s"SELECT COUNT(*) AS n FROM $view")
      .head.getLong(0)
    assert(expectTable > 0 && expectView > 0 && expectView < expectTable)

    // A BRAND-NEW session with the same catalog dir sees both names.
    val s2 = spark.newSession()
    s2.conf.set(LakeSql.CatalogDirKey, s"$root/catalog")
    Sql.open(s2, sfDir)
    assert(LakeSql.sql(s2, s"SELECT COUNT(*) AS n FROM $name")
      .head.getLong(0) == expectTable)
    assert(LakeSql.sql(s2, s"SELECT COUNT(*) AS n FROM $view")
      .head.getLong(0) == expectView)
    // The view re-plans against CURRENT table state: delete rows in
    // session 2, the view shrinks.
    LakeSql.sql(s2, s"DELETE FROM $name WHERE c_custkey <= 100")
    val after = LakeSql.sql(s2, s"SELECT COUNT(*) AS n FROM $view")
      .head.getLong(0)
    assert(after < expectView)
    // DML / time travel on a view refuse loudly.
    intercept[IllegalArgumentException] {
      LakeSql.sql(s2, s"DELETE FROM $view WHERE c_custkey = 1")
    }
    intercept[IllegalArgumentException] {
      LakeSql.sql(s2, s"SELECT * FROM $view VERSION AS OF 0").collect()
    }
    // DROP VIEW persists: a third session no longer resolves it.
    LakeSql.sql(s2, s"DROP VIEW $view")
    val s3 = spark.newSession()
    s3.conf.set(LakeSql.CatalogDirKey, s"$root/catalog")
    Sql.open(s3, sfDir)
    intercept[Exception] {
      LakeSql.sql(s3, s"SELECT COUNT(*) FROM $view").collect()
    }
    assert(LakeSql.sql(s3, s"SELECT COUNT(*) AS n FROM $name")
      .head.getLong(0) ==
      Tables.customer(spark, sfDir)
        .filter(col("c_custkey") > 100 && col("c_custkey") <= 200).count())
    LakeSql.sql(s3, s"DROP TABLE $name")
  }

  test("CREATE TYPE persists through the durable catalog: a new " +
      "session keeps the ENUM (casts validate, enum_range yields the " +
      "values), DROP TYPE journals, and type ops never surface as " +
      "catalog tables") {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val root = graft.util.Scratch.dir("typepersist")
    val ty = s"mood_$tag"

    val s1 = spark.newSession()
    s1.conf.set(LakeSql.CatalogDirKey, s"$root/catalog")
    Sql.open(s1, sfDir)
    LakeSql.sql(s1, s"CREATE TYPE $ty AS ENUM ('sad', 'ok, fine', 'happy')")

    // restart stand-in: brand-new session, same catalog dir
    val s2 = spark.newSession()
    s2.conf.set(LakeSql.CatalogDirKey, s"$root/catalog")
    Sql.open(s2, sfDir)
    val r = LakeSql.sql(s2, s"""
      SELECT CAST('ok, fine' AS $ty) AS a,
             array_to_string(enum_range(NULL::$ty), '|') AS rng
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(r.getString(0) == "ok, fine" &&
      r.getString(1) == "sad|ok, fine|happy", r.toString)
    // out-of-range still raises in the replayed session
    intercept[Exception](LakeSql.sql(s2,
      s"SELECT CAST('angry' AS $ty) AS a FROM nation LIMIT 1").collect())
    // duplicate create refuses against the REPLAYED registry
    intercept[IllegalArgumentException](LakeSql.sql(s2,
      s"CREATE TYPE $ty AS ENUM ('x')"))
    // the type never shows up as a catalog table entry
    assert(!LakeSql.tablesMeta(s2).collect()
      .exists(_.getString(0).contains(tag)))
    // DROP journals: a third session no longer has it
    LakeSql.sql(s2, s"DROP TYPE $ty")
    val s3 = spark.newSession()
    s3.conf.set(LakeSql.CatalogDirKey, s"$root/catalog")
    Sql.open(s3, sfDir)
    intercept[Exception](LakeSql.sql(s3,
      s"SELECT CAST('ok, fine' AS $ty) AS a FROM nation LIMIT 1").collect())
    // and CREATE works again after the durable drop
    LakeSql.sql(s3, s"CREATE TYPE $ty AS ENUM ('re')")
    LakeSql.sql(s3, s"DROP TYPE $ty")
  }

  test("CREATE SEQUENCE persists through the durable catalog (r17): a " +
      "new session continues the counter from the per-statement " +
      "checkpoint (no value reuse), currval stays session-local, and " +
      "DROP SEQUENCE journals") {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val root = graft.util.Scratch.dir("seqpersist")
    val sq = s"sq_$tag"

    val s1 = spark.newSession()
    s1.conf.set(LakeSql.CatalogDirKey, s"$root/catalog")
    Sql.open(s1, sfDir)
    LakeSql.sql(s1, s"CREATE SEQUENCE $sq START 100 INCREMENT 3")
    val r1 = LakeSql.sql(s1,
      s"SELECT nextval('$sq') AS a, nextval('$sq') AS b").head
    assert(r1.getLong(0) == 100L && r1.getLong(1) == 103L)

    // restart stand-in: the counter resumes AFTER the checkpoint —
    // durable sequences never reissue a value across sessions
    val s2 = spark.newSession()
    s2.conf.set(LakeSql.CatalogDirKey, s"$root/catalog")
    Sql.open(s2, sfDir)
    // currval is SESSION-local (Postgres rule): errors before any
    // nextval in this session even though the definition replayed
    intercept[IllegalArgumentException](
      LakeSql.sql(s2, s"SELECT currval('$sq') AS c"))
    assert(LakeSql.sql(s2, s"SELECT nextval('$sq') AS a")
      .head.getLong(0) == 106L)
    // duplicate create refuses against the replayed registry
    intercept[IllegalArgumentException](
      LakeSql.sql(s2, s"CREATE SEQUENCE $sq"))
    // the sequence never surfaces as a catalog table
    assert(!LakeSql.tablesMeta(s2).collect()
      .exists(_.getString(0).contains(tag)))
    // DROP journals: a third session no longer has it, and CREATE
    // works again restarting from its own START
    LakeSql.sql(s2, s"DROP SEQUENCE $sq")
    val s3 = spark.newSession()
    s3.conf.set(LakeSql.CatalogDirKey, s"$root/catalog")
    Sql.open(s3, sfDir)
    // gone: either the registry refusal (other sequences exist) or
    // Spark's unresolved-function error (registry empty) — both loud
    intercept[Exception](
      LakeSql.sql(s3, s"SELECT nextval('$sq') AS a"))
    LakeSql.sql(s3, s"CREATE SEQUENCE $sq")
    assert(LakeSql.sql(s3, s"SELECT nextval('$sq') AS a")
      .head.getLong(0) == 1L)
    LakeSql.sql(s3, s"DROP SEQUENCE $sq")
  }

  test("ATTACH binds a second durable root: qualified CTAS writes to " +
      "ITS op log, a fresh session re-attaches and sees the table, " +
      "cross-catalog joins plan, DETACH unbinds") {
    import org.apache.spark.sql.functions.col
    val rootB = graft.util.Scratch.dir("attach_b")
    val s1 = spark.newSession()
    Sql.open(s1, sfDir)
    LakeSql.sql(s1, s"ATTACH '$rootB' AS b")
    LakeSql.sql(s1, """CREATE TABLE b.rich USING deltalite
      AS SELECT c_custkey, c_nationkey, c_acctbal FROM customer
         WHERE c_acctbal > 5000""")
    // duplicate alias refuses; unknown alias refuses
    intercept[IllegalArgumentException] {
      LakeSql.sql(s1, s"ATTACH '$rootB' AS b")
    }
    intercept[IllegalArgumentException] { LakeSql.sql(s1, "DETACH zz") }
    // cross-catalog join: attached lake table ⋈ session parquet view.
    // The qualified name binds by analyzed-subtree substitution, so
    // Catalyst sees ONE plan — assert the small side actually
    // broadcasts (a substitution that blocked join strategy selection
    // would silently shuffle both sides).
    val joined = LakeSql.sql(s1, """
      SELECT COUNT(*) AS n FROM b.rich JOIN nation
      ON c_nationkey = n_nationkey""")
    val n1 = joined.head.getLong(0)
    assert(joined.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"), "cross-catalog join not broadcast")
    val want = Tables.customer(spark, sfDir)
      .filter(col("c_acctbal") > 5000).count()
    assert(n1 == want && want > 0)
    // a SECOND session re-attaches the same root under ANOTHER alias:
    // catalog state lives in the root, not the session or the name
    val s2 = spark.newSession()
    Sql.open(s2, sfDir)
    LakeSql.sql(s2, s"ATTACH '$rootB' AS other")
    assert(LakeSql.sql(s2, "SELECT COUNT(*) AS n FROM other.rich")
      .head.getLong(0) == want)
    // qualified DML: INSERT / UPDATE / DELETE address the attached
    // table through its alias and commit to ITS log — the s1 alias
    // sees every effect on live replay
    LakeSql.sql(s2, """INSERT INTO other.rich
      SELECT c_custkey + 1000000 AS c_custkey, c_nationkey, c_acctbal
      FROM customer WHERE c_custkey < 10""")
    LakeSql.sql(s2,
      "UPDATE other.rich SET c_acctbal = 0 WHERE c_custkey >= 1000000")
    assert(LakeSql.sql(s1, """SELECT COUNT(*) AS n FROM b.rich
      WHERE c_custkey >= 1000000 AND c_acctbal = 0""").head.getLong(0)
      == 10)
    LakeSql.sql(s2, "DELETE FROM other.rich WHERE c_custkey >= 1000000")
    assert(LakeSql.sql(s1, "SELECT COUNT(*) AS n FROM b.rich")
      .head.getLong(0) == want)
    // qualified DROP writes through to the attached log: s1 (alias b,
    // live replay) sees the table vanish
    LakeSql.sql(s2, "DROP TABLE other.rich")
    intercept[IllegalArgumentException] {
      LakeSql.sql(s1, "SELECT COUNT(*) FROM b.rich").collect()
    }
    // DETACH: the alias stops resolving
    LakeSql.sql(s2, "DETACH other")
    intercept[Exception] {
      LakeSql.sql(s2, "SELECT COUNT(*) FROM other.rich").collect()
    }
    LakeSql.sql(s1, "DETACH b")
  }

  test("views in attached catalogs bind in THEIR catalog's scope, " +
      "persist in the root, and refuse wrong-scope bodies") {
    val rootB = graft.util.Scratch.dir("attach_view")
    val s1 = spark.newSession()
    Sql.open(s1, sfDir)
    LakeSql.sql(s1, s"ATTACH '$rootB' AS vb")
    LakeSql.sql(s1, """CREATE TABLE vb.base USING deltalite
      AS SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
         WHERE c_acctbal > 5000""")
    // The body's bare `base` must bind vb.base even though the SESSION
    // also resolves bare tpch names (open() registered temp views).
    LakeSql.sql(s1, """CREATE VIEW vb.building AS
      SELECT c_custkey, c_acctbal FROM base
      WHERE c_mktsegment = 'BUILDING'""")
    val want = Tables.customer(spark, sfDir)
      .filter(col("c_acctbal") > 5000 &&
        col("c_mktsegment") === "BUILDING").count()
    assert(want > 0)
    assert(LakeSql.sql(s1, "SELECT COUNT(*) AS n FROM vb.building")
      .head.getLong(0) == want)
    // A body naming a table that exists ONLY in the session/primary
    // scope refuses at CREATE time (bind-at-create).
    intercept[IllegalArgumentException] {
      LakeSql.sql(s1,
        "CREATE VIEW vb.bad AS SELECT * FROM customer")
    }
    // CTE aliases inside the body are in scope (not mistaken for
    // missing catalog tables); view-on-view chains expand.
    LakeSql.sql(s1, """CREATE VIEW vb.top3 AS
      WITH ranked AS (
        SELECT c_custkey, c_acctbal FROM building)
      SELECT * FROM ranked ORDER BY c_acctbal DESC, c_custkey LIMIT 3""")
    assert(LakeSql.sql(s1, "SELECT COUNT(*) AS n FROM vb.top3")
      .head.getLong(0) == 3L)
    // The view is TEXT in the attached root's op log: a fresh session
    // re-attaching under a DIFFERENT alias sees it, and it re-plans
    // against current table state (qualified DELETE shrinks it).
    val s2 = spark.newSession()
    Sql.open(s2, sfDir)
    LakeSql.sql(s2, s"ATTACH '$rootB' AS other")
    assert(LakeSql.sql(s2, "SELECT COUNT(*) AS n FROM other.building")
      .head.getLong(0) == want)
    LakeSql.sql(s2,
      "DELETE FROM other.base WHERE c_mktsegment = 'BUILDING'")
    assert(LakeSql.sql(s2, "SELECT COUNT(*) AS n FROM other.building")
      .head.getLong(0) == 0L)
    // Direction guards: DROP TABLE on a view / DROP VIEW on a table /
    // CTAS over a view / DML into a view all refuse loudly.
    intercept[IllegalArgumentException] {
      LakeSql.sql(s2, "DROP TABLE other.building")
    }
    intercept[IllegalArgumentException] {
      LakeSql.sql(s2, "DROP VIEW other.base")
    }
    intercept[IllegalArgumentException] {
      LakeSql.sql(s2, """CREATE TABLE other.building USING deltalite
        AS SELECT 1 AS x""")
    }
    intercept[IllegalArgumentException] {
      LakeSql.sql(s2, "DELETE FROM other.building WHERE c_custkey = 1")
    }
    // Unknown qualifier refuses (never silently lands in the primary).
    intercept[IllegalArgumentException] {
      LakeSql.sql(s2, "CREATE VIEW nosuch.v AS SELECT 1 AS x")
    }
    // DROP VIEW writes through the op log: s1's alias sees it vanish.
    LakeSql.sql(s2, "DROP VIEW other.top3")
    intercept[Exception] {
      LakeSql.sql(s1, "SELECT COUNT(*) FROM vb.top3").collect()
    }
    LakeSql.sql(s2, "DETACH other")
    LakeSql.sql(s1, "DETACH vb")
  }

  test("EXPORT DATABASE / IMPORT DATABASE round-trips a mixed-format " +
      "catalog: providers preserved, views replay as text, imported " +
      "tables are real lake tables, collisions refuse") {
    val s1 = spark.newSession()
    Sql.open(s1, sfDir)
    val root = graft.util.Scratch.dir("expdb_src")
    val exp = graft.util.Scratch.dir("expdb_out")
    LakeSql.script(s1, s"""
      CREATE TABLE ed_nat USING deltalite LOCATION '$root/ed_nat'
        AS SELECT n_nationkey, n_name FROM nation;
      CREATE TABLE ed_reg USING iceberglite LOCATION '$root/ed_reg'
        AS SELECT r_regionkey, r_name FROM region;
      CREATE VIEW ed_v AS
        SELECT COUNT(*) AS n FROM ed_nat;
      EXPORT DATABASE '$exp'""")
    assert(new java.io.File(s"$exp/manifest.json").exists)
    assert(new java.io.File(s"$exp/schema.sql").exists)
    // Views are TEXT in schema.sql, not data dumps.
    val schemaSql = scala.io.Source.fromFile(s"$exp/schema.sql").mkString
    assert(schemaSql.contains("CREATE VIEW ed_v AS"))

    val s2 = spark.newSession()
    LakeSql.sql(s2, s"IMPORT DATABASE '$exp'")
    // Providers preserved through the round-trip.
    val provs = LakeSql.sql(s2,
      """SELECT table_name, provider FROM graft_tables
         ORDER BY table_name""")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(provs("ed_nat") == "deltalite")
    assert(provs("ed_reg") == "iceberglite")
    assert(provs("ed_v") == "view")
    // Data + the replayed view both answer in the fresh session (no
    // tpch temp views registered here — everything resolves through
    // the imported catalog).
    assert(LakeSql.sql(s2, "SELECT COUNT(*) AS c FROM ed_reg")
      .head.getLong(0) == 5L)
    assert(LakeSql.sql(s2, "SELECT n FROM ed_v").head.getLong(0) == 25L)
    // Imported tables are REAL lake tables: DML + time travel work.
    LakeSql.sql(s2, "DELETE FROM ed_nat WHERE n_nationkey < 5")
    assert(LakeSql.sql(s2, "SELECT n FROM ed_v").head.getLong(0) == 20L)
    assert(LakeSql.sql(s2, "SELECT COUNT(*) AS c FROM ed_nat VERSION AS OF 0")
      .head.getLong(0) == 25L)
    // Name collisions refuse loudly (no silent overwrite).
    intercept[IllegalArgumentException] {
      LakeSql.sql(s2, s"IMPORT DATABASE '$exp'")
    }
  }

  test("a failed IMPORT DATABASE throws and leaves no table of the " +
      "import in the catalog") {
    val s1 = spark.newSession()
    Sql.open(s1, sfDir)
    val root = graft.util.Scratch.dir("expdb_fail_src")
    val exp = graft.util.Scratch.dir("expdb_fail_out")
    LakeSql.script(s1, s"""
      CREATE TABLE ef_nat USING deltalite LOCATION '$root/ef_nat'
        AS SELECT n_nationkey, n_name FROM nation;
      CREATE TABLE ef_reg USING iceberglite LOCATION '$root/ef_reg'
        AS SELECT r_regionkey, r_name FROM region;
      EXPORT DATABASE '$exp'""")
    // corrupt every data file of one exported table
    new java.io.File(s"$exp/ef_reg.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.write(f.toPath, "not parquet".getBytes)
      }
    val s2 = spark.newSession()
    intercept[Exception](LakeSql.sql(s2, s"IMPORT DATABASE '$exp'"))
    val left = LakeSql.sql(s2, "SELECT table_name FROM graft_tables")
      .collect().map(_.getString(0)).toSet
    assert(!left.contains("ef_nat") && !left.contains("ef_reg"), left)
    assert(!new java.io.File(s"$exp/imported/ef_nat").exists)
  }

  test("without a catalog dir the catalog stays session-only") {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val root = graft.util.Scratch.dir("catsess")
    val name = s"cust_sess_$tag"
    val s1 = spark.newSession()
    Sql.open(s1, sfDir)
    LakeSql.sql(s1, s"""CREATE TABLE $name USING deltalite
      LOCATION '$root/$name'
      AS SELECT * FROM customer WHERE c_custkey <= 50""")
    assert(LakeSql.sql(s1, s"SELECT COUNT(*) AS n FROM $name")
      .head.getLong(0) > 0)
    val s2 = spark.newSession()
    Sql.open(s2, sfDir)
    intercept[IllegalArgumentException] { LakeSql.table(s2, name) }
  }
}
