package graft.sources

import org.apache.spark.sql.functions._

import graft.{LakeSql, SparkSpec, Tables}
import graft.util.Scratch

/** UPDATE … FROM and DELETE … USING through the SQL entry run as the
  * shared copy-on-write rewrite ([[LakeFormat.joinDml]]): only the
  * files holding a matched row are replaced, a statement matching
  * nothing commits nothing, and the hit-file cap applies. */
class JoinDmlSpec extends SparkSpec {

  private val formats: Seq[LakeFormat] = Seq(DeltaLite, IcebergLite)

  private lazy val customer = Tables.customer(spark, sfDir)

  /** A cataloged four-file table of customers, one key range per file;
    * returns its path. */
  private def fourFiles(f: LakeFormat, name: String): String = {
    val t = s"${Scratch.dir("joindml")}/$name"
    f.create(spark, t, customer.repartitionByRange(4, col("c_custkey")))
    LakeSql.register(spark, name, f.provider, t)
    assert(f.live(spark, t).files.size == 4)
    t
  }

  /** A source of the customer keys `keys`, aliased `s`. */
  private def keysSrc(keys: Long*): String =
    keys.map(k => s"SELECT CAST($k AS BIGINT) AS k")
      .mkString("(", " UNION ALL ", ") AS s")

  private def update(name: String, keys: Long*): String =
    s"""UPDATE $name SET c_acctbal = 0 FROM ${keysSrc(keys: _*)}
        WHERE $name.c_custkey = s.k"""

  private def delete(name: String, keys: Long*): String =
    s"DELETE FROM $name USING ${keysSrc(keys: _*)} WHERE $name.c_custkey = s.k"

  private def count(stmt: String): Long =
    LakeSql.sql(spark, stmt).head().getLong(0)

  test("a join UPDATE and a join DELETE whose matches sit in one file of " +
      "four replace that file only") {
    formats.foreach { f =>
      val name = s"jd_one_${f.provider}"
      val t = fourFiles(f, name)
      val rows = f.snapshot(spark, t).count()
      for ((stmt, left) <- Seq(update(name, 7L, 8L) -> rows,
          delete(name, 7L, 9L) -> (rows - 2))) {
        val before = f.live(spark, t).files
        assert(count(stmt) == 2L, s"${f.provider}: $stmt")
        val after = f.live(spark, t).files
        assert(after.size == 4 && before.intersect(after).size == 3,
          s"${f.provider}: ${before.mkString(", ")} -> ${after.mkString(", ")}")
        assert(f.snapshot(spark, t).count() == left, f.provider)
      }
      val snap = f.snapshot(spark, t)
      assert(snap.filter(col("c_custkey") === 8L)
        .select("c_acctbal").head().getDouble(0) == 0.0, f.provider)
      assert(snap.filter(col("c_custkey").isin(7L, 9L)).isEmpty, f.provider)
      LakeSql.sql(spark, s"DROP TABLE $name")
    }
  }

  test("a join UPDATE or DELETE matching nothing commits nothing") {
    formats.foreach { f =>
      val name = s"jd_none_${f.provider}"
      val t = fourFiles(f, name)
      val v0 = f.latestVersion(spark, t)
      assert(count(update(name, 100000L)) == 0L, f.provider)
      assert(count(delete(name, 100000L)) == 0L, f.provider)
      assert(f.latestVersion(spark, t) == v0, f.provider)
      LakeSql.sql(spark, s"DROP TABLE $name")
    }
  }

  test("join-DML clauses keep the dialect's operators: ^ is power, // " +
      "integer division") {
    formats.foreach { f =>
      val name = s"jd_ops_${f.provider}"
      val t = fourFiles(f, name)
      assert(count(s"""UPDATE $name SET c_acctbal = s.k ^ 2
        FROM ${keysSrc(6L, 8L)} WHERE $name.c_custkey // 2 = s.k // 2""") ==
        4L, f.provider)
      val got = f.snapshot(spark, t).filter(col("c_custkey").between(6L, 9L))
        .select("c_custkey", "c_acctbal").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got == Map(6L -> 36.0, 7L -> 36.0, 8L -> 64.0, 9L -> 64.0),
        s"${f.provider}: $got")
      LakeSql.sql(spark, s"DROP TABLE $name")
    }
  }

  test("subqueries in join-DML clauses read lake tables at their " +
      "current snapshot and order NULLs last; struct_pack rewrites") {
    formats.foreach { f =>
      val name = s"jd_sub_${f.provider}"
      val t = fourFiles(f, name)
      val u = s"jd_sub_u_${f.provider}"
      val up = s"${Scratch.dir("joindml")}/$u"
      f.create(spark, up, spark.range(2, 4).select(col("id").as("o"),
        (col("id") * 10).cast("double").as("x")))
      LakeSql.register(spark, u, f.provider, up)
      // a read leaves a view of this snapshot behind; then u changes
      assert(LakeSql.sql(spark, s"SELECT * FROM $u").count() == 2L)
      LakeSql.sql(spark, s"INSERT INTO $u VALUES (NULL, 99.0), (1, 10.0)")
      assert(count(s"""UPDATE $name SET c_acctbal =
          (SELECT x FROM $u ORDER BY o LIMIT 1)
        FROM ${keysSrc(5L)} WHERE $name.c_custkey = s.k""") == 1L,
        f.provider)
      assert(count(s"""DELETE FROM $name USING ${keysSrc(1L, 2L, 3L, 4L)}
        WHERE $name.c_custkey = s.k AND s.k IN (SELECT $u.o FROM $u)""") ==
        3L, f.provider)
      assert(count(s"""UPDATE $name SET c_acctbal =
          struct_pack(a := s.k * 2).a
        FROM ${keysSrc(6L)} WHERE $name.c_custkey = s.k""") == 1L,
        f.provider)
      val got = f.snapshot(spark, t).filter(col("c_custkey").between(1L, 6L))
        .select("c_custkey", "c_acctbal").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.keySet == Set(4L, 5L, 6L) && got(5L) == 10.0 &&
        got(6L) == 12.0, s"${f.provider}: $got")
      LakeSql.sql(spark, s"DROP TABLE $u")
      LakeSql.sql(spark, s"DROP TABLE $name")
    }
  }

  test("a join-DML clause subquery binds an attached catalog's table") {
    val name = "jd_att"
    val t = fourFiles(DeltaLite, name)
    LakeSql.sql(spark, s"ATTACH '${Scratch.dir("joindml_att")}' AS jda")
    try {
      LakeSql.sql(spark, """CREATE TABLE jda.m USING deltalite
        AS SELECT CAST(42.0 AS DOUBLE) AS x""")
      assert(count(s"""UPDATE $name SET c_acctbal = (SELECT x FROM jda.m)
        FROM ${keysSrc(5L)} WHERE $name.c_custkey = s.k""") == 1L)
      assert(DeltaLite.snapshot(spark, t).filter(col("c_custkey") === 5L)
        .select("c_acctbal").head().getDouble(0) == 42.0)
    } finally LakeSql.sql(spark, "DETACH jda")
    LakeSql.sql(spark, s"DROP TABLE $name")
  }

  test("spark.graft.maxHitFiles caps the join-DML probe") {
    formats.foreach { f =>
      val name = s"jd_cap_${f.provider}"
      val t = fourFiles(f, name)
      val v0 = f.latestVersion(spark, t)
      spark.conf.set("spark.graft.maxHitFiles", "1")
      try for (stmt <- Seq(update(name, 0L, 149L), delete(name, 0L, 149L))) {
        val e = intercept[IllegalArgumentException](LakeSql.sql(spark, stmt))
        assert(e.getMessage.contains("predicate matches more than 1 data " +
          "files"), s"${f.provider}: ${e.getMessage}")
      } finally spark.conf.unset("spark.graft.maxHitFiles")
      assert(f.latestVersion(spark, t) == v0, f.provider)
      LakeSql.sql(spark, s"DROP TABLE $name")
    }
  }
}
