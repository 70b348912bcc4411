package graft

import org.apache.spark.sql.functions._
import graft.sources.{DeltaLite, IcebergLite}
import graft.util.Scratch

/** Multi-writer conflict detection on DML commits, both formats.
  *
  * The anomaly being excluded is the LOST UPDATE: writer A reads the
  * table state, writer B commits, and A then publishes a commit built
  * from the pre-B state — silently discarding B's change. Each
  * format's commit claims exactly the version AFTER the state it was
  * built from (Delta: the atomic commit-file claim; Iceberg: the
  * readVersion+1 metadata claim, round 15), so the stale writer fails
  * LOUDLY and must re-run on the fresh snapshot. Appends auto-retry
  * (appendWithRetry — an append invalidates nobody's read set);
  * merge/delete/update deliberately do not.
  *
  * The interleave is deterministic: each format exposes a test seam
  * that runs between an operation's read and its commit, where the
  * spec lands a competing commit.
  */
class ConflictSpec extends SparkSpec {

  private val noop: () => Unit = () => ()

  test("delta: a merge built from a stale snapshot fails loudly when " +
      "a concurrent append lands first; nothing is lost; the re-run " +
      "applies both changes") {
    val t = s"${graft.util.Scratch.dir("conflictspec")}/d1"
    import spark.implicits._
    DeltaLite.create(spark, t,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val competitor = Seq((10L, "x")).toDF("k", "v")
    val source = Seq((2L, "B"), (3L, "c")).toDF("k", "v")
    DeltaLite.interleaveForTest = () => {
      DeltaLite.interleaveForTest = noop
      DeltaLite.append(spark, t, competitor)
    }
    try {
      val e = intercept[java.io.IOException](
        DeltaLite.merge(spark, t, source, Seq("k")))
      assert(e.getMessage.contains("commit race lost"), e.getMessage)
    } finally DeltaLite.interleaveForTest = noop
    // the competitor's append is intact — no lost update
    val afterRace = DeltaLite.snapshot(spark, t).as[(Long, String)]
      .collect().toMap
    assert(afterRace == Map(1L -> "a", 2L -> "b", 10L -> "x"))
    // re-run on the fresh snapshot applies the merge too
    DeltaLite.merge(spark, t, source, Seq("k"))
    val fin = DeltaLite.snapshot(spark, t).as[(Long, String)]
      .collect().toMap
    assert(fin == Map(1L -> "a", 2L -> "B", 3L -> "c", 10L -> "x"))
  }

  test("delta: deleteWhere and updateWhere built from a stale " +
      "snapshot also fail loudly") {
    import spark.implicits._
    for ((name, op) <- Seq[(String, String => Unit)](
        "delete" -> (t => DeltaLite.deleteWhere(spark, t, col("k") === 1L)),
        "update" -> (t => DeltaLite.updateWhere(spark, t,
          col("k") === 2L, Map("v" -> lit("Z")))))) {
      val t = s"${graft.util.Scratch.dir("conflictspec")}/d_$name"
      DeltaLite.create(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
      DeltaLite.interleaveForTest = () => {
        DeltaLite.interleaveForTest = noop
        DeltaLite.append(spark, t, Seq((20L, "y")).toDF("k", "v"))
      }
      try {
        val e = intercept[java.io.IOException](op(t))
        assert(e.getMessage.contains("commit race lost"), s"$name: ${e.getMessage}")
      } finally DeltaLite.interleaveForTest = noop
      assert(DeltaLite.snapshot(spark, t).count() == 3) // append intact
    }
  }

  /** An UPDATE … FROM and a DELETE … USING of the table `t` names. */
  private val joinDml = Seq[(String, String => String)](
    "update" -> (t => s"""UPDATE $t SET v = s.v
      FROM (SELECT CAST(2 AS BIGINT) AS k, 'Z' AS v) AS s WHERE $t.k = s.k"""),
    "delete" -> (t => s"""DELETE FROM $t
      USING (SELECT CAST(1 AS BIGINT) AS k) AS s WHERE $t.k = s.k"""))

  test("delta: UPDATE … FROM and DELETE … USING built from a stale " +
      "snapshot also fail loudly") {
    import spark.implicits._
    for ((name, stmt) <- joinDml) {
      val t = s"${Scratch.dir("conflictspec")}/dj_$name"
      DeltaLite.create(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
      LakeSql.register(spark, s"conflict_dj_$name", DeltaLite.provider, t)
      DeltaLite.interleaveForTest = () => {
        DeltaLite.interleaveForTest = noop
        DeltaLite.append(spark, t, Seq((20L, "y")).toDF("k", "v"))
      }
      try {
        val e = intercept[java.io.IOException](
          LakeSql.sql(spark, stmt(s"conflict_dj_$name")))
        assert(e.getMessage.contains("commit race lost"), s"$name: ${e.getMessage}")
      } finally DeltaLite.interleaveForTest = noop
      assert(DeltaLite.snapshot(spark, t).as[(Long, String)].collect()
        .toMap == Map(1L -> "a", 2L -> "b", 20L -> "y"), name)
      LakeSql.sql(spark, s"DROP TABLE conflict_dj_$name")
    }
  }

  test("delta: appendWithRetry absorbs the same interleave (blind " +
      "retry is append-safe) and both appends land") {
    import spark.implicits._
    val t = s"${graft.util.Scratch.dir("conflictspec")}/d_retry"
    DeltaLite.create(spark, t, Seq((1L, "a")).toDF("k", "v"))
    DeltaLite.interleaveForTest = () => {
      DeltaLite.interleaveForTest = noop
      DeltaLite.append(spark, t, Seq((2L, "b")).toDF("k", "v"))
    }
    try DeltaLite.appendWithRetry(spark, t, Seq((3L, "c")).toDF("k", "v"))
    finally DeltaLite.interleaveForTest = noop
    assert(DeltaLite.snapshot(spark, t).count() == 3)
  }

  test("iceberg: a merge built from a stale snapshot fails loudly " +
      "(ConcurrentModificationException) when a concurrent append " +
      "lands first; nothing is lost; the re-run applies both changes") {
    val t = s"${graft.util.Scratch.dir("conflictspec")}/i1"
    import spark.implicits._
    IcebergLite.create(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val source = Seq((2L, "B"), (3L, "c")).toDF("k", "v")
    IcebergLite.interleaveForTest = () => {
      IcebergLite.interleaveForTest = noop
      IcebergLite.append(spark, t, Seq((10L, "x")).toDF("k", "v"))
    }
    try {
      val e = intercept[java.util.ConcurrentModificationException](
        IcebergLite.merge(spark, t, source, Seq("k")))
      assert(e.getMessage.contains("fresh snapshot"), e.getMessage)
    } finally IcebergLite.interleaveForTest = noop
    // the competitor's append is intact — the OLD behavior would have
    // published a post-merge metadata file that silently dropped it
    val afterRace = IcebergLite.snapshot(spark, t).as[(Long, String)]
      .collect().toMap
    assert(afterRace == Map(1L -> "a", 2L -> "b", 10L -> "x"))
    IcebergLite.merge(spark, t, source, Seq("k"))
    val fin = IcebergLite.snapshot(spark, t).as[(Long, String)]
      .collect().toMap
    assert(fin == Map(1L -> "a", 2L -> "B", 3L -> "c", 10L -> "x"))
  }

  test("iceberg: deleteWhere built from a stale snapshot fails " +
      "loudly; the competitor's rows survive") {
    import spark.implicits._
    // updateWhere, the shared copy-on-write rewrite, fails the same way
    for ((name, op) <- Seq[(String, String => Unit)](
        "del" -> (t => IcebergLite.deleteWhere(spark, t, col("k") === 1L)),
        "update" -> (t => IcebergLite.updateWhere(spark, t,
          col("k") === 2L, Map("v" -> lit("Z")))))) {
      val t = s"${graft.util.Scratch.dir("conflictspec")}/i_$name"
      IcebergLite.create(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
      IcebergLite.interleaveForTest = () => {
        IcebergLite.interleaveForTest = noop
        IcebergLite.append(spark, t, Seq((20L, "y")).toDF("k", "v"))
      }
      try {
        intercept[java.util.ConcurrentModificationException](op(t))
      } finally IcebergLite.interleaveForTest = noop
      assert(IcebergLite.snapshot(spark, t).as[(Long, String)].collect()
        .toMap == Map(1L -> "a", 2L -> "b", 20L -> "y"), name)
    }
  }

  test("iceberg: UPDATE … FROM and DELETE … USING built from a stale " +
      "snapshot also fail loudly") {
    import spark.implicits._
    for ((name, stmt) <- joinDml) {
      val t = s"${Scratch.dir("conflictspec")}/ij_$name"
      IcebergLite.create(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
      LakeSql.register(spark, s"conflict_ij_$name", IcebergLite.provider, t)
      IcebergLite.interleaveForTest = () => {
        IcebergLite.interleaveForTest = noop
        IcebergLite.append(spark, t, Seq((20L, "y")).toDF("k", "v"))
      }
      try {
        val e = intercept[java.util.ConcurrentModificationException](
          LakeSql.sql(spark, stmt(s"conflict_ij_$name")))
        assert(e.getMessage.contains("stale snapshot"), s"$name: ${e.getMessage}")
      } finally IcebergLite.interleaveForTest = noop
      assert(IcebergLite.snapshot(spark, t).as[(Long, String)].collect()
        .toMap == Map(1L -> "a", 2L -> "b", 20L -> "y"), name)
      LakeSql.sql(spark, s"DROP TABLE conflict_ij_$name")
    }
  }
}
