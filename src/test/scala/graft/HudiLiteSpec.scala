package graft

import org.apache.spark.sql.functions._
import graft.sources.HudiLite

/** File-group mechanics of the Hudi-style COW format: upserts rewrite
  * ONLY affected groups (new slices of the same fileId), untouched
  * groups survive by identity, pure inserts open fresh groups, and the
  * timeline serves both snapshot and as-of reads.
  */
class HudiLiteSpec extends SparkSpec {

  private def dataFiles(t: String): Set[String] =
    new java.io.File(t).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getName).toSet

  test("COW upsert rewrites only matched file groups; inserts open " +
      "fresh groups; time travel reads the pre-upsert state") {
    val t = s"${graft.util.Scratch.dir("hudispec")}/t"
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val base = c.filter(col("c_custkey") <= 100)
    val first = HudiLite.create(spark, t,
      base.repartition(4, col("c_custkey")), recordKey = "c_custkey")
    val filesV0 = dataFiles(t)
    assert(filesV0.size == 4, filesV0.toString)
    assert(HudiLite.snapshot(spark, t).count() == base.count())

    // Upsert touching a handful of keys + inserting new ones.
    HudiLite.upsert(spark, t,
      c.filter(col("c_custkey").isin(1, 2, 3))
        .withColumn("c_acctbal", lit(0.0))
        .unionByName(c.filter(col("c_custkey") > 100 &&
          col("c_custkey") <= 110)))
    val filesV1 = dataFiles(t)
    // Untouched groups survive by identity (their v0 slices are still
    // the live ones); only matched groups gained a new slice, plus one
    // fresh insert group.
    val touchedGroups = HudiLite.snapshot(spark, t)
      .filter(col("c_custkey").isin(1, 2, 3)).count()
    assert(touchedGroups == 3)
    val newFiles = filesV1 -- filesV0
    assert(newFiles.nonEmpty && newFiles.size < filesV0.size + 2,
      s"expected few new slices, got $newFiles")
    assert(filesV0.subsetOf(filesV1), "old slices must not be deleted")

    val snap = HudiLite.snapshot(spark, t)
    assert(snap.count() ==
      c.filter(col("c_custkey") <= 110).count())
    assert(snap.filter(col("c_custkey").isin(1, 2, 3))
      .agg(sum(col("c_acctbal"))).head.getDouble(0) == 0.0)
    // No duplicate keys after the upsert (record-key contract).
    assert(snap.groupBy(col("c_custkey")).count()
      .filter(col("count") > 1).count() == 0)

    // Time travel: the pre-upsert instant still reads v0.
    val v0 = HudiLite.snapshot(spark, t, asOf = first)
    assert(v0.count() == base.count())
    assert(v0.filter(col("c_custkey").isin(1, 2, 3))
      .agg(sum(col("c_acctbal"))).head.getDouble(0) != 0.0)
    // Unknown past instant refuses.
    intercept[IllegalArgumentException] {
      HudiLite.snapshot(spark, t, asOf = "0")
    }

    // Incremental query: exactly the records the upsert wrote —
    // untouched rows RETAIN their create-time stamp through the COW
    // rewrite, so they do NOT reappear in the incremental pull.
    val inc = HudiLite.incremental(spark, t, first)
    assert(inc.count() == 3 + 10, inc.count().toString) // 3 updates + 10 inserts
    assert(inc.filter(col("c_custkey").isin(1, 2, 3)).count() == 3)
    assert(inc.filter(col("c_custkey") > 100).count() == 10)
    // And the snapshot's untouched rows still carry the first instant.
    val metaSnap = HudiLite.snapshot(spark, t, keepMeta = true)
    assert(metaSnap.filter(col(HudiLite.MetaCommitTime) === first)
      .count() == base.count() - 3)
  }

  test("MOR upsert appends log files without touching base files; " +
      "snapshot merges, read-optimized view doesn't; compaction " +
      "retires logs and retains commit stamps") {
    val t = s"${graft.util.Scratch.dir("hudispec")}/mor"
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val base = c.filter(col("c_custkey") <= 100)
    val first = HudiLite.create(spark, t,
      base.repartition(4, col("c_custkey")), recordKey = "c_custkey",
      tableType = HudiLite.MergeOnRead)
    val (bases0, logs0) = HudiLite.currentFiles(spark, t)
    assert(bases0.size == 4 && logs0.isEmpty)

    // Upsert: 3 updates (log files onto existing groups) + 10 inserts
    // (a fresh base-file group).
    HudiLite.upsert(spark, t,
      c.filter(col("c_custkey").isin(1, 2, 3))
        .withColumn("c_acctbal", lit(0.0))
        .unionByName(c.filter(col("c_custkey") > 100 &&
          col("c_custkey") <= 110)))
    val (bases1, logs1) = HudiLite.currentFiles(spark, t)
    // ZERO base rewrites: every v0 base file is still live; the only
    // new bases belong to the insert group(s); updates live in logs.
    assert(bases0.toSet.subsetOf(bases1.toSet), "MOR rewrote a base file")
    assert(logs1.nonEmpty && logs1.forall(_.endsWith(".log.parquet")))
    assert(logs1.size <= 3, s"one log per affected group, got $logs1")

    // Snapshot (real-time view) merges: updated values visible, no
    // duplicate keys, full row count.
    val expected = base.count() + 10
    val snap = HudiLite.snapshot(spark, t)
    assert(snap.count() == expected)
    assert(snap.filter(col("c_custkey").isin(1, 2, 3))
      .agg(sum(col("c_acctbal"))).head.getDouble(0) == 0.0)
    assert(snap.groupBy(col("c_custkey")).count()
      .filter(col("count") > 1).count() == 0)
    // Read-optimized view: base files only — the fresh updates are
    // invisible (old values), inserts (base files) are visible.
    val ro = HudiLite.readOptimized(spark, t)
    assert(ro.count() == expected)
    assert(ro.filter(col("c_custkey").isin(1, 2, 3))
      .agg(sum(col("c_acctbal"))).head.getDouble(0) != 0.0)

    // Second update of key 1: later log wins at read time.
    HudiLite.upsert(spark, t,
      c.filter(col("c_custkey") === 1).withColumn("c_acctbal", lit(77.0)))
    assert(HudiLite.snapshot(spark, t).filter(col("c_custkey") === 1)
      .head.getAs[Double]("c_acctbal") == 77.0)

    // Time travel still serves the pre-upsert state.
    assert(HudiLite.snapshot(spark, t, asOf = first).count() == base.count())

    // Incremental query sees every written record exactly once at its
    // LATEST stamp (3 updates + 10 inserts; key 1 only once).
    val inc = HudiLite.incremental(spark, t, first)
    assert(inc.count() == 13, inc.count().toString)

    // Compaction folds logs into new base slices of the SAME groups,
    // only for log-bearing groups; the slice view retires the logs and
    // snapshot ≡ read-optimized afterwards.
    val ci = HudiLite.compact(spark, t)
    assert(ci.nonEmpty)
    val (bases2, logs2) = HudiLite.currentFiles(spark, t)
    assert(logs2.isEmpty, s"logs not retired: $logs2")
    assert(bases2.size == bases1.size, "compaction changed group count")
    val snap2 = HudiLite.snapshot(spark, t)
    val ro2 = HudiLite.readOptimized(spark, t)
    assert(snap2.exceptAll(ro2).isEmpty && ro2.exceptAll(snap2).isEmpty)
    assert(snap2.filter(col("c_custkey") === 1)
      .head.getAs[Double]("c_acctbal") == 77.0)
    // Commit stamps RETAINED through compaction: the incremental pull
    // is unchanged, and untouched rows still carry the first instant.
    assert(HudiLite.incremental(spark, t, first).count() == 13)
    assert(HudiLite.snapshot(spark, t, keepMeta = true)
      .filter(col(HudiLite.MetaCommitTime) === first)
      .count() == base.count() - 3)
    // Nothing left to compact.
    assert(HudiLite.compact(spark, t) == "")
  }

  test("writtenSlicesBetween feeds the MOR change-stream: log upserts " +
      "delivered, compaction invisible, appends-only mode still " +
      "refuses log commits") {
    val t = s"${graft.util.Scratch.dir("hudispec")}/mor_written"
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    HudiLite.create(spark, t, c.filter(col("c_custkey") <= 50),
      recordKey = "c_custkey", tableType = HudiLite.MergeOnRead)
    HudiLite.upsert(spark, t, // 2 updates (logs) + 5 inserts (base)
      c.filter(col("c_custkey").isin(1, 2))
        .withColumn("c_acctbal", lit(9.0))
        .unionByName(c.filter(col("c_custkey") > 50 &&
          col("c_custkey") <= 55)))
    HudiLite.compact(spark, t)
    val last = HudiLite.completedInstants(spark, t).last.toLong

    // Batch 1 = create's bases; batch 2 = the deltacommit's log +
    // insert files; the compaction instant yields NOTHING.
    val b1 = HudiLite.writtenSlicesBetween(spark, t, 0L, 1L)
    val b2 = HudiLite.writtenSlicesBetween(spark, t, 1L, 2L)
    val b3 = HudiLite.writtenSlicesBetween(spark, t, 2L, last)
    assert(b1.nonEmpty && b3.isEmpty)
    val written2 = spark.read.parquet(b2.map(_._2): _*)
    assert(written2.count() == 7)
    assert(written2.filter(col("c_custkey") <= 2 &&
      col("c_acctbal") === 9.0).count() == 2)

    // Full window = every written record: 51 creates (keys 0-50) + 7
    // from the deltacommit (updated keys re-emitted with new content).
    val all = HudiLite.writtenSlicesBetween(spark, t, 0L, last)
    assert(spark.read.parquet(all.map(_._2): _*).count() == 58)

    // The appends-only reader still refuses the log commit loudly.
    intercept[UnsupportedOperationException] {
      HudiLite.addedSlicesBetween(spark, t, 0L, last)
    }
  }

  test("MOR upsert and snapshot run a fixed number of jobs, whatever " +
      "the number of file groups") {
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val dir = graft.util.Scratch.dir("hudispec")
    def upsertJobs(groups: Int): (Int, Int) = {
      val t = s"$dir/jobs_$groups"
      HudiLite.create(spark, t, c.filter(col("c_custkey") <= 100)
        .repartition(groups, col("c_custkey")), recordKey = "c_custkey",
        tableType = HudiLite.MergeOnRead)
      assert(HudiLite.currentFiles(spark, t)._1.size == groups)
      val up = jobsOf(HudiLite.upsert(spark, t,
        c.filter(col("c_custkey").isin(1, 2, 3))
          .withColumn("c_acctbal", lit(5.0))))
      val read = jobsOf(assert(HudiLite.snapshot(spark, t).count() == 101))
      (up, read)
    }
    val (up3, read3) = upsertJobs(3)
    val (up12, read12) = upsertJobs(12)
    info(s"upsert: $up3 / $up12 jobs, snapshot: $read3 / $read12 jobs " +
      "(3 / 12 groups)")
    assert(up3 == up12, s"upsert: $up3 jobs on 3 groups, $up12 on 12")
    assert(read3 == read12, s"snapshot: $read3 jobs on 3 groups, $read12 on 12")
    assert(up3 < 6, s"upsert ran $up3 jobs")
    assert(read3 < 4, s"snapshot read ran $read3 jobs")
  }

  test("upsert refuses duplicate record keys on both table types and " +
      "commits nothing") { // keys 0-100: 101 rows
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val dup = c.filter(col("c_custkey") === 1)
    // key 1 twice (matched) and key 200 twice (new)
    val src = dup.unionByName(dup)
      .unionByName(dup.withColumn("c_custkey", col("c_custkey") + 199))
      .unionByName(dup.withColumn("c_custkey", col("c_custkey") + 199))
    Seq(HudiLite.CopyOnWrite, HudiLite.MergeOnRead).foreach { tt =>
      val t = s"${graft.util.Scratch.dir("hudispec")}/dup_$tt"
      HudiLite.create(spark, t, c.filter(col("c_custkey") <= 100),
        recordKey = "c_custkey", tableType = tt)
      val before = HudiLite.completedInstants(spark, t)
      val e = intercept[IllegalArgumentException] {
        HudiLite.upsert(spark, t, src)
      }
      assert(e.getMessage.contains("duplicate record keys"), e.getMessage)
      assert(HudiLite.completedInstants(spark, t) == before, tt)
      val snap = HudiLite.snapshot(spark, t)
      assert(snap.count() == 101, tt)
      assert(snap.filter(col("c_custkey") === 1).count() == 1, tt)
    }
  }
}
