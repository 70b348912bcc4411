package graft

import org.apache.spark.sql.functions._
import graft.sources.DeltaLite
import graft.util.Scratch

class DeltaLiteSpec extends SparkSpec {

  private def freshTable(): String = s"${Scratch.dir("deltaspec")}/t"

  test("create/append/snapshot round-trips exactly") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    DeltaLite.create(spark, t, c.filter(col("c_custkey") <= 40))
    DeltaLite.append(spark, t, c.filter(col("c_custkey") > 40))
    assert(DeltaLite.latestVersion(spark, t) == 1L)
    val got = DeltaLite.snapshot(spark, t)
      .orderBy(col("c_custkey")).collect().toSeq
    val want = c.orderBy(col("c_custkey")).collect().toSeq
    assert(got == want)
  }

  test("deleteWhere rewrites ONLY files containing matches") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    // Two disjoint files: custkey ranges never share a mktsegment row
    // pattern, so deleting from one range must leave the other file
    // untouched in the log.
    DeltaLite.create(spark, t,
      c.filter(col("c_custkey") <= 40).coalesce(1))
    DeltaLite.append(spark, t,
      c.filter(col("c_custkey") > 40).coalesce(1))
    DeltaLite.deleteWhere(spark, t, col("c_custkey") === 1)
    // Snapshot semantics: exactly one row gone.
    val got = DeltaLite.snapshot(spark, t)
      .orderBy(col("c_custkey")).collect().toSeq
    val want = c.filter(col("c_custkey") =!= 1)
      .orderBy(col("c_custkey")).collect().toSeq
    assert(got == want)
    // Copy-on-write selectivity: the v2 commit removed exactly ONE file
    // (the one holding custkey 1) — the other survives unrewritten.
    val log = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t, "_delta_log",
        "00000000000000000002.json")), "UTF-8")
    assert(log.linesIterator.count(_.contains("\"remove\"")) == 1)
  }

  test("restore moves the log FORWARD to a past state; pre-restore " +
      "versions stay time-travelable; vacuumed targets fail loudly") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    DeltaLite.create(spark, t, c.filter(col("c_custkey") <= 40)) // v0
    DeltaLite.deleteWhere(spark, t, col("c_custkey") <= 10)      // v1
    DeltaLite.restore(spark, t, 0L)                              // v2
    assert(DeltaLite.latestVersion(spark, t) == 2L)
    // Current state == v0 state, and v1 still reads as the deleted view.
    assert(DeltaLite.snapshot(spark, t).count() ==
      c.filter(col("c_custkey") <= 40).count())
    assert(DeltaLite.snapshot(spark, t, version = 1L).count() ==
      c.filter(col("c_custkey") > 10 && col("c_custkey") <= 40).count())
    // Restore-to-current is a no-op commit-wise.
    DeltaLite.restore(spark, t, 2L)
    assert(DeltaLite.latestVersion(spark, t) == 2L)
    // Vacuum away the v1 rewrites, then restoring to v1 must fail
    // (its files are gone), while the live v2 state stays readable.
    DeltaLite.vacuum(spark, t, retainVersions = 1)
    intercept[IllegalArgumentException] {
      DeltaLite.restore(spark, t, 1L)
    }
    assert(DeltaLite.snapshot(spark, t).count() ==
      c.filter(col("c_custkey") <= 40).count())
  }

  test("shallow clone copies no data files; clone DML leaves the " +
      "source untouched") {
    val t = freshTable()
    val dst = s"${Scratch.dir("deltaspec")}/clone"
    val c = Tables.customer(spark, sfDir)
    DeltaLite.create(spark, t, c.filter(col("c_custkey") <= 60))
    DeltaLite.cloneShallow(spark, t, dst)
    // Zero-copy: the clone dir holds a log and nothing else.
    val cloneFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(dst))
      .iterator()
    var dataFiles = 0
    while (cloneFiles.hasNext) {
      val p = cloneFiles.next().toString
      if (p.endsWith(".parquet") && !p.contains("_delta_log")) dataFiles += 1
    }
    assert(dataFiles == 0, "shallow clone must not copy data files")
    // Clone reads the source's rows; divergent DML only touches dst.
    assert(DeltaLite.snapshot(spark, dst).count() ==
      c.filter(col("c_custkey") <= 60).count())
    DeltaLite.deleteWhere(spark, dst, col("c_custkey") <= 30)
    assert(DeltaLite.snapshot(spark, dst).count() ==
      c.filter(col("c_custkey") > 30 && col("c_custkey") <= 60).count())
    assert(DeltaLite.snapshot(spark, t).count() ==
      c.filter(col("c_custkey") <= 60).count())
  }

  test("time travel reads a past version; later commits invisible") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    DeltaLite.create(spark, t, c.filter(col("c_custkey") <= 40))
    DeltaLite.deleteWhere(spark, t, col("c_custkey") <= 10)
    val v0 = DeltaLite.snapshot(spark, t, version = 0L).count()
    val v1 = DeltaLite.snapshot(spark, t).count()
    assert(v0 == c.filter(col("c_custkey") <= 40).count())
    assert(v1 == c.filter(col("c_custkey") > 10 && col("c_custkey") <= 40)
      .count())
  }

  test("merge updates matched rows, inserts unmatched, leaves " +
      "untouched files alone") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    DeltaLite.create(spark, t, c.filter(col("c_custkey") <= 20).coalesce(1))
    DeltaLite.append(spark, t,
      c.filter(col("c_custkey") > 20 && col("c_custkey") <= 40).coalesce(1))
    // Source: update key 1 (double balance), insert key 1000000.
    val source = c.filter(col("c_custkey") === 1)
      .withColumn("c_acctbal", col("c_acctbal") * 2)
      .unionByName(c.filter(col("c_custkey") === 1)
        .withColumn("c_custkey", lit(1000000L)))
    DeltaLite.merge(spark, t, source, Seq("c_custkey"))
    val got = DeltaLite.snapshot(spark, t)
    assert(got.count() == c.filter(col("c_custkey") <= 40).count() + 1)
    val origBal = c.filter(col("c_custkey") === 1)
      .head().getAs[Double]("c_acctbal")
    assert(got.filter(col("c_custkey") === 1)
      .head().getAs[Double]("c_acctbal") == origBal * 2)
    assert(got.filter(col("c_custkey") === 1000000L).count() == 1)
    // Only the file containing key 1 was rewritten: one remove action.
    val log = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t, "_delta_log",
        "00000000000000000002.json")), "UTF-8")
    assert(log.linesIterator.count(_.contains("\"remove\"")) == 1)
  }

  test("compact bin-packs files without changing content") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    DeltaLite.create(spark, t, c.repartition(6))
    val before = DeltaLite.snapshot(spark, t)
      .orderBy(col("c_custkey")).collect().toSeq
    DeltaLite.compact(spark, t, targetFiles = 1)
    val after = DeltaLite.snapshot(spark, t)
      .orderBy(col("c_custkey")).collect().toSeq
    assert(after == before)
    assert(DeltaLite.pruneInfo(spark, t, lit(true))._2 == 1) // 6 → 1 file
    // Content is unchanged, so every add and remove of the OPTIMIZE
    // commit carries dataChange = false, and history names it.
    val log = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t, "_delta_log",
        "00000000000000000001.json")), "UTF-8")
    val actions = log.linesIterator
      .filter(l => l.startsWith("{\"add\"") || l.startsWith("{\"remove\""))
      .toSeq
    assert(actions.count(_.startsWith("{\"add\"")) == 1 &&
      actions.count(_.startsWith("{\"remove\"")) == 6, log)
    assert(actions.forall(_.contains("\"dataChange\":false")), log)
    assert(DeltaLite.history(spark, t).filter(col("version") === 1L)
      .select(col("operation")).head().getString(0) == "OPTIMIZE")
  }

  test("OPTIMIZE compacts a CHECK-constrained table without re-running " +
      "its CHECKs: content only moves") {
    val c = Tables.customer(spark, sfDir)
    def table(): String = {
      val t = freshTable()
      DeltaLite.create(spark, t, c.repartition(4))
      t
    }
    val (plain, checked) = (table(), table())
    DeltaLite.addCheckConstraint(spark, checked, "balanced",
      "c_acctbal > -1000")
    val plainJobs = jobsOf(DeltaLite.compact(spark, plain, targetFiles = 1))
    val checkedJobs =
      jobsOf(DeltaLite.compact(spark, checked, targetFiles = 1))
    assert(checkedJobs == plainJobs, s"$checkedJobs vs $plainJobs jobs")
    assert(DeltaLite.pruneInfo(spark, checked, lit(true))._2 == 1)
    assert(DeltaLite.snapshot(spark, checked).orderBy(col("c_custkey"))
      .collect().toSeq == c.orderBy(col("c_custkey")).collect().toSeq)
    assert(DeltaLite.checkConstraints(spark, checked).map(_._1) ==
      Seq("balanced"))
  }

  test("a write that fails in its Spark job leaves no staging " +
      "directory behind and the table at its previous version") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    DeltaLite.create(spark, t, c.filter(col("c_custkey") <= 40))
    intercept[Exception] {
      DeltaLite.append(spark, t, DeltaLite.snapshot(spark, t)
        .filter(assert_true(col("c_custkey") < 5).isNull))
    }
    val root = new java.io.File(t).list().toSeq
    assert(!root.exists(_.startsWith("_stage_")), root.toString)
    assert(DeltaLite.latestVersion(spark, t) == 0L)
    assert(DeltaLite.snapshot(spark, t).count() ==
      c.filter(col("c_custkey") <= 40).count())
  }

  test("stats-based data skipping prunes non-overlapping files and " +
      "stays exact") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    DeltaLite.create(spark, t, c.repartitionByRange(4, col("c_custkey")))
    val pred = col("c_custkey") >= 10 && col("c_custkey") <= 20
    val (kept, total) = DeltaLite.pruneInfo(spark, t, pred)
    assert(total == 4 && kept < total,
      s"expected pruning: kept=$kept total=$total")
    val got = DeltaLite.scan(spark, t, pred)
      .orderBy(col("c_custkey")).collect().toSeq
    val want = c.filter(pred).orderBy(col("c_custkey")).collect().toSeq
    assert(got == want)
    // String-column stats prune too (segment names don't overlap
    // an impossible literal), and an un-prunable predicate keeps all.
    assert(DeltaLite.pruneInfo(spark, t,
      col("c_mktsegment") === "ZZZ_NO_SUCH")._1 == 0)
    assert(DeltaLite.pruneInfo(spark, t,
      col("c_name").contains("x"))._1 == total)
  }

  test("two writers racing appendWithRetry both land; content is the " +
      "union") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    DeltaLite.create(spark, t, c.filter(col("c_custkey") <= 10))
    val lo = c.filter(col("c_custkey") > 10 && col("c_custkey") <= 20)
    val hi = c.filter(col("c_custkey") > 20 && col("c_custkey") <= 30)
    val latch = new java.util.concurrent.CountDownLatch(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fs = Seq(lo, hi).map { df =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long = {
            latch.countDown()
            latch.await() // maximize commit-race likelihood
            DeltaLite.appendWithRetry(spark, t, df)
          }
        })
      }
      val versions = fs.map(_.get()).sorted
      assert(versions == Seq(1L, 2L)) // both landed, distinct versions
    } finally pool.shutdown()
    val got = DeltaLite.snapshot(spark, t)
      .orderBy(col("c_custkey")).collect().toSeq
    val want = c.filter(col("c_custkey") <= 30)
      .orderBy(col("c_custkey")).collect().toSeq
    assert(got == want)
  }

  test("appendEvolved widens the schema; drops and retypes are rejected") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    DeltaLite.create(spark, t,
      c.filter(col("c_custkey") <= 20).select(col("c_custkey"), col("c_name")))
    DeltaLite.appendEvolved(spark, t,
      c.filter(col("c_custkey") > 20 && col("c_custkey") <= 40)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")))
    val snap = DeltaLite.snapshot(spark, t)
    assert(snap.schema.fieldNames.toSeq ==
      Seq("c_custkey", "c_name", "c_acctbal"))
    // Pre-evolution rows surface NULL for the added column.
    assert(snap.filter(col("c_custkey") <= 20 && col("c_acctbal").isNull)
      .count() == c.filter(col("c_custkey") <= 20).count())
    intercept[IllegalArgumentException] { // drop
      DeltaLite.appendEvolved(spark, t,
        c.limit(1).select(col("c_custkey"), col("c_name")))
    }
    intercept[IllegalArgumentException] { // retype
      DeltaLite.appendEvolved(spark, t,
        c.limit(1).select(col("c_custkey"), col("c_name"),
          col("c_acctbal").cast("string").as("c_acctbal")))
    }
  }

  test("log checkpoint: replay works from the checkpoint alone after " +
      "pre-checkpoint commits age out; later commits replay on top") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    DeltaLite.create(spark, t, c.filter(col("c_custkey") <= 10))
    (1 to 4).foreach { i =>
      DeltaLite.append(spark, t,
        c.filter(col("c_custkey") > i * 10 && col("c_custkey") <= (i + 1) * 10))
    }
    DeltaLite.deleteWhere(spark, t, col("c_custkey") === 7)
    val ckptV = DeltaLite.writeLogCheckpoint(spark, t)
    assert(ckptV == 5L)
    // Age out every JSON commit at or before the checkpoint — the
    // protocol's log-retention move. Replay must not need them.
    (0L to ckptV).foreach { v =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(
        t, "_delta_log", f"$v%020d.json"))
    }
    DeltaLite.append(spark, t,
      c.filter(col("c_custkey") > 50 && col("c_custkey") <= 60))
    val got = DeltaLite.snapshot(spark, t)
      .orderBy(col("c_custkey")).collect().toSeq
    val want = c.filter(col("c_custkey") <= 60 && col("c_custkey") =!= 7)
      .orderBy(col("c_custkey")).collect().toSeq
    assert(got == want)
    // Stats survived the checkpoint round trip: pruning still works.
    assert(DeltaLite.pruneInfo(spark, t,
      col("c_custkey") === -1)._1 == 0)
  }

  test("the log checkpoint speaks the Delta protocol's schema: nested " +
      "action structs, one action per row, _last_checkpoint version+size") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    DeltaLite.create(spark, t, c.repartition(3, col("c_name")))
    // A DV delete first, so the checkpoint must carry the deletionVector
    // descriptor and raise the protocol to (3,7) per the spec.
    DeltaLite.deleteWhereDV(spark, t, col("c_custkey") % 11 === 0)
    val ckptV = DeltaLite.writeLogCheckpoint(spark, t)
    val ck = spark.read.parquet(
      s"$t/_delta_log/" + f"$ckptV%020d.checkpoint.parquet")
    assert(ck.columns.sorted.toSeq ==
      Seq("add", "metaData", "protocol", "txn"), ck.columns.toSeq)
    // Exactly one action per row.
    val perRow = ck.select(
      (when(col("protocol").isNotNull, 1).otherwise(0) +
        when(col("metaData").isNotNull, 1).otherwise(0) +
        when(col("add").isNotNull, 1).otherwise(0) +
        when(col("txn").isNotNull, 1).otherwise(0)).as("n"))
      .distinct().collect().map(_.getInt(0)).toSeq
    assert(perRow == Seq(1), perRow)
    // Protocol says DV-aware (3,7); metaData names the parquet format;
    // adds carry real sizes, dataChange=false, and DV descriptors.
    val proto = ck.filter(col("protocol").isNotNull)
      .select(col("protocol.minReaderVersion"),
        col("protocol.minWriterVersion")).head()
    assert(proto.getInt(0) == 3 && proto.getInt(1) == 7)
    assert(ck.filter(col("metaData").isNotNull)
      .select(col("metaData.format.provider")).head().getString(0)
      == "parquet")
    val adds = ck.filter(col("add").isNotNull)
    assert(adds.count() == 3)
    assert(adds.filter(col("add.size") <= 0 || col("add.dataChange"))
      .count() == 0)
    assert(adds.filter(col("add.deletionVector").isNotNull &&
      col("add.deletionVector.cardinality") > 0).count() > 0)
    // _last_checkpoint: {"version", "size" = action row count}.
    val lc = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        t, "_delta_log", "_last_checkpoint")), "UTF-8"))
    assert(lc.get("version").asLong() == ckptV)
    assert(lc.get("size").asLong() == ck.count())
  }

  test("commit creation is exclusive — a version conflict fails clean") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir).limit(5)
    DeltaLite.create(spark, t, c)
    intercept[Exception] {
      DeltaLite.create(spark, t, c) // version 0 already exists
    }
  }

  test("partitioned table: snapshot round-trips, partition pruning " +
      "skips non-matching partitions' files entirely") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    DeltaLite.create(spark, t, c, partitionColumns = Seq("c_mktsegment"))
    // Round trip: partition values come back from the dir layout/log.
    val got = DeltaLite.snapshot(spark, t)
    assert(got.schema.fieldNames.toSeq == c.schema.fieldNames.toSeq)
    assert(got.orderBy(col("c_custkey")).collect().toSeq ==
      c.orderBy(col("c_custkey")).collect().toSeq)
    // Partition pruning: a one-segment predicate keeps ONLY that
    // partition's files — never listed, never opened.
    val segs = c.select(col("c_mktsegment")).distinct().collect()
      .map(_.getString(0)).sorted
    assert(segs.length >= 2, "need multiple partitions for the test")
    val (kept, total) = DeltaLite.pruneInfo(spark, t,
      col("c_mktsegment") === segs.head)
    assert(kept < total && kept > 0, s"kept=$kept total=$total")
    // The scan over the pruned set is still exact.
    val want = c.filter(col("c_mktsegment") === segs.head)
      .orderBy(col("c_custkey")).collect().toSeq
    assert(DeltaLite.scan(spark, t, col("c_mktsegment") === segs.head)
      .orderBy(col("c_custkey")).collect().toSeq == want)
    // Hive layout: the partition column is NOT in the data files.
    val aFile = java.nio.file.Files.walk(java.nio.file.Paths.get(t))
      .filter(p => p.toString.endsWith(".parquet") &&
        p.toString.contains("c_mktsegment="))
      .findFirst().get()
    assert(!spark.read.parquet(aFile.toString)
      .schema.fieldNames.contains("c_mktsegment"))
  }

  test("partitioned deleteWhere on a partition predicate rewrites only " +
      "that partition") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    DeltaLite.create(spark, t, c, partitionColumns = Seq("c_mktsegment"))
    val before = DeltaLite.pruneInfo(spark, t, lit(true))._2
    val perPart = DeltaLite.pruneInfo(spark, t,
      col("c_mktsegment") === "BUILDING")._1
    DeltaLite.deleteWhere(spark, t,
      col("c_mktsegment") === "BUILDING" && col("c_custkey") <= 100)
    val log = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t, "_delta_log",
        "00000000000000000001.json")), "UTF-8")
    // Only BUILDING's files were candidates, so at most that many
    // removes — other partitions' files untouched.
    assert(log.linesIterator.count(_.contains("\"remove\"")) <= perPart)
    assert(perPart < before)
    val got = DeltaLite.snapshot(spark, t)
      .orderBy(col("c_custkey")).collect().toSeq
    val want = c.filter(!(col("c_mktsegment") === "BUILDING" &&
        col("c_custkey") <= 100))
      .orderBy(col("c_custkey")).collect().toSeq
    assert(got == want)
  }

  test("appendOnce is idempotent per (appId, version) — a replayed " +
      "batch is a no-op") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    DeltaLite.create(spark, t, c.filter(col("c_custkey") <= 10),
      txn = Some(("app1", 0L)))
    assert(DeltaLite.appendOnce(spark, t,
      c.filter(col("c_custkey") > 10 && col("c_custkey") <= 20), "app1", 1L))
    // Crash-replay of batch 1: skipped, no duplicate rows.
    assert(!DeltaLite.appendOnce(spark, t,
      c.filter(col("c_custkey") > 10 && col("c_custkey") <= 20), "app1", 1L))
    // Replay of the CREATING batch (0) is also a no-op.
    assert(!DeltaLite.appendOnce(spark, t,
      c.filter(col("c_custkey") <= 10), "app1", 0L))
    assert(DeltaLite.snapshot(spark, t).count() ==
      c.filter(col("c_custkey") <= 20).count())
    // A different app's version line is independent.
    assert(DeltaLite.appendOnce(spark, t,
      c.filter(col("c_custkey") > 20 && col("c_custkey") <= 25), "app2", 0L))
    // txn marks survive a log checkpoint.
    DeltaLite.writeLogCheckpoint(spark, t)
    assert(!DeltaLite.appendOnce(spark, t,
      c.filter(col("c_custkey") <= 10), "app1", 1L))
  }

  test("stats comparison is exact above 2^53 — no double-rounding prune") {
    val t = freshTable()
    import spark.implicits._
    // 2^53 = 9007199254740992; 2^53 + 1 rounds DOWN to it as a double,
    // so a double-based compare would prune the file for pred > 2^53.
    val big = 9007199254740993L // 2^53 + 1
    DeltaLite.create(spark, t, Seq(big).toDF("k").coalesce(1))
    assert(DeltaLite.pruneInfo(spark, t, col("k") > 9007199254740992L)._1 == 1)
    assert(DeltaLite.scan(spark, t, col("k") > 9007199254740992L)
      .collect().map(_.getLong(0)).toSeq == Seq(big))
    // And the bound still prunes when it truly excludes the file.
    assert(DeltaLite.pruneInfo(spark, t, col("k") > big)._1 == 0)
  }

  test("generated columns: computed when omitted, refused when wrong, " +
      "and the source-range scan prunes the derived partitions") {
    val t = s"${graft.util.Scratch.dir("deltagen")}/t"
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    DeltaLite.createWithGenerated(spark, t,
      o.filter(col("o_orderkey") % 2 === 0),
      generated = Seq("o_month" -> "month(o_orderdate)"),
      partitionColumns = Seq("o_month"))
    assert(DeltaLite.generatedColumns(spark, t) ==
      Seq("o_month" -> "month(o_orderdate)"))
    // Append WITHOUT the column: computed by the writer.
    DeltaLite.append(spark, t, o.filter(col("o_orderkey") % 2 === 1))
    val snap = DeltaLite.snapshot(spark, t)
    assert(snap.filter(col("o_month") =!= month(col("o_orderdate")))
      .count() == 0)
    assert(snap.count() == o.count())
    // Append WITH a wrong value: refused wholesale.
    intercept[IllegalArgumentException] {
      DeltaLite.append(spark, t,
        o.limit(5).withColumn("o_month", lit(99)))
    }
    // Append WITH the correct value: accepted (validated, not blind).
    DeltaLite.append(spark, t, o.limit(5)
      .withColumn("o_month", month(col("o_orderdate"))))
    // A 3-month source range keeps at most 4 of the 12 month
    // partitions (the derived IN-set may include the exclusive
    // endpoint's month — a documented superset).
    val (kept, total) = DeltaLite.pruneInfo(spark, t,
      col("o_month").isin(3, 4, 5, 6))
    assert(total > kept, s"expected pruning, kept $kept of $total")
    val pruned = DeltaLite.scanGenerated(spark, t, "o_orderdate",
      "1996-03-01", "1996-06-01")
    val expected = DeltaLite.snapshot(spark, t)
      .filter(col("o_orderdate") >= lit("1996-03-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-06-01").cast("timestamp"))
    assert(pruned.count() == expected.count())
    // Renames that would orphan stored expression text refuse: the
    // generation source here, a CHECK-constrained column below; an
    // unreferenced column still renames.
    intercept[IllegalArgumentException] {
      DeltaLite.renameColumn(spark, t, "o_orderdate", "od")
    }
    DeltaLite.addCheckConstraint(spark, t, "pos", "o_totalprice >= 0")
    intercept[IllegalArgumentException] {
      DeltaLite.renameColumn(spark, t, "o_totalprice", "price")
    }
    DeltaLite.renameColumn(spark, t, "o_orderkey", "okey")
    assert(DeltaLite.snapshot(spark, t).columns.contains("okey"))
  }

  test("generated-column range scan caps the driver-side IN-set: a " +
      "high-cardinality (day-identity) generation expression over a " +
      "multi-year range skips IN-set pruning but stays correct") {
    val t = s"${graft.util.Scratch.dir("deltagencap")}/t"
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    // Day-granular generation: every day in the queried range is its
    // own value, so a 4+-year window exceeds the 1000-value cap.
    DeltaLite.createWithGenerated(spark, t, o,
      generated = Seq("o_day" -> "cast(o_orderdate as date)"))
    val pruned = DeltaLite.scanGenerated(spark, t, "o_orderdate",
      "1992-01-01", "1998-01-01")
    val expected = DeltaLite.snapshot(spark, t)
      .filter(col("o_orderdate") >= lit("1992-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    assert(pruned.count() == expected.count())
    // A narrow range stays under the cap and still gets the IN-set.
    val narrow = DeltaLite.scanGenerated(spark, t, "o_orderdate",
      "1996-03-01", "1996-06-01")
    val expectedNarrow = DeltaLite.snapshot(spark, t)
      .filter(col("o_orderdate") >= lit("1996-03-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-06-01").cast("timestamp"))
    assert(narrow.count() == expectedNarrow.count())
  }

  test("identity columns: unique monotone ids across appends, high " +
      "water advances with the commit, ALWAYS refuses provided values") {
    val t = s"${graft.util.Scratch.dir("deltaid")}/t"
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"))
    DeltaLite.createWithIdentity(spark, t,
      c.filter(col("c_custkey") <= 100), idCol = "rid",
      orderCols = Seq("c_custkey"), start = 5L, step = 3L)
    val n1 = c.filter(col("c_custkey") <= 100).count()
    assert(DeltaLite.identityColumn(spark, t) ==
      Some(("rid", 5L, 3L, 5L + (n1 - 1) * 3L)))
    DeltaLite.appendWithIdentity(spark, t,
      c.filter(col("c_custkey") > 100 && col("c_custkey") <= 150),
      orderCols = Seq("c_custkey"))
    val ids = DeltaLite.snapshot(spark, t)
      .select("rid").collect().map(_.getLong(0)).sorted
    // Unique, start at 5, stride 3, no gaps across the append boundary.
    assert(ids.toSeq == ids.indices.map(i => 5L + i * 3L))
    // ALWAYS: a write providing the column refuses.
    intercept[IllegalArgumentException] {
      DeltaLite.appendWithIdentity(spark, t,
        c.filter(col("c_custkey") === 151).withColumn("rid", lit(1L)),
        orderCols = Seq("c_custkey"))
    }
  }

  test("vacuum deletes unreferenced data files only; the live snapshot " +
      "is untouched and retained versions still read") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    DeltaLite.create(spark, t, c.filter(col("c_custkey") <= 40).coalesce(1))
    DeltaLite.append(spark, t,
      c.filter(col("c_custkey") > 40 && col("c_custkey") <= 80).coalesce(1))
    // v2 rewrites the first file (copy-on-write): its original becomes
    // unreferenced garbage for vacuum.
    DeltaLite.deleteWhere(spark, t, col("c_custkey") === 1)
    // Plus an orphan from an aborted/skipped stage. Walk order is
    // filesystem-dependent and some found files are vacuum's own
    // targets — always copy from a file that stays live.
    def liveFile(): java.nio.file.Path = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(t))
      try walk.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => p.toString.endsWith(".parquet") &&
          !p.toString.contains("_delta_log") &&
          !p.toString.contains("orphan"))
        .maxBy(p => java.nio.file.Files.getLastModifiedTime(p).toMillis)
      finally walk.close()
    }
    val orphan = java.nio.file.Paths.get(t, "part-orphan.parquet")
    java.nio.file.Files.copy(liveFile(), orphan)
    val want = DeltaLite.snapshot(spark, t)
      .orderBy(col("c_custkey")).collect().toSeq
    val deleted = DeltaLite.vacuum(spark, t) // retain latest only
    assert(deleted == 2, s"expected removed-file + orphan, got $deleted")
    assert(!java.nio.file.Files.exists(orphan))
    assert(DeltaLite.snapshot(spark, t)
      .orderBy(col("c_custkey")).collect().toSeq == want)
    // A fresh unreferenced file inside the age horizon survives.
    java.nio.file.Files.copy(liveFile(), orphan)
    assert(DeltaLite.vacuum(spark, t, olderThanMs = 3600000L) == 0)
    assert(java.nio.file.Files.exists(orphan))
    DeltaLite.vacuum(spark, t)
  }

  test("deletion vectors: merge-on-read delete writes only sidecars, " +
      "accumulates, composes with scan/merge, and compact rebases") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    DeltaLite.create(spark, t, c.repartitionByRange(3, col("c_custkey")))
    def dataFiles(): Set[String] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(t))
      try walk.toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.contains("_delta_log"))
        .toSet
      finally walk.close()
    }
    val before = dataFiles()
    DeltaLite.deleteWhereDV(spark, t, col("c_custkey") === 7)
    // No data file was written or removed — only a sidecar.
    assert(dataFiles() == before)
    def dvFiles(): Long = {
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(t, "_dv"))
      try l.toArray.map(_.toString)
        .count(p => p.endsWith(".json") && !p.contains(".crc")).toLong
      finally l.close()
    }
    assert(dvFiles() == 1)
    assert(DeltaLite.snapshot(spark, t)
      .filter(col("c_custkey") === 7).count() == 0)
    // Second DV delete accumulates; both rows stay gone.
    DeltaLite.deleteWhereDV(spark, t, col("c_custkey") === 9)
    assert(dataFiles() == before)
    val want = c.filter(col("c_custkey") =!= 7 && col("c_custkey") =!= 9)
      .orderBy(col("c_custkey")).collect().toSeq
    assert(DeltaLite.snapshot(spark, t)
      .orderBy(col("c_custkey")).collect().toSeq == want)
    // Pruned scan respects the DV too.
    assert(DeltaLite.scan(spark, t, col("c_custkey") <= 10)
      .collect().map(_.getAs[Long]("c_custkey")).toSet ==
      c.filter(col("c_custkey") <= 10 && col("c_custkey") =!= 7 &&
          col("c_custkey") =!= 9)
        .collect().map(_.getAs[Long]("c_custkey")).toSet)
    // DVs survive a log checkpoint: replay from the compacted state
    // alone (pre-checkpoint commits aged out) still filters them.
    val ckptV = DeltaLite.writeLogCheckpoint(spark, t)
    (0L to ckptV).foreach { v =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(
        t, "_delta_log", f"$v%020d.json"))
    }
    assert(DeltaLite.snapshot(spark, t)
      .orderBy(col("c_custkey")).collect().toSeq == want)
    // Compact rebases the soft deletes into clean files...
    DeltaLite.compact(spark, t, targetFiles = 1)
    assert(DeltaLite.snapshot(spark, t)
      .orderBy(col("c_custkey")).collect().toSeq == want)
    // ...and vacuum collects the orphaned sidecars + replaced files.
    DeltaLite.vacuum(spark, t)
    assert(dvFiles() == 0)
  }

  test("updateWhere rewrites only match-containing files; unknown " +
      "columns rejected") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    DeltaLite.create(spark, t, c.filter(col("c_custkey") <= 40).coalesce(1))
    DeltaLite.append(spark, t, c.filter(col("c_custkey") > 40).coalesce(1))
    DeltaLite.updateWhere(spark, t, col("c_custkey") === 5,
      Map("c_acctbal" -> lit(9999.25)))
    val got = DeltaLite.snapshot(spark, t)
    assert(got.filter(col("c_custkey") === 5)
      .head().getAs[Double]("c_acctbal") == 9999.25)
    // Non-matching rows carried over; total row count unchanged.
    assert(got.count() == c.count())
    assert(got.filter(col("c_custkey") === 6)
      .head().getAs[Double]("c_acctbal") ==
      c.filter(col("c_custkey") === 6).head().getAs[Double]("c_acctbal"))
    // Only the file containing key 5 was rewritten.
    val log = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t, "_delta_log",
        "00000000000000000002.json")), "UTF-8")
    assert(log.linesIterator.count(_.contains("\"remove\"")) == 1)
    intercept[IllegalArgumentException] {
      DeltaLite.updateWhere(spark, t, lit(true),
        Map("no_such_col" -> lit(1)))
    }
  }

  test("tableChanges: appends-only windows read just the added files; " +
      "updates surface as delete+insert pairs") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    DeltaLite.create(spark, t, c.filter(col("c_custkey") <= 40))
    DeltaLite.append(spark, t,
      c.filter(col("c_custkey") > 40 && col("c_custkey") <= 80))
    // Appends-only window [0,1]: changes == the appended rows, all
    // inserts.
    val ch01 = DeltaLite.tableChanges(spark, t, 0L, 1L)
    assert(ch01.filter(col("_change_type") =!= "insert").count() == 0)
    assert(ch01.select(col("c_custkey")).collect().map(_.getLong(0)).sorted
      .toSeq ==
      c.filter(col("c_custkey") > 40 && col("c_custkey") <= 80)
        .collect().map(_.getAs[Long]("c_custkey")).sorted.toSeq)
    // An update in window [1,2]: its row appears as delete+insert.
    DeltaLite.updateWhere(spark, t, col("c_custkey") === 7,
      Map("c_acctbal" -> lit(1234.5)))
    val ch12 = DeltaLite.tableChanges(spark, t, 1L, 2L)
      .filter(col("c_custkey") === 7)
      .select(col("_change_type"), col("c_acctbal"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    val origBal = c.filter(col("c_custkey") === 7)
      .head().getAs[Double]("c_acctbal")
    assert(ch12 == Set(("delete", origBal), ("insert", 1234.5)))
    // Empty window.
    assert(DeltaLite.tableChanges(spark, t, 2L, 2L).count() == 0)
  }

  test("zorder compaction makes stats selective on BOTH clustered " +
      "columns; content unchanged") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    // Hash-shuffled files: every file spans the full range of both
    // columns, so range predicates prune nothing.
    DeltaLite.create(spark, t, c.repartition(8))
    val keyPred = col("c_custkey") >= 100 && col("c_custkey") <= 200
    val balPred = col("c_acctbal") >= 1000.0 && col("c_acctbal") <= 2000.0
    assert(DeltaLite.pruneInfo(spark, t, keyPred)._1 == 8)
    val before = DeltaLite.snapshot(spark, t)
      .orderBy(col("c_custkey")).collect().toSeq
    DeltaLite.compactZOrder(spark, t, Seq("c_custkey", "c_acctbal"),
      targetFiles = 8)
    // Both columns' selective predicates now skip files.
    val keptKey = DeltaLite.pruneInfo(spark, t, keyPred)._1
    val keptBal = DeltaLite.pruneInfo(spark, t, balPred)._1
    assert(keptKey < 8 && keptBal < 8, s"key=$keptKey bal=$keptBal")
    // Content identical; scans stay exact.
    assert(DeltaLite.snapshot(spark, t)
      .orderBy(col("c_custkey")).collect().toSeq == before)
    assert(DeltaLite.scan(spark, t, balPred)
      .orderBy(col("c_custkey")).collect().toSeq ==
      c.filter(balPred).orderBy(col("c_custkey")).collect().toSeq)
  }

  test("merge rejects multiple source rows matching one target row " +
      "(Delta semantics); unmatched duplicates insert") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    DeltaLite.create(spark, t, c.filter(col("c_custkey") <= 20))
    val dupMatched = c.filter(col("c_custkey") === 1)
      .unionByName(c.filter(col("c_custkey") === 1)
        .withColumn("c_acctbal", col("c_acctbal") * 2))
    intercept[IllegalArgumentException] {
      DeltaLite.merge(spark, t, dupMatched, Seq("c_custkey"))
    }
    // Duplicate keys that match NO target row insert all copies.
    val dupUnmatched = c.filter(col("c_custkey") === 1)
      .withColumn("c_custkey", lit(777777L))
      .unionByName(c.filter(col("c_custkey") === 1)
        .withColumn("c_custkey", lit(777777L)))
    DeltaLite.merge(spark, t, dupUnmatched, Seq("c_custkey"))
    assert(DeltaLite.snapshot(spark, t)
      .filter(col("c_custkey") === 777777L).count() == 2)
  }

  test("history reads each commit's operation from its commitInfo " +
      "action — a metadata-only DESCRIBE HISTORY") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir).limit(200)
    DeltaLite.create(spark, t, c.repartition(2))
    DeltaLite.append(spark, t, c.limit(50))
    DeltaLite.merge(spark, t,
      c.limit(10).withColumn("c_acctbal", col("c_acctbal") + 1),
      Seq("c_custkey"))
    DeltaLite.compact(spark, t, targetFiles = 1)
    DeltaLite.addColumn(spark, t, "flag",
      org.apache.spark.sql.types.StringType)
    val h = DeltaLite.history(spark, t).orderBy(col("version"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(h == Seq(0L -> "CREATE TABLE", 1L -> "WRITE", 2L -> "MERGE",
      3L -> "OPTIMIZE", 4L -> "ADD COLUMNS"), h.toString)
    // Action counts ride along: the create added files, the metadata-
    // only ADD COLUMNS touched none.
    val byV = DeltaLite.history(spark, t).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(byV(0L)._1 > 0 && byV(0L)._2 == 0)
    assert(byV(4L) == (0L, 0L))
  }

  test("column mapping: rename is a metadata-only commit; old and new " +
      "files both resolve; stats pruning and DML follow the rename; " +
      "partition renames and conversion are refused") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    DeltaLite.create(spark, t, c.repartitionByRange(3, col("c_name")))
    DeltaLite.renameColumn(spark, t, "c_name", "cust_name")
    // Metadata-only: the RENAME COLUMN commit adds/removes no files.
    val h = DeltaLite.history(spark, t).orderBy(col("version")).collect()
    assert(h.last.getString(1) == "RENAME COLUMN" &&
      h.last.getLong(2) == 0 && h.last.getLong(3) == 0)
    // Files written BEFORE the rename resolve under the new name.
    val want = c.orderBy(col("c_custkey"))
      .select(col("c_name").as("cust_name"), col("c_acctbal"))
      .collect().toSeq
    assert(DeltaLite.snapshot(spark, t).orderBy(col("c_custkey"))
      .select(col("cust_name"), col("c_acctbal")).collect().toSeq == want)
    // Time travel to the pre-rename version still shows the old name.
    assert(DeltaLite.snapshot(spark, t, 0L).columns.contains("c_name"))
    // An append under the NEW schema writes the PHYSICAL (original)
    // column name into parquet — every file of the table spells
    // columns identically.
    DeltaLite.append(spark, t,
      c.filter(col("c_custkey").between(1, 5))
        .withColumnRenamed("c_name", "cust_name"))
    import scala.jdk.CollectionConverters._
    val newest = java.nio.file.Files.list(java.nio.file.Paths.get(t))
      .iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .maxBy(p => java.nio.file.Files.getLastModifiedTime(p).toMillis)
    val cols = pq.read_schema_names(newest.toString)
    assert(cols.contains("c_name") && !cols.contains("cust_name"),
      cols.toString)
    // Stats pruning follows the rename: the table is range-laid-out on
    // the renamed column, and a point predicate on the NEW name prunes
    // via stats keyed by the PHYSICAL name.
    val probe = c.orderBy(col("c_custkey")).select(col("c_name"))
      .head().getString(0)
    val (kept, total) =
      DeltaLite.pruneInfo(spark, t, col("cust_name") === probe)
    assert(total >= 4 && kept < total, s"kept=$kept total=$total")
    // DML through the new name.
    DeltaLite.updateWhere(spark, t, col("cust_name") === probe,
      Map("c_acctbal" -> lit(0.0)))
    assert(DeltaLite.snapshot(spark, t)
      .filter(col("cust_name") === probe &&
        col("c_acctbal") =!= 0.0).count() == 0)
    // Partition columns cannot be renamed; renamed tables refuse
    // name-based format conversion.
    val tp = freshTable()
    DeltaLite.create(spark, tp, c, Seq("c_mktsegment"))
    intercept[IllegalArgumentException] {
      DeltaLite.renameColumn(spark, tp, "c_mktsegment", "seg")
    }
    intercept[IllegalArgumentException] {
      graft.sources.LakeConvert.deltaToIceberg(spark, t,
        s"${Scratch.dir("cmconv")}/ice")
    }
  }

  test("CHECK constraints: metadata-only add after validating existing " +
      "rows; append/update/merge refuse violating writes; NULL passes; " +
      "drop lifts enforcement; constraints survive a checkpoint") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    DeltaLite.create(spark, t, c.repartition(2))
    // Existing rows must satisfy the condition being added.
    intercept[IllegalArgumentException] {
      DeltaLite.addCheckConstraint(spark, t, "impossible", "c_custkey < 0")
    }
    DeltaLite.addCheckConstraint(spark, t, "balanced", "c_acctbal > -1000")
    val h = DeltaLite.history(spark, t).orderBy(col("version")).collect()
    assert(h.last.getString(1) == "ADD CONSTRAINT" &&
      h.last.getLong(2) == 0 && h.last.getLong(3) == 0)
    // Violating writes refuse — append, update, merge alike — and the
    // table is untouched.
    val before = DeltaLite.snapshot(spark, t).count()
    intercept[IllegalArgumentException] {
      DeltaLite.append(spark, t,
        c.limit(3).withColumn("c_acctbal", lit(-5000.0)))
    }
    intercept[IllegalArgumentException] {
      DeltaLite.updateWhere(spark, t, col("c_custkey") === 1,
        Map("c_acctbal" -> lit(-5000.0)))
    }
    intercept[IllegalArgumentException] {
      DeltaLite.merge(spark, t,
        c.filter(col("c_custkey") === 1)
          .withColumn("c_acctbal", lit(-5000.0)),
        Seq("c_custkey"))
    }
    assert(DeltaLite.snapshot(spark, t).count() == before)
    // NULL passes (the SQL standard's CHECK rule).
    DeltaLite.append(spark, t,
      c.limit(2).withColumn("c_acctbal",
        lit(null).cast(c.schema("c_acctbal").dataType)))
    // Constraints survive a log checkpoint.
    DeltaLite.writeLogCheckpoint(spark, t)
    assert(DeltaLite.checkConstraints(spark, t) ==
      Seq("balanced" -> "c_acctbal > -1000"))
    intercept[IllegalArgumentException] {
      DeltaLite.append(spark, t,
        c.limit(1).withColumn("c_acctbal", lit(-5000.0)))
    }
    // DROP lifts enforcement.
    DeltaLite.dropCheckConstraint(spark, t, "balanced")
    DeltaLite.append(spark, t,
      c.limit(1).withColumn("c_acctbal", lit(-5000.0)))
    assert(DeltaLite.snapshot(spark, t)
      .filter(col("c_acctbal") === -5000.0).count() == 1)
  }

  test("applyChanges: latest change per key wins within a batch; " +
      "deletes remove, upserts replace-or-insert, absent-key deletes " +
      "no-op; only files holding a touched key are rewritten") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    // Two files split by key range, so a low-key change batch must
    // leave the high-key file untouched.
    DeltaLite.create(spark, t,
      c.filter(col("c_custkey") <= 40).coalesce(1))
    DeltaLite.append(spark, t,
      c.filter(col("c_custkey") > 40).coalesce(1))
    val before = DeltaLite.snapshot(spark, t).count()
    val filesBefore = DeltaLite.liveFiles(spark, t).toSet
    import spark.implicits._
    // Key 1: update then delete (delete is latest → gone). Key 2:
    // delete then update (update is latest → survives with new name).
    // Key -1: delete of an absent key (no-op). Key 1000000: fresh
    // insert (customer keys at this SF are 0..149).
    val changes = Seq(
      (1L, "x", 0.0, "update", 10L), (1L, "x", 0.0, "delete", 11L),
      (2L, "old", 1.0, "delete", 10L), (2L, "new", 2.0, "update", 11L),
      (-1L, "none", 0.0, "delete", 10L),
      (1000000L, "fresh", 9.0, "insert", 10L))
      .toDF("c_custkey", "c_name", "c_acctbal", "_op", "_seq")
    DeltaLite.applyChanges(spark, t, changes,
      Seq("c_custkey"), "_op", "_seq")
    val after = DeltaLite.snapshot(spark, t)
    assert(after.filter(col("c_custkey") === 1L).count() == 0)
    assert(after.filter(col("c_custkey") === 2L)
      .select(col("c_name")).head().getString(0) == "new")
    assert(after.filter(col("c_custkey") === 1000000L).count() == 1)
    // -1 delete no-op'd; net: -1 (key 1) + 1 (key 1000000) = same.
    assert(after.count() == before)
    // The high-key file survived untouched.
    val filesAfter = DeltaLite.liveFiles(spark, t).toSet
    assert(filesBefore.intersect(filesAfter).size == 1,
      s"expected the untouched high-key file to survive: " +
        s"$filesBefore -> $filesAfter")
    // The op is matched in any case: 'DELETE' deletes, 'UPDATE' upserts.
    DeltaLite.applyChanges(spark, t, Seq(
        (2L, "new", 2.0, "DELETE", 12L), (3L, "upd", 3.0, "UPDATE", 12L))
        .toDF("c_custkey", "c_name", "c_acctbal", "_op", "_seq"),
      Seq("c_custkey"), "_op", "_seq")
    val last = DeltaLite.snapshot(spark, t)
    assert(last.filter(col("c_custkey") === 2L).count() == 0)
    assert(last.filter(col("c_custkey") === 3L)
      .select(col("c_name")).head().getString(0) == "upd")
    assert(last.count() == before - 1)
  }

  test("compactWhere rewrites only sub-threshold files (the big file " +
      "survives by identity), respects a partition predicate, " +
      "no-ops below two victims, and leaves content unchanged") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    DeltaLite.create(spark, t, c.filter(col("c_custkey") > 50).coalesce(1))
    (0 to 3).foreach(i => DeltaLite.append(spark, t,
      c.filter(col("c_custkey") <= 50 && pmod(col("c_custkey"), lit(4)) === i)
        .coalesce(1)))
    val sizes = DeltaLite.liveFiles(spark, t)
      .map(f => f -> new java.io.File(t, f).length()).toMap
    val bigFile = sizes.maxBy(_._2)._1
    // Threshold = the big file's size: strictly-smaller debris only.
    assert(DeltaLite.compactWhere(spark, t, 1, sizes(bigFile)) == 4)
    val after = DeltaLite.liveFiles(spark, t)
    assert(after.contains(bigFile), "the big file must survive untouched")
    assert(after.size == 2, s"4 debris files must pack into 1: $after")
    assert(DeltaLite.snapshot(spark, t).orderBy(col("c_custkey"))
      .collect().toSeq == c.orderBy(col("c_custkey")).collect().toSeq)
    // Re-running is a no-op: one small file is already packed.
    assert(DeltaLite.compactWhere(spark, t, 1, sizes(bigFile)) == 0)
    assert(DeltaLite.latestVersion(spark, t) == 5L) // no empty commit
    // Partition predicate confines the rewrite to matching partitions.
    val t2 = freshTable()
    DeltaLite.create(spark, t2,
      c.filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .repartition(4), Seq("c_mktsegment"))
    val beforeB = DeltaLite.liveFiles(spark, t2)
      .filter(_.contains("c_mktsegment=MACHINERY")).toSet
    val n2 = DeltaLite.compactWhere(spark, t2, 1, Long.MaxValue,
      col("c_mktsegment") === "BUILDING")
    assert(n2 >= 2, s"expected BUILDING files rewritten, got $n2")
    assert(DeltaLite.liveFiles(spark, t2)
      .filter(_.contains("c_mktsegment=MACHINERY")).toSet == beforeB,
      "MACHINERY partition must be untouched")
  }

  private object pq {
    def read_schema_names(path: String): Seq[String] = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path),
        spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        import scala.jdk.CollectionConverters._
        r.getFooter.getFileMetaData.getSchema.getFields.asScala
          .map(_.getName).toSeq
      } finally r.close()
    }
  }

  test("a failed staged write removes its staging directory only after " +
      "its last task has ended") {
    import spark.implicits._
    val t = freshTable()
    DeltaLite.create(spark, t, Seq(7L).toDF("k"))
    // the straggling task opens its output file after the job failed
    failWithStraggler(straggle => DeltaLite.append(spark, t,
      spark.range(0, 2, 1, 2).select(straggle(col("id")).as("k"))))
    val staged = new java.io.File(t).listFiles()
      .filter(_.getName.startsWith("_stage"))
    assert(staged.isEmpty, staged.map(_.getName).mkString(", "))
    assert(DeltaLite.snapshot(spark, t).as[Long].collect().toSeq == Seq(7L))
  }

  test("DML hit-file collects are capped (spark.graft.maxHitFiles): a " +
      "predicate matching more files refuses loudly, data untouched") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    // 4 files, every file contains BUILDING rows → 4 hit files.
    DeltaLite.create(spark, t, c.repartition(4, col("c_custkey")))
    val before = DeltaLite.snapshot(spark, t).count()
    spark.conf.set("spark.graft.maxHitFiles", "2")
    try {
      val e = intercept[IllegalArgumentException] {
        DeltaLite.deleteWhere(spark, t, col("c_mktsegment") === "BUILDING")
      }
      assert(e.getMessage.contains("maxHitFiles"), e.getMessage)
      // Refused BEFORE any commit: table state unchanged.
      assert(DeltaLite.latestVersion(spark, t) == 0L)
      assert(DeltaLite.snapshot(spark, t).count() == before)
      // A narrow predicate (one file's worth of keys) still works.
      DeltaLite.deleteWhere(spark, t, col("c_custkey") === 1L)
      assert(DeltaLite.snapshot(spark, t)
        .filter(col("c_custkey") === 1L).count() == 0)
    } finally spark.conf.unset("spark.graft.maxHitFiles")
  }

  test("mergeDV: matched rows soft-delete via sidecars (no data file " +
      "rewritten), source appends, result equals the COW merge") {
    val c = Tables.customer(spark, sfDir)
    val base = c.filter(col("c_custkey") <= 600)
    val source = c.filter(col("c_custkey") <= 50)
      .withColumn("c_acctbal", col("c_acctbal") * 2)
      .unionByName(c.filter(col("c_custkey") > 600 &&
        col("c_custkey") <= 650))
    def dataFiles(t: String): Set[String] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(t))
      try walk.toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.contains("_delta_log"))
        .toSet
      finally walk.close()
    }
    val tDv = freshTable()
    DeltaLite.create(spark, tDv,
      base.repartitionByRange(3, col("c_custkey")))
    val before = dataFiles(tDv)
    DeltaLite.mergeDV(spark, tDv, source, Seq("c_custkey"))
    // Every pre-merge data file survives untouched; the only new
    // parquet is the appended source.
    assert(before.subsetOf(dataFiles(tDv)), "mergeDV rewrote a data file")
    val tCow = freshTable()
    DeltaLite.create(spark, tCow,
      base.repartitionByRange(3, col("c_custkey")))
    DeltaLite.merge(spark, tCow, source, Seq("c_custkey"))
    val got = DeltaLite.snapshot(spark, tDv)
      .orderBy(col("c_custkey")).collect().toSeq
    val want = DeltaLite.snapshot(spark, tCow)
      .orderBy(col("c_custkey")).collect().toSeq
    assert(got == want, "DV merge must equal the COW merge")
    // Second DV merge on already-masked files accumulates correctly.
    DeltaLite.mergeDV(spark, tDv,
      c.filter(col("c_custkey") <= 10)
        .withColumn("c_acctbal", lit(1.23)),
      Seq("c_custkey"))
    val k1 = DeltaLite.snapshot(spark, tDv)
      .filter(col("c_custkey") === 1)
    assert(k1.count() == 1 &&
      k1.head.getAs[Double]("c_acctbal") == 1.23)
    // Ambiguous multi-match refuses loudly.
    intercept[IllegalArgumentException] {
      DeltaLite.mergeDV(spark, tDv,
        c.filter(col("c_custkey") === 2)
          .union(c.filter(col("c_custkey") === 2)), Seq("c_custkey"))
    }
  }

  test("keyed merge above the pruning floor replaces only the files " +
      "whose key range meets the source") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    DeltaLite.create(spark, t, c.repartitionByRange(10, col("c_custkey")))
    // (file name, min key, max key) of every live file
    val ranges = DeltaLite.snapshot(spark, t)
      .groupBy(element_at(split(input_file_name(), "/"), -1).as("f"))
      .agg(min("c_custkey"), max("c_custkey")).collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue,
        r.getAs[Number](2).longValue))
    assert(ranges.length >= graft.sources.LakeFormat.MergePruneFloor)
    val (lo, hi) = (31L, 55L)
    val meets = ranges.filter { case (_, a, b) => a <= hi && b >= lo }
      .map(_._1).toSet
    assert(meets.nonEmpty && meets.size <= 3 && meets.size < ranges.length)
    // the source key range prunes the candidates to exactly those files
    assert(DeltaLite.pruneInfo(spark, t,
      col("c_custkey") >= lo && col("c_custkey") <= hi) ==
      (meets.size, ranges.length))
    val inSrc = col("c_custkey").between(lo, hi)
    DeltaLite.merge(spark, t, c.filter(inSrc)
      .withColumn("c_acctbal", col("c_acctbal") + 1000.0), Seq("c_custkey"))
    val want = c.withColumn("c_acctbal",
      when(inSrc, col("c_acctbal") + 1000.0).otherwise(col("c_acctbal")))
    assert(DeltaLite.snapshot(spark, t).orderBy(col("c_custkey"))
      .collect().toSeq == want.orderBy(col("c_custkey")).collect().toSeq)
    val removed = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t, "_delta_log",
        "00000000000000000001.json")), "UTF-8")
      .linesIterator.filter(_.contains("\"remove\"")).toSeq
    assert(removed.size == meets.size &&
      meets.forall(f => removed.exists(_.contains(f))), removed)
  }
}
