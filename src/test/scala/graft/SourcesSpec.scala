package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

class SourcesSpec extends SparkSpec {

  test("partitioned write prunes partitions at planning time") {
    val out = Files.createTempDirectory("graft_prunetest").toString
    Tables.customer(spark, sfDir).write.mode("overwrite")
      .partitionBy("c_mktsegment").parquet(s"$out/c")
    val pruned = spark.read.parquet(s"$out/c")
      .filter(col("c_mktsegment") === "BUILDING")
    val plan = pruned.queryExecution.executedPlan.toString
    // The partition filter must be resolved against directory names,
    // not applied as a data filter after a full scan.
    assert(plan.contains("PartitionFilters"))
    assert(plan.contains("c_mktsegment"))
    // And the pruned read returns exactly the segment's rows.
    val expected = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === "BUILDING").count()
    assert(pruned.count() == expected && expected > 0)
  }

  test("parquet round trip preserves schema and values") {
    val out = Files.createTempDirectory("graft_rt").toString
    val src = Tables.orders(spark, sfDir)
    src.write.mode("overwrite").parquet(s"$out/o")
    val back = spark.read.parquet(s"$out/o")
    assert(back.schema == src.schema)
    assert(back.count() == src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("filter pushdown reaches the parquet scan") {
    val df = Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") < 5).select(col("l_orderkey"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("LessThan(l_quantity,5"))
    // Column pruning: scan schema must not include unused columns.
    assert(plan.contains("ReadSchema") && !plan.contains("l_comment"))
  }

  test("bucketed tables join with no exchange on either side") {
    val out = Files.createTempDirectory("graft_bkt").toString
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .write.mode("overwrite").format("parquet")
      .option("path", s"$out/ob").bucketBy(4, "o_orderkey")
      .saveAsTable("ob_spec")
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_quantity"))
      .write.mode("overwrite").format("parquet")
      .option("path", s"$out/lb").bucketBy(4, "l_orderkey")
      .saveAsTable("lb_spec")
    val o = spark.table("ob_spec")
    val l = spark.table("lb_spec")
    // MERGE hint: at test SF the planner would broadcast (bucketing
    // then rightly disabled as useless); the 100 TB fact⋈fact shape is
    // a sort-merge join, which is what the bucket layout feeds.
    val joined = o.hint("merge").join(l, o("o_orderkey") === l("l_orderkey"))
    // Both scans report their bucket count and the join consumes the
    // bucketed distribution directly: zero Exchange in the whole plan
    // (the pay-once-at-write-time co-located join s21 demonstrates).
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"), plan.take(2000))
    assert(!plan.contains("Exchange"), plan.take(2000))
    // And it is the same result a plain join produces.
    val expected = Tables.orders(spark, sfDir).join(
      Tables.lineitem(spark, sfDir),
      col("o_orderkey") === col("l_orderkey")).count()
    assert(joined.count() == expected && expected > 0)
  }

  test("bloom index prunes point lookups that min/max stats cannot; " +
      "post-build files are kept conservatively") {
    import graft.sources.{BloomIndex, DeltaLite}
    val t = s"${graft.util.Scratch.dir("bloomspec")}/t"
    val c = Tables.customer(spark, sfDir)
    // Hash-distribute on name: every file spans the full custkey range.
    DeltaLite.create(spark, t, c.repartition(6, col("c_name")))
    BloomIndex.build(spark, t, "c_custkey", expectedPerFile = 1000L)
    val keys = Seq(7L, 23L)
    // Stats keep everything (overlapping ranges)…
    val (statsKept, total) =
      DeltaLite.pruneInfo(spark, t, col("c_custkey").isin(keys: _*))
    assert(statsKept == total, s"stats should not prune: $statsKept/$total")
    // …the bloom does not.
    val (bloomKept, bloomTotal) =
      BloomIndex.pruneInfo(spark, t, "c_custkey", keys)
    assert(bloomTotal == total && bloomKept < total,
      s"bloom kept $bloomKept of $bloomTotal")
    // Exactness: same rows as the brute filter.
    assert(BloomIndex.lookupScan(spark, t, "c_custkey", keys)
      .orderBy(col("c_custkey")).collect().toSeq ==
      c.filter(col("c_custkey").isin(keys: _*))
        .orderBy(col("c_custkey")).collect().toSeq)
    // Staleness: an appended file has no bloom → always kept, lookup
    // still exact.
    DeltaLite.append(spark, t,
      c.limit(1).withColumn("c_custkey", lit(999999L)))
    val (k2, t2) = BloomIndex.pruneInfo(spark, t, "c_custkey", Seq(999999L))
    assert(t2 == total + 1 && k2 >= 1)
    assert(BloomIndex.lookupScan(spark, t, "c_custkey", Seq(999999L))
      .count() == 1)
    // Scale shape: the driver-side manifest holds only POINTERS to
    // executor-written sidecars, never serialized bloom bytes. Each
    // entry must be a short rel path to an existing .bloom file (a
    // base64 bloom at these settings is ~2 KB+; paths are < 200 chars).
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t, "_index/bloom-c_custkey.json")), "UTF-8")
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(manifest)
    assert(node.get("format").asText() == "sidecar-v1")
    val entries = node.get("files").properties()
    assert(!entries.isEmpty)
    entries.forEach { e =>
      val v = e.getValue.asText()
      assert(v.startsWith("_index/bloom-c_custkey/") &&
        v.endsWith(".bloom") && v.length < 200, v.take(250))
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(t, v)), v)
    }
    // Rebuild GCs the sidecars it orphans: file count in the sidecar
    // dir equals the manifest entry count, not 2×.
    BloomIndex.build(spark, t, "c_custkey", expectedPerFile = 1000L)
    val node2 = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(t, "_index/bloom-c_custkey.json")), "UTF-8"))
    val onDisk = java.nio.file.Files.list(
      java.nio.file.Paths.get(t, "_index/bloom-c_custkey"))
      .filter(p => p.getFileName.toString.endsWith(".bloom")).count()
    assert(onDisk == node2.get("files").size().toLong,
      s"orphaned sidecars: $onDisk on disk vs ${node2.get("files").size()}")
  }

  test("s51 JDBC dim scan: the filter pushes into the database scan " +
      "and the dim side broadcasts to the lake-fact join") {
    val df = Registry.byName("s51_jdbc_scan").fn(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("JDBCRelation"), plan.take(2000))
    assert(plan.contains("PushedFilters:") &&
      plan.replaceAll("\\s", "").contains("n_regionkey"),
      plan.take(2000))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  // The DML source rule (LakeFormat.once), one plan shape per test: a
  // source whose evaluations may disagree is materialized once, a
  // stable one is returned as it is (no extra job).
  private def checkpointed(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]

  private val unstableSources
      : Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
    "LIMIT" -> (() => LakeSql.sql(spark, "SELECT * FROM orders LIMIT 5")),
    "TABLESAMPLE" -> (() =>
      spark.sql("SELECT * FROM orders TABLESAMPLE (10 PERCENT)")),
    "current_timestamp()" -> (() => LakeSql.sql(spark,
      "SELECT o_orderkey, current_timestamp() AS ts FROM orders")),
    "rand()" -> (() => spark.table("orders").withColumn("r", rand())))

  private val stableSources
      : Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
    "a bare scan" -> (() => spark.read.parquet(s"$sfDir/nation.parquet")),
    "a VALUES list" -> (() => LakeSql.sql(spark,
      "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) v(k, s)")),
    "a checkpointed frame" -> (() =>
      spark.table("orders").limit(5).localCheckpoint()),
    "the lake-dml MERGE source" -> (() => LakeSql.sql(spark,
      """SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        o_totalprice + 3 AS o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey BETWEEN 10 AND 40""")),
    "the lake-dml Hudi source" -> (() => spark.table("orders")
      .filter(col("o_orderkey").between(10, 40))
      .withColumn("o_orderstatus", lit("H"))
      .withColumn("o_totalprice", col("o_totalprice") + 3)))

  for ((shape, df) <- unstableSources)
    test(s"DML source rule: $shape is materialized once") {
      Sql.open(spark, sfDir)
      val once = graft.sources.LakeFormat.once(df())
      assert(checkpointed(once), once.queryExecution.analyzed.treeString)
    }

  for ((shape, df) <- stableSources)
    test(s"DML source rule: $shape is read as it is") {
      Sql.open(spark, sfDir)
      val d = df()
      assert(graft.sources.LakeFormat.once(d) eq d,
        d.queryExecution.analyzed.treeString)
    }
}
