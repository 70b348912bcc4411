package graft

import org.apache.spark.sql.functions._
import graft.sources.DeltaLite
import graft.util.Scratch

class LakeSqlSpec extends SparkSpec {

  private def freshTable(): String = s"${Scratch.dir("lakesql")}/t"

  test("parsed DELETE / UPDATE / INSERT execute against the lake table") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    DeltaLite.create(spark, t, c.filter(col("c_custkey") <= 60))
    Sql.open(spark, sfDir)
    val lake = Map("t" -> t)

    LakeSql.execute(spark, lake,
      "INSERT INTO t SELECT * FROM customer WHERE c_custkey > 60")
    assert(DeltaLite.snapshot(spark, t).count() == c.count())

    LakeSql.execute(spark, lake,
      "UPDATE t SET c_acctbal = 0.0 WHERE c_custkey <= 10")
    assert(DeltaLite.snapshot(spark, t)
      .filter(col("c_custkey") <= 10 && col("c_acctbal") =!= 0.0)
      .count() == 0)

    LakeSql.execute(spark, lake, "DELETE FROM t WHERE c_custkey > 50")
    assert(DeltaLite.snapshot(spark, t).count() ==
      c.filter(col("c_custkey") <= 50).count())
  }

  test("an UPDATE with no WHERE touches every row") {
    val t = freshTable()
    DeltaLite.create(spark, t,
      Tables.customer(spark, sfDir).filter(col("c_custkey") <= 20))
    LakeSql.execute(spark, Map("t" -> t), "UPDATE t SET c_acctbal = 1.5")
    val vals = DeltaLite.snapshot(spark, t)
      .select(col("c_acctbal")).distinct().collect().map(_.getDouble(0))
    assert(vals.toSeq == Seq(1.5))
  }

  test("unknown tables and unsupported statements fail loudly") {
    val t = freshTable()
    DeltaLite.create(spark, t,
      Tables.customer(spark, sfDir).limit(5))
    intercept[IllegalArgumentException] {
      LakeSql.execute(spark, Map("t" -> t), "DELETE FROM nope WHERE 1 = 1")
    }
    intercept[IllegalArgumentException] {
      LakeSql.execute(spark, Map("t" -> t), "DROP TABLE t")
    }
  }

  test("catalog DDL round trip on the ICEBERG provider: CTAS registers, " +
      "DML addresses by name, SELECT reads the current snapshot, DROP " +
      "deregisters but keeps data (external semantics)") {
    import graft.sources.IcebergLite
    Sql.open(spark, sfDir)
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val name = s"ice_cat_$tag"
    val loc = s"${graft.util.Scratch.dir("lakesqlspec")}/$name"
    LakeSql.sql(spark, s"""CREATE TABLE $name USING iceberglite
      LOCATION '$loc'
      AS SELECT * FROM customer WHERE c_custkey <= 100""")
    // It is a REAL IcebergLite table on disk.
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(loc, "metadata", "version-hint.text")))
    LakeSql.sql(spark, s"INSERT INTO $name SELECT * FROM customer " +
      "WHERE c_custkey > 100 AND c_custkey <= 150")
    LakeSql.sql(spark, s"UPDATE $name SET c_acctbal = 0 WHERE c_custkey <= 10")
    LakeSql.sql(spark, s"DELETE FROM $name WHERE c_custkey % 5 = 0")
    val c = Tables.customer(spark, sfDir)
      .filter(col("c_custkey") <= 150 && col("c_custkey") % 5 =!= 0)
    val got = LakeSql.sql(spark, s"""
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN c_acctbal = 0 THEN 1 ELSE 0 END) AS z
      FROM $name""").head()
    assert(got.getLong(0) == c.count(), got.toString)
    assert(got.getLong(1) == c.filter(col("c_custkey") <= 10).count(),
      got.toString)
    LakeSql.sql(spark, s"DROP TABLE $name")
    intercept[IllegalArgumentException] { LakeSql.table(spark, name) }
    // Data survives the drop; re-dropping needs IF EXISTS.
    assert(IcebergLite.snapshot(spark, loc).count() == c.count())
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, s"DROP TABLE $name")
    }
    LakeSql.sql(spark, s"DROP TABLE IF EXISTS $name") // quiet
  }

  test("SQL time travel: VERSION AS OF binds a versioned snapshot on " +
      "both providers; TIMESTAMP AS OF resolves commit stamps and " +
      "rejects pre-table instants") {
    import graft.sources.IcebergLite
    Sql.open(spark, sfDir)
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val root = graft.util.Scratch.dir("lakesqltt")
    val c = Tables.customer(spark, sfDir)
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)

    val dn = s"tt_delta_$tag"
    LakeSql.sql(spark, s"""CREATE TABLE $dn USING deltalite
      LOCATION '$root/$dn' AS SELECT * FROM customer WHERE c_custkey <= 50""")
    val mid = fmt.format(java.time.Instant.ofEpochMilli(
      System.currentTimeMillis()))
    Thread.sleep(5) // millisecond stamps: keep `mid` strictly pre-DELETE
    LakeSql.sql(spark, s"DELETE FROM $dn WHERE c_custkey <= 20")
    assert(LakeSql.sql(spark,
        s"SELECT COUNT(*) AS n FROM $dn VERSION AS OF 0").head().getLong(0) ==
      c.filter(col("c_custkey") <= 50).count())
    // Past + current in ONE statement.
    val both = LakeSql.sql(spark, s"""
      SELECT (SELECT COUNT(*) FROM $dn VERSION AS OF 0) AS v0,
             (SELECT COUNT(*) FROM $dn) AS now""").head()
    assert(both.getLong(0) == c.filter(col("c_custkey") <= 50).count())
    assert(both.getLong(1) ==
      c.filter(col("c_custkey") > 20 && col("c_custkey") <= 50).count())
    // TIMESTAMP AS OF an instant between CREATE and DELETE → the
    // pre-DELETE state, resolved through commitInfo.timestamp.
    assert(LakeSql.sql(spark,
        s"SELECT COUNT(*) AS n FROM $dn TIMESTAMP AS OF '$mid'")
        .head().getLong(0) ==
      c.filter(col("c_custkey") <= 50).count())
    // An instant that predates the table has no state to read.
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        s"SELECT * FROM $dn TIMESTAMP AS OF '2024-01-01'").collect()
    }

    val in = s"tt_ice_$tag"
    LakeSql.sql(spark, s"""CREATE TABLE $in USING iceberglite
      LOCATION '$root/$in' AS SELECT * FROM customer WHERE c_custkey <= 50""")
    val iceMid = fmt.format(java.time.Instant.ofEpochMilli(
      System.currentTimeMillis()))
    Thread.sleep(5)
    LakeSql.sql(spark, s"DELETE FROM $in WHERE c_custkey <= 20")
    val firstSnap = IcebergLite.snapshots(spark, s"$root/$in").head
    assert(LakeSql.sql(spark,
        s"SELECT COUNT(*) AS n FROM $in VERSION AS OF $firstSnap")
        .head().getLong(0) ==
      c.filter(col("c_custkey") <= 50).count())
    // Same wall-clock rule on the Iceberg provider (timestamp-ms).
    assert(LakeSql.sql(spark,
        s"SELECT COUNT(*) AS n FROM $in TIMESTAMP AS OF '$iceMid'")
        .head().getLong(0) ==
      c.filter(col("c_custkey") <= 50).count())
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        s"SELECT * FROM $in TIMESTAMP AS OF '2024-01-01'").collect()
    }
  }

  test("ALTER TABLE: ADD COLUMNS is metadata-only on both providers; " +
      "RENAME COLUMN works on iceberg field-ids and delta column " +
      "mapping alike") {
    import graft.sources.IcebergLite
    Sql.open(spark, sfDir)
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val root = Scratch.dir("lakesql-alter")

    val dn = s"alter_d_$tag"
    LakeSql.sql(spark, s"""CREATE TABLE $dn USING deltalite
      LOCATION '$root/$dn'
      AS SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 30""")
    val dataFilesBefore = new java.io.File(s"$root/$dn")
      .listFiles().count(_.getName.endsWith(".parquet"))
    LakeSql.sql(spark, s"ALTER TABLE $dn ADD COLUMNS (score DOUBLE)")
    // Metadata-only: no data file was written or rewritten.
    assert(new java.io.File(s"$root/$dn")
      .listFiles().count(_.getName.endsWith(".parquet")) == dataFilesBefore)
    // Old files read null for the new column; DML can fill it.
    val snap = LakeSql.sql(spark, s"SELECT * FROM $dn")
    assert(snap.schema.fieldNames.toSeq ==
      Seq("c_custkey", "c_name", "score"))
    assert(snap.filter(col("score").isNotNull).count() == 0)
    LakeSql.sql(spark, s"UPDATE $dn SET score = 1.5 WHERE c_custkey <= 10")
    assert(LakeSql.sql(spark, s"SELECT * FROM $dn")
      .filter(col("score") === 1.5).count() ==
      Tables.customer(spark, sfDir).filter(col("c_custkey") <= 10).count())
    // RENAME on delta goes through column mapping: metadata-only,
    // old files resolve under the new name, filled values survive.
    val filesAtRename = new java.io.File(s"$root/$dn")
      .listFiles().count(_.getName.endsWith(".parquet"))
    LakeSql.sql(spark, s"ALTER TABLE $dn RENAME COLUMN c_name TO nm")
    assert(new java.io.File(s"$root/$dn")
      .listFiles().count(_.getName.endsWith(".parquet")) == filesAtRename)
    val dsnap = LakeSql.sql(spark, s"SELECT * FROM $dn")
    assert(dsnap.schema.fieldNames.toSeq == Seq("c_custkey", "nm", "score"))
    assert(dsnap.filter(col("nm").isNull).count() == 0)
    assert(dsnap.filter(col("score") === 1.5).count() ==
      Tables.customer(spark, sfDir).filter(col("c_custkey") <= 10).count())

    val in = s"alter_i_$tag"
    LakeSql.sql(spark, s"""CREATE TABLE $in USING iceberglite
      LOCATION '$root/$in'
      AS SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 30""")
    LakeSql.sql(spark, s"ALTER TABLE $in ADD COLUMNS (score DOUBLE)")
    LakeSql.sql(spark, s"ALTER TABLE $in RENAME COLUMN c_name TO nm")
    // Files written pre-rename resolve through field ids under the new
    // name; the added column reads null.
    val isnap = LakeSql.sql(spark, s"SELECT * FROM $in")
    assert(isnap.schema.fieldNames.toSeq ==
      Seq("c_custkey", "nm", "score"))
    assert(isnap.filter(col("nm").isNull).count() == 0)
    assert(isnap.filter(col("score").isNotNull).count() == 0)
    // Writes after the evolution land under the new schema.
    LakeSql.sql(spark, s"""INSERT INTO $in
      SELECT c_custkey, c_name AS nm, CAST(2.5 AS DOUBLE) AS score
      FROM customer WHERE c_custkey > 30 AND c_custkey <= 40""")
    assert(LakeSql.sql(spark, s"SELECT * FROM $in")
      .filter(col("score") === 2.5).count() == 10)
    // Unknown-table ALTER fails loudly.
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, s"ALTER TABLE nope_$tag ADD COLUMNS (x INT)")
    }
  }

  test("SQL MERGE INTO: the upsert form executes; partial assignments, " +
      "mismatched ON columns, and NOT MATCHED BY SOURCE are rejected") {
    Sql.open(spark, sfDir)
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val root = Scratch.dir("lakesql-merge")
    val t = s"m_$tag"
    LakeSql.sql(spark, s"""CREATE TABLE $t USING deltalite
      LOCATION '$root/$t'
      AS SELECT c_custkey, c_name, c_acctbal FROM customer
      WHERE c_custkey <= 40""")
    LakeSql.sql(spark, s"""MERGE INTO $t USING (
        SELECT c_custkey, c_name, CAST(0.0 AS DOUBLE) AS c_acctbal
        FROM customer WHERE c_custkey >= 30 AND c_custkey <= 50) AS src
      ON $t.c_custkey = src.c_custkey
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val out = LakeSql.sql(spark, s"SELECT * FROM $t")
    val c = Tables.customer(spark, sfDir)
    assert(out.count() == c.filter(col("c_custkey") <= 50).count())
    assert(out.filter(col("c_acctbal") === 0.0).count() ==
      c.filter(col("c_custkey") >= 30 && col("c_custkey") <= 50).count())
    // Partial-assignment matched action: not the upsert contract.
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, s"""MERGE INTO $t USING customer AS src
        ON $t.c_custkey = src.c_custkey
        WHEN MATCHED THEN UPDATE SET c_acctbal = 1.0""")
    }
    // ON equating DIFFERENT columns: no well-defined key.
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, s"""MERGE INTO $t USING customer AS src
        ON $t.c_custkey = src.c_nationkey
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
    }
    // NOT MATCHED BY SOURCE executes via the full-sync overwrite path —
    // covered by its own spec below; two BY SOURCE clauses refuse.
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, s"""MERGE INTO $t USING customer AS src
        ON $t.c_custkey = src.c_custkey
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE AND c_acctbal < 0 THEN DELETE
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET c_acctbal = 1.0""")
    }
  }

  test("EXPLAIN at the text entry returns the plan; pushed filters and " +
      "pruned ReadSchema are visible; cataloged names bind") {
    Sql.open(spark, sfDir)
    val plan = LakeSql.sql(spark, """EXPLAIN FORMATTED
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderkey <= 100""").head.getString(0)
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("LessThanOrEqual(o_orderkey,100)"), plan)
    // Column pruning reached the scan: the 4th column never reads.
    assert(plan.contains("ReadSchema"), plan)
    assert(!plan.contains("o_orderpriority"), plan)
    // Expression ids are normalized out (stable output).
    assert(!plan.matches("(?s).*#\\d.*"), plan)

    // EXPLAIN over a CATALOGED lake table binds through the catalog.
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val t = s"exp_t_$tag"
    LakeSql.sql(spark, s"""CREATE TABLE $t USING deltalite
      LOCATION '${graft.util.Scratch.dir("lakesqlspec")}/$t'
      AS SELECT * FROM customer WHERE c_custkey <= 50""")
    val planT = LakeSql.sql(spark,
      s"EXPLAIN SELECT COUNT(*) FROM $t").head.getString(0)
    assert(planT.contains("Scan parquet") || planT.contains("FileScan"),
      planT)
    LakeSql.sql(spark, s"DROP TABLE $t")
  }

  test("splitStatements is literal- and comment-safe; script returns " +
      "the last statement's rows") {
    val stmts = LakeSql.splitStatements(
      "SELECT 'a;b' AS x; -- comment; with semicolons\n" +
        "SELECT \"q;ident\" FROM t; SELECT 'it''s; fine';; SELECT 2")
    assert(stmts.size == 4, stmts.toString)
    assert(stmts(0) == "SELECT 'a;b' AS x")
    assert(stmts(1).startsWith("-- comment; with semicolons"))
    assert(stmts(2) == "SELECT 'it''s; fine'")
    assert(stmts(3) == "SELECT 2")

    Sql.open(spark, sfDir)
    val out = LakeSql.script(spark, """
      SELECT 1 AS one;
      SELECT COUNT(*) AS n FROM nation""")
    assert(out.columns.toSeq == Seq("n"))
    assert(out.head.getLong(0) == 25)
  }

  test("graft_tables / graft_columns metadata views answer " +
      "find-by-column over the catalog; reserved names refuse DDL") {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val root = graft.util.Scratch.dir("lakesqlmeta")
    val name = s"meta_t_$tag"
    val s1 = spark.newSession()
    s1.conf.set(LakeSql.CatalogDirKey, s"$root/catalog")
    Sql.open(s1, sfDir)
    LakeSql.sql(s1, s"""CREATE TABLE $name USING deltalite
      LOCATION '$root/$name'
      AS SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 20""")
    val found = LakeSql.sql(s1,
      s"""SELECT table_name FROM graft_columns
          WHERE column_name = 'c_name' AND table_name = '$name'""")
    assert(found.count() == 1)
    // Cross-session: a NEW session replaying the durable op log sees
    // the same discovery surface.
    val s2 = spark.newSession()
    s2.conf.set(LakeSql.CatalogDirKey, s"$root/catalog")
    Sql.open(s2, sfDir)
    val meta2 = LakeSql.sql(s2,
      s"""SELECT t.provider, c.column_name, c.ordinal
          FROM graft_tables t JOIN graft_columns c
            ON t.table_name = c.table_name
          WHERE t.table_name = '$name' ORDER BY c.ordinal""")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(meta2.toSeq == Seq(("deltalite", "c_custkey", 1),
      ("deltalite", "c_name", 2)), meta2.mkString(","))
    // Reserved names cannot be shadowed by DDL.
    intercept[IllegalArgumentException] {
      LakeSql.sql(s2, s"""CREATE TABLE graft_tables USING deltalite
        LOCATION '$root/shadow'
        AS SELECT * FROM nation""")
    }
    LakeSql.sql(s2, s"DROP TABLE $name")
  }

  test("ASOF JOIN text rewrite equals the union-merge operator; " +
      "unsupported forms refuse loudly") {
    Sql.open(spark, sfDir)
    val ev = Tables.events(spark, sfDir)
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
      .createOrReplaceTempView("asof_spec_p")
    ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("v_ts"),
        col("value").as("v_value"))
      .createOrReplaceTempView("asof_spec_v")
    val viaText = LakeSql.sql(spark,
      """SELECT p.event_id, p.user_id, p.ts,
                v.v_ts AS last_view_ts, v.v_value AS last_view_value
         FROM asof_spec_p p ASOF JOIN asof_spec_v v
         ON p.user_id = v.user_id AND p.ts >= v.v_ts""")
    val viaOp = graft.operators.AsOfJoin.asOf(
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts")),
      ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("v_ts"),
          col("value").as("v_value")),
      "user_id", "ts", "v_ts",
      Seq("v_ts" -> "last_view_ts", "v_value" -> "last_view_value"))
      .filter(col("last_view_ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("last_view_ts"), col("last_view_value"))
    assert(viaText.exceptAll(viaOp).isEmpty &&
      viaOp.exceptAll(viaText).isEmpty)
    // The <= spelling (right side first) normalizes too.
    val flipped = LakeSql.sql(spark,
      """SELECT p.event_id FROM asof_spec_p p ASOF JOIN asof_spec_v v
         ON v.v_ts <= p.ts AND p.user_id = v.user_id""")
    assert(flipped.count() == viaOp.count())
    // Missing inequality / unqualified operands refuse loudly.
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        """SELECT * FROM asof_spec_p p ASOF JOIN asof_spec_v v
           ON p.user_id = v.user_id""")
    }
    spark.catalog.dropTempView("asof_spec_p")
    spark.catalog.dropTempView("asof_spec_v")
  }

  test("QUALIFY text rewrite equals the explicit subquery; DISTINCT " +
      "and direct window predicates refuse loudly") {
    Sql.open(spark, sfDir)
    val viaQualify = LakeSql.sql(spark,
      """SELECT c_mktsegment, c_custkey, c_acctbal,
                ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                  ORDER BY c_acctbal DESC, c_custkey) AS rn
         FROM customer
         QUALIFY rn <= 2
         ORDER BY c_mktsegment, rn""")
    val explicit = spark.sql(
      """SELECT * FROM (
           SELECT c_mktsegment, c_custkey, c_acctbal,
                  ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                    ORDER BY c_acctbal DESC, c_custkey) AS rn
           FROM customer) t
         WHERE rn <= 2 ORDER BY c_mktsegment, rn""")
    assert(viaQualify.collect().toSeq == explicit.collect().toSeq)
    // Window filter really applied: every segment has exactly 2 rows.
    assert(viaQualify.groupBy("c_mktsegment").count()
      .filter(col("count") =!= 2).count() == 0)
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        """SELECT DISTINCT c_mktsegment,
                  ROW_NUMBER() OVER (ORDER BY c_mktsegment) AS rn
           FROM customer QUALIFY rn = 1""")
    }
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        """SELECT c_custkey FROM customer
           QUALIFY ROW_NUMBER() OVER (ORDER BY c_custkey) = 1""")
    }
  }

  test("SELECT * EXCLUDE / REPLACE expands against the schema, prunes " +
      "the scan, and refuses unknown columns") {
    Sql.open(spark, sfDir)
    val out = LakeSql.sql(spark,
      """SELECT * EXCLUDE (p_retailprice, p_size)
                  REPLACE (lower(p_type) AS p_type)
         FROM part ORDER BY p_partkey""")
    assert(out.columns.toSeq ==
      Seq("p_partkey", "p_name", "p_brand", "p_type"))
    val types = out.select("p_type").collect().map(_.getString(0))
    assert(types.nonEmpty && types.forall(t => t == t.toLowerCase))
    // The rewrite is an explicit column list, so column pruning
    // reaches the scan: p_retailprice is absent from the read schema.
    val scanned = out.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(!scanned.contains("p_retailprice"))
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "SELECT * EXCLUDE (nope) FROM part")
    }
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        """SELECT * EXCLUDE (p_partkey, p_name, p_brand, p_type,
                             p_size, p_retailprice) FROM part""")
    }
  }

  test("COPY TO PARTITION_BY writes hive layout, a filtered read " +
      "prunes to one partition directory, misuse refuses") {
    Sql.open(spark, sfDir)
    val dir = Scratch.dir("copypart") + "/li"
    val n = LakeSql.sql(spark, s"""
      COPY (SELECT l_orderkey, l_quantity, l_returnflag FROM lineitem)
      TO '$dir' (FORMAT PARQUET, PARTITION_BY (l_returnflag))""")
      .collect().head.getLong(0)
    assert(n == Tables.lineitem(spark, sfDir).count())
    // Hive layout: one directory per partition value, no flat files.
    val subdirs = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(subdirs == Seq("l_returnflag=A", "l_returnflag=N",
      "l_returnflag=R"))
    // A filtered read prunes on the PATH: the scan carries a partition
    // filter and reads only the matching directory's files.
    val df = LakeSql.sql(spark, s"""
      SELECT COUNT(*) AS cnt FROM read_parquet('$dir')
      WHERE l_returnflag = 'R'""")
    val want = Tables.lineitem(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("l_returnflag") === "R")
      .count()
    assert(df.head.getLong(0) == want)
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.contains("PartitionFilters") &&
      scan.contains("l_returnflag"),
      s"expected a partition filter in the scan:\n$scan")
    // Misuse refuses loudly: unknown partition column; FROM side.
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, s"""COPY (SELECT 1 AS x) TO '$dir/z'
        (FORMAT PARQUET, PARTITION_BY (nope))""")
    }
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, s"""COPY copyspec_nosuch FROM '$dir'
        (FORMAT PARQUET, PARTITION_BY (l_returnflag))""")
    }
  }

  test("COPY TO exports parquet and csv; COPY FROM loads both back " +
      "typed; counts returned; view targets and bad formats refuse") {
    Sql.open(spark, sfDir)
    val base = Scratch.dir("copyspec")
    // Export: a projection to parquet and a disjoint slice to csv.
    val n1 = LakeSql.sql(spark, s"""COPY (SELECT c_custkey, c_mktsegment,
        c_acctbal FROM customer WHERE c_custkey <= 40)
      TO '$base/a.parquet' (FORMAT PARQUET)""").collect().head.getLong(0)
    val n2 = LakeSql.sql(spark, s"""COPY (SELECT c_custkey, c_mktsegment,
        c_acctbal FROM customer WHERE c_custkey > 40 AND c_custkey <= 70)
      TO '$base/b.csv' (FORMAT CSV, HEADER, DELIMITER '|')""")
      .collect().head.getLong(0)
    val want = Tables.customer(spark, sfDir)
      .filter(col("c_custkey") <= 70)
      .select("c_custkey", "c_mktsegment", "c_acctbal")
    assert(n1 + n2 == want.count())
    // Import both into one lake table; the table's schema types the csv.
    LakeSql.sql(spark, s"""CREATE TABLE copyspec_t USING deltalite
      LOCATION '$base/t'
      AS SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
      WHERE 1 = 0""")
    LakeSql.sql(spark, s"COPY copyspec_t FROM '$base/a.parquet'")
    LakeSql.sql(spark,
      s"COPY copyspec_t FROM '$base/b.csv' (FORMAT CSV, HEADER, DELIMITER '|')")
    val got = LakeSql.sql(spark,
      "SELECT * FROM copyspec_t ORDER BY c_custkey")
    assert(got.schema == want.schema) // csv landed typed, table order
    assert(got.collect().toSeq ==
      want.orderBy(col("c_custkey")).collect().toSeq)
    // Loud refusals: view target, query target, unknown format.
    LakeSql.sql(spark,
      "CREATE VIEW copyspec_v AS SELECT * FROM copyspec_t")
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, s"COPY copyspec_v FROM '$base/a.parquet'")
    }
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        s"COPY (SELECT 1 AS x) FROM '$base/a.parquet'")
    }
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        s"COPY copyspec_t TO '$base/x.avro' (FORMAT AVRO)")
    }
    // Parquet FROM is schema-CHECKED by name: a source missing a
    // target column refuses loudly (never silently null-fills), while
    // extra source columns and reordered columns load fine (cast to
    // the target's declared types, in table column order).
    LakeSql.sql(spark, s"""COPY (SELECT c_custkey, c_mktsegment
      FROM customer WHERE c_custkey <= 5)
      TO '$base/narrow.parquet' (FORMAT PARQUET)""")
    val err = intercept[IllegalArgumentException] {
      LakeSql.sql(spark, s"COPY copyspec_t FROM '$base/narrow.parquet'")
    }
    assert(err.getMessage.contains("c_acctbal"))
    LakeSql.sql(spark, s"""COPY (SELECT c_acctbal, c_name,
        c_mktsegment, c_custkey FROM customer
      WHERE c_custkey > 70 AND c_custkey <= 75)
      TO '$base/wide.parquet' (FORMAT PARQUET)""")
    val n3 = LakeSql.sql(spark,
      s"COPY copyspec_t FROM '$base/wide.parquet'")
      .collect().head.getLong(0)
    assert(n3 == Tables.customer(spark, sfDir)
      .filter(col("c_custkey") > 70 && col("c_custkey") <= 75).count())
    LakeSql.sql(spark, "DROP VIEW copyspec_v")
    LakeSql.sql(spark, "DROP TABLE copyspec_t")
  }

  test("INSERT ON CONFLICT: DO NOTHING skips existing keys and " +
      "reports the inserted count; DO UPDATE is a full-row upsert; " +
      "partial assignments, duplicate-key sources, and view targets " +
      "refuse loudly") {
    Sql.open(spark, sfDir)
    val base = Scratch.dir("ocspec")
    LakeSql.sql(spark, s"""CREATE TABLE ocspec_t USING iceberglite
      LOCATION '$base/t'
      AS SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
      WHERE c_custkey <= 20""")
    // DO NOTHING: 11 of 31 keys exist → 20 inserted, originals kept
    val n1 = LakeSql.sql(spark, """INSERT INTO ocspec_t
      SELECT c_custkey, 'NEW', c_acctbal FROM customer
      WHERE c_custkey >= 10 AND c_custkey <= 40
      ON CONFLICT (c_custkey) DO NOTHING""").collect().head.getLong(0)
    assert(n1 == 20)
    val seg10 = LakeSql.sql(spark,
      "SELECT c_mktsegment FROM ocspec_t WHERE c_custkey = 10")
      .collect().head.getString(0)
    assert(seg10 != "NEW") // existing row untouched
    // DO UPDATE: full-row upsert replaces matched, inserts fresh
    val n2 = LakeSql.sql(spark, """INSERT INTO ocspec_t
      SELECT c_custkey, 'UP', 0.0 FROM customer
      WHERE c_custkey >= 35 AND c_custkey <= 45
      ON CONFLICT (c_custkey) DO UPDATE SET
        c_mktsegment = excluded.c_mktsegment,
        c_acctbal = excluded.c_acctbal""").collect().head.getLong(0)
    assert(n2 == 11)
    val got = LakeSql.sql(spark, """SELECT COUNT(*) FROM ocspec_t
      WHERE c_mktsegment = 'UP'""").collect().head.getLong(0)
    assert(got == 11)
    assert(LakeSql.sql(spark, "SELECT COUNT(*) FROM ocspec_t")
      .collect().head.getLong(0) == 46) // keys 0..45
    // refusals
    intercept[IllegalArgumentException] { // partial assignment
      LakeSql.sql(spark, """INSERT INTO ocspec_t
        SELECT c_custkey, c_mktsegment, c_acctbal FROM customer LIMIT 1
        ON CONFLICT (c_custkey) DO UPDATE SET
          c_acctbal = excluded.c_acctbal""")
    }
    intercept[IllegalArgumentException] { // duplicate keys in source
      LakeSql.sql(spark, """INSERT INTO ocspec_t
        SELECT 999 AS k, 'X' AS s, 1.0 AS b
        UNION ALL SELECT 999, 'Y', 2.0
        ON CONFLICT (c_custkey) DO NOTHING""")
    }
    LakeSql.sql(spark, "CREATE VIEW ocspec_v AS SELECT * FROM ocspec_t")
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, """INSERT INTO ocspec_v
        SELECT c_custkey, c_mktsegment, c_acctbal FROM customer LIMIT 1
        ON CONFLICT (c_custkey) DO NOTHING""")
    }
    LakeSql.sql(spark, "DROP VIEW ocspec_v")
    LakeSql.sql(spark, "DROP TABLE ocspec_t")
  }

  test("graft.keys declared at CREATE TABLE: bare INSERT OR REPLACE / " +
      "OR IGNORE and key-less ON CONFLICT resolve against it on BOTH " +
      "formats; keyless tables refuse naming the property; unknown " +
      "properties and non-column keys refuse at CREATE") {
    Sql.open(spark, sfDir)
    val base = Scratch.dir("keyspec")
    for (provider <- Seq("deltalite", "iceberglite")) {
      val t = s"keyspec_$provider"
      LakeSql.sql(spark, s"""CREATE TABLE $t USING $provider
        LOCATION '$base/$t' TBLPROPERTIES ('graft.keys'='c_custkey')
        AS SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        WHERE c_custkey <= 20""")
      // OR REPLACE: keys 10..30 — 11 replaced, 10 inserted
      LakeSql.sql(spark, s"""INSERT OR REPLACE INTO $t
        SELECT c_custkey, 'REP', 1.5 FROM customer
        WHERE c_custkey >= 10 AND c_custkey <= 30""")
      assert(LakeSql.sql(spark,
        s"SELECT COUNT(*) FROM $t WHERE c_mktsegment = 'REP'")
        .collect().head.getLong(0) == 21)
      // OR IGNORE: keys 25..35 — 25..30 exist and keep 'REP'
      LakeSql.sql(spark, s"""INSERT OR IGNORE INTO $t
        SELECT c_custkey, 'IGN', 2.5 FROM customer
        WHERE c_custkey >= 25 AND c_custkey <= 35""")
      assert(LakeSql.sql(spark,
        s"SELECT COUNT(*) FROM $t WHERE c_mktsegment = 'IGN'")
        .collect().head.getLong(0) == 5) // 31..35 only
      // key-less ON CONFLICT resolves the declared keys
      LakeSql.sql(spark, s"""INSERT INTO $t
        SELECT c_custkey, 'OC', 3.5 FROM customer
        WHERE c_custkey >= 34 AND c_custkey <= 38
        ON CONFLICT DO NOTHING""")
      assert(LakeSql.sql(spark, s"SELECT COUNT(*) FROM $t")
        .collect().head.getLong(0) == 39) // keys 0..38
      LakeSql.sql(spark, s"DROP TABLE $t")
    }
    // keyless table: the shorthand refuses, NAMING the property
    LakeSql.sql(spark, s"""CREATE TABLE keyspec_bare USING deltalite
      LOCATION '$base/bare'
      AS SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey <= 5""")
    for (stmt <- Seq(
        "INSERT OR REPLACE INTO keyspec_bare SELECT 9, 1.0",
        "INSERT OR IGNORE INTO keyspec_bare SELECT 9, 1.0",
        "INSERT INTO keyspec_bare SELECT 9, 1.0 ON CONFLICT DO NOTHING")) {
      val e = intercept[IllegalArgumentException](LakeSql.sql(spark, stmt))
      assert(e.getMessage.contains("graft.keys"), s"$stmt -> ${e.getMessage}")
    }
    LakeSql.sql(spark, "DROP TABLE keyspec_bare")
    // CREATE-side validation: unknown property, non-column key
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, s"""CREATE TABLE keyspec_unknown USING deltalite
        LOCATION '$base/unk' TBLPROPERTIES ('some.prop'='x')
        AS SELECT 1 AS a""")
    }
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, s"""CREATE TABLE keyspec_badkey USING deltalite
        LOCATION '$base/bad' TBLPROPERTIES ('graft.keys'='nope')
        AS SELECT 1 AS a""")
    }
    // all-columns-keyed REPLACE refuses (cannot change any row)
    LakeSql.sql(spark, s"""CREATE TABLE keyspec_allkey USING deltalite
      LOCATION '$base/allkey' TBLPROPERTIES ('graft.keys'='a')
      AS SELECT 1 AS a""")
    val eAll = intercept[IllegalArgumentException](LakeSql.sql(spark,
      "INSERT OR REPLACE INTO keyspec_allkey SELECT 2"))
    assert(eAll.getMessage.contains("INSERT OR IGNORE"), eAll.getMessage)
    LakeSql.sql(spark, "DROP TABLE keyspec_allkey")
  }

  test("CREATE TYPE … AS ENUM: casts validate against the value list " +
      "(NULL passes, out-of-range raises), enum_range yields the " +
      "array, ::type shorthand validates like CAST (r17), DROP TYPE " +
      "and duplicate-create guard") {
    Sql.open(spark, sfDir)
    LakeSql.sql(spark, "CREATE TYPE espec_mood AS ENUM ('sad','ok','happy')")
    val r = LakeSql.sql(spark, """
      SELECT CAST('ok' AS espec_mood) AS a,
             CAST(nullif('x','x') AS espec_mood) AS b,
             array_to_string(enum_range(NULL::espec_mood), ',') AS rng
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(r.getString(0) == "ok" && r.isNullAt(1) &&
      r.getString(2) == "sad,ok,happy")
    // an out-of-range value raises at runtime, like DuckDB's
    // conversion error
    val bad = intercept[Exception](LakeSql.sql(spark,
      "SELECT CAST('angry' AS espec_mood) AS a FROM nation LIMIT 1")
      .collect())
    assert(bad.getMessage.contains("espec_mood") ||
      Option(bad.getCause).exists(_.getMessage.contains("espec_mood")),
      bad.getMessage)
    // a literal containing the cast spelling must not rewrite
    val lit = LakeSql.sql(spark,
      "SELECT 'CAST(x AS espec_mood)' AS s FROM nation LIMIT 1")
      .collect().head.getString(0)
    assert(lit == "CAST(x AS espec_mood)")
    // …and neither may literals containing the enum_range / NULL::type
    // spellings (r15 advisor: those replaceAlls were not quote-aware)
    val lit2 = LakeSql.sql(spark, """SELECT
      'enum_range(NULL::espec_mood)' AS a, 'NULL::espec_mood' AS b
      FROM nation LIMIT 1""").collect().head
    assert(lit2.getString(0) == "enum_range(NULL::espec_mood)" &&
      lit2.getString(1) == "NULL::espec_mood", lit2.toString)
    // the :: shorthand (r17) validates exactly like the CAST spelling:
    // literal, paren-group, and function-call operands all capture
    val sh = LakeSql.sql(spark, """SELECT 'ok'::espec_mood AS a,
      ('ha' || 'ppy')::espec_mood AS b,
      lower('SAD')::espec_mood AS c,
      nullif('x','x')::espec_mood AS d
      FROM nation LIMIT 1""").collect().head
    assert(sh.getString(0) == "ok" && sh.getString(1) == "happy" &&
      sh.getString(2) == "sad" && sh.isNullAt(3), sh.toString)
    val shBad = intercept[Exception](LakeSql.sql(spark,
      "SELECT n_name::espec_mood AS a FROM nation LIMIT 1").collect())
    assert(shBad.getMessage.contains("espec_mood") ||
      Option(shBad.getCause).exists(_.getMessage.contains("espec_mood")),
      shBad.getMessage)
    // duplicate create refuses; DROP removes; casts then fail analysis
    intercept[IllegalArgumentException](LakeSql.sql(spark,
      "CREATE TYPE espec_mood AS ENUM ('a')"))
    LakeSql.sql(spark, "DROP TYPE espec_mood")
    intercept[Exception](LakeSql.sql(spark,
      "SELECT CAST('ok' AS espec_mood) AS a FROM nation LIMIT 1"))
    LakeSql.sql(spark, "DROP TYPE IF EXISTS espec_mood") // no-op, quiet
  }

  test("fractional-cast lint (opt-in): counts CAST(fractional -> " +
      "integral) sites in the analyzed plan; integral-source casts " +
      "and the default-off state are silent") {
    Sql.open(spark, sfDir)
    val prior = spark.conf
      .get("spark.graft.sql.lintFractionalCast", "false")
    spark.conf.set("spark.graft.sql.lintFractionalCast", "true")
    try {
      LakeSql.sql(spark, """SELECT CAST(c_acctbal AS BIGINT) AS b,
        CAST(c_acctbal AS INT) AS i FROM customer LIMIT 1""")
      assert(LakeSql.lastFractionalCastSites(spark) >= 2)
      // integral-source casts are not flagged
      LakeSql.sql(spark,
        "SELECT CAST(c_custkey AS INT) AS i FROM customer LIMIT 1")
      assert(LakeSql.lastFractionalCastSites(spark) == 0)
      // rounding the operand clears the fractional child
      LakeSql.sql(spark,
        "SELECT CAST(round(c_acctbal) AS BIGINT) AS b FROM customer " +
          "LIMIT 1")
      assert(LakeSql.lastFractionalCastSites(spark) == 0)
    } finally spark.conf.set("spark.graft.sql.lintFractionalCast", prior)
  }

  test("type-alias pins: bare VARCHAR/TEXT/INTn/BOOL map in cast " +
      "positions, bare DECIMAL takes DuckDB's (18,3) default, sized " +
      "spellings and same-named columns pass through, unsigned " +
      "refuses naming the widening; date_trunc day-and-coarser " +
      "yields DATE and unshared units refuse") {
    Sql.open(spark, sfDir)
    val r = LakeSql.sql(spark, """
      SELECT CAST(1.5 AS VARCHAR) AS a, 2.5::VARCHAR AS a2,
             CAST(1.5 AS DECIMAL) AS d, CAST(5 AS INT8) AS i8,
             CAST(1 AS BOOL) AS b,
             CAST('abcdef' AS VARCHAR(3)) AS sized
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(r.getString(0) == "1.5" && r.getString(1) == "2.5")
    assert(r.getDecimal(2).toPlainString == "1.500") // NOT Spark's (10,0)
    assert(r.getLong(3) == 5L && r.getBoolean(4))
    assert(r.getString(5) == "abcdef") // sized cast: no truncation
    val eU = intercept[IllegalArgumentException](LakeSql.sql(spark,
      "SELECT CAST(1 AS UBIGINT) FROM nation LIMIT 1"))
    assert(eU.getMessage.contains("signed"), eU.getMessage)
    // a column ALIAS named like a type is untouched
    assert(LakeSql.sql(spark,
      "SELECT 'x' AS text FROM nation LIMIT 1").columns.head == "text")
    // date_trunc: day-and-coarser is DATE (string-renders date-only,
    // the probed silent divergence), sub-day stays TIMESTAMP,
    // unshared units refuse loudly instead of Spark's silent NULL
    val dt = LakeSql.sql(spark, """
      SELECT CAST(date_trunc('month', TIMESTAMP '2021-03-15 13:45:12')
               AS VARCHAR) AS m,
             datetrunc('week', TIMESTAMP '2021-03-15 13:45:12') AS w,
             date_trunc('hour', TIMESTAMP '2021-03-15 13:45:12') AS h
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(dt.getString(0) == "2021-03-01")
    assert(dt.get(1).isInstanceOf[java.sql.Date])
    assert(dt.get(2).isInstanceOf[java.sql.Timestamp])
    val eT = intercept[IllegalArgumentException](LakeSql.sql(spark,
      "SELECT date_trunc('decade', o_orderdate) FROM orders LIMIT 1"))
    assert(eT.getMessage.contains("NULL silently"), eT.getMessage)
  }

  test("scalar series: range/generate_series lists with expression " +
      "args, EMPTY on inverted 1/2-arg ranges (sequence would " +
      "auto-reverse), negative 3-arg steps; list_reverse_sort is " +
      "DESC NULLS LAST; table forms unaffected") {
    Sql.open(spark, sfDir)
    val r = LakeSql.sql(spark, """
      SELECT range(3) AS a, generate_series(3) AS b,
             range(5, 1) AS empty1, generate_series(5, 1) AS empty2,
             range(5, 1, -2) AS neg, generate_series(1, 9, 3) AS pos,
             range(n_nationkey, n_nationkey + 2) AS expr_args,
             list_reverse_sort([3, NULL, 1]) AS lrs
      FROM nation WHERE n_nationkey = 4""").collect().head
    assert(r.getSeq[Long](0) == Seq(0L, 1L, 2L))
    assert(r.getSeq[Long](1) == Seq(0L, 1L, 2L, 3L))
    assert(r.getSeq[Long](2).isEmpty && r.getSeq[Long](3).isEmpty)
    assert(r.getSeq[Long](4) == Seq(5L, 3L))
    assert(r.getSeq[Long](5) == Seq(1L, 4L, 7L))
    assert(r.getSeq[Long](6) == Seq(4L, 5L))
    assert(r.getSeq[Any](7) == Seq(3, 1, null))
    // table position still binds through the temp-view path
    assert(LakeSql.sql(spark,
      "SELECT COUNT(*) AS n FROM generate_series(1, 5)")
      .collect().head.getLong(0) == 5L)
    // the 2-arg null-order modifier refuses loudly
    intercept[IllegalArgumentException](LakeSql.sql(spark,
      "SELECT list_reverse_sort([1, 2], 'NULLS FIRST') FROM nation " +
        "LIMIT 1"))
  }

  test("SUMMARIZE profiles a table name or a SELECT; doubles render " +
      "through DECIMAL(18,4)") {
    Sql.open(spark, sfDir)
    val prof = LakeSql.sql(spark, "SUMMARIZE nation").collect()
      .map(r => r.getString(0) -> r).toMap
    val n = Tables.nation(spark, sfDir).count()
    assert(prof.keySet == Set("n_nationkey", "n_name", "n_regionkey"))
    assert(prof("n_nationkey").getLong(1) == n) // n_rows
    assert(prof("n_nationkey").getLong(3) == n) // keys all distinct
    val sel = LakeSql.sql(spark,
      "SUMMARIZE SELECT c_acctbal FROM customer WHERE c_custkey <= 5")
      .collect().head
    val nSel = Tables.customer(spark, sfDir)
      .filter(col("c_custkey") <= 5).count()
    assert(sel.getString(0) == "c_acctbal" && sel.getLong(1) == nSel)
    // DECIMAL(18,4) render: exactly four decimals on a double column.
    assert(sel.getString(4).matches("-?\\d+\\.\\d{4}"))
  }

  test("macros expand at call sites: nested macros, string-literal " +
      "immunity, case-insensitivity, arity and recursion guards") {
    Sql.open(spark, sfDir)
    LakeSql.sql(spark, "CREATE MACRO msq(x) AS (x) * (x)")
    LakeSql.sql(spark,
      "CREATE OR REPLACE MACRO mhyp(a, b) AS msq(a) + msq(b)")
    // Nested expansion + case-insensitive call; the literal stays put.
    val r = LakeSql.sql(spark,
      "SELECT MHYP(3, 4) AS h, 'msq(9)' AS lit").collect().head
    assert(r.getInt(0) == 25 && r.getString(1) == "msq(9)")
    // Filter macros push into the plan like hand-written predicates.
    val cnt = LakeSql.sql(spark,
      "SELECT COUNT(*) AS n FROM customer WHERE msq(c_custkey) <= 100")
      .collect().head.getLong(0)
    assert(cnt == Tables.customer(spark, sfDir)
      .filter(col("c_custkey") * col("c_custkey") <= 100).count())
    // Arity mismatch is loud.
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "SELECT msq(1, 2)")
    }
    // A self-recursive macro hits the fixpoint cap, not a hang.
    LakeSql.sql(spark, "CREATE MACRO mrec(x) AS mrec(x) + 1")
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "SELECT mrec(1)")
    }
    // CREATE MACRO over an existing non-macro name refuses; DROP MACRO
    // on a non-macro refuses; plain re-CREATE without REPLACE refuses.
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "CREATE MACRO msq(x) AS x")
    }
    LakeSql.sql(spark, "CREATE VIEW macrospec_v AS SELECT 1 AS one")
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "DROP MACRO macrospec_v")
    }
    LakeSql.sql(spark, "DROP VIEW macrospec_v")
    Seq("msq", "mhyp", "mrec").foreach(m =>
      LakeSql.sql(spark, s"DROP MACRO $m"))
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "DROP MACRO msq")
    }
    LakeSql.sql(spark, "DROP MACRO IF EXISTS msq") // no-op, no throw
  }

  test("DISTINCT ON rewrite keeps exactly the first row per group in " +
      "the statement's order, and refuses without ORDER BY") {
    Sql.open(spark, sfDir)
    val got = LakeSql.sql(spark, """
      SELECT DISTINCT ON (c_mktsegment) c_mktsegment, c_custkey, c_acctbal
      FROM customer
      ORDER BY c_mktsegment, c_acctbal DESC, c_custkey""").collect()
    val want = spark.sql("""
      SELECT c_mktsegment, c_custkey, c_acctbal FROM (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC, c_custkey) AS rn
        FROM customer) WHERE rn = 1
      ORDER BY c_mktsegment""").collect()
    assert(got.toSeq == want.toSeq)
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "SELECT DISTINCT ON (c_mktsegment) c_mktsegment FROM customer")
    }
  }

  test("UNION BY NAME aligns by column name, NULL-fills missing " +
      "columns, dedups without ALL, and refuses mixed separators") {
    Sql.open(spark, sfDir)
    val got = LakeSql.sql(spark, """
      SELECT c_custkey AS id, c_acctbal AS bal
      FROM customer WHERE c_custkey <= 3
      UNION ALL BY NAME
      SELECT n_name AS name, n_nationkey AS id
      FROM nation WHERE n_nationkey <= 2
      ORDER BY id, name NULLS FIRST, bal NULLS FIRST""")
    assert(got.columns.toSeq == Seq("id", "bal", "name"))
    val rows = got.collect()
    assert(rows.length == 7) // customers 0..3 + nations 0..2
    // customer branch has name NULL; nation branch has bal NULL.
    assert(rows.count(_.isNullAt(2)) == 4)
    assert(rows.count(_.isNullAt(1)) == 3)
    // dedup variant: a branch unioned with itself collapses
    val dedup = LakeSql.sql(spark, """
      SELECT c_custkey AS id FROM customer WHERE c_custkey <= 5
      UNION BY NAME
      SELECT c_custkey AS id FROM customer WHERE c_custkey <= 5""")
    assert(dedup.count() == 6) // custkeys 0..5, duplicates collapsed
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, """
        SELECT c_custkey AS id FROM customer WHERE c_custkey <= 5
        UNION ALL BY NAME
        SELECT c_custkey AS id FROM customer WHERE c_custkey <= 5
        UNION BY NAME
        SELECT c_custkey AS id FROM customer WHERE c_custkey <= 5""")
    }
  }

  test("ORDER BY ALL rewrites to the positional list over the select " +
      "list; bare * refuses") {
    Sql.open(spark, sfDir)
    assert(LakeSql.rewriteOrderByAll(
      "SELECT a, b, c FROM t ORDER BY ALL").endsWith(
      "ORDER BY 1 NULLS LAST, 2 NULLS LAST, 3 NULLS LAST"))
    val got = LakeSql.sql(spark, """
      SELECT c_mktsegment, c_nationkey, COUNT(*) AS n
      FROM customer GROUP BY ALL ORDER BY ALL""").collect()
    val want = spark.sql("""
      SELECT c_mktsegment, c_nationkey, COUNT(*) AS n
      FROM customer GROUP BY 1, 2 ORDER BY 1, 2, 3""").collect()
    assert(got.toSeq == want.toSeq)
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "SELECT * FROM customer ORDER BY ALL")
    }
  }

  test("PIVOT statement equals conditional aggregation; empty cells " +
      "are NULL; missing GROUP BY refuses") {
    Sql.open(spark, sfDir)
    val got = LakeSql.sql(spark, """PIVOT customer ON c_mktsegment
      USING count(*) GROUP BY c_nationkey ORDER BY c_nationkey""")
    assert(got.columns.head == "c_nationkey")
    assert(got.columns.length >= 2) // one column per segment value
    val seg = got.columns(1)
    val want = spark.sql(s"""
      SELECT c_nationkey,
             SUM(CASE WHEN c_mktsegment = '$seg' THEN 1 END) AS v
      FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""")
      .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    val gotCol = got.select(col("c_nationkey"), col(s"`$seg`")).collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(gotCol.toSeq == want.toSeq)
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "PIVOT customer ON c_mktsegment USING count(*)")
    }
  }

  test("UNPIVOT statement rewrites to the native clause and equals the " +
      "explicit UNION ALL; bad forms refuse") {
    Sql.open(spark, sfDir)
    val got = LakeSql.sql(spark, """
      UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_tax
               FROM lineitem WHERE l_orderkey <= 50)
      ON l_quantity, l_tax INTO NAME m VALUE v
      ORDER BY l_orderkey, l_linenumber, m""").collect()
    val want = spark.sql("""
      SELECT * FROM (
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS m, l_quantity AS v
        FROM lineitem WHERE l_orderkey <= 50
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        FROM lineitem WHERE l_orderkey <= 50)
      ORDER BY l_orderkey, l_linenumber, m""").collect()
    assert(got.toSeq == want.toSeq && got.nonEmpty)
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "UNPIVOT lineitem ON l_quantity") // no INTO
    }
  }

  test("DESCRIBE reports neutral SQL types, binds cataloged lake " +
      "tables, and is metadata-only") {
    Sql.open(spark, sfDir)
    val raw = LakeSql.sql(spark, "DESCRIBE customer").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(raw("c_custkey") == "BIGINT")
    assert(raw("c_acctbal") == "DOUBLE")
    assert(raw("c_name") == "VARCHAR")
    // a cataloged lake table binds through the entry
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val t = s"desc_t_$tag"
    LakeSql.sql(spark, s"""CREATE TABLE $t USING deltalite
      LOCATION '${Scratch.dir("desc")}/$t'
      AS SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey <= 5""")
    val lake = LakeSql.sql(spark, s"DESCRIBE $t").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(lake == Map("c_custkey" -> "BIGINT", "c_mktsegment" -> "VARCHAR"))
    LakeSql.sql(spark, s"DROP TABLE $t")
    // DESCRIBE <query>: any SELECT's RESULT schema, analysis-only —
    // the aggregate's output type, not the input column's
    val dq = LakeSql.sql(spark, """DESCRIBE SELECT c_mktsegment,
      COUNT(*) AS n, AVG(c_acctbal) AS bal
      FROM customer GROUP BY c_mktsegment""").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(dq == Map("c_mktsegment" -> "VARCHAR", "n" -> "BIGINT",
      "bal" -> "DOUBLE"), dq)
  }

  test("read_parquet / read_csv table functions bind files at the " +
      "entry and compose with other routes") {
    val got = LakeSql.sql(spark,
      s"SELECT COUNT(*) AS n FROM read_parquet('$sfDir/customer.parquet')")
      .collect().head.getLong(0)
    assert(got == Tables.customer(spark, sfDir).count())
    // csv: write one with COPY, read it back through the function
    val dir = Scratch.dir("tfn")
    Tables.nation(spark, sfDir).coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(s"$dir/nation_csv")
    val n = LakeSql.sql(spark, s"""SELECT COUNT(*) AS n
      FROM read_csv('$dir/nation_csv', header=true)""")
      .collect().head.getLong(0)
    assert(n == Tables.nation(spark, sfDir).count())
    // composes with EXPLAIN (the pre-route rewrite applies first)
    val plan = LakeSql.sql(spark, s"""EXPLAIN FORMATTED
      SELECT c_custkey FROM read_parquet('$sfDir/customer.parquet')
      WHERE c_custkey <= 10""").collect().head.getString(0)
    assert(plan.contains("PushedFilters") && plan.contains("c_custkey"))
  }

  test("read_json binds a JSON-lines file with inferred schema and " +
      "prunes the scan to the referenced fields") {
    val dir = Scratch.dir("tfn_json")
    Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").json(s"$dir/docs_json")
    val got = LakeSql.sql(spark, s"""
      SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS ch
      FROM read_json('$dir/docs_json')
      GROUP BY lang ORDER BY lang""").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val want = Tables.documents(spark, sfDir).groupBy("lang")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("n_chars").as("ch"))
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
    // the scan's ReadSchema is pruned to the referenced fields only
    val plan = LakeSql.sql(spark, s"""EXPLAIN FORMATTED
      SELECT lang FROM read_json('$dir/docs_json')
      WHERE n_chars > 50""").collect().head.getString(0)
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("lang") && readSchema.contains("n_chars")
      && !readSchema.contains("text") && !readSchema.contains("doc_id"),
      s"unpruned JSON scan: $readSchema")
    // header= is a csv-only option
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        s"SELECT * FROM read_json('$dir/docs_json', header=true)")
    }
  }

  test("USING SAMPLE is deterministic, partitioning-invariant, and " +
      "approximately the requested fraction") {
    Sql.open(spark, sfDir)
    val q = """SELECT l_orderkey, l_linenumber FROM lineitem
      USING SAMPLE 25 PERCENT (l_orderkey, l_linenumber)
      ORDER BY l_orderkey, l_linenumber"""
    val a = LakeSql.sql(spark, q).collect().toSeq
    val b = LakeSql.sql(spark, q).collect().toSeq
    assert(a == b && a.nonEmpty)
    val total = Tables.lineitem(spark, sfDir).count().toDouble
    val frac = a.size / total
    assert(frac > 0.15 && frac < 0.35, s"fraction $frac")
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "SELECT * FROM lineitem USING SAMPLE 150 PERCENT (l_orderkey)")
    }
  }

  test("TABLE macros expand at FROM position as parameterized views; " +
      "scalar macros are unaffected") {
    Sql.open(spark, sfDir)
    LakeSql.sql(spark, """CREATE OR REPLACE MACRO seg_custs(seg) AS TABLE
      SELECT c_custkey, c_acctbal FROM customer
      WHERE c_mktsegment = seg""")
    val got = LakeSql.sql(spark,
      """SELECT COUNT(*) AS n, CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2)))
         AS DOUBLE) AS bal FROM seg_custs('BUILDING')""").collect().head
    val want = spark.sql(
      """SELECT COUNT(*) AS n, CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2)))
         AS DOUBLE) AS bal FROM customer
         WHERE c_mktsegment = 'BUILDING'""").collect().head
    assert(got == want)
    // explicit alias lets outer refs qualify
    val aliased = LakeSql.sql(spark,
      "SELECT sc.c_custkey FROM seg_custs('BUILDING') sc " +
        "ORDER BY sc.c_custkey LIMIT 3")
    assert(aliased.count() == 3)
    LakeSql.sql(spark, "DROP MACRO seg_custs")
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "CREATE MACRO bad_tm() AS TABLE UPDATE t SET x = 1")
    }
  }

  test("frame EXCLUDE CURRENT ROW: boundary rows, NULL inputs, empty " +
      "exclusions, and the AVG form all match the manual identity") {
    import spark.implicits._
    val t = Seq(
      (1, 1, Some(10.0)), (1, 2, None), (1, 3, Some(30.0)),
      (2, 1, Some(5.0)), // single-row partition: excluded frame empty
      (3, 1, Some(1.0)), (3, 2, Some(2.0))
    ).toDF("g", "i", "v")
    t.createOrReplaceTempView("fx_t")
    val got = LakeSql.sql(spark, """
      SELECT g, i,
             SUM(v) OVER (PARTITION BY g ORDER BY i
               ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING
               EXCLUDE CURRENT ROW) AS s,
             COUNT(v) OVER (PARTITION BY g ORDER BY i
               ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING
               EXCLUDE CURRENT ROW) AS c,
             AVG(v) OVER (PARTITION BY g ORDER BY i
               ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING
               EXCLUDE CURRENT ROW) AS a
      FROM fx_t ORDER BY g, i""").collect()
      .map(r => (r.getInt(0), r.getInt(1),
        if (r.isNullAt(2)) null else r.getDouble(2),
        r.getLong(3),
        if (r.isNullAt(4)) null else r.getDouble(4)))
    // hand-computed: frame = ±1 row minus current
    val want = Seq(
      (1, 1, null, 0L, null),          // neighbor is NULL v -> count 0, sum NULL
      (1, 2, 40.0, 2L, 20.0),          // both neighbors non-null
      (1, 3, null, 0L, null),          // neighbor is the NULL row
      (2, 1, null, 0L, null),          // empty excluded frame
      (3, 1, 2.0, 1L, 2.0),
      (3, 2, 1.0, 1L, 1.0))
    assert(got.toSeq == want, got.mkString(", "))
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, """SELECT MAX(v) OVER (PARTITION BY g ORDER BY i
        ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING
        EXCLUDE CURRENT ROW) FROM fx_t""")
    }
  }

  test("frame EXCLUDE GROUP / EXCLUDE TIES: peer groups drop as units, " +
      "TIES keeps the current row, NULLs and singletons behave; ROWS " +
      "frames and non-agg functions refuse") {
    import spark.implicits._
    // k=2 is a 3-row peer group with a NULL v member; partition 2 is a
    // single NULL-v row (empty frame after GROUP exclusion).
    val t = Seq(
      (1, 1, Some(10.0)), (1, 2, Some(20.0)), (1, 2, None),
      (1, 2, Some(40.0)), (1, 3, Some(50.0)),
      (2, 1, None)
    ).toDF("g", "k", "v")
    t.createOrReplaceTempView("fxg_t")
    val got = LakeSql.sql(spark, """
      SELECT g, k, v,
             SUM(v) OVER (PARTITION BY g ORDER BY k
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               EXCLUDE GROUP) AS sg,
             COUNT(*) OVER (PARTITION BY g ORDER BY k
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               EXCLUDE GROUP) AS cg,
             SUM(v) OVER (PARTITION BY g ORDER BY k
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               EXCLUDE TIES) AS st,
             AVG(v) OVER (PARTITION BY g ORDER BY k
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               EXCLUDE TIES) AS at
      FROM fxg_t ORDER BY g, k, v""").collect()
      .map(r => (r.getInt(0), r.getInt(1),
        if (r.isNullAt(2)) null else r.getDouble(2),
        if (r.isNullAt(3)) null else r.getDouble(3),
        r.getLong(4),
        if (r.isNullAt(5)) null else r.getDouble(5),
        if (r.isNullAt(6)) null else r.getDouble(6)))
    // hand-computed (frame = k' <= k; GROUP drops all peers, TIES
    // drops peers but keeps self). Output order follows the r14
    // NULLS-LAST default pin (DuckDB's): the NULL-v row sorts AFTER
    // its (1,2) peers, where bare Spark would put it first.
    val want = Seq(
      (1, 1, 10.0, null, 0L, 10.0, 10.0),
      (1, 2, 20.0, 10.0, 1L, 30.0, 15.0),
      (1, 2, 40.0, 10.0, 1L, 50.0, 25.0),
      (1, 2, null, 10.0, 1L, 10.0, 10.0),
      (1, 3, 50.0, 70.0, 4L, 120.0, 30.0),
      (2, 1, null, null, 0L, null, null))
    assert(got.toSeq == want, got.mkString(", "))
    intercept[IllegalArgumentException] { // ROWS frames can cut a group
      LakeSql.sql(spark, """SELECT SUM(v) OVER (PARTITION BY g ORDER BY k
        ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING
        EXCLUDE GROUP) FROM fxg_t""")
    }
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, """SELECT MAX(v) OVER (PARTITION BY g ORDER BY k
        EXCLUDE TIES) FROM fxg_t""")
    }
  }

  test("GROUPS frame mode: peer groups aggregate as units (≠ ROWS on " +
      "duplicate keys), UNBOUNDED and CURRENT ROW bounds, shared " +
      "ordinal across windows, loud refusals") {
    import spark.implicits._
    // key 2 appears twice in group 1 → a 2-row peer group: a GROUPS
    // frame of ±1 group must include BOTH rows when either is adjacent
    val t = Seq(
      (1, 1, 10.0), (1, 2, 20.0), (1, 2, 30.0), (1, 5, 40.0),
      (2, 7, 1.0) // single-row partition
    ).toDF("g", "k", "v")
    t.createOrReplaceTempView("gf_t")
    val got = LakeSql.sql(spark, """
      SELECT g, k, v,
             SUM(v) OVER (PARTITION BY g ORDER BY k
               GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS s1,
             SUM(v) OVER (PARTITION BY g ORDER BY k
               GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s2
      FROM gf_t ORDER BY g, k, v""").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    val want = Seq(
      // row (1,1): groups {1},{2,2} → 10+20+30; cumulative {1} = 10
      (1, 1, 10.0, 60.0, 10.0),
      // rows (1,2): groups {1},{2,2},{5} → all; cumulative through
      // the FULL peer group (CURRENT ROW spans peers) = 60
      (1, 2, 20.0, 100.0, 60.0),
      (1, 2, 30.0, 100.0, 60.0),
      // row (1,5): groups {2,2},{5} → 90; cumulative = 100
      (1, 5, 40.0, 90.0, 100.0),
      (2, 7, 1.0, 1.0, 1.0))
    assert(got.toSeq == want, got.mkString(", "))
    // ROWS would differ on the duplicate-key rows — the semantics gap
    val rows = LakeSql.sql(spark, """
      SELECT SUM(v) OVER (PARTITION BY g ORDER BY k, v
        ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
      FROM gf_t WHERE g = 1 ORDER BY k, v""").collect().map(_.getDouble(0))
    assert(rows.toSeq != got.filter(_._1 == 1).map(_._4).toSeq)
    // refusals: grouped query; missing PARTITION BY
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, """SELECT g, SUM(v) OVER (PARTITION BY g
        ORDER BY k GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
        FROM gf_t GROUP BY g, k, v""")
    }
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, """SELECT SUM(v) OVER (ORDER BY k
        GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) FROM gf_t""")
    }
  }

  test("frame EXCLUDE CURRENT ROW refuses frames that do not contain " +
      "the current row (where DuckDB's EXCLUDE is a no-op)") {
    import spark.implicits._
    Seq((1, 1, 10.0), (1, 2, 20.0)).toDF("g", "i", "v")
      .createOrReplaceTempView("fxr_t")
    // both-PRECEDING and both-FOLLOWING frames exclude the current row
    // already; the subtract identity would be silently wrong.
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, """SELECT SUM(v) OVER (PARTITION BY g ORDER BY i
        ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING
        EXCLUDE CURRENT ROW) FROM fxr_t""")
    }
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, """SELECT SUM(v) OVER (PARTITION BY g ORDER BY i
        ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING
        EXCLUDE CURRENT ROW) FROM fxr_t""")
    }
    // frames spanning the current row still rewrite fine
    val ok = LakeSql.sql(spark, """SELECT SUM(v) OVER (
      PARTITION BY g ORDER BY i
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
      EXCLUDE CURRENT ROW) AS s FROM fxr_t""").collect()
    assert(ok.map(_.getDouble(0)).sorted.toSeq == Seq(10.0, 20.0))
  }

  test("DISTINCT ON orders NULLS LAST by default (DuckDB's default) " +
      "and resolves select-list aliases in the order list") {
    import spark.implicits._
    Seq((1, Some(5.0), "a"), (1, None, "b"), (2, Some(1.0), "c"),
      (2, Some(3.0), "d"))
      .toDF("g", "v", "tag").createOrReplaceTempView("don_t")
    // bare ASC order key with NULLs: DuckDB keeps the non-null row
    // first (NULLS LAST); Spark's native default would keep the NULL
    // row. The rewrite must match DuckDB.
    val got = LakeSql.sql(spark, """
      SELECT DISTINCT ON (g) g, v, tag FROM don_t
      ORDER BY g, v""").collect().map(r =>
      (r.getInt(0), if (r.isNullAt(1)) null else r.getDouble(1),
        r.getString(2)))
    assert(got.toSeq == Seq((1, 5.0, "a"), (2, 1.0, "c")))
    // alias of a computed expression as an order item: must substitute
    // the source expression into the window ORDER BY (a lateral alias
    // cannot resolve inside an OVER clause).
    val aliased = LakeSql.sql(spark, """
      SELECT DISTINCT ON (g) g, v * 2 AS bal FROM don_t
      ORDER BY g, bal DESC""").collect().map(r =>
      (r.getInt(0), if (r.isNullAt(1)) null else r.getDouble(1)))
    assert(aliased.toSeq == Seq((1, 10.0), (2, 6.0)))
  }

  test("ORDER BY ALL sorts NULLS LAST, matching DuckDB's default") {
    import spark.implicits._
    Seq(Some(2), None, Some(1)).toDF("v")
      .createOrReplaceTempView("oba_t")
    val got = LakeSql.sql(spark, "SELECT v FROM oba_t ORDER BY ALL")
      .collect().map(r => if (r.isNullAt(0)) null else r.getInt(0))
    assert(got.toSeq == Seq(1, 2, null))
  }

  test("USING SAMPLE drops rows with NULL keys (NULL-propagating " +
      "concat, matching the oracle's || replay)") {
    import spark.implicits._
    Seq((Some("a"), Some("b")), (Some("a"), None), (None, Some("b")))
      .toDF("k1", "k2").createOrReplaceTempView("smp_t")
    // 99.99% sample: every hashable row kept; NULL-keyed rows dropped.
    val got = LakeSql.sql(spark, """SELECT k1, k2 FROM smp_t
      USING SAMPLE 99.99 PERCENT (k1, k2)""").collect()
    assert(got.length == 1 && got.head.getString(0) == "a" &&
      got.head.getString(1) == "b")
  }

  test("CREATE VIEW over read_parquet stores the ORIGINAL text (file " +
      "path, not a session temp-view name) and re-resolves on read") {
    Sql.open(spark, sfDir)
    val v = "vtf_" + java.util.UUID.randomUUID().toString
      .replace("-", "").take(8)
    LakeSql.sql(spark, s"""CREATE VIEW $v AS
      SELECT COUNT(*) AS n FROM read_parquet('$sfDir/nation.parquet')""")
    // catalog text must hold the table function, not __tf_…
    val meta = LakeSql.tablesMeta(spark).collect()
      .find(_.getString(0) == v)
    assert(meta.isDefined && meta.get.getString(1) == "view")
    // drop every session temp view the rewrite may have registered:
    // the view must still resolve from its stored text alone.
    spark.catalog.listTables().collect()
      .filter(t => t.name.startsWith("__tf_") && t.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
    val n = LakeSql.table(spark, v).collect().head.getLong(0)
    assert(n == Tables.nation(spark, sfDir).count())
    LakeSql.sql(spark, s"DROP VIEW $v")
  }

  test("INSERT BY NAME and column-list INSERT bind by name with NULL " +
      "fill; unknown source columns refuse") {
    Sql.open(spark, sfDir)
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val t = s"ibn_spec_$tag"
    LakeSql.sql(spark, s"""CREATE TABLE $t USING deltalite
      LOCATION '${Scratch.dir("ibnspec")}/$t'
      AS SELECT c_custkey, c_name, c_acctbal FROM customer
      WHERE c_custkey < 0""")
    // BY NAME: source columns reversed relative to the target order.
    LakeSql.sql(spark, s"""INSERT INTO $t BY NAME
      SELECT c_acctbal, c_custkey FROM customer WHERE c_custkey <= 5""")
    val rows = LakeSql.sql(spark,
      s"SELECT c_custkey, c_name, c_acctbal FROM $t ORDER BY c_custkey")
      .collect()
    assert(rows.length == 6 && rows.forall(_.isNullAt(1)))
    val want = Tables.customer(spark, sfDir)
      .filter(col("c_custkey") <= 5)
      .select(col("c_custkey"), col("c_acctbal"))
      .orderBy(col("c_custkey")).collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(2))).toSeq ==
      want.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // column-list form: count must match, unknown columns refuse
    LakeSql.sql(spark, s"""INSERT INTO $t (c_name, c_custkey)
      SELECT c_name, c_custkey FROM customer
      WHERE c_custkey > 5 AND c_custkey <= 8""")
    val added = LakeSql.sql(spark,
      s"SELECT COUNT(*) AS n FROM $t WHERE c_acctbal IS NULL")
      .collect().head.getLong(0)
    assert(added == 3)
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, s"""INSERT INTO $t BY NAME
        SELECT c_custkey, c_mktsegment FROM customer LIMIT 1""")
    }
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, s"""INSERT INTO $t (c_custkey)
        SELECT c_custkey, c_name FROM customer LIMIT 1""")
    }
    LakeSql.sql(spark, s"DROP TABLE $t")
  }

  test("EXPLAIN ANALYZE reports the executed plan with real output-row " +
      "counts: the scan count matches the table, the aggregate emits " +
      "one row per group") {
    Sql.open(spark, sfDir)
    val prof = LakeSql.sql(spark, """EXPLAIN ANALYZE
      SELECT c_mktsegment, COUNT(*) AS n
      FROM customer GROUP BY c_mktsegment""")
    assert(prof.columns.toSeq == Seq("op", "depth", "operator", "rows"))
    val rows = prof.collect()
    val total = Tables.customer(spark, sfDir).count()
    val groups = Tables.customer(spark, sfDir)
      .select(col("c_mktsegment")).distinct().count()
    // the scan emitted every row, some aggregate emitted one per group
    assert(rows.exists(r => r.getString(2).toLowerCase.contains("scan")
      && !r.isNullAt(3) && r.getLong(3) == total), rows.mkString("\n"))
    assert(rows.exists(r => r.getString(2).toLowerCase.contains("aggregate")
      && !r.isNullAt(3) && r.getLong(3) == groups), rows.mkString("\n"))
  }

  test("FROM-first statements: SELECT-less forms rewrite to SELECT *, " +
      "FROM…SELECT parses natively, table functions compose") {
    Sql.open(spark, sfDir)
    val want = Tables.nation(spark, sfDir)
      .filter(col("n_regionkey") === 1).count()
    assert(LakeSql.sql(spark,
      "FROM nation WHERE n_regionkey = 1").count() == want)
    // bare FROM = full SELECT *
    assert(LakeSql.sql(spark, "FROM region").count() == 5)
    assert(LakeSql.sql(spark, "FROM region").columns.length ==
      Tables.region(spark, sfDir).columns.length)
    // ORDER BY / LIMIT tails survive the rewrite
    val top = LakeSql.sql(spark,
      "FROM nation ORDER BY n_nationkey DESC LIMIT 3").collect()
    assert(top.length == 3 && top.head.getAs[Int]("n_nationkey") == 24)
    // FROM-first WITH a select list is native in both engines
    assert(LakeSql.sql(spark,
      "FROM nation SELECT n_name WHERE n_regionkey = 1").columns.toSeq
      == Seq("n_name"))
    // composes with the file table functions (rewrite order)
    val p = s"${sfDir}/region.parquet"
    assert(LakeSql.sql(spark,
      s"FROM read_parquet('$p') WHERE r_regionkey > 2").count() == 2)
  }

  test("COLUMNS('regex') expands in table order with DuckDB naming: " +
      "bare, inside aggregates, with \\0 alias templates; zero " +
      "matches refuse") {
    Sql.open(spark, sfDir)
    // bare: projection in table order
    val bare = LakeSql.sql(spark,
      "SELECT COLUMNS('^n_') FROM nation WHERE n_nationkey = 3")
    assert(bare.columns.toSeq ==
      Seq("n_nationkey", "n_name", "n_regionkey"))
    // aggregate: default naming is the bare column name
    val agg = LakeSql.sql(spark,
      "SELECT MAX(COLUMNS('n_(nationkey|regionkey)')) FROM nation")
    assert(agg.columns.toSeq == Seq("n_nationkey", "n_regionkey"))
    assert(agg.head.getInt(0) == 24 && agg.head.getInt(1) == 4)
    // alias template: \0 substitutes each column name
    val al = LakeSql.sql(spark, """SELECT
      MIN(COLUMNS('n_(nationkey|regionkey)')) AS "lo_\0" FROM nation""")
    assert(al.columns.toSeq == Seq("lo_n_nationkey", "lo_n_regionkey"))
    // partial (unanchored) matching, DuckDB semantics
    assert(LakeSql.sql(spark,
      "SELECT COLUMNS('regionkey') FROM nation LIMIT 1")
      .columns.toSeq == Seq("n_regionkey"))
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "SELECT COLUMNS('zzz') FROM nation")
    }
    // the expansion happens BEFORE the parse, so column pruning
    // reaches the parquet scan: only matched columns + group key read
    val plan = LakeSql.sql(spark, """SELECT l_returnflag,
      MIN(COLUMNS('l_(quantity|discount)')) AS "lo_\0"
      FROM lineitem GROUP BY l_returnflag""").queryExecution
      .executedPlan.toString
    val rs = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(rs.contains("l_returnflag") && rs.contains("l_quantity") &&
      rs.contains("l_discount") && !rs.contains("l_extendedprice"), rs)
  }

  test("generate_series / range table functions: DuckDB stop " +
      "conventions, 1-arg form, descending, empty, lazy Range source") {
    Sql.open(spark, sfDir)
    def vals(q: String): Seq[Long] =
      LakeSql.sql(spark, q).collect().map(_.getLong(0)).toSeq
    // generate_series stop is INCLUSIVE; range stop is EXCLUSIVE
    assert(vals("SELECT generate_series FROM generate_series(1, 5)") ==
      Seq(1L, 2L, 3L, 4L, 5L))
    assert(vals("SELECT range FROM range(1, 5)") == Seq(1L, 2L, 3L, 4L))
    // 1-arg form counts from 0 (series inclusive, range exclusive)
    assert(vals("SELECT generate_series FROM generate_series(3)") ==
      Seq(0L, 1L, 2L, 3L))
    assert(vals("SELECT range FROM range(3)") == Seq(0L, 1L, 2L))
    // step: stride, descending, and the not-evenly-divisible stop
    assert(vals("SELECT generate_series FROM generate_series(1, 10, 4)")
      == Seq(1L, 5L, 9L))
    assert(vals("SELECT range FROM range(5, 0, -2)") == Seq(5L, 3L, 1L))
    // empty intervals yield zero rows, never an error
    assert(vals("SELECT generate_series FROM generate_series(5, 1)")
      .isEmpty)
    assert(vals("SELECT range FROM range(0)").isEmpty)
    // alias + JOIN position both bind
    assert(LakeSql.sql(spark, """
      SELECT g.generate_series + r.range AS s
      FROM generate_series(1, 2) g JOIN range(1) r ON TRUE
      ORDER BY s""").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // window RANGE frames are NOT table functions — untouched
    val w = LakeSql.sql(spark, """
      SELECT o_orderkey, SUM(o_totalprice) OVER (ORDER BY o_orderkey
        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r
      FROM orders WHERE o_orderkey <= 7""")
    assert(w.count() > 0)
    // refusals: zero step, non-literal args
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "SELECT * FROM generate_series(1, 5, 0)")
    }
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "SELECT * FROM range(1, n_nationkey)")
    }
    // the binding is Spark's lazy Range source (distributed,
    // codegen-generated rows) — not a materialized array
    val plan = LakeSql.sql(spark,
      "SELECT generate_series FROM generate_series(1, 1000000)")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Range ("), plan)
  }

  test("temporal generate_series/range: cumulative interval stepping " +
      "with sticky day clamps, inclusive vs exclusive stop, NTZ type") {
    def days(q: String): Seq[String] =
      LakeSql.sql(spark, q).collect()
        .map(_.getAs[java.time.LocalDateTime](0).toLocalDate.toString)
        .toSeq
    // DuckDB steps cumulatively: Jan 31 +1 month clamps to Feb 28 and
    // the clamp STICKS (Mar 28, Apr 28) — not start + i*month (Mar 31)
    assert(days("""SELECT generate_series FROM generate_series(
        DATE '1995-01-31', DATE '1995-05-01', INTERVAL 1 MONTH)""") ==
      Seq("1995-01-31", "1995-02-28", "1995-03-28", "1995-04-28"))
    // generate_series stop INCLUSIVE, range stop EXCLUSIVE
    assert(days("""SELECT generate_series FROM generate_series(
        DATE '1995-01-01', DATE '1995-03-01', INTERVAL 1 MONTH)""") ==
      Seq("1995-01-01", "1995-02-01", "1995-03-01"))
    assert(days("""SELECT range FROM range(
        DATE '1995-01-01', DATE '1995-03-01', INTERVAL 1 MONTH)""") ==
      Seq("1995-01-01", "1995-02-01"))
    // timestamps + sub-day units; descending
    val hrs = LakeSql.sql(spark, """SELECT range FROM range(
        TIMESTAMP '1995-01-01 00:00:00', TIMESTAMP '1995-01-01 03:30:00',
        INTERVAL 1 HOUR)""").collect()
      .map(_.getAs[java.time.LocalDateTime](0).getHour).toSeq
    assert(hrs == Seq(0, 1, 2, 3))
    assert(days("""SELECT generate_series FROM generate_series(
        DATE '1995-01-05', DATE '1995-01-02', INTERVAL -1 DAY)""") ==
      Seq("1995-01-05", "1995-01-04", "1995-01-03", "1995-01-02"))
    // empty interval; zero step refuses; runaway spine refuses
    assert(days("""SELECT generate_series FROM generate_series(
        DATE '1995-03-01', DATE '1995-01-01', INTERVAL 1 DAY)""").isEmpty)
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, """SELECT * FROM generate_series(
        DATE '1995-01-01', DATE '1995-02-01', INTERVAL 0 DAY)""")
    }
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, """SELECT * FROM generate_series(
        DATE '0001-01-01', DATE '9999-01-01', INTERVAL 1 SECOND)""")
    }
    // the column is TimestampNTZ (DuckDB's naive TIMESTAMP — the
    // parquet round-trip is timezone-independent)
    val tpe = LakeSql.sql(spark, """SELECT generate_series FROM
        generate_series(DATE '1995-01-01', DATE '1995-01-02',
        INTERVAL 1 DAY)""").schema.head.dataType
    assert(tpe == org.apache.spark.sql.types.TimestampNTZType, tpe)
  }

  test("DML RETURNING: DELETE pre-image, UPDATE post-image, INSERT " +
      "read-back on both providers, star expansion, refusals") {
    Sql.open(spark, sfDir)
    for (provider <- Seq("deltalite", "iceberglite")) {
      val t = s"${Scratch.dir("returning")}/t"
      LakeSql.sql(spark, "DROP TABLE IF EXISTS rt")
      LakeSql.sql(spark, s"""
        CREATE TABLE rt USING $provider LOCATION '$t' AS
        SELECT n_nationkey, n_name, n_regionkey FROM nation""")
      // INSERT … RETURNING reads back what the commit wrote
      val ins = LakeSql.sql(spark, """
        INSERT INTO rt VALUES (97, 'ATLANTIS', 9), (98, 'LEMURIA', 9)
        RETURNING n_nationkey, n_name""").collect()
        .map(r => (r.getInt(0), r.getString(1))).sorted
      assert(ins.toSeq == Seq((97, "ATLANTIS"), (98, "LEMURIA")),
        s"$provider: $ins")
      // UPDATE … RETURNING returns the POST-image of matching rows
      val upd = LakeSql.sql(spark, """
        UPDATE rt SET n_regionkey = n_regionkey + 10
        WHERE n_nationkey >= 97 RETURNING n_nationkey, n_regionkey""")
        .collect().map(r => (r.getInt(0), r.getInt(1))).sorted
      assert(upd.toSeq == Seq((97, 19), (98, 19)), s"$provider: $upd")
      assert(LakeSql.sql(spark,
        "SELECT n_regionkey FROM rt WHERE n_nationkey = 97")
        .collect().head.getInt(0) == 19, provider)
      // DELETE … RETURNING * expands to the table columns and returns
      // exactly the deleted rows
      val del = LakeSql.sql(spark,
        "DELETE FROM rt WHERE n_nationkey >= 97 RETURNING *")
      assert(del.columns.toSeq ==
        Seq("n_nationkey", "n_name", "n_regionkey"), provider)
      assert(del.count() == 2, provider)
      assert(LakeSql.sql(spark,
        "SELECT COUNT(*) AS n FROM rt WHERE n_nationkey >= 97")
        .collect().head.getLong(0) == 0, provider)
      LakeSql.sql(spark, "DROP TABLE rt")
    }
    // ON CONFLICT … RETURNING refuses (affected set not reconstructible)
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, """INSERT INTO rt VALUES (1, 'X', 1)
        ON CONFLICT (n_nationkey) DO NOTHING RETURNING n_nationkey""")
    }
  }

  test("DML RETURNING edges: UPDATE reports the STORED (declared-type) " +
      "value; INSERT OVERWRITE refuses; overwrite pre-rows never leak") {
    Sql.open(spark, sfDir)
    val t = s"${Scratch.dir("returning2")}/t"
    LakeSql.sql(spark, "DROP TABLE IF EXISTS rt2")
    LakeSql.sql(spark, s"""
      CREATE TABLE rt2 USING deltalite LOCATION '$t' AS
      SELECT n_nationkey, n_regionkey FROM nation WHERE n_nationkey < 3""")
    // the assignment expression is fractional, but the column is INT —
    // RETURNING must report what the write path STORED (the cast
    // value), not the expression's wider type
    val upd = LakeSql.sql(spark, """
      UPDATE rt2 SET n_regionkey = n_nationkey / 2 + 0.6
      WHERE n_nationkey = 2 RETURNING n_nationkey, n_regionkey""")
      .collect().head
    val stored = LakeSql.sql(spark,
      "SELECT n_regionkey FROM rt2 WHERE n_nationkey = 2")
      .collect().head.getInt(0)
    assert(upd.getInt(1) == stored, s"returned ${upd.getInt(1)} " +
      s"but stored $stored")
    // INSERT OVERWRITE … RETURNING refuses (a diff would report the
    // overwritten pre-rows as inserted; DuckDB has no INSERT OVERWRITE)
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, """INSERT OVERWRITE rt2
        SELECT n_nationkey, n_regionkey FROM nation
        RETURNING n_nationkey""")
    }
    LakeSql.sql(spark, "DROP TABLE rt2")
  }

  test("bare INSERT binds POSITIONALLY even when source aliases name " +
      "target columns in a different order") {
    Sql.open(spark, sfDir)
    val t = s"${Scratch.dir("posins")}/t"
    LakeSql.sql(spark, "DROP TABLE IF EXISTS pi_t")
    LakeSql.sql(spark, s"""
      CREATE TABLE pi_t USING deltalite LOCATION '$t' AS
      SELECT CAST(1 AS INT) AS a, CAST(2 AS INT) AS b
      FROM nation WHERE n_nationkey < 0""")
    // source columns are aliased (b, a) — SQL binds a bare INSERT
    // left-to-right by POSITION, so 10 lands in a and 20 in b
    LakeSql.sql(spark, """
      INSERT INTO pi_t SELECT CAST(10 AS INT) AS b, CAST(20 AS INT) AS a
      FROM nation WHERE n_nationkey = 0""")
    val r = LakeSql.sql(spark, "SELECT a, b FROM pi_t").collect().head
    assert((r.getInt(0), r.getInt(1)) == ((10, 20)),
      s"positional INSERT reordered: $r")
    // arity mismatch without a column list refuses loudly
    intercept[Exception] {
      LakeSql.sql(spark, """INSERT INTO pi_t
        SELECT CAST(1 AS INT) AS a, CAST(2 AS INT) AS b,
               CAST(3 AS INT) AS c
        FROM nation WHERE n_nationkey = 0""")
    }
    LakeSql.sql(spark, "DROP TABLE pi_t")
  }

  test("unnest(): element rows, DuckDB naming, NULL/empty drop, " +
      "generator plan, multiple-unnest refusal") {
    Sql.open(spark, sfDir)
    // default column name is `unnest`; other select items repeat
    val df = LakeSql.sql(spark, """
      SELECT n_nationkey, unnest(ARRAY(1, 2)) FROM nation
      WHERE n_nationkey < 2 ORDER BY n_nationkey, unnest""")
    assert(df.columns.toSeq == Seq("n_nationkey", "unnest"))
    assert(df.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((0, 1), (0, 2), (1, 1), (1, 2)))
    // NULL and empty lists emit no rows (DuckDB's rule = explode's)
    val e = LakeSql.sql(spark, """
      SELECT unnest(CASE WHEN n_nationkey = 0 THEN ARRAY(7)
                         WHEN n_nationkey = 1 THEN ARRAY()
                         ELSE NULL END) AS v
      FROM nation WHERE n_nationkey < 3""").collect()
    assert(e.map(_.getInt(0)).toSeq == Seq(7))
    // the rewrite produces a GENERATOR on the scan partitioning — no
    // exchange between the file scan and the Generate
    val plan = LakeSql.sql(spark, """
      SELECT unnest(embedding) AS c FROM embeddings""")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Generate explode"), plan)
    assert(!plan.contains("Exchange"), plan)
    // TWO unnests ZIP positionally (DuckDB's rule), padding the
    // shorter list with NULL — rewritten to one exploded zip_with
    val z = LakeSql.sql(spark, """
      SELECT n_nationkey, unnest(ARRAY(1, 2, 3)) AS a,
             unnest(ARRAY(10, 20)) AS b
      FROM nation WHERE n_nationkey = 0 ORDER BY a""").collect()
    assert(z.map(r => (r.getInt(1),
      if (r.isNullAt(2)) -1 else r.getInt(2))).toSeq ==
      Seq((1, 10), (2, 20), (3, -1)))
    // the zip is still ONE generator — no exchange before the Generate
    val zplan = LakeSql.sql(spark, """
      SELECT unnest(embedding) AS a, unnest(embedding) AS b
      FROM embeddings""").queryExecution.executedPlan.toString
    assert(zplan.contains("Generate explode"), zplan)
    assert(!zplan.contains("Exchange"), zplan)
    // zipped items need explicit aliases (both would claim `unnest`)
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "SELECT unnest(ARRAY(1)), unnest(ARRAY(2)) FROM nation")
    }
    // 3+ unnests refuse loudly (n-ary zip not implemented)
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "SELECT unnest(ARRAY(1)) AS a, " +
        "unnest(ARRAY(2)) AS b, unnest(ARRAY(3)) AS c FROM nation")
    }
    // list_transform/list_filter are the Spark higher-order functions
    // under DuckDB names — same lambda grammar, and they compose with
    // unnest in one statement
    val lam = LakeSql.sql(spark, """
      SELECT n_nationkey,
             unnest(list_transform(
               list_filter(ARRAY(1, 2, 3, 4), x -> x % 2 = 0),
               x -> x * 10)) AS v
      FROM nation WHERE n_nationkey = 0 ORDER BY v""").collect()
    assert(lam.map(_.getInt(1)).toSeq == Seq(20, 40))
    // list_* name maps: sort is ASC NULLS LAST (DuckDB's rule — Spark's
    // sort_array would put NULLs first); contains is two-valued even
    // over NULL-carrying lists (coalesce pins DuckDB's FALSE)
    val lf = LakeSql.sql(spark, """
      SELECT list_sort(ARRAY(3, 1, NULL, 2)) AS srt,
             list_contains(ARRAY(1, 2, NULL), 5) AS absent,
             list_contains(ARRAY(1, 2, NULL), 2) AS present,
             list_min(ARRAY(3, 1, NULL)) AS mn,
             list_max(ARRAY(3, 1, NULL)) AS mx,
             list_reverse(ARRAY(1, 2, 3)) AS rev,
             list_concat(ARRAY(1), ARRAY(2, 3)) AS cat
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(lf.getSeq[Any](0) == Seq(1, 2, 3, null), lf.getSeq[Any](0))
    assert(!lf.getBoolean(1) && lf.getBoolean(2))
    assert(lf.getInt(3) == 1 && lf.getInt(4) == 3)
    assert(lf.getSeq[Int](5) == Seq(3, 2, 1))
    assert(lf.getSeq[Int](6) == Seq(1, 2, 3))
    // string_split: literal separator regex-quoted ('.' must not match
    // every char), trailing empties kept (DuckDB's rule), computed
    // separators refuse
    val ss = LakeSql.sql(spark, """
      SELECT string_split('a.b.', '.') AS dots,
             string_split('x|y', '|') AS pipe,
             string_split('a,', ',') AS trail
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(ss.getSeq[String](0) == Seq("a", "b", ""), ss.getSeq[String](0))
    assert(ss.getSeq[String](1) == Seq("x", "y"))
    assert(ss.getSeq[String](2) == Seq("a", ""))
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "SELECT string_split(n_name, n_comment) FROM nation")
    }
  }

  test("list_slice / bracket slicing / array_to_string: 1-based " +
      "inclusive bounds, end clamping, CSV serialization") {
    Sql.open(spark, sfDir)
    val r = LakeSql.sql(spark, """
      SELECT list_slice(ARRAY(10, 20, 30, 40, 50), 2, 4) AS mid,
             list_slice(ARRAY(10, 20, 30), 2, 9) AS clamped,
             arr[2:3] AS brk,
             array_to_string(ARRAY('a', 'b', 'c'), ',') AS csv,
             'doc[1:2]' AS lit
      FROM (SELECT n_nationkey, ARRAY(10, 20, 30, 40) AS arr FROM nation)
      WHERE n_nationkey = 0""").collect().head
    assert(r.getSeq[Int](0) == Seq(20, 30, 40), r.getSeq[Int](0))
    assert(r.getSeq[Int](1) == Seq(20, 30)) // clamps past the end
    assert(r.getSeq[Int](2) == Seq(20, 30))
    assert(r.getString(3) == "a,b,c")
    // slice syntax inside a STRING LITERAL survives untouched
    assert(r.getString(4) == "doc[1:2]")
    // begin > end is DuckDB's EMPTY slice, not an error — pinned:
    // [1,2,3,4][4:2] = [] and list_slice([1,2,3,4], 4, 2) = []; the
    // rewrite floors the slice length at 0 on both spellings (a bare
    // e-b+1 length would throw at Spark runtime)
    val e = LakeSql.sql(spark, """
      SELECT arr[4:2] AS brk_empty,
             list_slice(arr, 4, 2) AS ls_empty,
             list_slice(arr, n_nationkey + 4, n_nationkey + 2)
               AS computed_empty
      FROM (SELECT n_nationkey, ARRAY(10, 20, 30, 40) AS arr FROM nation)
      WHERE n_nationkey = 0""").collect().head
    assert(e.getSeq[Int](0).isEmpty && e.getSeq[Int](1).isEmpty &&
      e.getSeq[Int](2).isEmpty)
    // bracket bounds stay 1-based positive: 0 (and negative from-end
    // indexes, which DuckDB counts from the tail) refuse at rewrite time
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "SELECT x[0:2] AS v FROM nation")
    }
  }

  test("list extras: len, list_unique/list_distinct NULL handling, " +
      "list_sum skip-NULL + NULL-on-empty, list_position 0-on-miss") {
    Sql.open(spark, sfDir)
    val r = LakeSql.sql(spark, """
      SELECT CAST(len(ARRAY(7, 8, 9)) AS BIGINT) AS n,
             CAST(list_unique(ARRAY(3, 1, NULL, 3, 2, 1)) AS BIGINT)
               AS uniq,
             list_sort(list_distinct(ARRAY(3, 1, NULL, 3, 2, 1))) AS dst,
             list_sum(ARRAY(CAST(1.5 AS DOUBLE), NULL, 2.5)) AS total,
             list_sum(list_filter(ARRAY(CAST(1 AS DOUBLE)),
               x -> x > 5)) AS empty_sum,
             CAST(list_position(ARRAY(10, 20, 30), 20) AS BIGINT) AS hit,
             CAST(list_indexof(ARRAY(10, 20, 30), 99) AS BIGINT) AS miss,
             flatten(ARRAY(ARRAY(1, 2), ARRAY(3))) AS flat,
             CAST(array_length(ARRAY(1, 2)) AS BIGINT) AS alen
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(r.getLong(0) == 3L)
    // list_unique counts distinct NON-NULL elements (DuckDB 1.0: 3)
    assert(r.getLong(1) == 3L)
    // list_distinct removes dups AND NULLs (order pinned by list_sort)
    assert(r.getSeq[Int](2) == Seq(1, 2, 3), r.getSeq[Int](2))
    // list_sum skips NULL elements; an empty fold is NULL, not 0
    assert(r.getDouble(3) == 4.0)
    assert(r.isNullAt(4))
    // 1-based position; 0 on miss (both engines)
    assert(r.getLong(5) == 2L && r.getLong(6) == 0L)
    assert(r.getSeq[Int](7) == Seq(1, 2, 3))
    assert(r.getLong(8) == 2L)
    // list_has_any / list_has_all with DuckDB 1.0's NULL rules:
    // NULLs never match has_any; NULL needles are ignored by has_all;
    // an empty needle list is trivially TRUE
    val h = LakeSql.sql(spark, """
      SELECT list_has_any(ARRAY(1, 2), ARRAY(2, 3)) AS any_hit,
             list_has_any(ARRAY(1), ARRAY(3)) AS any_miss,
             list_has_any(ARRAY(1, NULL), ARRAY(NULL)) AS any_null,
             list_has_all(ARRAY(1, 2, 3), ARRAY(2, 3)) AS all_hit,
             list_has_all(ARRAY(1, 2), ARRAY(2, 9)) AS all_miss,
             list_has_all(ARRAY(1, 2), list_filter(ARRAY(1),
               x -> x > 5)) AS all_empty,
             list_has_all(ARRAY(1, NULL), ARRAY(CAST(NULL AS INT)))
               AS all_null,
             levenshtein('kitten', 'sitting') AS lev
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(h.getBoolean(0) && !h.getBoolean(1) && !h.getBoolean(2))
    assert(h.getBoolean(3) && !h.getBoolean(4))
    assert(h.getBoolean(5) && h.getBoolean(6))
    // levenshtein is a shared-name passthrough (same edit distance)
    assert(h.getInt(7) == 3)
    // list_aggregate dispatch sugar: sum/min/max/count/string_agg,
    // DuckDB's NULL rules riding the underlying rewrites
    val la = LakeSql.sql(spark, """
      SELECT list_aggregate(ARRAY(CAST(1.5 AS DOUBLE), NULL, 2.5),
               'sum') AS s,
             list_aggregate(ARRAY(3, 1, 2), 'min') AS mn,
             list_aggregate(ARRAY(3, 1, 2), 'max') AS mx,
             CAST(list_aggregate(ARRAY(1, NULL, 2), 'count') AS BIGINT)
               AS cnt,
             list_aggregate(ARRAY('b', 'a'), 'string_agg', ',') AS sa
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(la.getDouble(0) == 4.0)
    assert(la.getInt(1) == 1 && la.getInt(2) == 3)
    assert(la.getLong(3) == 2L) // NULLs don't count
    assert(la.getString(4) == "b,a")
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "SELECT list_aggregate(ARRAY(1), 'histogram') FROM nation")
    }
  }

  test("IGNORE NULLS placement: DuckDB's in-paren modifier moves to " +
      "Spark's post-paren grammar; CASE args survive; RESPECT NULLS") {
    Sql.open(spark, sfDir)
    val r = LakeSql.sql(spark, """
      SELECT i,
             last_value(CASE WHEN x > 0 THEN x END IGNORE NULLS)
               OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS locf,
             last_value(x RESPECT NULLS)
               OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS raw
      FROM (SELECT n_nationkey AS i,
                   CASE WHEN n_nationkey % 2 = 0 THEN n_nationkey
                        ELSE NULL END AS x
            FROM nation WHERE n_nationkey < 4)
      ORDER BY i""").collect()
    // x = [0, NULL, 2, NULL]; the CASE x>0 guard also drops the 0:
    // locf = [NULL, NULL, 2, 2 carried]; raw = x verbatim
    assert(r.map(row => (row.getInt(0),
      if (row.isNullAt(1)) -1 else row.getInt(1),
      if (row.isNullAt(2)) -1 else row.getInt(2))).toSeq ==
      Seq((0, -1, 0), (1, -1, -1), (2, 2, 2), (3, 2, -1)))
  }

  test("rewrite literal-safety + zip scope: name maps never touch " +
      "quoted data values; cross-scope unnest zip refuses") {
    Sql.open(spark, sfDir)
    // collision-prone tokens inside STRING LITERALS survive the name
    // maps (len(, map(, array_to_string( are rewritten outside quotes
    // only — same split technique as bracket slicing)
    val r = LakeSql.sql(spark, """
      SELECT 'len(x)' AS lit_len, 'map(a)' AS lit_map,
             'array_to_string(v)' AS lit_ats,
             CAST(len(ARRAY(1, 2)) AS BIGINT) AS real_len,
             array_to_string(map_keys(map(ARRAY('k'), ARRAY(1))), '')
               AS real_map
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(r.getString(0) == "len(x)" && r.getString(1) == "map(a)")
    assert(r.getString(2) == "array_to_string(v)")
    assert(r.getLong(3) == 2L && r.getString(4) == "k")
    // array_to_string pins DuckDB's NULL contract: NULL when the list
    // has zero non-NULL elements (empty or all-NULL — Spark's
    // array_join would give ''), NULL elements skipped otherwise
    val ats = LakeSql.sql(spark, """
      SELECT array_to_string(list_filter(ARRAY(1), x -> x > 5), ',')
               AS empty_j,
             array_to_string(ARRAY(CAST(NULL AS STRING)), ',')
               AS allnull_j,
             array_to_string(ARRAY('a', NULL, 'b'), ',') AS skip_j
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(ats.isNullAt(0) && ats.isNullAt(1))
    assert(ats.getString(2) == "a,b")
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "SELECT array_to_string(ARRAY('a'), ',', 'N') FROM nation")
    }
    // two unnest() calls in DIFFERENT SELECT scopes refuse loudly
    // (DuckDB zips positionally only within one select list) instead
    // of failing analysis with an unresolved __zs reference
    val ex1 = intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "SELECT unnest(ARRAY(1)) AS a FROM nation UNION ALL " +
          "SELECT unnest(ARRAY(2)) AS a FROM nation")
    }
    assert(ex1.getMessage.contains("different SELECT scopes"))
    val ex2 = intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "SELECT unnest(ARRAY(1)) AS a, (SELECT MAX(u) FROM (SELECT " +
          "unnest(ARRAY(2)) AS u FROM nation)) AS b FROM nation")
    }
    assert(ex2.getMessage.contains("different SELECT scopes"))
  }

  test("scalar math/string pins: log is log10, left/right negative " +
      "lengths, substr 0-start, // integer-divides") {
    Sql.open(spark, sfDir)
    val r = LakeSql.sql(spark, """
      SELECT CAST(round(log(CAST(100 AS DOUBLE)) * 1000) AS BIGINT)
               AS log10_m,
             CAST(round(log(2, CAST(8 AS DOUBLE)) * 1000) AS BIGINT)
               AS log2_m,
             left('abc', -1) AS l_neg, right('abc', -1) AS r_neg,
             left('abc', 0) AS l_zero, right('abc', 0) AS r_zero,
             left('abc', 5) AS l_over, right('abc', -5) AS r_under,
             left('abc', 2) AS l_pos, right('abc', 2) AS r_pos,
             substr('abcdef', 0, 3) AS s0,
             substr('abcdef', -2, 2) AS s_neg
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(r.getLong(0) == 2000L && r.getLong(1) == 3000L) // log10, base
    assert(r.getString(2) == "ab" && r.getString(3) == "bc")
    assert(r.getString(4) == "" && r.getString(5) == "")
    assert(r.getString(6) == "abc" && r.getString(7) == "")
    assert(r.getString(8) == "ab" && r.getString(9) == "bc")
    assert(r.getString(10) == "ab" && r.getString(11) == "ef")
    // NULL length propagates (greatest would otherwise swallow it)
    val n = LakeSql.sql(spark, """
      SELECT left('abc', CAST(NULL AS INT)) AS ln,
             right('abc', CAST(NULL AS INT)) AS rn
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(n.isNullAt(0) && n.isNullAt(1))
    // second batch: arg_max/min names, quantile_cont = exact
    // interpolated percentile on DOUBLE, printf directives, epoch
    // family keeps fractional seconds, regexp_split_to_array keeps
    // leading/trailing empties
    val b = LakeSql.sql(spark, """
      SELECT arg_max(n_name, n_nationkey) AS amax,
             arg_min(n_name, n_nationkey) AS amin,
             CAST(round(quantile_cont(CAST(n_nationkey AS DOUBLE),
               0.25) * 100) AS BIGINT) AS q1,
             printf('%s#%d', 'x', 7) AS fmt,
             CAST(epoch(TIMESTAMP '2020-01-01 00:00:01.5') * 10
               AS BIGINT) AS ep,
             CAST(epoch_ms(TIMESTAMP '2020-01-01 00:00:01.5')
               AS BIGINT) AS epms,
             CAST(epoch_us(TIMESTAMP '2020-01-01 00:00:01.5')
               AS BIGINT) AS epus,
             array_to_string(regexp_split_to_array('1a1', '[0-9]+'),
               '.') AS sp
      FROM nation""").collect().head
    assert(b.getString(3) == "x#7")
    assert(b.getLong(4) == 15778368015L && b.getLong(5) == 1577836801500L)
    assert(b.getLong(6) == 1577836801500000L && b.getString(7) == ".a.")
    assert(b.getLong(2) == 600L) // 25 keys: quantile .25 of 0..24 = 6
    // third batch: sha256 = sha2-256 (same hex), ends_with/to_hex name
    // maps, string_to_array = string_split, and the SWAPPED-argument
    // 2-arg trims (DuckDB (string, chars) vs Spark (trimStr, string) —
    // unswapped, 'xxabcxx' trimmed by 'x' would return the trim SET)
    val h = LakeSql.sql(spark, """
      SELECT sha256('a') AS sh,
             ends_with('abc', 'bc') AS ew,
             to_hex(255) AS hx,
             ltrim('xxabcxx', 'x') AS lt,
             rtrim('xxabcxx', 'x') AS rt,
             trim('xxabcxx', 'x') AS tr,
             trim('  pad  ') AS tr1,
             array_to_string(string_to_array('a,b', ','), '|') AS sta
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(h.getString(0) ==
      "ca978112ca1bbdcafac231b39a23dc4da786eff8147c4e72b9807785afee48bb")
    assert(h.getBoolean(1) && h.getString(2) == "FF")
    assert(h.getString(3) == "abcxx" && h.getString(4) == "xxabc")
    assert(h.getString(5) == "abc" && h.getString(6) == "pad")
    assert(h.getString(7) == "a|b")
    // skewness/kurtosis: DuckDB's SAMPLE-corrected G1/G2 (pinned:
    // skew {1,2,2,3,9} = 1.9694 vs Spark's population 1.3211; kurt
    // {1,2,2,3,9} = 4.0692) — the correction identities reproduce
    // them; below minimum n both are NULL (DuckDB's rule, and the
    // guard keeps ANSI Spark off the zero divisor)
    val mo = LakeSql.sql(spark, """
      SELECT ROUND(skewness(v), 4) AS sk, ROUND(kurtosis(v), 4) AS ku,
             skewness(CASE WHEN v < 2 THEN v END) AS sk_n1,
             kurtosis(CASE WHEN v <= 2.5 THEN v END) AS ku_n3
      FROM (SELECT unnest(list_value(CAST(1 AS DOUBLE), 2, 2, 3, 9))
              AS v FROM nation WHERE n_nationkey = 0)""").collect().head
    assert(mo.getDouble(0) == 1.9694 && mo.getDouble(1) == 4.0692,
      (mo.getDouble(0), mo.getDouble(1)))
    assert(mo.isNullAt(2) && mo.isNullAt(3))
    // // integer-divides since the x112 operator pins (float LITERAL
    // operands still refuse — DuckDB's 7 // 2.0 = 3.5 is plain
    // division, pinned)
    assert(LakeSql.sql(spark,
      "SELECT n_nationkey // 3 AS d FROM nation WHERE n_nationkey = 7")
      .collect().head.getLong(0) == 2L)
    val ex = intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "SELECT n_nationkey // 3.0 FROM nation")
    }
    assert(ex.getMessage.contains("non-integer"))
    // '//' inside a string literal survives (URL in data)
    assert(LakeSql.sql(spark, """
      SELECT 'http://x' AS u FROM nation WHERE n_nationkey = 0""")
      .collect().head.getString(0) == "http://x")
  }

  test("recursive unnest: one flatten level, NULL inner lists skipped, " +
      "deeper nesting refuses after analysis") {
    Sql.open(spark, sfDir)
    val r = LakeSql.sql(spark, """
      SELECT CAST(e AS DOUBLE) AS e
      FROM (SELECT unnest(list_value(list_value(1.5, 2.5), NULL,
              list_value(3.5)), recursive := true) AS e
            FROM nation WHERE n_nationkey = 0)
      ORDER BY e""").collect().map(_.getDouble(0)).toSeq
    assert(r == Seq(1.5, 2.5, 3.5), r)
    // a 3-level list still has LIST element rows after one flatten —
    // loud refusal, not silent divergence from DuckDB's full flatten
    val ex = intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "SELECT unnest(list_value(list_value(list_value(1))), " +
          "recursive := true) AS e FROM nation")
    }
    assert(ex.getMessage.contains("nested deeper"))
    // flatten + explode is still ONE Generate on the scan partitioning
    val plan = LakeSql.sql(spark, """
      SELECT unnest(list_value(list_slice(embedding, 1, 2),
               list_slice(embedding, 3, 4)), recursive := true) AS e
      FROM embeddings""").queryExecution.executedPlan.toString
    assert(plan.contains("Generate explode"), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("CAST(json -> path AS T[]): lateral JSON expansion via " +
      "from_json; missing path emits zero rows under unnest") {
    Sql.open(spark, sfDir)
    val r = LakeSql.sql(spark, """
      SELECT CAST(e AS BIGINT) AS e
      FROM (SELECT unnest(CAST(('{"a":[1,2,' || CAST(n_nationkey + 5
              AS STRING) || ']}') -> '$.a' AS BIGINT[])) AS e
            FROM nation WHERE n_nationkey = 0)
      ORDER BY e""").collect().map(_.getLong(0)).toSeq
    assert(r == Seq(1L, 2L, 5L), r)
    // VARCHAR[] cast unquotes string elements; missing path → NULL →
    // zero generated rows (both pinned in DuckDB)
    val v = LakeSql.sql(spark, """
      SELECT array_to_string(CAST('{"t":["x","y"]}' -> '$.t'
               AS VARCHAR[]), '|') AS tags,
             CAST(size(CAST('{"a":[1]}' -> '$.zz' AS BIGINT[]))
               AS BIGINT) AS missing_size
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(v.getString(0) == "x|y" && v.isNullAt(1))
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "SELECT CAST(n_comment -> n_name AS BIGINT[]) FROM nation")
    }
    // the lateral expansion is ONE Generate on the scan's own
    // partitioning — no exchange between the file scan and the explode
    val plan = LakeSql.sql(spark, """
      SELECT unnest(CAST(('{"a":[1,' || CAST(n_nationkey AS STRING)
               || ']}') -> '$.a' AS BIGINT[])) AS e
      FROM nation""").queryExecution.executedPlan.toString
    assert(plan.contains("Generate explode"), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("date_diff boundary semantics + date_part 'dow' pin") {
    Sql.open(spark, sfDir)
    val r = LakeSql.sql(spark, """
      SELECT date_diff('month', DATE '2021-01-31', DATE '2021-02-01')
               AS m_boundary,
             date_diff('day', DATE '2021-02-02', DATE '2021-01-31')
               AS d_neg,
             date_diff('year', DATE '2020-12-31', DATE '2021-01-01')
               AS y_boundary,
             CAST(date_part('dow', DATE '2021-03-07') AS BIGINT)
               AS dow_sunday
      FROM nation WHERE n_nationkey = 0""").collect().head
    // boundary crossings, NOT elapsed units (DuckDB's rule)
    assert(r.getInt(0) == 1 && r.getInt(1) == -2 && r.getInt(2) == 1)
    // 2021-03-07 is a Sunday: DuckDB dow = 0 (Spark's dayofweek = 1)
    assert(r.getLong(3) == 0L)
    // sub-day units count unit-GRID crossings too (pinned: hour of
    // 10:59:59 → 11:00:00 is 1; a 59:59 span inside one hour is 0;
    // negatives symmetric; DATE operands cast to midnight, 24 h/day)
    val sub = LakeSql.sql(spark, """
      SELECT date_diff('hour', TIMESTAMP '2020-01-01 10:59:59',
               TIMESTAMP '2020-01-01 11:00:00') AS h1,
             date_diff('hour', TIMESTAMP '2020-01-01 10:00:00',
               TIMESTAMP '2020-01-01 10:59:59') AS h0,
             date_diff('hour', TIMESTAMP '2020-01-02 01:00:00',
               TIMESTAMP '2020-01-01 23:59:00') AS hneg,
             date_diff('hour', DATE '2020-01-01', DATE '2020-01-02')
               AS hday,
             date_diff('minute', TIMESTAMP '2020-01-01 10:59:59',
               TIMESTAMP '2020-01-01 11:01:01') AS mi,
             date_diff('second', TIMESTAMP '2020-01-01 10:59:59.9',
               TIMESTAMP '2020-01-01 11:00:00.1') AS se,
             date_diff('millisecond', TIMESTAMP '2020-01-01 10:00:00.0001',
               TIMESTAMP '2020-01-01 10:00:00.0009') AS ms0,
             date_diff('microsecond', TIMESTAMP '2020-01-01 10:59:59.9995',
               TIMESTAMP '2020-01-01 11:00:00.0005') AS us
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(sub.getLong(0) == 1L && sub.getLong(1) == 0L &&
      sub.getLong(2) == -2L && sub.getLong(3) == 24L)
    assert(sub.getLong(4) == 2L && sub.getLong(5) == 1L &&
      sub.getLong(6) == 0L && sub.getLong(7) == 1000L)
    // date_part('epoch') = fractional epoch seconds (pinned)
    val ep = LakeSql.sql(spark, """
      SELECT date_part('epoch', TIMESTAMP '2020-01-01 00:00:01.5')
        AS e FROM nation WHERE n_nationkey = 0""")
      .collect().head
    assert(ep.getDouble(0) == 1577836801.5)
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "SELECT date_diff('week', " +
        "DATE '2021-01-01', DATE '2021-02-01') FROM nation")
    }
  }

  test("string_agg: in-aggregate ORDER BY onto listagg WITHIN GROUP; " +
      "NULL inputs skipped; unordered form refuses") {
    Sql.open(spark, sfDir)
    val r = LakeSql.sql(spark, """
      SELECT string_agg(x, ',' ORDER BY x) AS asc_all,
             string_agg(x, '|' ORDER BY x DESC) AS desc_all
      FROM (SELECT CASE WHEN n_nationkey = 1 THEN NULL
                        ELSE concat('v', n_nationkey) END AS x
            FROM nation WHERE n_nationkey < 3)""").collect().head
    assert(r.getString(0) == "v0,v2") // NULL skipped, ordered
    assert(r.getString(1) == "v2|v0")
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "SELECT string_agg(n_name, ',') FROM nation")
    }
  }

  test("JSON operators: ->> and json_extract_string unquote, path " +
      "normalization, missing-key NULL, json_keys document order") {
    Sql.open(spark, sfDir)
    val r = LakeSql.sql(spark, """
      SELECT j ->> 's' AS s_val,
             json_extract_string(j, '$.a.b[1]') AS nested,
             json_extract_string(j, 'num') AS num_text,
             json_extract_string(j, '$.zz') AS missing,
             array_to_string(json_keys(j), ',') AS ks,
             CAST(json_array_length('[[1], 2, 3]') AS BIGINT) AS alen
      FROM (SELECT '{"z": 1, "s": "hi", "a": {"b": [10, 20]},
                     "num": 42}' AS j
            FROM nation WHERE n_nationkey = 0)""").collect().head
    // unquoted text of the match (string value without quotes)
    assert(r.getString(0) == "hi")
    // nested field + 0-based array step through a $-path
    assert(r.getString(1) == "20")
    // bare key normalizes to $.key; numbers extract as their digits
    assert(r.getString(2) == "42")
    assert(r.isNullAt(3))
    // document order, both engines
    assert(r.getString(4) == "z,s,a,num", r.getString(4))
    assert(r.getLong(5) == 3L)
    // computed paths can't be normalized at rewrite time — refuse
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "SELECT json_extract_string(n_name, n_comment) FROM nation")
    }
  }

  test("MAP vocabulary: map()/list_value construction, map_keys/" +
      "map_values order, map_extract's list contract, cardinality") {
    Sql.open(spark, sfDir)
    val r = LakeSql.sql(spark, """
      SELECT map(list_value('a', 'b'), list_value(1, 2)) AS m,
             CAST(cardinality(map(list_value('a', 'b'),
               list_value(1, 2))) AS BIGINT) AS n,
             map_keys(map(list_value('a', 'b'), list_value(1, 2))) AS ks,
             map_values(map(list_value('a', 'b'), list_value(1, 2))) AS vs,
             map_extract(map(list_value('a', 'b'), list_value(1, 2)),
               'b') AS hit,
             map_extract(map(list_value('a', 'b'), list_value(1, 2)),
               'z') AS miss
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(r.getMap[String, Int](0) == Map("a" -> 1, "b" -> 2))
    assert(r.getLong(1) == 2L)
    // entry order preserved by construction on both engines
    assert(r.getSeq[String](2) == Seq("a", "b"))
    assert(r.getSeq[Int](3) == Seq(1, 2))
    // map_extract returns the value SINGLETON, or the EMPTY list for a
    // missing key (DuckDB's list contract, not Spark's bare NULL)
    assert(r.getSeq[Int](4) == Seq(2))
    assert(r.getSeq[Int](5) == Seq.empty)
  }

  test("regexp_matches/regexp_extract/strftime rewrites: partial " +
      "match, group-0 pin, %-token translation, literal quoting") {
    Sql.open(spark, sfDir)
    val r = LakeSql.sql(spark, """
      SELECT regexp_matches('hello42', '[0-9]+') AS m1,
             regexp_matches('hello', '^x') AS m2,
             regexp_extract('a12b34', '[0-9]+') AS full_match,
             regexp_extract('a12b34', '([a-z])([0-9]+)', 2) AS grp2,
             regexp_extract('abc', '[0-9]+') AS none
      FROM nation WHERE n_nationkey = 0""").collect().head
    // 2-arg regexp_extract = FULL match (DuckDB's group 0, not
    // Spark's group-1 default); no match = '' on both engines
    assert(r.getBoolean(0) && !r.getBoolean(1))
    assert(r.getString(2) == "12" && r.getString(3) == "12" &&
      r.getString(4) == "")
    val f = LakeSql.sql(spark, """
      SELECT strftime(DATE '1995-03-07', '%Y-%m-%d') AS iso,
             strftime(DATE '1995-03-07', '%d/%m/%Y') AS euro,
             strftime(TIMESTAMP '1995-03-07 14:05:09', '%H:%M:%S') AS tod,
             strftime(DATE '1995-03-07', 'Qtr %m') AS lit
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(f.getString(0) == "1995-03-07" && f.getString(1) == "07/03/1995")
    assert(f.getString(2) == "14:05:09")
    // literal pattern-letters (Q, t, r) survive quoted, never
    // interpreted as Java pattern tokens
    assert(f.getString(3) == "Qtr 03", f.getString(3))
    // strptime: the SAME %-token table drives parsing (to_timestamp)
    val p = LakeSql.sql(spark, """
      SELECT strptime('07/03/1995', '%d/%m/%Y') AS ts,
             strptime('1995-03-07 14:05:09', '%Y-%m-%d %H:%M:%S') AS tt
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(p.getTimestamp(0).toString == "1995-03-07 00:00:00.0")
    assert(p.getTimestamp(1).toString == "1995-03-07 14:05:09.0")
    // regexp_replace: the 'g' flag (global) drops onto Spark's
    // always-global replace; the BARE 3-arg form (and the explicit ''
    // flag) is DuckDB's FIRST-match-only default — rewritten to the
    // anchored identity (pinned: 'aaa'/'a'→'baa', 'xaxbxc'/'x(.)'
    // →'yxbxc'); other flags refuse
    val rr = LakeSql.sql(spark, """
      SELECT regexp_replace('a1b22c', '[0-9]+', '#', 'g') AS g,
             regexp_replace('aaa', 'a', 'b') AS first1,
             regexp_replace('xaxbxc', 'x(.)', 'y') AS first2,
             regexp_replace('a1b22c', '[0-9]+', '#', '') AS first3
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(rr.getString(0) == "a#b#c" && rr.getString(1) == "baa")
    assert(rr.getString(2) == "yxbxc" && rr.getString(3) == "a#b22c")
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "SELECT regexp_replace('A', 'a', 'x', 'i') FROM nation")
    }
    // regexp_extract_all shares the default-group pin: 2-arg returns
    // FULL matches (DuckDB group 0), not Spark's group-1 default —
    // pinned: duckdb regexp_extract_all('a1b22c','([0-9])[0-9]*') =
    // ['1','22'], spark 2-arg unpinned would give ['1','2']
    val rea = LakeSql.sql(spark, """
      SELECT array_to_string(regexp_extract_all('a1b22c',
               '([0-9])[0-9]*'), ',') AS full_matches,
             array_to_string(regexp_extract_all('a1b22c',
               '([0-9])[0-9]*', 1), ',') AS group1
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(rea.getString(0) == "1,22" && rea.getString(1) == "1,2")
    // the first-match rewrite's loud refusals: non-literal pattern,
    // ^-anchored pattern (defeated by the injected prefix), and
    // $/\ metacharacters in the replacement
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "SELECT regexp_replace(n_name, n_comment, 'x') FROM nation")
    }
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "SELECT regexp_replace('abc', '^a', 'x') FROM nation")
    }
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "SELECT regexp_replace('abc', 'a', '$0x') FROM nation")
    }
    // split_part: shared name, 1-based, '' when out of range
    val spp = LakeSql.sql(spark, """
      SELECT split_part('a|b|c', '|', 2) AS hit,
             split_part('a|b|c', '|', 9) AS oob
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(spp.getString(0) == "b" && spp.getString(1) == "")
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "SELECT strftime(DATE '1995-01-01', '%Q') FROM nation")
    }
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "SELECT strftime(o_orderdate, o_orderpriority) FROM orders")
    }
    // a statement whose only regexp_* call is ALREADY in Spark form
    // (3-arg regexp_extract) must not re-enter the rewrite forever
    assert(LakeSql.sql(spark, """
      SELECT regexp_extract('a12', '([0-9]+)', 1) AS g
      FROM nation WHERE n_nationkey = 0""").collect()
      .head.getString(0) == "12")
    // struct_pack → named_struct, nested inside-out, dot access works
    val sp = LakeSql.sql(spark, """
      SELECT struct_pack(a := 1, nest := struct_pack(b := 'x')).nest.b
        AS deep,
             struct_pack(a := 7).a AS shallow
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(sp.getString(0) == "x" && sp.getInt(1) == 7)
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "SELECT struct_pack(1, 2) FROM nation")
    }
  }

  test("SET/PRAGMA/RESET tiers: threads maps with prior-restoring " +
      "RESET, TimeZone pins UTC, resource knobs gate on lenientSet, " +
      "semantic/unknown options refuse, dotted names fall through") {
    Sql.open(spark, sfDir)
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    // mapped tier: threads -> shuffle-partition advisory
    LakeSql.sql(spark, "SET threads=7")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "7")
    LakeSql.sql(spark, "SET GLOBAL threads TO 9")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "9")
    LakeSql.sql(spark, "RESET threads")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == prior)
    // RESET of a never-set mapped option is a no-op
    LakeSql.sql(spark, "RESET threads")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == prior)
    // TimeZone: UTC and UTC-equivalent spellings keep the baseline;
    // garbage refuses loudly (the non-UTC tier has its own test)
    LakeSql.sql(spark, "SET TimeZone='UTC'")
    LakeSql.sql(spark, "SET TimeZone='Etc/UTC'")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "SET TimeZone='Not/A_Zone'")
    }
    // ignorable tier gates on the explicit flag
    spark.conf.set("spark.graft.sql.lenientSet", "false")
    val e1 = intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "SET memory_limit='1GB'")
    }
    assert(e1.getMessage.contains("lenientSet"), e1.getMessage)
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "PRAGMA enable_progress_bar")
    }
    spark.conf.set("spark.graft.sql.lenientSet", "true")
    try {
      LakeSql.sql(spark, "SET memory_limit='1GB'") // warn-and-ignore
      LakeSql.sql(spark, "PRAGMA memory_limit='256MB'")
      LakeSql.sql(spark, "PRAGMA enable_progress_bar")
      LakeSql.sql(spark, "RESET memory_limit")
    } finally spark.conf.set("spark.graft.sql.lenientSet", "false")
    // unknown and semantic options ALWAYS refuse (even lenient)
    spark.conf.set("spark.graft.sql.lenientSet", "true")
    try {
      intercept[IllegalArgumentException] {
        LakeSql.sql(spark, "SET no_such_option=1")
      }
      intercept[IllegalArgumentException] {
        LakeSql.sql(spark, "SET default_null_order='NULLS FIRST'")
      }
      intercept[IllegalArgumentException] {
        LakeSql.sql(spark, "PRAGMA no_such_pragma")
      }
    } finally spark.conf.set("spark.graft.sql.lenientSet", "false")
    // txn-scoped SET LOCAL refuses; call-form pragmas name the
    // first-class spellings
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "SET LOCAL threads=2")
    }
    val e2 = intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "PRAGMA table_info('nation')")
    }
    assert(e2.getMessage.contains("DESCRIBE"), e2.getMessage)
    // dotted names fall through to Spark's own SET
    LakeSql.sql(spark, "SET spark.graft.sql.lenientSet=true")
    assert(spark.conf.get("spark.graft.sql.lenientSet") == "true")
    spark.conf.set("spark.graft.sql.lenientSet", "false")
    // a script headed by options runs end-to-end (the x109 shape)
    spark.conf.set("spark.graft.sql.lenientSet", "true")
    try {
      val out = LakeSql.script(spark, """
        SET threads=4;
        PRAGMA memory_limit='128MB';
        SELECT COUNT(*) AS n FROM nation""")
      assert(out.collect().head.getLong(0) == 25L)
      LakeSql.sql(spark, "RESET threads")
    } finally spark.conf.set("spark.graft.sql.lenientSet", "false")
  }

  test("non-UTC TimeZone tier: valid zones apply to the session and " +
      "RESET restores; wall-clock classes run; epoch-grid families " +
      "refuse naming the dependency; literals don't trip the guard") {
    Sql.open(spark, sfDir)
    val prior = spark.conf.get("spark.sql.session.timeZone")
    LakeSql.sql(spark, "SET TimeZone='America/New_York'")
    try {
      assert(spark.conf.get("spark.sql.session.timeZone") ==
        "America/New_York")
      // ACCEPTED classes under the active zone: DATE arithmetic,
      // EXTRACT dow, strftime rendering, day/month date_diff — all
      // wall-clock, executed (collected) while the zone is active,
      // values identical to the UTC session because DATE ops are
      // zone-independent
      val r = LakeSql.sql(spark, """
        SELECT EXTRACT(dow FROM DATE '1995-03-15') AS dw,
               date_diff('day', DATE '1995-01-01', DATE '1995-03-15')
                 AS dd,
               date_diff('month', DATE '1995-01-01', DATE '1995-03-15')
                 AS dm,
               strftime(DATE '1995-03-15', '%Y-%m') AS ym
        FROM nation WHERE n_nationkey = 0""").collect().head
      assert(r.getInt(0) == 3 && r.getInt(1) == 73 &&
        r.getInt(2) == 2 && r.getString(3) == "1995-03")
      // REFUSED classes: each epoch-grid family names the dependency
      for (bad <- Seq(
          "SELECT date_diff('hour', ts, ts) FROM events LIMIT 1",
          "SELECT epoch(ts) FROM events LIMIT 1",
          "SELECT epoch_ms(ts) FROM events LIMIT 1",
          "SELECT time_bucket(INTERVAL '6 hours', ts) FROM events " +
            "LIMIT 1",
          "SELECT EXTRACT(second FROM ts) FROM events LIMIT 1",
          "SELECT date_part('epoch', ts) FROM events LIMIT 1")) {
        val e = intercept[IllegalArgumentException](
          LakeSql.sql(spark, bad))
        assert(e.getMessage.contains("UTC"), s"$bad -> ${e.getMessage}")
        assert(e.getMessage.contains("America/New_York"), e.getMessage)
      }
      // a string LITERAL containing an epoch-grid spelling must not
      // trip the guard
      val lit = LakeSql.sql(spark,
        "SELECT 'call epoch(x) later' AS s FROM nation LIMIT 1")
        .collect().head.getString(0)
      assert(lit == "call epoch(x) later")
      // RESET restores the session's own prior and re-opens the grid
      LakeSql.sql(spark, "RESET TimeZone")
      assert(spark.conf.get("spark.sql.session.timeZone") == prior)
      LakeSql.sql(spark,
        "SELECT date_diff('hour', ts, ts) FROM events LIMIT 1")
        .collect()
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
  }

  test("list literals/comprehensions/subscripts: array(), " +
      "transform/filter sugar, nesting, 1-based access edges, " +
      "map['key'] LIST contract (r17), loud refusals for computed-key " +
      "map / chained-on-paren subscripts") {
    Sql.open(spark, sfDir)
    val r = LakeSql.sql(spark, """
      SELECT [1, 2, 3] AS lit,
             [x * 2 FOR x IN [1, 2, 3] IF x > 1] AS comp,
             [upper(s) FOR s IN ['a', 'b']] AS noif,
             [x FOR x IN [1, 2, 3] IF x > 1 AND x < 3] AS andif,
             flatten([[x + y FOR y IN [1, 2]] FOR x IN [10, 20]])
               AS nested,
             [10, 20, 30][-1] AS fromEnd,
             [10, 20, 30][0] AS zeroIdx,
             [10, 20, 30][4] AS oob,
             list_extract([10, 20], 2) AS le,
             list_element([10, 20], 9) AS leOob
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(r.getSeq[Int](0) == Seq(1, 2, 3))
    assert(r.getSeq[Int](1) == Seq(4, 6))
    assert(r.getSeq[String](2) == Seq("A", "B"))
    assert(r.getSeq[Int](3) == Seq(2))
    assert(r.getSeq[Int](4) == Seq(11, 12, 21, 22))
    assert(r.getInt(5) == 30 && r.isNullAt(6) && r.isNullAt(7))
    assert(r.getInt(8) == 20 && r.isNullAt(9))
    // comprehension over a COLUMN list — the bracket after the
    // comprehension's own IN keyword must read as a literal, not a
    // subscript on the identifier "IN" (neither engine supports a
    // top-level `x IN [list]`; both refuse it at parse)
    val c = LakeSql.sql(spark, """
      SELECT [x FOR x IN [n_nationkey, n_regionkey] IF x >= 0] AS cols
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(c.getSeq[Int](0) == Seq(0, 0))
    // refusals: two FORs in one bracket, empty IF, string-keyed,
    // chained-on-paren, MAP-typed subscript
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "SELECT [x FOR x IN [1] FOR y IN [2]] FROM nation")
    }
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "SELECT [x FOR x IN [1] IF ] FROM nation")
    }
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "SELECT (ARRAY(1, 2))[1] FROM nation WHERE n_nationkey = 0")
    }
    // string-keyed subscript on a MAP (r17): DuckDB's m['k'] → the
    // value LIST, [] on miss; chained [1] un-lists; a STRUCT operand
    // refuses with the struct.field hint
    val ms = LakeSql.sql(spark, """SELECT m['a'] AS hit,
      m['zz'] AS miss, m['a'][1] AS chained
      FROM (SELECT map(['a'], [1]) AS m)""").collect().head
    assert(ms.getSeq[Int](0) == Seq(1) && ms.getSeq[Int](1).isEmpty &&
      ms.getInt(2) == 1, ms.toString)
    val se = intercept[IllegalArgumentException] {
      LakeSql.sql(spark, """SELECT st['f'] FROM
        (SELECT named_struct('f', 1) AS st)""")
    }
    assert(se.getMessage.contains("struct.field"), se.getMessage)
    // computed key on a MAP: textually indistinguishable from an array
    // subscript — the analysis-time guard refuses on the MapType child
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, """
        SELECT m[k] FROM (SELECT map(['a'], [1]) AS m, 'a' AS k)""")
    }
  }

  test("quantile_disc rank pins and format() brace-template pins") {
    Sql.open(spark, sfDir)
    // the seven dual-engine rank pins: element at max(1, ceil(p*n))
    val q = LakeSql.sql(spark, """
      SELECT quantile_disc(x, 0.1) AS p10, quantile_disc(x, 0.3) AS p30,
             quantile_disc(x, 0.5) AS p50, quantile_disc(x, 0.9) AS p90
      FROM (VALUES (1), (1), (2), (9), (9), (9), (10)) t(x)""")
      .collect().head
    assert(Seq(q.getInt(0), q.getInt(1), q.getInt(2), q.getInt(3)) ==
      Seq(1, 2, 9, 10))
    val q2 = LakeSql.sql(spark, """
      SELECT quantile_disc(x, 0.49) AS a, quantile_disc(x, 0.5) AS b,
             quantile_disc(x, 0.51) AS c
      FROM (VALUES (1), (2)) t(x)""").collect().head
    assert(Seq(q2.getInt(0), q2.getInt(1), q2.getInt(2)) == Seq(1, 1, 2))
    // format(): {} holes, {{}} literal braces, literal % escaped,
    // NULL-in -> NULL-out (DuckDB nulls the WHOLE result)
    val f = LakeSql.sql(spark, """
      SELECT format('{} has {} pts', 'ab', 3) AS basic,
             format('a{{b}}c {} d', 7) AS braces,
             format('pct {}%', 5) AS pct,
             format('{} {}', NULL, 1) AS nullin,
             format('{}', 2.0) AS dbl
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(f.getString(0) == "ab has 3 pts")
    assert(f.getString(1) == "a{b}c 7 d")
    assert(f.getString(2) == "pct 5%")
    assert(f.isNullAt(3))
    assert(f.getString(4) == "2.0")
    // refusals: positional/named/spec braces, hole-count mismatch,
    // computed template
    for (bad <- Seq(
        "SELECT format('{0} {1}', 'a', 'b') FROM nation",
        "SELECT format('{name}', 'a') FROM nation",
        "SELECT format('{:d}', 42) FROM nation",
        "SELECT format('{} {}', 1) FROM nation",
        "SELECT format(n_name, 1) FROM nation",
        "SELECT format('plain') FROM nation"))
      intercept[IllegalArgumentException] { LakeSql.sql(spark, bad) }
  }

  test("windowed skewness/kurtosis: the moment correction attaches " +
      "the OVER clause to every inner aggregate; named windows work; " +
      "sub-minimum frames are NULL") {
    Sql.open(spark, sfDir)
    // dual-engine pin (sf0.001, o_orderkey <= 200, 1-URGENT):
    // DuckDB 0.0105 / -1.3675
    val w = LakeSql.sql(spark, """
      SELECT ROUND(skewness(CAST(o_totalprice AS DOUBLE))
               OVER (PARTITION BY o_orderpriority), 4) AS sk,
             ROUND(kurtosis(CAST(o_totalprice AS DOUBLE))
               OVER (PARTITION BY o_orderpriority), 4) AS ku
      FROM orders WHERE o_orderkey <= 200
        AND o_orderpriority = '1-URGENT' LIMIT 1""").collect().head
    assert(w.getDouble(0) == 0.0105 && w.getDouble(1) == -1.3675,
      (w.getDouble(0), w.getDouble(1)))
    // named-window reference (OVER w) rides the same rewrite
    val nw = LakeSql.sql(spark, """
      SELECT ROUND(skewness(CAST(o_totalprice AS DOUBLE)) OVER w, 4)
               AS sk
      FROM orders WHERE o_orderkey <= 200
        AND o_orderpriority = '1-URGENT'
      WINDOW w AS (PARTITION BY o_orderpriority) LIMIT 1""")
      .collect().head
    assert(nw.getDouble(0) == 0.0105)
    // a 2-row partition is below skewness's minimum n -> NULL
    val small = LakeSql.sql(spark, """
      SELECT skewness(x) OVER (PARTITION BY g) AS sk
      FROM (VALUES (1, 1.0), (1, 2.0)) t(g, x) LIMIT 1""")
      .collect().head
    assert(small.isNullAt(0))
  }

  test("literal-dialect safety: collision tokens inside string " +
      "values survive every rewrite pass; backslashes in literals " +
      "keep their raw shared-dialect meaning") {
    Sql.open(spark, sfDir)
    val lit = LakeSql.sql(spark, """
      SELECT 'trim(a, b)' AS t1, 'log(x) + left(s, 2)' AS t2,
             'skewness(v) OVER w' AS t3, '[1, 2][1]' AS t4,
             'format({}) epoch(' AS t5, 'quantile_disc(x, 0.5)' AS t6
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(lit.getString(0) == "trim(a, b)")
    assert(lit.getString(1) == "log(x) + left(s, 2)")
    assert(lit.getString(2) == "skewness(v) OVER w")
    assert(lit.getString(3) == "[1, 2][1]")
    assert(lit.getString(4) == "format({}) epoch(")
    assert(lit.getString(5) == "quantile_disc(x, 0.5)")
    // raw backslash semantics (normLit at the parser boundary):
    // '\d' is a DIGIT class (Spark's default fold would read 'd'),
    // '\[' a literal bracket, and a trailing backslash does not
    // swallow the closing quote
    val bs = LakeSql.sql(spark, """
      SELECT regexp_matches('a7', '\d') AS dig,
             regexp_matches('d', '\d') AS lit_d,
             regexp_replace('u [x] v', '\[[a-z]*\]', 'B', 'g') AS cls,
             length('a\') AS trail
      FROM nation WHERE n_nationkey = 0""").collect().head
    assert(bs.getBoolean(0) && !bs.getBoolean(1))
    assert(bs.getString(2) == "u B v")
    assert(bs.getInt(3) == 2)
  }

  test("scriptOnError=skip: failing statements are recorded and " +
      "skipped, the last successful result returns, default stays " +
      "fail-fast, all-fail still throws") {
    Sql.open(spark, sfDir)
    // default: fail-fast (unchanged behavior)
    intercept[Exception] {
      LakeSql.script(spark,
        "SELECT 1 AS a; SELECT no_such_fn_xyz(1); SELECT 2 AS b")
    }
    spark.conf.set("spark.graft.sql.scriptOnError", "skip")
    try {
      val out = LakeSql.script(spark, """
        SELECT 1 AS a;
        SELECT no_such_fn_xyz(1) AS broken;
        SET definitely_not_an_option = 1;
        SELECT COUNT(*) AS n FROM nation""")
      assert(out.collect().head.getLong(0) == 25L)
      val errs = LakeSql.lastScriptErrors(spark)
      assert(errs.length == 2, errs)
      // the final result is the last SUCCESSFUL statement even when
      // the tail fails
      val out2 = LakeSql.script(spark,
        "SELECT 7 AS v; SELECT no_such_fn_xyz(1)")
      assert(out2.collect().head.getInt(0) == 7)
      assert(LakeSql.lastScriptErrors(spark).length == 1)
      // every statement failing is still loud
      intercept[IllegalArgumentException] {
        LakeSql.script(spark, "SELECT no_such_fn_xyz(1)")
      }
      // unknown mode refuses
      spark.conf.set("spark.graft.sql.scriptOnError", "maybe")
      intercept[IllegalArgumentException] {
        LakeSql.script(spark, "SELECT 1")
      }
    } finally spark.conf.set("spark.graft.sql.scriptOnError", "fail")
    // a clean run clears the error list
    LakeSql.script(spark, "SELECT 1 AS a")
    assert(LakeSql.lastScriptErrors(spark).isEmpty)
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: delete and conditional " +
      "update net effects on both formats; refusals for multiple " +
      "clauses and key reassignment") {
    Sql.open(spark, sfDir)
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
      .take(8)
    val root = graft.util.Scratch.dir("x39spec")
    for (provider <- Seq("deltalite", "iceberglite")) {
      val t = s"bs_${provider.take(4)}_$tag"
      LakeSql.sql(spark, s"""CREATE TABLE $t USING $provider
        LOCATION '$root/$t'
        AS SELECT c_custkey, c_acctbal FROM customer
        WHERE c_custkey <= 20""")
      // sync keys 5-15; absent keys < 3 delete
      LakeSql.sql(spark, s"""MERGE INTO $t USING (
          SELECT c_custkey, c_acctbal + 1 AS c_acctbal FROM customer
          WHERE c_custkey BETWEEN 5 AND 15) AS src
        ON $t.c_custkey = src.c_custkey
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE AND c_custkey < 3 THEN DELETE""")
      val afterDelete = LakeSql.sql(spark,
        s"SELECT MIN(c_custkey) AS mn, COUNT(*) AS n FROM $t")
        .collect().head
      assert(afterDelete.getLong(0) == 3L &&
        afterDelete.getLong(1) == 18L, s"$provider: $afterDelete")
      // unconditional BY SOURCE UPDATE on an empty-key source region
      LakeSql.sql(spark, s"""MERGE INTO $t USING (
          SELECT c_custkey, c_acctbal FROM customer
          WHERE c_custkey BETWEEN 3 AND 18) AS src
        ON $t.c_custkey = src.c_custkey
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET c_acctbal = 0""")
      val zeroed = LakeSql.sql(spark,
        s"SELECT COUNT(*) AS z FROM $t WHERE c_acctbal = 0")
        .collect().head
      assert(zeroed.getLong(0) == 2L, s"$provider: $zeroed") // 19, 20
      intercept[Exception] {
        LakeSql.sql(spark, s"""MERGE INTO $t USING (
            SELECT c_custkey, c_acctbal FROM customer
            WHERE c_custkey <= 5) AS src
          ON $t.c_custkey = src.c_custkey
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *
          WHEN NOT MATCHED BY SOURCE
            THEN UPDATE SET c_custkey = c_custkey + 1""")
      }
      LakeSql.sql(spark, s"DROP TABLE $t")
      // Complex merge keys take no range pruning on either MERGE path
      // (a struct bound has no literal form); the keyed merge runs on a
      // table above the pruning floor so it reaches that step.
      for ((kind, key) <- Seq("array" -> "array(c_custkey, c_custkey % 3)",
          "struct" -> "named_struct('id', c_custkey, 'm', c_custkey % 3)")) {
        val a = s"bs${kind.head}_${provider.take(4)}_$tag"
        def keyed(lo: Int, hi: Int, bump: Int) = s"""SELECT $key AS k,
            CAST(c_acctbal + $bump AS DOUBLE) AS bal
          FROM customer WHERE c_custkey BETWEEN $lo AND $hi"""
        graft.sources.LakeFormat.of(provider).create(spark, s"$root/$a",
          LakeSql.sql(spark, keyed(1, 10, 0)).repartition(10))
        LakeSql.register(spark, a, provider, s"$root/$a")
        assert(LakeSql.table(spark, a).inputFiles.length >=
          graft.sources.LakeFormat.MergePruneFloor)
        def rows(q: String) = LakeSql.sql(spark, q).collect().toSet
        LakeSql.sql(spark, s"""MERGE INTO $a
          USING (${keyed(5, 12, 100)}) AS src ON $a.k = src.k
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""")
        assert(rows(s"SELECT * FROM $a") ==
          rows(keyed(1, 4, 0)) ++ rows(keyed(5, 12, 100)), s"$provider $kind")
        LakeSql.sql(spark, s"""MERGE INTO $a
          USING (${keyed(3, 11, 7)}) AS src ON $a.k = src.k
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *
          WHEN NOT MATCHED BY SOURCE THEN DELETE""")
        assert(rows(s"SELECT * FROM $a") == rows(keyed(3, 11, 7)),
          s"$provider $kind")
        LakeSql.sql(spark, s"DROP TABLE $a")
      }
    }
  }

  test("a keyed MERGE whose source key depends on the clock evaluates " +
      "it once: no key is duplicated, on both formats") {
    Sql.open(spark, sfDir)
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val root = graft.util.Scratch.dir("mergeonce")
    for (provider <- Seq("deltalite", "iceberglite")) {
      val t = s"mo_${provider.take(4)}_$tag"
      // 40 keys in 4 files; each run's source names one 10-key decile,
      // picked by the current millisecond
      graft.sources.LakeFormat.of(provider).create(spark, s"$root/$t",
        LakeSql.sql(spark, """SELECT c_custkey AS k, c_acctbal AS v
          FROM customer WHERE c_custkey BETWEEN 1 AND 40""").repartition(4))
      LakeSql.register(spark, t, provider, s"$root/$t")
      for (_ <- 1 to 3) LakeSql.sql(spark, s"""MERGE INTO $t USING (
          SELECT c_custkey + ((unix_micros(current_timestamp()) DIV 1000)
            % 4) * 10 AS k, c_acctbal + 1 AS v
          FROM customer WHERE c_custkey BETWEEN 1 AND 10) AS src
        ON $t.k = src.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      val r = LakeSql.sql(spark,
        s"SELECT COUNT(*) AS n, COUNT(DISTINCT k) AS d FROM $t")
        .collect().head
      assert(r.getLong(0) == 40L && r.getLong(1) == 40L, s"$provider: $r")
      LakeSql.sql(spark, s"DROP TABLE $t")
    }
  }

  test("a full-sync MERGE casts its source to the table's types: a " +
      "BIGINT source into INT columns reads back, on both formats") {
    Sql.open(spark, sfDir)
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val root = graft.util.Scratch.dir("synccast")
    for (provider <- Seq("deltalite", "iceberglite")) {
      val t = s"sc_${provider.take(4)}_$tag"
      LakeSql.sql(spark, s"""CREATE TABLE $t USING $provider
        LOCATION '$root/$t' AS SELECT CAST(c_custkey AS INT) AS k,
        CAST(c_nationkey AS INT) AS n FROM customer WHERE c_custkey <= 20""")
      LakeSql.sql(spark, s"""MERGE INTO $t USING (
          SELECT CAST(c_custkey AS BIGINT) AS k,
            CAST(c_nationkey + 100 AS BIGINT) AS n
          FROM customer WHERE c_custkey BETWEEN 5 AND 25) AS src
        ON $t.k = src.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE AND k < 3 THEN DELETE""")
      val got = LakeSql.sql(spark, s"SELECT * FROM $t")
      assert(got.schema.map(_.dataType) ==
        Seq(org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.IntegerType), s"$provider: ${got.schema}")
      val want = LakeSql.sql(spark, """SELECT CAST(c_custkey AS INT) AS k,
          CAST(c_nationkey + CASE WHEN c_custkey >= 5 THEN 100 ELSE 0 END
            AS INT) AS n
        FROM customer WHERE c_custkey BETWEEN 3 AND 25""")
      assert(got.collect().toSet == want.collect().toSet, provider)
      LakeSql.sql(spark, s"DROP TABLE $t")
    }
  }

  test("a view's text reads back as written: backslashes in its string " +
      "literals keep their meaning") {
    LakeSql.sql(spark, """CREATE OR REPLACE VIEW bv AS
      SELECT regexp_replace('a1b', '\d', 'X', 'g') AS r""")
    assert(LakeSql.sql(spark, "SELECT * FROM bv").collect().head
      .getString(0) == "aXb")
    LakeSql.sql(spark, "DROP VIEW bv")
  }

  test("operator pins: ^/** power, // integer division, ~/!~ " +
      "full-match regex, ~~/!~~ LIKE, ^@ starts_with") {
    Sql.open(spark, sfDir)
    // power: 2^3 is XOR=1 in bare Spark, 8.0 in the dialect; sign and
    // precedence pins are the probed DuckDB parses
    val r = LakeSql.sql(spark, """SELECT 2 ^ 3 AS a, 2 ** 3 ** 2 AS b,
      -3 ^ 2 AS c, 1 - 3 ^ 2 AS d, 2 * 3 ^ 2 AS e, 2 ^ -2 AS f,
      '3'::INT ^ 2 AS g""").collect().head
    assert(r.getDouble(0) == 8.0 && r.getDouble(1) == 64.0 &&
      r.getDouble(2) == 9.0 && r.getDouble(3) == -8.0 &&
      r.getDouble(4) == 18.0 && r.getDouble(5) == 0.25 &&
      r.getDouble(6) == 9.0)
    // // integer division: truncation toward zero, left-assoc, same
    // precedence as *, NULL on a zero divisor (DuckDB's rule)
    val d2 = LakeSql.sql(spark, """SELECT 7 // 2 AS a, -7 // 2 AS b,
      10 // 3 // 2 AS c, 3 * 5 // 2 AS d, 5 // 2 * 3 AS e,
      7 // 0 AS z""").collect().head
    assert(d2.getLong(0) == 3L && d2.getLong(1) == -3L &&
      d2.getLong(2) == 1L && d2.getLong(3) == 7L &&
      d2.getLong(4) == 6L && d2.isNullAt(5))
    // ~ is FULL-match ('abc' ~ 'b' = false — probed DuckDB), ~~ LIKE
    val s3 = LakeSql.sql(spark, """SELECT 'abc' ~ 'a.c' AS a,
      'abc' ~ 'b' AS b, 'abc' !~ 'z.*' AS c, 'a.c' ~ 'a\.c' AS d,
      'abc' ~~ 'a%' AS e, 'abc' !~~ 'z%' AS f, 'abc' ^@ 'ab' AS g,
      'abc' ^@ 'b' AS h""").collect().head
    assert(s3.getBoolean(0) && !s3.getBoolean(1) && s3.getBoolean(2) &&
      s3.getBoolean(3) && s3.getBoolean(4) && s3.getBoolean(5) &&
      s3.getBoolean(6) && !s3.getBoolean(7))
    // trigger tokens inside string LITERALS survive untouched
    val lit = LakeSql.sql(spark,
      "SELECT regexp_replace('x^y', '\\^', '~', 'g') AS t, " +
        "'a // b ** c' AS raw").collect().head
    assert(lit.getString(0) == "x~y" && lit.getString(1) == "a // b ** c")
    // loud refusals: rebinding left context, float-literal //,
    // computed ~ pattern
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "SELECT 'a' || 'bc' ~ 'abc' AS x")
    }
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "SELECT 7 // 2.0 AS x")
    }
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "SELECT o_orderstatus ~ o_orderstatus AS x FROM orders")
    }
  }

  test("time_bucket epoch-grid rewrite and ordered list/array_agg " +
      "struct-carry identity") {
    Sql.open(spark, sfDir)
    // probed DuckDB pins: 2000-01-03 origin for every sub-month unit
    val tb = LakeSql.sql(spark, """SELECT
      time_bucket(INTERVAL '15 minutes', TIMESTAMP '2024-03-05 10:37:22') AS a,
      time_bucket(INTERVAL '7 hours', TIMESTAMP '2024-03-05 10:37:22') AS b,
      time_bucket(INTERVAL '2 days', TIMESTAMP '2024-03-06 10:00:00') AS c,
      time_bucket(INTERVAL '1 week', TIMESTAMP '2024-03-05 10:00:00') AS d,
      time_bucket(INTERVAL '5 months', TIMESTAMP '1999-05-05 00:00:00') AS e,
      time_bucket(INTERVAL '2 years', TIMESTAMP '1999-05-05 00:00:00') AS f
      """).collect().head
    def s(i: Int) = tb.getTimestamp(i).toInstant.toString
    assert(s(0) == "2024-03-05T10:30:00Z" && s(1) == "2024-03-05T04:00:00Z")
    assert(s(2) == "2024-03-05T00:00:00Z" && s(3) == "2024-03-04T00:00:00Z")
    assert(s(4) == "1999-03-01T00:00:00Z" && s(5) == "1998-01-01T00:00:00Z")
    // ordered collection: NULL values kept, NULL keys last both ways
    val l = LakeSql.sql(spark, """SELECT
      list(x ORDER BY k) AS a, array_agg(x ORDER BY k DESC) AS b,
      list(x ORDER BY x) AS c
      FROM (VALUES (1, 3), (2, CAST(NULL AS INT)), (3, 1)) v(x, k)
      """).collect().head
    assert(l.getSeq[Int](0) == Seq(3, 1, 2))
    assert(l.getSeq[Int](1) == Seq(1, 3, 2))
    assert(l.getSeq[Int](2) == Seq(1, 2, 3))
    val nv = LakeSql.sql(spark,
      """SELECT list(x ORDER BY x) AS a
         FROM (VALUES (CAST(NULL AS INT)), (5), (2)) v(x)""")
      .collect().head.getSeq[Any](0)
    assert(nv == Seq(2, 5, null))
    // refusals: bare list(), DISTINCT, 3-arg time_bucket
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "SELECT list(o_orderkey) AS x FROM orders")
    }
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "SELECT list(DISTINCT o_orderkey ORDER BY o_orderkey) AS x FROM orders")
    }
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "SELECT time_bucket(INTERVAL '1 day', ts, " +
        "TIMESTAMP '2001-01-01 00:00:00') AS x FROM events")
    }
  }

  test("EXTRACT-field pins, GLOB, quantified comparisons, and lexer " +
      "sugar (dollar quotes, numeric underscores)") {
    Sql.open(spark, sfDir)
    val ex = LakeSql.sql(spark, """SELECT
      EXTRACT(dow FROM DATE '2024-03-03') AS sun,
      EXTRACT(dow FROM DATE '2024-03-05') AS tue,
      EXTRACT(isodow FROM DATE '2024-03-03') AS isun,
      EXTRACT(second FROM TIMESTAMP '2024-03-05 01:02:03.456789') AS s,
      EXTRACT(millisecond FROM TIMESTAMP '2024-03-05 01:02:03.456789') AS ms,
      EXTRACT(microsecond FROM TIMESTAMP '2024-03-05 01:02:03.456789') AS us,
      date_part('second', TIMESTAMP '2024-03-05 01:02:03.456789') AS s2,
      EXTRACT(doy FROM DATE '2024-03-05') AS doy
      """).collect().head
    assert(ex.getInt(0) == 0 && ex.getInt(1) == 2 && ex.getInt(2) == 7)
    assert(ex.getLong(3) == 3L && ex.getLong(4) == 3456L &&
      ex.getLong(5) == 3456789L && ex.getLong(6) == 3L)
    assert(ex.getInt(7) == 65)
    val ep = LakeSql.sql(spark, "SELECT EXTRACT(epoch FROM TIMESTAMP " +
      "'2024-03-05 01:02:03.5') AS e").collect().head
    assert(ep.getDouble(0) == 1709600523.5)
    // GLOB: probed shell semantics — '.' literal, classes, negation
    val g = LakeSql.sql(spark, """SELECT 'abc.txt' GLOB '*.txt' AS a,
      'abc' GLOB 'a?c' AS b, 'x' GLOB '[!a]' AS c, 'axb' GLOB 'a.b' AS d
      """).collect().head
    assert(g.getBoolean(0) && g.getBoolean(1) && g.getBoolean(2) &&
      !g.getBoolean(3))
    // = ANY / <> ALL are IN / NOT IN
    val qa = LakeSql.sql(spark, """SELECT
      3 = ANY (SELECT * FROM (VALUES (1),(3)) v(x)) AS a,
      5 <> ALL (SELECT * FROM (VALUES (1),(3)) v(x)) AS b""")
      .collect().head
    assert(qa.getBoolean(0) && qa.getBoolean(1))
    // lexer sugar + name pins
    val lx = LakeSql.sql(spark, """SELECT 1_000_000 // 7 AS a,
      1_000.5 AS b, $tag$it's $$ raw$tag$ AS c,
      strpos('abcb', 'b') AS d, unicode('') AS e,
      'keep_$1_000$_literal' AS f""").collect().head
    assert(lx.getLong(0) == 142857L)
    assert(lx.getDecimal(1).doubleValue == 1000.5)
    assert(lx.getString(2) == "it's $$ raw")
    assert(lx.getLong(3) == 2L && lx.getInt(4) == -1)
    assert(lx.getString(5) == "keep_$1_000$_literal")
  }

  test("bare-file FROM routes by extension; CTE MATERIALIZED hints " +
      "strip; literals survive") {
    Sql.open(spark, sfDir)
    val n = LakeSql.sql(spark,
      s"SELECT count(*) AS n FROM '$sfDir/nation.parquet'")
      .collect().head.getLong(0)
    assert(n == 25L)
    val j = LakeSql.sql(spark, s"""
      WITH r AS MATERIALIZED (
        SELECT r_regionkey FROM '$sfDir/region.parquet')
      SELECT count(*) AS n FROM '$sfDir/nation.parquet' nt
      JOIN r ON nt.n_regionkey = r.r_regionkey""")
      .collect().head.getLong(0)
    assert(j == 25L)
    val lit = LakeSql.sql(spark,
      "SELECT 'FROM ''x.parquet'' stays' AS l, " +
        "'AS MATERIALIZED (hint)' AS m").collect().head
    assert(lit.getString(0) == "FROM 'x.parquet' stays")
    assert(lit.getString(1) == "AS MATERIALIZED (hint)")
  }

  test("fn vocabulary batch 7: histogram map identity, editdist3, " +
      "to_* interval constructors, hash() refusal") {
    Sql.open(spark, sfDir)
    val h = LakeSql.sql(spark, """SELECT histogram(x) AS h
      FROM (VALUES (1), (CAST(NULL AS INT)), (2), (2)) v(x)""")
      .collect().head.getMap[Int, Int](0)
    assert(h == Map(1 -> 1, 2 -> 2))
    val he = LakeSql.sql(spark, """SELECT histogram(x) AS h
      FROM (VALUES (CAST(NULL AS INT))) v(x) WHERE x IS NOT NULL""")
      .collect().head
    assert(he.isNullAt(0))
    val r = LakeSql.sql(spark, """SELECT editdist3('abc','axc') AS e,
      DATE '2024-01-01' + to_days(30) AS d,
      TIMESTAMP '2024-01-01 00:00:00' + to_minutes(90) AS t""")
      .collect().head
    assert(r.getInt(0) == 1)
    assert(r.getDate(1).toString == "2024-01-31")
    assert(r.getTimestamp(2).toInstant.toString == "2024-01-01T01:30:00Z")
    val ex = intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "SELECT hash(o_orderkey) AS x FROM orders")
    }
    assert(ex.getMessage.contains("engine-specific"))
  }

  test("SQL comments strip quote-safely: pinned rewrites fire after " +
      "quote-carrying comments; literals, dollar quotes and graft " +
      "re-entry tags survive") {
    Sql.open(spark, sfDir)
    // before the fix these were SILENT wrong values (ln and XOR): the
    // apostrophe in the comment flipped literal parity for every
    // quote-aware rewrite downstream
    val r = LakeSql.sql(spark, """SELECT /* it's */ log(100) AS lg,
      /* don't */ 2 ^ 3 AS pw,
      1 /* a /* nested */ b */ + 1 AS n,
      'lit -- keep' AS a, 'lit /* keep */' AS b,
      regexp_replace('aaa', 'a', 'b') AS fm -- tag must survive re-entry
      """).collect().head
    assert(r.getDouble(0) == 2.0 && r.getDouble(1) == 8.0 &&
      r.getInt(2) == 2)
    assert(r.getString(3) == "lit -- keep" &&
      r.getString(4) == "lit /* keep */")
    assert(r.getString(5) == "baa")
    val d = LakeSql.sql(spark,
      "SELECT $q$dollar -- keep /* this */$q$ AS d").collect().head
    assert(d.getString(0) == "dollar -- keep /* this */")
  }

  test("NULL ordering pins to DuckDB's NULLS LAST default at every " +
      "level: ORDER BY + LIMIT row set, window ranks, DESC; explicit " +
      "NULLS FIRST honored") {
    Sql.open(spark, sfDir)
    val lim = LakeSql.sql(spark, """SELECT x FROM (VALUES (2),
      (CAST(NULL AS INT)),(1)) v(x) ORDER BY x LIMIT 2""")
      .collect().map(_.get(0)).toSeq
    assert(lim == Seq(1, 2)) // bare Spark returns (NULL, 1)
    val rn = LakeSql.sql(spark, """SELECT x, ROW_NUMBER() OVER
      (ORDER BY x) AS rn FROM (VALUES (2),(CAST(NULL AS INT)),(1)) v(x)
      ORDER BY rn""").collect().map(r => (r.get(0), r.getInt(1))).toSeq
    assert(rn == Seq((1, 1), (2, 2), (null, 3))) // bare: NULL ranks 1
    val desc = LakeSql.sql(spark, """SELECT x FROM (VALUES (2),
      (CAST(NULL AS INT)),(1)) v(x) ORDER BY x DESC""")
      .collect().map(_.get(0)).toSeq
    assert(desc == Seq(2, 1, null))
    val nf = LakeSql.sql(spark, """SELECT x FROM (VALUES (2),
      (CAST(NULL AS INT)),(1)) v(x) ORDER BY x NULLS FIRST""")
      .collect().map(_.get(0)).toSeq
    assert(nf == Seq(null, 1, 2))
    // literals survive; frame keywords bound the item list
    val fr = LakeSql.sql(spark, """SELECT x, CAST(SUM(x) OVER (ORDER BY
      x ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s
      FROM (VALUES (2),(CAST(NULL AS INT)),(1)) v(x) ORDER BY x""")
      .collect().map(r => (r.get(0), r.get(1))).toSeq
    assert(fr == Seq((1, 1L), (2, 3L), (null, 2L)))
    assert(LakeSql.sql(spark, "SELECT 'ORDER BY x' AS l")
      .collect().head.getString(0) == "ORDER BY x")
  }

  test("concat skips NULL arguments; printf NULLs on any NULL " +
      "argument; list_concat keeps array semantics") {
    Sql.open(spark, sfDir)
    val r = LakeSql.sql(spark, """SELECT concat('a', NULL, 'b') AS c,
      concat(NULL, NULL) AS cn, concat('x', 1, 'y') AS cx,
      printf('%s-%d', NULL, 5) AS pf, printf('%s-%d', 'a', 5) AS p2,
      printf('plain') AS p3, list_concat([1, 2], [3]) AS lc""")
      .collect().head
    assert(r.getString(0) == "ab" && r.getString(1) == "" &&
      r.getString(2) == "x1y")
    assert(r.isNullAt(3) && r.getString(4) == "a-5" &&
      r.getString(5) == "plain")
    assert(r.getSeq[Int](6) == Seq(1, 2, 3))
  }

  test("UPDATE … FROM / DELETE … USING join-DML: matched rows update " +
      "from the source row's columns / delete; multi-match refuses " +
      "loudly (MERGE's contract); subquery sources and aliases work; " +
      "SET-subquery FROM stays on the single-table path; both formats") {
    val s = spark.newSession()
    Sql.open(s, sfDir)
    val base = graft.util.Scratch.dir("joindml")
    for (provider <- Seq("deltalite", "iceberglite")) {
      val t = s"jd_${provider.take(4)}"
      LakeSql.sql(s, s"""CREATE TABLE $t USING $provider
        LOCATION '$base/$t'
        AS SELECT n_nationkey AS k, n_name AS name,
                  CAST(0.0 AS DOUBLE) AS bal FROM nation""")
      // source table for the joins
      LakeSql.sql(s, s"""CREATE TABLE ${t}_src USING $provider
        LOCATION '$base/${t}_src'
        AS SELECT n_nationkey AS sk, CAST(n_nationkey * 10 AS DOUBLE)
             AS amt FROM nation WHERE n_nationkey < 10""")
      // UPDATE … FROM a table source, qualified refs, returns count
      val n1 = LakeSql.sql(s, s"""UPDATE $t SET bal = s.amt
        FROM ${t}_src AS s WHERE $t.k = s.sk""").head.getLong(0)
      assert(n1 == 10L)
      val bal3 = LakeSql.sql(s,
        s"SELECT bal FROM $t WHERE k = 3").head.getDouble(0)
      assert(bal3 == 30.0)
      // unmatched rows untouched
      assert(LakeSql.sql(s,
        s"SELECT bal FROM $t WHERE k = 15").head.getDouble(0) == 0.0)
      // UPDATE … FROM a subquery source; SET may mix source + target
      val n2 = LakeSql.sql(s, s"""UPDATE $t AS tt
        SET bal = tt.bal + q.extra
        FROM (SELECT sk, amt / 10 AS extra FROM ${t}_src) AS q
        WHERE tt.k = q.sk AND q.extra >= 5""").head.getLong(0)
      assert(n2 == 5L) // sk 5..9
      assert(LakeSql.sql(s,
        s"SELECT bal FROM $t WHERE k = 7").head.getDouble(0) == 77.0)
      // multi-match refuses (two source rows hit one target row)
      val em = intercept[IllegalArgumentException](LakeSql.sql(s,
        s"""UPDATE $t SET bal = s.amt FROM ${t}_src AS s
            WHERE $t.k = s.sk % 5 AND $t.k < 2"""))
      assert(em.getMessage.contains("ambiguous"), em.getMessage)
      // DELETE … USING (multi-match fine for delete)
      val n3 = LakeSql.sql(s, s"""DELETE FROM $t USING ${t}_src AS s
        WHERE $t.k = s.sk % 5""").head.getLong(0)
      assert(n3 == 5L) // k 0..4, each matched twice, deleted once
      assert(LakeSql.sql(s, s"SELECT COUNT(*) AS n FROM $t")
        .head.getLong(0) == 20L)
      // a SET-expression subquery containing FROM is NOT join-DML —
      // it stays on the single-table pruned path
      LakeSql.sql(s, s"""UPDATE $t SET bal =
        (SELECT MAX(amt) FROM ${t}_src) WHERE k = 20""")
      assert(LakeSql.sql(s,
        s"SELECT bal FROM $t WHERE k = 20").head.getDouble(0) == 90.0)
      // a zero-match join-DML commits nothing (no new version)
      val v0 = LakeSql.sql(s,
        s"SELECT COUNT(*) AS n FROM $t").head.getLong(0)
      val n4 = LakeSql.sql(s, s"""DELETE FROM $t USING ${t}_src AS s
        WHERE $t.k = s.sk + 1000""").head.getLong(0)
      assert(n4 == 0L && LakeSql.sql(s,
        s"SELECT COUNT(*) AS n FROM $t").head.getLong(0) == v0)
      // guards: view target, unknown column, multi-relation source
      intercept[IllegalArgumentException](LakeSql.sql(s,
        s"UPDATE $t SET nope = 1 FROM ${t}_src s WHERE $t.k = s.sk"))
      intercept[IllegalArgumentException](LakeSql.sql(s,
        s"DELETE FROM $t USING ${t}_src a, ${t}_src b WHERE 1=1"))
      LakeSql.sql(s, s"DROP TABLE $t")
      LakeSql.sql(s, s"DROP TABLE ${t}_src")
    }
  }

  test("column-definition CREATE TABLE: empty lake table with the " +
      "declared schema; PRIMARY KEY (column- and table-level) maps to " +
      "graft.keys so INSERT OR REPLACE/IGNORE work; " +
      "CHECK/FK/DEFAULT refuse; both formats; VARCHAR alias survives") {
    val s = spark.newSession()
    Sql.open(s, sfDir)
    val base = graft.util.Scratch.dir("coldef")
    for (provider <- Seq("deltalite", "iceberglite")) {
      val t = s"cd_${provider.take(4)}"
      LakeSql.sql(s, s"""CREATE TABLE $t (
        k BIGINT PRIMARY KEY, g VARCHAR, v BIGINT)
        USING $provider LOCATION '$base/$t'""")
      // empty at birth, schema as declared
      assert(LakeSql.sql(s, s"SELECT COUNT(*) AS n FROM $t")
        .head.getLong(0) == 0L)
      val sch = LakeSql.table(s, t).schema
      assert(sch.fieldNames.toSeq == Seq("k", "g", "v"))
      // (nullability is advisory on the lake read path — parquet scans
      // relax it — so only names/types are pinned here)
      assert(sch("g").dataType ==
        org.apache.spark.sql.types.StringType)
      // the PK is the declared key: bare INSERT OR REPLACE works
      LakeSql.sql(s, s"INSERT INTO $t SELECT 1, 'a', 10")
      LakeSql.sql(s, s"INSERT INTO $t SELECT 2, 'b', 20")
      LakeSql.sql(s, s"INSERT OR REPLACE INTO $t SELECT 2, 'B', 99")
      LakeSql.sql(s, s"INSERT OR IGNORE INTO $t SELECT 1, 'zzz', 0")
      val rows = LakeSql.sql(s,
        s"SELECT k, g, v FROM $t ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      assert(rows == Seq((1L, "a", 10L), (2L, "B", 99L)), rows.toString)
      LakeSql.sql(s, s"DROP TABLE $t")
    }
    // table-level PRIMARY KEY spelling, two columns
    LakeSql.sql(s, s"""CREATE TABLE cd_tl (
      a BIGINT, b STRING, v DOUBLE, PRIMARY KEY (a, b))
      USING deltalite LOCATION '$base/cd_tl'""")
    LakeSql.sql(s, "INSERT INTO cd_tl SELECT 1, 'x', 1.0")
    LakeSql.sql(s, "INSERT OR REPLACE INTO cd_tl SELECT 1, 'x', 2.0")
    assert(LakeSql.sql(s, "SELECT v FROM cd_tl").head.getDouble(0) == 2.0)
    LakeSql.sql(s, "DROP TABLE cd_tl")
    // refusals: CHECK constraint, DEFAULT value, FK
    intercept[Exception](LakeSql.sql(s,
      s"CREATE TABLE cd_bad1 (k INT, CHECK (k > 0)) USING deltalite " +
        s"LOCATION '$base/b1'"))
    intercept[Exception](LakeSql.sql(s,
      s"CREATE TABLE cd_bad2 (k INT DEFAULT 5) USING deltalite " +
        s"LOCATION '$base/b2'"))
  }

  test("DML statements keep backslash regex literals RAW (r16 script-" +
      "fuzz finding: the DML route normalized literals twice, so a " +
      "'\\d' pattern — or the GLOB rewrite's \\A…\\z — silently " +
      "matched literal backslashes and computed wrong values)") {
    val s = spark.newSession()
    Sql.open(s, sfDir)
    val base = graft.util.Scratch.dir("dmlnormlit")
    LakeSql.sql(s, s"""CREATE TABLE dnl_t USING deltalite
      LOCATION '$base/dnl_t'
      AS SELECT n_nationkey AS k, CAST(0 AS BIGINT) AS m,
                CAST(0 AS BIGINT) AS g FROM nation""")
    // regexp with \d and a GLOB char-class through INSERT: must agree
    // with the same expressions in SELECT position
    LakeSql.sql(s, """INSERT INTO dnl_t SELECT n_nationkey + 1000,
      CAST(CASE WHEN n_name ~ 'NATION_\d+' THEN 1 ELSE 0 END AS BIGINT),
      CAST(CASE WHEN n_name GLOB 'NATION*' THEN 1 ELSE 0 END AS BIGINT)
      FROM nation""")
    val ins = LakeSql.sql(s,
      "SELECT SUM(m) AS sm, SUM(g) AS sg FROM dnl_t WHERE k >= 1000").head
    assert(ins.getLong(0) == 25L && ins.getLong(1) == 25L, ins.toString)
    // and through UPDATE's WHERE
    LakeSql.sql(s, """UPDATE dnl_t SET m = 7
      WHERE k < 1000 AND CAST(k AS VARCHAR) ~ '\d\d'""")
    assert(LakeSql.sql(s,
      "SELECT COUNT(*) AS n FROM dnl_t WHERE m = 7").head.getLong(0) == 15L)
    LakeSql.sql(s, "DROP TABLE dnl_t")
  }

  test("DDL lifecycle r16: TRUNCATE (atomic empty overwrite, count " +
      "result, time travel intact), ALTER TABLE RENAME TO (catalog " +
      "re-binding), DROP COLUMN (metadata-only on both formats, " +
      "re-added name reads all-null), CHECKPOINT tier") {
    val s = spark.newSession()
    Sql.open(s, sfDir)
    val base = graft.util.Scratch.dir("ddllife")
    for (provider <- Seq("deltalite", "iceberglite")) {
      val t = s"dl_${provider.take(4)}"
      LakeSql.sql(s, s"""CREATE TABLE $t USING $provider
        LOCATION '$base/$t'
        AS SELECT n_nationkey AS k, n_name AS nm, n_regionkey AS r
           FROM nation""")
      // DROP COLUMN: metadata-only; remaining columns read fine
      LakeSql.sql(s, s"ALTER TABLE $t DROP COLUMN nm")
      val sch = LakeSql.table(s, t).schema.fieldNames.toSeq
      assert(sch == Seq("k", "r"), sch.toString)
      assert(LakeSql.sql(s, s"SELECT SUM(k) AS x FROM $t")
        .head.getLong(0) == 300L)
      // dropping a missing column refuses; IF EXISTS is quiet
      intercept[Exception](LakeSql.sql(s, s"ALTER TABLE $t DROP COLUMN nope"))
      LakeSql.sql(s, s"ALTER TABLE $t DROP COLUMN IF EXISTS nope")
      // a re-added column of the SAME NAME is new and all-null —
      // dropped data never resurrects
      LakeSql.sql(s, s"ALTER TABLE $t ADD COLUMNS (nm STRING)")
      assert(LakeSql.sql(s,
        s"SELECT COUNT(nm) AS n FROM $t").head.getLong(0) == 0L)
      // RENAME TO: same data under the new name, old name gone
      LakeSql.sql(s, s"ALTER TABLE $t RENAME TO ${t}_rn")
      assert(LakeSql.sql(s, s"SELECT COUNT(*) AS n FROM ${t}_rn")
        .head.getLong(0) == 25L)
      intercept[Exception](
        LakeSql.sql(s, s"SELECT COUNT(*) AS n FROM $t").collect())
      // TRUNCATE: returns removed count; table empty; history intact
      val n = LakeSql.sql(s, s"TRUNCATE TABLE ${t}_rn").head.getLong(0)
      assert(n == 25L)
      assert(LakeSql.sql(s, s"SELECT COUNT(*) AS n FROM ${t}_rn")
        .head.getLong(0) == 0L)
      LakeSql.sql(s, s"DROP TABLE ${t}_rn")
    }
    // bare TRUNCATE <t> (DuckDB spelling, no TABLE keyword) also routes
    LakeSql.sql(s, s"""CREATE TABLE dl_bare USING deltalite
      LOCATION '$base/dl_bare' AS SELECT 1 AS a""")
    assert(LakeSql.sql(s, "TRUNCATE dl_bare").head.getLong(0) == 1L)
    LakeSql.sql(s, "DROP TABLE dl_bare")
    // CHECKPOINT: refuse by default naming the analog; lenient ignores
    val ec = intercept[IllegalArgumentException](LakeSql.sql(s, "CHECKPOINT"))
    assert(ec.getMessage.contains("OPTIMIZE"), ec.getMessage)
    s.conf.set("spark.graft.sql.lenientSet", "true")
    try { LakeSql.sql(s, "CHECKPOINT"); LakeSql.sql(s, "FORCE CHECKPOINT") }
    finally s.conf.set("spark.graft.sql.lenientSet", "false")
  }

  test("maintenance statements r16: OPTIMIZE bin-packs (file count " +
      "drops, content identical), OPTIMIZE ZORDER BY routes to s18's " +
      "rewrite, VACUUM RETAIN garbage-collects with a count result, " +
      "bare VACUUM/ANALYZE tier; CREATE OR REPLACE TABLE refreshes " +
      "in place (history survives) and creates when missing; SHOW " +
      "DATABASES lists catalogs") {
    val s = spark.newSession()
    Sql.open(s, sfDir)
    val base = graft.util.Scratch.dir("maint")
    LakeSql.sql(s, s"""CREATE TABLE mt_t USING deltalite
      LOCATION '$base/mt_t'
      AS SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey <= 400""")
    // fragment it with appends, then OPTIMIZE
    for (i <- 1 to 3)
      LakeSql.sql(s, s"""INSERT INTO mt_t
        SELECT c_custkey + ${1000 * i}, c_acctbal FROM customer
        WHERE c_custkey <= 50""")
    val before = LakeSql.sql(s,
      "SELECT CAST(SUM(c_custkey) AS BIGINT) AS sm, COUNT(*) AS n FROM mt_t")
      .head
    LakeSql.sql(s, "OPTIMIZE mt_t TARGET 1 FILES")
    val after = LakeSql.sql(s,
      "SELECT CAST(SUM(c_custkey) AS BIGINT) AS sm, COUNT(*) AS n FROM mt_t")
      .head
    assert(before == after, s"$before vs $after")
    // ZORDER spelling routes (numeric cols); iceberg refuses naming delta
    LakeSql.sql(s, "OPTIMIZE mt_t ZORDER BY (c_custkey, c_acctbal)")
    assert(LakeSql.sql(s,
      "SELECT CAST(SUM(c_custkey) AS BIGINT) AS sm FROM mt_t")
      .head.getLong(0) == before.getLong(0))
    // VACUUM returns a files_removed count (history shrank to 1 version)
    val removed = LakeSql.sql(s, "VACUUM mt_t RETAIN 1 VERSIONS")
      .head.getLong(0)
    assert(removed >= 1, s"removed=$removed")
    // bare maintenance verbs: refuse by default naming per-table ops
    val em = intercept[IllegalArgumentException](LakeSql.sql(s, "VACUUM"))
    assert(em.getMessage.contains("OPTIMIZE"), em.getMessage)
    intercept[IllegalArgumentException](LakeSql.sql(s, "ANALYZE"))
    s.conf.set("spark.graft.sql.lenientSet", "true")
    try { LakeSql.sql(s, "VACUUM"); LakeSql.sql(s, "ANALYZE")
      LakeSql.sql(s, "VACUUM ANALYZE") }
    finally s.conf.set("spark.graft.sql.lenientSet", "false")
    // CREATE OR REPLACE TABLE: in-place refresh, history survives
    val vBefore = graft.sources.DeltaLite.latestVersion(s, s"$base/mt_t")
    LakeSql.sql(s, """CREATE OR REPLACE TABLE mt_t AS
      SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey <= 10""")
    assert(LakeSql.sql(s, "SELECT COUNT(*) AS n FROM mt_t")
      .head.getLong(0) == 11L) // c_custkey 0..10
    assert(graft.sources.DeltaLite.latestVersion(s, s"$base/mt_t")
      > vBefore) // an overwrite COMMIT, not a wipe…
    // …and the PRE-replace content is still time-travelable
    assert(LakeSql.sql(s,
      s"SELECT COUNT(*) AS n FROM mt_t VERSION AS OF $vBefore")
      .head.getLong(0) == 303L) // 150 base + 3x51 appends (sf0.001)
    // …and creates when missing; bare REPLACE TABLE on missing refuses
    LakeSql.sql(s, s"""CREATE OR REPLACE TABLE mt_new USING deltalite
      LOCATION '$base/mt_new' AS SELECT 1 AS a""")
    assert(LakeSql.sql(s, "SELECT a FROM mt_new").head.getInt(0) == 1)
    intercept[IllegalArgumentException](LakeSql.sql(s,
      "REPLACE TABLE mt_missing AS SELECT 1 AS a"))
    // provider change refuses
    intercept[IllegalArgumentException](LakeSql.sql(s,
      s"""CREATE OR REPLACE TABLE mt_new USING iceberglite
          LOCATION '$base/mt_new2' AS SELECT 2 AS a"""))
    // SHOW DATABASES: the primary catalog is present
    val dbs = LakeSql.sql(s, "SHOW DATABASES").collect()
      .map(_.getString(0)).toSeq
    assert(dbs.contains("main"), dbs.toString)
    LakeSql.sql(s, "DROP TABLE mt_t")
    LakeSql.sql(s, "DROP TABLE mt_new")
  }

  test("CREATE SEQUENCE / nextval / currval: session counters, START/" +
      "INCREMENT honored, per-occurrence substitution in constant " +
      "contexts, row-producing queries refuse naming the distributed " +
      "idiom, literals survive, DROP SEQUENCE") {
    val s = spark.newSession()
    Sql.open(s, sfDir)
    LakeSql.sql(s, "CREATE SEQUENCE sq1 START 5 INCREMENT 2")
    val r1 = LakeSql.sql(s,
      "SELECT nextval('sq1') AS a, nextval('sq1') AS b").head
    assert(r1.getLong(0) == 5L && r1.getLong(1) == 7L, r1.toString)
    assert(LakeSql.sql(s, "SELECT currval('sq1') AS c")
      .head.getLong(0) == 7L)
    // sequence values flow into DML (the migration id-assignment shape)
    val base = graft.util.Scratch.dir("seqdml")
    LakeSql.sql(s, s"""CREATE TABLE sq_t USING deltalite
      LOCATION '$base/sq_t' AS SELECT CAST(0 AS BIGINT) AS id,
      'seed' AS v""")
    LakeSql.sql(s, "INSERT INTO sq_t VALUES (nextval('sq1'), 'x')")
    LakeSql.sql(s, "INSERT INTO sq_t VALUES (nextval('sq1'), 'y')")
    val ids = LakeSql.sql(s,
      "SELECT id FROM sq_t WHERE id > 0 ORDER BY id").collect()
      .map(_.getLong(0)).toSeq
    assert(ids == Seq(9L, 11L), ids.toString)
    // a literal containing the spelling is untouched
    assert(LakeSql.sql(s, "SELECT 'nextval(''sq1'')' AS t")
      .head.getString(0) == "nextval('sq1')")
    // row-producing queries refuse with the named idiom
    val er = intercept[IllegalArgumentException](LakeSql.sql(s,
      "SELECT nextval('sq1') AS id, n_name FROM nation"))
    assert(er.getMessage.contains("row_number"), er.getMessage)
    // guards: unknown sequence, duplicate create, IF NOT EXISTS, DROP
    intercept[IllegalArgumentException](
      LakeSql.sql(s, "SELECT nextval('nosuch') AS x"))
    intercept[IllegalArgumentException](
      LakeSql.sql(s, "CREATE SEQUENCE sq1"))
    LakeSql.sql(s, "CREATE SEQUENCE IF NOT EXISTS sq1")
    LakeSql.sql(s, "DROP SEQUENCE sq1")
    intercept[IllegalArgumentException](LakeSql.sql(s, "DROP SEQUENCE sq1"))
    LakeSql.sql(s, "DROP SEQUENCE IF EXISTS sq1")
    // currval before any nextval is a loud error
    LakeSql.sql(s, "CREATE SEQUENCE sq2")
    intercept[IllegalArgumentException](
      LakeSql.sql(s, "SELECT currval('sq2') AS c"))
    LakeSql.sql(s, "DROP SEQUENCE sq2")
    LakeSql.sql(s, "DROP TABLE sq_t")
  }

  test("r17 regressions: keyword-boundary treats '_' as a word char " +
      "(UPDATE whose SET text contains from_unixtime stays on the " +
      "single-table path); nextval in per-row DML refuses even " +
      "without FROM; DROP COLUMN refuses on a declared graft.keys " +
      "column, both formats") {
    val s = spark.newSession()
    Sql.open(s, sfDir)
    val base = graft.util.Scratch.dir("r17reg")
    // (1) from_unixtime in SET must NOT route to UPDATE … FROM
    LakeSql.sql(s, s"""CREATE TABLE r17_t USING deltalite
      LOCATION '$base/r17_t' AS SELECT n_nationkey AS k,
      CAST('1970-01-01 00:00:00' AS STRING) AS ts,
      CAST(0 AS BIGINT) AS x_from FROM nation WHERE n_nationkey < 5""")
    LakeSql.sql(s,
      "UPDATE r17_t SET ts = CAST(from_unixtime(86400) AS STRING) WHERE k = 1")
    assert(LakeSql.sql(s, "SELECT ts FROM r17_t WHERE k = 1")
      .head.getString(0).startsWith("1970-01-02"))
    // an identifier with a trailing _from segment is equally safe
    LakeSql.sql(s, "UPDATE r17_t SET x_from = 7 WHERE k = 2")
    assert(LakeSql.sql(s, "SELECT x_from FROM r17_t WHERE k = 2")
      .head.getLong(0) == 7L)
    // (2) nextval in an UPDATE (no FROM anywhere) is per-row — refuse
    LakeSql.sql(s, "CREATE SEQUENCE r17_sq")
    val e = intercept[IllegalArgumentException](LakeSql.sql(s,
      "UPDATE r17_t SET x_from = nextval('r17_sq')"))
    assert(e.getMessage.contains("row-producing"), e.getMessage)
    LakeSql.sql(s, "DROP SEQUENCE r17_sq")
    LakeSql.sql(s, "DROP TABLE r17_t")
    // (3) DROP COLUMN on a graft.keys column refuses on both formats
    for (provider <- Seq("deltalite", "iceberglite")) {
      val t = s"r17k_${provider.take(4)}"
      LakeSql.sql(s, s"""CREATE TABLE $t (k BIGINT PRIMARY KEY,
        v BIGINT) USING $provider LOCATION '$base/$t'""")
      val ek = intercept[IllegalArgumentException](
        LakeSql.sql(s, s"ALTER TABLE $t DROP COLUMN k"))
      assert(ek.getMessage.contains("graft.keys"), ek.getMessage)
      LakeSql.sql(s, s"ALTER TABLE $t DROP COLUMN v") // non-key drops fine
      LakeSql.sql(s, s"DROP TABLE $t")
    }
  }

  test("INSTALL/LOAD extension tier: refused by default NAMING the " +
      "native equivalent; warn-ignored under lenientSet (all " +
      "spellings: INSTALL, FORCE INSTALL, FROM repo, quoted, LOAD); " +
      "a migration script opening with them runs") {
    val s = spark.newSession()
    Sql.open(s, sfDir)
    // default: loud refusal, message names the built-in analog
    val e1 = intercept[IllegalArgumentException](
      LakeSql.sql(s, "INSTALL httpfs"))
    assert(e1.getMessage.contains("Hadoop") &&
      e1.getMessage.contains("lenientSet"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      LakeSql.sql(s, "LOAD postgres"))
    assert(e2.getMessage.contains("jdbc"), e2.getMessage)
    // unknown extension still refuses, with the generic message
    val e3 = intercept[IllegalArgumentException](
      LakeSql.sql(s, "INSTALL frobnicator"))
    assert(e3.getMessage.contains("no graft equivalent"), e3.getMessage)
    // lenientSet: every spelling warn-ignores
    s.conf.set("spark.graft.sql.lenientSet", "true")
    try {
      LakeSql.sql(s, "INSTALL httpfs")
      LakeSql.sql(s, "FORCE INSTALL parquet")
      LakeSql.sql(s, "INSTALL postgres FROM community")
      LakeSql.sql(s, "INSTALL 'json'")
      LakeSql.sql(s, "LOAD httpfs;")
      // the worked migration-script shape: extension prelude + query
      val n = LakeSql.script(s, """
        INSTALL httpfs;
        LOAD httpfs;
        SELECT COUNT(*) AS n FROM nation""").collect().head.getLong(0)
      assert(n == 25L)
    } finally s.conf.set("spark.graft.sql.lenientSet", "false")
    // LOAD DATA (Spark's own statement shape) does not match the tier
    intercept[Exception](LakeSql.sql(s,
      "LOAD DATA INPATH '/nope' INTO TABLE nation"))
  }

  test("CREATE INDEX tier: a single-column index on a deltalite table " +
      "routes to the per-file bloom skipping index (s24's analog) and " +
      "DROP INDEX removes it; UNIQUE / multi-column / non-deltalite " +
      "refuse naming the honest alternative") {
    val s = spark.newSession()
    Sql.open(s, sfDir)
    val base = graft.util.Scratch.dir("createindex")
    LakeSql.sql(s, s"""CREATE TABLE ci_t USING deltalite
      LOCATION '$base/ci_t'
      AS SELECT c_custkey, c_name, c_nationkey FROM customer""")
    LakeSql.sql(s, "CREATE INDEX ci_idx ON ci_t(c_custkey)")
    assert(graft.sources.BloomIndex.exists(s, s"$base/ci_t", "c_custkey"))
    // the index is queryable through the API surface it builds for
    val (kept, total) = graft.sources.BloomIndex.pruneInfo(
      s, s"$base/ci_t", "c_custkey", Seq(1L))
    assert(total >= 1 && kept <= total)
    // IF NOT EXISTS spelling parses; rebuild is idempotent
    LakeSql.sql(s, "CREATE INDEX IF NOT EXISTS ci_idx ON ci_t(c_custkey)")
    LakeSql.sql(s, "DROP INDEX ci_idx")
    assert(!graft.sources.BloomIndex.exists(s, s"$base/ci_t", "c_custkey"))
    intercept[IllegalArgumentException](LakeSql.sql(s, "DROP INDEX ci_idx"))
    LakeSql.sql(s, "DROP INDEX IF EXISTS ci_idx") // quiet
    // refusals: UNIQUE (unenforceable constraint), multi-column
    // (names ZORDER), unknown table, expression column
    val eu = intercept[IllegalArgumentException](LakeSql.sql(s,
      "CREATE UNIQUE INDEX u_idx ON ci_t(c_custkey)"))
    assert(eu.getMessage.contains("enforce"), eu.getMessage)
    val em = intercept[IllegalArgumentException](LakeSql.sql(s,
      "CREATE INDEX m_idx ON ci_t(c_custkey, c_nationkey)"))
    assert(em.getMessage.contains("ZORDER"), em.getMessage)
    intercept[IllegalArgumentException](LakeSql.sql(s,
      "CREATE INDEX n_idx ON no_such_table(x)"))
    val ee = intercept[IllegalArgumentException](LakeSql.sql(s,
      "CREATE INDEX e_idx ON ci_t(lower(c_name))"))
    assert(ee.getMessage.contains("single plain column"), ee.getMessage)
    LakeSql.sql(s, "DROP TABLE ci_t")
  }

  test("a string literal that spells a pinned call comes back verbatim") {
    for (v <- Seq("call regexp_matches(x, y) here",
        "see date_diff('day', a, b)", "regexp_replace(a, b, c)")) {
      val lit = "'" + v.replace("'", "''") + "'"
      assert(LakeSql.sql(spark, s"SELECT $lit AS v").collect().head
        .getString(0) == v)
    }
  }

  test("skewness and kurtosis keep FILTER and a named window") {
    val f = LakeSql.sql(spark, """SELECT skewness(x) FILTER (WHERE x > 0)
      AS s FROM VALUES (1),(2),(2),(3),(9),(-1) t(x)""").collect().head
    assert(math.abs(f.getDouble(0) - 1.969360176238791) < 1e-12)
    val w = LakeSql.sql(spark, """SELECT x, skewness(x) OVER w AS s,
      kurtosis(x) OVER w AS k FROM VALUES (1),(2),(4),(3),(9),(-1),(7) t(x)
      WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND
      CURRENT ROW) ORDER BY x""").collect()
    def opt(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val want = Seq(
      (-1, None, None),
      (1, None, None),
      (2, Some(-0.9352195295828247), None),
      (3, Some(-0.7528371991317251), Some(0.34285714285714564)),
      (4, Some(-0.5901286563843656), Some(-0.02191380569759005)),
      (7, Some(0.43458050123489356), Some(0.5859374999999974)),
      (9, Some(0.47294040315845126), Some(-0.5219250488087503)))
    def near(a: Option[Double], b: Option[Double]) = (a, b) match {
      case (Some(x), Some(y)) => math.abs(x - y) < 1e-12
      case _ => a == b
    }
    assert(w.length == want.length)
    w.zip(want).foreach { case (r, (x, s, k)) =>
      assert(r.getInt(0) == x && near(opt(r, 1), s) && near(opt(r, 2), k),
        s"$r vs $x, $s, $k")
    }
  }

  test("pins reach CTE bodies, subqueries and lambdas, once each") {
    val r = LakeSql.sql(spark, """WITH c AS (SELECT log(100) AS v)
      SELECT v, (SELECT log(1000)) AS w,
             transform(array(CAST(10 AS DOUBLE)), x -> log(x)) AS z,
             ltrim(ltrim('xya', 'x'), 'y') AS t FROM c""").collect().head
    assert(r.getDouble(0) == 2.0 && r.getDouble(1) == 3.0)
    assert(r.getSeq[Double](2) == Seq(1.0) && r.getString(3) == "a")
  }

  test("EXECUTE arguments take DuckDB's meaning of a pinned name") {
    LakeSql.sql(spark, "PREPARE pin_q AS SELECT ? AS v")
    assert(LakeSql.sql(spark, "EXECUTE pin_q(log(100))").collect().head
      .getDouble(0) == 2.0)
    LakeSql.sql(spark, "DEALLOCATE pin_q")
  }

  test("PIVOT's USING aggregate takes DuckDB's meaning of a pinned name") {
    Sql.open(spark, sfDir)
    val got = LakeSql.sql(spark, """PIVOT orders ON o_orderstatus
      USING skewness(o_totalprice) GROUP BY o_orderpriority
      ORDER BY o_orderpriority""").select("o_orderpriority", "F").collect()
    val want = LakeSql.sql(spark, """SELECT o_orderpriority,
      skewness(o_totalprice) FILTER (WHERE o_orderstatus = 'F') AS s
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")
      .collect()
    assert(got.map(_.getString(0)).toSeq == want.map(_.getString(0)).toSeq)
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g.getDouble(1) - w.getDouble(1)) < 1e-9, s"$g vs $w")
    }
  }

  test("UPDATE and DELETE whose predicate passes stats pruning but " +
      "matches no row commit nothing, on both formats") {
    import graft.sources.{IcebergLite, LakeFormat}
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val root = Scratch.dir("lakesqlspec")
    for (fmt <- Seq[LakeFormat](DeltaLite, IcebergLite)) {
      val n = s"nohit_${fmt.provider}_$tag"
      LakeSql.sql(spark, s"""CREATE TABLE $n USING ${fmt.provider}
        LOCATION '$root/$n'
        AS SELECT * FROM (VALUES (1, 'a'), (3, 'c')) AS v(k, s)""")
      val v = fmt.latestVersion(spark, s"$root/$n")
      // no file's stats can rule `k * 2 = 4` out; no row satisfies it
      LakeSql.sql(spark, s"UPDATE $n SET s = 'z' WHERE k * 2 = 4")
      LakeSql.sql(spark, s"DELETE FROM $n WHERE k * 2 = 4")
      assert(fmt.latestVersion(spark, s"$root/$n") == v, fmt.provider)
      assert(LakeSql.sql(spark, s"SELECT k, s FROM $n ORDER BY k").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSeq ==
        Seq(1 -> "a", 3 -> "c"), fmt.provider)
      LakeSql.sql(spark, s"DROP TABLE $n")
    }
  }

  test("INSERT into a Delta table with a CHECK constraint refuses a " +
      "violating row and commits nothing") {
    val t = freshTable()
    DeltaLite.create(spark, t, spark.range(3).toDF("k"))
    DeltaLite.addCheckConstraint(spark, t, "nonneg", "k >= 0")
    val v = DeltaLite.latestVersion(spark, t)
    intercept[IllegalArgumentException] {
      LakeSql.execute(spark, Map("t" -> t), "INSERT INTO t VALUES (-1)")
    }
    assert(DeltaLite.latestVersion(spark, t) == v)
    LakeSql.execute(spark, Map("t" -> t), "INSERT INTO t VALUES (7)")
    assert(DeltaLite.snapshot(spark, t).orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 7L))
  }
}
