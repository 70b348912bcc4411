package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.sources.{DeltaLite, IcebergLite}
import graft.util.Scratch

class IcebergLiteSpec extends SparkSpec {

  private def freshTable(): String = s"${Scratch.dir("icespec")}/t"

  test("create/append/snapshot round-trips; time travel reads any " +
      "retained snapshot") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    val s1 = IcebergLite.create(spark, t, c.filter(col("c_custkey") <= 40))
    val s2 = IcebergLite.append(spark, t, c.filter(col("c_custkey") > 40))
    assert(IcebergLite.snapshots(spark, t) == Seq(s1, s2))
    assert(IcebergLite.snapshot(spark, t)
      .orderBy(col("c_custkey")).collect().toSeq ==
      c.orderBy(col("c_custkey")).collect().toSeq)
    // Snapshot 1 is still reachable from the current metadata file.
    assert(IcebergLite.snapshot(spark, t, s1).count() ==
      c.filter(col("c_custkey") <= 40).count())
  }

  test("an append's manifest list reuses the previous snapshot's " +
      "manifest files — commit metadata is O(new data)") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    IcebergLite.create(spark, t, c.filter(col("c_custkey") <= 40))
    def manifestsOf(snap: String): Set[String] = {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(t, "metadata", snap)), "UTF-8")
      "metadata/manifest-[0-9a-f-]+\\.json".r.findAllIn(txt).toSet
    }
    IcebergLite.append(spark, t, c.filter(col("c_custkey") > 40))
    val m1 = manifestsOf("snap-1.json")
    val m2 = manifestsOf("snap-2.json")
    assert(m1.size == 1 && m2.size == 2 && m1.subsetOf(m2),
      s"append must reuse the prior manifest: $m1 vs $m2")
  }

  test("manifest stats prune non-overlapping data files; scan stays " +
      "exact; reads never list the data directory") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    IcebergLite.create(spark, t, c.repartitionByRange(4, col("c_custkey")))
    val pred = col("c_custkey") >= 10 && col("c_custkey") <= 20
    val (kept, total) = IcebergLite.pruneInfo(spark, t, pred)
    assert(total == 4 && kept < total, s"kept=$kept total=$total")
    assert(IcebergLite.scan(spark, t, pred)
      .orderBy(col("c_custkey")).collect().toSeq ==
      c.filter(pred).orderBy(col("c_custkey")).collect().toSeq)
    // An orphan parquet in data/ (e.g. a failed writer's leftover) is
    // invisible: the manifest tree, not a listing, names the files.
    val orphanSrc = java.nio.file.Files.walk(
        java.nio.file.Paths.get(t, "data"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.copy(orphanSrc,
      java.nio.file.Paths.get(t, "data", "orphan-not-committed.parquet"))
    assert(IcebergLite.snapshot(spark, t).count() == c.count())
  }

  test("partitioned table: hierarchical pruning skips whole manifests " +
      "from their partition summaries, then entries, and stays exact") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    val segs = c.select(col("c_mktsegment")).distinct().collect()
      .map(_.getString(0)).sorted
    assert(segs.length >= 3)
    // One manifest per segment: create the first, append the rest.
    IcebergLite.create(spark, t,
      c.filter(col("c_mktsegment") === segs.head),
      partitionColumns = Seq("c_mktsegment"))
    segs.tail.foreach(seg =>
      IcebergLite.append(spark, t, c.filter(col("c_mktsegment") === seg)))
    // Level-1 pruning: a one-segment predicate keeps exactly ONE
    // manifest out of |segs| — the others are skipped from their
    // summaries without touching their entries.
    val (keptM, totalM) = IcebergLite.manifestPruneInfo(spark, t,
      col("c_mktsegment") === segs.head)
    assert(totalM == segs.length && keptM == 1, s"$keptM of $totalM")
    // Level-2: entry stats still prune within the surviving manifest.
    val (keptF, totalF) = IcebergLite.pruneInfo(spark, t,
      col("c_mktsegment") === segs.head && col("c_custkey") < -1)
    assert(keptF == 0 && totalF > 0)
    // Exactness + partition-column round trip via the dir layout.
    val want = c.filter(col("c_mktsegment") === segs.head)
      .orderBy(col("c_custkey")).collect().toSeq
    assert(IcebergLite.scan(spark, t, col("c_mktsegment") === segs.head)
      .orderBy(col("c_custkey")).collect().toSeq == want)
    assert(IcebergLite.snapshot(spark, t).count() == c.count())
  }

  test("version conflict on the metadata file fails clean") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir).limit(5)
    IcebergLite.create(spark, t, c)
    intercept[Exception] {
      IcebergLite.create(spark, t, c)
    }
  }

  test("position-delete files: merge-on-read delete rewrites NO data " +
      "file, stacked deletes compose, pre-delete snapshots still full") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    val s1 = IcebergLite.create(spark, t,
      c.repartitionByRange(4, col("c_custkey")))
    val filesBefore = IcebergLite.dataFiles(spark, t)
    val p1 = col("c_mktsegment") === "BUILDING"
    IcebergLite.deleteWhere(spark, t, p1)
    // Merge-on-read: the data-file set is byte-identical; only delete
    // files + one deletes manifest were added.
    assert(IcebergLite.dataFiles(spark, t) == filesBefore)
    assert(IcebergLite.deleteFiles(spark, t).nonEmpty)
    val want1 = c.filter(!p1)
    assert(IcebergLite.snapshot(spark, t).orderBy(col("c_custkey"))
      .collect().toSeq ==
      want1.orderBy(col("c_custkey")).collect().toSeq)
    // Second delete stacks (and must not re-record already-dead rows).
    val p2 = col("c_custkey") % 7 === 0
    IcebergLite.deleteWhere(spark, t, p2)
    assert(IcebergLite.dataFiles(spark, t) == filesBefore)
    assert(IcebergLite.snapshot(spark, t).count() ==
      c.filter(!p1 && !(p2)).count())
    // Scan path merges deletes too, and still prunes by stats.
    val pred = col("c_custkey") >= 10 && col("c_custkey") <= 60
    assert(IcebergLite.scan(spark, t, pred)
      .orderBy(col("c_custkey")).collect().toSeq ==
      c.filter(pred && !p1 && !p2)
        .orderBy(col("c_custkey")).collect().toSeq)
    // Time travel to the pre-delete snapshot sees every row.
    assert(IcebergLite.snapshot(spark, t, s1).count() == c.count())
    // A delete matching nothing is a no-op commit-wise.
    val before = IcebergLite.snapshots(spark, t).size
    IcebergLite.deleteWhere(spark, t, col("c_custkey") < -1)
    assert(IcebergLite.snapshots(spark, t).size == before)
  }

  test("equality-delete files: the commit writes key rows only (no " +
      "data-file IO), sequence numbers let re-inserted keys survive, " +
      "deletes survive renames by field id, compaction folds them in") {
    import spark.implicits._
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    IcebergLite.create(spark, t,
      c.filter(col("c_custkey") <= 100)
        .repartitionByRange(2, col("c_custkey")))
    val filesBefore = IcebergLite.dataFiles(spark, t)
    IcebergLite.equalityDelete(spark, t, Seq("c_custkey"),
      (1L to 20L).toDF("c_custkey"))
    // Merge-on-read: the data-file set is untouched; the delete is key
    // rows in delete files (the commit's only Spark job ran over the
    // 20-key DataFrame, never the table).
    assert(IcebergLite.dataFiles(spark, t) == filesBefore)
    assert(IcebergLite.deleteFiles(spark, t).nonEmpty)
    assert(IcebergLite.snapshot(spark, t).count() ==
      c.filter(col("c_custkey") <= 100 &&
        !col("c_custkey").between(1, 20)).count())
    // Keys 1..10 re-inserted AFTER the delete: their files carry a
    // larger sequence number, so the delete does not touch them.
    IcebergLite.append(spark, t, c.filter(col("c_custkey").between(1, 10)))
    val reborn = IcebergLite.snapshot(spark, t)
    assert(reborn.filter(col("c_custkey").between(1, 10)).count() ==
      c.filter(col("c_custkey").between(1, 10)).count())
    assert(reborn.filter(
      col("c_custkey") > 10 && col("c_custkey") <= 20).count() == 0)
    // Rename the key column: the stored delete stays attached through
    // the FIELD ID, and a fresh delete under the new name also works.
    IcebergLite.renameColumn(spark, t, "c_custkey", "cust_id")
    assert(IcebergLite.snapshot(spark, t).filter(
      col("cust_id") > 10 && col("cust_id") <= 20).count() == 0)
    IcebergLite.equalityDelete(spark, t, Seq("cust_id"),
      Seq(5L).toDF("cust_id"))
    assert(IcebergLite.snapshot(spark, t)
      .filter(col("cust_id") === 5).count() == 0)
    // Compaction folds every accumulated delete in: delete files
    // disappear, content is unchanged, reads stop paying the anti-join.
    val want = IcebergLite.snapshot(spark, t)
      .orderBy(col("cust_id")).collect().toSeq
    IcebergLite.compact(spark, t, targetFiles = 2)
    assert(IcebergLite.deleteFiles(spark, t).isEmpty)
    assert(IcebergLite.snapshot(spark, t)
      .orderBy(col("cust_id")).collect().toSeq == want)
  }

  test("hidden partitioning: day(ts) lives only in the layout and " +
      "manifests; queries on ts itself prune; appends + compaction " +
      "keep the spec; guards refuse transforms where names resolve") {
    val t = freshTable()
    val e = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    IcebergLite.createWithSpec(spark, t,
      e.filter(col("event_id") % 2 === 0),
      Seq(IcebergLite.dayField("ts")))
    IcebergLite.append(spark, t, e.filter(col("event_id") % 2 === 1))
    // The derived value is in the k=v layout, NOT in schema or files.
    assert(new java.io.File(s"$t/data").list().toSeq
      .count(_.startsWith("ts_day=")) > 5)
    val snap = IcebergLite.snapshot(spark, t)
    assert(snap.schema.fieldNames.toSeq ==
      Seq("event_id", "ts", "user_id", "event_type", "value"))
    assert(snap.count() == e.count())
    assert(snap.filter(col("ts").isNull).count() == 0)
    // Pruning on the SOURCE column: a 2-day window keeps 2 of the ~30
    // day partitions (x2 manifests), and the scan stays exact.
    val pred =
      col("ts") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-07 00:00:00").cast("timestamp")
    val (kept, total) = IcebergLite.pruneInfo(spark, t, pred)
    assert(total >= 20 && kept <= 4, s"kept=$kept total=$total")
    assert(IcebergLite.scan(spark, t, pred)
      .orderBy(col("event_id")).collect().toSeq ==
      e.filter(pred).orderBy(col("event_id")).collect().toSeq)
    // Compaction keeps the day layout and the content.
    IcebergLite.compact(spark, t, targetFiles = 1)
    assert(IcebergLite.scan(spark, t, pred).count() ==
      e.filter(pred).count())
    val (kept2, _) = IcebergLite.pruneInfo(spark, t, pred)
    assert(kept2 <= 4, s"post-compact kept=$kept2")
    // Renaming the transform's source column would detach the spec.
    intercept[IllegalArgumentException] {
      IcebergLite.renameColumn(spark, t, "ts", "event_ts")
    }
    // Name-resolving consumers refuse transform layouts loudly.
    intercept[Exception] {
      IcebergLite.streamInfo(spark, t)
    }
  }

  test("files/snapshots metadata tables serve counts from manifest " +
      "stats alone — record counts exact, sequence numbers monotonic") {
    import spark.implicits._
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    IcebergLite.create(spark, t, c.filter(col("c_custkey") <= 75),
      partitionColumns = Seq("c_mktsegment"))
    IcebergLite.append(spark, t, c.filter(col("c_custkey") > 75))
    val fm = IcebergLite.filesMeta(spark, t)
    // Manifest record counts reproduce the exact table count without
    // touching a data file.
    assert(fm.agg(sum(col("record_count"))).head().getLong(0) == c.count())
    // Append files carry a larger sequence number than create files.
    val seqs = fm.select(col("sequence_number")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(seqs == Seq(1L, 2L), seqs.toString)
    // Partition values are real: per-partition sums match the data.
    val bySeg = fm.groupBy(col("partition")("c_mktsegment").as("seg"))
      .agg(sum(col("record_count")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = c.groupBy(col("c_mktsegment")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySeg == want)
    // snapshots table: the second snapshot references more data files
    // and no delete files; an equality delete adds a delete-file count.
    IcebergLite.equalityDelete(spark, t, Seq("c_custkey"),
      Seq(1L, 2L).toDF("c_custkey"))
    val sm = IcebergLite.snapshotsMeta(spark, t)
      .orderBy(col("snapshot_id")).collect()
    assert(sm.length == 3)
    assert(sm(0).getLong(2) < sm(1).getLong(2))
    assert(sm(2).getLong(3) > 0 &&
      sm(2).getLong(2) == sm(1).getLong(2))
  }

  test("data files carry real parquet field_id attributes (the Iceberg " +
      "data-file requirement external readers resolve by)") {
    val t = freshTable()
    IcebergLite.create(spark, t, Tables.customer(spark, sfDir).limit(100))
    val dataFile = java.nio.file.Files.walk(
        java.nio.file.Paths.get(t, "data"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    val conf = spark.sparkContext.hadoopConfiguration
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(dataFile.toString), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val msg =
      try reader.getFooter.getFileMetaData.getSchema
      finally reader.close()
    val ids = msg.getFields.asScala.map(f =>
      f.getName -> Option(f.getId).map(_.intValue())).toMap
    // create() assigns 1..n in schema order.
    assert(ids("c_custkey").contains(1) && ids("c_name").contains(2) &&
      ids("c_mktsegment").contains(5), ids.toString)
  }

  test("rename is metadata-only: field keeps its id, old files resolve " +
      "under the new name, stats pruning still works, data untouched") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    IcebergLite.create(spark, t, c.repartitionByRange(4, col("c_custkey")))
    val filesBefore = IcebergLite.dataFiles(spark, t)
    IcebergLite.renameColumn(spark, t, "c_name", "cust_name")
    // Zero data IO: the data-file set is identical.
    assert(IcebergLite.dataFiles(spark, t) == filesBefore)
    // Old files read under the new name, by id.
    val got = IcebergLite.snapshot(spark, t)
    assert(got.schema.fieldNames.contains("cust_name") &&
      !got.schema.fieldNames.contains("c_name"))
    assert(got.select(col("c_custkey"), col("cust_name"))
      .orderBy(col("c_custkey")).collect().toSeq ==
      c.select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey")).collect().toSeq)
    // Stats pruning on a RENAMED KEY column: predicate arrives under
    // the current name, stats live under the write-time name — the id
    // bridges them.
    IcebergLite.renameColumn(spark, t, "c_custkey", "cust_id")
    val (kept, total) = IcebergLite.pruneInfo(spark, t,
      col("cust_id") >= 10 && col("cust_id") <= 20)
    assert(total == 4 && kept < total, s"kept=$kept of $total")
    assert(IcebergLite.scan(spark, t, col("cust_id") <= 20).count() ==
      c.filter(col("c_custkey") <= 20).count())
    // Rename collision / partition-column rename rejected.
    intercept[Exception] {
      IcebergLite.renameColumn(spark, t, "cust_name", "c_acctbal")
    }
  }

  test("addColumn takes a fresh never-reused id; pre-add files read " +
      "null; post-add appends round-trip") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    IcebergLite.create(spark, t, c.filter(col("c_custkey") <= 40))
    IcebergLite.addColumn(spark, t, "tier",
      org.apache.spark.sql.types.StringType)
    IcebergLite.append(spark, t, c.filter(col("c_custkey") > 40)
      .withColumn("tier", lit("new")))
    val got = IcebergLite.snapshot(spark, t)
    assert(got.filter(col("c_custkey") <= 40 && col("tier").isNull)
      .count() == c.filter(col("c_custkey") <= 40).count())
    assert(got.filter(col("c_custkey") > 40 && col("tier") === "new")
      .count() == c.filter(col("c_custkey") > 40).count())
    // The new field's id is beyond the create-time range (never reuses).
    val metaTxt = {
      val hint = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(t, "metadata", "version-hint.text")),
        "UTF-8").trim
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(t, "metadata", s"v$hint.metadata.json")),
        "UTF-8")
    }
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(metaTxt)
    val curId = node.get("current-schema-id").asInt()
    val cur = node.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() == curId).get
    val tierId = cur.get("fields").elements().asScala
      .find(_.get("name").asText() == "tier").get.get("id").asInt()
    assert(tierId == 6, s"tier id $tierId (5 create-time fields)")
  }

  test("copy-on-write updateWhere rewrites only files that may match; " +
      "untouched manifests survive by reference") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    // 4 range files in snapshot 1, then an append manifest of 1 file.
    IcebergLite.create(spark, t, c.filter(col("c_custkey") <= 1200)
      .repartitionByRange(4, col("c_custkey")))
    IcebergLite.append(spark, t,
      c.filter(col("c_custkey") > 1200).coalesce(1))
    val filesBefore = IcebergLite.dataFiles(spark, t).toSet
    // Predicate confined to low keys: only the low-range file(s) rewrite.
    IcebergLite.updateWhere(spark, t, col("c_custkey") <= 100,
      Map("c_mktsegment" -> lit("VIP")))
    val filesAfter = IcebergLite.dataFiles(spark, t).toSet
    val untouched = filesBefore.intersect(filesAfter)
    assert(untouched.nonEmpty && filesAfter != filesBefore,
      s"expected partial rewrite: before=${filesBefore.size} " +
        s"after=${filesAfter.size} untouched=${untouched.size}")
    val got = IcebergLite.snapshot(spark, t)
    assert(got.filter(col("c_custkey") <= 100).select(col("c_mktsegment"))
      .distinct().collect().map(_.getString(0)).toSeq == Seq("VIP"))
    assert(got.filter(col("c_custkey") > 100 &&
      col("c_mktsegment") === "VIP").count() == 0)
    assert(got.count() == c.count())
  }

  test("merge upserts by key, folds prior position deletes, and " +
      "rejects ambiguous multi-matches") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    IcebergLite.create(spark, t, c.repartitionByRange(4, col("c_custkey")))
    // A prior merge-on-read delete: merged-over rows must not resurrect.
    IcebergLite.deleteWhere(spark, t, col("c_custkey") % 10 === 9)
    val src = c.filter(col("c_custkey") % 10 <= 1)
      .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
    IcebergLite.merge(spark, t, src, Seq("c_custkey"))
    val got = IcebergLite.snapshot(spark, t)
    // %10==9 rows were deleted, then %10<=1 re-inserted via merge → only
    // 9-enders stay gone; 0/1-enders carry the bumped balance.
    assert(got.filter(col("c_custkey") % 10 === 9).count() == 0)
    assert(got.count() == c.filter(col("c_custkey") % 10 =!= 9).count())
    val want = c.filter(col("c_custkey") % 10 <= 1)
      .select(col("c_custkey"), (col("c_acctbal") + 1000.0).as("b"))
      .orderBy(col("c_custkey")).collect().toSeq
    assert(got.filter(col("c_custkey") % 10 <= 1)
      .select(col("c_custkey"), col("c_acctbal").as("b"))
      .orderBy(col("c_custkey")).collect().toSeq == want)
    // Ambiguous multi-match rejected.
    val dup = src.limit(1).unionByName(src.limit(1))
    intercept[Exception] {
      IcebergLite.merge(spark, t, dup, Seq("c_custkey"))
    }
  }

  test("compact folds position deletes into bin-packed files; " +
      "expireSnapshots deletes everything unreferenced, reads survive") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    val s1 = IcebergLite.create(spark, t,
      c.repartitionByRange(5, col("c_custkey")))
    IcebergLite.deleteWhere(spark, t, col("c_custkey") % 4 === 1)
    assert(IcebergLite.deleteFiles(spark, t).nonEmpty)
    val want = c.filter(col("c_custkey") % 4 =!= 1)
    IcebergLite.compact(spark, t, targetFiles = 2)
    // Deletes folded in: no delete files, 2 data files, content equal.
    assert(IcebergLite.deleteFiles(spark, t).isEmpty)
    assert(IcebergLite.dataFiles(spark, t).size == 2)
    assert(IcebergLite.snapshot(spark, t).orderBy(col("c_custkey"))
      .collect().toSeq ==
      want.orderBy(col("c_custkey")).collect().toSeq)
    // Old snapshots still readable pre-expiry…
    assert(IcebergLite.snapshot(spark, t, s1).count() == c.count())
    val parquetsBefore = java.nio.file.Files.walk(
        java.nio.file.Paths.get(t, "data"))
      .filter(_.toString.endsWith(".parquet")).count()
    val deleted = IcebergLite.expireSnapshots(spark, t, retain = 1)
    // …and physically gone after: only the 2 compacted files remain.
    assert(deleted > 0 && deleted == parquetsBefore - 2, s"deleted=$deleted")
    assert(java.nio.file.Files.walk(java.nio.file.Paths.get(t, "data"))
      .filter(_.toString.endsWith(".parquet")).count() == 2)
    assert(IcebergLite.snapshots(spark, t).size == 1)
    intercept[Exception] { IcebergLite.snapshot(spark, t, s1).count() }
    assert(IcebergLite.snapshot(spark, t).orderBy(col("c_custkey"))
      .collect().toSeq ==
      want.orderBy(col("c_custkey")).collect().toSeq)
  }

  test("write-audit-publish: staging never moves the current pointer; " +
      "publish is a metadata-only flip; bad stages can be abandoned") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    IcebergLite.create(spark, t, c.filter(col("c_custkey") <= 40))
    val liveCount = c.filter(col("c_custkey") <= 40).count()
    val staged = IcebergLite.stageAppend(spark, t,
      c.filter(col("c_custkey") > 40 && col("c_custkey") <= 80))
    // Live view unchanged; staged view audits by id.
    assert(IcebergLite.snapshot(spark, t).count() == liveCount)
    assert(IcebergLite.snapshot(spark, t, staged).count() ==
      c.filter(col("c_custkey") <= 80).count())
    // A second (bad) stage is simply never published — no cleanup
    // needed for the live view.
    IcebergLite.stageAppend(spark, t, c.filter(col("c_custkey") > 80))
    IcebergLite.publish(spark, t, staged)
    assert(IcebergLite.snapshot(spark, t).count() ==
      c.filter(col("c_custkey") <= 80).count())
    intercept[IllegalArgumentException] {
      IcebergLite.publish(spark, t, 999L)
    }
  }

  test("partition-spec evolution is metadata-only: old files stay in " +
      "place, new appends lay out under the new spec, reads union both " +
      "layouts, compaction migrates to the default spec") {
    val t = freshTable()
    val o = Tables.orders(spark, sfDir).select(col("o_orderkey"),
      col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
    IcebergLite.create(spark, t, o.filter(col("o_orderkey") <= 600))
    val dataDir = new java.io.File(s"$t/data")
    def looseFiles() = dataDir.listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getName).toSet
    val before = looseFiles()

    IcebergLite.evolvePartitionSpec(spark, t, Seq("o_orderstatus"))
    // Metadata-only: not a single data file written or moved.
    assert(looseFiles() == before)

    IcebergLite.append(spark, t,
      o.filter(col("o_orderkey") > 600 && col("o_orderkey") <= 1200))
    // The append landed under the NEW data/o_orderstatus=X/ layout;
    // the old unpartitioned files are untouched.
    assert(dataDir.listFiles().exists(f =>
      f.isDirectory && f.getName.startsWith("o_orderstatus=")))
    assert(looseFiles() == before)

    // Reads union both layouts into the one current schema.
    val expect = o.filter(col("o_orderkey") <= 1200)
    assert(IcebergLite.snapshot(spark, t)
      .orderBy(col("o_orderkey")).collect().toSeq ==
      expect.orderBy(col("o_orderkey")).collect().toSeq)

    // A status filter prunes new-spec files by partition summary (and
    // old-spec files at most by column stats — never wrongly).
    val (kept, total) = IcebergLite.pruneInfo(spark, t,
      col("o_orderstatus") === "F")
    assert(kept < total)
    assert(IcebergLite.scan(spark, t, col("o_orderstatus") === "F")
      .count() == expect.filter(col("o_orderstatus") === "F").count())

    // Compaction rewrites everything under the DEFAULT spec — the
    // incremental layout-migration path: loose old-spec files drop out
    // of the live set.
    IcebergLite.compact(spark, t, 2)
    assert(IcebergLite.snapshot(spark, t).count() == expect.count())
    assert(IcebergLite.scan(spark, t, col("o_orderstatus") === "F")
      .count() == expect.filter(col("o_orderstatus") === "F").count())

    // Columns named by ANY spec (past or present) cannot be renamed;
    // re-declaring the current spec is rejected.
    intercept[IllegalArgumentException] {
      IcebergLite.renameColumn(spark, t, "o_orderstatus", "status")
    }
    intercept[IllegalArgumentException] {
      IcebergLite.evolvePartitionSpec(spark, t, Seq("o_orderstatus"))
    }
  }

  test("sort order: metadata-only declare, sorted+range-partitioned " +
      "writes give disjoint per-file key ranges that stats-prune") {
    val t = freshTable()
    val o = Tables.orders(spark, sfDir).select(col("o_orderkey"),
      col("o_custkey"), col("o_totalprice"))
    IcebergLite.create(spark, t, o.limit(0))
    IcebergLite.setSortOrder(spark, t, Seq("o_orderkey"))
    IcebergLite.append(spark, t, o.repartition(8))
    // Contents survive the rearrangement exactly.
    assert(IcebergLite.snapshot(spark, t)
      .orderBy(col("o_orderkey")).collect().toSeq ==
      o.orderBy(col("o_orderkey")).collect().toSeq)
    // A narrow key-range predicate keeps a strict subset of files —
    // files cover disjoint ranges, so most cannot match.
    val (kept, total) = IcebergLite.pruneInfo(spark, t,
      col("o_orderkey") >= 100 && col("o_orderkey") < 200)
    assert(total >= 4, s"expected several files, got $total")
    assert(kept * 2 <= total,
      s"sorted files should mostly prune: kept $kept of $total")
    // Unknown column and unchanged order are rejected.
    intercept[IllegalArgumentException] {
      IcebergLite.setSortOrder(spark, t, Seq("nope"))
    }
    intercept[IllegalArgumentException] {
      IcebergLite.setSortOrder(spark, t, Seq("o_orderkey"))
    }
  }

  test("refs: tags are immutable, branches advance in isolation, " +
      "expire protects ref targets, and pre-refs metadata still reads") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    val base = c.filter(col("c_custkey") <= 40)
    IcebergLite.create(spark, t, base)
    IcebergLite.createTag(spark, t, "rel")
    IcebergLite.createBranch(spark, t, "dev")
    // Tag re-creation refuses; branch append to a tag refuses.
    intercept[IllegalArgumentException] {
      IcebergLite.createTag(spark, t, "rel")
    }
    intercept[IllegalArgumentException] {
      IcebergLite.appendToBranch(spark, t, "rel",
        c.filter(col("c_custkey") > 40))
    }
    // Branch appends leave main untouched...
    IcebergLite.appendToBranch(spark, t, "dev",
      c.filter(col("c_custkey") > 40 && col("c_custkey") <= 80))
    assert(IcebergLite.snapshot(spark, t).count() == base.count())
    assert(IcebergLite.snapshotByRef(spark, t, "dev").count() ==
      c.filter(col("c_custkey") <= 80).count())
    // Lineage-aware incremental read: a main append interleaved into
    // the branch's id range is invisible to the branch's window.
    IcebergLite.append(spark, t, c.filter(col("c_custkey") > 80
      && col("c_custkey") <= 90)) // main: snapshot AFTER the branch's
    val branchFiles = IcebergLite.addedFilesForRef(spark, t, 0L,
      Long.MaxValue, Some("dev")).map(_._1).distinct.sorted
    assert(!branchFiles.contains(
      IcebergLite.snapshots(spark, t).max),
      "main's append must not appear in the branch lineage")
    // ...until fast-forward publishes the branch head.
    IcebergLite.fastForward(spark, t, "dev")
    assert(IcebergLite.snapshot(spark, t).count() ==
      c.filter(col("c_custkey") <= 80).count())
    // Expire keeps the tag's target alive; the tag still reads.
    IcebergLite.expireSnapshots(spark, t, retain = 1)
    assert(IcebergLite.snapshotByRef(spark, t, "rel").count() == base.count())
    assert(IcebergLite.listRefs(spark, t).map(_._1) ==
      Seq("main", "dev", "rel"))
    // Drop is metadata-only; main refuses.
    IcebergLite.dropRef(spark, t, "dev")
    assert(!IcebergLite.listRefs(spark, t).exists(_._1 == "dev"))
    intercept[IllegalArgumentException] {
      IcebergLite.dropRef(spark, t, "main")
    }
    // Back-compat: a metadata file with no refs key (pre-refs layout)
    // resolves main to the current snapshot.
    val t2 = freshTable()
    IcebergLite.create(spark, t2, base)
    val metaPath = java.nio.file.Paths.get(t2, "metadata", "v0.metadata.json")
    val txt = new String(java.nio.file.Files.readAllBytes(metaPath), "UTF-8")
    assert(txt.contains("\"refs\""))
    val stripped = txt.replaceAll(
      "\"refs\"\\s*:\\s*\\{[^}]*\\{[^}]*\\}[^}]*\\}\\s*,", "")
    assert(!stripped.contains("\"refs\""))
    java.nio.file.Files.write(metaPath, stripped.getBytes("UTF-8"))
    // The out-of-band rewrite invalidates Hadoop LocalFileSystem's
    // checksum sidecar — remove it so the read sees the edited bytes.
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(t2, "metadata", ".v0.metadata.json.crc"))
    assert(IcebergLite.snapshotByRef(spark, t2, "main").count() ==
      base.count())
  }

  test("bucket[N] transform: layout-only murmur3 buckets; equality " +
      "and IN predicates on the source prune to their buckets; range " +
      "predicates stay conservative") {
    val t = freshTable()
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"))
    IcebergLite.createWithSpec(spark, t, o,
      Seq(IcebergLite.bucketField("o_orderkey", 8)))
    // Derived value lives in the k=v layout, not schema or data files.
    val dirs = new java.io.File(s"$t/data").list().toSeq
      .filter(_.startsWith("o_orderkey_bucket="))
    assert(dirs.size == 8, s"expected 8 bucket dirs, got $dirs")
    val snap = IcebergLite.snapshot(spark, t)
    assert(snap.schema.fieldNames.toSeq ==
      Seq("o_orderkey", "o_totalprice"))
    assert(snap.count() == o.count())
    // A point lookup touches exactly 1 of the 8 buckets.
    val (kept1, total) =
      IcebergLite.pruneInfo(spark, t, col("o_orderkey") === 7L)
    assert(total == 8 && kept1 == 1, s"kept=$kept1 total=$total")
    // An IN-list touches at most |IN| buckets.
    val inPred = col("o_orderkey").isin(1L, 7L, 32L)
    val (keptIn, _) = IcebergLite.pruneInfo(spark, t, inPred)
    assert(keptIn <= 3, s"IN kept=$keptIn")
    // Scans stay exact under the pruning.
    assert(IcebergLite.scan(spark, t, inPred)
      .orderBy(col("o_orderkey")).collect().toSeq ==
      o.filter(inPred).orderBy(col("o_orderkey")).collect().toSeq)
    // Range predicates carry no bucket information — conservative.
    val (keptR, _) =
      IcebergLite.pruneInfo(spark, t, col("o_orderkey") < 100L)
    assert(keptR == 8)
  }

  test("truncate[W] transform: string prefixes and integer floors " +
      "bound the source column, so range predicates prune") {
    val t = freshTable()
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority"))
    IcebergLite.createWithSpec(spark, t, o,
      Seq(IcebergLite.truncateField("o_orderpriority", 1)))
    // TPC-H priorities '1-URGENT'..'5-LOW' → 5 one-char prefixes.
    val (kept, total) = IcebergLite.pruneInfo(spark, t,
      col("o_orderpriority") >= lit("1") &&
        col("o_orderpriority") < lit("3"))
    assert(total == 5 && kept == 2, s"kept=$kept total=$total")
    val pred = col("o_orderpriority") === lit("5-LOW")
    assert(IcebergLite.scan(spark, t, pred).count() ==
      o.filter(pred).count())
    // Integer truncate: floor-to-multiple bounds a W-wide range.
    val t2 = freshTable()
    IcebergLite.createWithSpec(spark, t2,
      Tables.orders(spark, sfDir).select(col("o_orderkey")),
      Seq(IcebergLite.truncateField("o_orderkey", 1000000)))
    val (kept2, total2) = IcebergLite.pruneInfo(spark, t2,
      col("o_orderkey") >= 1000000L && col("o_orderkey") < 2000000L)
    assert(kept2 < total2, s"kept=$kept2 total=$total2")
    val p2 = col("o_orderkey") < 1000000L
    assert(IcebergLite.scan(spark, t2, p2).count() ==
      Tables.orders(spark, sfDir).filter(p2).count())
  }

  test("rollbackTo moves the current pointer along lineage only; " +
      "abandoned snapshots stay time-travelable; orphan cleanup " +
      "spares every snapshot's files but sweeps debris") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    val half = c.filter(col("c_custkey") <= 40)
    val s1 = IcebergLite.create(spark, t, half)
    val s2 = IcebergLite.append(spark, t, c.filter(col("c_custkey") > 40))
    IcebergLite.rollbackTo(spark, t, s1)
    // Current = snapshot 1; snapshot 2 still reachable by id.
    assert(IcebergLite.snapshot(spark, t).count() == half.count())
    assert(IcebergLite.snapshot(spark, t, s2).count() == c.count())
    // Orphan sweep deletes debris, never a snapshot-reachable file.
    val stray = java.nio.file.Paths.get(t, "data", "stray.parquet")
    java.nio.file.Files.write(stray, Array[Byte](1, 2, 3))
    assert(IcebergLite.removeOrphanFiles(spark, t) == 1)
    assert(!java.nio.file.Files.exists(stray))
    assert(IcebergLite.snapshot(spark, t, s2).count() == c.count())
    // A post-rollback append forks lineage: s2 is no longer an
    // ancestor, so rolling "back" onto the dead branch refuses.
    val s3 = IcebergLite.append(spark, t,
      c.filter(col("c_custkey") > 40 && col("c_custkey") <= 45))
    intercept[IllegalArgumentException] {
      IcebergLite.rollbackTo(spark, t, s2)
    }
    assert(IcebergLite.snapshots(spark, t) == Seq(s1, s2, s3))
    // Expiration after rollback reclaims the dead branch's files.
    IcebergLite.expireSnapshots(spark, t, retain = 1)
    assert(IcebergLite.snapshot(spark, t).count() ==
      half.count() + 5)
  }

  test("mergeMOR: one snapshot, no data file read or rewritten, result " +
      "equals the COW merge; compact folds the masks") {
    val c = Tables.customer(spark, sfDir)
    val base = c.filter(col("c_custkey") <= 600)
    val source = c.filter(col("c_custkey") <= 50)
      .withColumn("c_acctbal", col("c_acctbal") * 2)
      .unionByName(c.filter(col("c_custkey") > 600 &&
        col("c_custkey") <= 650))
    def dataFiles(t: String): Set[String] = {
      val walk = java.nio.file.Files.walk(
        java.nio.file.Paths.get(t, "data"))
      try walk.toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).toSet
      finally walk.close()
    }
    val tMor = freshTable()
    IcebergLite.create(spark, tMor,
      base.repartitionByRange(3, col("c_custkey")))
    val before = dataFiles(tMor)
    IcebergLite.mergeMOR(spark, tMor, source, Seq("c_custkey"))
    assert(before.subsetOf(dataFiles(tMor)), "mergeMOR rewrote a data file")
    val tCow = freshTable()
    IcebergLite.create(spark, tCow,
      base.repartitionByRange(3, col("c_custkey")))
    IcebergLite.merge(spark, tCow, source, Seq("c_custkey"))
    val got = IcebergLite.snapshot(spark, tMor)
      .orderBy(col("c_custkey")).collect().toSeq
    val want = IcebergLite.snapshot(spark, tCow)
      .orderBy(col("c_custkey")).collect().toSeq
    assert(got == want, "MOR merge must equal the COW merge")
    // A second MOR merge over already-masked keys stacks correctly
    // (the new commit's higher sequence masks the previous merge's
    // rows too).
    IcebergLite.mergeMOR(spark, tMor,
      c.filter(col("c_custkey") <= 10).withColumn("c_acctbal", lit(9.9)),
      Seq("c_custkey"))
    val k1 = IcebergLite.snapshot(spark, tMor)
      .filter(col("c_custkey") === 1)
    assert(k1.count() == 1 && k1.head.getAs[Double]("c_acctbal") == 9.9)
    // Duplicate source keys refuse loudly.
    intercept[IllegalArgumentException] {
      IcebergLite.mergeMOR(spark, tMor,
        c.filter(col("c_custkey") === 2)
          .union(c.filter(col("c_custkey") === 2)), Seq("c_custkey"))
    }
    // Compaction folds delete files in; snapshot unchanged.
    val pre = IcebergLite.snapshot(spark, tMor)
      .orderBy(col("c_custkey")).collect().toSeq
    IcebergLite.compact(spark, tMor, targetFiles = 1)
    assert(IcebergLite.snapshot(spark, tMor)
      .orderBy(col("c_custkey")).collect().toSeq == pre)
  }

  test("applyChangesMOR: ordered CDC batches fold as one snapshot each " +
      "— inserts, updates, deletes, re-insert after delete — with the " +
      "data-file set only growing; compact folds the masks") {
    val c = Tables.customer(spark, sfDir)
    val keep = c.filter(col("c_custkey") <= 200)
    def tag(df: org.apache.spark.sql.DataFrame, op: String, seq: Int) =
      df.withColumn("_op", lit(op)).withColumn("_seq", lit(seq))
    def dataFiles(t: String): Set[String] = {
      val walk = java.nio.file.Files.walk(
        java.nio.file.Paths.get(t, "data"))
      try walk.toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).toSet
      finally walk.close()
    }
    val t = freshTable()
    IcebergLite.create(spark, t, keep.limit(0))
    // Batch 1: inserts. Batch 2 (one batch, mixed): update %10 keys,
    // delete %7 keys — the LATEST change per key must win within the
    // batch (a key hit by both takes the higher _seq).
    IcebergLite.applyChangesMOR(spark, t, tag(keep, "insert", 1),
      Seq("c_custkey"), "_op", "_seq")
    val afterInsert = dataFiles(t)
    val b2 = tag(keep.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", lit(1.5)), "update", 2)
      .unionByName(tag(keep.filter(col("c_custkey") % 7 === 0),
        "delete", 3))
    IcebergLite.applyChangesMOR(spark, t, b2,
      Seq("c_custkey"), "_op", "_seq")
    assert(afterInsert.subsetOf(dataFiles(t)),
      "applyChangesMOR rewrote a data file")
    val got = IcebergLite.snapshot(spark, t)
    // %7 keys gone (even those also updated — delete has higher seq),
    // surviving %10 keys carry the update, everything else untouched.
    assert(got.filter(col("c_custkey") % 7 === 0).count() == 0)
    assert(got.filter(col("c_custkey") % 10 === 0 &&
      col("c_acctbal") =!= 1.5).count() == 0)
    assert(got.count() ==
      keep.filter(col("c_custkey") % 7 =!= 0).count())
    // Re-insert a deleted key: the new commit's higher sequence wins.
    IcebergLite.applyChangesMOR(spark, t,
      tag(keep.filter(col("c_custkey") === 7), "insert", 4),
      Seq("c_custkey"), "_op", "_seq")
    assert(IcebergLite.snapshot(spark, t)
      .filter(col("c_custkey") === 7).count() == 1)
    // The op is matched in any case: 'DELETE' deletes, 'UPDATE' upserts.
    IcebergLite.applyChangesMOR(spark, t,
      tag(keep.filter(col("c_custkey") === 8), "DELETE", 5).unionByName(
        tag(keep.filter(col("c_custkey") === 9)
          .withColumn("c_acctbal", lit(2.5)), "UPDATE", 5)),
      Seq("c_custkey"), "_op", "_seq")
    val cased = IcebergLite.snapshot(spark, t)
    assert(cased.filter(col("c_custkey") === 8).count() == 0)
    assert(cased.filter(col("c_custkey") === 9)
      .select(col("c_acctbal")).head().getDouble(0) == 2.5)
    assert(cased.count() ==
      keep.filter(col("c_custkey") % 7 =!= 0).count())
    // Compact folds masks; content unchanged.
    val pre = IcebergLite.snapshot(spark, t)
      .orderBy(col("c_custkey")).collect().toSeq
    IcebergLite.compact(spark, t, targetFiles = 1)
    assert(IcebergLite.snapshot(spark, t)
      .orderBy(col("c_custkey")).collect().toSeq == pre)
  }

  test("APPLY CHANGES has one meaning on Delta and Iceberg: the same " +
      "batches, with ties on the sequence and ops in any case, leave " +
      "the same rows") {
    import spark.implicits._
    val base = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("k", "name", "bal")
    val batches = Seq(
      // key 1: two changes at the same sequence; key 2: 'DELETE'
      Seq((1L, "x", 5.0, "update", 7L), (1L, "y", 4.0, "update", 7L),
        (2L, "b", 2.0, "DELETE", 7L), (4L, "d", 4.0, "Insert", 7L)),
      // key 3: delete then re-insert within one batch; key 4: 'Delete'
      Seq((3L, "c", 3.0, "delete", 8L), (3L, "c2", 6.0, "INSERT", 9L),
        (4L, "d", 4.0, "Delete", 8L)))
      .map(_.toDF("k", "name", "bal", "_op", "_seq"))
    val (d, i) = (freshTable(), freshTable())
    DeltaLite.create(spark, d, base)
    IcebergLite.create(spark, i, base)
    batches.foreach { b =>
      DeltaLite.applyChanges(spark, d, b, Seq("k"), "_op", "_seq")
      IcebergLite.applyChangesMOR(spark, i, b, Seq("k"), "_op", "_seq")
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("k")).collect().toSeq.map(_.toSeq)
    val want = Seq(Seq(1L, "y", 4.0), Seq(3L, "c2", 6.0))
    assert(rows(DeltaLite.snapshot(spark, d)) == want)
    assert(rows(IcebergLite.snapshot(spark, i)) == want)
  }

  test("keyed merge above the pruning floor replaces only the files " +
      "whose key range meets the source") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    IcebergLite.create(spark, t, c.repartitionByRange(10, col("c_custkey")))
    // (file name, min key, max key) of every live file
    val ranges = IcebergLite.snapshot(spark, t)
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
    assert(IcebergLite.pruneInfo(spark, t,
      col("c_custkey") >= lo && col("c_custkey") <= hi) ==
      (meets.size, ranges.length))
    val before = IcebergLite.dataFiles(spark, t).toSet
    val inSrc = col("c_custkey").between(lo, hi)
    IcebergLite.merge(spark, t, c.filter(inSrc)
      .withColumn("c_acctbal", col("c_acctbal") + 1000.0), Seq("c_custkey"))
    val want = c.withColumn("c_acctbal",
      when(inSrc, col("c_acctbal") + 1000.0).otherwise(col("c_acctbal")))
    assert(IcebergLite.snapshot(spark, t).orderBy(col("c_custkey"))
      .collect().toSeq == want.orderBy(col("c_custkey")).collect().toSeq)
    val after = IcebergLite.dataFiles(spark, t).toSet
    val removed = (before -- after).map(p => p.substring(p.lastIndexOf('/') + 1))
    assert(removed == meets, s"removed $removed, key ranges meeting $meets")
  }

  test("a point read after a matching delete reads its position-delete " +
      "files under their fixed schema: no schema-inference job") {
    val t = freshTable()
    val c = Tables.customer(spark, sfDir)
    IcebergLite.create(spark, t, c.repartitionByRange(2, col("c_custkey")))
    def pointRead(): Unit = assert(IcebergLite.snapshot(spark, t)
      .filter(col("c_custkey") === 7).collect().length == 1)
    val clean = jobsOf(pointRead())
    IcebergLite.deleteWhere(spark, t, col("c_custkey") === 5)
    val masked = jobsOf(pointRead())
    info(s"point read: $clean jobs, $masked after a delete")
    // the delete side's broadcast is the one job a delete file may add
    assert(masked <= clean + 1, s"$clean jobs clean, $masked masked")
  }

  test("a failing delete-file write leaves no staging directory") {
    import spark.implicits._
    val t = freshTable()
    IcebergLite.create(spark, t, (1L to 10L).toDF("k"))
    // over a parquet scan this evaluates in the delete-file write job,
    // and fails there
    val boom = expr("assert_true(k < 5) IS NULL")
    intercept[Exception](IcebergLite.deleteWhere(spark, t, boom))
    intercept[Exception](IcebergLite.equalityDelete(spark, t, Seq("k"),
      IcebergLite.snapshot(spark, t).filter(boom)))
    val staged = new java.io.File(t).listFiles()
      .filter(_.getName.startsWith("_stage-"))
    assert(staged.isEmpty, staged.map(_.getName).mkString(", "))
    assert(IcebergLite.snapshot(spark, t).count() == 10)
  }

  test("a failed delete-file write removes its staging directory only " +
      "after its last task has ended") {
    import spark.implicits._
    val t = freshTable()
    // two files, one task each: the delete's condition fails on k = 0
    // and straggles on k = 1, whose task then writes its delete row
    IcebergLite.create(spark, t, Seq(0L).toDF("k"))
    IcebergLite.append(spark, t, Seq(1L).toDF("k"))
    failWithStraggler(straggle =>
      IcebergLite.deleteWhere(spark, t, straggle(col("k")) >= 0L))
    val staged = new java.io.File(t).listFiles()
      .filter(_.getName.startsWith("_stage-"))
    assert(staged.isEmpty, staged.map(_.getName).mkString(", "))
    assert(IcebergLite.snapshot(spark, t).count() == 2)
  }
}
