package graft.sources

import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import LakeFormat.{collectHits, fileName, latestChanges, mergeHits}

/** Minimal open-table-format support speaking the public Delta Lake
  * transaction-log protocol: a table is a directory of immutable parquet
  * data files plus a `_delta_log/` of JSON commits, each a newline-
  * delimited list of actions (`protocol` / `metaData` / `add` /
  * `remove` / `txn`). The live snapshot at version v is the
  * add-minus-remove file set after replaying commits 0..v — which also
  * gives time travel for free (replay to an older v). Implemented from
  * the published protocol spec against Spark + Hadoop FileSystem APIs
  * only (the lake-metadata capability of reference:metadata:1-53).
  *
  * Scale notes (100 TB):
  *  - Data-file IO is all distributed Spark parquet read/write; the
  *    driver touches only metadata (the log, file names, and parquet
  *    FOOTERS — per-file stats come from the footers the committer
  *    already wrote, never from re-reading data).
  *  - A commit is a temp file hard-linked (local) or renamed (Hadoop
  *    stores, the HDFSLogStore pattern) into its claimed name: the
  *    payload appears atomically WITH the claim, so a concurrent reader
  *    never replays a torn or empty commit, and two racing writers of
  *    version v+1 get one winner and one clean IOException.
  *  - Tables may be Hive-partitioned ([[create]]'s `partitionColumns`):
  *    add actions carry real `partitionValues`, and [[scan]] /
  *    [[deleteWhere]] / [[merge]] prune whole partitions from the
  *    metadata BEFORE consulting per-file stats — the first pruning
  *    lever of a lake table.
  *  - [[deleteWhere]] is copy-on-write DML: partition+stats pruning
  *    picks candidate files, ONE metadata-column scan of those finds
  *    the files containing matching rows, and only those are rewritten.
  *  - Log replay is a driver-side loop over commit files: the log is
  *    O(commits) small JSON, not data — and [[writeLogCheckpoint]]
  *    compacts the replayed state into one parquet file so replay is
  *    O(commits since checkpoint) and older JSON commits can age out.
  *  - `txn` actions give idempotent writes: [[appendOnce]] skips a
  *    (appId, version) already in the log, making restart-prone
  *    producers (e.g. a streaming foreachBatch sink) exactly-once.
  */
object DeltaLite extends LakeFormat {

  val provider = "deltalite"

  private val Json = new ObjectMapper()

  private def fs(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private def logDir(table: String) = new Path(table, "_delta_log")
  private def commitPath(table: String, v: Long) =
    new Path(logDir(table), f"$v%020d.json")

  /** Latest committed version; -1 if no table exists at `table`. A log
    * checkpoint counts as a committed version — after pre-checkpoint
    * JSON commits age out, the checkpoint itself anchors the version
    * line.
    */
  def latestVersion(s: SparkSession, table: String): Long = {
    val ld = logDir(table)
    val f = fs(s, ld)
    if (!f.exists(ld)) -1L
    else f.listStatus(ld).map(_.getPath.getName)
      .collect {
        case n if n.endsWith(".json") && n.stripSuffix(".json").forall(_.isDigit) =>
          n.stripSuffix(".json").toLong
        case n if n.endsWith(".checkpoint.parquet") =>
          n.stripSuffix(".checkpoint.parquet").toLong
      }
      .foldLeft(-1L)(math.max)
  }

  /** DESCRIBE HISTORY: one row per surviving JSON commit — version,
    * the commitInfo operation name (null for commits written before
    * operations were recorded), and the commit's add/remove action
    * counts. Driver-side metadata read only (the log is what a Delta
    * driver already holds; commits aged out behind a checkpoint are
    * simply absent, as in Delta itself after log cleanup).
    */
  def history(s: SparkSession, table: String): DataFrame = {
    val ld = logDir(table)
    val f = fs(s, ld)
    require(f.exists(ld), s"no delta table at $table")
    val versions = f.listStatus(ld).map(_.getPath.getName)
      .collect {
        case n if n.endsWith(".json") &&
            n.stripSuffix(".json").forall(_.isDigit) =>
          n.stripSuffix(".json").toLong
      }.sorted.toSeq
    val rows = versions.map { v =>
      var op: Option[String] = None
      var adds = 0L
      var removes = 0L
      readCommit(f, commitPath(table, v)).split('\n')
        .filter(_.nonEmpty).foreach { line =>
          val n = Json.readTree(line)
          if (n.has("commitInfo"))
            op = Option(n.get("commitInfo").get("operation")).map(_.asText())
          if (n.has("add")) adds += 1
          if (n.has("remove")) removes += 1
        }
      (v, op.orNull, adds, removes)
    }
    import s.implicits._
    rows.toDF("version", "operation", "num_added_files",
      "num_removed_files")
  }

  /** Resolve a wall-clock instant to the log version current AT that
    * instant: the LATEST version whose commitInfo.timestamp is <= the
    * target — Delta's `TIMESTAMP AS OF` rule. Commits written before
    * timestamps existed carry 0 and so match any modern instant.
    * Throws if the instant predates the first commit (same behavior as
    * Delta: there is no table state to read there). Driver-side
    * metadata read only — O(log size), no data files touched.
    */
  def versionAt(s: SparkSession, table: String, tsMillis: Long): Long = {
    val ld = logDir(table)
    val f = fs(s, ld)
    require(f.exists(ld), s"no delta table at $table")
    val versions = f.listStatus(ld).map(_.getPath.getName)
      .collect {
        case n if n.endsWith(".json") &&
            n.stripSuffix(".json").forall(_.isDigit) =>
          n.stripSuffix(".json").toLong
      }.sorted.toSeq
    val stamped = versions.map { v =>
      var ts = 0L
      readCommit(f, commitPath(table, v)).split('\n')
        .filter(_.nonEmpty).foreach { line =>
          val n = Json.readTree(line)
          if (n.has("commitInfo") && n.get("commitInfo").has("timestamp"))
            ts = n.get("commitInfo").get("timestamp").asLong(0L)
        }
      (v, ts)
    }
    val at = stamped.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"no commit at or before timestamp $tsMillis in $table " +
        s"(earliest is ${stamped.headOption.map(_._2).getOrElse(-1L)})")
    at.map(_._1).max
  }

  /** One live data file: relative path, its partition values (None =
    * null partition), its stats JSON when collected, the relative
    * path of its deletion-vector sidecar when rows have been soft-
    * deleted (merge-on-read), plus the size and DV cardinality the
    * commit recorded (carried so checkpoints can re-emit the spec's
    * required add-action fields).
    */
  private case class FileEntry(path: String,
      partValues: Seq[(String, Option[String])], stats: Option[JsonNode],
      dv: Option[String] = None, size: Long = 0L, dvCardinality: Long = 0L)

  private case class State(schemaJson: String, partCols: Seq[String],
      entries: Seq[FileEntry], txns: Map[String, Long],
      config: Map[String, String] = Map.empty) {
    def schema: StructType =
      DataType.fromJson(schemaJson).asInstanceOf[StructType]
    /** CHECK constraints from table configuration (the protocol's
      * `delta.constraints.<name>` keys), as (name, SQL condition). */
    def constraints: Seq[(String, String)] =
      config.toSeq.collect {
        case (k, v) if k.startsWith("delta.constraints.") =>
          k.stripPrefix("delta.constraints.") -> v
      }.sortBy(_._1)
  }

  // ------------------------------------------------- column mapping
  // Delta's column-mapping (name mode): each field's METADATA carries
  // its immutable PHYSICAL name (the parquet column name); the field's
  // own name is just the current logical label. Enabled lazily by the
  // first RENAME, which stamps physicalName = current name on every
  // field (so all existing files keep resolving) and then relabels.
  // Readers read parquet under physical names and alias to logical;
  // writers do the reverse; stats and partitionValues are keyed by
  // physical names (the protocol's rule). Partition columns cannot be
  // renamed (their name is baked into the k=v layout — the same stated
  // simplification as IcebergLite).

  private val PhysKey = "delta.columnMapping.physicalName"

  private def physName(fd: StructField): String =
    if (fd.metadata.contains(PhysKey)) fd.metadata.getString(PhysKey)
    else fd.name

  /** The schema as parquet files spell it (physical names, bare). */
  private def physStruct(schema: StructType): StructType =
    StructType(schema.fields.map(fd =>
      StructField(physName(fd), fd.dataType, fd.nullable)))

  private def hasMapping(schema: StructType): Boolean =
    schema.fields.exists(_.metadata.contains(PhysKey))

  /** logical name -> physical name, for predicate/stats remapping. */
  private def physNames(schema: StructType): Map[String, String] =
    schema.fields.map(fd => fd.name -> physName(fd)).toMap

  private def lastCheckpointPath(table: String) =
    new Path(logDir(table), "_last_checkpoint")
  private def checkpointFile(table: String, v: Long) =
    new Path(logDir(table), f"$v%020d.checkpoint.parquet")

  /** Version of the newest log checkpoint at or below `atMost`, if any. */
  private def checkpointVersion(s: SparkSession, table: String,
      atMost: Long): Option[Long] = {
    val p = lastCheckpointPath(table)
    val f = fs(s, p)
    if (!f.exists(p)) return None
    val in = f.open(p)
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val v = Json.readTree(txt).get("version").asLong()
    if (v <= atMost && f.exists(checkpointFile(table, v))) Some(v) else None
  }

  private def partValuesOf(n: JsonNode): Seq[(String, Option[String])] =
    Option(n).toSeq.flatMap(_.properties().asScala.map { e =>
      e.getKey -> (if (e.getValue.isNull) None else Some(e.getValue.asText()))
    }.toSeq)

  /** Commit text, treating a zero-length file as an in-progress writer
    * (claimed but payload not yet linked — cannot happen with the local
    * hard-link commit, but a remote store's claim+rename can expose the
    * window): poll briefly, then fail loudly rather than replay an
    * empty commit.
    */
  private def readCommit(f: FileSystem, p: Path): String = {
    var tries = 0
    while (f.getFileStatus(p).getLen == 0L) {
      tries += 1
      require(tries <= 100,
        s"commit $p still zero-length after 2s — in-progress or torn writer")
      Thread.sleep(20)
    }
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Replay commits into the table state (schema, partition columns,
    * live file entries with partition values + stats, txn high-water
    * marks). Replay starts from the newest checkpoint ≤ `version` when
    * one exists — O(commits since checkpoint), not O(table lifetime) —
    * and walks only the JSON commits after it.
    *
    * Snapshot state is DRIVER-resident by design — the same contract
    * as Delta's own driver-side Snapshot: the action list is one
    * FileEntry (~hundreds of bytes) per LIVE FILE, so the practical
    * ceiling is file count, not data size. At ~1 GB of driver heap per
    * ~2M live files, a 100 TB table compacted to ≥100 MB files (~1M
    * files) replays comfortably; a table pathologically fragmented far
    * past that needs compaction (OPTIMIZE — s11/s50) before anything
    * else would work either.
    */
  private def replay(s: SparkSession, table: String, version: Long): State = {
    val f = fs(s, new Path(table))
    val live = mutable.LinkedHashMap[String, FileEntry]()
    val txns = mutable.Map[String, Long]()
    var schemaJson: String = null
    var partCols: Seq[String] = Nil
    var config: Map[String, String] = Map.empty
    val from = checkpointVersion(s, table, version) match {
      case Some(cv) =>
        // Spec checkpoint layout: one action per row in nested structs
        // (metaData / add / txn / protocol), exactly the Delta protocol
        // checkpoint schema.
        s.read.parquet(checkpointFile(table, cv).toString).collect()
          .foreach { r =>
            if (!r.isNullAt(r.fieldIndex("metaData"))) {
              val m = r.getStruct(r.fieldIndex("metaData"))
              schemaJson = m.getAs[String]("schemaString")
              partCols = Option(
                m.getAs[scala.collection.Seq[String]]("partitionColumns"))
                .map(_.toSeq).getOrElse(Nil)
              // Pre-configuration checkpoints lack the field.
              config =
                if (m.schema.fieldNames.contains("configuration"))
                  Option(m.getAs[scala.collection.Map[String, String]](
                    "configuration")).map(_.toMap).getOrElse(Map.empty)
                else Map.empty
            }
            if (!r.isNullAt(r.fieldIndex("add"))) {
              val a = r.getStruct(r.fieldIndex("add"))
              val p = a.getAs[String]("path")
              val pvs = Option(a.getAs[scala.collection.Map[String, String]](
                  "partitionValues"))
                .getOrElse(scala.collection.Map.empty[String, String])
                .toSeq.map { case (k, v) => k -> Option(v) }
              val dvStruct = a.fieldIndex("deletionVector")
              val (dvPath, dvCard) =
                if (a.isNullAt(dvStruct)) (None, 0L)
                else {
                  val d = a.getStruct(dvStruct)
                  (Option(d.getAs[String]("pathOrInlineDv")),
                    d.getAs[Long]("cardinality"))
                }
              live(p) = FileEntry(p, pvs,
                Option(a.getAs[String]("stats")).map(Json.readTree),
                dvPath, a.getAs[Long]("size"), dvCard)
            }
            if (!r.isNullAt(r.fieldIndex("txn"))) {
              val t = r.getStruct(r.fieldIndex("txn"))
              txns(t.getAs[String]("appId")) = t.getAs[Long]("version")
            }
          }
        cv + 1
      case None => 0L
    }
    (from to version).foreach { v =>
      readCommit(f, commitPath(table, v))
        .split('\n').filter(_.nonEmpty).foreach { line =>
          val n = Json.readTree(line)
          if (n.has("metaData")) {
            val m = n.get("metaData")
            schemaJson = m.get("schemaString").asText()
            partCols = Option(m.get("partitionColumns")).toSeq
              .flatMap(_.elements().asScala.map(_.asText())).toSeq
            config = Option(m.get("configuration")).map(c =>
              c.properties().asScala.map(e =>
                e.getKey -> e.getValue.asText()).toMap)
              .getOrElse(Map.empty)
          }
          if (n.has("add")) {
            val a = n.get("add")
            val p = a.get("path").asText()
            live(p) = FileEntry(p, partValuesOf(a.get("partitionValues")),
              if (a.has("stats")) Some(Json.readTree(a.get("stats").asText()))
              else None,
              if (a.has("deletionVector"))
                Some(a.get("deletionVector").get("pathOrInlineDv").asText())
              else None,
              if (a.has("size")) a.get("size").asLong() else 0L,
              if (a.has("deletionVector"))
                a.get("deletionVector").get("cardinality").asLong()
              else 0L)
          }
          if (n.has("remove")) live -= n.get("remove").get("path").asText()
          if (n.has("txn")) {
            val t = n.get("txn")
            val app = t.get("appId").asText()
            val tv = t.get("version").asLong()
            txns(app) = math.max(txns.getOrElse(app, Long.MinValue), tv)
          }
        }
    }
    require(schemaJson != null, s"delta log at $table has no metaData")
    State(schemaJson, partCols, live.values.toSeq, txns.toMap, config)
  }

  /** Write a log checkpoint at the current version: the fully-replayed
    * state (metaData + every live add with its partition values and
    * stats + txn high-water marks) lands in ONE parquet file, and
    * `_last_checkpoint` points readers at it. After this, replay is
    * O(commits since checkpoint) and JSON commits at or before the
    * checkpoint may be aged out (the protocol's log-retention story for
    * long-lived tables).
    *
    * The file uses the Delta PROTOCOL's checkpoint schema: one action
    * per row in nested structs (`protocol` / `metaData` / `add` /
    * `txn`), adds carrying path, partitionValues map, size,
    * modificationTime, dataChange=false, stats JSON and the
    * deletionVector descriptor; `_last_checkpoint` carries
    * `{"version", "size"}`. Protocol versions are (1,2) — or (3,7)
    * once deletion vectors are present, as the spec requires readers/
    * writers to understand DVs then. Returns the checkpointed version.
    */
  def writeLogCheckpoint(s: SparkSession, table: String): Long = {
    val v = latestVersion(s, table)
    require(v >= 0, s"no delta log at $table")
    val st = replay(s, table, v)
    val hasDv = st.entries.exists(_.dv.isDefined)
    val mapped = hasMapping(st.schema)
    // The checkpoint re-emits the protocol floor the table's features
    // require: DVs push both versions up; column mapping needs
    // reader 2 / writer 5.
    val protocolRow = Row(
      Row(if (hasDv) 3 else if (mapped) 2 else 1,
        if (hasDv) 7 else if (mapped) 5 else 2), null, null, null)
    val metaRow = Row(null,
      Row(UUID.nameUUIDFromBytes(table.getBytes("UTF-8")).toString,
        Row("parquet"), st.schemaJson, st.partCols,
        (st.config ++ (if (mapped)
          Map("delta.columnMapping.mode" -> "name") else Map.empty))
          .asInstanceOf[Map[String, String]]),
      null, null)
    val addRows = st.entries.map { e =>
      Row(null, null,
        Row(e.path,
          e.partValues.map { case (k, ov) => k -> ov.orNull }.toMap,
          e.size, 0L, false, e.stats.map(_.toString).orNull,
          e.dv.map(rel => Row("path", rel, e.dvCardinality)).orNull),
        null)
    }
    val txnRows = st.txns.toSeq.sortBy(_._1).map { case (app, tv) =>
      Row(null, null, null, Row(app, tv))
    }
    val schema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType, nullable = false),
        StructField("minWriterVersion", IntegerType, nullable = false)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType, nullable = false),
        StructField("format", StructType(Seq(
          StructField("provider", StringType, nullable = false)))),
        StructField("schemaString", StringType, nullable = false),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration",
          MapType(StringType, StringType, valueContainsNull = false))))),
      StructField("add", StructType(Seq(
        StructField("path", StringType, nullable = false),
        StructField("partitionValues",
          MapType(StringType, StringType, valueContainsNull = true)),
        StructField("size", LongType, nullable = false),
        StructField("modificationTime", LongType, nullable = false),
        StructField("dataChange", BooleanType, nullable = false),
        StructField("stats", StringType, nullable = true),
        StructField("deletionVector", StructType(Seq(
          StructField("storageType", StringType, nullable = false),
          StructField("pathOrInlineDv", StringType, nullable = false),
          StructField("cardinality", LongType, nullable = false))))))),
      StructField("txn", StructType(Seq(
        StructField("appId", StringType, nullable = false),
        StructField("version", LongType, nullable = false))))))
    val rows: java.util.List[Row] =
      ((protocolRow +: metaRow +: addRows) ++ txnRows).asJava
    val stageDir = new Path(table, s"_stage_ckpt_${UUID.randomUUID()}")
    val f = fs(s, stageDir)
    LakeFormat.staged(s, stageDir) {
      s.createDataFrame(rows, schema).coalesce(1)
        .write.mode("overwrite").parquet(stageDir.toString)
      val part = f.listStatus(stageDir)
        .map(_.getPath).find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException("checkpoint stage empty"))
      require(f.rename(part, checkpointFile(table, v)),
        "rename failed for checkpoint")
    }
    val out = f.create(lastCheckpointPath(table), true) // pointer: overwrite
    try out.write(s"""{"version":$v,"size":${rows.size()}}"""
      .getBytes("UTF-8"))
    finally out.close()
    v
  }

  /** Read the given live files under the log's schema. Partitioned
    * tables read with `basePath` so the partition columns — absent from
    * the data files, per Hive layout — are injected from the directory
    * names with the types the log schema declares; the final projection
    * restores the log's column order.
    */
  /** Shallow-cloned tables record ABSOLUTE add paths (the real Delta
    * CLONE design: the data stays in the source table). Such paths
    * resolve as-is, and the partition-discovery basePath must be
    * omitted for them (they live outside this table's root).
    */
  private[sources] def isAbsPath(p: String): Boolean =
    p.startsWith("/") || p.contains("://")

  /** `fileCol` adds each row's data file name from the scan's own
    * `_metadata` (reachable on the scan relation only, so before the
    * renaming projection). It is a plain column: a filter above it
    * still reaches the parquet reader. */
  private def readFiles(s: SparkSession, table: String, schema: StructType,
      rels: Seq[String], fileCol: Option[String] = None): DataFrame =
    if (rels.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[Row],
        fileCol.fold(schema)(schema.add(_, StringType)))
    else {
      // Parquet speaks PHYSICAL names; the projection relabels to the
      // current logical names (identity when mapping is off).
      val r0 = s.read.schema(physStruct(schema))
      val r = if (rels.exists(isAbsPath)) r0 else r0.option("basePath", table)
      r.parquet(rels.map(p => new Path(table, p).toString): _*)
        .select(schema.fields.map(fd =>
          col(physName(fd)).as(fd.name)).toSeq ++
          fileCol.map(col("_metadata.file_name").as(_)): _*)
    }

  private def readDv(s: SparkSession, table: String, rel: String): Seq[Long] = {
    val p = new Path(table, rel)
    val f = fs(s, p)
    val in = f.open(p)
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    Json.readTree(txt).get("deletedRows").elements().asScala
      .map(_.asLong()).toSeq
  }

  /** Read live entries honoring deletion vectors: files without a DV
    * read plain; files with one read with the parquet row index
    * (`_metadata.row_index`) and anti-join their deleted positions
    * (small, broadcast). `fileCol` additionally exposes each row's data
    * file NAME (for the DML hit-detection scans).
    */
  private def readEntries(s: SparkSession, table: String,
      schema: StructType, entries: Seq[FileEntry],
      fileCol: Option[String] = None): DataFrame = {
    import s.implicits._
    val outCols =
      (schema.fieldNames.toSeq ++ fileCol.toSeq).map(col)
    val (dvE, plain) = entries.partition(_.dv.isDefined)
    val base = readFiles(s, table, schema, plain.map(_.path), fileCol)
      .select(outCols: _*)
    if (dvE.isEmpty) return base
    val deleted = dvE.flatMap(e => readDv(s, table, e.dv.get)
      .map(rid => (fileName(e.path), rid)))
      .toDF("_dv_fname", "_dv_rid")
    val maskedReader = {
      val r0 = s.read.schema(physStruct(schema))
      if (dvE.exists(e => isAbsPath(e.path))) r0
      else r0.option("basePath", table)
    }
    val masked = maskedReader
      .parquet(dvE.map(e => new Path(table, e.path).toString): _*)
      .withColumn("_dv_fname", col("_metadata.file_name"))
      .withColumn("_dv_rid", col("_metadata.row_index"))
      .select(schema.fields.map(fd =>
        col(physName(fd)).as(fd.name)).toSeq ++
        Seq(col("_dv_fname"), col("_dv_rid")): _*)
      .join(broadcast(deleted), Seq("_dv_fname", "_dv_rid"), "left_anti")
    val maskedOut = (fileCol match {
      case Some(c) => masked.withColumn(c, col("_dv_fname"))
      case None => masked
    }).select(outCols: _*)
    base.unionByName(maskedOut)
  }

  /** Snapshot read; `version < 0` means latest. The schema comes from
    * the log's metaData (not parquet inference), as the protocol
    * requires — files written before a schema evolution still read
    * under the current schema, and rows soft-deleted by a deletion
    * vector are filtered out.
    */
  def snapshot(s: SparkSession, table: String, version: Long): DataFrame = {
    val latest = latestVersion(s, table)
    require(latest >= 0, s"no delta log at $table")
    val v = if (version < 0) latest else version
    require(v <= latest, s"version $v > latest $latest at $table")
    val st = replay(s, table, v)
    readEntries(s, table, st.schema, st.entries)
  }

  private val NullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Undo Hive's %XX escaping of special characters in partition-value
    * directory names.
    */
  private def unescapeHive(raw: String): String =
    if (!raw.contains('%')) raw
    else {
      val sb = new StringBuilder(raw.length)
      var i = 0
      while (i < raw.length) {
        val c = raw.charAt(i)
        if (c == '%' && i + 2 < raw.length) {
          sb.append(Integer.parseInt(raw.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

  /** Distributed-write `df` into the table dir (Hive-partitioned when
    * `partCols` is non-empty); returns (relative path, partition
    * values, size) per data file. Files are staged by the normal
    * parquet committer, then renamed (a metadata op) to UUID names —
    * keeping their `k=v` partition directories — under the root. The
    * staging directory is removed whether the write succeeds or fails
    * ([[LakeFormat.staged]]).
    */
  private[sources] def stage(s: SparkSession, table: String, df: DataFrame,
      partCols: Seq[String]): Seq[(String, Seq[(String, Option[String])], Long)] = {
    val stageDir = new Path(table, s"_stage_${UUID.randomUUID()}")
    val f = fs(s, stageDir)
    LakeFormat.staged(s, stageDir) {
      LakeFormat.wrote(org.apache.spark.sql.graft.Glue.save(df, "parquet",
        stageDir.toString, partCols))
      val stagePrefix = f.makeQualified(stageDir).toString
      val found = mutable.Buffer[(Path, String, Long)]() // (file, subdir, size)
      val it = f.listFiles(stageDir, true)
      while (it.hasNext) {
        val st = it.next()
        val n = st.getPath.getName
        if (n.startsWith("part-") && n.endsWith(".parquet")) {
          val sub = f.makeQualified(st.getPath.getParent).toString
            .stripPrefix(stagePrefix).stripPrefix("/")
          found += ((st.getPath, sub, st.getLen))
        }
      }
      found.map { case (src, sub, len) =>
        val name = s"part-${UUID.randomUUID()}.parquet"
        val rel = if (sub.isEmpty) name else s"$sub/$name"
        if (sub.nonEmpty) f.mkdirs(new Path(table, sub))
        require(f.rename(src, new Path(table, rel)),
          s"rename failed staging $rel")
        val pvs = sub.split('/').filter(_.contains('=')).toSeq.map { comp =>
          val k = comp.substring(0, comp.indexOf('='))
          val raw = comp.substring(comp.indexOf('=') + 1)
          k -> (if (raw == NullPartition) None else Some(unescapeHive(raw)))
        }
        (rel, pvs, len)
      }.toSeq
    }
  }

  private def obj(field: String)(fill: ObjectNode => Unit): String = {
    val root = Json.createObjectNode()
    fill(root.putObject(field))
    Json.writeValueAsString(root)
  }

  private def addAction(path: String, size: Long,
      partValues: Seq[(String, Option[String])], stats: Option[String],
      dataChange: Boolean = true,
      dv: Option[(String, Long)] = None): String =
    obj("add") { a =>
      a.put("path", path)
      val pv = a.putObject("partitionValues")
      partValues.foreach {
        case (k, Some(v)) => pv.put(k, v)
        case (k, None) => pv.putNull(k)
      }
      a.put("size", size)
      a.put("modificationTime", 0L)
      a.put("dataChange", dataChange)
      stats.foreach(st => a.put("stats", st))
      dv.foreach { case (rel, cardinality) =>
        val d = a.putObject("deletionVector")
        // Simplified descriptor: a relative sidecar path (real Delta
        // packs roaring bitmaps with storageType u/i/p encodings).
        d.put("storageType", "path")
        d.put("pathOrInlineDv", rel)
        d.put("cardinality", cardinality)
      }
    }

  private def removeAction(path: String, dataChange: Boolean = true): String =
    obj("remove") { r =>
      r.put("path", path)
      r.put("deletionTimestamp", 0L)
      r.put("dataChange", dataChange)
    }

  private def txnAction(appId: String, version: Long): String =
    obj("txn") { t =>
      t.put("appId", appId)
      t.put("version", version)
    }

  // ------------------------------------------------------------------
  // Per-file stats (from parquet footers) + data skipping
  // ------------------------------------------------------------------

  /** Columns eligible for min/max stats: atomic numerics and strings. */
  private def statCols(schema: StructType): Seq[StructField] =
    schema.fields.toSeq.filter(f => f.dataType match {
      case _: NumericType | StringType => true
      case _ => false
    })

  /** A parquet row-group statistics value decoded to the stats-JSON
    * domain (Long / Double / BigDecimal / String) for the Spark type the
    * log schema declares for the column. None = unusable (unknown
    * physical form, or a non-ASCII string whose parquet byte ordering
    * need not agree with the Java string ordering [[cmp]] uses) — the
    * column's stats are dropped for that file, never guessed.
    */
  private def decodeStat(v: AnyRef, dt: DataType): Option[Any] = (dt, v) match {
    case (_, null) => None
    case (d: DecimalType, n: java.lang.Integer) =>
      Some(java.math.BigDecimal.valueOf(n.longValue(), d.scale))
    case (d: DecimalType, n: java.lang.Long) =>
      Some(java.math.BigDecimal.valueOf(n.longValue(), d.scale))
    case (d: DecimalType, b: Binary) =>
      Some(new java.math.BigDecimal(
        new java.math.BigInteger(b.getBytes), d.scale))
    case (ByteType | ShortType | IntegerType | LongType, n: java.lang.Number) =>
      Some(java.lang.Long.valueOf(n.longValue()))
    case (FloatType | DoubleType, n: java.lang.Number) =>
      Some(java.lang.Double.valueOf(n.doubleValue()))
    case (StringType, b: Binary) =>
      val s = b.toStringUsingUTF8
      if (s.forall(_ < 128)) Some(s) else None
    case _ => None
  }

  private[sources] def cmpVals(a: Any, b: Any): Int = (a, b) match {
    case (x: java.lang.Long, y: java.lang.Long) => x.compareTo(y)
    case (x: java.lang.Double, y: java.lang.Double) => x.compareTo(y)
    case (x: String, y: String) => x.compareTo(y)
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
    case _ => 0
  }

  /** Delta-style per-file stats (`numRecords` + min/max per eligible
    * column) read from the parquet FOOTERS of freshly staged files —
    * the committer already wrote row-group statistics, so stats
    * collection is a metadata-only read of O(files) footers, not a
    * second pass over the data. Columns whose footer stats are absent
    * or unusable are omitted (omitted stats never prune). Driver-side:
    * footers are KBs; at extreme file counts per commit the same loop
    * distributes trivially over an RDD of file names.
    */
  private[sources] def footerStats(s: SparkSession, table: String, rels: Seq[String],
      dataSchema: StructType): Map[String, String] = {
    if (rels.isEmpty) return Map.empty
    val conf = s.sparkContext.hadoopConfiguration
    val opts = HadoopReadOptions.builder(conf).build()
    val byName = statCols(dataSchema).map(f => f.name -> f.dataType).toMap
    rels.flatMap { rel =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(table, rel), conf), opts)
      try {
        var numRecords = 0L
        val mins = mutable.Map[String, Any]()
        val maxs = mutable.Map[String, Any]()
        val bad = mutable.Set[String]()
        reader.getFooter.getBlocks.asScala.foreach { b =>
          numRecords += b.getRowCount
          b.getColumns.asScala.foreach { c =>
            val parts = c.getPath.toArray
            if (parts.length == 1 && byName.contains(parts(0))) {
              val name = parts(0)
              val dt = byName(name)
              val st = c.getStatistics
              if (st == null || st.isEmpty) bad += name
              else if (st.hasNonNullValue) {
                (decodeStat(st.genericGetMin.asInstanceOf[AnyRef], dt),
                  decodeStat(st.genericGetMax.asInstanceOf[AnyRef], dt)) match {
                  case (Some(lo), Some(hi)) =>
                    mins(name) = mins.get(name)
                      .filter(cmpVals(_, lo) <= 0).getOrElse(lo)
                    maxs(name) = maxs.get(name)
                      .filter(cmpVals(_, hi) >= 0).getOrElse(hi)
                  case _ => bad += name
                }
              } // all-null chunk: contributes no bounds, stays valid
            }
          }
        }
        val root = Json.createObjectNode()
        root.put("numRecords", numRecords)
        val minO = root.putObject("minValues")
        val maxO = root.putObject("maxValues")
        byName.keys.toSeq.sorted.filterNot(bad).foreach { name =>
          mins.get(name).foreach(putVal(minO, name, _))
          maxs.get(name).foreach(putVal(maxO, name, _))
        }
        Some(rel -> Json.writeValueAsString(root))
      } finally reader.close()
    }.toMap
  }

  private[sources] def putVal(o: ObjectNode, name: String, v: Any): Unit = v match {
    case null => ()
    case s: String => o.put(name, s)
    case b: java.lang.Byte => o.put(name, b.longValue())
    case sh: java.lang.Short => o.put(name, sh.longValue())
    case i: java.lang.Integer => o.put(name, i.longValue())
    case l: java.lang.Long => o.put(name, l.longValue())
    case f: java.lang.Float => o.put(name, f.doubleValue())
    case d: java.lang.Double => o.put(name, d.doubleValue())
    case d: java.math.BigDecimal => o.put(name, d)
    case other => o.put(name, other.toString)
  }

  private def attrName(e: Expression): Option[String] = e match {
    case a: UnresolvedAttribute => Some(a.name)
    case a: Attribute => Some(a.name)
    case _ => None
  }

  /** Literal value, FOLDING the casts the analyzer inserts for type
    * coercion (e.g. int literal vs bigint column, string literal vs
    * timestamp column): the cast is evaluated so the value lands in
    * the COLUMN's comparison domain — looking through it instead
    * would hand a string to a timestamp comparison and break pruning.
    */
  private object Lit {
    def unapply(e: Expression): Option[Any] = e match {
      case Literal(v, _) if v != null => Some(v)
      case c: org.apache.spark.sql.catalyst.expressions.Cast
          if c.foldable => Option(c.eval(null))
      case _ => None
    }
  }

  /** Resolve `pred` against the table schema into an ANALYZED catalyst
    * predicate (a user Column converts lazily via ColumnNodeExpression;
    * only analysis produces the concrete comparison nodes the stats
    * evaluator matches on). Driver-side, metadata-cheap.
    */
  private[sources] def resolvedPred(s: SparkSession, schema: StructType,
      pred: Column): Expression = {
    val empty = s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
    empty.filter(pred).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.getOrElse(Literal(true))
  }

  /** stat-vs-literal comparison; None = incomparable (never prune).
    * Integral stats against integral literals compare as exact longs
    * and decimals as BigDecimal — a double rounding above 2^53 could
    * otherwise make a strict bound look equal and wrongly prune a file.
    */
  private def cmp(stat: JsonNode, v: Any): Option[Int] = v match {
    case s: org.apache.spark.unsafe.types.UTF8String =>
      Some(stat.asText().compareTo(s.toString))
    case d: Decimal =>
      if (stat.isNumber) Some(stat.decimalValue().compareTo(d.toJavaBigDecimal))
      else None
    case n @ (_: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
        _: java.lang.Long) if stat.isIntegralNumber =>
      Some(java.lang.Long.compare(stat.asLong(),
        n.asInstanceOf[java.lang.Number].longValue()))
    case n: java.lang.Number =>
      Some(java.lang.Double.compare(stat.asDouble(), n.doubleValue()))
    case _ => None
  }

  /** Conservative "may this file contain a matching row" against its
    * min/max stats: false ONLY when the stats prove no row matches.
    * Unrecognized predicate shapes and missing stats never prune.
    */
  private[sources] def mayMatch(e: Expression, st: JsonNode): Boolean = {
    def stat(kind: String, name: String): Option[JsonNode] =
      Option(st.get(kind)).flatMap(o => Option(o.get(name)))
    def bound(name: String, v: Any)(
        lo: Int => Boolean, hi: Int => Boolean): Boolean = {
      val okLo = stat("minValues", name).flatMap(cmp(_, v)).forall(lo)
      val okHi = stat("maxValues", name).flatMap(cmp(_, v)).forall(hi)
      okLo && okHi
    }
    e match {
      case And(l, r) => mayMatch(l, st) && mayMatch(r, st)
      case Or(l, r) => mayMatch(l, st) || mayMatch(r, st)
      case EqualTo(a, Lit(v)) if attrName(a).isDefined =>
        bound(attrName(a).get, v)(_ <= 0, _ >= 0)
      case EqualTo(Lit(v), a) if attrName(a).isDefined =>
        bound(attrName(a).get, v)(_ <= 0, _ >= 0)
      case GreaterThan(a, Lit(v)) if attrName(a).isDefined =>
        stat("maxValues", attrName(a).get).flatMap(cmp(_, v)).forall(_ > 0)
      case GreaterThanOrEqual(a, Lit(v)) if attrName(a).isDefined =>
        stat("maxValues", attrName(a).get).flatMap(cmp(_, v)).forall(_ >= 0)
      case LessThan(a, Lit(v)) if attrName(a).isDefined =>
        stat("minValues", attrName(a).get).flatMap(cmp(_, v)).forall(_ < 0)
      case LessThanOrEqual(a, Lit(v)) if attrName(a).isDefined =>
        stat("minValues", attrName(a).get).flatMap(cmp(_, v)).forall(_ <= 0)
      case GreaterThan(Lit(v), a) if attrName(a).isDefined =>
        stat("minValues", attrName(a).get).flatMap(cmp(_, v)).forall(_ < 0)
      case GreaterThanOrEqual(Lit(v), a) if attrName(a).isDefined =>
        stat("minValues", attrName(a).get).flatMap(cmp(_, v)).forall(_ <= 0)
      case LessThan(Lit(v), a) if attrName(a).isDefined =>
        stat("maxValues", attrName(a).get).flatMap(cmp(_, v)).forall(_ > 0)
      case LessThanOrEqual(Lit(v), a) if attrName(a).isDefined =>
        stat("maxValues", attrName(a).get).flatMap(cmp(_, v)).forall(_ >= 0)
      // IN (v1, …, vn) over all-literal values: the file may match iff
      // ANY value sits inside its bounds — the disjunction of the
      // per-value equality checks. Non-literal elements → conservative.
      case org.apache.spark.sql.catalyst.expressions.In(a, list)
          if attrName(a).isDefined &&
            list.forall(Lit.unapply(_).isDefined) =>
        list.exists { case Lit(v) =>
          bound(attrName(a).get, v)(_ <= 0, _ >= 0)
        }
      case _ => true
    }
  }

  /** A partition-column value parsed to the stats-JSON domain under the
    * column's declared type; None = type we don't prune on.
    */
  private[sources] def typedPartVal(raw: String, dt: DataType): Option[Any] =
    scala.util.Try[Any](dt match {
      case StringType => raw
      case ByteType | ShortType | IntegerType | LongType =>
        java.lang.Long.valueOf(raw.toLong)
      case FloatType | DoubleType => java.lang.Double.valueOf(raw.toDouble)
      case _: DecimalType => new java.math.BigDecimal(raw)
      case _ => null
    }).toOption.filter(_ != null)

  /** The pruning view of one file: its stats merged with its partition
    * values as exact (min = max = value) bounds — so ONE evaluator,
    * [[mayMatch]], prunes on partitions first-class alongside stats.
    */
  private def pruneNode(e: FileEntry,
      partTypes: Map[String, DataType]): JsonNode = {
    val root = Json.createObjectNode()
    val mins = root.putObject("minValues")
    val maxs = root.putObject("maxValues")
    e.stats.foreach { st =>
      Option(st.get("minValues")).foreach {
        case o: ObjectNode => mins.setAll[ObjectNode](o)
        case _ => ()
      }
      Option(st.get("maxValues")).foreach {
        case o: ObjectNode => maxs.setAll[ObjectNode](o)
        case _ => ()
      }
    }
    e.partValues.foreach {
      case (k, Some(raw)) =>
        partTypes.get(k).flatMap(typedPartVal(raw, _)).foreach { v =>
          putVal(mins, k, v)
          putVal(maxs, k, v)
        }
      case _ => () // null partition: no bounds, never pruned
    }
    root
  }

  private def keptEntries(s: SparkSession, st: State,
      pred: Column): Seq[FileEntry] = {
    val schema = st.schema
    val e0 = resolvedPred(s, schema, pred)
    // Stats and partitionValues are keyed by PHYSICAL names: re-label
    // the predicate's attribute references before consulting them
    // (no-op unless a rename enabled column mapping).
    val toPhys = physNames(schema)
    val e =
      if (!hasMapping(schema)) e0
      else e0.transformUp {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
            if toPhys.contains(a.name) && toPhys(a.name) != a.name =>
          a.withName(toPhys(a.name))
      }
    val partTypes = schema.fields
      .filter(f => st.partCols.contains(f.name))
      .map(f => f.name -> f.dataType).toMap
    st.entries.filter(fe => mayMatch(e, pruneNode(fe, partTypes)))
  }

  /** (kept, total) live-file counts for `pred` — the data-skipping
    * effectiveness measure (asserted by DeltaLiteSpec), covering both
    * partition-level and stats-level pruning.
    */
  def pruneInfo(s: SparkSession, table: String, pred: Column): (Int, Int) = {
    val st = replay(s, table, latestVersion(s, table))
    (keptEntries(s, st, pred).size, st.entries.size)
  }

  /** Pruned scan: partitions whose values cannot satisfy `pred`, then
    * files whose min/max cannot, are never opened (partition pruning +
    * file-level data skipping — the lake-metadata read optimizations of
    * reference:metadata:1-53); the surviving files are read and `pred`
    * applied exactly. On a 100 TB table a selective scan touches only
    * the matching partitions' overlapping files, on top of parquet's
    * own row-group pruning.
    */
  def scan(s: SparkSession, table: String, pred: Column): DataFrame = {
    val st = replay(s, table, latestVersion(s, table))
    readEntries(s, table, st.schema, keptEntries(s, st, pred))
      .filter(pred)
  }

  /** Relative paths of the current snapshot's live data files, sorted. */
  def liveFiles(s: SparkSession, table: String): Seq[String] = {
    val st = replay(s, table, latestVersion(s, table))
    st.entries.map(_.path).sorted
  }

  private def protocolAction: String =
    obj("protocol") { p =>
      p.put("minReaderVersion", 1)
      p.put("minWriterVersion", 2)
    }

  /** The protocol bump column mapping requires (Delta's gate for the
    * feature): readers below v2 would resolve columns by logical name
    * and mis-read renamed tables, so the upgrade commit must raise the
    * floor alongside the stamped schema.
    */
  private def columnMappingProtocolAction: String =
    obj("protocol") { p =>
      p.put("minReaderVersion", 2)
      p.put("minWriterVersion", 5)
    }

  private def metaDataAction(table: String, schemaJson: String,
      partCols: Seq[String],
      config: Map[String, String] = Map.empty): String =
    obj("metaData") { m =>
      m.put("id", UUID.nameUUIDFromBytes(table.getBytes("UTF-8")).toString)
      val fmt = m.putObject("format")
      fmt.put("provider", "parquet")
      fmt.putObject("options")
      m.put("schemaString", schemaJson)
      val pc = m.putArray("partitionColumns")
      partCols.foreach(pc.add)
      val conf = m.putObject("configuration")
      config.toSeq.sortBy(_._1).foreach { case (k, v) => conf.put(k, v) }
      // Column mapping is declared in table configuration (the
      // protocol's switch) whenever the schema carries physical names.
      if (hasMapping(
          DataType.fromJson(schemaJson).asInstanceOf[StructType]))
        conf.put("delta.columnMapping.mode", "name")
      m.put("createdTime", 0L)
    }

  /** Atomic exclusive commit of version `v`: the payload is written to
    * a temp file first, then CLAIMS the commit name atomically —
    * `Files.createLink` (hard link, O_EXCL-like, kernel-atomic) on
    * local paths, Hadoop `rename` (which refuses an existing
    * destination) elsewhere, the HDFSLogStore pattern. Either way the
    * payload appears whole with the claim: concurrent writers race
    * safely (one wins, one gets a clean IOException the retry paths
    * catch) and readers never observe a torn or empty commit.
    */
  /** TEST SEAM: runs between an operation's log READ (the version its
    * commit was built from) and its COMMIT — a deterministic stand-in
    * for a concurrent writer landing mid-operation. No-op in
    * production; ConflictSpec points it at a competing commit.
    */
  @volatile private[graft] var interleaveForTest: () => Unit = () => ()

  /** Claim version `v` with `actions`; returns `v`. */
  private def writeCommit(s: SparkSession, table: String, v: Long,
      actions: Seq[String], operation: String = "WRITE"): Long = {
    interleaveForTest()
    val p = commitPath(table, v)
    // Every commit leads with a commitInfo action naming its operation
    // (the Delta protocol's DESCRIBE HISTORY source). Timestamp is
    // pinned to 0 for determinism (stated simplification); replay
    // paths skip commitInfo by their has("add")/has("remove") guards.
    val info = {
      val n = Json.createObjectNode()
      val ci = n.putObject("commitInfo")
      ci.put("operation", operation)
      // Wall-clock commit time — what `TIMESTAMP AS OF` resolves
      // against (the Delta protocol's commitInfo.timestamp). Table
      // CONTENT stays deterministic; only this metadata field varies.
      ci.put("timestamp", System.currentTimeMillis())
      Json.writeValueAsString(n)
    }
    val bytes = ((info +: actions).mkString("\n") + "\n").getBytes("UTF-8")
    val scheme = p.toUri.getScheme
    if (scheme == null || scheme == "file") {
      val target = java.nio.file.Paths.get(p.toUri.getPath match {
        case "" => p.toString
        case path => path
      })
      java.nio.file.Files.createDirectories(target.getParent)
      val tmp = java.nio.file.Files.createTempFile(
        target.getParent, "._tmp_commit", ".tmp")
      try {
        java.nio.file.Files.write(tmp, bytes)
        try java.nio.file.Files.createLink(target, tmp)
        catch {
          case e: java.nio.file.FileAlreadyExistsException =>
            throw new java.io.IOException(s"commit race lost for $target", e)
        }
      } finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      val f = fs(s, p)
      f.mkdirs(logDir(table))
      val tmp = new Path(logDir(table), s"._tmp_${UUID.randomUUID()}.json")
      val out = f.create(tmp, false)
      try out.write(bytes)
      finally out.close()
      if (!f.rename(tmp, p)) {
        f.delete(tmp, false)
        throw new java.io.IOException(s"commit race lost for $p")
      }
    }
    v
  }

  /** Stage `df`, read back per-file footer stats, and return the add
    * actions (with partition values for partitioned tables).
    */
  private def stagedAdds(s: SparkSession, table: String, df0: DataFrame,
      schema: StructType, partCols: Seq[String],
      dataChange: Boolean = true,
      constraints: Seq[(String, String)] = Nil): Seq[String] = {
    // Generated columns (the protocol's `delta.generationExpression`
    // field metadata): a write that OMITS a generated column gets it
    // computed from its expression; a write that PROVIDES one is
    // validated against the expression and refused on any mismatch —
    // Delta's rule, so the column's invariant can never be corrupted
    // by any writer. Both are one extra projection/predicate pass over
    // the write's input (write-sized, never table-sized).
    val genCols = generatedColsOf(schema)
    val df = genCols.foldLeft(df0) { case (acc, (n, g, dt)) =>
      if (acc.columns.contains(n)) acc
      else acc.withColumn(n, expr(g).cast(dt))
    }
    genCols.foreach { case (n, g, dt) =>
      if (df0.columns.contains(n)) {
        val bad = df.filter(!(col(n) <=> expr(g).cast(dt)))
          .limit(1).count()
        if (bad > 0) throw new IllegalArgumentException(
          s"generated column $n does not satisfy $g in this write")
      }
    }
    // CHECK constraints validate the INCOMING rows before anything is
    // staged (one extra pass per constraint over the write's input —
    // stated cost; Delta folds this into write metrics). A violation
    // is a row where the condition evaluates FALSE; NULL passes, per
    // the SQL standard. Rewrites that only carry unchanged rows
    // (DELETE survivors, compaction) skip validation by passing none.
    constraints.foreach { case (cname, cond) =>
      val bad = df.filter(!coalesce(expr(cond).cast(BooleanType), lit(true)))
        .limit(1).count()
      if (bad > 0) throw new IllegalArgumentException(
        s"CHECK constraint $cname ($cond) violated by this write")
    }
    // Files are written under PHYSICAL column names (identity unless a
    // rename enabled column mapping), so every file of the table —
    // before or after any rename — spells columns the same way, and
    // stats stay keyed consistently. Partition columns can't be
    // renamed, so the k=v layout and partitionValues keys are stable.
    val physDf = df.select(schema.fields.map(fd =>
      col(fd.name).as(physName(fd))).toSeq: _*)
    val files = stage(s, table, physDf, partCols)
    val dataSchema = physStruct(
      StructType(schema.fields.filterNot(f => partCols.contains(f.name))))
    val stats = footerStats(s, table, files.map(_._1), dataSchema)
    files.map { case (p, pvs, sz) =>
      addAction(p, sz, pvs, stats.get(p), dataChange)
    }
  }

  // ------------------------------------------------ generated columns
  // Delta generated columns: a column whose value is ALWAYS a declared
  // expression of other columns, recorded as `delta.generationExpression`
  // in the field's schema metadata (the protocol's representation).
  // Writers compute it when omitted and are validated when they provide
  // it (see stagedAdds). Partitioning on a generated column gives the
  // classic date-derived layout (`o_month=3/`) whose values no writer
  // can get wrong — the Delta cousin of Iceberg hidden partitioning
  // (s40), except the column is real and queryable.

  private val GenKey = "delta.generationExpression"

  /** (name, expression, type) of every generated column in `schema`. */
  private def generatedColsOf(schema: StructType)
      : Seq[(String, String, DataType)] =
    schema.fields.toSeq.collect {
      case f if f.metadata.contains(GenKey) =>
        (f.name, f.metadata.getString(GenKey), f.dataType)
    }

  /** The table's generated columns, as (name, expression). */
  def generatedColumns(s: SparkSession, table: String)
      : Seq[(String, String)] = {
    val v = latestVersion(s, table)
    require(v >= 0, s"no delta log at $table")
    generatedColsOf(replay(s, table, v).schema).map(t => (t._1, t._2))
  }

  /** Create a table with generated columns: `generated` maps new column
    * names to SQL expressions over `df`'s columns. The generated fields
    * are appended to the schema with their expression in field metadata;
    * `partitionColumns` may name them — the usual reason they exist.
    */
  def createWithGenerated(s: SparkSession, table: String, df: DataFrame,
      generated: Seq[(String, String)],
      partitionColumns: Seq[String] = Nil): Unit = {
    require(latestVersion(s, table) < 0, s"table already exists at $table")
    generated.foreach { case (n, _) =>
      require(!df.columns.contains(n), s"generated column $n already in data")
    }
    val full = generated.foldLeft(df) { case (acc, (n, g)) =>
      acc.withColumn(n, expr(g))
    }
    val schema = StructType(full.schema.fields.map { f =>
      generated.find(_._1 == f.name) match {
        case Some((_, g)) => f.copy(metadata = new MetadataBuilder()
          .withMetadata(f.metadata).putString(GenKey, g).build())
        case None => f
      }
    })
    partitionColumns.foreach(pc => require(schema.fieldNames.contains(pc),
      s"partition column $pc not in schema"))
    writeCommit(s, table, 0L,
      protocolAction +:
        metaDataAction(table, schema.json, partitionColumns) +:
        stagedAdds(s, table, full, schema, partitionColumns),
      operation = "CREATE TABLE")
  }

  /** Pruned scan driven by a date/timestamp RANGE on the SOURCE column
    * of generated partition columns — Delta's "partition filter
    * generation": the caller filters on `srcCol`, never mentioning the
    * derived layout. Candidate partition values come from evaluating
    * each generation expression over the day-granular date sequence
    * spanning [lo, hi] (a driver-sized job: one row per day), so ANY
    * day-granular expression — month(x), year(x), date_trunc — works
    * without an expression analyzer. The derived IN-set is a SUPERSET
    * of the matching partitions (sequence endpoints included), which
    * is always safe: pruning drops only what cannot match, and the
    * exact source predicate still applies to every surviving row.
    */
  def scanGenerated(s: SparkSession, table: String, srcCol: String,
      loInclusive: String, hiExclusive: String): DataFrame = {
    val st = replay(s, table, latestVersion(s, table))
    val srcType = st.schema(srcCol).dataType
    val lo = lit(loInclusive).cast(srcType)
    val hi = lit(hiExclusive).cast(srcType)
    val gens = generatedColsOf(st.schema).filter { case (n, g, _) =>
      st.partCols.contains(n) &&
        g.toLowerCase.contains(srcCol.toLowerCase)
    }
    // Driver-side IN-set cap: the spine is day-granular so the set is
    // bounded by the range's day count, but a decade-wide range over an
    // identity-ish generation expression would still build a
    // thousands-long IN predicate and a matching driver collect. Past
    // the cap, skip that column's IN-set — pruning gets less selective,
    // never wrong (the exact source predicate still applies row-level),
    // and the driver never holds more than cap+1 values.
    val cap = 1000
    val partPred = gens.flatMap { case (n, g, dt) =>
      // An expression referencing columns beyond srcCol cannot be
      // enumerated from the date spine — skip it (no pruning from that
      // column; the scan stays correct, just less selective).
      scala.util.Try {
        val vals = s.range(1)
          .select(explode(sequence(lit(loInclusive).cast(DateType),
            lit(hiExclusive).cast(DateType),
            expr("interval 1 day"))).as(srcCol))
          .select(expr(g).cast(dt).as("v")).distinct()
          .limit(cap + 1).collect()
          .map(_.get(0)).toSeq
        require(vals.size <= cap,
          s"generated-column domain for $n exceeds $cap values; " +
            "skipping IN-set pruning")
        col(n).isin(vals: _*)
      }.toOption
    }.foldLeft(col(srcCol) >= lo && col(srcCol) < hi)(_ && _)
    scan(s, table, partPred)
  }

  // ------------------------------------------------ identity columns
  // Delta IDENTITY columns (GENERATED ALWAYS AS IDENTITY): the field's
  // schema metadata carries `delta.identity.start` / `.step` /
  // `.highWaterMark` (the protocol's keys); writers assign fresh values
  // above the high water and the same commit advances it in the
  // metaData action — so concurrent readers never see a gap between
  // data and bookkeeping. ALWAYS semantics: a write PROVIDING the
  // column refuses. The protocol guarantees uniqueness and
  // monotonicity, NOT density or arrival order; graft's deterministic
  // mode additionally orders each batch by caller-named columns so
  // results are reproducible (the gate requirement) — a production
  // writer would use per-partition offset ranges (zipWithIndex) and
  // skip the batch sort.

  private val IdStartKey = "delta.identity.start"
  private val IdStepKey = "delta.identity.step"
  private val IdHighKey = "delta.identity.highWaterMark"

  private def identityFieldOf(schema: StructType): Option[StructField] =
    schema.fields.find(_.metadata.contains(IdStartKey))

  /** Assign identity values to `df` (which must NOT provide the
    * column): high + step, high + 2·step, … in `orderCols` order.
    * Returns (withIds, newHighWater).
    */
  private def assignIdentity(df: DataFrame, f: StructField,
      high: Long, step: Long, orderCols: Seq[String]): (DataFrame, Long) = {
    require(!df.columns.contains(f.name),
      s"${f.name} is GENERATED ALWAYS AS IDENTITY — writers cannot " +
        "provide it")
    require(orderCols.nonEmpty,
      "deterministic identity assignment needs ordering columns")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(orderCols.map(col): _*)
    val n = df.count()
    (df.withColumn(f.name,
      (lit(high) + row_number().over(w).cast("long") * lit(step))
        .cast(f.dataType)),
      high + n * step)
  }

  private def withHighWater(schema: StructType, idCol: String,
      high: Long): StructType =
    StructType(schema.fields.map { f =>
      if (f.name == idCol)
        f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putLong(IdHighKey, high).build())
      else f
    })

  /** Create a table with an identity column `idCol` (LongType,
    * GENERATED ALWAYS AS IDENTITY (START WITH `start` STEP `step`)),
    * assigning ids to `df` in `orderCols` order.
    */
  def createWithIdentity(s: SparkSession, table: String, df: DataFrame,
      idCol: String, orderCols: Seq[String], start: Long = 1L,
      step: Long = 1L): Unit = {
    require(latestVersion(s, table) < 0, s"table already exists at $table")
    require(step != 0, "identity step must be non-zero")
    val field = StructField(idCol, LongType, nullable = false,
      new MetadataBuilder().putLong(IdStartKey, start)
        .putLong(IdStepKey, step).build())
    val (withIds, high) =
      assignIdentity(df, field, start - step, step, orderCols)
    val schema = StructType(
      withHighWater(StructType(df.schema.fields :+ field), idCol, high)
        .fields)
    writeCommit(s, table, 0L,
      protocolAction +:
        metaDataAction(table, schema.json, Nil) +:
        stagedAdds(s, table,
          withIds.select(schema.fieldNames.map(col).toSeq: _*), schema, Nil),
      operation = "CREATE TABLE")
  }

  /** Append assigning fresh identity values above the table's high
    * water; the SAME commit carries the adds and the advanced
    * highWaterMark metaData.
    */
  def appendWithIdentity(s: SparkSession, table: String, df: DataFrame,
      orderCols: Seq[String]): Unit = {
    val v = latestVersion(s, table)
    require(v >= 0, s"no delta log at $table")
    val st = replay(s, table, v)
    val f = identityFieldOf(st.schema).getOrElse(
      sys.error(s"no identity column on $table"))
    val step = f.metadata.getLong(IdStepKey)
    val high =
      if (f.metadata.contains(IdHighKey)) f.metadata.getLong(IdHighKey)
      else f.metadata.getLong(IdStartKey) - step
    val (withIds, newHigh) = assignIdentity(df, f, high, step, orderCols)
    val schema = withHighWater(st.schema, f.name, newHigh)
    writeCommit(s, table, v + 1,
      metaDataAction(table, schema.json, st.partCols, st.config) +:
        stagedAdds(s, table,
          withIds.select(st.schema.fieldNames.map(col).toSeq: _*),
          st.schema, st.partCols, constraints = st.constraints))
  }

  /** The table's identity column, as (name, start, step, highWater). */
  def identityColumn(s: SparkSession, table: String)
      : Option[(String, Long, Long, Long)] = {
    val v = latestVersion(s, table)
    require(v >= 0, s"no delta log at $table")
    identityFieldOf(replay(s, table, v).schema).map { f =>
      (f.name, f.metadata.getLong(IdStartKey),
        f.metadata.getLong(IdStepKey),
        if (f.metadata.contains(IdHighKey)) f.metadata.getLong(IdHighKey)
        else f.metadata.getLong(IdStartKey) - f.metadata.getLong(IdStepKey))
    }
  }

  /** Create the table (version 0) from `df`, Hive-partitioned on
    * `partitionColumns` when given (partition values live in the log's
    * add actions and the directory layout, not the data files — and
    * [[scan]]/[[deleteWhere]]/[[merge]] prune on them before stats).
    * `properties` is the metaData configuration.
    */
  def create(s: SparkSession, table: String, df: DataFrame,
      partitionColumns: Seq[String], properties: Map[String, String]): Long =
    createAt(s, table, df, partitionColumns, properties, None)

  /** [[create]] with the creating commit stamped with an (appId,
    * version) `txn` high-water mark for idempotent producers (see
    * [[appendOnce]]).
    */
  def create(s: SparkSession, table: String, df: DataFrame,
      txn: Option[(String, Long)]): Long =
    createAt(s, table, df, Nil, Map.empty, txn)

  private def createAt(s: SparkSession, table: String, df: DataFrame,
      partitionColumns: Seq[String], properties: Map[String, String],
      txn: Option[(String, Long)]): Long = {
    require(latestVersion(s, table) < 0, s"table already exists at $table")
    partitionColumns.foreach(pc => require(df.schema.fieldNames.contains(pc),
      s"partition column $pc not in data"))
    writeCommit(s, table, 0L,
      protocolAction +:
        metaDataAction(table, df.schema.json, partitionColumns, properties) +:
        stagedAdds(s, table, df, df.schema, partitionColumns) ++:
        txn.map { case (app, tv) => txnAction(app, tv) }.toSeq,
      operation = "CREATE TABLE")
  }

  /** The table's metadata configuration (the `delta.constraints.*` /
    * `graft.*` key space) at the current version.
    */
  def tableProperties(s: SparkSession, table: String): Map[String, String] = {
    val v = latestVersion(s, table)
    require(v >= 0, s"no delta log at $table")
    replay(s, table, v).config
  }

  /** Idempotent append for restart-prone producers: commits `df` with a
    * `txn` action recording (`appId`, `txnVersion`), and SKIPS the
    * write — returning false — when the log already holds that version
    * or later for the app. A producer that crashed after its commit but
    * before its own checkpoint replays the batch into a no-op instead
    * of a duplicate (the exactly-once story of the streaming Delta
    * sink). Retries the commit race like [[appendWithRetry]],
    * re-checking the txn mark before each attempt.
    */
  def appendOnce(s: SparkSession, table: String, df: DataFrame,
      appId: String, txnVersion: Long, maxAttempts: Int = 10): Boolean = {
    val v0 = latestVersion(s, table)
    require(v0 >= 0, s"no delta log at $table")
    val st0 = replay(s, table, v0)
    if (st0.txns.getOrElse(appId, Long.MinValue) >= txnVersion) return false
    val adds = stagedAdds(s, table, df, st0.schema, st0.partCols,
      constraints = st0.constraints) :+
      txnAction(appId, txnVersion)
    var attempt = 0
    while (attempt < maxAttempts) {
      val v = latestVersion(s, table)
      if (v > v0 &&
          replay(s, table, v).txns.getOrElse(appId, Long.MinValue) >= txnVersion)
        return false // another producer instance won with this batch
      try {
        writeCommit(s, table, v + 1, adds,
          operation = "STREAMING UPDATE")
        return true
      } catch {
        case _: java.io.IOException => attempt += 1
      }
    }
    throw new IllegalStateException(
      s"appendOnce: lost the commit race $maxAttempts times at $table")
  }

  /** Append with schema evolution: columns in `df` that the table lacks
    * WIDEN the table schema — the commit carries a new metaData action
    * with the merged schema alongside the adds, and files written
    * before the evolution read with nulls for the added columns (the
    * log's schema governs every read, not parquet inference). Existing
    * columns must keep their types; drops/retypes are rejected —
    * widening is the only evolution that never rewrites old data.
    */
  def appendEvolved(s: SparkSession, table: String, df: DataFrame): Unit = {
    val v = latestVersion(s, table)
    require(v >= 0, s"no delta log at $table")
    val st = replay(s, table, v)
    val old = st.schema
    old.fields.foreach { f =>
      val incoming = df.schema.fields.find(_.name == f.name)
      require(incoming.isDefined,
        s"appendEvolved: column ${f.name} missing from incoming data " +
          s"(drops require a rewrite, not an append)")
      require(incoming.get.dataType == f.dataType,
        s"appendEvolved: column ${f.name} retyped " +
          s"(${f.dataType.simpleString} -> " +
          s"${incoming.get.dataType.simpleString})")
    }
    val added = df.schema.fields.filterNot(f => old.fieldNames.contains(f.name))
    val merged = StructType(old.fields ++ added)
    writeCommit(s, table, v + 1,
      metaDataAction(table, merged.json, st.partCols, st.config) +:
        stagedAdds(s, table,
          df.select(merged.fieldNames.map(col).toSeq: _*), merged,
          st.partCols, constraints = st.constraints))
  }

  /** ADD a nullable column without touching data: one commit carrying
    * only the widened-schema metaData action (the ALTER TABLE ADD
    * COLUMNS path). Zero data IO at any table size; files written
    * before the change read as null for the new column — the same
    * fill-missing-with-null read rule [[appendEvolved]] relies on.
    */
  def addColumn(s: SparkSession, table: String, name: String,
      dataType: org.apache.spark.sql.types.DataType): Unit = {
    val v = latestVersion(s, table)
    require(v >= 0, s"no delta log at $table")
    val st = replay(s, table, v)
    require(!st.schema.fieldNames.contains(name),
      s"column $name already exists")
    // On a COLUMN-MAPPED table the new field gets a FRESH physical
    // name: an unstamped field would resolve by its logical name and
    // alias any same-named column still present in old data files —
    // i.e. a re-added name after DROP COLUMN would resurrect the
    // dropped data (r16 DDL-lifecycle spec caught exactly this).
    val newField = {
      val base = org.apache.spark.sql.types
        .StructField(name, dataType, nullable = true)
      if (hasMapping(st.schema))
        base.copy(metadata = new MetadataBuilder()
          .putString(PhysKey,
            s"$name-${java.util.UUID.randomUUID().toString.take(8)}")
          .build())
      else base
    }
    val widened = StructType(st.schema.fields :+ newField)
    writeCommit(s, table, v + 1,
      Seq(metaDataAction(table, widened.json, st.partCols, st.config)),
      operation = "ADD COLUMNS")
  }

  /** RENAME a column via the protocol's COLUMN-MAPPING (name mode):
    * one metadata-only commit, zero data IO at any table size. The
    * first rename UPGRADES the table — every field is stamped with
    * `delta.columnMapping.physicalName` = its current name, so every
    * existing file keeps resolving — and from then on parquet files
    * spell the PHYSICAL name while the schema's field name is just the
    * logical label (reads/writes/stats/pruning all translate at the
    * file boundary). Partition columns cannot be renamed (their name
    * is baked into the `k=v` layout — same stated simplification as
    * IcebergLite); a column-mapped table refuses format conversion and
    * the streaming source (foreign/name-based readers), matching the
    * guards on evolved Iceberg schemas.
    */
  def renameColumn(s: SparkSession, table: String, from: String,
      to: String): Unit = {
    val v = latestVersion(s, table)
    require(v >= 0, s"no delta log at $table")
    val st = replay(s, table, v)
    val schema = st.schema
    require(schema.fieldNames.contains(from), s"no column $from")
    require(!schema.fieldNames.contains(to), s"column $to already exists")
    require(!st.partCols.contains(from),
      s"cannot rename partition column $from (its name is the " +
        "directory layout — stated simplification)")
    // A rename must not orphan expression TEXT that names the column:
    // generation expressions and CHECK constraints are stored as SQL
    // over logical names, so a rename would silently break every
    // later write (Delta blocks these renames for the same reason).
    def refs(exprText: String): Boolean =
      s.sessionState.sqlParser.parseExpression(exprText).collect {
        case a: UnresolvedAttribute => a.name
      }.exists(_.equalsIgnoreCase(from))
    val genRefs = generatedColsOf(schema)
      .filter { case (_, g, _) => refs(g) }.map(_._1)
    require(genRefs.isEmpty,
      s"cannot rename $from: generated column(s) " +
        s"${genRefs.mkString(", ")} derive from it")
    val conRefs = st.constraints.filter { case (_, c) => refs(c) }.map(_._1)
    require(conRefs.isEmpty,
      s"cannot rename $from: CHECK constraint(s) " +
        s"${conRefs.mkString(", ")} reference it — drop them first")
    val upgraded = StructType(schema.fields.map { fd =>
      if (fd.metadata.contains(PhysKey)) fd
      else fd.copy(metadata = new MetadataBuilder()
        .withMetadata(fd.metadata).putString(PhysKey, fd.name).build())
    })
    val renamed = StructType(upgraded.fields.map(fd =>
      if (fd.name == from) fd.copy(name = to) else fd))
    val upgrade =
      if (hasMapping(schema)) Nil // already upgraded by a prior rename
      else Seq(columnMappingProtocolAction)
    writeCommit(s, table, v + 1,
      upgrade :+ metaDataAction(table, renamed.json, st.partCols,
        st.config),
      operation = "RENAME COLUMN")
  }

  /** DROP a column via COLUMN MAPPING: one metadata-only commit, zero
    * data IO at any table size. The table upgrades to name-mode
    * mapping (like [[renameColumn]]) so every surviving field keeps
    * resolving to its physical name; existing files simply carry the
    * dropped physical column as dead weight until [[compact]] rewrites
    * them. Guards mirror renameColumn: partition columns refuse (their
    * name IS the layout), columns referenced by generation expressions
    * or CHECK constraints refuse (stored SQL would silently break),
    * and the last column refuses (an empty schema is not a table).
    * Field ids are not reused — a later ADD COLUMN of the same name is
    * a NEW (all-null) column, never the old data resurrecting, because
    * the new field's physical name is freshly stamped.
    */
  def dropColumn(s: SparkSession, table: String, name: String): Unit = {
    val v = latestVersion(s, table)
    require(v >= 0, s"no delta log at $table")
    val st = replay(s, table, v)
    val schema = st.schema
    require(schema.fieldNames.contains(name), s"no column $name")
    require(schema.fields.length > 1,
      s"cannot drop $name: it is the table's only column")
    require(!st.partCols.contains(name),
      s"cannot drop partition column $name (its name is the " +
        "directory layout — stated simplification)")
    def refs(exprText: String): Boolean =
      s.sessionState.sqlParser.parseExpression(exprText).collect {
        case a: UnresolvedAttribute => a.name
      }.exists(_.equalsIgnoreCase(name))
    val genRefs = generatedColsOf(schema)
      .filter { case (g, gx, _) => g != name && refs(gx) }.map(_._1)
    require(genRefs.isEmpty,
      s"cannot drop $name: generated column(s) " +
        s"${genRefs.mkString(", ")} derive from it")
    val conRefs = st.constraints.filter { case (_, c) => refs(c) }.map(_._1)
    require(conRefs.isEmpty,
      s"cannot drop $name: CHECK constraint(s) " +
        s"${conRefs.mkString(", ")} reference it — drop them first")
    // declared conflict-key columns (graft.keys) drive keyed DML
    // (INSERT OR REPLACE / ON CONFLICT / MERGE); dropping one would
    // leave the property naming a dead column and break later DML
    require(!st.config.get("graft.keys").exists(_.split(",")
        .map(_.trim).exists(_.equalsIgnoreCase(name))),
      s"cannot drop $name: it is a declared conflict-key column " +
        "(graft.keys) — redeclare the keys first")
    val upgraded = StructType(schema.fields.map { fd =>
      if (fd.metadata.contains(PhysKey)) fd
      else fd.copy(metadata = new MetadataBuilder()
        .withMetadata(fd.metadata).putString(PhysKey, fd.name).build())
    })
    val dropped = StructType(upgraded.fields.filterNot(_.name == name))
    // a physical new-name stamp for the dropped field is irrelevant —
    // the field is gone from the schema; files keep the orphan column
    val upgrade =
      if (hasMapping(schema)) Nil
      else Seq(columnMappingProtocolAction)
    writeCommit(s, table, v + 1,
      upgrade :+ metaDataAction(table, dropped.json, st.partCols,
        st.config),
      operation = "DROP COLUMNS")
  }

  /** ADD a CHECK constraint (the protocol's `delta.constraints.<name>`
    * configuration key): one metadata-only commit after validating the
    * EXISTING rows satisfy the condition (one scan — the same rule as
    * ALTER TABLE ADD CONSTRAINT). From then on every data-adding
    * commit (append/merge/update/overwrite) validates its incoming
    * rows and refuses the write on a violation; a row violates when
    * the condition evaluates FALSE — NULL passes, per the SQL
    * standard. The condition is SQL text over the table's (logical)
    * columns, resolved by Spark's own parser.
    */
  def addCheckConstraint(s: SparkSession, table: String, name: String,
      condition: String): Unit = {
    val v = latestVersion(s, table)
    require(v >= 0, s"no delta log at $table")
    val st = replay(s, table, v)
    val key = s"delta.constraints.${name.toLowerCase}"
    require(!st.config.contains(key), s"constraint $name already exists")
    val bad = readEntries(s, table, st.schema, st.entries)
      .filter(!coalesce(expr(condition).cast(BooleanType), lit(true)))
      .limit(1).count()
    require(bad == 0,
      s"cannot add CHECK constraint $name ($condition): existing rows " +
        "violate it")
    writeCommit(s, table, v + 1,
      Seq(metaDataAction(table, st.schemaJson, st.partCols,
        st.config + (key -> condition))),
      operation = "ADD CONSTRAINT")
  }

  /** DROP a CHECK constraint: one metadata-only commit. */
  def dropCheckConstraint(s: SparkSession, table: String,
      name: String): Unit = {
    val v = latestVersion(s, table)
    require(v >= 0, s"no delta log at $table")
    val st = replay(s, table, v)
    val key = s"delta.constraints.${name.toLowerCase}"
    require(st.config.contains(key), s"no constraint $name on $table")
    writeCommit(s, table, v + 1,
      Seq(metaDataAction(table, st.schemaJson, st.partCols,
        st.config - key)),
      operation = "DROP CONSTRAINT")
  }

  /** The table's CHECK constraints, as (name, condition). */
  def checkConstraints(s: SparkSession, table: String)
      : Seq[(String, String)] = {
    val v = latestVersion(s, table)
    require(v >= 0, s"no delta log at $table")
    replay(s, table, v).constraints
  }

  /** Append under optimistic concurrency: data files are staged ONCE,
    * then the commit races — on a version conflict (another writer won
    * the claim on that commit file) we re-read the latest version and
    * retry the commit alone. Blind retry is protocol-correct for
    * appends because an append invalidates nobody's read set.
    * delete/merge/compact deliberately have no auto-retry: their
    * commits are built FROM the live file list, which the winning
    * writer may have changed — the caller must re-run on the fresh
    * snapshot. Returns the committed version.
    */
  def appendWithRetry(s: SparkSession, table: String, df: DataFrame,
      maxAttempts: Int = 10): Long = {
    val v0 = latestVersion(s, table)
    require(v0 >= 0, s"no delta log at $table")
    val st = replay(s, table, v0)
    val adds = stagedAdds(s, table, df, st.schema, st.partCols,
      constraints = st.constraints)
    var attempt = 0
    while (attempt < maxAttempts) {
      val v = latestVersion(s, table) + 1
      try {
        writeCommit(s, table, v, adds)
        return v
      } catch {
        case _: java.io.IOException => attempt += 1
      }
    }
    throw new IllegalStateException(
      s"appendWithRetry: lost the commit race $maxAttempts times at $table")
  }

  private[sources] def live(s: SparkSession,
      table: String): LakeFormat.Live = deltaLive(s, table)

  private def deltaLive(s: SparkSession, table: String): DeltaLive = {
    val v = latestVersion(s, table)
    require(v >= 0, s"no delta log at $table")
    new DeltaLive(s, table, v, replay(s, table, v))
  }

  /** The current snapshot as a [[LakeFormat.Live]], carrying the
    * [[State]] it was replayed from so the Delta-only writes (deletion
    * vectors, partial compaction) pick files from the same replay. */
  private final class DeltaLive(s: SparkSession, table: String,
      val version: Long, val st: State) extends LakeFormat.Live {
    val schema: StructType = st.schema
    val files: Seq[String] = st.entries.map(_.path)
    val partitioning: Seq[Column] = st.partCols.map(col)
    def prune(pred: Column): Seq[String] =
      keptEntries(s, st, pred).map(_.path)
    def read(paths: Seq[String], fileCol: Option[String]): DataFrame =
      readEntries(s, table, schema, entries(paths), fileCol)
    def entries(paths: Seq[String]): Seq[FileEntry] = {
      val want = paths.toSet
      st.entries.filter(e => want.contains(e.path))
    }
    // OPTIMIZE only moves rows: its adds and removes carry
    // `dataChange = false` (streaming readers may skip the commit).
    // Neither it nor a DELETE, whose rows only carry over, re-runs the
    // CHECKs (the stagedAdds rule).
    def replace(removed: Seq[String], add: DataFrame,
        operation: String): Long = {
      val change = operation != "OPTIMIZE"
      writeCommit(s, table, version + 1,
        stagedAdds(s, table, add, schema, st.partCols, change,
          if (change && operation != "DELETE") st.constraints else Nil) ++
          removed.map(removeAction(_, change)),
        operation)
    }
  }

  /** MERGE-ON-READ MERGE via deletion vectors: matched target rows are
    * SOFT-DELETED (their positions land in bitmap-sized sidecars, the
    * hit files re-added with a `deletionVector` descriptor — no data
    * file rewritten) and the full source appends as new files. Write
    * amplification is O(source + bitmaps) instead of [[merge]]'s
    * O(touched files) — the modern lake-engine MERGE shape for small
    * upserts into huge tables; [[compact]] later rebases accumulated
    * DVs into clean files. Same semantics as [[merge]] (multi-match is
    * an error), and every read path filters the marked rows, so
    * snapshot ≡ the COW result.
    */
  def mergeDV(s: SparkSession, table: String, source: DataFrame,
      keys: Seq[String]): Unit = {
    val t = deltaLive(s, table)
    val srcCols = LakeFormat.mergeSource(source, t.schema, keys)
    // Matched = live rows whose key appears in the source: their
    // positions soft-delete; the source's new versions arrive via the
    // append below.
    val dvActions = softDelete(s, table, t.schema,
      t.entries(mergeHits(t, t.files, srcCols, keys)))(
      _.join(broadcast(srcCols.select(keys.map(col): _*).distinct()),
        keys, "left_semi"))
    writeCommit(s, table, t.version + 1,
      stagedAdds(s, table, srcCols, t.schema, t.st.partCols,
        constraints = t.st.constraints) ++ dvActions,
      operation = "MERGE")
  }

  /** APPLY CHANGES INTO — the CDC-apply primitive: `changes` carries
    * row-level operations tagged by `opCol` ('insert' / 'update' with
    * full postimage columns, or 'delete') and ordered per key by
    * `seqCol` (the source's commit version / LSN). Within the batch
    * only the LATEST change per key applies
    * ([[LakeFormat.latestChanges]], the rule IcebergLite.applyChangesMOR
    * shares): an upsert replaces-or-inserts the target row, a delete
    * (the op 'delete' in any case) removes it (a delete for an absent
    * key is a no-op). One commit; only target
    * files holding a touched key are rewritten — found by merge's
    * keyed file lookup — so replicating a small change batch into a
    * 100 TB table rewrites the touched files, not the table. Batches
    * must arrive in source order (the standard CDC-replication
    * contract; out-of-order keys within one batch are fine).
    */
  def applyChanges(s: SparkSession, table: String, changes: DataFrame,
      keys: Seq[String], opCol: String, seqCol: String): Unit = {
    val t = live(s, table)
    val (touched, upserts) =
      latestChanges(changes, t.schema, keys, opCol, seqCol)
    // Keyed file lookup (merge's shape): files containing ANY touched
    // key get rewritten; everything else is untouched metadata.
    val hitNames =
      if (t.files.isEmpty) Set.empty[String]
      else collectHits(s,
        t.read(t.files, Some("_gf")).join(touched, keys, "left_semi")).names
    rewrite(t, t.files.filter(p => hitNames.contains(fileName(p))),
      touched, upserts, keys, "APPLY CHANGES")(identity)
  }

  /** PARTIAL compaction — OPTIMIZE for just the fragmented slice:
    * only live files SMALLER than `maxFileBytes`, and (when a
    * predicate is given) only those whose partition values / stats
    * may satisfy it, are rewritten into `targetFiles` bin-packed
    * ones. Files already at target size and untouched partitions keep
    * their add entries verbatim — on a 100 TB table the nightly
    * OPTIMIZE touches the day's small-file debris, never the
    * petabyte of already-compacted history. Returns the number of
    * files rewritten (0 = nothing to do, no commit written). Like
    * [[compact]], adds and removes carry `dataChange = false`.
    */
  def compactWhere(s: SparkSession, table: String, targetFiles: Int,
      maxFileBytes: Long,
      pred: Column = org.apache.spark.sql.functions.lit(true)): Int = {
    val t = deltaLive(s, table)
    val inSlice = t.prune(pred).toSet
    val victims = t.st.entries.filter(e =>
      e.size < maxFileBytes && inSlice.contains(e.path)).map(_.path)
    // One small file alone is already as packed as it can get —
    // rewriting it would churn the log for nothing.
    if (victims.size < 2) return 0
    t.replace(victims,
      t.read(victims).repartition(targetFiles, t.partitioning: _*),
      "OPTIMIZE")
    victims.size
  }

  /** VACUUM: physically delete data files no longer referenced by the
    * `retainVersions` newest log versions — the files left behind by
    * copy-on-write DML/compaction rewrites, aborted stages, and
    * [[appendOnce]]'s skipped-batch path. `olderThanMs` guards
    * in-flight writers: a file younger than the horizon is never
    * deleted even if unreferenced (the retention story of production
    * Delta's VACUUM; pass 0 only when no writer can be active). Time
    * travel to versions older than the retained window stops working —
    * by design, as in Delta. Returns the number of deleted files.
    */
  def vacuum(s: SparkSession, table: String, retainVersions: Int = 1,
      olderThanMs: Long = 0L): Int = {
    require(retainVersions >= 1, "must retain at least the live version")
    val latest = latestVersion(s, table)
    require(latest >= 0, s"no delta log at $table")
    val referenced = (math.max(0L, latest - retainVersions + 1) to latest)
      .flatMap(v => replay(s, table, v).entries
        .flatMap(e => e.path +: e.dv.toSeq)).toSet
    val root = new Path(table)
    val f = fs(s, root)
    val rootPrefix = f.makeQualified(root).toString
    val horizon = System.currentTimeMillis() - olderThanMs
    var deleted = 0
    val it = f.listFiles(root, true)
    val doomed = mutable.Buffer[Path]()
    while (it.hasNext) {
      val st = it.next()
      val rel = f.makeQualified(st.getPath).toString
        .stripPrefix(rootPrefix).stripPrefix("/")
      val isData = (rel.endsWith(".parquet") && !rel.startsWith("_delta_log/")) ||
        (rel.startsWith("_dv/") && rel.endsWith(".json"))
      if (isData && !referenced.contains(rel) &&
          st.getModificationTime <= horizon)
        doomed += st.getPath
    }
    doomed.foreach { p =>
      if (f.delete(p, false)) deleted += 1
    }
    deleted
  }

  /** RESTORE TABLE to `toVersion`: one new commit whose actions flip the
    * CURRENT state back to the target version's state — remove the
    * files added since, re-add the files (and their deletion-vector
    * descriptors) removed since, and revert the metaData when the
    * schema evolved in between. Like production Delta's RESTORE this is
    * metadata-only (zero data-file IO — the old files are still on
    * disk) and moves the log FORWARD, so the restore itself is
    * time-travelable and concurrent-writer-safe under the usual commit
    * race rules. Fails loudly when a needed file was already vacuumed.
    * Driver memory is O(live files) — the same bound replay already
    * holds.
    */
  def restore(s: SparkSession, table: String, toVersion: Long): Unit = {
    val latest = latestVersion(s, table)
    require(latest >= 0, s"no delta log at $table")
    require(toVersion >= 0 && toVersion <= latest,
      s"restore target $toVersion outside [0, $latest] at $table")
    if (toVersion == latest) return
    val cur = replay(s, table, latest)
    val tgt = replay(s, table, toVersion)
    def key(e: FileEntry) = (e.path, e.dv)
    val curKeys = cur.entries.map(key).toSet
    val tgtKeys = tgt.entries.map(key).toSet
    val readds = tgt.entries.filterNot(e => curKeys.contains(key(e)))
    val removes = cur.entries.filterNot(e => tgtKeys.contains(key(e)))
    val f = fs(s, new Path(table))
    readds.foreach { e =>
      require(f.exists(new Path(table, e.path)),
        s"cannot restore $table to $toVersion: ${e.path} was vacuumed")
    }
    val meta =
      if (cur.schemaJson != tgt.schemaJson || cur.partCols != tgt.partCols
          || cur.config != tgt.config)
        Seq(metaDataAction(table, tgt.schemaJson, tgt.partCols, tgt.config))
      else Nil
    writeCommit(s, table, latest + 1,
      meta ++ removes.map(e => removeAction(e.path)) ++
        readds.map(e => addAction(e.path, e.size, e.partValues,
          e.stats.map(_.toString), dataChange = true,
          e.dv.map(p => (p, e.dvCardinality)))),
      operation = "RESTORE")
  }

  def restorePoint(s: SparkSession, table: String): () => Unit = {
    val v = latestVersion(s, table)
    () => restore(s, table, v)
  }

  /** Streaming-source contract: the current log schema, its partition
    * columns, and the latest version.
    */
  def streamInfo(s: SparkSession, table: String): (StructType, Seq[String], Long) = {
    val v = latestVersion(s, table)
    require(v >= 0, s"no delta log at $table")
    val st = replay(s, table, v)
    require(!hasMapping(st.schema),
      "streaming source requires a table without column mapping (the " +
        "stream reader matches parquet columns by NAME; renames need " +
        "the batch path's physical-name resolution)")
    (st.schema, st.partCols, v)
  }

  /** Data files ADDED by versions (fromV, toV] — the incremental read
    * behind the DSv2 streaming source. Appends-only contract, enforced
    * exactly like production Delta's source default: a data-changing
    * REMOVE in the window (DELETE/UPDATE/MERGE rewrites) fails loudly
    * rather than silently re-emitting rewritten rows; compaction
    * commits (`dataChange=false`) are correctly invisible. Returns
    * (version, absolute path, size, partition values) tuples; cost is
    * O(new commits), never a snapshot replay.
    */
  def addedFilesBetween(s: SparkSession, table: String, fromV: Long,
      toV: Long): Seq[(Long, String, Long, Seq[(String, Option[String])])] = {
    val f = fs(s, new Path(table))
    val rootQ = f.makeQualified(new Path(table))
    ((fromV + 1) to toV).flatMap { v =>
      readCommit(f, commitPath(table, v))
        .split('\n').filter(_.nonEmpty).flatMap { line =>
          val n = Json.readTree(line)
          if (n.has("remove") &&
              n.get("remove").get("dataChange").asBoolean(true))
            throw new UnsupportedOperationException(
              s"version $v of $table is not an append; the streaming " +
                "source reads appends only (compact/zorder are fine)")
          if (n.has("add") && n.get("add").get("dataChange").asBoolean(true)) {
            val a = n.get("add")
            Some((v, new Path(rootQ, a.get("path").asText()).toString,
              a.get("size").asLong(),
              partValuesOf(a.get("partitionValues"))))
          } else None
        }
    }
  }

  /** Shallow CLONE: create `dst` as a new table whose version-0 commit
    * references the SOURCE's data files (and deletion-vector sidecars)
    * by absolute path — zero data copied, stats carried over, O(files)
    * metadata, exactly production Delta's CLONE. The clone then
    * diverges independently: DML rewrites stage new files under `dst`
    * and drop the absolute references; VACUUM on the clone never
    * touches source files (they live outside its root). The standard
    * CLONE caveat applies equally here: vacuuming the SOURCE can drop
    * files a shallow clone still references. Restricted to
    * unpartitioned sources — partition values are directory-derived at
    * read (stated simplification; a partitioned clone needs
    * log-sourced partition values).
    */
  def cloneShallow(s: SparkSession, src: String, dst: String,
      version: Long = -1L): Unit = {
    require(latestVersion(s, dst) < 0, s"table already exists at $dst")
    val latest = latestVersion(s, src)
    require(latest >= 0, s"no delta log at $src")
    val v = if (version < 0) latest else version
    val st = replay(s, src, v)
    require(st.partCols.isEmpty,
      "shallow clone supports unpartitioned sources only")
    val f = fs(s, new Path(src))
    def abs(rel: String): String =
      f.makeQualified(new Path(src, rel)).toUri.getPath
    writeCommit(s, dst, 0L,
      protocolAction +:
        metaDataAction(dst, st.schemaJson, st.partCols, st.config) +:
        st.entries.map(e => addAction(abs(e.path), e.size, e.partValues,
          e.stats.map(_.toString), dataChange = true,
          e.dv.map(p => (abs(p), e.dvCardinality)))),
      operation = "CLONE")
  }

  /** Absolute paths of the current live data files (spec assertion
    * hook, matching [[IcebergLite.dataFiles]]): conversion and clone
    * invariants are stated as equalities over this set.
    */
  def dataFiles(s: SparkSession, table: String): Seq[String] =
    liveFileState(s, table)._3.map(_._1).sorted

  /** Live add-file state for format conversion (LakeConvert): schema
    * JSON, partition columns, and one (absolute path, size, partition
    * values, stats JSON) tuple per live file. Deletion-vector tables
    * are rejected loudly — a DV row mask has no lossless expression as
    * a bare file reference (rewrite with [[compact]] first).
    */
  private[sources] def liveFileState(s: SparkSession, table: String)
      : (String, Seq[String],
         Seq[(String, Long, Seq[(String, Option[String])], Option[String])]) = {
    val latest = latestVersion(s, table)
    require(latest >= 0, s"no delta log at $table")
    val st = replay(s, table, latest)
    require(st.schema.fields.forall(fd => physName(fd) == fd.name),
      s"$table has renamed (column-mapped) fields; foreign readers " +
        "resolve by name — rewrite under the current names first")
    val f = fs(s, new Path(table))
    def abs(rel: String): String =
      if (isAbsPath(rel)) rel
      else f.makeQualified(new Path(table, rel)).toUri.getPath
    (st.schemaJson, st.partCols, st.entries.map { e =>
      require(e.dv.isEmpty,
        s"$table carries deletion vectors; compact before converting")
      (abs(e.path), e.size, e.partValues, e.stats.map(_.toString))
    })
  }

  /** Create a table whose version-0 commit references EXISTING parquet
    * files by absolute path (stats carried verbatim) — the write half
    * of a metadata-only format conversion; the read path treats the
    * references exactly like a shallow clone's. Unpartitioned only
    * (partition values are directory-derived at read here, and
    * foreign-layout directories prove nothing).
    */
  private[sources] def createFromFiles(s: SparkSession, dst: String,
      schemaJson: String,
      files: Seq[(String, Long, Seq[(String, Option[String])], Option[String])])
      : Unit = {
    require(latestVersion(s, dst) < 0, s"table already exists at $dst")
    writeCommit(s, dst, 0L,
      protocolAction +:
        metaDataAction(dst, schemaJson, Nil) +:
        files.map { case (p, sz, _, stats) =>
          require(isAbsPath(p), s"conversion references must be absolute: $p")
          addAction(p, sz, Nil, stats, dataChange = true)
        },
      operation = "CONVERT")
  }

  /** OPTIMIZE ZORDER BY: rewrite the live files clustered on the
    * interleaved bit-order (Morton order) of `zCols` — the maintenance
    * op that makes per-file min/max stats selective on EVERY listed
    * column at once, where a plain sort helps only its leading column.
    * Each column is bucketed into 16 approx-quantile buckets (one tiny
    * driver-side quantile pass), bucket bits interleave into the
    * z-value, and `repartitionByRange` on it range-clusters the
    * rewrite. Like [[compact]], content is unchanged
    * (`dataChange = false`) and deletion vectors are rebased away.
    */
  def compactZOrder(s: SparkSession, table: String, zCols: Seq[String],
      targetFiles: Int): Unit = {
    require(zCols.nonEmpty, "zorder needs at least one column")
    val t = live(s, table)
    if (t.files.isEmpty) return
    val Buckets = 16 // 4 bits per column
    zCols.foreach(c => require(
      t.schema(c).dataType.isInstanceOf[NumericType],
      s"zorder column $c must be numeric (quantile-bucketed)"))
    val df = t.read(t.files)
    // Approx-quantile bucket boundaries per column: metadata-sized
    // (zCols × 15 doubles), one distributed sketch pass.
    val cuts: Map[String, Array[Double]] = zCols.map { c =>
      c -> df.stat.approxQuantile(c,
        (1 until Buckets).map(_.toDouble / Buckets).toArray, 0.01)
    }.toMap
    def bucketOf(c: String): Column = {
      // count of boundaries strictly below the value = bucket id 0..15
      val boundaries = cuts(c).distinct
      boundaries.foldLeft(lit(0))((acc, b) =>
        acc + when(col(c).cast("double") > lit(b), 1).otherwise(0))
    }
    // Morton interleave: bit i of column j lands at position
    // i * |zCols| + j, so all columns share the significant bits.
    val zVal = (0 until 4).flatMap(bit => zCols.zipWithIndex.map {
      case (c, j) =>
        shiftleft(when(bucketOf(c).bitwiseAND(lit(1 << bit)) =!= 0, lit(1))
          .otherwise(lit(0)), bit * zCols.size + j)
    }).reduce(_ + _)
    t.replace(t.files, df.withColumn("_z", zVal)
      .repartitionByRange(targetFiles, col("_z"))
      .drop("_z"), "OPTIMIZE")
  }

  /** Copy-on-write DELETE WHERE `cond` ([[rewriteWhere]]): only the
    * files holding a match are rewritten, to their surviving rows.
    */
  def deleteWhere(s: SparkSession, table: String, cond: Column): Long =
    rewriteWhere(s, live(s, table), cond, "DELETE")(
      _.filter(!coalesce(cond, lit(false))))

  /** Row-level changes between two versions — the change-data-feed
    * read: every output row carries `_change_type` ('insert' or
    * 'delete'; an update surfaces as its delete+insert pair), under
    * the TO-version's schema (pre-evolution rows read with nulls for
    * added columns, as on any snapshot read). Two paths:
    *
    *  - appends-only window (the streaming-ingest common case, detected
    *    from the log alone: the from-version's file set carries over
    *    intact): reads ONLY the files added in the window — O(new
    *    data), no diff.
    *  - general window (DML/compaction happened): multiset difference
    *    of the two snapshots (`exceptAll` both ways) — always correct,
    *    costs two snapshot scans; real CDF avoids this by writing
    *    change files at DML time, the r5+ path.
    */
  def tableChanges(s: SparkSession, table: String, fromVersion: Long,
      toVersion: Long = -1L): DataFrame = {
    val latest = latestVersion(s, table)
    require(latest >= 0, s"no delta log at $table")
    val to = if (toVersion < 0) latest else toVersion
    require(fromVersion >= 0 && fromVersion <= to && to <= latest,
      s"bad change window [$fromVersion, $to] (latest $latest)")
    val stTo = replay(s, table, to)
    val schema = stTo.schema
    if (fromVersion == to)
      return s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
        .withColumn("_change_type", lit("insert")).limit(0)
    val stFrom = replay(s, table, fromVersion)
    val fromSet = stFrom.entries.map(e => (e.path, e.dv)).toSet
    val toSet = stTo.entries.map(e => (e.path, e.dv)).toSet
    if (fromSet.subsetOf(toSet)) {
      // Appends only: every pre-existing file (and its deletion state)
      // survived, so the delta IS the new files.
      val added = stTo.entries.filterNot(e => fromSet.contains((e.path, e.dv)))
      readEntries(s, table, schema, added)
        .withColumn("_change_type", lit("insert"))
    } else {
      val now = readEntries(s, table, schema, stTo.entries)
      val before = readEntries(s, table, schema, stFrom.entries)
      now.exceptAll(before).withColumn("_change_type", lit("insert"))
        .unionByName(
          before.exceptAll(now).withColumn("_change_type", lit("delete")))
    }
  }

  /** Merge-on-read DELETE WHERE `cond` via deletion vectors: instead of
    * rewriting every file containing a match (copy-on-write, O(touched
    * data) write amplification), the matching ROW POSITIONS are
    * recorded in a per-file sidecar and the file is re-added with a
    * `deletionVector` descriptor — the commit writes only bitmap-sized
    * sidecars, and every read path ([[snapshot]]/[[scan]]/DML scans)
    * filters the marked rows. The 100 TB DELETE shape: a selective
    * delete on a huge table writes kilobytes. Repeated deletes UNION
    * into a fresh sidecar; [[compact]] rebases accumulated DVs into
    * clean files, and [[vacuum]] collects orphaned sidecars. Intended
    * for selective deletes — row positions pass through the driver
    * (like the rest of the commit metadata), so a delete matching most
    * of the table should use [[deleteWhere]] instead.
    */
  def deleteWhereDV(s: SparkSession, table: String, cond: Column): Unit = {
    val t = deltaLive(s, table)
    val actions = softDelete(s, table, t.schema,
      t.entries(t.prune(cond)))(_.filter(cond))
    if (actions.isEmpty) return
    writeCommit(s, table, t.version + 1, actions, operation = "DELETE")
  }

  /** The deletion-vector write both merge-on-read paths share: the live
    * rows of `entries` that `hits` keeps get their positions soft-
    * deleted. Each file with a new hit gets a FRESH sidecar holding its
    * prior and new positions (sidecars replace, not chain); a file
    * whose only positions are prior ones keeps its sidecar and log
    * entry. Rows group by data file and each group's EXECUTOR writes
    * the sidecar — only (file, sidecar, count) metadata returns to the
    * driver, so a delete matching billions of rows never funnels row
    * ids through it (the Iceberg position-delete path in
    * IcebergLite.deleteWhere shares this shape). Returns the remove +
    * re-add actions of the files that took a hit.
    */
  private def softDelete(s: SparkSession, table: String,
      schema: StructType, entries: Seq[FileEntry])(
      hits: DataFrame => DataFrame): Seq[String] = {
    if (entries.isEmpty) return Nil
    // Prior soft-deleted positions were driver-written metadata;
    // re-distributing them is a small parallelize.
    val prior = entries.flatMap(e => e.dv.toSeq.flatMap(rel =>
      readDv(s, table, rel).map(rid => (fileName(e.path), rid))))
    import s.implicits._
    val scanReader = {
      val r0 = s.read.schema(physStruct(schema))
      if (entries.exists(e => isAbsPath(e.path))) r0
      else r0.option("basePath", table)
    }
    val scan0 = scanReader
      .parquet(entries.map(e => new Path(table, e.path).toString): _*)
      .withColumn("_dv_fname", col("_metadata.file_name"))
      .withColumn("_dv_rid", col("_metadata.row_index"))
      .select(schema.fields.map(fd =>
        col(physName(fd)).as(fd.name)).toSeq ++
        Seq(col("_dv_fname"), col("_dv_rid")): _*)
    val live = if (prior.isEmpty) scan0
      else scan0.join(
        broadcast(prior.toDF("_dv_fname", "_dv_rid")),
        Seq("_dv_fname", "_dv_rid"), "left_anti")
    val hadoopConf = new org.apache.spark.SerializableWritable(
      s.sparkContext.hadoopConfiguration)
    val newPos = hits(live)
      .select(col("_dv_fname"), col("_dv_rid"))
      .as[(String, Long)]
      .map(t => (t._1, t._2, true))
    val priorDs = prior.toDS().map(t => (t._1, t._2, false))
    val dvMeta: Array[(String, String, Long)] = newPos.union(priorDs)
      .groupByKey(_._1)
      .flatMapGroups { (fname, it) =>
        val rows = it.toArray
        if (!rows.exists(_._3)) Iterator.empty
        else {
          val rids = rows.map(_._2).distinct.sorted
          val rel = s"_dv/dv-${UUID.randomUUID()}.json"
          val p = new Path(table, rel)
          val f = p.getFileSystem(hadoopConf.value)
          f.mkdirs(p.getParent)
          val sb = new StringBuilder("{\"deletedRows\":[")
          var i = 0
          while (i < rids.length) {
            if (i > 0) sb.append(',')
            sb.append(rids(i))
            i += 1
          }
          sb.append("]}")
          val out = f.create(p, false)
          try out.write(sb.toString.getBytes("UTF-8"))
          finally out.close()
          Iterator.single((fname, rel, rids.length.toLong))
        }
      }
      .collect()
    val byFile = dvMeta.map(m => m._1 -> (m._2, m._3)).toMap
    entries
      .filter(e => byFile.contains(fileName(e.path)))
      .flatMap { e =>
        val (rel, n) = byFile(fileName(e.path))
        Seq(removeAction(e.path),
          addAction(e.path, e.size, e.partValues, e.stats.map(_.toString),
            dataChange = true, dv = Some((rel, n))))
      }
  }
}
