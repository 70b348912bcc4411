package graft.sources

import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Glue
import org.apache.spark.sql.types._

import LakeFormat.{fileName, latestChanges}

/** Minimal Iceberg-STYLE table format: the manifest-tree metadata
  * architecture of Apache Iceberg (reference:metadata:1-9's
  * Iceberg-vs-Delta comparative surface), distinct from DeltaLite's
  * log-replay model:
  *
  *  - `metadata/v{N}.metadata.json` — immutable table metadata: the
  *    SCHEMA LIST (each schema a set of fields with STABLE FIELD IDS —
  *    Iceberg's core evolution mechanism), the current schema id, the
  *    partition spec, the full snapshot list, and the CURRENT snapshot
  *    id. A `version-hint.text` pointer names the latest metadata file
  *    (the HadoopTables catalog convention).
  *  - each snapshot points at ONE manifest list
  *    (`metadata/snap-{id}.json`) naming its manifest files;
  *  - each manifest (`metadata/manifest-{uuid}.json`) records the
  *    SCHEMA ID its files were written under, and lists data files
  *    with partition values, per-file record counts and min/max column
  *    stats, plus a manifest-level PARTITION SUMMARY — so a selective
  *    scan can skip a whole manifest (thousands of files) from one
  *    metadata read before ever looking at its entries.
  *
  * Field ids are assigned once at create (1..n) and never reused: a
  * RENAME keeps the id (a metadata-only commit — zero data IO at any
  * scale), an ADD COLUMN takes a fresh id. Data files are written with
  * the real `parquet.field.id` attribute in their parquet schema (the
  * Spark StructField metadata key Spark's parquet writer emits — the
  * same attribute Apache Iceberg requires of its data files), and
  * reads resolve columns BY ID: files written before a rename are read
  * under their write-time names and re-mapped to the current names
  * through the id, so old data files never need rewriting.
  *
  * The structural consequences Iceberg is built around hold here:
  * reading NEVER lists directories (the manifest tree names every data
  * file — object-store-friendly at 100 TB); an append creates a new
  * snapshot whose manifest list REUSES the previous manifests and adds
  * one for the new files (O(new data) metadata per commit); pruning is
  * hierarchical (manifest partition summary → entry partition values →
  * entry column stats); time travel reads any retained snapshot id.
  * Copy-on-write [[updateWhere]] and [[merge]] rewrite only the files
  * that contain affected rows, and the untouched entries of an
  * affected manifest survive through a rewritten manifest (Iceberg's
  * manifest-rewrite shape) — a merge into a 100 TB table rewrites the
  * touched files, not the table.
  *
  * Simplifications vs Apache Iceberg, stated: manifests are JSON
  * (Iceberg serializes them as Avro — same tree, different encoding);
  * the partition spec is identity-only (no bucket/truncate/day
  * transforms) and partition columns cannot be renamed; partition
  * summaries are value SETS (Iceberg stores lower/upper bounds —
  * equivalent pruning power at lake partition cardinalities);
  * single-writer (Iceberg's optimistic metadata swap is arbitrated by
  * a catalog we don't have). Stats pruning reuses DeltaLite's
  * conservative evaluator — footer-derived stats, exact comparisons.
  */
object IcebergLite extends LakeFormat {

  val provider = "iceberglite"

  private val Json = new ObjectMapper()

  private def fs(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private def metaDir(table: String) = new Path(table, "metadata")
  private def versionHint(table: String) =
    new Path(metaDir(table), "version-hint.text")
  private def metadataFile(table: String, v: Long) =
    new Path(metaDir(table), s"v$v.metadata.json")

  private def writeFile(f: FileSystem, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = f.create(p, overwrite)
    try out.write(text.getBytes("UTF-8"))
    finally out.close()
  }

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Latest metadata version per the version hint; -1 when no table. */
  def currentVersion(s: SparkSession, table: String): Long = {
    val f = fs(s, versionHint(table))
    if (!f.exists(versionHint(table))) -1L
    else readText(f, versionHint(table)).trim.toLong
  }

  /** Id of the snapshot `main` currently points at. */
  def latestVersion(s: SparkSession, table: String): Long =
    readMeta(s, table).currentSnapshot

  /** Schema evolution moves no snapshot (add/drop/rename column write
    * new metadata, same current-snapshot-id — Iceberg's own contract),
    * so the restore point records the CURRENT schema id alongside the
    * snapshot id: [[rollbackTo]] alone cannot revert a metadata-only
    * ALTER.
    */
  def restorePoint(s: SparkSession, table: String): () => Unit = {
    val meta = readMeta(s, table)
    () => {
      rollbackTo(s, table, meta.currentSnapshot)
      restoreSchemaId(s, table, meta.currentSchemaId)
    }
  }

  /** Point current-schema-id back at `schemaId` (which must still be
    * in the table's schema list — schemas are append-only, so any
    * previously-current id is). Metadata-only; snapshots untouched.
    */
  private def restoreSchemaId(s: SparkSession, table: String,
      schemaId: Int): Unit = {
    val meta = readMeta(s, table)
    if (meta.currentSchemaId == schemaId) return
    require(meta.schemas.exists(_.schemaId == schemaId),
      s"no schema $schemaId in the schema list at $table")
    writeMetadata(s, table, meta.copy(currentSchemaId = schemaId))
  }

  // ------------------------------------------------------------ schema

  /** One field of an Iceberg schema: the id is the column's identity
    * forever; the name is just its current label.
    */
  private[sources] case class IceField(id: Int, name: String,
      required: Boolean, dataType: DataType)

  private[sources] case class IceSchema(schemaId: Int, fields: Seq[IceField]) {
    /** Spark StructType carrying `parquet.field.id` per field, so
      * parquet writes emit real field ids and the struct is the single
      * source of truth for reads.
      */
    def struct: StructType = StructType(fields.map { fd =>
      StructField(fd.name, fd.dataType, nullable = !fd.required,
        metadata = new MetadataBuilder()
          .putLong("parquet.field.id", fd.id.toLong).build())
    })
    def fieldById(id: Int): Option[IceField] = fields.find(_.id == id)
  }

  private def schemaFromStruct(schemaId: Int, st: StructType,
      startId: Int = 1): IceSchema =
    IceSchema(schemaId, st.fields.zipWithIndex.map { case (fd, i) =>
      IceField(startId + i, fd.name, required = !fd.nullable, fd.dataType)
    }.toSeq)

  /** One field of a partition spec: `name` keys the `k=v` directory
    * layout and partition values; `transform` is "identity" (value =
    * the column itself, which is then NOT stored in data files) or
    * "day" (value = the UTC date of the `source` TIMESTAMP column —
    * Iceberg's HIDDEN partitioning: the source column stays in the
    * data files, queries filter on IT, and pruning maps day values to
    * source-column bounds), "bucket[N]" (value = murmur3 hash of the
    * source column mod N — spreads a high-cardinality key over N
    * stable buckets; an equality predicate on the source prunes to
    * ONE bucket) or "truncate[W]" (value = the source truncated to
    * width W: string prefix / integer floor-to-multiple — each
    * truncated value bounds the source over a W-wide range, so RANGE
    * predicates prune too).
    */
  case class PartitionField(name: String, transform: String,
      source: String) {
    require(transform == "identity" || transform == "day" ||
      transform.matches("bucket\\[\\d+\\]") ||
      transform.matches("truncate\\[\\d+\\]"),
      s"unsupported partition transform $transform")
  }

  /** Identity partition field for a plain column. */
  def identityField(name: String): PartitionField =
    PartitionField(name, "identity", name)

  /** Day-transform field over a timestamp column (hidden partitioning). */
  def dayField(source: String, name: String = ""): PartitionField =
    PartitionField(if (name.isEmpty) s"${source}_day" else name,
      "day", source)

  /** Bucket-transform field: murmur3(source) mod n, hidden like day. */
  def bucketField(source: String, n: Int, name: String = ""): PartitionField = {
    require(n > 0, "bucket count must be positive")
    PartitionField(if (name.isEmpty) s"${source}_bucket" else name,
      s"bucket[$n]", source)
  }

  /** Truncate-transform field: width-w prefix (string) / floor (int). */
  def truncateField(source: String, w: Int,
      name: String = ""): PartitionField = {
    require(w > 0, "truncate width must be positive")
    PartitionField(if (name.isEmpty) s"${source}_trunc" else name,
      s"truncate[$w]", source)
  }

  /** The N of `bucket[N]` / W of `truncate[W]`. */
  private def transformParam(t: String): Int =
    t.substring(t.indexOf('[') + 1, t.length - 1).toInt

  /** The staging expression producing a field's partition value.
    * `st` supplies the source column's type (truncate is
    * type-directed). bucket uses Spark's `hash` (murmur3, seed 42) so
    * the scan-side literal hash (see [[bucketMayMatch]]) and the
    * write-side value come from the SAME function.
    */
  private def partExpr(pc: PartitionField, st: StructType): Column =
    pc.transform match {
      case "identity" => col(pc.name)
      case "day" => date_format(col(pc.source), "yyyy-MM-dd") // UTC session
      case t if t.startsWith("bucket[") =>
        pmod(hash(col(pc.source)), lit(transformParam(t)))
      case t if t.startsWith("truncate[") =>
        val w = transformParam(t)
        st(pc.source).dataType match {
          case StringType => substring(col(pc.source), 1, w)
          // Iceberg truncate for integers: v - (v mod W) with the
          // positive modulus, i.e. floor to the lower W-multiple.
          case _ => col(pc.source) - pmod(col(pc.source), lit(w))
        }
    }

  /** `partSpecs` is the table's partition-spec history (Iceberg's
    * `partition-specs` list, identity + day transforms): spec ids are
    * assigned once and never reused; `defaultSpecId` names the spec NEW
    * data files are written under. Old manifests keep the spec they
    * were written with — evolving the spec is a metadata-only commit
    * that rewrites nothing.
    */
  private case class Meta(schemas: Seq[IceSchema], currentSchemaId: Int,
      partSpecs: Seq[(Int, Seq[PartitionField])], defaultSpecId: Int,
      currentSnapshot: Long, snapshots: Seq[(Long, String)],
      sortOrders: Seq[(Int, Seq[String])] = Seq(0 -> Nil),
      defaultSortOrderId: Int = 0,
      // Named refs (Iceberg spec `refs` map): name → (snapshot-id,
      // "branch"|"tag"). `main` always tracks currentSnapshot.
      refs: Seq[(String, (Long, String))] = Nil,
      // Snapshot lineage (spec `parent-snapshot-id`): child → parent,
      // 0 = root. Lets incremental reads walk a BRANCH's ancestry
      // instead of assuming id order (wrong once branches/WAP exist).
      parents: Map[Long, Long] = Map.empty,
      // Commit wall-clock per snapshot (spec `timestamp-ms`) — what
      // `TIMESTAMP AS OF` resolves against. Snapshots from before
      // stamping existed read back as 0 (match any modern instant);
      // snapshots with no entry yet (just committed) are stamped at
      // metadata-write time.
      snapshotTs: Map[Long, Long] = Map.empty,
      // Table properties (spec top-level `properties` map) — the
      // `graft.*` key space (e.g. graft.keys for declared conflict
      // columns). Carried through every metadata rewrite.
      properties: Map[String, String] = Map.empty,
      // The metadata VERSION this Meta was read from (-1 = fresh
      // create). NOT serialized — it exists so the commit claims
      // exactly readVersion+1: a concurrent writer who committed
      // first makes the claim fail LOUDLY instead of this writer
      // silently publishing a metadata file built from a stale
      // snapshot (last-writer-wins, the lost-update anomaly).
      readVersion: Long = -1L) {
    def partCols: Seq[PartitionField] = colsOfSpec(defaultSpecId)
    def partColNames: Seq[String] = partCols.map(_.name)
    def colsOfSpec(specId: Int): Seq[PartitionField] =
      partSpecs.find(_._1 == specId).map(_._2).getOrElse(Nil)
    def sortCols: Seq[String] =
      sortOrders.find(_._1 == defaultSortOrderId).map(_._2).getOrElse(Nil)
    def currentSchema: IceSchema =
      schemas.find(_.schemaId == currentSchemaId).get
    def schemaById(id: Int): IceSchema =
      schemas.find(_.schemaId == id).getOrElse(currentSchema)
    def schema: StructType = currentSchema.struct
    def maxFieldId: Int =
      schemas.flatMap(_.fields.map(_.id)).foldLeft(0)(math.max)
  }

  private def schemaNode(sc: IceSchema): ObjectNode = {
    val o = Json.createObjectNode()
    o.put("schema-id", sc.schemaId)
    val arr = o.putArray("fields")
    sc.fields.foreach { fd =>
      val fo = arr.addObject()
      fo.put("id", fd.id)
      fo.put("name", fd.name)
      fo.put("required", fd.required)
      fo.put("spark-type", fd.dataType.json)
    }
    o
  }

  private def schemaFromNode(n: JsonNode): IceSchema =
    IceSchema(n.get("schema-id").asInt(),
      n.get("fields").elements().asScala.map { fo =>
        IceField(fo.get("id").asInt(), fo.get("name").asText(),
          fo.get("required").asBoolean(),
          DataType.fromJson(fo.get("spark-type").asText()))
      }.toSeq)

  private def readMeta(s: SparkSession, table: String): Meta = {
    val v = currentVersion(s, table)
    require(v >= 0, s"no iceberg table at $table")
    val f = fs(s, metaDir(table))
    val n = Json.readTree(readText(f, metadataFile(table, v)))
    val schemas =
      if (n.has("schemas"))
        n.get("schemas").elements().asScala.map(schemaFromNode).toSeq
      else {
        // Pre-field-id table: synthesize ids 1..n from the Spark schema.
        val st = DataType.fromJson(n.get("schema-json").asText())
          .asInstanceOf[StructType]
        Seq(schemaFromStruct(1, st))
      }
    val curId =
      if (n.has("current-schema-id")) n.get("current-schema-id").asInt()
      else schemas.head.schemaId
    def fieldOf(e: JsonNode): PartitionField =
      if (e.isTextual) identityField(e.asText()) // pre-transform layout
      else PartitionField(e.get("name").asText(),
        e.get("transform").asText(), e.get("source").asText())
    val specs =
      if (n.has("partition-specs"))
        n.get("partition-specs").elements().asScala.map { sp =>
          sp.get("spec-id").asInt() ->
            sp.get("cols").elements().asScala.map(fieldOf).toSeq
        }.toSeq
      else
        // Pre-evolution table: its one spec is spec 0.
        Seq(0 -> Option(n.get("partition-spec")).toSeq
          .flatMap(_.elements().asScala.map(fieldOf)).toSeq)
    val defSpec =
      if (n.has("default-spec-id")) n.get("default-spec-id").asInt() else 0
    val orders =
      if (n.has("sort-orders"))
        n.get("sort-orders").elements().asScala.map { so =>
          so.get("order-id").asInt() ->
            so.get("cols").elements().asScala.map(_.asText()).toSeq
        }.toSeq
      else Seq(0 -> Seq.empty[String]) // pre-sort-order table: unsorted
    val defOrder =
      if (n.has("default-sort-order-id"))
        n.get("default-sort-order-id").asInt()
      else 0
    val curSnap = n.get("current-snapshot-id").asLong()
    val refs =
      if (n.has("refs"))
        n.get("refs").fields().asScala.map { e =>
          e.getKey -> (e.getValue.get("snapshot-id").asLong(),
            e.getValue.get("type").asText())
        }.toSeq
      else Seq("main" -> (curSnap, "branch")) // pre-refs table
    val snapNodes = n.get("snapshots").elements().asScala.toSeq
    val snaps = snapNodes.map(sn =>
      sn.get("snapshot-id").asLong() -> sn.get("manifest-list").asText())
    // Lineage: spec parent-snapshot-id when present; pre-lineage tables
    // synthesize the linear chain (id order WAS the lineage back then).
    val orderedIds = snaps.map(_._1).sorted
    val linear = orderedIds.zip(0L +: orderedIds.dropRight(1)).toMap
    val parents = snapNodes.map { sn =>
      val id = sn.get("snapshot-id").asLong()
      id -> (if (sn.has("parent-snapshot-id"))
        sn.get("parent-snapshot-id").asLong()
      else linear(id))
    }.toMap
    val snapTs = snapNodes.map(sn =>
      sn.get("snapshot-id").asLong() ->
        (if (sn.has("timestamp-ms")) sn.get("timestamp-ms").asLong(0L)
         else 0L)).toMap
    val props =
      if (n.has("properties"))
        n.get("properties").fields().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap
      else Map.empty[String, String] // pre-properties table
    Meta(schemas, curId, specs, defSpec, curSnap, snaps,
      orders, defOrder, refs, parents, snapTs, props, readVersion = v)
  }

  // --------------------------------------------------------- manifests

  private case class ManifestEntry(path: String,
      partValues: Seq[(String, Option[String])], stats: Option[JsonNode],
      raw: JsonNode)

  /** `content` is "data" or "deletes" — Iceberg v2's manifest content
    * field: a deletes manifest's entries are position-delete files (or,
    * when `equalityIds` is non-empty, EQUALITY-delete files keyed on
    * those field ids), not data files. `schemaId` is the schema the
    * manifest's files were written under (id-based read resolution keys
    * on it). `seq` is the manifest's DATA SEQUENCE NUMBER — the Iceberg
    * v2 ordering that scopes equality deletes: an equality delete
    * applies only to data files with a STRICTLY SMALLER sequence
    * number, so a key re-inserted after the delete survives.
    */
  private case class Manifest(path: String, content: String, schemaId: Int,
      specId: Int, partSummary: Map[String, Seq[Option[String]]],
      entries: Seq[ManifestEntry], seq: Long = 0L,
      equalityIds: Seq[Int] = Nil)

  private def readManifests(s: SparkSession, table: String,
      manifestListRel: String, meta: Meta): Seq[Manifest] = {
    val f = fs(s, metaDir(table))
    val list = Json.readTree(readText(f, new Path(table, manifestListRel)))
    list.get("manifests").elements().asScala.map(_.asText()).toSeq
      .map { mRel =>
        val m = Json.readTree(readText(f, new Path(table, mRel)))
        val summary = Option(m.get("partition-summary")).map(ps =>
          ps.properties().asScala.map { e =>
            e.getKey -> e.getValue.elements().asScala.map(v =>
              if (v.isNull) None else Some(v.asText())).toSeq
          }.toMap).getOrElse(Map.empty[String, Seq[Option[String]]])
        val entries = m.get("entries").elements().asScala.map { e =>
          ManifestEntry(e.get("path").asText(),
            Option(e.get("partitionValues")).toSeq.flatMap(pv =>
              pv.properties().asScala.map { kv =>
                kv.getKey -> (if (kv.getValue.isNull) None
                  else Some(kv.getValue.asText()))
              }.toSeq),
            Option(e.get("stats")).filterNot(_.isNull),
            e)
        }.toSeq
        Manifest(mRel,
          Option(m.get("content")).map(_.asText()).getOrElse("data"),
          Option(m.get("schema-id")).map(_.asInt())
            .getOrElse(meta.currentSchemaId),
          // Pre-evolution manifests were all written under spec 0.
          Option(m.get("spec-id")).map(_.asInt()).getOrElse(0),
          summary, entries,
          // Pre-sequence-number manifests sort before every equality
          // delete (seq 0), which is the correct retrofit: their files
          // predate any delete.
          Option(m.get("sequence-number")).map(_.asLong()).getOrElse(0L),
          Option(m.get("equality-ids")).toSeq.flatMap(
            _.elements().asScala.map(_.asInt()).toSeq))
      }
  }

  /** Serialize + write a data manifest from (entry raw nodes ride along
    * verbatim so manifest rewrites preserve stats bit-exactly).
    */
  private def writeManifestFile(f: FileSystem, table: String, schemaId: Int,
      specId: Int, partCols: Seq[String],
      entries: Seq[ManifestEntry], seq: Long = 0L,
      equalityIds: Seq[Int] = Nil): String = {
    val root = Json.createObjectNode()
    root.put("schema-id", schemaId)
    root.put("spec-id", specId)
    root.put("sequence-number", seq)
    if (equalityIds.nonEmpty) {
      root.put("content", "deletes")
      val ids = root.putArray("equality-ids")
      equalityIds.foreach(ids.add)
    }
    val summary = root.putObject("partition-summary")
    partCols.foreach { pc =>
      val arr = summary.putArray(pc)
      entries.flatMap(_.partValues.collect { case (k, v) if k == pc => v })
        .distinct.foreach {
          case Some(v) => arr.add(v)
          case None => arr.addNull()
        }
    }
    val arr = root.putArray("entries")
    entries.foreach(e => arr.add(e.raw))
    val mRel = s"metadata/manifest-${UUID.randomUUID()}.json"
    writeFile(f, new Path(table, mRel), Json.writeValueAsString(root),
      overwrite = false)
    mRel
  }

  /** Stage `df` (Hive-partitioned under `data/` when `partCols`
    * non-empty) under the schema's field-id-annotated struct — the
    * written parquet carries `field_id` on every column — collect
    * footer stats, and write one manifest recording the schema id.
    * Returns the manifest's relative path.
    */
  private def writeManifest(s: SparkSession, table: String, df: DataFrame,
      schema: IceSchema, specId: Int, partCols: Seq[PartitionField],
      sortCols: Seq[String] = Nil, seq: Long = 0L): String = {
    val f = fs(s, new Path(table))
    f.mkdirs(new Path(table, "data"))
    val st = schema.struct
    // Re-alias every column with its field-id metadata: Spark's parquet
    // writer (spark.sql.parquet.fieldId.write.enabled, default true)
    // emits it as the parquet schema's field_id.
    val annotated = df.select(st.fields.map(fd =>
      col(fd.name).cast(fd.dataType).as(fd.name, fd.metadata)).toSeq: _*)
    // The table's sort order: range-partition then sort within, so
    // each written file covers a DISJOINT range of the sort key and
    // its footer min/max stats prune like an index. The incoming
    // partition count is preserved (compact's targetFiles contract and
    // an append's natural parallelism both survive the range shuffle).
    val arranged =
      if (sortCols.isEmpty) annotated
      else annotated.repartitionByRange(
          math.max(1, annotated.rdd.getNumPartitions),
          sortCols.map(col).toSeq: _*)
        .sortWithinPartitions(sortCols.map(col).toSeq: _*)
    // Transform fields (hidden partitioning) materialize their derived
    // value just for the directory layout: partitionBy moves it into
    // `k=v` dirs, so it never lands inside a data file — while the
    // SOURCE column stays in the files, unlike identity fields.
    val withDerived = partCols.filter(_.transform != "identity")
      .foldLeft(arranged)((d, pc) =>
        d.withColumn(pc.name, partExpr(pc, st)))
    val staged = DeltaLite.stage(s, s"$table/data", withDerived,
        partCols.map(_.name))
      .map { case (rel, pvs, sz) => (s"data/$rel", pvs, sz) }
    val identityNames =
      partCols.filter(_.transform == "identity").map(_.name).toSet
    val dataSchema =
      StructType(st.fields.filterNot(fd => identityNames.contains(fd.name)))
    val stats = DeltaLite.footerStats(s, table, staged.map(_._1), dataSchema)
    val entries = staged.map { case (rel, pvs, sz) =>
      val e = Json.createObjectNode()
      e.put("path", rel)
      e.put("size", sz) // file length, carried for format conversion
      val pv = e.putObject("partitionValues")
      pvs.foreach {
        case (k, Some(v)) => pv.put(k, v)
        case (k, None) => pv.putNull(k)
      }
      stats.get(rel).foreach(x => e.set[JsonNode]("stats", Json.readTree(x)))
      ManifestEntry(rel, pvs,
        Option(e.get("stats")).filterNot(_.isNull), e)
    }
    writeManifestFile(f, table, schema.schemaId, specId,
      partCols.map(_.name), entries, seq)
  }

  /** The data sequence number the NEXT commit will carry — snapshot ids
    * are monotonic (max + 1, never reused even across
    * [[expireSnapshots]]), so the upcoming snapshot id doubles as the
    * Iceberg v2 sequence number and every manifest's `seq` records the
    * commit that created it.
    */
  private def nextSeq(meta: Meta): Long =
    meta.snapshots.map(_._1).foldLeft(0L)(math.max) + 1

  private def metadataNode(table: String, meta: Meta): ObjectNode = {
    val n = Json.createObjectNode()
    n.put("format-version", 2)
    n.put("table-uuid",
      UUID.nameUUIDFromBytes(table.getBytes("UTF-8")).toString)
    n.put("location", table)
    val scs = n.putArray("schemas")
    meta.schemas.foreach(sc => scs.add(schemaNode(sc)))
    n.put("current-schema-id", meta.currentSchemaId)
    // Kept for readers of the pre-field-id layout (and as the plain
    // Spark rendering of the current schema).
    n.put("schema-json", meta.schema.json)
    // The default spec under the legacy single-spec key (kept for
    // pre-evolution readers), plus the full spec history.
    val spec = n.putArray("partition-spec")
    meta.partColNames.foreach(spec.add)
    val specsArr = n.putArray("partition-specs")
    meta.partSpecs.foreach { case (id, cols) =>
      val o = specsArr.addObject()
      o.put("spec-id", id)
      val ca = o.putArray("cols")
      cols.foreach { pc =>
        // Identity fields keep the legacy string shape (older readers
        // of this table's own history); transforms serialize in full.
        if (pc.transform == "identity") ca.add(pc.name)
        else {
          val po = ca.addObject()
          po.put("name", pc.name)
          po.put("transform", pc.transform)
          po.put("source", pc.source)
        }
      }
    }
    n.put("default-spec-id", meta.defaultSpecId)
    val ordersArr = n.putArray("sort-orders")
    meta.sortOrders.foreach { case (id, cols) =>
      val o = ordersArr.addObject()
      o.put("order-id", id)
      val ca = o.putArray("cols")
      cols.foreach(ca.add)
    }
    n.put("default-sort-order-id", meta.defaultSortOrderId)
    n.put("current-snapshot-id", meta.currentSnapshot)
    if (meta.properties.nonEmpty) {
      val po = n.putObject("properties")
      meta.properties.toSeq.sortBy(_._1)
        .foreach { case (k, v) => po.put(k, v) }
    }
    // `main` always tracks the current snapshot (the Iceberg-spec
    // invariant); other refs carry their own pinned/advanced heads.
    val refsNode = n.putObject("refs")
    (("main" -> (meta.currentSnapshot, "branch")) +:
        meta.refs.filterNot(_._1 == "main")).foreach {
      case (name, (snap, tpe)) =>
        val r = refsNode.putObject(name)
        r.put("snapshot-id", snap)
        r.put("type", tpe)
    }
    val snaps = n.putArray("snapshots")
    meta.snapshots.foreach { case (id, rel) =>
      val o = snaps.addObject()
      o.put("snapshot-id", id)
      // Preserve an existing stamp; a snapshot first appearing in this
      // metadata write gets the current wall-clock (its commit time).
      o.put("timestamp-ms",
        meta.snapshotTs.getOrElse(id, System.currentTimeMillis()))
      // Root snapshots omit the field, per the spec.
      meta.parents.get(id).filter(_ > 0L)
        .foreach(p => o.put("parent-snapshot-id", p))
      o.put("manifest-list", rel)
    }
    n
  }

  /** Write `text` to `p` as an exclusive CLAIM (overwrite=false): a
    * concurrent writer who claimed the name first turns this writer's
    * commit into a loud conflict instead of a silent lost update.
    */
  private def claimWrite(f: FileSystem, p: Path, text: String,
      table: String): Unit =
    try writeFile(f, p, text, overwrite = false)
    catch {
      case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
        val cme = new java.util.ConcurrentModificationException(
          s"concurrent writer committed to $table first ($p already " +
            "claimed) — this commit was built from a stale snapshot; " +
            "re-run the operation on the fresh snapshot")
        cme.initCause(e)
        throw cme
    }

  /** Exclusive metadata-version claim: the commit publishes exactly
    * `readVersion + 1` of the Meta it was BUILT from — if a concurrent
    * writer got there first the claim fails with a loud
    * ConcurrentModificationException (re-run on the fresh snapshot)
    * instead of silently discarding the winner's snapshot by
    * publishing a stale-based metadata file one version later.
    * (The version-hint pointer swap itself is last-write — a real
    * catalog arbitrates that; the conflict DETECTION is here.)
    */
  private def writeMetadata(s: SparkSession, table: String,
      meta: Meta): Unit = {
    val f = fs(s, metaDir(table))
    f.mkdirs(metaDir(table))
    val v = if (meta.readVersion >= 0) meta.readVersion + 1
      else currentVersion(s, table) + 1
    claimWrite(f, metadataFile(table, v),
      Json.writeValueAsString(metadataNode(table, meta)), table)
    writeFile(f, versionHint(table), v.toString, overwrite = true)
  }

  /** TEST SEAM: runs between an operation's metadata READ (the Meta
    * its commit was built from) and its COMMIT — a deterministic
    * stand-in for a concurrent writer landing mid-operation. No-op in
    * production; ConflictSpec points it at a competing commit.
    */
  @volatile private[graft] var interleaveForTest: () => Unit = () => ()

  private def commitSnapshot(s: SparkSession, table: String, meta: Meta,
      manifests: Seq[String], advance: Boolean = true,
      parent: Option[Long] = None): Long = {
    interleaveForTest()
    val f = fs(s, metaDir(table))
    f.mkdirs(metaDir(table))
    val snapId = meta.snapshots.map(_._1).foldLeft(0L)(math.max) + 1
    val listRel = s"metadata/snap-$snapId.json"
    val listRoot = Json.createObjectNode()
    val arr = listRoot.putArray("manifests")
    manifests.foreach(arr.add)
    // the snapshot id is max+1 over the Meta this commit was built
    // from, so two racing writers compute the SAME id — the claim on
    // the manifest-list name catches the conflict even before the
    // metadata-version claim does
    claimWrite(f, new Path(table, listRel),
      Json.writeValueAsString(listRoot), table)
    // Lineage: the new snapshot's parent is the state it was built
    // from — the current snapshot unless the caller (branch append)
    // says otherwise. 0 = root (first snapshot of the table).
    val par = parent.getOrElse(
      if (meta.snapshots.isEmpty) 0L else meta.currentSnapshot)
    writeMetadata(s, table, meta.copy(
      currentSnapshot = if (advance) snapId else meta.currentSnapshot,
      snapshots = meta.snapshots :+ (snapId, listRel),
      parents = meta.parents + (snapId -> par)))
    snapId
  }

  // ----------------------------------------------------------- surface

  /** Create the table: snapshot 1 with one manifest, identity-
    * partitioned on `partitionColumns` when given. Field ids 1..n are
    * assigned in schema order and never change afterwards.
    */
  def create(s: SparkSession, table: String, df: DataFrame,
      partitionColumns: Seq[String],
      properties: Map[String, String]): Long =
    createWithSpec(s, table, df, partitionColumns.map(identityField),
      properties)

  /** Create with an explicit partition spec — the entry point for
    * HIDDEN partitioning ([[dayField]]): e.g.
    * `createWithSpec(s, t, df, Seq(dayField("ts")))` lays data out by
    * the UTC day of `ts` while queries keep filtering on `ts` itself.
    */
  def createWithSpec(s: SparkSession, table: String, df: DataFrame,
      spec: Seq[PartitionField],
      properties: Map[String, String] = Map.empty): Long = {
    require(currentVersion(s, table) < 0, s"table already exists at $table")
    spec.foreach { pc =>
      require(df.schema.fieldNames.contains(pc.source),
        s"partition source column ${pc.source} not in data")
      if (pc.transform != "identity")
        require(!df.schema.fieldNames.contains(pc.name),
          s"derived partition name ${pc.name} collides with a column")
      val srcType = df.schema(pc.source).dataType
      if (pc.transform == "day")
        require(srcType == TimestampType,
          s"day() needs a TIMESTAMP source, got ${srcType.simpleString}")
      if (pc.transform.startsWith("bucket[") ||
          pc.transform.startsWith("truncate["))
        require(Seq[DataType](IntegerType, LongType, StringType)
            .contains(srcType),
          s"${pc.transform} needs an INT/BIGINT/STRING source, got " +
            srcType.simpleString)
    }
    fs(s, metaDir(table)).mkdirs(metaDir(table))
    val schema = schemaFromStruct(1, df.schema)
    val m = writeManifest(s, table, df, schema, 0, spec, seq = 1L)
    commitSnapshot(s, table,
      Meta(Seq(schema), 1, Seq(0 -> spec), 0, 0L, Nil,
        properties = properties), Seq(m))
  }

  /** The table's properties map (spec top-level `properties`). */
  def tableProperties(s: SparkSession, table: String): Map[String, String] =
    readMeta(s, table).properties

  /** Streaming-source contract: current schema struct, partition
    * columns, current snapshot id. Restricted to un-evolved schemas —
    * the stream reader matches parquet columns by NAME; rename/add
    * histories need the batch path's field-id resolution (stated
    * restriction, enforced loudly).
    */
  def streamInfo(s: SparkSession, table: String,
      ref: Option[String] = None): (StructType, Seq[String], Long) = {
    val meta = readMeta(s, table)
    require(meta.schemas.size == 1,
      "streaming source requires an un-evolved schema (field-id " +
        "resolution is the batch read path)")
    require(meta.partSpecs.size == 1,
      "streaming source requires an un-evolved partition spec (the " +
        "stream projects one fixed partition-column set)")
    require(meta.partCols.forall(_.transform == "identity"),
      "streaming source requires identity partitioning (transform " +
        "values live only in the directory layout)")
    val end = ref match {
      case None | Some("main") => meta.currentSnapshot
      case Some(r) =>
        val (head, tpe) = meta.refs.find(_._1 == r)
          .getOrElse(sys.error(s"no ref $r at $table"))._2
        require(tpe == "branch",
          s"cannot stream from tag $r (tags never advance)")
        head
    }
    (meta.currentSchema.struct, meta.partColNames, end)
  }

  /** Data files ADDED by snapshots (fromSnap, toSnap] — the Iceberg
    * incremental read behind the DSv2 streaming source. Appends-only:
    * a snapshot that drops or rewrites a prior manifest (DELETE/
    * UPDATE/MERGE/compaction) fails loudly; fresh manifests must be
    * data manifests. Cost is O(new manifests) metadata reads plus one
    * file-status call per new file. Returns (snapshot id, absolute
    * path, size, partition values).
    */
  def addedFilesBetween(s: SparkSession, table: String, fromSnap: Long,
      toSnap: Long): Seq[(Long, String, Long, Seq[(String, Option[String])])] =
    addedFilesForRef(s, table, fromSnap, toSnap, None)

  /** Like [[addedFilesBetween]], but confined to the LINEAGE of `ref`
    * (branch head; None = the lineage of `toSnap` itself). Snapshots
    * walk the spec's `parent-snapshot-id` chain — never raw id order,
    * which interleaves other branches' and staged-WAP snapshots — and
    * the (fromSnap, toSnap] window intersects that ancestry, so a
    * stream stepping numeric offsets through a branchy id space still
    * partitions the branch's history exactly.
    */
  def addedFilesForRef(s: SparkSession, table: String, fromSnap: Long,
      toSnap: Long, ref: Option[String])
      : Seq[(Long, String, Long, Seq[(String, Option[String])])] = {
    val meta = readMeta(s, table)
    val byId = meta.snapshots.toMap
    val f = fs(s, new Path(table))
    val tip = ref match {
      case None => toSnap
      case Some("main") => meta.currentSnapshot
      case Some(r) => meta.refs.find(_._1 == r)
        .getOrElse(sys.error(s"no ref $r at $table"))._2._1
    }
    // Offsets are NUMERIC WATERMARKS over the ancestry, not ancestry
    // members: the batch is ancestry ∩ (fromSnap, toSnap], which
    // partitions the branch history exactly under monotone offsets
    // even when an endpoint id belongs to another branch (a main
    // commit interleaved into the branch's id range yields an empty
    // intersection for its window — correct: it is invisible here).
    val (ancestry, expiredAt) = { // tip inclusive, root→tip order
      val buf = scala.collection.mutable.Buffer[Long]()
      var id = tip
      while (id > 0L && byId.contains(id)) {
        buf += id
        id = meta.parents.getOrElse(id, 0L)
      }
      (buf.reverse.toSeq, id) // > 0 = stopped at an EXPIRED ancestor
    }
    require(expiredAt <= 0L || fromSnap >= expiredAt,
      s"lineage before snapshot $expiredAt of $table is expired; a " +
        s"stream cannot (re)start from offset $fromSnap")
    ancestry.filter(id => id > fromSnap && id <= toSnap).flatMap { id =>
      val cur = readManifests(s, table, byId(id), meta)
      val parent = meta.parents.getOrElse(id, 0L)
      val prevPaths: Set[String] =
        if (parent <= 0L) Set.empty
        else readManifests(s, table, byId(parent), meta).map(_.path).toSet
      val curPaths = cur.map(_.path).toSet
      val lost = prevPaths -- curPaths
      if (lost.nonEmpty)
        throw new UnsupportedOperationException(
          s"snapshot $id of $table rewrites or drops manifests; the " +
            "streaming source reads appends only")
      val fresh = cur.filterNot(m => prevPaths.contains(m.path))
      if (fresh.exists(_.content == "deletes"))
        throw new UnsupportedOperationException(
          s"snapshot $id of $table adds delete files; the " +
            "streaming source reads appends only")
      fresh.flatMap(_.entries).map { e =>
        val p = new Path(table, e.path)
        (id, f.makeQualified(p).toString, f.getFileStatus(p).getLen,
          e.partValues)
      }
    }
  }

  /** Write-audit-publish, stage half: append `df` as a NEW snapshot
    * WITHOUT advancing the current pointer — readers keep seeing the
    * old state while the staged snapshot is audited by id
    * ([[snapshot]](table, stagedId)). Returns the staged snapshot id
    * for [[publish]]. Single-writer WAP (a staged snapshot bases on
    * the current state at stage time).
    */
  def stageAppend(s: SparkSession, table: String, df: DataFrame): Long = {
    val meta = readMeta(s, table)
    val current = meta.snapshots.toMap.apply(meta.currentSnapshot)
    val prevManifests = readManifests(s, table, current, meta).map(_.path)
    val m = writeManifest(s, table, df, meta.currentSchema,
      meta.defaultSpecId, meta.partCols, meta.sortCols, nextSeq(meta))
    commitSnapshot(s, table, meta, prevManifests :+ m, advance = false)
  }

  /** Write-audit-publish, publish half: a metadata-only pointer flip to
    * an already-staged (audited) snapshot — zero data IO, the atomic
    * go-live step.
    */
  def publish(s: SparkSession, table: String, snapshotId: Long): Unit = {
    val meta = readMeta(s, table)
    require(meta.snapshots.exists(_._1 == snapshotId),
      s"no snapshot $snapshotId at $table")
    writeMetadata(s, table, meta.copy(currentSnapshot = snapshotId))
  }

  // ----------------------------------------------------------- refs
  // Branches and tags (the Iceberg-spec `refs` map in table metadata):
  // a TAG pins a snapshot immutably (audit/release pointers); a BRANCH
  // is an independently-advancing head sharing the table's file store
  // — the engineering branch / WAP-at-scale primitive. Every ref
  // operation is metadata-only (one new metadata JSON, zero data IO)
  // at any table size.

  /** Create a tag (immutable) or branch (advanceable) at `snapshotId`
    * (< 0 = the current snapshot). Refuses to move an existing tag —
    * tags are immutable by spec; drop + recreate to force.
    */
  def createRef(s: SparkSession, table: String, name: String,
      refType: String, snapshotId: Long = -1L): Unit = {
    require(refType == "branch" || refType == "tag",
      s"ref type must be branch|tag, got $refType")
    require(name != "main", "main is managed by the table itself")
    val meta = readMeta(s, table)
    val target =
      if (snapshotId < 0) meta.currentSnapshot else snapshotId
    require(meta.snapshots.exists(_._1 == target),
      s"no snapshot $target at $table")
    require(!meta.refs.exists(r => r._1 == name && r._2._2 == "tag"),
      s"tag $name already exists at $table (tags are immutable)")
    writeMetadata(s, table, meta.copy(
      refs = meta.refs.filterNot(_._1 == name) :+
        (name -> (target, refType))))
  }

  def createTag(s: SparkSession, table: String, name: String,
      snapshotId: Long = -1L): Unit =
    createRef(s, table, name, "tag", snapshotId)

  def createBranch(s: SparkSession, table: String, name: String,
      snapshotId: Long = -1L): Unit =
    createRef(s, table, name, "branch", snapshotId)

  /** All refs: (name, snapshot-id, type), `main` first. */
  def listRefs(s: SparkSession, table: String): Seq[(String, Long, String)] = {
    val meta = readMeta(s, table)
    ("main", meta.currentSnapshot, "branch") +:
      meta.refs.filterNot(_._1 == "main")
        .map { case (n, (id, t)) => (n, id, t) }.sortBy(_._1)
  }

  /** Read the table as of a ref — tag or branch head. */
  def snapshotByRef(s: SparkSession, table: String, name: String): DataFrame = {
    val meta = readMeta(s, table)
    val id =
      if (name == "main") meta.currentSnapshot
      else meta.refs.find(_._1 == name)
        .getOrElse(sys.error(s"no ref $name at $table"))._2._1
    snapshot(s, table, id)
  }

  /** Append to a BRANCH: a new snapshot whose base is the branch head
    * (not main), then the branch ref advances — main and every other
    * ref are untouched. Tags refuse (immutable).
    */
  def appendToBranch(s: SparkSession, table: String, branch: String,
      df: DataFrame): Long = {
    val meta = readMeta(s, table)
    val (head, tpe) = meta.refs.find(_._1 == branch)
      .getOrElse(sys.error(s"no ref $branch at $table"))._2
    require(tpe == "branch", s"$branch is a tag — tags are immutable")
    val base = meta.snapshots.toMap.apply(head)
    val prevManifests = readManifests(s, table, base, meta).map(_.path)
    val m = writeManifest(s, table, df, meta.currentSchema,
      meta.defaultSpecId, meta.partCols, meta.sortCols, nextSeq(meta))
    val snapId = commitSnapshot(s, table, meta, prevManifests :+ m,
      advance = false, parent = Some(head))
    val after = readMeta(s, table)
    writeMetadata(s, table, after.copy(
      refs = after.refs.filterNot(_._1 == branch) :+
        (branch -> (snapId, "branch"))))
    snapId
  }

  /** Fast-forward main to a branch's head — the branch-merge publish
    * step (metadata-only pointer flip, like [[publish]] but resolved
    * through the ref).
    */
  def fastForward(s: SparkSession, table: String, branch: String): Unit = {
    val meta = readMeta(s, table)
    val (head, tpe) = meta.refs.find(_._1 == branch)
      .getOrElse(sys.error(s"no ref $branch at $table"))._2
    require(tpe == "branch", s"cannot fast-forward to tag $branch")
    writeMetadata(s, table, meta.copy(currentSnapshot = head))
  }

  /** Drop a ref. `main` cannot be dropped. */
  def dropRef(s: SparkSession, table: String, name: String): Unit = {
    require(name != "main", "cannot drop main")
    val meta = readMeta(s, table)
    require(meta.refs.exists(_._1 == name), s"no ref $name at $table")
    writeMetadata(s, table, meta.copy(
      refs = meta.refs.filterNot(_._1 == name)))
  }

  /** RENAME a column: a metadata-only commit — the field keeps its id,
    * so every existing data file (written under the old name, carrying
    * the id in its parquet schema) keeps resolving. Zero data IO at any
    * table size; this is what field ids BUY. Partition columns cannot
    * be renamed (their name is baked into the `data/k=v/` layout —
    * stated simplification).
    */
  def renameColumn(s: SparkSession, table: String, from: String,
      to: String): Unit = {
    val meta = readMeta(s, table)
    val cur = meta.currentSchema
    require(cur.fields.exists(_.name == from), s"no column $from")
    require(!cur.fields.exists(_.name == to), s"column $to already exists")
    require(!meta.partSpecs.exists(_._2.exists(pc =>
      pc.name == from || pc.source == from)),
      s"cannot rename partition column $from (its name is baked into " +
        "some spec's data/k=v/ layout)")
    val next = IceSchema(meta.schemas.map(_.schemaId).max + 1,
      cur.fields.map(fd => if (fd.name == from) fd.copy(name = to) else fd))
    writeMetadata(s, table, meta.copy(schemas = meta.schemas :+ next,
      currentSchemaId = next.schemaId))
  }

  /** DROP a column: metadata-only — a new schema WITHOUT the field
    * becomes current. Existing files keep the column as dead weight
    * (readers project by field id, so they never see it); field ids
    * are never reused, so a later ADD COLUMN of the same name is a
    * NEW all-null column, never the old data resurrecting. Partition
    * source columns refuse (their name is baked into some spec's
    * layout); the last column refuses.
    */
  def dropColumn(s: SparkSession, table: String, name: String): Unit = {
    val meta = readMeta(s, table)
    val cur = meta.currentSchema
    require(cur.fields.exists(_.name == name), s"no column $name")
    require(cur.fields.length > 1,
      s"cannot drop $name: it is the table's only column")
    require(!meta.partSpecs.exists(_._2.exists(pc =>
      pc.name == name || pc.source == name)),
      s"cannot drop partition column $name (its name is baked into " +
        "some spec's data/k=v/ layout)")
    // mirror DeltaLite.dropColumn: a declared conflict-key column
    // (graft.keys) drives keyed DML — dropping it would strand the
    // property on a dead column
    require(!meta.properties.get("graft.keys").exists(_.split(",")
        .map(_.trim).exists(_.equalsIgnoreCase(name))),
      s"cannot drop $name: it is a declared conflict-key column " +
        "(graft.keys) — redeclare the keys first")
    val next = IceSchema(meta.schemas.map(_.schemaId).max + 1,
      cur.fields.filterNot(_.name == name))
    writeMetadata(s, table, meta.copy(schemas = meta.schemas :+ next,
      currentSchemaId = next.schemaId))
  }

  /** ADD a nullable column: metadata-only; the new field takes a FRESH
    * id (ids are never reused — Iceberg's guard against a dropped
    * column's old data resurrecting under a new column of the same
    * name). Files written before the add read as null for it.
    */
  def addColumn(s: SparkSession, table: String, name: String,
      dataType: DataType): Unit = {
    val meta = readMeta(s, table)
    val cur = meta.currentSchema
    require(!cur.fields.exists(_.name == name), s"column $name already exists")
    val next = IceSchema(meta.schemas.map(_.schemaId).max + 1,
      cur.fields :+ IceField(meta.maxFieldId + 1, name, required = false,
        dataType))
    writeMetadata(s, table, meta.copy(schemas = meta.schemas :+ next,
      currentSchemaId = next.schemaId))
  }

  /** EVOLVE the partition spec (identity columns only): a metadata-only
    * commit registering a NEW spec id and making it the default for
    * future writes. Nothing is rewritten — existing manifests keep
    * their spec, their files stay in their old layout, and reads union
    * the layouts per spec group. This is Iceberg's headline answer to
    * "we partitioned a 100 TB table wrong": re-partitioning costs one
    * metadata file, not a table rewrite; [[compact]] migrates old
    * layouts to the new spec incrementally if wanted. Old-spec
    * manifests cannot prune on the new spec's columns (their summaries
    * never saw them) — they are scanned conservatively, which is
    * correct and exactly Iceberg's behavior. Returns the new spec id.
    */
  def evolvePartitionSpec(s: SparkSession, table: String,
      partitionColumns: Seq[String]): Int = {
    val meta = readMeta(s, table)
    val cur = meta.currentSchema
    partitionColumns.foreach(pc => require(
      cur.fields.exists(_.name == pc), s"no column $pc in schema"))
    require(partitionColumns.map(identityField) != meta.partCols,
      "partition spec unchanged")
    val id = meta.partSpecs.map(_._1).max + 1
    writeMetadata(s, table, meta.copy(
      partSpecs = meta.partSpecs :+
        (id -> partitionColumns.map(identityField)),
      defaultSpecId = id))
    id
  }

  /** SET the table's sort order (identity ascending columns): a
    * metadata-only commit registering a new order id and making it the
    * default for future writes. Data written afterwards (appends,
    * overwrites, COW rewrites, compaction) is range-partitioned on the
    * sort key and sorted within partitions, so each file covers a
    * DISJOINT key range and footer min/max stats prune like a coarse
    * index — Iceberg's sort-order answer to Delta's z-order, at zero
    * rewrite cost to existing data ([[compact]] migrates old files).
    * Returns the new order id.
    */
  def setSortOrder(s: SparkSession, table: String,
      sortColumns: Seq[String]): Int = {
    val meta = readMeta(s, table)
    val cur = meta.currentSchema
    sortColumns.foreach(c => require(
      cur.fields.exists(_.name == c), s"no column $c in schema"))
    require(sortColumns != meta.sortCols, "sort order unchanged")
    val id = meta.sortOrders.map(_._1).max + 1
    writeMetadata(s, table, meta.copy(
      sortOrders = meta.sortOrders :+ (id -> sortColumns),
      defaultSortOrderId = id))
    id
  }

  /** All snapshot ids, oldest first. */
  def snapshots(s: SparkSession, table: String): Seq[Long] =
    readMeta(s, table).snapshots.map(_._1).sorted

  private def manifestsOf(s: SparkSession, table: String,
      snapshotId: Long): (Meta, Seq[Manifest]) = {
    val meta = readMeta(s, table)
    val id = if (snapshotId < 0) meta.currentSnapshot else snapshotId
    val listRel = meta.snapshots.toMap.getOrElse(id,
      throw new IllegalArgumentException(s"no snapshot $id at $table"))
    (meta, readManifests(s, table, listRel, meta))
  }

  /** Every delete file (position AND equality) referenced by a
    * snapshot's deletes manifests — the guard/listing view.
    */
  private def deleteFilesOf(manifests: Seq[Manifest]): Seq[String] =
    manifests.filter(_.content == "deletes").flatMap(_.entries).map(_.path)

  private def dataManifests(manifests: Seq[Manifest]): Seq[Manifest] =
    manifests.filter(_.content == "data")

  /** One equality-delete manifest's application unit: delete files
    * holding key ROWS (columns = the schema's fields with ids `keyIds`,
    * written under schema `schemaId`'s names) that mask every data row
    * with an equal key in any data file of sequence number < `seq`.
    */
  private case class EqDel(schemaId: Int, keyIds: Seq[Int], seq: Long,
      paths: Seq[String])

  /** Everything a read needs to mask deleted rows: position-delete
    * file paths, equality-delete groups, and each live data file's
    * sequence number (name-keyed; metadata-sized — it mirrors what the
    * manifests already hold).
    */
  private case class DelCtx(pos: Seq[String], eq: Seq[EqDel],
      fileSeq: Seq[(String, Long)]) {
    def isEmpty: Boolean = pos.isEmpty && eq.isEmpty
  }

  /** The position-delete file schema ([[deleteWhere]] writes it):
    * read under it, delete files cost no schema-inference job. */
  private val PosDeleteSchema = StructType(Seq(
    StructField("file_path", StringType), StructField("pos", LongType)))

  private def delCtxOf(manifests: Seq[Manifest]): DelCtx = {
    val dels = manifests.filter(_.content == "deletes")
    val (eqMs, posMs) = dels.partition(_.equalityIds.nonEmpty)
    DelCtx(
      posMs.flatMap(_.entries).map(_.path),
      eqMs.map(m => EqDel(m.schemaId, m.equalityIds, m.seq,
        m.entries.map(_.path))),
      if (eqMs.isEmpty) Nil
      else dataManifests(manifests).flatMap(m =>
        m.entries.map(e => fileName(e.path) -> m.seq)))
  }

  /** Read ((schemaId, specId), entries) groups under the CURRENT schema
    * with ID-BASED column resolution: each group reads under the struct
    * its files were WRITTEN with (so names match the parquet), then maps
    * to the current schema by field id — renamed columns re-label, added
    * columns materialize as null. Partitioned tables read with basePath
    * so partition columns are injected from the `data/k=v/` layout with
    * the declared types; grouping by spec id keeps each reader call on
    * ONE layout, which is what lets specs evolve without rewrites. When the snapshot carries position-delete
    * files, each data row's (file name, row position) is anti-joined
    * against the merged delete set — the Iceberg v2 merge-on-read
    * contract. The delete side is a normal parquet scan, so a huge
    * delete set streams through the join (AQE broadcasts it when it is
    * small) — nothing passes through the driver.
    */
  private def readEntries(s: SparkSession, table: String, meta: Meta,
      groups: Seq[((Int, Int), Seq[ManifestEntry])],
      dels: DelCtx = DelCtx(Nil, Nil, Nil),
      fileCol: Option[String] = None,
      posCol: Option[String] = None): DataFrame = {
    val cur = meta.currentSchema
    val curStruct = cur.struct
    val outCols = curStruct.fieldNames.toSeq ++ fileCol.toSeq ++ posCol.toSeq
    val nonEmpty = groups.filter(_._2.nonEmpty)
    if (nonEmpty.isEmpty) {
      val st = (fileCol.map(fc => StructField(fc, StringType)) ++
        posCol.map(pc => StructField(pc, LongType)))
        .foldLeft(curStruct)((acc, fd) => StructType(acc.fields :+ fd))
      return s.createDataFrame(s.sparkContext.emptyRDD[Row], st)
    }
    val deleteFiles = dels.pos
    val needPos = posCol.isDefined || deleteFiles.nonEmpty
    // File-name → data sequence number, for scoping equality deletes.
    // Driver-built from manifest metadata (never row data) and
    // broadcast: at 800k files this is megabytes, same order as the
    // manifests a reader already holds.
    lazy val seqDf = {
      import s.implicits._
      dels.fileSeq.toDF("_ice_fname", "_ice_seq")
    }
    val parts = nonEmpty.map { case ((schemaId, _), entries) =>
      val writeSchema = meta.schemaById(schemaId)
      // Converted tables (LakeConvert) reference foreign files by
      // absolute path; those live outside data/ (so the partition-
      // discovery basePath must be omitted — convert is unpartitioned
      // by contract) and were not written by this table's writer (so
      // they carry no Iceberg field ids: resolve their columns by
      // NAME, i.e. read under the schema stripped of its field-id
      // annotations, which otherwise make Spark demand ids).
      val foreign = entries.exists(e => DeltaLite.isAbsPath(e.path))
      val readStruct =
        if (foreign) StructType(writeSchema.struct.fields.map(
          _.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))
        else writeSchema.struct
      val reader0 = s.read.schema(readStruct)
      val reader =
        if (foreign) reader0
        else reader0.option("basePath", s"$table/data")
      val base0 = reader
        .parquet(entries.map(e => new Path(table, e.path).toString): _*)
        .withColumn("_ice_fname", col("_metadata.file_name"))
      // _metadata is only reachable on the scan relation itself —
      // capture the file name and row position here, before any
      // join/projection.
      val base = if (needPos)
        base0.withColumn("_ice_pos", col("_metadata.row_index"))
      else base0
      val live =
        if (deleteFiles.isEmpty) base
        else {
          val posDels = s.read.schema(PosDeleteSchema)
            .parquet(deleteFiles.map(p => new Path(table, p).toString): _*)
            .select(col("file_path").as("_ice_fname"),
              col("pos").as("_ice_pos"))
          base.join(posDels, Seq("_ice_fname", "_ice_pos"), "left_anti")
        }
      // Equality deletes (Iceberg v2 merge-on-read): anti-join the key
      // columns against each delete group's key rows, scoped by
      // sequence number — a delete masks only rows of data files with
      // seq < the delete's seq, so keys re-inserted later survive.
      // Null keys match null delete keys (<=>), the spec's equality.
      // The delete side is a plain parquet scan (AQE broadcasts small
      // sets); key resolution is BY FIELD ID on both sides, so renames
      // never detach a delete from its column.
      val masked =
        if (dels.eq.isEmpty) live
        else {
          val withSeq =
            live.join(broadcast(seqDf), Seq("_ice_fname"), "left")
          dels.eq.groupBy(_.keyIds).foldLeft(withSeq) {
            case (acc, (keyIds, gs)) =>
              val delDf = gs.map { g =>
                val w = meta.schemaById(g.schemaId)
                val keyFields = g.keyIds.map(id => w.fieldById(id)
                  .getOrElse(sys.error(
                    s"equality-delete field id $id not in schema " +
                      s"${g.schemaId}")))
                s.read
                  .schema(StructType(keyFields.map(kf =>
                    StructField(kf.name, kf.dataType))))
                  .parquet(g.paths.map(p =>
                    new Path(table, p).toString): _*)
                  .select(g.keyIds.map { id =>
                    val wn = w.fieldById(id).get.name
                    val cn = cur.fieldById(id).getOrElse(sys.error(
                      s"equality-delete key field $id was dropped")).name
                    col(wn).as(s"_eqk_$cn")
                  }.toSeq: _*)
                  .withColumn("_eq_seq", lit(g.seq))
              }.reduceLeft(_.unionByName(_))
              val cond = keyIds.map { id =>
                val cn = cur.fieldById(id).get.name
                // A file written before the key column existed reads
                // the key as null (and null <=> null deletes it —
                // matching the projection such files expose).
                val dataKey = writeSchema.fieldById(id) match {
                  case Some(wf) => col(wf.name)
                  case None =>
                    lit(null).cast(cur.fieldById(id).get.dataType)
                }
                dataKey <=> col(s"_eqk_$cn")
              }.reduce(_ && _) && col("_ice_seq") < col("_eq_seq")
              acc.join(delDf, cond, "left_anti")
          }
        }
      // Id-based projection onto the current schema.
      val projected = cur.fields.map { fd =>
        writeSchema.fieldById(fd.id) match {
          case Some(w) => col(w.name).as(fd.name)
          case None => lit(null).cast(fd.dataType).as(fd.name)
        }
      } ++ fileCol.map(fc => col("_ice_fname").as(fc)).toSeq ++
        posCol.map(pc => col("_ice_pos").as(pc)).toSeq
      masked.select(projected.toSeq: _*)
    }
    parts.reduceLeft(_.unionByName(_)).select(outCols.map(col): _*)
  }

  /** Group data entries by (schema id, spec id): one reader call per
    * group — mixing files laid out under DIFFERENT partition specs in
    * one parquet read would trip Spark's partition discovery
    * ("conflicting directory structures"), and mixing write schemas
    * would break id-based projection.
    */
  private def entryGroups(
      manifests: Seq[Manifest]): Seq[((Int, Int), Seq[ManifestEntry])] =
    dataManifests(manifests).groupBy(m => (m.schemaId, m.specId)).view
      .mapValues(_.flatMap(_.entries)).toSeq

  /** Snapshot read; `snapshotId < 0` means current. Every data file
    * comes from the manifest tree — no directory listing — and
    * position-delete files recorded by [[deleteWhere]] mask their rows.
    */
  def snapshot(s: SparkSession, table: String,
      version: Long): DataFrame = {
    val (meta, manifests) = manifestsOf(s, table, version)
    readEntries(s, table, meta, entryGroups(manifests),
      delCtxOf(manifests))
  }

  /** Pseudo-stats node for a value set / partition values: each present
    * value contributes to min/max bounds under the column's declared
    * type, so DeltaLite's conservative evaluator prunes on it directly.
    * A null value (null partition) removes the column's bounds — such a
    * manifest/file is never pruned on that column.
    */
  private def boundsNode(schema: StructType,
      vals: Map[String, Seq[Option[String]]],
      stats: Option[JsonNode],
      spec: Seq[PartitionField] = Nil): JsonNode = {
    val root = Json.createObjectNode()
    val mins = root.putObject("minValues")
    val maxs = root.putObject("maxValues")
    stats.foreach { st =>
      Option(st.get("minValues")).foreach {
        case o: ObjectNode => mins.setAll[JsonNode](o)
        case _ => ()
      }
      Option(st.get("maxValues")).foreach {
        case o: ObjectNode => maxs.setAll[JsonNode](o)
        case _ => ()
      }
    }
    val byName = spec.map(pc => pc.name -> pc).toMap
    vals.foreach { case (k, vs) =>
      if (!vs.contains(None) && vs.nonEmpty) byName.get(k) match {
        // HIDDEN partitioning: a day value "yyyy-MM-dd" bounds the
        // SOURCE timestamp column over [day 00:00, next-day 00:00]
        // UTC, in MICROSECONDS — the domain Catalyst timestamp
        // literals compare in — so a predicate on the source column
        // prunes without the query ever naming the partition field.
        // (The closed upper bound is conservative by one instant.)
        case Some(pc) if pc.transform == "day" =>
          val days = vs.flatten.flatMap(v =>
            scala.util.Try(java.time.LocalDate.parse(v)).toOption)
          if (days.size == vs.size) {
            val micros = days.map(_.toEpochDay * 86400000000L)
            DeltaLite.putVal(mins, pc.source,
              java.lang.Long.valueOf(micros.min))
            // Last instant INSIDE the newest day: timestamps of a day
            // partition are strictly below the next midnight.
            DeltaLite.putVal(maxs, pc.source,
              java.lang.Long.valueOf(micros.max + 86400000000L - 1L))
          }
        // truncate[W]: each partition value is the low edge of a
        // W-wide source range — strings with this prefix sort in
        // [prefix, prefix + U+FFFF); integers in [v, v + W - 1]. So
        // range predicates on the SOURCE column prune, same shape as
        // day's timestamp bounds.
        case Some(pc) if pc.transform.startsWith("truncate[") =>
          val w = transformParam(pc.transform)
          schema.fields.find(_.name == pc.source).foreach { fd =>
            val pv = vs.flatten
            if (pv.size == vs.size && pv.nonEmpty) fd.dataType match {
              case StringType =>
                DeltaLite.putVal(mins, pc.source, pv.min)
                DeltaLite.putVal(maxs, pc.source, pv.max + "￿")
              case ByteType | ShortType | IntegerType | LongType =>
                val nums = pv.flatMap(v =>
                  scala.util.Try(v.toLong).toOption)
                if (nums.size == pv.size) {
                  DeltaLite.putVal(mins, pc.source,
                    java.lang.Long.valueOf(nums.min))
                  DeltaLite.putVal(maxs, pc.source,
                    java.lang.Long.valueOf(nums.max + w - 1L))
                }
              case _ => ()
            }
          }
        // bucket[N] carries no source-order information — equality
        // pruning happens in [[bucketMayMatch]], not via bounds.
        case Some(pc) if pc.transform.startsWith("bucket[") => ()
        case _ =>
          schema.fields.find(_.name == k).foreach { fd =>
            val typed =
              vs.flatten.flatMap(DeltaLite.typedPartVal(_, fd.dataType))
            if (typed.size == vs.size) {
              DeltaLite.putVal(mins, k,
                typed.reduceLeft((a, b) =>
                  if (DeltaLite.cmpVals(a, b) <= 0) a else b))
              DeltaLite.putVal(maxs, k,
                typed.reduceLeft((a, b) =>
                  if (DeltaLite.cmpVals(a, b) >= 0) a else b))
            }
          }
      }
    }
    root
  }

  /** Stats/partition pruning works on WRITE-TIME names: the predicate
    * resolves ONCE against the current schema, then its attribute
    * references re-label per manifest through the field id before
    * consulting that manifest's stats (old manifests' stats are keyed
    * by old names). The id is what makes pruning survive renames.
    */
  private def condForSchema(meta: Meta, schemaId: Int,
      resolved: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    val cur = meta.currentSchema
    val w = meta.schemaById(schemaId)
    val renames = cur.fields.flatMap(fd =>
      w.fieldById(fd.id).collect {
        case wf if wf.name != fd.name => fd.name -> wf.name
      }).toMap
    if (renames.isEmpty) resolved
    else resolved.transformUp {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          if renames.contains(a.name) =>
        a.withName(renames(a.name))
    }
  }

  /** Bucket-transform pruning: each top-level equality (or all-literal
    * IN) conjunct on a bucketed SOURCE column maps its literal(s)
    * through the same murmur3-mod-N as the write side; a manifest or
    * file whose recorded bucket values contain none of them cannot
    * match. Disjunctions and non-equality shapes stay conservative
    * (true). This is the pruning bucket exists for: point lookups on
    * a high-cardinality key touch 1 of N buckets.
    */
  private def bucketMayMatch(
      cond: org.apache.spark.sql.catalyst.expressions.Expression,
      spec: Seq[PartitionField],
      vals: Map[String, Seq[Option[String]]]): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    val bucketed = spec.filter(_.transform.startsWith("bucket["))
    if (bucketed.isEmpty) return true
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    def bucketOf(l: Literal, n: Int): String = {
      val h = new Murmur3Hash(Seq(l)).eval(null).asInstanceOf[Int]
      (((h % n) + n) % n).toString
    }
    bucketed.forall { pc =>
      val n = transformParam(pc.transform)
      vals.get(pc.name) match {
        case Some(vs) if vs.nonEmpty && !vs.contains(None) =>
          val present = vs.flatten.toSet
          conjuncts(cond).forall {
            case EqualTo(a: AttributeReference, l: Literal)
                if a.name == pc.source && l.value != null =>
              present.contains(bucketOf(l, n))
            case EqualTo(l: Literal, a: AttributeReference)
                if a.name == pc.source && l.value != null =>
              present.contains(bucketOf(l, n))
            case In(a: AttributeReference, list)
                if a.name == pc.source &&
                  list.forall(_.isInstanceOf[Literal]) =>
              list.exists(l =>
                present.contains(bucketOf(l.asInstanceOf[Literal], n)))
            case _ => true
          }
        case _ => true
      }
    }
  }

  private def prunedEntries(s: SparkSession, meta: Meta,
      manifests: Seq[Manifest], pred: Column)
      : (Seq[Manifest], Seq[((Int, Int), Seq[ManifestEntry])]) = {
    val resolved = DeltaLite.resolvedPred(s, meta.schema, pred)
    val keptManifests = manifests.flatMap { m =>
      val schema = meta.schemaById(m.schemaId).struct
      val cond = condForSchema(meta, m.schemaId, resolved)
      val spec = meta.colsOfSpec(m.specId)
      // Level 1: the whole manifest, from its partition summary.
      if (!DeltaLite.mayMatch(cond,
            boundsNode(schema, m.partSummary, None, spec)) ||
          !bucketMayMatch(cond, spec, m.partSummary))
        None
      else {
        // Level 2: entries, from partition values + column stats.
        val kept = m.entries.filter { e =>
          val ev = e.partValues.map { case (k, v) => k -> Seq(v) }.toMap
          DeltaLite.mayMatch(cond,
            boundsNode(schema, ev, e.stats, spec)) &&
            bucketMayMatch(cond, spec, ev)
        }
        Some((m, kept))
      }
    }
    (keptManifests.map(_._1),
      keptManifests.groupBy(t => (t._1.schemaId, t._1.specId)).view
        .mapValues(_.flatMap(_._2)).toSeq)
  }

  /** Hierarchically pruned scan over the current snapshot: manifests
    * whose partition summary cannot satisfy `pred` are skipped without
    * reading their entries' files, then entries prune on partition
    * values + min/max stats, and the survivors read + filter exactly.
    */
  def scan(s: SparkSession, table: String, pred: Column): DataFrame = {
    val (meta, manifests) = manifestsOf(s, table, -1L)
    readEntries(s, table, meta,
      prunedEntries(s, meta, dataManifests(manifests), pred)._2,
      delCtxOf(manifests))
      .filter(pred)
  }

  /** (kept, total) data-file counts for `pred` (spec assertion hook). */
  def pruneInfo(s: SparkSession, table: String, pred: Column): (Int, Int) = {
    val (meta, manifests) = manifestsOf(s, table, -1L)
    val dms = dataManifests(manifests)
    (prunedEntries(s, meta, dms, pred)._2.map(_._2.size).sum,
      dms.flatMap(_.entries).size)
  }

  /** (kept, total) data-MANIFEST counts for `pred` — proves a selective
    * scan skips whole manifests from their partition summaries alone.
    */
  def manifestPruneInfo(s: SparkSession, table: String,
      pred: Column): (Int, Int) = {
    val (meta, manifests) = manifestsOf(s, table, -1L)
    val dms = dataManifests(manifests)
    (prunedEntries(s, meta, dms, pred)._1.size, dms.size)
  }

  /** Data-file paths of the current snapshot (spec assertion hook: a
    * merge-on-read delete must leave this set untouched).
    */
  def dataFiles(s: SparkSession, table: String): Seq[String] = {
    val (_, manifests) = manifestsOf(s, table, -1L)
    dataManifests(manifests).flatMap(_.entries).map(_.path).sorted
  }

  /** Iceberg `files` metadata table: one row per data file of the
    * current snapshot — path, data sequence number, partition values,
    * record count and byte size from MANIFEST stats. Metadata-only:
    * built from the manifest tree a reader already holds, so
    * per-partition row counts (the classic `SELECT count(*)` shortcut)
    * cost zero data IO at any table size. Record counts are file-level
    * (unmasked by outstanding delete files, as in Iceberg's own
    * metadata table).
    */
  def filesMeta(s: SparkSession, table: String): DataFrame = {
    val (_, manifests) = manifestsOf(s, table, -1L)
    val rows = dataManifests(manifests).flatMap { m =>
      m.entries.map { e =>
        val rc = e.stats.flatMap(st =>
          Option(st.get("numRecords")).map(_.asLong())).getOrElse(-1L)
        val size = Option(e.raw.get("size")).map(_.asLong()).getOrElse(-1L)
        (e.path, m.seq,
          e.partValues.map { case (k, v) => k -> v.orNull }.toMap,
          rc, size)
      }
    }
    import s.implicits._
    rows.toDF("file_path", "sequence_number", "partition",
      "record_count", "size_bytes")
  }

  /** Iceberg `partitions` metadata table: one row per live partition
    * of the current snapshot — partition values, file count, record
    * count and byte total, aggregated from MANIFEST stats only (zero
    * data IO at any table size). This is the maintenance planner's
    * first read: which partitions are hot, which are fragmented into
    * many small files (→ [[compact]]), which dominate bytes. Built on
    * [[filesMeta]], aggregated distributed (the file list may be
    * large at 100 TB; the per-partition result is small).
    */
  def partitionsMeta(s: SparkSession, table: String): DataFrame = {
    filesMeta(s, table)
      .select(map_entries(col("partition")).as("pe"),
        col("record_count"), col("size_bytes"))
      .withColumn("partition",
        concat_ws("/", transform(array_sort(col("pe")),
          e => concat(e.getField("key"), lit("="),
            coalesce(e.getField("value"), lit("null"))))))
      .groupBy(col("partition"))
      .agg(count(lit(1)).as("file_count"),
        sum(col("record_count")).as("record_count"),
        sum(col("size_bytes")).as("size_bytes"))
  }

  /** Iceberg `snapshots` metadata table: snapshot id, its manifest
    * count, and data/delete file counts — one metadata read per
    * snapshot, no data IO.
    */
  def snapshotsMeta(s: SparkSession, table: String): DataFrame = {
    val meta = readMeta(s, table)
    val rows = meta.snapshots.map { case (id, listRel) =>
      val ms = readManifests(s, table, listRel, meta)
      (id, ms.size.toLong,
        dataManifests(ms).map(_.entries.size).sum.toLong,
        ms.filter(_.content == "deletes").map(_.entries.size).sum.toLong)
    }
    import s.implicits._
    rows.toDF("snapshot_id", "manifest_count", "data_file_count",
      "delete_file_count")
  }

  /** The `refs` metadata table (name, snapshot_id, type, is_current,
    * lineage_depth) — the refs-map companion of [[filesMeta]]/
    * [[snapshotsMeta]]. `is_current` = the ref POINTS AT the current
    * snapshot (a tag pinning the live state reads true); lineage_depth
    * = ancestor count via parent-snapshot-id, so "how far ahead is
    * this branch" is one metadata read.
    */
  def refsMeta(s: SparkSession, table: String): DataFrame = {
    val meta = readMeta(s, table)
    def depth(tip: Long): Long = {
      var id = tip; var n = 0L
      while (id > 0L) { n += 1; id = meta.parents.getOrElse(id, 0L) }
      n
    }
    val rows = (("main", (meta.currentSnapshot, "branch")) +:
      meta.refs.filterNot(_._1 == "main"))
      .map { case (name, (id, tpe)) =>
        (name, id, tpe, id == meta.currentSnapshot, depth(id))
      }.sortBy(_._1)
    import s.implicits._
    rows.toDF("name", "snapshot_id", "type", "is_current", "lineage_depth")
  }

  /** Position-delete file paths of the current snapshot. */
  def deleteFiles(s: SparkSession, table: String): Seq[String] = {
    val (_, manifests) = manifestsOf(s, table, -1L)
    deleteFilesOf(manifests).sorted
  }

  /** Live data-file state for format conversion (LakeConvert): current
    * schema, partition columns, and one (absolute path, size, partition
    * values, stats JSON) tuple per live file. Rejects tables with
    * position-delete files (a row mask has no lossless bare-file
    * expression — [[compact]] folds deletes in first) and evolved
    * schemas (foreign readers match columns by name; [[compact]] also
    * rewrites everything under the current schema).
    */
  private[sources] def liveFileState(s: SparkSession, table: String)
      : (StructType, Seq[String],
         Seq[(String, Long, Seq[(String, Option[String])], Option[String])]) = {
    val (meta, manifests) = manifestsOf(s, table, -1L)
    require(deleteFilesOf(manifests).isEmpty,
      s"$table carries position deletes; compact before converting")
    val dms = dataManifests(manifests)
    require(dms.forall(_.schemaId == meta.currentSchemaId),
      s"$table has manifests under evolved schemas; compact before " +
        "converting (foreign readers resolve columns by name)")
    require(dms.forall(_.specId == meta.defaultSpecId),
      s"$table has manifests under evolved partition specs; compact " +
        "before converting")
    val f = fs(s, new Path(table))
    val entries = dms.flatMap(_.entries).map { e =>
      val abs =
        if (DeltaLite.isAbsPath(e.path)) e.path
        else f.makeQualified(new Path(table, e.path)).toUri.getPath
      val size = Option(e.raw.get("size")).map(_.asLong())
        .getOrElse(f.getFileStatus(new Path(table, e.path)).getLen)
      (abs, size, e.partValues, e.stats.map(_.toString))
    }
    require(meta.partCols.forall(_.transform == "identity"),
      s"$table uses transform partitioning; foreign readers resolve " +
        "identity layouts only — compact under an identity spec first")
    (meta.schema, meta.partColNames, entries)
  }

  /** Create a table whose first snapshot references EXISTING parquet
    * files by absolute path (stats carried verbatim, so manifest/stats
    * pruning works from day one) — the write half of a metadata-only
    * format conversion. Unpartitioned only; field ids are assigned
    * fresh 1..n in schema order, which is safe exactly because the
    * referenced files are resolved by name until the first native
    * rewrite re-stamps them.
    */
  private[sources] def createFromFiles(s: SparkSession, table: String,
      schema: StructType,
      files: Seq[(String, Long, Seq[(String, Option[String])], Option[String])])
      : Long = {
    require(currentVersion(s, table) < 0, s"table already exists at $table")
    val f = fs(s, metaDir(table))
    f.mkdirs(metaDir(table))
    val iceSchema = schemaFromStruct(1, schema)
    val entries = files.map { case (p, sz, _, stats) =>
      require(DeltaLite.isAbsPath(p),
        s"conversion references must be absolute: $p")
      val e = Json.createObjectNode()
      e.put("path", p)
      e.put("size", sz)
      e.putObject("partitionValues")
      stats.foreach(x => e.set[JsonNode]("stats", Json.readTree(x)))
      ManifestEntry(p, Nil, Option(e.get("stats")).filterNot(_.isNull), e)
    }
    val m = writeManifestFile(f, table, 1, 0, Nil, entries, seq = 1L)
    commitSnapshot(s, table,
      Meta(Seq(iceSchema), 1, Seq(0 -> Nil), 0, 0L, Nil), Seq(m))
  }

  /** Merge-on-read DELETE via Iceberg v2 position-delete files: the
    * matching rows' (file name, row position) pairs are computed with a
    * pruned distributed scan and written DIRECTLY as parquet delete
    * files — one per non-empty task, row positions never pass through
    * the driver (at 100 TB a delete matching billions of rows still
    * commits in one metadata write). The new snapshot reuses every
    * previous manifest and adds one deletes manifest; NO data file is
    * rewritten. Delete files use Iceberg's position-delete schema
    * (`file_path`, `pos`); `file_path` holds the data file's NAME (UUID
    * part names are globally unique here — stated simplification vs
    * full URIs). Returns the new snapshot id, or the current one when
    * nothing matched.
    */
  def deleteWhere(s: SparkSession, table: String, cond: Column): Long = {
    val (meta, manifests) = manifestsOf(s, table, -1L)
    val candidates =
      prunedEntries(s, meta, dataManifests(manifests), cond)._2
    if (candidates.forall(_._2.isEmpty)) return meta.currentSnapshot
    val priorDeletes = delCtxOf(manifests)
    // Live hits only: rows already masked by an earlier delete file
    // must not be re-recorded (idempotent position sets). The read is
    // id-resolved, so `pred` is over CURRENT names regardless of when
    // each candidate file was written.
    val hits = readEntries(s, table, meta, candidates, priorDeletes,
        fileCol = Some("file_path"), posCol = Some("pos"))
      .filter(cond)
      .select(col("file_path"), col("pos"))
    val rels = stageDeleteFiles(s, table, hits, "delete")
    if (rels.isEmpty) return meta.currentSnapshot
    // Deletes manifest: entries are delete files; no partition summary
    // (position deletes are pruned by their data files, not by value).
    val root = Json.createObjectNode()
    root.put("content", "deletes")
    root.put("sequence-number", nextSeq(meta))
    val entries = root.putArray("entries")
    rels.foreach(r => entries.addObject().put("path", r))
    val mRel = s"metadata/manifest-${UUID.randomUUID()}.json"
    writeFile(fs(s, new Path(table)), new Path(table, mRel),
      Json.writeValueAsString(root), overwrite = false)
    commitSnapshot(s, table, meta, manifests.map(_.path) :+ mRel)
  }

  /** Merge-on-read DELETE via Iceberg v2 EQUALITY-delete files — the
    * path CDC/streaming writers take: `keyRows`' distinct values of
    * `keys` are written AS THE DELETE (parquet files holding key rows,
    * one deletes manifest tagged with the keys' FIELD IDS and this
    * commit's data sequence number) and the commit NEVER READS A DATA
    * FILE — cost is O(delete keys) regardless of table size, where
    * [[deleteWhere]]'s position deletes must first scan candidates to
    * find row positions. The trade moves to readers: every scan
    * anti-joins key columns against the accumulated delete rows until
    * [[compact]] folds them in. Sequence-number semantics scope the
    * mask — only data files written BEFORE the delete (seq strictly
    * smaller) are affected, so re-inserting a deleted key works.
    * Equality keys resolve by field id, surviving renames on either
    * side. Null key values delete null-keyed rows (Iceberg's equality).
    * Returns the new snapshot id.
    */
  def equalityDelete(s: SparkSession, table: String, keys: Seq[String],
      keyRows: DataFrame): Long = {
    require(keys.nonEmpty, "equality delete needs at least one key")
    val (meta, manifests) = manifestsOf(s, table, -1L)
    val cur = meta.currentSchema
    val keyFields = keys.map(k => cur.fields.find(_.name == k).getOrElse(
      throw new IllegalArgumentException(s"no column $k in $table")))
    val rows = keyRows.select(keyFields.map(kf =>
      col(kf.name).cast(kf.dataType).as(kf.name)).toSeq: _*).distinct()
    stageEqDeleteManifest(s, table, meta, cur, keyFields, rows,
        nextSeq(meta)) match {
      case Nil => meta.currentSnapshot
      case m => commitSnapshot(s, table, meta, manifests.map(_.path) ++ m)
    }
  }

  /** Write `rows` as delete files `data/<prefix>-<uuid>.parquet`
    * through one staging directory, removed whether the write succeeds
    * or fails ([[LakeFormat.staged]]). Returns their table-relative
    * paths — none when `rows` is empty (Spark still writes a row-less
    * file for an empty result, and a delete that masks nothing must
    * commit nothing).
    */
  private def stageDeleteFiles(s: SparkSession, table: String,
      rows: DataFrame, prefix: String): Seq[String] = {
    val f = fs(s, new Path(table))
    val stageDir = new Path(table, s"_stage-$prefix-${UUID.randomUUID()}")
    LakeFormat.staged(s, stageDir) {
      if (Glue.save(rows, "parquet", stageDir.toString, Nil) == 0L) Nil
      else f.listStatus(stageDir).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet")
          && st.getLen > 0)
        .map { st =>
          val rel = s"data/$prefix-${UUID.randomUUID()}.parquet"
          require(f.rename(st.getPath, new Path(table, rel)),
            s"rename failed for ${st.getPath}")
          rel
        }
    }
  }

  /** New manifest list after removing `removedPaths` data entries:
    * untouched manifests survive BY REFERENCE (zero metadata rewritten
    * for them), affected ones are rewritten with their remaining
    * entries (Iceberg's manifest-rewrite shape), and data manifests
    * left with no entry drop out. Deletes manifests pass through while
    * any data manifest survives — their entries may reference old file
    * NAMES that no longer resolve, which is dead weight until the next
    * compaction but never wrong — and drop out with the last one: they
    * can mask no file a later commit writes (new names, a higher
    * sequence number), so an overwrite commits only its new manifest.
    */
  private def survivingManifests(s: SparkSession, table: String, meta: Meta,
      manifests: Seq[Manifest], removedPaths: Set[String]): Seq[String] = {
    val f = fs(s, new Path(table))
    val kept = manifests.flatMap { m =>
      if (m.content != "data") Some(m)
      else {
        val left = m.entries.filterNot(e => removedPaths(e.path))
        if (left.isEmpty) None
        else if (left.size == m.entries.size) Some(m)
        // A rewritten manifest keeps ITS OWN schema + spec: the
        // surviving entries' files and partition values are unchanged.
        // A rewritten manifest also keeps its SEQUENCE NUMBER: its
        // surviving files' write order is unchanged, so their equality-
        // delete scoping must not move.
        else Some(m.copy(path = writeManifestFile(f, table, m.schemaId,
          m.specId, meta.colsOfSpec(m.specId).map(_.name), left, m.seq)))
      }
    }
    if (kept.exists(_.content == "data")) kept.map(_.path) else Nil
  }

  /** Resolve a wall-clock instant to the snapshot current AT that
    * instant on the MAIN lineage: the ancestor of the current snapshot
    * with the largest `timestamp-ms` <= the target (ties break to the
    * larger id — the later commit within the same millisecond). The
    * Iceberg `TIMESTAMP AS OF` rule. Pre-stamping snapshots read as 0
    * and so match any modern instant. Throws if the instant predates
    * the table. Metadata read only.
    */
  def versionAt(s: SparkSession, table: String, tsMillis: Long): Long = {
    val meta = readMeta(s, table)
    val lineage: Set[Long] =
      if (meta.parents.contains(meta.currentSnapshot))
        Iterator.iterate(meta.currentSnapshot)(meta.parents.getOrElse(_, 0L))
          .takeWhile(_ != 0L).toSet
      else meta.snapshots.map(_._1).toSet
    val at = meta.snapshots.map(_._1)
      .filter(id => lineage.contains(id) &&
        meta.snapshotTs.getOrElse(id, 0L) <= tsMillis)
    require(at.nonEmpty,
      s"no snapshot at or before timestamp $tsMillis in $table")
    at.maxBy(id => (meta.snapshotTs.getOrElse(id, 0L), id))
  }

  /** Roll the table back to `snapshotId` — an ANCESTOR of the current
    * snapshot (walked via parent-snapshot-id lineage) — as one
    * metadata-only commit: the current pointer moves, NOTHING is
    * deleted, and the abandoned snapshots stay reachable (time
    * travel, refs) until [[expireSnapshots]]. The 100 TB "bad
    * backfill" undo: cost is one metadata write regardless of table
    * size. Pre-lineage metadata (no parents map) falls back to
    * id-order ancestry.
    */
  def rollbackTo(s: SparkSession, table: String,
      snapshotId: Long): Unit = {
    val meta = readMeta(s, table)
    require(meta.snapshots.exists(_._1 == snapshotId),
      s"no snapshot $snapshotId")
    val ancestors =
      if (meta.parents.contains(meta.currentSnapshot))
        Iterator.iterate(meta.currentSnapshot)(meta.parents.getOrElse(_, 0L))
          .takeWhile(_ != 0L).toSet
      else meta.snapshots.map(_._1).filter(_ <= meta.currentSnapshot).toSet
    require(ancestors.contains(snapshotId),
      s"snapshot $snapshotId is not an ancestor of " +
        s"${meta.currentSnapshot} — rollback only walks lineage")
    writeMetadata(s, table, meta.copy(currentSnapshot = snapshotId))
  }

  /** Delete files under `data/` that NO snapshot references — debris
    * from failed or abandoned writes (a crashed job's staged files).
    * Unlike [[expireSnapshots]] this keeps every snapshot: the
    * reachable set is the union over the FULL snapshot list, so
    * time travel and refs are untouched. Returns the number of files
    * deleted. (A production version would also honor a modified-after
    * grace window to avoid racing an in-flight commit's staged files;
    * tables here are single-writer.)
    */
  def removeOrphanFiles(s: SparkSession, table: String): Int = {
    val meta = readMeta(s, table)
    val f = fs(s, new Path(table))
    val referenced: Set[String] = meta.snapshots.flatMap {
      case (_, listRel) =>
        readManifests(s, table, listRel, meta).flatMap(m =>
          m.path +: m.entries.map(_.path))
    }.toSet
    var deleted = 0
    val it = f.listFiles(new Path(table, "data"), true)
    val rootPrefix = f.makeQualified(new Path(table)).toString
    while (it.hasNext) {
      val st = it.next()
      val rel = f.makeQualified(st.getPath).toString
        .stripPrefix(rootPrefix).stripPrefix("/")
      if (rel.endsWith(".parquet") && !referenced.contains(rel)) {
        if (f.delete(st.getPath, false)) deleted += 1
      }
    }
    deleted
  }

  /** Expire all snapshots except the newest `retain`, then delete every
    * data/delete file and manifest no retained snapshot references —
    * Iceberg's expire-snapshots + orphan-file cleanup in one pass. Time
    * travel to expired ids stops working, by design. File enumeration
    * is manifest-driven (referenced set) plus ONE directory walk for
    * orphans (stage leftovers); deletes are per-path. Returns the
    * number of deleted data/delete files.
    */
  def expireSnapshots(s: SparkSession, table: String,
      retain: Int = 1): Int = {
    require(retain >= 1, "must retain at least the current snapshot")
    val meta = readMeta(s, table)
    // Refs protect their targets: a tagged/branched snapshot never
    // expires while the ref lives (the Iceberg retention rule), nor
    // does the current snapshot even when newer unpublished (WAP)
    // snapshots outnumber `retain`.
    val keepIds = meta.snapshots.map(_._1).sorted.takeRight(retain).toSet ++
      meta.refs.map(_._2._1) + meta.currentSnapshot
    val kept = meta.snapshots.filter(t => keepIds(t._1))
    val f = fs(s, new Path(table))
    val referenced: Set[String] = kept.flatMap { case (_, listRel) =>
      readManifests(s, table, listRel, meta).flatMap(m =>
        m.path +: m.entries.map(_.path))
    }.toSet ++ kept.map(_._2)
    var deletedData = 0
    // Drop expired manifest lists + manifests (under metadata/) and
    // unreferenced data/delete files (under data/).
    val metaIt = f.listStatus(metaDir(table)).iterator
    while (metaIt.hasNext) {
      val st = metaIt.next()
      val n = st.getPath.getName
      val rel = s"metadata/$n"
      if ((n.startsWith("snap-") || n.startsWith("manifest-")) &&
          !referenced.contains(rel))
        f.delete(st.getPath, false)
    }
    val dataIt = f.listFiles(new Path(table, "data"), true)
    val rootPrefix = f.makeQualified(new Path(table)).toString
    while (dataIt.hasNext) {
      val st = dataIt.next()
      val rel = f.makeQualified(st.getPath).toString
        .stripPrefix(rootPrefix).stripPrefix("/")
      if (rel.endsWith(".parquet") && !referenced.contains(rel)) {
        if (f.delete(st.getPath, false)) deletedData += 1
      }
    }
    writeMetadata(s, table, meta.copy(snapshots = kept))
    deletedData
  }

  /** MERGE-ON-READ MERGE: ONE snapshot carrying an equality-delete
    * manifest (the source's keys) AND a data manifest (the full
    * source) at the SAME data sequence number — the delete masks only
    * files with a strictly smaller sequence, so the commit's own new
    * rows survive while every older copy of a matched key is hidden.
    * The commit NEVER READS A DATA FILE: cost is O(source) at any
    * table size (the Iceberg CDC/streaming-writer upsert shape;
    * [[merge]] is the copy-on-write twin, [[compact]] later folds the
    * masks in). Duplicate source keys refuse loudly — which copy would
    * win is ambiguous.
    */
  def mergeMOR(s: SparkSession, table: String, source: DataFrame,
      keys: Seq[String]): Long = {
    require(keys.nonEmpty, "mergeMOR needs at least one key")
    val (meta, manifests) = manifestsOf(s, table, -1L)
    val cur = meta.currentSchema
    val keyFields = keys.map(k => cur.fields.find(_.name == k).getOrElse(
      throw new IllegalArgumentException(s"no column $k in $table")))
    val srcCols = LakeFormat.mergeSource(source, cur.struct, keys)
    require(srcCols.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("n")).filter(col("n") > 1)
        .limit(1).count() == 0,
      "mergeMOR: duplicate source keys — which copy wins is ambiguous; " +
        "dedup the source")
    val seq = nextSeq(meta)
    val dataManifest = writeManifest(s, table, srcCols, cur,
      meta.defaultSpecId, meta.partCols, meta.sortCols, seq)
    // Equality-delete files at the SAME sequence (mask applies to
    // strictly-smaller seq only): the equalityDelete staging shape.
    val keyRows = srcCols.select(keys.map(col): _*).distinct()
    val withDelete = dataManifest +:
      stageEqDeleteManifest(s, table, meta, cur, keyFields, keyRows, seq)
    commitSnapshot(s, table, meta, manifests.map(_.path) ++ withDelete)
  }

  /** Write `keyRows` as equality-delete parquet files + their deletes
    * manifest at sequence `seq`. Returns the manifest path (empty Seq
    * when keyRows is empty).
    */
  private def stageEqDeleteManifest(s: SparkSession, table: String,
      meta: Meta, cur: IceSchema, keyFields: Seq[IceField],
      keyRows: DataFrame, seq: Long): Seq[String] = {
    val rels = stageDeleteFiles(s, table, keyRows, "eqdelete")
    if (rels.isEmpty) Nil
    else {
      val entries = rels.map { rel =>
        val e = Json.createObjectNode()
        e.put("path", rel)
        ManifestEntry(rel, Nil, None, e)
      }
      Seq(writeManifestFile(fs(s, new Path(table)), table, cur.schemaId,
        meta.defaultSpecId, Nil, entries, seq, keyFields.map(_.id)))
    }
  }

  /** CDC APPLY as ONE merge-on-read snapshot per change batch (the
    * streaming-CDC-writer shape, [[mergeMOR]] generalized to deletes):
    * the ordered batch (`opCol` insert/update/delete, `seqCol` total
    * order) reduces to its LATEST change per key (the
    * [[LakeFormat.latestChanges]] rule DeltaLite.applyChanges shares),
    * then ONE snapshot
    * commits an equality-delete manifest covering EVERY touched key
    * plus a data manifest carrying the surviving (non-delete) latest
    * rows, both at the same data sequence number — every older copy of
    * a touched key masks, deleted keys simply have no replacement row,
    * and the commit's own rows survive the mask. The commit NEVER
    * READS A DATA FILE: cost is O(batch) at any table size, vs
    * DeltaLite.applyChanges' copy-on-write rewrite of touched files.
    * Returns the new snapshot id.
    */
  def applyChangesMOR(s: SparkSession, table: String, changes: DataFrame,
      keys: Seq[String], opCol: String, seqCol: String): Long = {
    require(keys.nonEmpty, "applyChangesMOR needs at least one key")
    val (meta, manifests) = manifestsOf(s, table, -1L)
    val cur = meta.currentSchema
    val keyFields = keys.map(k => cur.fields.find(_.name == k).getOrElse(
      throw new IllegalArgumentException(s"no column $k in $table")))
    val (touched, survivors) =
      latestChanges(changes, cur.struct, keys, opCol, seqCol)
    val seq = nextSeq(meta)
    val dataManifests =
      if (survivors.isEmpty) Nil
      else Seq(writeManifest(s, table, survivors, cur,
        meta.defaultSpecId, meta.partCols, meta.sortCols, seq))
    val newManifests = dataManifests ++
      stageEqDeleteManifest(s, table, meta, cur, keyFields, touched, seq)
    if (newManifests.isEmpty) meta.currentSnapshot
    else commitSnapshot(s, table, meta, manifests.map(_.path) ++ newManifests)
  }

  private[sources] def live(s: SparkSession,
      table: String): LakeFormat.Live = {
    val (meta, manifests) = manifestsOf(s, table, -1L)
    val groups = entryGroups(manifests)
    new LakeFormat.Live {
      val version: Long = meta.currentSnapshot
      val schema: StructType = meta.currentSchema.struct
      val files: Seq[String] = groups.flatMap(_._2.map(_.path))
      val partitioning: Seq[Column] = meta.partCols.map(partExpr(_, schema))
      def prune(pred: Column): Seq[String] =
        prunedEntries(s, meta, dataManifests(manifests), pred)
          ._2.flatMap(_._2.map(_.path))
      def read(paths: Seq[String], fileCol: Option[String]): DataFrame = {
        val want = paths.toSet
        readEntries(s, table, meta, groups.map { case (k, es) =>
          k -> es.filter(e => want.contains(e.path))
        }, delCtxOf(manifests), fileCol)
      }
      // Iceberg snapshots carry no operation name. New files land under
      // the current schema and default spec, so a rewrite (OPTIMIZE)
      // also retires old-schema files and old-spec layouts.
      def replace(removed: Seq[String], add: DataFrame,
          operation: String): Long = {
        val m = writeManifest(s, table, add, meta.currentSchema,
          meta.defaultSpecId, meta.partCols, meta.sortCols, nextSeq(meta))
        commitSnapshot(s, table, meta,
          survivingManifests(s, table, meta, manifests, removed.toSet) :+ m)
      }
    }
  }
}
