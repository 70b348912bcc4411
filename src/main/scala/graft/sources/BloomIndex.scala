package graft.sources

import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Per-file bloom-filter index for point lookups on a DeltaLite table —
  * the data-skipping lever min/max stats don't have: a high-cardinality
  * key spread uniformly across files overlaps EVERY file's [min, max],
  * so stats keep everything, while a per-file bloom keeps only the
  * files that (probably) contain the looked-up value. This is the same
  * capability as Parquet column bloom filters / Delta's bloom-filter
  * index, maintained as one bloom SIDECAR per data file
  * (`_index/bloom-{col}/&lt;uuid&gt;.bloom`, serialized
  * `org.apache.spark.util.sketch.BloomFilter`) plus a metadata-only
  * manifest (`_index/bloom-{col}.json`: data file → sidecar path).
  *
  * Scale shape — the driver never touches bloom BYTES in either
  * direction:
  *  - [[build]] is one distributed scan: values group by their data
  *    file (`groupByKey` on the file name, one bloom built per group)
  *    and each group's EXECUTOR writes its sidecar; only (file,
  *    sidecar path) string pairs return to the driver for the
  *    manifest. At defaults a bloom is ~120 KB — an 800k-file 100 TB
  *    table would otherwise push ~100 GB through the driver.
  *  - [[lookupScan]] probes distributed too: the (file, sidecar) list
  *    parallelizes out, each task deserializes only its own sidecars
  *    and returns surviving file NAMES. The driver handles nothing
  *    larger than the file list it already holds from the log.
  *    Surviving files then read through the table's normal DV-aware
  *    subset reader with the exact predicate re-applied (bloom false
  *    positives filter out here).
  *
  * Staleness contract: files added to the table AFTER the index was
  * built have no bloom entry and are always kept (conservative — a
  * lookup is never wrong, only less pruned); rebuild to re-tighten
  * (rebuild garbage-collects the sidecars it orphans). Values are
  * indexed by their canonical STRING rendering (cast both at build and
  * probe), keeping the index type-agnostic.
  */
object BloomIndex {

  private val Json = new ObjectMapper()

  private def fs(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private def indexPath(table: String, column: String) =
    new Path(table, s"_index/bloom-$column.json")

  private def sidecarDir(column: String) = s"_index/bloom-$column"

  /** Build (or rebuild) the index for `column`. `expectedPerFile` and
    * `fpp` size each file's bloom (default 1% false-positive rate).
    */
  def build(s: SparkSession, table: String, column: String,
      expectedPerFile: Long = 100000L, fpp: Double = 0.01): Unit = {
    import s.implicits._
    val t = DeltaLite.live(s, table)
    val byName = t.files.map(r => LakeFormat.fileName(r) -> r).toMap
    val rows = t.read(t.files, fileCol = Some("_bf_file"))
      .select(col("_bf_file"), col(column).cast("string").as("_bf_val"))
      .filter(col("_bf_val").isNotNull)
      .as[(String, String)]
    val hadoopConf = new org.apache.spark.SerializableWritable(
      s.sparkContext.hadoopConfiguration)
    val dir = sidecarDir(column)
    // Executor-written sidecars: only (data file, sidecar path) comes
    // back — never serialized bloom bytes (same shape as the DV
    // sidecar write in DeltaLite.deleteWhereDV).
    val sidecars: Array[(String, String)] = rows.groupByKey(_._1)
      .mapGroups { (file, it) =>
        val bf = BloomFilter.create(expectedPerFile, fpp)
        it.foreach(v => bf.putString(v._2))
        val rel = s"$dir/${UUID.randomUUID()}.bloom"
        val p = new Path(table, rel)
        val f = p.getFileSystem(hadoopConf.value)
        f.mkdirs(p.getParent)
        val out = f.create(p, false)
        try bf.writeTo(out)
        finally out.close()
        (file, rel)
      }
      .collect()
    val root = Json.createObjectNode()
    root.put("column", column)
    root.put("format", "sidecar-v1")
    val files = root.putObject("files")
    sidecars.foreach { case (name, rel) =>
      byName.get(name).foreach(dataRel => files.put(dataRel, rel))
    }
    val p = indexPath(table, column)
    val f = fs(s, p)
    f.mkdirs(p.getParent)
    val out = f.create(p, true)
    try out.write(Json.writeValueAsString(root).getBytes("UTF-8"))
    finally out.close()
    // GC sidecars the rebuild orphaned (names are uuids, so anything
    // not in the fresh manifest is a prior build's). Listing is
    // metadata-sized; deletes are per-path.
    val referenced = sidecars.map(t =>
      t._2.substring(t._2.lastIndexOf('/') + 1)).toSet
    val dirPath = new Path(table, dir)
    if (f.exists(dirPath)) {
      f.listStatus(dirPath).foreach { st =>
        val name = st.getPath.getName
        if (name.endsWith(".bloom") && !referenced.contains(name))
          f.delete(st.getPath, false)
      }
    }
  }

  /** Manifest: data file rel path → bloom sidecar rel path. */
  private def readIndex(s: SparkSession, table: String,
      column: String): Map[String, String] = {
    val p = indexPath(table, column)
    val f = fs(s, p)
    require(f.exists(p), s"no bloom index on $column at $table")
    val in = f.open(p)
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    Json.readTree(txt).get("files").properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
  }

  /** Live files surviving the bloom probe for `values` — unindexed
    * (post-build) files are always kept. The probe is distributed:
    * each task opens only its own sidecars; the driver sees file
    * names, never bloom bytes.
    */
  private def keptFiles(s: SparkSession, table: String,
      t: LakeFormat.Live, column: String,
      values: Seq[Any]): (Seq[String], Int) = {
    import s.implicits._
    val idx = readIndex(s, table, column)
    val probes = values.map(String.valueOf)
    val (indexed, unindexed) = t.files.partition(idx.contains)
    val hadoopConf = new org.apache.spark.SerializableWritable(
      s.sparkContext.hadoopConfiguration)
    val surviving: Seq[String] =
      if (indexed.isEmpty) Seq.empty
      else indexed.map(rel => (rel, idx(rel))).toDS()
        .repartition(math.min(indexed.size,
          s.sparkContext.defaultParallelism))
        .mapPartitions { it =>
          it.filter { case (_, sidecar) =>
            val p = new Path(table, sidecar)
            val f = p.getFileSystem(hadoopConf.value)
            val in = f.open(p)
            val bf =
              try BloomFilter.readFrom(in)
              finally in.close()
            probes.exists(bf.mightContainString)
          }.map(_._1)
        }
        .collect().toSeq
    (surviving ++ unindexed, t.files.size)
  }

  /** (kept, total) file counts for a lookup (spec assertion hook). */
  def pruneInfo(s: SparkSession, table: String, column: String,
      values: Seq[Any]): (Int, Int) = {
    val (kept, total) =
      keptFiles(s, table, DeltaLite.live(s, table), column, values)
    (kept.size, total)
  }

  /** Exact point lookup `column IN (values)` reading only the files
    * whose bloom might contain one of the values.
    */
  def lookupScan(s: SparkSession, table: String, column: String,
      values: Seq[Any]): DataFrame = {
    val t = DeltaLite.live(s, table)
    val (kept, _) = keptFiles(s, table, t, column, values)
    t.read(kept)
      .filter(col(column).isin(values: _*))
  }

  /** Whether an index for `column` exists on `table`. */
  def exists(s: SparkSession, table: String, column: String): Boolean =
    fs(s, indexPath(table, column)).exists(indexPath(table, column))

  /** Delete the index manifest and its sidecar directory. Returns
    * whether an index existed. Queries after a drop simply read every
    * live file again — removal can never change answers.
    */
  def drop(s: SparkSession, table: String, column: String): Boolean = {
    val p = indexPath(table, column)
    val f = fs(s, p)
    val existed = f.exists(p)
    if (existed) f.delete(p, false)
    val dir = new Path(table, sidecarDir(column))
    if (f.exists(dir)) f.delete(dir, true)
    existed
  }
}
