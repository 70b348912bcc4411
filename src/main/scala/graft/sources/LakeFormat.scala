package graft.sources

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation,
  LogicalPlan, Project, Range, SubqueryAlias, View}
import org.apache.spark.sql.catalyst.trees.TreePattern
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Glue
import org.apache.spark.sql.types._

/** The table operations Delta and Iceberg share, each with one meaning
  * on both formats. [[DeltaLite]] and [[IcebergLite]] implement it; the
  * SQL front end maps a catalog entry to `(LakeFormat, path)` once
  * ([[LakeFormat.of]]) and calls through it. A VERSION is a Delta log
  * version or an Iceberg snapshot id, and every write returns the
  * version it committed (the current one when it committed nothing),
  * except the join DML, which returns the rows it matched.
  * Operations only one format has (ZORDER, deletion vectors, refs and
  * branches, merge-on-read) stay on that format's object.
  *
  * The keyed [[merge]], the full-sync [[sync]] MERGE, the
  * copy-on-write [[updateWhere]] and join DML ([[joinDml]]), OPTIMIZE
  * ([[compact]]) and INSERT ([[append]], [[overwrite]], both over
  * [[insert]]) are written here once. Each
  * reads one snapshot ([[LakeFormat.Live]], the hooks a format supplies
  * on one log replay or manifest read) for the whole statement and ends
  * in one [[LakeFormat.Live.replace]] commit. The MERGEs and the join
  * DML evaluate their source under the one DML source rule
  * ([[LakeFormat.once]]); the MERGEs cast it to the table's types and
  * end in the same anti-join + union commit.
  */
trait LakeFormat {
  import LakeFormat._

  /** The provider name catalog entries and the ops log store. */
  def provider: String

  /** Snapshot read; `version < 0` means the current one. */
  def snapshot(s: SparkSession, table: String,
      version: Long = -1L): DataFrame

  /** The current version. */
  def latestVersion(s: SparkSession, table: String): Long

  /** The version current at wall-clock `tsMillis` (`TIMESTAMP AS OF`):
    * the latest commit at or before the instant. */
  def versionAt(s: SparkSession, table: String, tsMillis: Long): Long

  def create(s: SparkSession, table: String, df: DataFrame,
      partitionColumns: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty): Long

  /** INSERT on one snapshot: `rows` gets the table's schema (to bind
    * and cast the source to) and its rows are added in one commit,
    * replacing every live file when `overwrite` holds. */
  def insert(s: SparkSession, table: String, overwrite: Boolean)(
      rows: StructType => DataFrame): Long = {
    val t = live(s, table)
    t.replace(if (overwrite) t.files else Nil, rows(t.schema), "WRITE")
  }

  def append(s: SparkSession, table: String, df: DataFrame): Long =
    insert(s, table, overwrite = false)(_ => df)

  /** REPLACE the table's contents in one atomic commit (INSERT
    * OVERWRITE): readers see the old state or the new, never a mix, and
    * the old files stay reachable by time travel. */
  def overwrite(s: SparkSession, table: String, df: DataFrame): Long =
    insert(s, table, overwrite = true)(_ => df)

  def deleteWhere(s: SparkSession, table: String, cond: Column): Long

  /** Copy-on-write UPDATE WHERE `cond`: `assignments` maps column name
    * → new-value expression (which may reference any current columns,
    * cast to the column's type); matching rows are rewritten, the other
    * rows of their files carry over unchanged, and files holding no
    * match are untouched ([[rewriteWhere]]). Assigning an unknown column
    * is an error — UPDATE never widens the schema. */
  def updateWhere(s: SparkSession, table: String, cond: Column,
      assignments: Map[String, Column]): Long = {
    val t = live(s, table)
    assignments.keys.foreach(k => require(t.schema.fieldNames.contains(k),
      s"updateWhere: unknown column $k"))
    rewriteWhere(s, t, cond, "UPDATE")(_.select(
      assigned(t.schema, assignments, coalesce(cond, lit(false)))(col): _*))
  }

  /** Join DML: the target rows (aliased `ta`) that a row of `source`
    * (aliased `sa`) matches on `cond` take the `set` assignments (UPDATE
    * … FROM: column name in any case → expression over both sides, cast
    * to the column's type) or, with no `set`, are deleted however many
    * source rows match them (DELETE … USING); only the files holding
    * such a row are rewritten. An UPDATE's target row matched by more
    * than one source row is an error — which source row's values win is
    * ambiguous (MERGE's one-source-row-per-target contract). Returns the
    * matched rows. */
  def joinDml(s: SparkSession, table: String, ta: String,
      source: DataFrame, sa: String, cond: Column,
      set: Option[Map[String, Column]]): Long = {
    val t = live(s, table)
    val asg = set.map(_.map { case (k, v) =>
      t.schema.fieldNames.find(_.equalsIgnoreCase(k)).getOrElse(
        throw new IllegalArgumentException(
          s"UPDATE … FROM: unknown column $k")) -> v
    })
    if (t.files.isEmpty) return 0L
    val src = once(source).withColumn("_gf_m", lit(true)).as(sa)
    def joined(df: DataFrame, how: String) = df.as(ta).join(src, cond, how)
    val m = ref(sa, "_gf_m")
    val target = t.read(t.files, Some("_gf"))
    val (hits, rows) = asg match {
      case None => (collectHits(s, joined(target, "left_semi")),
        joined(_: DataFrame, "left_anti"))
      case Some(a) =>
        // LEFT join: the target is never the replicated side, so all the
        // probe rows of one target row come from one task (collectHits)
        val probe = joined(target.withColumn("_gf_rid",
          monotonically_increasing_id()), "left")
        (collectHits(s, probe.withColumn("_gf", when(m, ref(ta, "_gf"))),
            Some(ref(ta, "_gf_rid"))),
          (df: DataFrame) => joined(df, "left")
            .select(assigned(t.schema, a, m)(ref(ta, _)): _*))
    }
    require(hits.surplus == 0L,
      s"UPDATE … FROM: ${hits.surplus} surplus match(es) — some target " +
        "row matches more than one source row and SET replacement is " +
        "ambiguous; dedup the source or tighten the condition (the " +
        "MERGE one-source-row-per-target contract)")
    replaceHits(t, t.files, hits.names, asg.fold("DELETE")(_ => "UPDATE"))(rows)
    hits.rows
  }

  /** The copy-on-write row rewrite: partition and stats pruning narrow
    * the candidates, one file-name probe of those finds the files
    * actually holding a row matching `cond` ([[collectHits]]), and
    * only those are replaced ([[replaceHits]]). */
  protected def rewriteWhere(s: SparkSession, t: Live, cond: Column,
      operation: String)(rows: DataFrame => DataFrame): Long = {
    val candidates = t.prune(cond)
    replaceHits(t, candidates,
      if (candidates.isEmpty) Set.empty
      else collectHits(s, t.read(candidates, Some("_gf")).filter(cond)).names,
      operation)(rows)
  }

  /** Replace the `candidates` named in `hits` by their rows passed
    * through `rows`, in one commit. Commits nothing (returns the
    * current version) when none is hit. */
  private def replaceHits(t: Live, candidates: Seq[String],
      hits: Set[String], operation: String)(
      rows: DataFrame => DataFrame): Long = {
    val files = candidates.filter(p => hits.contains(fileName(p)))
    if (files.isEmpty) t.version
    else t.replace(files, rows(t.read(files)), operation)
  }

  /** OPTIMIZE: bin-pack the live rows into `targetFiles` files,
    * clustered by the table's partitioning, in one commit replacing
    * every live file. Reading through the snapshot applies deletes, so
    * compaction also folds deletion vectors and delete files into clean
    * files. Content is unchanged; an empty table commits nothing. */
  def compact(s: SparkSession, table: String, targetFiles: Int): Long = {
    val t = live(s, table)
    if (t.files.isEmpty) t.version
    else t.replace(t.files,
      t.read(t.files).repartition(targetFiles, t.partitioning: _*),
      "OPTIMIZE")
  }

  def addColumn(s: SparkSession, table: String, name: String,
      dataType: DataType): Unit

  def renameColumn(s: SparkSession, table: String, from: String,
      to: String): Unit

  def dropColumn(s: SparkSession, table: String, name: String): Unit

  def tableProperties(s: SparkSession, table: String): Map[String, String]

  /** The transaction-rollback restore: calling the result puts the
    * table back as it is now, undoing every later commit. */
  def restorePoint(s: SparkSession, table: String): () => Unit

  /** The current snapshot, replayed once. */
  private[sources] def live(s: SparkSession, table: String): Live

  /** Copy-on-write MERGE (upsert) on `keys`: source rows REPLACE
    * matching target rows and are INSERTED otherwise. Only target files
    * containing a matching key are rewritten — found by ONE
    * metadata-column scan joined against the source key counts — so
    * merging a small source into a 100 TB table rewrites the touched
    * files, not the table. Multiple source rows matching one target row
    * is an error (which copy would win is ambiguous); duplicate source
    * keys that match nothing insert all their copies.
    */
  def merge(s: SparkSession, table: String, source: DataFrame,
      keys: Seq[String]): Long = {
    val t = live(s, table)
    val src = mergeSource(source, t.schema, keys)
    // Stats-pruned candidate set: above the file-count floor, one
    // source key-range aggregate lets partition and min/max stats drop
    // files that cannot hold ANY source key before the hit-detection
    // read, so at 100 TB that read follows the source's key locality.
    val rk = rangeKeys(keys, t.schema)
    val candidates =
      if (t.files.size < MergePruneFloor || rk.isEmpty) t.files
      else {
        val aggs = rangeAggs(rk)
        t.prune(rangePred(rk, src.agg(aggs.head, aggs.tail: _*).head(), 0))
      }
    rewrite(t, mergeHits(t, candidates, src, keys), src, src, keys,
      "MERGE")(identity)
  }

  /** Full-sync MERGE — [[merge]] plus `WHEN NOT MATCHED BY SOURCE [AND
    * cond] THEN DELETE | UPDATE SET …`, the CDC idiom: target rows
    * whose key the source lacks are deleted (`set` None) or take the
    * `set` assignments, where `cond` holds (NULL is false; no `cond`
    * acts on every such row). Source keys must be unique.
    *
    * ONE aggregate over the source gives both the duplicate-key check
    * and the per-key ranges. Only files whose stats admit a source-range
    * key OR a row satisfying `cond` are rewritten: every other file
    * holds only absent-keyed rows the action cannot touch and rides
    * into the same commit by reference. An unconditional action touches
    * every absent row, so there every file is rewritten.
    */
  def sync(s: SparkSession, table: String, source: DataFrame,
      keys: Seq[String], cond: Option[Column],
      set: Option[Map[String, Column]]): Long = {
    val t = live(s, table)
    val src = mergeSource(source, t.schema, keys)
    val rk = rangeKeys(keys, t.schema)
    val aggs = max(col("_n")).as("_maxn") +: rangeAggs(rk)
    val row = src.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_n"))
      .agg(aggs.head, aggs.tail: _*).head()
    require(row.isNullAt(0) || row.getLong(0) <= 1L,
      "merge: duplicate source keys — SET * replacement is ambiguous; " +
        "dedup the source")
    val files = cond.fold(t.files) { c =>
      // an empty source holds no key, so only `cond` keeps a file
      t.prune((if (row.isNullAt(0)) lit(false)
        else rangePred(rk, row, 1)) || c)
    }
    val acts = cond.fold(lit(true))(c => coalesce(c, lit(false)))
    rewrite(t, files, src, src, keys, "MERGE") { absent =>
      set.fold(absent.filter(not(acts)))(asg =>
        absent.select(assigned(t.schema, asg, acts)(col): _*))
    }
  }

  /** The one commit the MERGEs and APPLY CHANGES end in: `files` are
    * replaced by their rows whose key `keyed` lacks (passed through
    * `absent`) and by `add`. No distinct() on the anti-join's key side:
    * right-side duplicates cannot change a left_anti result — one
    * exchange fewer. */
  protected def rewrite(t: Live, files: Seq[String], keyed: DataFrame,
      add: DataFrame, keys: Seq[String], operation: String)(
      absent: DataFrame => DataFrame): Long =
    t.replace(files,
      if (files.isEmpty) add
      else absent(t.read(files)
          .join(keyed.select(keys.map(col): _*), keys, "left_anti"))
        .unionByName(add), operation)
}

object LakeFormat {

  private val formats: Seq[LakeFormat] = Seq(DeltaLite, IcebergLite)

  /** The format a provider name stores — the one place an unknown
    * provider is rejected. */
  def of(provider: String): LakeFormat =
    formats.find(_.provider == provider).getOrElse(
      throw new IllegalArgumentException(s"unknown provider $provider"))

  /** One current snapshot, replayed once: the hooks the shared rewrite
    * paths need from a format. Files are named the way the format's
    * metadata names them. */
  private[sources] trait Live {
    /** The version this snapshot is (what a no-op write returns). */
    def version: Long
    def schema: StructType
    /** Every live data file. */
    def files: Seq[String]
    /** The live files `pred` may match, by partition and stats pruning. */
    def prune(pred: Column): Seq[String]
    /** Rows of the live files `paths` under `schema`, honoring deletes;
      * `fileCol` adds each row's data-file NAME. */
    def read(paths: Seq[String], fileCol: Option[String] = None): DataFrame
    /** The expressions a rewrite clusters rows by: the table's partition
      * columns or transforms. */
    def partitioning: Seq[Column]
    /** ONE commit replacing `removed` with `add`'s rows, recorded as
      * `operation` (WRITE, MERGE, UPDATE, DELETE, APPLY CHANGES,
      * OPTIMIZE); returns the new version. */
    def replace(removed: Seq[String], add: DataFrame,
        operation: String): Long
  }

  /** Cap on the driver-side matched-file set a DML operation may
    * collect (`spark.graft.maxHitFiles` overrides). The hit-file sets
    * of delete/update/merge are metadata-sized by design — but a
    * predicate matching most of a 100 TB table would queue millions of
    * names on the driver; refusing loudly past the cap beats an OOM.
    */
  private def maxHitFiles(s: SparkSession): Int =
    s.conf.getOption("spark.graft.maxHitFiles").map(_.toInt)
      .getOrElse(100000)

  /** What one hit probe found: the names of the files holding a hit,
    * the hit rows, and the hits past the first of each target-row id. */
  private[sources] final case class Hits(names: Set[String], rows: Long,
      surplus: Long)

  /** One capped pass over the hit probe `df`: the distinct `_gf` names
    * of its rows (a row with a null `_gf` is no hit), bounded by
    * [[maxHitFiles]] — failing loud (with the remedy) past the cap —
    * the hit rows, and, when `rid` gives each row its target row's id,
    * the surplus hits of ids seen more than once. One Spark job and no
    * exchange: each task returns its own summary, so at most one name
    * per file split of the scan comes back, a list no longer than the
    * candidate file list already in memory. The surplus is counted per
    * task, which is exact for a probe that makes all the rows of one
    * target row in one task (a LEFT join streams or hash-partitions its
    * left side, never replicates it).
    */
  private[sources] def collectHits(s: SparkSession, df: DataFrame,
      rid: Option[Column] = None): Hits = {
    import s.implicits._
    val cap = maxHitFiles(s)
    val parts = df.select(col("_gf"), rid.getOrElse(lit(null).cast(LongType)))
      .as[(String, Option[Long])]
      .mapPartitions { it =>
        val names = mutable.Set.empty[String]
        val ids = new mutable.ArrayBuilder.ofLong // unboxed: 8 B per hit
        var rows = 0L
        it.filter(_._1 != null).foreach { case (f, id) =>
          names += f; rows += 1; id.foreach(ids += _)
        }
        val sorted = ids.result().sorted
        Iterator((names.toSeq, rows, sorted.indices
          .count(i => i > 0 && sorted(i) == sorted(i - 1)).toLong))
      }.collect()
    val names = parts.iterator.flatMap(_._1).toSet
    require(names.size <= cap,
      s"predicate matches more than $cap data files; a driver-side " +
        "file set this large risks driver memory — narrow the " +
        "operation or raise spark.graft.maxHitFiles")
    Hits(names, parts.map(_._2).sum, parts.map(_._3).sum)
  }

  /** `schema`'s columns, each named in `asg` taking its value cast to
    * the column's type where `acts` holds; `old` reads a column's
    * current value. */
  private def assigned(schema: StructType, asg: Map[String, Column],
      acts: Column)(old: String => Column): Seq[Column] =
    schema.fields.toSeq.map(f => asg.get(f.name).fold(old(f.name))(v =>
      when(acts, v.cast(f.dataType)).otherwise(old(f.name))).as(f.name))

  /** `c` of the relation aliased `q`. */
  private def ref(q: String, c: String): Column =
    Glue.column(UnresolvedAttribute(Seq(q, c)))

  /** The keyed MERGE hit probe: the `files` holding a key of `src`,
    * found by ONE file-name-column scan joined against the source key
    * counts. One target row matching several source rows is an error —
    * which copy would win is ambiguous. */
  private[sources] def mergeHits(t: Live, files: Seq[String],
      src: DataFrame, keys: Seq[String]): Seq[String] = {
    if (files.isEmpty) return Nil
    val row = t.read(files, Some("_gf"))
      .join(src.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_src_n")),
        keys)
      .agg(collect_set(col("_gf")), max(col("_src_n"))).head()
    require(row.isNullAt(1) || row.getLong(1) <= 1L,
      s"merge: ${row.getLong(1)} source rows match the same target key " +
        "— MERGE forbids ambiguous multi-matches; dedup the source")
    val names = row.getSeq[String](0).toSet
    files.filter(p => names.contains(fileName(p)))
  }

  /** A CDC change batch reduced to its latest change per key: for each
    * key, the row with the largest `seqCol` (ties resolve by the op and
    * then the payload columns, so the winner never depends on the
    * batch's order), found by the max-struct idiom — one
    * partial-aggregating exchange, no window sort — and evaluated
    * [[once]]. Returns every touched key and the upserts: the latest
    * rows whose `opCol` is not 'delete' (in any case), in `schema`'s
    * columns and types. A key whose latest op is 'delete' is touched
    * and has no upsert. */
  private[sources] def latestChanges(changes: DataFrame, schema: StructType,
      keys: Seq[String], opCol: String,
      seqCol: String): (DataFrame, DataFrame) = {
    val payload = schema.fieldNames.toSeq.filterNot(keys.contains)
    val latest = once(changes.groupBy(keys.map(col): _*)
      .agg(max(struct((seqCol +: opCol +: payload).map(col): _*)).as("_m"))
      .select(keys.map(col) ++ (opCol +: payload).map(c =>
        col(s"_m.$c").as(c)): _*))
    def typed(cols: Seq[String]) = cols.map(c =>
      col(c).cast(schema(c).dataType).as(c))
    (latest.select(typed(keys): _*),
      latest.filter(lower(col(opCol)) =!= "delete")
        .select(typed(schema.fieldNames.toSeq): _*))
  }

  /** Run the staged write `body`, which writes under `stageDir`, and
    * remove that directory afterwards whether the write succeeds or
    * fails. After a failure it is removed only once the write's tasks
    * have ended (waiting at most [[StageSettleMs]]): a task of the
    * failed job that is still running would otherwise recreate it when
    * it opens its output file. The write's jobs are found by a job tag,
    * which leaves the thread's job group to its caller. */
  private[sources] def staged[T](s: SparkSession, stageDir: Path)(
      body: => T): T = {
    val sc = s.sparkContext
    val tag = s"graft-stage-${java.util.UUID.randomUUID()}"
    sc.addJobTag(tag)
    try body
    catch {
      case NonFatal(e) =>
        Glue.awaitTasks(sc, tag, StageSettleMs)
        throw e
    } finally {
      sc.removeJobTag(tag)
      stageDir.getFileSystem(sc.hadoopConfiguration).delete(stageDir, true)
    }
  }

  private val StageSettleMs = 30000L

  /** Rows this thread's staged data writes have written so far. */
  private val written = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  private[sources] def wrote(rows: Long): Unit = written.set(written.get + rows)

  /** Rows the lake writes `body` runs on this thread stage (their write
    * commands' own row counts, so `body`'s source is read once). */
  private[graft] def rowsWritten(body: => Unit): Long = {
    val before: Long = written.get
    body
    written.get - before
  }

  /** The DML source rule: `df` itself when every evaluation of it
    * yields the same rows, else `df` evaluated once (`localCheckpoint`).
    * Every lake DML statement reads its source more than once (a check,
    * a hit probe, the rewrite), and evaluations that disagree duplicate
    * or lose rows. A source is re-evaluated only when its analyzed plan
    * is projections, filters, aliases and views over one leaf relation
    * (a file scan, a local or checkpointed relation, a range), with no
    * nondeterministic or time-dependent expression (`current_timestamp()`
    * and its kin take a new value in every query). Anything else — a
    * LIMIT, a TABLESAMPLE, a join, an aggregate — is materialized: its
    * rows may differ per evaluation, and proving otherwise costs more
    * than the job.
    */
  private[graft] def once(df: DataFrame): DataFrame =
    if (stable(df.queryExecution.analyzed)) df else df.localCheckpoint()

  private def stable(p: LogicalPlan): Boolean = (p match {
    case _: Project | _: Filter | _: SubqueryAlias | _: View =>
      p.children.forall(stable)
    case _: LogicalRelation | _: LocalRelation | _: Range | _: LogicalRDD =>
      true
    case _ => false
  }) && p.expressions.forall(e => e.deterministic &&
    !e.containsPattern(TreePattern.CURRENT_LIKE) &&
    e.collect { case q: SubqueryExpression => q.plan }.forall(stable))

  /** A MERGE source as the table writes it: evaluated [[once]], its
    * columns in `schema`'s order and types (an uncast column would land
    * its own physical type in a data file the table's readers refuse),
    * its `keys` checked against the table. */
  private[sources] def mergeSource(source: DataFrame, schema: StructType,
      keys: Seq[String]): DataFrame = {
    keys.foreach(k => require(schema.fieldNames.contains(k),
      s"merge key $k not in schema"))
    once(source).select(schema.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  /** Live-file count below which a keyed MERGE skips the source
    * key-range aggregate: on a small table the extra job costs more
    * than the full read it saves. */
  val MergePruneFloor = 8

  private[sources] def fileName(p: String): String =
    p.substring(p.lastIndexOf('/') + 1)

  /** The merge keys a source key range may prune on: atomic orderable
    * types only. String keys are out — parquet footer string stats
    * compare in UTF-16 code-unit order while Spark's min/max order by
    * UTF-8 bytes, and the two disagree above the BMP — and so are
    * complex and binary keys, which have no literal form. */
  private[graft] def rangeKeys(keys: Seq[String],
      schema: StructType): Seq[String] =
    schema.fields.toSeq.filter(f => keys.contains(f.name) &&
      (f.dataType match {
        case _: NumericType | DateType | TimestampType |
            TimestampNTZType | BooleanType => true
        case _ => false
      })).map(_.name)

  /** min and max of each range key, in the order [[rangePred]] reads. */
  private[graft] def rangeAggs(rangeKeys: Seq[String]): Seq[Column] =
    rangeKeys.flatMap(k =>
      Seq(min(col(k)).as(s"_lo_$k"), max(col(k)).as(s"_hi_$k")))

  /** Conservative "file may hold a source key" predicate: AND over the
    * range keys of `key BETWEEN lo AND hi`, the bounds read from `row`
    * starting at column `at`. A null lo (an empty or all-null-key
    * source) is `lit(false)`; no range keys is `lit(true)`. */
  private[graft] def rangePred(rangeKeys: Seq[String], row: Row,
      at: Int): Column =
    rangeKeys.zipWithIndex.map { case (k, i) =>
      val lo = row.get(at + 2 * i); val hi = row.get(at + 2 * i + 1)
      if (lo == null) lit(false)
      else col(k) >= lit(lo) && col(k) <= lit(hi)
    }.reduceOption(_ && _).getOrElse(lit(true))
}
