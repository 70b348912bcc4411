package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute, UnresolvedIdentifier, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression,
  SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{AddColumns, Assignment, CreateTable, CreateTableAsSelect, DeleteAction, DeleteFromTable, DropTable, InsertIntoStatement, InsertStarAction, LogicalPlan, MergeIntoTable, RenameColumn, SubqueryAlias, TableSpec, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.graft.Glue

import graft.sources.{DeltaLite, IcebergLite, LakeFormat}

/** SQL DDL + DML against the lake table formats — the reference's
  * `Connection::Query` path (reference:duckdb:24-35) extended from
  * SELECT to writes: every statement goes through Spark's OWN parser,
  * once ([[parse]]), yielding the standard Catalyst plans
  * (`CreateTableAsSelect` / `DropTable` / `DeleteFromTable` /
  * `UpdateTable` / `InsertIntoStatement`), and this front-end binds
  * named tables — via the session [[catalog]] the DDL maintains, the
  * binder step of the reference entry path (reference:duckdb:36-38) —
  * to DeltaLite or IcebergLite paths and executes through the table
  * format's pruned copy-on-write operations. No bespoke SQL parsing
  * anywhere — the grammar, precedence, literals and expression tree
  * are all Spark's, exactly how Delta Lake's own SQL support hooks the
  * parsed plan.
  *
  * INSERT source queries run through the session's registered views
  * ([[Sql.open]]) with full Catalyst optimization; conditions and
  * assignment expressions pass as unresolved Catalyst trees and resolve
  * against the table's schema inside DeltaLite (same path as the
  * DataFrame API's Column predicates).
  *
  * The DuckDB dialect: function names Spark lacks resolve in Spark's
  * function registry ([[GraftExtensions.dialect]]); names Spark also
  * defines get DuckDB's meaning on the parsed plan
  * ([[GraftExtensions.pins]], applied by [[parse]]). What stays a text
  * rewrite here is syntax Spark's parser rejects.
  */
object LakeSql {

  private def partsOf(rel: LogicalPlan): Seq[String] = rel match {
    case r: UnresolvedRelation => r.multipartIdentifier
    case SubqueryAlias(_, child) => partsOf(child)
    case other =>
      throw new IllegalArgumentException(s"unsupported DML target: $other")
  }

  // ----------------------------------------------------------- catalog

  /** Session-scoped lake catalog: table name → (provider, path). The
    * binder step of the reference entry path (reference:duckdb:36-38):
    * once `CREATE TABLE … USING … LOCATION …` registers a name, DML and
    * SELECT statements address the table by name alone. Weakly keyed by
    * session so a closed session's entries collect; the inner map is
    * concurrent because the driver shares one session across query
    * invocations.
    */
  private val catalogs = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, (String, String)]]())

  /** Conf key naming a DURABLE catalog directory (a lake path). When
    * set, every register/drop appends a numbered op file under
    * `<dir>/ops/`, and a session replays the op log at its first
    * catalog access — so DDL survives a session restart and a second
    * session sees the first one's tables (the persistent-catalog half
    * of the reference's Parser → Binder → catalog entry path,
    * reference:duckdb:24-38). Op numbers are claimed by
    * exclusive-create, the same single-winner rule the lake formats
    * use for commits; entries are (name, provider, path) for lake
    * tables and (name, "view", sql-text) for views.
    */
  val CatalogDirKey = "spark.graft.catalog.dir"

  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  private def catalogDir(s: SparkSession): Option[String] =
    s.conf.getOption(CatalogDirKey).filter(_.nonEmpty)

  private def opsDir(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "ops")

  private def replayOps(s: SparkSession, dir: String,
      m: scala.collection.concurrent.TrieMap[String, (String, String)]):
      Unit = {
    val p = opsDir(dir)
    val f = p.getFileSystem(s.sessionState.newHadoopConf())
    if (f.exists(p)) {
      f.listStatus(p).map(_.getPath)
        .filter(_.getName.endsWith(".json")).sortBy(_.getName)
        .foreach { fp =>
          val in = f.open(fp)
          val n = try Json.readTree(in) finally in.close()
          n.get("op").asText() match {
            case "register" => m.put(n.get("name").asText(),
              (n.get("provider").asText(), n.get("path").asText()))
            case "drop" => m.remove(n.get("name").asText())
            // type/sequence ops live in the SAME numbered log (one
            // durable catalog history) but hydrate different maps —
            // see replayTypeOps/replaySeqOps; no-ops for tables.
            case "type_register" | "type_drop" |
                 "seq_register" | "seq_advance" | "seq_drop" =>
            case other => throw new IllegalStateException(
              s"unknown catalog op '$other' in $fp")
          }
        }
    }
  }

  /** Replay ONLY the type ops of a durable catalog into `em` — the
    * ENUM half of the op log (x120 types survive sessions like views
    * and macros do, the x45/x57 idiom).
    */
  private def replayTypeOps(s: SparkSession, dir: String,
      em: scala.collection.concurrent.TrieMap[String, Seq[String]]):
      Unit = {
    val p = opsDir(dir)
    val f = p.getFileSystem(s.sessionState.newHadoopConf())
    if (f.exists(p)) {
      f.listStatus(p).map(_.getPath)
        .filter(_.getName.endsWith(".json")).sortBy(_.getName)
        .foreach { fp =>
          val in = f.open(fp)
          val n = try Json.readTree(in) finally in.close()
          n.get("op").asText() match {
            case "type_register" =>
              val vals = Json.readTree(n.get("path").asText())
              val b = Seq.newBuilder[String]
              vals.elements().forEachRemaining(v => b += v.asText())
              em.put(n.get("name").asText(), b.result())
            case "type_drop" => em.remove(n.get("name").asText())
            case _ =>
          }
        }
    }
  }

  private def appendOp(s: SparkSession, dir: String, op: String,
      name: String, provider: String = "", path: String = ""): Unit = {
    val p = opsDir(dir)
    val f = p.getFileSystem(s.sessionState.newHadoopConf())
    f.mkdirs(p)
    val node = Json.createObjectNode()
    node.put("op", op)
    node.put("name", name)
    if (op == "register" || op == "type_register" ||
        op == "seq_register" || op == "seq_advance") {
      node.put("provider", provider)
      node.put("path", path) }
    val bytes = (Json.writeValueAsString(node) + "\n").getBytes("UTF-8")
    var v = f.listStatus(p).count(_.getPath.getName.endsWith(".json")).toLong
    // Bounded like DeltaLite's commit loops: a lost exclusive-create
    // claim moves to the next number, but a PERSISTENT I/O error
    // (permissions, disk full) must surface, not spin forever.
    val maxAttempts = 50
    var attempt = 0
    var done = false
    while (!done) {
      val target = new org.apache.hadoop.fs.Path(p, f"$v%08d.json")
      try {
        val out = f.create(target, false) // exclusive: one winner per number
        try out.write(bytes) finally out.close()
        done = true
      } catch {
        case e: java.io.IOException =>
          attempt += 1
          if (attempt >= maxAttempts) throw new IllegalStateException(
            s"appendOp: lost the op-number claim $maxAttempts times at $p " +
              s"(last error: ${e.getMessage})", e)
          v += 1 // lost the claim; next number
      }
    }
  }

  private def catalog(s: SparkSession) = catalogs.synchronized {
    var m = catalogs.get(s)
    if (m == null) {
      m = scala.collection.concurrent.TrieMap.empty
      // First catalog touch in this session: hydrate from the durable
      // op log when one is configured (session-only otherwise).
      catalogDir(s).foreach(dir => replayOps(s, dir, m))
      catalogs.put(s, m)
    }
    m
  }

  /** Register `name` → (provider, path) without DDL (API-side entry);
    * write-through to the durable op log when one is configured.
    */
  def register(s: SparkSession, name: String, provider: String,
      path: String): Unit = {
    LakeFormat.of(provider) // rejects an unknown provider
    registerEntry(s, name, provider, path)
  }

  private def registerEntry(s: SparkSession, name: String,
      provider: String, path: String): Unit = {
    require(name != MetaTablesView && name != MetaColumnsView &&
      name != MetaCatalogsView,
      s"$name is a reserved metadata view name")
    catalog(s).put(name, (provider, path))
    catalogDir(s).foreach(appendOp(s, _, "register", name, provider, path))
  }

  private def dropEntry(s: SparkSession, name: String): Boolean = {
    val had = catalog(s).remove(name).isDefined
    if (had) {
      catalogDir(s).foreach(appendOp(s, _, "drop", name))
      // The read path binds catalog names through session temp views,
      // REPLACING them only while the name is still cataloged — so a
      // dropped (or renamed-away) name would otherwise keep resolving
      // to its stale snapshot in THIS session (r16 finding: SELECT
      // after ALTER TABLE … RENAME TO silently read the old name).
      s.catalog.dropTempView(name)
    }
    had
  }

  // ---- BEGIN / COMMIT / ROLLBACK: transactions ---------------------
  // DuckDB's Connection transaction UX (reference:duckdb:24-35 — every
  // Query runs inside an explicit or auto transaction) re-expressed
  // for lake tables as COMPENSATING transactions: statements commit
  // through the formats normally (each commit stays durable and
  // time-travelable), BEGIN records each table's pre-transaction
  // version at FIRST touch plus an undo action per catalog mutation,
  // ROLLBACK restores every touched table (DeltaLite.restore /
  // IcebergLite.rollbackTo — metadata-only, nothing rewritten) and
  // replays the catalog undos in reverse, COMMIT discards the undo
  // log. Semantics vs a WAL engine, stated honestly: atomicity and
  // durability hold (a rollback is complete and exact, across tables
  // AND formats); isolation is per-statement — other sessions can
  // observe intermediate commits before COMMIT, and the session is
  // the table's single writer for the transaction's span (the lake
  // formats' single-winner commit claims protect the log, but a
  // concurrent writer's commits would be swept away by this
  // session's restore). That is the standard compensation contract
  // multi-table lakehouse pipelines use; true cross-table isolation
  // needs a coordinating catalog service, out of scope by design.
  /** Per-table pre-transaction restore points (first touch wins, see
    * [[LakeFormat.restorePoint]]) and the catalog undo log.
    */
  private case class TxnState(
      dmlBase: scala.collection.mutable.LinkedHashMap[String, () => Unit],
      catalogUndo: scala.collection.mutable.ArrayBuffer[() => Unit])

  private val txns = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, TxnState]())

  private def txnOf(s: SparkSession): Option[TxnState] =
    Option(txns.get(s))

  /** Record `path`'s current version/snapshot the first time an active
    * transaction touches it; no-op outside a transaction.
    */
  private def recordTableTouch(s: SparkSession, fmt: LakeFormat,
      path: String): Unit =
    txnOf(s).foreach { t =>
      if (!t.dmlBase.contains(path))
        t.dmlBase.put(path, fmt.restorePoint(s, path))
    }

  /** Record a catalog-mutation undo; no-op outside a transaction. */
  private def recordCatalogUndo(s: SparkSession)(undo: => Unit): Unit =
    txnOf(s).foreach(_.catalogUndo += (() => undo))

  private def runBegin(s: SparkSession): Unit = {
    require(txnOf(s).isEmpty, "a transaction is already active " +
      "(nested BEGIN is not supported)")
    txns.put(s, TxnState(scala.collection.mutable.LinkedHashMap.empty,
      scala.collection.mutable.ArrayBuffer.empty))
  }

  private def runCommit(s: SparkSession): Unit = {
    require(txnOf(s).isDefined, "COMMIT outside a transaction")
    txns.remove(s)
    ()
  }

  private def runRollback(s: SparkSession): Unit = {
    val t = txnOf(s).getOrElse(
      throw new IllegalArgumentException("ROLLBACK outside a transaction"))
    // Deactivate FIRST: the restore/undo calls below must not record
    // themselves into the transaction they are unwinding.
    txns.remove(s)
    // Tables first (restores work on paths, independent of catalog
    // state), then catalog undos in reverse mutation order.
    t.dmlBase.values.foreach(_.apply())
    t.catalogUndo.reverseIterator.foreach(_.apply())
  }

  /** ROLLBACK if a transaction is active (cleanup hook for query
    * closures: a failure mid-script must not leak an open transaction
    * into the session's next statement).
    */
  def rollbackIfActive(s: SparkSession): Unit =
    if (txnOf(s).isDefined) runRollback(s)

  /** Statements whose effects have no undo action (catalog topology,
    * whole-catalog IO, session macros) refuse inside a transaction —
    * loud beats a ROLLBACK that silently leaves them standing.
    */
  private def requireNoTxn(s: SparkSession, what: String): Unit =
    require(txnOf(s).isEmpty,
      s"$what is not transactional — run it outside BEGIN…COMMIT")

  private val BeginRe =
    """(?is)\s*BEGIN(?:\s+TRANSACTION)?\s*;?\s*""".r
  private val CommitRe = """(?is)\s*COMMIT\s*;?\s*""".r
  private val RollbackRe = """(?is)\s*ROLLBACK\s*;?\s*""".r

  // ---- SET / PRAGMA / RESET session options ------------------------
  // The highest-frequency migration blocker: every real script opens
  // with `SET threads=…` / `PRAGMA memory_limit=…` (the reference
  // engine itself issues SET in safe mode, reference:duckdb:118-125).
  // Three tiers, all pinned in the spec:
  //   MAPPED — an equivalent Spark session conf exists and applies:
  //     threads → spark.sql.shuffle.partitions (the parallelism
  //     advisory; the prior value is remembered so RESET restores IT,
  //     not Spark's global default), TimeZone → accepted only as UTC
  //     (the engine session pins UTC — every epoch-grid date identity
  //     depends on it, so a non-UTC SET refuses loudly instead of
  //     silently skewing timestamps).
  //   IGNORABLE — pure resource/UX knobs with no query semantics
  //     (memory_limit, progress bars, object cache, insertion order,
  //     checkpointing, temp dirs, profiling outputs): warn-and-ignore
  //     no-ops behind the explicit spark.graft.sql.lenientSet flag,
  //     loud refusals without it (a silent default would hide that
  //     the knob did nothing).
  //   EVERYTHING ELSE — refused loudly, including semantic options
  //     (default_null_order, default_order, …) that MUST never be
  //     ignored: they change answers.
  // A dotted name (spark.sql.*) falls through to Spark's own SET.
  private val SetOptionRe =
    ("(?is)^\\s*SET\\s+(?:(SESSION|GLOBAL|LOCAL)\\s+)?([A-Za-z_]\\w*)" +
      "\\s*(?:=|\\bTO\\b)\\s*(.+?)\\s*;?\\s*$").r
  private val ResetOptionRe =
    "(?is)^\\s*RESET\\s+([A-Za-z_]\\w*)\\s*;?\\s*$".r
  private val PragmaRe =
    "(?is)^\\s*PRAGMA\\s+([A-Za-z_]\\w*)\\s*(?:=\\s*(.+?))?\\s*;?\\s*$".r
  private val PragmaCallRe =
    "(?is)^\\s*PRAGMA\\s+([A-Za-z_]\\w*)\\s*\\(.*$".r

  // ---- INSTALL / LOAD extension tier -------------------------------
  // The reference's extension lifecycle (reference:duckdb:30-52 — the
  // worked INSTALL/LOAD postgres example: LoadStatement → PhysicalLoad
  // → InstallExtension / LoadExternalExtension). This engine has no
  // dynamic-extension machinery — every capability those extensions
  // add is either NATIVE here or has a first-class graft path — so the
  // statements are warn-ignored under spark.graft.sql.lenientSet (a
  // migration script opening with INSTALL httpfs; LOAD httpfs; runs)
  // and refused by default with the SAME message naming the built-in.
  private val InstallExtRe =
    ("(?is)^\\s*(FORCE\\s+)?INSTALL\\s+['\"]?([A-Za-z0-9_\\-]+)['\"]?" +
      "\\s*(?:FROM\\s+('[^']*'|\\S+))?\\s*;?\\s*$").r
  private val LoadExtRe =
    "(?is)^\\s*LOAD\\s+['\"]?([A-Za-z0-9_\\-]+)['\"]?\\s*;?\\s*$".r

  /** What each known extension name maps to HERE — the message names
    * the native equivalent so a script author knows what to use (or
    * that nothing is needed at all).
    */
  private val ExtensionAnalogs = Map(
    "parquet" -> "parquet reads/writes are native (spark.read.parquet)",
    "json" -> "JSON reads and functions are native (read_json / to_json)",
    "httpfs" -> ("remote filesystems are native via Hadoop FileSystems " +
      "(s3a://, abfs://, https:// paths on spark.read)"),
    "azure" -> "Azure storage is native via Hadoop abfs:// paths",
    "aws" -> "S3 is native via Hadoop s3a:// paths",
    "postgres" -> ("external databases scan via spark.read.jdbc " +
      "(the s51 path: filter-pushed dim scan, broadcast to lake facts)"),
    "postgres_scanner" -> ("external databases scan via spark.read.jdbc " +
      "(the s51 path)"),
    "mysql" -> "external databases scan via spark.read.jdbc (the s51 path)",
    "sqlite" -> "external databases scan via spark.read.jdbc (the s51 path)",
    "sqlite_scanner" ->
      "external databases scan via spark.read.jdbc (the s51 path)",
    "delta" -> "Delta tables are native (USING deltalite)",
    "iceberg" -> "Iceberg tables are native (USING iceberglite)",
    "icu" -> ("timezone-aware work is native (SET TimeZone + session-" +
      "zone semantics)"),
    "fts" -> "full-text scoring is native (match_bm25)",
    "vss" -> ("vector similarity is native (the a01-a06 ANN operators: " +
      "graft_dot, IVF/LSH top-k)"),
    "tpch" -> "TPC-H data ships as the test parquet tables",
    "tpcds" -> "no generator here - supply parquet inputs",
    "excel" -> "no Excel reader here - convert to parquet/csv first",
    "spatial" -> "no spatial types here")

  // ---- CHECKPOINT tier ----------------------------------------------
  // DuckDB's WAL flush. A lake engine has no WAL — every commit is
  // already durable — and the nearest ANALOG (rewriting small files /
  // rebasing deletion vectors) is the explicit OPTIMIZE/compact
  // surface. Same tier shape as INSTALL/LOAD: warn-ignore under
  // lenientSet naming the analog, refuse by default.
  private val CheckpointRe =
    "(?is)^\\s*(FORCE\\s+)?CHECKPOINT(?:\\s+[A-Za-z_]\\w*)?\\s*;?\\s*$".r
  private val BareTruncateRe =
    "(?is)^\\s*TRUNCATE\\s+(?!TABLE\\b)([A-Za-z_]\\w*)\\s*;?\\s*$".r

  // ---- OPTIMIZE / VACUUM / ANALYZE at the text entry ----------------
  // The maintenance surface the engine's own messages point at (s11/
  // s17/s18/s50 had API-only spellings until r16). OPTIMIZE <t>
  // bin-packs small files; OPTIMIZE <t> ZORDER BY (cols) is s18's
  // Morton-order rewrite (deltalite; iceberglite refuses naming the
  // delta path); VACUUM <t> [RETAIN n VERSIONS] garbage-collects
  // unreferenced files (Delta vacuum / Iceberg expireSnapshots). Bare
  // VACUUM / ANALYZE / VACUUM ANALYZE (DuckDB's whole-database
  // maintenance) warn-ignore under lenientSet naming the per-table
  // statements — whole-catalog maintenance at 100 TB is a scheduled
  // job per table, never one blocking statement.
  private val BareMaintRe =
    "(?is)^\\s*(VACUUM\\s+ANALYZE|VACUUM|ANALYZE)\\s*;?\\s*$".r
  private val OptimizeRe =
    ("(?is)^\\s*OPTIMIZE\\s+([A-Za-z_]\\w*)" +
      "(?:\\s+ZORDER\\s+BY\\s*\\(([^)]*)\\))?" +
      "(?:\\s+TARGET\\s+(\\d+)\\s+FILES?)?\\s*;?\\s*$").r
  private val VacuumTableRe =
    ("(?is)^\\s*VACUUM\\s+([A-Za-z_]\\w*)" +
      "(?:\\s+RETAIN\\s+(\\d+)\\s+VERSIONS?)?\\s*;?\\s*$").r

  private def maintTarget(s: SparkSession, what: String,
      tbl: String): (LakeFormat, String) =
    lakeEntry(catalog(s).get(tbl), s"$tbl is a view — $what targets lake " +
      "tables", s"$what: table $tbl not in catalog")

  /** A catalog entry's lake table as (format, path): the one step that
    * turns a stored provider into a [[LakeFormat]]. Views fail with
    * `isView`, a missing entry with `missing`.
    */
  private def lakeEntry(e: Option[(String, String)], isView: => String,
      missing: => String): (LakeFormat, String) = e match {
    case Some(("view", _)) => throw new IllegalArgumentException(isView)
    case Some((prov, path)) => (LakeFormat.of(prov), path)
    case None => throw new IllegalArgumentException(missing)
  }

  /** The format a CREATE names with `USING` (deltalite by default). */
  private def createFormat(spec: Option[String]): LakeFormat =
    LakeFormat.of(spec.map(_.toLowerCase).getOrElse(DeltaLite.provider))

  private def runOptimize(s: SparkSession, tbl: String,
      zcolsRaw: String, targetRaw: String): DataFrame = {
    val (fmt, path) = maintTarget(s, "OPTIMIZE", tbl)
    requireNoTxn(s, "OPTIMIZE") // physical rewrite; not undoable cheaply
    val target = Option(targetRaw).map(_.toInt).getOrElse(
      math.max(1, s.sparkContext.defaultParallelism / 8))
    Option(zcolsRaw) match {
      case Some(raw) =>
        val cols = raw.split(",").map(_.trim).filter(_.nonEmpty)
        require(cols.nonEmpty, "ZORDER BY needs at least one column")
        require(fmt == DeltaLite,
          "OPTIMIZE … ZORDER BY is the deltalite Morton-order rewrite " +
            s"(s18); $tbl uses ${fmt.provider} — convert or use plain " +
            "OPTIMIZE")
        DeltaLite.compactZOrder(s, path, cols.toSeq, target)
      case None => fmt.compact(s, path, target)
    }
    s.emptyDataFrame
  }

  private def runVacuumTable(s: SparkSession, tbl: String,
      retainRaw: String): DataFrame = {
    import s.implicits._
    val (fmt, path) = maintTarget(s, "VACUUM", tbl)
    requireNoTxn(s, "VACUUM") // deletes files; time travel shrinks
    val retain = Option(retainRaw).map(_.toInt).getOrElse(1)
    val n =
      if (fmt == DeltaLite) DeltaLite.vacuum(s, path, retainVersions = retain)
      else IcebergLite.expireSnapshots(s, path, retain = retain)
    Seq(n.toString.toLong).toDF("files_removed")
  }

  // ---- CREATE SEQUENCE / nextval / currval ---------------------------
  // DuckDB sequences, SESSION-scoped: the definition registers a
  // counter; nextval('s')/currval('s') substitute as typed literals at
  // the text entry and the statement re-enters the full dispatch.
  // Substitution is per-OCCURRENCE (a VALUES list with two nextval
  // calls gets two consecutive values — DuckDB's per-evaluation-site
  // rule for constant contexts), but a ROW-PRODUCING query (any FROM)
  // refuses loudly: per-row sequence advancement is inherently serial
  // — the 100 TB answer is row_number() over a window or a
  // monotonically-increasing id, and silently evaluating ONE value per
  // occurrence would be wrong. DURABILITY (r17): under a configured
  // catalog dir, sequence DEFINITIONS journal like views/macros/enums
  // (seq_register/seq_drop ops) and the counter CHECKPOINTS once per
  // statement batch that advanced it (seq_advance carries the
  // post-statement next value) — one op per statement, never one per
  // nextval, and the row-producing refusal above keeps this path cold
  // at scale. currval stays session-local (Postgres semantics: currval
  // before any nextval in a session is an error even for a persisted
  // sequence).
  private val CreateSeqRe =
    ("(?is)^\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?(?:TEMP(?:ORARY)?\\s+)?" +
      "SEQUENCE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?([A-Za-z_]\\w*)" +
      "((?:\\s+(?:START(?:\\s+WITH)?|INCREMENT(?:\\s+BY)?)\\s+-?\\d+)*)" +
      "\\s*;?\\s*$").r
  private val DropSeqRe =
    ("(?is)^\\s*DROP\\s+SEQUENCE\\s+(IF\\s+EXISTS\\s+)?" +
      "([A-Za-z_]\\w*)\\s*;?\\s*$").r
  private val SeqCallKeyword =
    "(?is).*\\b(nextval|currval)\\s*\\(.*".r

  private final class SeqState(val start: Long, val inc: Long) {
    private val next = new java.util.concurrent.atomic.AtomicLong(start)
    private val last =
      new java.util.concurrent.atomic.AtomicReference[Option[Long]](None)
    def nextval(): Long = {
      val v = next.getAndAdd(inc); last.set(Some(v)); v
    }
    def currval(name: String): Long = last.get.getOrElse(
      throw new IllegalArgumentException(
        s"currval('$name'): nextval has not been called in this session"))
    /** The value the next nextval() returns — the seq_advance payload. */
    def peek: Long = next.get
    /** Restore a journaled checkpoint (op-log replay only). */
    def setNext(v: Long): Unit = next.set(v)
  }
  private val sequences = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, SeqState]]())
  private def seqsOf(s: SparkSession) = sequences.synchronized {
    var m = sequences.get(s)
    if (m == null) {
      m = scala.collection.concurrent.TrieMap.empty[String, SeqState]
      // hydrate durable sequences (definitions + last checkpoint)
      catalogDir(s).foreach(dir => replaySeqOps(s, dir, m))
      sequences.put(s, m)
    }
    m
  }

  /** Replay ONLY the sequence ops of a durable catalog into `m` —
    * definitions (seq_register: provider field carries "start,inc"),
    * drops, and per-statement counter checkpoints (seq_advance: the
    * provider field carries the post-statement next value).
    */
  private def replaySeqOps(s: SparkSession, dir: String,
      m: scala.collection.concurrent.TrieMap[String, SeqState]): Unit = {
    val p = opsDir(dir)
    val f = p.getFileSystem(s.sessionState.newHadoopConf())
    if (f.exists(p)) {
      f.listStatus(p).map(_.getPath)
        .filter(_.getName.endsWith(".json")).sortBy(_.getName)
        .foreach { fp =>
          val in = f.open(fp)
          val n = try Json.readTree(in) finally in.close()
          n.get("op").asText() match {
            case "seq_register" =>
              val parts = n.get("provider").asText().split(",")
              m.put(n.get("name").asText(),
                new SeqState(parts(0).toLong, parts(1).toLong))
            case "seq_advance" =>
              m.get(n.get("name").asText())
                .foreach(_.setNext(n.get("provider").asText().toLong))
            case "seq_drop" => m.remove(n.get("name").asText())
            case _ =>
          }
        }
    }
  }

  /** Journal one post-statement counter checkpoint per advanced
    * sequence (the durable half of nextval).
    */
  private[graft] def journalSeqAdvance(s: SparkSession,
      names: Seq[String]): Unit =
    catalogDir(s).foreach { dir =>
      names.distinct.foreach { name =>
        seqsOf(s).get(name).foreach(st =>
          appendOp(s, dir, "seq_advance", name, st.peek.toString, ""))
      }
    }

  private def createSequence(s: SparkSession, orReplace: Boolean,
      ifNotExists: Boolean, name: String, opts: String): Unit = {
    val start = "(?i)START(?:\\s+WITH)?\\s+(-?\\d+)".r
      .findFirstMatchIn(opts).map(_.group(1).toLong).getOrElse(1L)
    val inc = "(?i)INCREMENT(?:\\s+BY)?\\s+(-?\\d+)".r
      .findFirstMatchIn(opts).map(_.group(1).toLong).getOrElse(1L)
    require(inc != 0, s"CREATE SEQUENCE $name: INCREMENT must be nonzero")
    val created =
      if (orReplace) { seqsOf(s).put(name.toLowerCase,
        new SeqState(start, inc)); true }
      else {
        val existed = seqsOf(s).putIfAbsent(name.toLowerCase,
          new SeqState(start, inc)).isDefined
        require(!existed || ifNotExists, s"sequence $name already exists")
        !existed
      }
    if (created) catalogDir(s).foreach(appendOp(s, _, "seq_register",
      name.toLowerCase, s"$start,$inc", ""))
  }

  /** Substitute nextval('s')/currval('s') occurrences (outside string
    * literals) with the counter's typed literal values, left to right.
    * Returns the text unchanged when no real occurrence exists.
    */
  private def rewriteSeqCalls(s: SparkSession, st: String): String = {
    val callRe = "(?i)\\b(nextval|currval)\\s*\\(\\s*'([^']*)'\\s*\\)".r
    // quote-parity check per match; replace left-to-right
    val sb = new StringBuilder
    var pos = 0
    var changed = false
    val advanced = Seq.newBuilder[String]
    for (m <- callRe.findAllMatchIn(st)) {
      if (st.substring(0, m.start).count(_ == '\'') % 2 == 0) {
        // currval is CONSTANT for the statement (the last value
        // returned) — safe to substitute anywhere; only nextval's
        // per-evaluation-site advancement clashes with row-producing
        // queries.
        // Row-producing contexts: anything with a FROM, plus per-row
        // DML heads (UPDATE ... SET / DELETE / MERGE evaluate their
        // expressions once per target row even without a FROM — a
        // single substituted literal would silently diverge from
        // per-row sequence advancement).
        val perRowHead =
          "(?is)^\\s*(UPDATE|DELETE|MERGE)\\b".r.findFirstIn(st).isDefined
        require(m.group(1).equalsIgnoreCase("currval") ||
            (!perRowHead && "(?i)\\bFROM\\b".r.findFirstIn(
              stripLiteralBodies(st)).isEmpty),
          s"${m.group(1)} in a row-producing query is not supported — " +
            "sequences advance per evaluation site, which is inherently " +
            "serial; use row_number() over a window (q35 idiom) or " +
            "monotonically_increasing_id for distributed id assignment")
        val seq = seqsOf(s).getOrElse(m.group(2).toLowerCase,
          throw new IllegalArgumentException(
            s"no sequence named ${m.group(2)} (CREATE SEQUENCE first; " +
              "sequences are session-scoped)"))
        val v = if (m.group(1).equalsIgnoreCase("nextval")) {
          advanced += m.group(2).toLowerCase; seq.nextval()
        } else seq.currval(m.group(2))
        sb ++= st.substring(pos, m.start)
        sb ++= s"CAST($v AS BIGINT)"
        pos = m.end
        changed = true
      }
    }
    if (!changed) st else {
      // one durable checkpoint per advanced sequence per statement
      journalSeqAdvance(s, advanced.result())
      sb ++= st.substring(pos); sb.toString
    }
  }

  private def runInstallLoad(s: SparkSession, verb: String,
      ext: String): Unit = {
    val name = ext.toLowerCase
    val analog = ExtensionAnalogs.getOrElse(name,
      "no graft equivalent is known for this extension")
    require(lenientSet(s),
      s"$verb $ext: graft has no dynamic-extension machinery — " +
        s"$analog. Set spark.graft.sql.lenientSet=true to " +
        "warn-and-ignore extension statements in migration scripts.")
    System.err.println(
      s"graft: ignoring $verb $ext ($analog; lenientSet on)")
  }

  // ---- CREATE INDEX tier --------------------------------------------
  // Secondary B-tree indexes don't exist on a lake engine; the honest
  // analogs are s24's per-file bloom SKIPPING index (point lookups,
  // single column, deltalite) and s18's OPTIMIZE … ZORDER BY
  // (multi-column clustering for range stats). A single-column CREATE
  // INDEX on a deltalite table ROUTES to BloomIndex.build — same user
  // intent (fast point lookup), honest implementation — and registers
  // the name session-side so DROP INDEX works; everything else refuses
  // naming the analog. UNIQUE refuses always: a constraint the engine
  // won't enforce must never be silently accepted.
  private val CreateIndexRe =
    ("(?is)^\\s*CREATE\\s+(UNIQUE\\s+)?INDEX\\s+(?:IF\\s+NOT\\s+EXISTS" +
      "\\s+)?([A-Za-z_]\\w*)\\s+ON\\s+([A-Za-z_]\\w*)\\s*" +
      "\\((.*)\\)\\s*;?\\s*$").r
  private val DropIndexRe =
    "(?is)^\\s*DROP\\s+INDEX\\s+(?:(IF\\s+EXISTS)\\s+)?([A-Za-z_]\\w*)\\s*;?\\s*$".r

  // per-session name → (table path, column); the index FILE is durable
  // on the table (_index/bloom-<col>.json), the NAME binding is
  // session-scoped like prepared statements
  private val namedIndexes = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, (String, String)]]())
  private def indexesOf(s: SparkSession) = namedIndexes.synchronized {
    var m = namedIndexes.get(s)
    if (m == null) {
      m = scala.collection.concurrent.TrieMap.empty[String, (String, String)]
      namedIndexes.put(s, m)
    }
    m
  }

  private def runCreateIndex(s: SparkSession, unique: Boolean,
      idxName: String, table: String, colsRaw: String): Unit = {
    require(!unique,
      "CREATE UNIQUE INDEX is not supported: the engine will not " +
        "enforce a uniqueness constraint, and accepting one silently " +
        "would be a lie — deduplicate explicitly (d01/q35 idioms)")
    val cols = colsRaw.split(",").map(_.trim).filter(_.nonEmpty)
    require(cols.length == 1 && "^[A-Za-z_]\\w*$".r.matches(cols.head),
      s"CREATE INDEX on ${cols.length} column(s)/expression(s): only a " +
        "single plain column routes to the bloom skipping index " +
        "(point-lookup data skipping); for multi-column clustering " +
        s"use OPTIMIZE $table ZORDER BY (${colsRaw.trim})")
    val (prov, path) = catalog(s).getOrElse(table.toLowerCase,
      throw new IllegalArgumentException(
        s"CREATE INDEX: table $table is not in the catalog"))
    require(prov == DeltaLite.provider,
      s"CREATE INDEX routes to the per-file bloom index, which lives " +
        s"on deltalite tables; $table uses $prov")
    graft.sources.BloomIndex.build(s, path, cols.head)
    indexesOf(s).put(idxName.toLowerCase, (path, cols.head))
    System.err.println(
      s"graft: CREATE INDEX $idxName built a per-file bloom SKIPPING " +
        s"index on $table(${cols.head}) — point-lookup file pruning, " +
        "not a B-tree (no ordered range-seek)")
  }

  private val IgnorableOptions = Set(
    "memory_limit", "max_memory", "enable_progress_bar",
    "disable_progress_bar", "progress_bar_time", "enable_object_cache",
    "preserve_insertion_order", "checkpoint_threshold",
    "wal_autocheckpoint", "temp_directory", "max_temp_directory_size",
    "enable_profiling", "profiling_output", "explain_output",
    "worker_threads", "external_threads", "force_compression",
    "force_bitpacking_mode", "autoinstall_known_extensions",
    "autoload_known_extensions", "enable_http_metadata_cache")

  // per-session prior values for mapped options, so RESET restores the
  // session's own baseline rather than Spark's global default
  private val priorConf = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, String]]())
  private def priors(s: SparkSession) = priorConf.synchronized {
    var m = priorConf.get(s)
    if (m == null) {
      m = scala.collection.concurrent.TrieMap.empty[String, String]
      priorConf.put(s, m)
    }
    m
  }

  private def lenientSet(s: SparkSession): Boolean =
    s.conf.get("spark.graft.sql.lenientSet", "false").toBoolean

  private def runSetOption(s: SparkSession, scope: String, name0: String,
      value0: String): Unit = {
    val name = name0.toLowerCase
    require(scope == null || !scope.equalsIgnoreCase("LOCAL"),
      "SET LOCAL (transaction-scoped options) is not supported — " +
        "use plain SET")
    val value = value0.trim.stripPrefix("'").stripSuffix("'")
    name match {
      case "threads" =>
        val n = try value.toInt catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"SET threads expects an integer, got: $value0") }
        require(n >= 1, s"SET threads expects a positive integer, got $n")
        priors(s).getOrElseUpdate("spark.sql.shuffle.partitions",
          s.conf.get("spark.sql.shuffle.partitions"))
        s.conf.set("spark.sql.shuffle.partitions", n.toString)
      case "timezone" =>
        // Tiered non-UTC support: any valid Olson/offset zone is
        // ACCEPTED and applied to the Spark session (wall-clock
        // statement classes behave identically on both engines under
        // the same session zone, so a non-UTC migration script no
        // longer dies on line 1). What stays UTC-only is the
        // epoch-GRID rewrite families — their DuckDB-parity
        // identities are proven under the UTC session only; those
        // statements refuse while a non-UTC zone is active (see
        // guardEpochGrid). UTC-equivalent spellings (Etc/UTC, GMT,
        // +00:00, Z) normalize to the baseline "UTC".
        val zid = try java.time.ZoneId.of(value) catch {
          case e: java.time.DateTimeException =>
            throw new IllegalArgumentException(
              s"SET TimeZone='$value' is not a valid zone id " +
                s"(${e.getMessage})")
        }
        val norm =
          if (zid.normalized() == java.time.ZoneOffset.UTC ||
              zid.getId == "GMT" || zid.getId == "Etc/GMT") "UTC"
          else zid.getId
        priors(s).getOrElseUpdate("spark.sql.session.timeZone",
          s.conf.get("spark.sql.session.timeZone", "UTC"))
        s.conf.set("spark.sql.session.timeZone", norm)
      case _ if IgnorableOptions(name) =>
        require(lenientSet(s),
          s"option '$name' has no Spark equivalent — set " +
            "spark.graft.sql.lenientSet=true to warn-and-ignore " +
            "resource/UX options, or drop the statement")
        System.err.println(
          s"graft: ignoring SET $name=$value (no Spark equivalent; " +
            "lenientSet is on)")
      case _ => throw new IllegalArgumentException(
        s"unrecognized or semantic option '$name' — graft maps threads/" +
          "TimeZone, warn-ignores resource knobs under " +
          "spark.graft.sql.lenientSet, and refuses the rest (semantic " +
          "options like default_null_order change answers)")
    }
  }

  private def runResetOption(s: SparkSession, name0: String): Unit =
    name0.toLowerCase match {
      case "threads" =>
        priors(s).remove("spark.sql.shuffle.partitions")
          .foreach(s.conf.set("spark.sql.shuffle.partitions", _))
      case "timezone" =>
        priors(s).remove("spark.sql.session.timeZone")
          .foreach(s.conf.set("spark.sql.session.timeZone", _))
      case n if IgnorableOptions(n) =>
        require(lenientSet(s),
          s"option '$n' has no Spark equivalent — set " +
            "spark.graft.sql.lenientSet=true to warn-and-ignore it")
        System.err.println(s"graft: ignoring RESET $n")
      case n => throw new IllegalArgumentException(
        s"unrecognized option '$n' in RESET")
    }

  // ---- epoch-grid guard for the non-UTC timezone tier --------------
  // SET TimeZone='<olson>' is accepted (runSetOption above) because
  // wall-clock statement classes — extract dow/year/month, date_diff
  // day/month/year, strftime rendering, string/number work — behave
  // identically on both engines under the SAME session zone. The
  // epoch-GRID rewrite families do NOT carry that proof: their parity
  // identities (floor(unix_micros/unit) boundary grids, epoch()
  // seconds rebuilds, time_bucket's 2000-01-03 origin alignment, the
  // sub-second EXTRACT pmod grids) were probed under the UTC session,
  // where the epoch grid IS the wall-clock grid. Under another zone
  // they would run with unproven parity, so each refuses loudly while
  // a non-UTC zone is active, naming the dependency.
  // each probe's match START must be code (a function-name token can
  // only begin outside a string literal), so a quote-parity check at
  // the start position keeps "literal mentions" from tripping the
  // guard while the unit/field literal INSIDE the call still matches
  private val GridDependentProbes: Seq[(String, scala.util.matching.Regex)] =
    Seq(
      "date_diff/datediff with a sub-day unit (the " +
        "floor(unix_micros/unit) boundary-crossing grid)" ->
        ("(?is)\\b(?:date_diff|datediff)\\s*\\(\\s*'(?:hour|minute|" +
          "second|millisecond|microsecond)'").r,
      "epoch()/epoch_ms()/epoch_us() (UTC epoch-seconds rebuild from " +
        "unix_micros)" ->
        "(?is)\\bepoch(?:_ms|_us)?\\s*\\(".r,
      "time_bucket (integer arithmetic on the 2000-01-03 UTC origin " +
        "grid)" ->
        "(?is)\\btime_bucket\\s*\\(".r,
      "EXTRACT/date_part of epoch/second/millisecond/microsecond " +
        "(the unix_micros pmod grid)" ->
        ("(?is)(?:\\bextract\\s*\\(\\s*|\\bdate_part\\s*\\(\\s*')" +
          "(?:epoch|second|millisecond|microsecond)\\b").r)

  private def guardEpochGrid(s: SparkSession, st: String): Unit = {
    val tz = s.conf.get("spark.sql.session.timeZone", "UTC")
    if (tz != "UTC") {
      for ((what, re) <- GridDependentProbes;
           m <- re.findAllMatchIn(st)
           if st.substring(0, m.start).count(_ == '\'') % 2 == 0)
        throw new IllegalArgumentException(
          s"statement uses $what, whose DuckDB-parity rewrite is " +
            s"proven under the UTC session only; the session TimeZone " +
            s"is '$tz' — SET TimeZone='UTC' before this statement, or " +
            "keep the non-UTC zone and avoid the epoch-grid family")
    }
  }

  // ---- ATTACH / DETACH: multi-catalog ------------------------------
  // DuckDB's hallmark entry-path UX (`ATTACH 'other.db' AS x` — the
  // Connection owns multiple catalogs, reference:duckdb:24-45):
  // `ATTACH '<lake root>' AS alias` binds a SECOND durable-catalog
  // root under a name, `alias.table` addresses its tables anywhere a
  // relation can appear (including cross-catalog joins), CREATE TABLE
  // alias.t / DROP TABLE alias.t write through to ITS op log, and
  // `DETACH alias` unbinds. Resolution replays the attached root's op
  // log per statement — the log is metadata-sized (one tiny JSON per
  // DDL op, never data-proportional), so live cross-session visibility
  // costs one directory listing, same as the primary catalog's replay.
  private val attachedCatalogs = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, String]]())

  private def attached(s: SparkSession):
      scala.collection.concurrent.TrieMap[String, String] =
    attachedCatalogs.synchronized {
      var m = attachedCatalogs.get(s)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty
        attachedCatalogs.put(s, m)
      }
      m
    }

  private val AttachRe =
    """(?is)\s*ATTACH\s+'([^']+)'\s+AS\s+([A-Za-z_][A-Za-z_0-9]*)\s*;?\s*""".r
  private val DetachRe =
    """(?is)\s*DETACH\s+([A-Za-z_][A-Za-z_0-9]*)\s*;?\s*""".r

  private def runAttach(s: SparkSession, dir: String, alias: String): Unit = {
    require(dir.nonEmpty, "ATTACH needs a non-empty lake root path")
    require(!attached(s).contains(alias),
      s"catalog $alias is already attached — DETACH it first")
    // Eagerly replay once so a bad path/op log fails AT the ATTACH,
    // not on first use (an empty/new root is fine — DuckDB semantics:
    // attaching a fresh database creates it).
    replayOps(s, dir, scala.collection.concurrent.TrieMap.empty)
    attached(s).put(alias, dir)
  }

  /** Best-effort DETACH for failure-path cleanup (try/finally in the
    * attach-use-detach query closures): removing an alias that is not
    * attached is a no-op, so a leaked alias never survives a failed
    * run to break the NEXT run's ATTACH ('already attached') or
    * pollute graft_catalogs.
    */
  private[graft] def detachIfExists(s: SparkSession, alias: String): Unit = {
    attached(s).remove(alias); ()
  }

  /** The attached catalog's current entries (op-log replay). */
  private def attachedEntries(s: SparkSession, alias: String):
      scala.collection.concurrent.TrieMap[String, (String, String)] = {
    val dir = attached(s).getOrElse(alias,
      throw new IllegalArgumentException(s"catalog $alias is not attached"))
    val m = scala.collection.concurrent.TrieMap
      .empty[String, (String, String)]
    replayOps(s, dir, m)
    m
  }

  /** (provider, path) of `alias.name` via the attached catalog — the
    * resolution a STREAMING reader needs (the DSv2 lake sources take
    * a path, and a stream's lifetime outlives any one statement).
    */
  def attachedLocation(s: SparkSession, alias: String, name: String):
      (String, String) =
    attachedEntries(s, alias).get(name) match {
      case Some(("view", _)) => throw new IllegalArgumentException(
        s"$alias.$name is a view — streams tail lake tables")
      case Some(pp) => pp
      case None => throw new IllegalArgumentException(
        s"table $alias.$name not in attached catalog")
    }

  def attachedTable(s: SparkSession, alias: String, name: String):
      DataFrame =
    attachedEntries(s, alias).get(name) match {
      case Some(("view", text)) =>
        // A view stored in an ATTACHED catalog binds its text in THAT
        // catalog's scope (bare names resolve against the attached
        // entries, never the primary catalog or session temp views —
        // the wrong-scope hazard that used to force a refusal here).
        require(viewDepth.get() < 16,
          s"view chain deeper than 16 expanding $alias.$name — cycle?")
        viewDepth.set(viewDepth.get() + 1)
        try expandAttachedView(s, alias, name, text)
        finally viewDepth.set(viewDepth.get() - 1)
      case Some((prov, p)) => LakeFormat.of(prov).snapshot(s, p)
      case None => throw new IllegalArgumentException(
        s"table $alias.$name not in attached catalog")
    }

  /** Expand an attached-catalog view's stored SQL text with its OWN
    * catalog as the resolution scope: bare relation names bind against
    * `alias`'s entries, `other.t` qualified names bind through any
    * attached catalog, and anything else refuses loudly — a view must
    * never silently capture a primary-catalog table or a session temp
    * view that happens to share a name (the classic cross-catalog
    * scoping hazard; DuckDB scopes view bodies the same way).
    */
  private def expandAttachedView(s: SparkSession, alias: String,
      name: String, text: String): DataFrame = {
    val bound = bindRelationsDeep(parse(s, text), {
      case r if r.multipartIdentifier.length == 2 &&
          attached(s).contains(r.multipartIdentifier.head) =>
        attachedTable(s, r.multipartIdentifier.head,
          r.multipartIdentifier.last).queryExecution.analyzed
      case r if r.multipartIdentifier.length == 1 =>
        val n = r.multipartIdentifier.head
        if (attachedEntries(s, alias).contains(n))
          attachedTable(s, alias, n).queryExecution.analyzed
        else throw new IllegalArgumentException(
          s"view $alias.$name references $n, which is not in catalog " +
            s"$alias — attached-view bodies bind only in their own " +
            "catalog's scope")
    })
    Glue.dataFrame(s, bound)
  }

  /** Deep relation binder: applies `f` to every UnresolvedRelation in
    * the plan INCLUDING those inside WITH-clause bodies —
    * UnresolvedWith keeps `cteRelations` out of the children
    * traversal, so a plain transform never sees them. CTE aliases are
    * names the statement itself defines; references to them are never
    * handed to `f`.
    */
  private def bindRelationsDeep(plan: LogicalPlan,
      f: PartialFunction[UnresolvedRelation, LogicalPlan]): LogicalPlan = {
    val cteNames = collectCteNames(plan)
    def go(p: LogicalPlan): LogicalPlan = p.transformUpWithSubqueries {
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (n, sa, o) =>
          (n, SubqueryAlias(sa.identifier, go(sa.child)), o)
        })
      case r: UnresolvedRelation
          if !(r.multipartIdentifier.length == 1 &&
            cteNames.contains(r.multipartIdentifier.head.toLowerCase)) &&
            f.isDefinedAt(r) => f(r)
    }
    go(plan)
  }

  private def collectCteNames(plan: LogicalPlan): Set[String] = {
    val direct = plan.collectWithSubqueries {
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        w.cteRelations.map(_._1.toLowerCase) ++
          w.cteRelations.flatMap(t => collectCteNames(t._2.child))
    }
    direct.flatten.toSet
  }

  /** Every UnresolvedRelation in the plan, including inside CTE
    * bodies (see [[bindRelationsDeep]]).
    */
  private def collectRelationsDeep(
      plan: LogicalPlan): Seq[UnresolvedRelation] = {
    val direct = plan.collectWithSubqueries {
      case r: UnresolvedRelation => r
    }
    val inCtes = plan.collectWithSubqueries {
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        w.cteRelations.flatMap(t => collectRelationsDeep(t._2.child))
    }.flatten
    direct ++ inCtes
  }

  // Guards view expansion: a view chain deeper than this is a cycle
  // (a real catalog stores the dependency graph; a depth cap gives the
  // same protection without one).
  private val viewDepth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  /** Current snapshot of a cataloged table, or the expanded query of a
    * cataloged VIEW (stored as its SQL text; re-planned on every read,
    * the classic non-materialized view contract).
    */
  def table(s: SparkSession, name: String): DataFrame =
    catalog(s).get(name) match {
      case Some(("view", text)) =>
        require(viewDepth.get() < 16,
          s"view chain deeper than 16 expanding $name — cycle?")
        viewDepth.set(viewDepth.get() + 1)
        try sql(s, text) finally viewDepth.set(viewDepth.get() - 1)
      case Some((prov, p)) => LakeFormat.of(prov).snapshot(s, p)
      case None =>
        throw new IllegalArgumentException(s"table $name not in catalog")
    }

  /** Reserved names of the catalog's metadata views — the
    * information_schema analog an embedded engine exposes, and the
    * entry point for catalog-level DATA DISCOVERY (the dominant theme
    * of the reference's lake-metadata reading list,
    * reference:metadata:25,33,38-39 — "which of my 10k tables contain
    * column X" is the first question a data-lake user asks).
    */
  val MetaTablesView = "graft_tables"
  val MetaColumnsView = "graft_columns"
  val MetaCatalogsView = "graft_catalogs"

  /** One row per visible catalog — the primary plus every ATTACHed
    * root — with its table/view counts: the `duckdb_databases()`
    * analog of the reference's multi-catalog Connection. Pure
    * metadata (op-log replays only; no data IO). Locations are
    * deliberately excluded: paths are deployment-specific, counts and
    * kinds are the portable answer.
    */
  def catalogsMeta(s: SparkSession): DataFrame = {
    import s.implicits._
    def counts(m: scala.collection.Map[String, (String, String)]) = {
      val (views, tabs) = m.values.partition(_._1 == "view")
      (tabs.size.toLong, views.size.toLong)
    }
    val primary = {
      val (t, v) = counts(catalog(s))
      ("main", "primary", t, v)
    }
    val att = attached(s).toSeq.sortBy(_._1).map { case (alias, _) =>
      val (t, v) = counts(attachedEntries(s, alias))
      (alias, "attached", t, v)
    }
    (primary +: att)
      .toDF("catalog_name", "kind", "n_tables", "n_views")
  }

  /** One row per catalog entry: (table_name, provider, location).
    * Pure metadata — no data file is opened at any table size.
    */
  def tablesMeta(s: SparkSession): DataFrame = {
    import s.implicits._
    catalog(s).toSeq.sortBy(_._1).map { case (n, (prov, p)) =>
      (n, prov, if (prov == "view") "" else p)
    }.toSeq.toDF("table_name", "provider", "location")
  }

  /** One row per column of every catalog entry: (table_name,
    * column_name, data_type, ordinal, nullable). Lake-table schemas
    * come from the format's log/metadata replay (no data IO); a view's
    * schema re-plans its text. Search over this view IS find-by-column
    * discovery: `SELECT table_name FROM graft_columns WHERE
    * column_name = 'x'`.
    */
  def columnsMeta(s: SparkSession): DataFrame = {
    import s.implicits._
    catalog(s).toSeq.sortBy(_._1).flatMap { case (n, (prov, _)) =>
      table(s, n).schema.fields.zipWithIndex.map { case (f, i) =>
        (n, f.name, f.dataType.simpleString, i + 1, f.nullable)
      }
    }.toSeq.toDF("table_name", "column_name", "data_type", "ordinal",
      "nullable")
  }

  /** Versioned snapshot of a cataloged table (`VERSION AS OF`): the log
    * version for DeltaLite, the snapshot id for IcebergLite.
    */
  def tableAt(s: SparkSession, name: String, version: Long): DataFrame = {
    val (fmt, p) = travelTarget(s, name)
    fmt.snapshot(s, p, version)
  }

  private def travelTarget(s: SparkSession,
      name: String): (LakeFormat, String) =
    lakeEntry(catalog(s).get(name),
      s"$name is a view - views do not support time travel",
      s"table $name not in catalog")

  /** Evaluate a `TIMESTAMP AS OF` expression to epoch millis: cast to
    * TIMESTAMP under the session zone (exactly what Spark's own
    * TimeTravelSpec does) and eval — the grammar guarantees a foldable
    * scalar (a literal or literal arithmetic).
    */
  private def evalTimestampMillis(s: SparkSession,
      e: org.apache.spark.sql.catalyst.expressions.Expression): Long = {
    val cast = org.apache.spark.sql.catalyst.expressions.Cast(
      e, org.apache.spark.sql.types.TimestampType,
      Some(s.sessionState.conf.sessionLocalTimeZone))
    require(e.resolved && cast.foldable,
      s"TIMESTAMP AS OF expression must be a foldable scalar: ${e.sql}")
    val micros = cast.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
    require(micros != null,
      s"TIMESTAMP AS OF expression evaluated to NULL: ${e.sql}")
    Math.floorDiv(micros.asInstanceOf[Long], 1000L)
  }

  /** Snapshot of a cataloged table as of a WALL-CLOCK instant
    * (`TIMESTAMP AS OF`): resolves through the format's own commit
    * stamps — DeltaLite commitInfo.timestamp, IcebergLite
    * timestamp-ms — to the version/snapshot current at that instant
    * (latest commit <= the instant, the rule both real formats use).
    */
  def tableAsOf(s: SparkSession, name: String, tsMillis: Long): DataFrame = {
    val (fmt, p) = travelTarget(s, name)
    fmt.snapshot(s, p, fmt.versionAt(s, p, tsMillis))
  }

  /** Snapshot of a cataloged table as of a NAMED REF (`VERSION AS OF
    * 'branch-or-tag'`) — IcebergLite refs only; DeltaLite has no named
    * refs in the protocol.
    */
  def tableAtRef(s: SparkSession, name: String, ref: String): DataFrame =
    travelTarget(s, name) match {
      case (IcebergLite, p) => IcebergLite.snapshotByRef(s, p, ref)
      case (fmt, _) => throw new IllegalArgumentException(
        s"${fmt.provider} tables have no named refs; use VERSION AS OF <n>")
    }

  /** One text statement, any kind — the `Connection::Query` analog.
    * CREATE TABLE … USING {deltalite|iceberglite} [LOCATION …]
    * [PARTITIONED BY …] AS SELECT … creates + registers; DROP TABLE
    * deregisters (data stays — external-table semantics); INSERT/
    * UPDATE/DELETE run the table format's pruned copy-on-write DML;
    * anything else (SELECT) runs through `spark.sql` with every
    * cataloged name it references bound to the table's CURRENT
    * snapshot. Returns the result rows for queries, an empty frame for
    * DDL/DML.
    */
  // EXPLAIN at the text entry (reference:duckdb:101-119 — the
  // observability half of the entry→parse→bind→plan→execute trace):
  // strip the prefix, bind the inner statement through the normal
  // path, return its plan string as one row. Expression ids (#123)
  // are normalized out so the output is stable across plans of the
  // same shape.
  // ---- PREPARE / EXECUTE / DEALLOCATE ------------------------------
  // DuckDB's SQL-level prepared statements (reference:duckdb:24-45's
  // PreparedStatement leg, at the text entry): PREPARE stores the
  // statement TEXT under a session-scoped name, EXECUTE binds the
  // argument list — `?` left-to-right or `$n` ordinals (repeats and
  // out-of-order allowed), the same marker rules as the x52 API path —
  // through Spark's parser as TYPED LITERALS (never string splicing,
  // so injection-safe), DEALLOCATE drops the name. Scope: queries
  // (SELECT shapes); prepared DML refuses loudly.
  private val preparedStmts = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, String]]())

  private def preparedOf(s: SparkSession) = preparedStmts.synchronized {
    var m = preparedStmts.get(s)
    if (m == null) {
      m = scala.collection.concurrent.TrieMap.empty[String, String]
      preparedStmts.put(s, m)
    }
    m
  }

  private val PrepareRe =
    """(?is)\s*PREPARE\s+([A-Za-z_]\w*)\s+AS\s+(.+?)\s*;?\s*""".r
  private val ExecuteRe =
    """(?is)\s*EXECUTE\s+([A-Za-z_]\w*)\s*(?:\((.*)\))?\s*;?\s*""".r
  private val DeallocRe =
    """(?is)\s*DEALLOCATE\s+(?:PREPARE\s+)?([A-Za-z_]\w*)\s*;?\s*""".r
  private val ShowTablesRe =
    """(?is)\s*SHOW\s+(?:ALL\s+)?TABLES\s*;?\s*""".r
  private val ShowDatabasesRe =
    """(?is)\s*SHOW\s+DATABASES\s*;?\s*""".r

  private def stripLiteralBodies(q: String): String = {
    val sb = new StringBuilder(q.length)
    var inS = false
    q.foreach { c =>
      if (inS) { if (c == '\'') { inS = false; sb += c } else sb += ' ' }
      else { if (c == '\'') inS = true; sb += c }
    }
    sb.toString
  }

  /** `$n` ordinals → reserved named parameters `:__pos_n` (Spark's
    * parser has no `$n` grammar); string-literal bodies skipped.
    */
  private def rewriteOrdinals(text: String): String = {
    val sb = new StringBuilder; var inS = false; var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (!inS && c == '$' && i + 1 < text.length &&
          text.charAt(i + 1).isDigit) {
        var j = i + 1
        while (j < text.length && text.charAt(j).isDigit) j += 1
        sb ++= ":__pos_" + text.substring(i + 1, j); i = j
      } else {
        if (c == '\'') inS = !inS
        sb += c; i += 1
      }
    }
    sb.toString
  }

  private def runPrepare(s: SparkSession, name: String,
      text: String): Unit = {
    // Prepared DML refuses (head-detectable — statement-level DML
    // always leads with its verb).
    require("(?is)^\\s*(INSERT|UPDATE|DELETE|MERGE)\\b".r
      .findFirstIn(text).isEmpty,
      "PREPARE covers queries; prepared DML is not supported")
    // Parse-at-PREPARE (the fail-early contract) on the same rewritten
    // form EXECUTE runs; `?` markers parse natively. A body in
    // DIALECT-ONLY grammar (operator pins like ^@, list sugar, …)
    // fails Spark's parser here but rewrites fine at EXECUTE, so a
    // ParseException on a query-shaped head defers validation to
    // EXECUTE instead of refusing text the entry accepts inline
    // (round-15 script fuzz). When the parse DOES succeed, the plan
    // type check catches CTE-led DML (`WITH … INSERT/UPDATE/…`) that
    // the head regex misses — WITH matches the query-shape head but
    // the statement is still DML (r15 advisor finding). A function pin
    // that refuses a marker (a pattern, a unit) defers to EXECUTE too,
    // which binds the marker to a literal first.
    val plan = try Some(parse(s, rewriteOrdinals(text))) catch {
      case _: org.apache.spark.sql.catalyst.parser.ParseException
          if "(?is)^\\s*(SELECT|WITH|FROM|VALUES)\\b".r
            .findFirstIn(text).isDefined => None
      case _: IllegalArgumentException => None
    }
    plan.foreach { p =>
      import org.apache.spark.sql.catalyst.plans.logical._
      val dml = p.collectFirst {
        case _: InsertIntoStatement => "INSERT"
        case _: UpdateTable => "UPDATE"
        case _: DeleteFromTable => "DELETE"
        case _: MergeIntoTable => "MERGE"
      }
      require(dml.isEmpty,
        "PREPARE covers queries; prepared DML is not supported")
    }
    preparedOf(s).put(name, text)
    ()
  }

  /** Render an EXECUTE argument VALUE as a SQL literal of the same
    * type — the values were already evaluated from constant
    * expressions, so this is typed literal rendering (strings quote-
    * escaped), never raw splicing of user text.
    */
  private def renderLiteral(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("'", "''") + "'"
    case b: Boolean => if (b) "TRUE" else "FALSE"
    case b: Byte => b.toString
    case sh: Short => sh.toString
    case i: Int => i.toString
    case l: Long => s"CAST($l AS BIGINT)"
    case f: Float => s"CAST('$f' AS FLOAT)"
    case d: Double => s"CAST('$d' AS DOUBLE)"
    case d: java.math.BigDecimal =>
      s"CAST('$d' AS DECIMAL(${d.precision}, ${d.scale}))"
    case d: scala.math.BigDecimal =>
      s"CAST('$d' AS DECIMAL(${d.precision}, ${d.scale}))"
    case d: java.sql.Date => s"DATE '$d'"
    // Rendered via toInstant (ISO-8601 UTC with trailing Z), NOT
    // toString: toString formats in the JVM default zone with no zone
    // marker, so re-parsing under a different session TimeZone (x118)
    // would silently shift the instant (r15 advisor finding).
    case t: java.sql.Timestamp => s"TIMESTAMP '${t.toInstant}'"
    case d: java.time.LocalDate => s"DATE '$d'"
    case t: java.time.Instant => s"TIMESTAMP '$t'"
    case other => throw new IllegalArgumentException(
      s"EXECUTE argument type ${other.getClass.getSimpleName} has no " +
        "literal rendering")
  }

  /** Substitute `?` / `$n` markers (OUTSIDE string literals only) with
    * the rendered argument literals.
    */
  private def bindMarkers(text: String, vals: Seq[Any],
      ordinals: Boolean): String = {
    val sb = new StringBuilder; var inS = false; var i = 0; var qIdx = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (inS) { if (c == '\'') inS = false; sb += c; i += 1 }
      else if (c == '\'') { inS = true; sb += c; i += 1 }
      else if (!ordinals && c == '?') {
        sb ++= renderLiteral(vals(qIdx)); qIdx += 1; i += 1
      } else if (ordinals && c == '$' && i + 1 < text.length &&
          text.charAt(i + 1).isDigit) {
        var j = i + 1
        while (j < text.length && text.charAt(j).isDigit) j += 1
        sb ++= renderLiteral(vals(text.substring(i + 1, j).toInt - 1))
        i = j
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  private def runExecute(s: SparkSession, name: String,
      argsRaw: String): DataFrame = {
    val text0 = preparedOf(s).getOrElse(name,
      throw new IllegalArgumentException(
        s"no prepared statement named $name (PREPARE it first)"))
    val text = expandMacros(s, text0) // macros late-bind, like queries
    // quote-aware split: a string argument may carry a comma
    // (EXECUTE q('a,b')) — the paren-only splitter would cut inside it
    val argExprs = splitTopCommasQuoted(argsRaw).map(_.trim).filter(_.nonEmpty)
    // Each argument is a constant expression; evaluating it through a
    // table-free SELECT keeps typing rules identical to any literal in
    // a query (DATE '…', casts, arithmetic all work).
    val vals: Seq[Any] = argExprs.map { a =>
      val r = Glue.dataFrame(s, parse(s, s"SELECT $a")).collect()
      require(r.length == 1, s"EXECUTE argument is not scalar: $a")
      r.head.get(0)
    }
    val scan = stripLiteralBodies(text)
    require("""(?<!:):[A-Za-z_]""".r.findFirstIn(scan).isEmpty,
      "EXECUTE binds positionally — use ? or $n markers in PREPARE, " +
        "not named :placeholders")
    val ordinals = """\$(\d+)""".r.findAllMatchIn(scan)
      .map(_.group(1).toInt).toSeq
    val hasQ = scan.contains("?")
    require(!(hasQ && ordinals.nonEmpty),
      "mixed parameter styles: ? and $n cannot combine in one statement")
    // Bind by typed-literal SUBSTITUTION (quote-aware, markers inside
    // string literals untouched), then re-enter the FULL dispatch —
    // the body is dialect text and must pass through every rewrite
    // layer exactly as if the user had typed it with the literals
    // inline. Round-15 script fuzz found the old parameterized
    // s.sql(text, args) path BYPASSING the rewrite layer: list/array/
    // operator vocabulary in a prepared body failed to resolve at
    // EXECUTE while the same text ran fine inline. Lake-table names
    // resolve through the dispatch like any other statement.
    if (ordinals.nonEmpty) {
      require(ordinals.min >= 1 && ordinals.max <= vals.length,
        s"ordinal $$${ordinals.max} out of range for ${vals.length} " +
          "argument(s) ($n is 1-based)")
      sql(s, bindMarkers(text, vals, ordinals = true))
    } else {
      val n = scan.count(_ == '?')
      require(n == vals.length,
        s"statement has $n ? marker(s) but ${vals.length} argument(s)")
      sql(s, bindMarkers(text, vals, ordinals = false))
    }
  }

  // ---- EXPORT / IMPORT DATABASE ------------------------------------
  // DuckDB's whole-catalog backup/migrate UX (`EXPORT DATABASE 'dir'`
  // writes every table + schema.sql; `IMPORT DATABASE 'dir'` loads it
  // back). Graft's export lays out one parquet directory per TABLE
  // (the data interchange everyone reads), a `schema.sql` of CREATE
  // VIEW statements (views travel as TEXT, their defining contract),
  // and a `manifest.json` naming each table's provider so import
  // recreates it under the SAME lake format. Import lands table data
  // under `<dir>/imported/<name>` — the export directory is the
  // self-contained unit — and refuses name collisions loudly.
  private val ExportDbRe =
    """(?is)\s*EXPORT\s+DATABASE\s+'([^']+)'\s*(?:\(\s*FORMAT\s+PARQUET\s*\))?\s*;?\s*""".r
  private val ImportDbRe =
    """(?is)\s*IMPORT\s+DATABASE\s+'([^']+)'\s*;?\s*""".r

  private def hadoopFs(s: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(s.sessionState.newHadoopConf()), p)
  }

  private def writeSmallFile(s: SparkSession, path: String,
      content: String): Unit = {
    val (fs, p) = hadoopFs(s, path)
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private def readSmallFile(s: SparkSession, path: String): String = {
    val (fs, p) = hadoopFs(s, path)
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** Run independent per-table jobs from a small thread pool (guide
    * §2.6): Spark's scheduler overlaps concurrent jobs, so the next
    * table's tasks back-fill executors a finishing table frees —
    * per-table exports/imports are serial only when driver code makes
    * them so. The first failure cancels the rest — queued items never
    * start and running Spark jobs (tagged per call) are cancelled — and
    * is rethrown once every worker has stopped, so nothing still runs
    * when the caller cleans up.
    */
  private def forEachConcurrently[A](s: SparkSession, items: Seq[A],
      width: Int = 4)(f: A => Unit): Unit =
    if (items.size <= 1) items.foreach(f)
    else {
      val sc = s.sparkContext
      val tag = s"graft-concurrent-${java.util.UUID.randomUUID()}"
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(width, items.size))
      val futures = items.map(a =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            sc.addJobTag(tag)
            try f(a) finally sc.removeJobTag(tag)
          }
        }))
      try futures.foreach(_.get())
      catch {
        case e: java.util.concurrent.ExecutionException =>
          futures.foreach(_.cancel(false))
          sc.cancelJobsWithTag(tag)
          pool.shutdown()
          pool.awaitTermination(Long.MaxValue,
            java.util.concurrent.TimeUnit.NANOSECONDS)
          throw Option(e.getCause).getOrElse(e)
      } finally pool.shutdown()
    }

  private def runExportDatabase(s: SparkSession, dir: String): Unit = {
    require(dir.nonEmpty, "EXPORT DATABASE needs a non-empty path")
    val (fs, p) = hadoopFs(s, dir)
    fs.mkdirs(p)
    val entries = catalog(s).toSeq.sortBy(_._1)
    val views = entries.collect { case (n, ("view", text)) =>
      s"CREATE VIEW $n AS $text" }
    val tables = entries.filter(_._2._1 != "view")
    // Independent per-table export writes run concurrently (§2.6); the
    // manifest is written AFTER every table landed, so a failed export
    // can never look complete.
    forEachConcurrently(s, tables) { case (n, _) =>
      table(s, n).write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
    val arr = Json.createArrayNode()
    tables.foreach { case (n, (provider, _)) =>
      val o = arr.addObject(); o.put("name", n); o.put("provider", provider)
    }
    writeSmallFile(s, s"$dir/manifest.json", Json.writeValueAsString(arr))
    writeSmallFile(s, s"$dir/schema.sql", views.mkString(";\n"))
  }

  private def runImportDatabase(s: SparkSession, dir: String): Unit = {
    val arr = Json.readTree(readSmallFile(s, s"$dir/manifest.json"))
    require(arr.isArray, s"malformed manifest at $dir/manifest.json")
    val specs = scala.collection.mutable.Buffer.empty[(String, String)]
    arr.forEach { node =>
      specs += ((node.get("name").asText(), node.get("provider").asText()))
    }
    specs.foreach { case (n, _) =>
      require(!catalog(s).contains(n),
        s"IMPORT DATABASE: $n already exists in the catalog")
    }
    // Per-table create jobs are independent of each other (distinct
    // target dirs) — run them concurrently (§2.6); registration is
    // per-table and order-free (distinct names). A failed import
    // leaves nothing behind: the tables it created are unregistered
    // and their directories removed, so a retry starts clean.
    val created = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    try forEachConcurrently(s, specs.toSeq) { case (n, provider) =>
      val df = s.read.parquet(s"$dir/$n.parquet")
      val loc = s"${dir.stripSuffix("/")}/imported/$n"
      LakeFormat.of(provider).create(s, loc, df)
      created.add((n, loc))
      registerEntry(s, n, provider, loc)
    } catch { case e: Throwable =>
      created.forEach { case (n, loc) =>
        dropEntry(s, n)
        val (fs, p) = hadoopFs(s, loc)
        fs.delete(p, true)
      }
      throw e
    }
    val schema = readSmallFile(s, s"$dir/schema.sql").trim
    if (schema.nonEmpty)
      schema.split(";\n").map(_.trim).filter(_.nonEmpty)
        .foreach(stmt => sql(s, stmt))
  }

  private val ExplainRe =
    """(?is)^\s*EXPLAIN(?:\s+(EXTENDED|FORMATTED|CODEGEN|COST))?\s+(.*)$""".r

  // Sessions that already hold the DuckDB function table (keyed by the
  // session object, weakly — the same guard as Sql.open's)
  private val dialectSessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  def sql(s: SparkSession, statement0: String): DataFrame = {
    // DuckDB function names resolve in the session's function registry;
    // a session not built with GraftExtensions gets them here, once
    dialectSessions.computeIfAbsent(s, _ => {
      GraftExtensions.installInto(s); true
    })
    // lexical sugar first (quote-aware, idempotent): dollar-quoted
    // strings → standard literals, numeric underscore separators
    // stripped — both DuckDB parser features Spark's lexer lacks
    val statement = normalizeLexicalSugar(statement0)
    val out = sqlDispatch(s, statement)
    maybeLintFractionalCast(s, out)
    out
  }

  /** Opt-in divergence lint (spark.graft.sql.lintFractionalCast=true):
    * §6 documents CAST(fractional → integer) as typed-divergent —
    * DuckDB ROUNDS where Spark TRUNCATES — and the divergence is
    * SILENT at runtime. With the flag on, every dispatched statement
    * whose analyzed plan casts a fractional-typed child (FLOAT/
    * DOUBLE/DECIMAL with scale > 0) to an integral type logs a
    * warning per site naming the remedy (wrap the operand in round()/
    * bround() to pin one mode). Off by default: integral-VALUED
    * fractional expressions cast to BIGINT are a legitimate,
    * divergence-free idiom (every gated key uses it), so default-on
    * would be noise. [[lastFractionalCastSites]] exposes the last
    * statement's site count for specs.
    */
  private val fracCastSites = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, Integer]())

  private[graft] def lastFractionalCastSites(s: SparkSession): Int =
    Option(fracCastSites.get(s)).fold(0)(_.intValue)

  private def maybeLintFractionalCast(s: SparkSession,
      df: DataFrame): Unit =
    if (s.conf.get("spark.graft.sql.lintFractionalCast", "false")
        .toBoolean) {
      import org.apache.spark.sql.types._
      def fractional(t: DataType): Boolean = t match {
        case DoubleType | FloatType => true
        case d: DecimalType => d.scale > 0
        case _ => false
      }
      def integral(t: DataType): Boolean = t match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      val n = try {
        val sites = df.queryExecution.analyzed.collectWithSubqueries {
          case p => p.expressions.flatMap(_.collect {
            case c: org.apache.spark.sql.catalyst.expressions.Cast
                if fractional(c.child.dataType) && integral(c.dataType) &&
                  // an explicit round()/bround() operand IS the remedy
                  // (the mode is pinned) — stay quiet on it
                  !c.child.isInstanceOf[
                    org.apache.spark.sql.catalyst.expressions.Round] &&
                  !c.child.isInstanceOf[
                    org.apache.spark.sql.catalyst.expressions.BRound] =>
              c
          })
        }.flatten
        sites.foreach(c => System.err.println(
          s"graft lint: CAST(${c.child.dataType.simpleString} AS " +
            s"${c.dataType.simpleString}) TRUNCATES in Spark but ROUNDS " +
            "in DuckDB — silent divergence on non-integral values; wrap " +
            s"the operand in round()/bround() to pin one mode: ${c.sql}"))
        sites.length
      } catch { case _: Exception => 0 } // side-effect-only results skip
      fracCastSites.put(s, Integer.valueOf(n))
    }

  private def sqlDispatch(s: SparkSession, statement: String): DataFrame = {
    statement match {
    // Macro DDL routes BEFORE expansion (a macro body must not expand
    // through other macros at definition time — DuckDB expands at call
    // sites, late-binding redefinitions).
    case CreateMacroRe(orReplace, name, params, body) =>
      requireNoTxn(s, "CREATE MACRO")
      createMacro(s, name, orReplace != null, params, body)
      s.emptyDataFrame
    case DropMacroRe(ifExists, name) =>
      requireNoTxn(s, "DROP MACRO")
      dropMacro(s, name, ifExists != null)
      s.emptyDataFrame
    case CreateTypeRe(name, valsRaw) =>
      requireNoTxn(s, "CREATE TYPE") // session state; ROLLBACK can't undo
      createEnumType(s, name, valsRaw)
      s.emptyDataFrame
    case DropTypeRe(ifExists, name) =>
      requireNoTxn(s, "DROP TYPE")
      dropEnumType(s, name, ifExists != null)
      s.emptyDataFrame
    case BeginRe() =>
      runBegin(s)
      s.emptyDataFrame
    case CommitRe() =>
      runCommit(s)
      s.emptyDataFrame
    case RollbackRe() =>
      runRollback(s)
      s.emptyDataFrame
    // session options route BEFORE everything (scripts open with them);
    // dotted names (spark.sql.*) fall through to Spark's own SET
    case SetOptionRe(scope, name, value) =>
      runSetOption(s, scope, name, value)
      s.emptyDataFrame
    case ResetOptionRe(name) =>
      runResetOption(s, name)
      s.emptyDataFrame
    case PragmaRe(name, value) =>
      if (value != null) runSetOption(s, null, name, value)
      else {
        val n = name.toLowerCase
        require(IgnorableOptions(n),
          s"PRAGMA $name is not supported (assignment pragmas map to " +
            "SET; resource/UX pragmas warn-ignore under " +
            "spark.graft.sql.lenientSet; the rest refuse)")
        require(lenientSet(s),
          s"PRAGMA $n has no Spark equivalent — set " +
            "spark.graft.sql.lenientSet=true to warn-and-ignore it")
        System.err.println(s"graft: ignoring PRAGMA $n (lenientSet on)")
      }
      s.emptyDataFrame
    case PragmaCallRe(name) =>
      throw new IllegalArgumentException(
        s"call-form PRAGMA $name(...) is not supported — table pragmas " +
          "(table_info, database_size, …) have first-class spellings: " +
          "DESCRIBE <t>, SHOW TABLES, SUMMARIZE <t>")
    case InstallExtRe(force, ext, _) =>
      runInstallLoad(s,
        if (force != null) "FORCE INSTALL" else "INSTALL", ext)
      s.emptyDataFrame
    case CheckpointRe(force) =>
      require(lenientSet(s),
        "CHECKPOINT flushes DuckDB's WAL; lake commits are already " +
          "durable, and the small-file analog is explicit (OPTIMIZE " +
          "<t> / the s17 compact path). Set spark.graft.sql." +
          "lenientSet=true to warn-and-ignore it in migration scripts.")
      System.err.println("graft: ignoring " +
        (if (force != null) "FORCE CHECKPOINT" else "CHECKPOINT") +
        " (lake commits are durable; lenientSet on)")
      s.emptyDataFrame
    // DuckDB's bare `TRUNCATE t` (no TABLE keyword) — normalize to the
    // Spark grammar and re-enter
    case BareTruncateRe(name) =>
      sqlDispatch(s, s"TRUNCATE TABLE $name")
    case BareMaintRe(verb) =>
      require(lenientSet(s),
        s"whole-database ${verb.toUpperCase} is not supported — " +
          "per-table maintenance is explicit here: OPTIMIZE <t> " +
          "[ZORDER BY (cols)] bin-packs/clusters, VACUUM <t> [RETAIN " +
          "n VERSIONS] garbage-collects, SUMMARIZE <t> computes " +
          "statistics. Set spark.graft.sql.lenientSet=true to " +
          "warn-and-ignore it in migration scripts.")
      System.err.println(
        s"graft: ignoring ${verb.toUpperCase} (per-table maintenance " +
          "is explicit; lenientSet on)")
      s.emptyDataFrame
    case OptimizeRe(tbl, zcols, target) =>
      runOptimize(s, tbl, zcols, target)
    case VacuumTableRe(tbl, retain) =>
      runVacuumTable(s, tbl, retain)
    case CreateSeqRe(orReplace, ifNotExists, name, opts) =>
      requireNoTxn(s, "CREATE SEQUENCE")
      createSequence(s, orReplace != null, ifNotExists != null, name,
        Option(opts).getOrElse(""))
      s.emptyDataFrame
    case DropSeqRe(ifExists, name) =>
      requireNoTxn(s, "DROP SEQUENCE")
      val had = seqsOf(s).remove(name.toLowerCase).isDefined
      require(had || ifExists != null, s"sequence $name does not exist")
      if (had)
        catalogDir(s).foreach(appendOp(s, _, "seq_drop", name.toLowerCase))
      s.emptyDataFrame
    case LoadExtRe(ext) =>
      runInstallLoad(s, "LOAD", ext)
      s.emptyDataFrame
    case CreateIndexRe(unique, idxName, table, cols) =>
      requireNoTxn(s, "CREATE INDEX")
      runCreateIndex(s, unique != null, idxName, table, cols)
      s.emptyDataFrame
    case DropIndexRe(ifExists, idxName) =>
      requireNoTxn(s, "DROP INDEX")
      indexesOf(s).remove(idxName.toLowerCase) match {
        case Some((path, column)) =>
          graft.sources.BloomIndex.drop(s, path, column); ()
        case None => require(ifExists != null,
          s"no index named $idxName in this session (index NAMES are " +
            "session-scoped; the bloom file itself lives on the table)")
      }
      s.emptyDataFrame
    case AttachRe(dir, alias) =>
      requireNoTxn(s, "ATTACH")
      runAttach(s, dir.trim, alias)
      s.emptyDataFrame
    case DetachRe(alias) =>
      requireNoTxn(s, "DETACH")
      require(attached(s).remove(alias).isDefined,
        s"catalog $alias is not attached")
      s.emptyDataFrame
    case ExportDbRe(dir) =>
      requireNoTxn(s, "EXPORT DATABASE")
      runExportDatabase(s, dir.trim)
      s.emptyDataFrame
    case ImportDbRe(dir) =>
      requireNoTxn(s, "IMPORT DATABASE")
      runImportDatabase(s, dir.trim)
      s.emptyDataFrame
    case PrepareRe(name, text) =>
      requireNoTxn(s, "PREPARE") // session state; ROLLBACK can't undo it
      runPrepare(s, name, text)
      s.emptyDataFrame
    case ExecuteRe(name, args) =>
      runExecute(s, name, Option(args).getOrElse(""))
    case DeallocRe(name) =>
      requireNoTxn(s, "DEALLOCATE")
      require(preparedOf(s).remove(name).isDefined,
        s"no prepared statement named $name")
      s.emptyDataFrame
    case ShowTablesRe() =>
      // DuckDB's SHOW TABLES: one `name` column over the catalog
      // (tables AND views), alphabetical — sugar over graft_tables.
      tablesMeta(s)
        .select(org.apache.spark.sql.functions.col("table_name")
          .as("name"))
        .orderBy("name")
    case ShowDatabasesRe() =>
      // DuckDB's SHOW DATABASES: one name per catalog — the primary
      // ("main", DuckDB's own primary alias) plus every ATTACHed root.
      catalogsMeta(s)
        .select(org.apache.spark.sql.functions.col("catalog_name")
          .as("database_name"))
        .orderBy("database_name")
    case _ =>
      val stM = expandMacros(s, statement)
      // non-UTC timezone tier: epoch-grid rewrite families refuse
      // while a non-UTC session zone is active (macro-expanded text,
      // so a grid call can't hide inside a macro body)
      guardEpochGrid(s, stM)
      // session ENUM types: casts/enum_range over registered type
      // names rewrite to validated VARCHAR work (after macro
      // expansion, so a macro body can carry an enum cast)
      val st0 = if (enumsOf(s).nonEmpty) rewriteEnumTypes(s, stM) else stM
      // File-reading table functions rewrite FIRST (pure text→text),
      // so they compose with every other route below — EXCEPT inside
      // CREATE VIEW: a durable view stores its SQL text, and rewriting
      // here would store the session temp-view name (__tf_…) instead of
      // the file path, so the view would resolve to a missing table in
      // any later session. The original text is stored and the rewrite
      // runs at expansion time (view reads re-enter this method).
      val st1 = if (TableFnKeyword.matches(st0) &&
          !CreateViewKeyword.matches(st0))
        rewriteTableFunctions(s, st0) else st0
      // Series table functions bind the same way (pure text→text, a
      // temp view over spark.range), same CREATE VIEW exclusion: the
      // stored view text keeps generate_series(...) and re-binds on
      // every read. The gate is ANY series token (not just FROM/JOIN
      // position) so scalar-list forms route too (round 15).
      val st2 = if ("(?is).*\\b(generate_series|range)\\s*\\(.*".r
            .matches(st1) && !CreateViewKeyword.matches(st1))
        rewriteSeriesFunctions(s, st1) else st1
      // Sequence calls substitute ONCE here (the rewrite ADVANCES the
      // counters, so it must never run twice on one statement — a
      // guard-then-rewrite case pattern would); the substituted text
      // re-enters the full dispatch like any other rewrite.
      val seqRewritten =
        if (SeqCallKeyword.matches(st2) && seqsOf(s).nonEmpty)
          rewriteSeqCalls(s, st2) else st2
      if (seqRewritten ne st2) return sql(s, seqRewritten)
      val st = st2
      st match {
        // EXPLAIN ANALYZE must route before plain EXPLAIN (whose regex
        // would otherwise swallow ANALYZE into the inner statement).
        case ExplainAnalyzeRe(inner) => runExplainAnalyze(s, inner)
        case ExplainRe(modeStr, inner) =>
          val df = sql(s, inner)
          val mode = org.apache.spark.sql.execution.ExplainMode.fromString(
            Option(modeStr).map(_.toLowerCase).getOrElse("formatted"))
          import s.implicits._
          val text = df.queryExecution.explainString(mode)
            .replaceAll("#\\d+", "#")
          Seq(text).toDF("plan")
        case _ if ReturningKeyword.matches(st) => runReturning(s, st)
        case _ if OnConflictKeyword.matches(st) => runOnConflict(s, st)
        case _ if InsertOrKeyword.matches(st) => runInsertOr(s, st)
        case _ if isJoinDml(st) => runJoinDml(s, st)
        case _ if CopyKeyword.matches(st) => runCopy(s, st)
        case _ if SummarizeKeyword.matches(st) => runSummarize(s, st)
        case _ if PivotKeyword.matches(st) => runPivot(s, st)
        // statement-level rewrites RE-ENTER the full dispatch (each
        // removes its own trigger keyword, so no loop), so the text
        // rewrites below still see the statement they emit
        case _ if UnpivotKeyword.matches(st) =>
          sql(s, rewriteUnpivot(st))
        case _ if DescribeKeyword.matches(st) => runDescribe(s, st)
        case _ if SampleKeyword.matches(st) => sql(s, rewriteSample(st))
        case _ if FrameExcludeGroupKeyword.matches(st) =>
          sql(s, rewriteFrameExcludeGroup(st))
        case _ if FrameExcludeKeyword.matches(st) =>
          sql(s, rewriteFrameExclude(st))
        case _ if GroupsFrameKeyword.matches(st) =>
          sql(s, rewriteGroupsFrame(st))
        case _ if DistinctOnKeyword.matches(st) =>
          sql(s, rewriteDistinctOn(st))
        case _ if UnionByNameKeyword.matches(st) => runUnionByName(s, st)
        case _ if OrderByAllKeyword.matches(st) =>
          sql(s, rewriteOrderByAll(st))
        case _ if AsOfJoinKeyword.matches(st) =>
          sql(s, rewriteAsOfJoins(st))
        case _ if QualifyKeyword.matches(st) =>
          sql(s, rewriteQualify(st))
        case _ if StarModifierKeyword.matches(st) =>
          sql(s, rewriteStarModifiers(s, st))
        case _ if UnnestKeyword.matches(st) =>
          // re-enter: the rewritten text may carry other forms
          val recursive =
            "(?i)\\brecursive\\s*:=\\s*true".r.findFirstIn(st).isDefined
          val df = sql(s, rewriteUnnest(st))
          if (recursive) {
            // one flatten level handled; a 3-plus-level list still has
            // a LIST element type at the generator — refuse instead of
            // silently emitting list rows where DuckDB fully flattens.
            // Scoped to the REWRITE'S OWN Generate (the one whose
            // generator explodes a flatten()) — a separate, legitimate
            // array-of-array explode elsewhere in the same statement
            // must not trip the guard.
            val stillNested = df.queryExecution.analyzed.collect {
              case g: org.apache.spark.sql.catalyst.plans.logical
                  .Generate if g.generator.exists(
                    _.isInstanceOf[org.apache.spark.sql.catalyst
                      .expressions.Flatten]) =>
                g.generatorOutput.exists(_.dataType
                  .isInstanceOf[org.apache.spark.sql.types.ArrayType])
            }.exists(identity)
            require(!stillNested,
              "unnest(recursive := true) supports 2-level nested lists" +
                " (one flatten); this input is nested deeper — flatten" +
                " it explicitly first")
          }
          df
        // changed-text guards: a keyword can match text the rewrite
        // leaves alone, which must fall through, not re-enter forever.
        // Each extractor computes its rewrite ONCE (guard and recursion
        // share the result).
        case ListLitRewrite(r) =>
          val df = try sql(s, r) catch {
            // a string-keyed subscript rewrote to try_element_at,
            // which a STRUCT operand fails at analysis — rethrow with
            // the DuckDB-shaped hint instead of the rewrite's name
            case e: org.apache.spark.sql.AnalysisException
                if r != st && e.getMessage.contains("try_element_at") &&
                  e.getMessage.toLowerCase.contains("struct") =>
              throw new IllegalArgumentException(
                "subscript with a string key reads a MAP (DuckDB " +
                  "map['key'] → value LIST); for a STRUCT spell " +
                  "struct.field", e)
          }
          // the 1-based subscript rewrite cannot see types: a MAP
          // subscript diverges (DuckDB map[k] returns a LIST, [] on
          // miss — not element_at's scalar), so the rewrite's own
          // try_element_at(…, nullif(…, 0)) shape over a MapType child
          // refuses after analysis instead of silently mismatching
          val mapSub = df.queryExecution.analyzed.exists(
            p => p.expressions.exists(_.exists {
              case t: org.apache.spark.sql.catalyst.expressions
                  .TryElementAt =>
                t.left.dataType.isInstanceOf[
                  org.apache.spark.sql.types.MapType] &&
                  t.right.isInstanceOf[org.apache.spark.sql.catalyst
                    .expressions.NullIf]
              case _ => false
            }))
          require(!mapSub,
            "subscript on a MAP diverges (DuckDB map[key] returns a " +
              "LIST, [] on miss) — spell map_extract()/element_at() " +
              "explicitly")
          df
        case ExprPass(r) => sql(s, r)
        case _ if ColumnsFnKeyword.matches(st) =>
          // re-enter the full route: the expanded text may still carry
          // another rewritable form (FROM-first, QUALIFY, …)
          sql(s, rewriteColumnsFn(s, st))
        case _ if FromFirstKeyword.matches(st) &&
            topLevelIndexOf(st, "SELECT") < 0 =>
          sql(s, "SELECT * " + st.trim)
        case _ => sqlStatement(s, st)
      }
    }
  }

  /** Dollar-quoted strings ($tag$…$tag$ → '…' with '' escaping) and
    * numeric underscore separators (1_000_000 → 1000000) — DuckDB
    * lexer features with no Spark equivalent, normalized before any
    * dispatch so every route (including the pre-expansion DDL regexes)
    * sees standard text. Quote-aware: a `$tag$` or `1_000` inside an
    * existing single-quoted literal survives; `$1`-style EXECUTE
    * ordinals never match (the tag grammar excludes digit starts).
    */
  /** Strip SQL comments (`--` to end of line, `/* … */` with DuckDB's
    * NESTING — probed: `/* a /* nested */ b */` parses) outside
    * single-quoted literals, double-quoted identifiers AND
    * dollar-quoted strings, replacing each with one space. Without
    * this, a quote inside a comment flips literal-parity for every
    * quote-aware rewrite downstream — probed silent wrong values:
    * `SELECT /* it's */ log(100)` computed ln, `/* don't */ 2 ^ 3`
    * stayed XOR.
    */
  private[graft] def stripComments(st0: String): String = {
    if (st0.indexOf("--") < 0 && st0.indexOf("/*") < 0) return st0
    val dollarOpen = "^\\$([A-Za-z_]\\w*)?\\$".r
    val sb = new StringBuilder
    var i = 0; var inS = false; var inD = false
    while (i < st0.length) {
      val c = st0.charAt(i)
      if (inS) { sb += c; if (c == '\'') inS = false; i += 1 }
      else if (inD) { sb += c; if (c == '"') inD = false; i += 1 }
      else if (c == '\'') { inS = true; sb += c; i += 1 }
      else if (c == '"') { inD = true; sb += c; i += 1 }
      else if (c == '$') {
        dollarOpen.findFirstIn(st0.substring(i)) match {
          case Some(tag) =>
            val closeAt = st0.indexOf(tag, i + tag.length)
            if (closeAt >= 0) {
              sb ++= st0.substring(i, closeAt + tag.length)
              i = closeAt + tag.length
            } else { sb += c; i += 1 }
          case None => sb += c; i += 1
        }
      }
      else if (c == '-' && i + 1 < st0.length && st0.charAt(i + 1) == '-') {
        while (i < st0.length && st0.charAt(i) != '\n') i += 1
        sb += ' '
      }
      else if (c == '/' && i + 1 < st0.length && st0.charAt(i + 1) == '*') {
        var depth = 1; i += 2
        while (i < st0.length && depth > 0) {
          if (st0.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (st0.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        }
        sb += ' '
      }
      else { sb += c; i += 1 }
    }
    sb.toString
  }

  private[graft] def normalizeLexicalSugar(st00: String): String = {
    var st = stripComments(st00)
    if (st.indexOf('$') >= 0) {
      val open = "\\$([A-Za-z_]\\w*)?\\$".r
      var done = false
      while (!done) {
        // find the first opener OUTSIDE single quotes
        val hit = open.findAllMatchIn(st).find(m =>
          st.substring(0, m.start).count(_ == '\'') % 2 == 0)
        hit match {
          case Some(m) =>
            val tag = m.matched
            val closeAt = st.indexOf(tag, m.end)
            if (closeAt < 0) done = true // lone $…$ (e.g. money col?) — leave
            else {
              val content = st.substring(m.end, closeAt)
              st = st.substring(0, m.start) + "'" +
                content.replace("'", "''") + "'" +
                st.substring(closeAt + tag.length)
            }
          case None => done = true
        }
      }
    }
    if (st.indexOf('_') >= 0 &&
        "(?<![\\w$])\\d[\\d_]*_[\\d_]*\\d".r.findFirstIn(st).isDefined) {
      // strip underscores inside numeric literals only — scan with
      // both quote kinds respected so quoted identifiers keep theirs
      val sb = new StringBuilder
      var i = 0; var inS = false; var inD = false
      while (i < st.length) {
        val c = st.charAt(i)
        if (inS) { sb += c; if (c == '\'') inS = false; i += 1 }
        else if (inD) { sb += c; if (c == '"') inD = false; i += 1 }
        else if (c == '\'') { inS = true; sb += c; i += 1 }
        else if (c == '"') { inD = true; sb += c; i += 1 }
        else if (c.isDigit && (i == 0 || {
          val p = st.charAt(i - 1) // '.' allowed: fraction digits
          !(p.isLetterOrDigit || p == '_' || p == '$')
        })) {
          var j = i
          while (j < st.length &&
              (st.charAt(j).isDigit || st.charAt(j) == '_')) j += 1
          val tok = st.substring(i, j)
          // a trailing ident char means this is part of an identifier
          // (1_000e5 also stays — loud, not silently reinterpreted)
          val t = if (j < st.length) st.charAt(j) else ' '
          if (t.isLetter || t == '_' || t == '$') sb ++= tok
          else if (tok.endsWith("_")) sb ++= tok
          else sb ++= tok.replace("_", "")
          i = j
        } else { sb += c; i += 1 }
      }
      st = sb.toString
    }
    // CTE materialization hints: `WITH c AS [NOT] MATERIALIZED (…)` —
    // a DuckDB planner hint with no Spark grammar; semantics are
    // unchanged without it (Spark decides reuse itself), so the hint
    // strips (the trailing `(` keeps plain `AS materialized` aliases
    // untouched)
    if ("(?i)\\bMATERIALIZED\\b".r.findFirstIn(st).isDefined)
      st = outsideLiterals(st)(
        _.replaceAll("(?i)\\bAS\\s+(NOT\\s+)?MATERIALIZED\\s*\\(", "AS ("))
    st
  }

  /** Changed-text rewrite guard: matches when the keyword regex hits
    * AND the rewrite actually changes the statement — computing the
    * rewrite ONCE (the old `rewriteX(st) != st` guards ran every
    * multi-regex rewrite twice per dispatched statement).
    */
  private final class Rewritten(keyword: scala.util.matching.Regex,
      rewrite: String => String) {
    def unapply(st: String): Option[String] =
      if (!keyword.matches(st)) None
      else { val r = rewrite(st); if (r != st) Some(r) else None }
  }
  private lazy val ListLitRewrite =
    new Rewritten(ListLiteralKeyword, rewriteListLiterals)

  /** The dialect's expression-level text passes, in dispatch order.
    * The dispatcher re-enters the whole route after the first one that
    * changes a statement; [[exprText]] runs them on one expression.
    */
  private lazy val exprPasses = ListLitRewrite +:
    Seq[(scala.util.matching.Regex, String => String)](
      ListFnKeyword -> rewriteListFns, JsonFnKeyword -> rewriteJsonFns,
      NullsModKeyword -> rewriteNullsModifier,
      StringAggKeyword -> rewriteStringAgg,
      TypeAliasKeyword -> rewriteTypeAliases,
      OpPinKeyword -> rewriteOperatorPins,
      TimeBucketKeyword -> rewriteTimeBucket,
      OrderedAggKeyword -> rewriteOrderedListAgg,
      StructPackKeyword -> rewriteStructPack)
      .map { case (k, r) => new Rewritten(k, r) }

  /** The first of [[exprPasses]] after the list literals that changes a
    * text: the new text. */
  private object ExprPass {
    def unapply(st: String): Option[String] =
      exprPasses.tail.iterator.flatMap(_.unapply(st)).nextOption()
  }

  /** An expression's text as the dispatcher hands it to Spark's
    * parser: every expression-level pass, then the terminal NULL-order
    * pin ([[pinNullOrder]]). */
  @annotation.tailrec
  private def exprText(text: String): String =
    exprPasses.iterator.flatMap(_.unapply(text)).nextOption() match {
      case Some(r) => exprText(r)
      case None => pinNullOrder(text)
    }

  /** Apply `f` to the segments of `st` OUTSIDE single-quoted string
    * literals only (SQL's doubled-quote escape survives: the '' yields
    * an empty even segment, and parity stays correct for the rest).
    * Same split technique as the bracket-slice rewrite — a rewrite can
    * never span a quote boundary.
    */
  private def outsideLiterals(st: String)(f: String => String): String =
    st.split("'", -1).zipWithIndex.map { case (seg, i) =>
      if (i % 2 == 1) seg else f(seg)
    }.mkString("'")

  /** Parse a statement with Spark's parser, once, and give every
    * Spark-defined function name in it DuckDB's meaning
    * ([[GraftExtensions.pin]]). Every statement that reaches Spark's
    * parser from this entry goes through here or [[parseExpr]].
    */
  private[graft] def parse(s: SparkSession, text: String): LogicalPlan =
    Glue.withActive(s)(GraftExtensions.pin(
      s.sessionState.sqlParser.parsePlan(normLit(text))))

  /** [[parse]] for one (possibly aliased) expression. */
  private[graft] def parseExpr(s: SparkSession, text: String): Expression =
    Glue.withActive(s)(GraftExtensions.pinExpr(
      s.sessionState.sqlParser.parseExpression(normLit(text))))

  private val QuotedUnitCall = "(?i)\\b(date_?diff)(\\s*\\(\\s*)$".r

  /** Literal-dialect normalization at the Spark-parser boundary
    * ([[parse]]): the shared dialect keeps backslashes in string
    * literals RAW ('\d+' is four characters in DuckDB) while Spark's
    * default parser folds them as escapes ('\d' → 'd' — every
    * backslash-carrying regex was silently a DIFFERENT pattern per
    * engine). Doubling each backslash inside
    * single-quoted segments makes Spark's fold reproduce the raw text,
    * and also restores the quote boundary for a trailing backslash
    * ('a\' would otherwise swallow the closing quote as \'). Quote
    * doubling ('') is shared by both engines and passes through. All
    * text-level rewrites run BEFORE this, on the raw dialect.
    *
    * Spark's grammar also keeps `date_diff(`/`datediff(` followed by a
    * unit for its own TIMESTAMPDIFF form and refuses a quoted unit
    * there, so DuckDB's `date_diff('day', a, b)` gets a quoted name:
    * it then parses as an ordinary call, which
    * [[GraftExtensions.pins]] gives DuckDB's meaning.
    */
  private[graft] def normLit(text: String): String = {
    val segs = text.split("'", -1)
    segs.indices.map { i =>
      if (i % 2 == 1) segs(i).replace("\\", "\\\\")
      else if (i + 1 < segs.length)
        QuotedUnitCall.replaceAllIn(segs(i), "`$1`$2")
      else segs(i)
    }.mkString("'")
  }

  private val QuotedUnitName = "(?i)`(date_?diff)`(\\s*\\(\\s*)$".r

  /** The dialect text behind `norm`, a slice of [[normLit]]'s output
    * that starts outside a string literal (a parsed query's own text,
    * such as `CreateView.originalText`): [[normLit]] undone, so stored
    * text reads back through [[parse]] as it was written. */
  private[graft] def rawLit(norm: String): String = {
    val segs = norm.split("'", -1)
    segs.indices.map { i =>
      if (i % 2 == 1) segs(i).replace("\\\\", "\\")
      else if (i + 1 < segs.length)
        QuotedUnitName.replaceAllIn(segs(i), "$1$2")
      else segs(i)
    }.mkString("'")
  }

  // ---- QUALIFY at the text entry -----------------------------------
  // DuckDB filters on window results with `… QUALIFY <pred>` (its
  // logical order: windows evaluate, QUALIFY filters, then ORDER BY /
  // LIMIT); Spark's parser has no QUALIFY clause. The supported form —
  // the predicate references window expressions BY THEIR SELECT-LIST
  // ALIASES (`… ROW_NUMBER() OVER (…) AS rn … QUALIFY rn <= 3`), the
  // DuckDB idiom — rewrites to a subquery wrap: the inner query
  // computes the windows, the outer WHERE applies the predicate, and
  // any trailing ORDER BY / LIMIT stays outside. Direct window calls
  // inside the predicate and SELECT DISTINCT heads (where DuckDB
  // applies QUALIFY before the DISTINCT) refuse loudly.
  private val QualifyKeyword = "(?is).*\\bQUALIFY\\b.*".r

  /** Index of the first DEPTH-0 occurrence of keyword `kw` (word-
    * bounded, case-insensitive) outside string literals, or -1.
    */
  /** Word character for keyword-boundary tests: regex \b semantics —
    * '_' is part of an identifier, so FROM never matches inside
    * from_unixtime / x_from (was a misroute of plain UPDATEs whose
    * SET/WHERE text contained such identifiers). */
  private def isWordChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_'

  private def topLevelIndexOf(text: String, kw: String,
      from: Int = 0): Int = {
    var i = from
    var depth = 0
    var inSingle = false
    var inDouble = false
    val up = text.toUpperCase
    while (i < text.length) {
      val c = text.charAt(i)
      if (inSingle) { if (c == '\'') inSingle = false }
      else if (inDouble) { if (c == '"') inDouble = false }
      else c match {
        case '\'' => inSingle = true
        case '"' => inDouble = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (depth == 0 && up.startsWith(kw.toUpperCase, i) &&
              (i == 0 || !isWordChar(text.charAt(i - 1))) &&
              (i + kw.length >= text.length ||
                !isWordChar(text.charAt(i + kw.length)))) {
            return i
          }
      }
      i += 1
    }
    -1
  }

  private[graft] def rewriteQualify(statement: String): String = {
    val idx = topLevelIndexOf(statement.toUpperCase, "QUALIFY")
    require(idx >= 0,
      "QUALIFY: only a single top-level QUALIFY clause is supported " +
        "(QUALIFY inside a subquery is not)")
    require(topLevelIndexOf(statement.toUpperCase, "QUALIFY",
        idx + 1) < 0,
      "QUALIFY: exactly one top-level QUALIFY clause is supported")
    val head = statement.substring(0, idx).trim
    require(!"(?is)^\\s*SELECT\\s+DISTINCT\\b.*".r.matches(head),
      "QUALIFY with SELECT DISTINCT is unsupported (DuckDB applies " +
        "QUALIFY before the DISTINCT; spell the dedup explicitly)")
    val tail = statement.substring(idx + "QUALIFY".length)
    val cutAt = Seq("ORDER", "LIMIT")
      .map(k => topLevelIndexOf(tail.toUpperCase, k))
      .filter(_ >= 0).sorted.headOption
    val (pred, post) = cutAt match {
      case Some(i) => (tail.substring(0, i).trim, tail.substring(i))
      case None => (tail.trim, "")
    }
    require(pred.nonEmpty, "QUALIFY: empty predicate")
    require(!"(?is).*\\bOVER\\b.*".r.matches(pred),
      "QUALIFY: reference window expressions by their select-list " +
        "alias (e.g. `ROW_NUMBER() OVER (…) AS rn … QUALIFY rn <= 3`);" +
        " direct window calls inside the predicate are unsupported")
    s"SELECT * FROM ($head) __qualify WHERE $pred $post"
  }

  // ---- SELECT * EXCLUDE / REPLACE at the text entry ----------------
  // DuckDB's star modifiers: `SELECT * EXCLUDE (a, b)` drops columns,
  // `SELECT * REPLACE (expr AS col)` swaps an expression in at the
  // column's position keeping its name. Spark's parser accepts
  // neither; the supported form — a bare `SELECT *` head over a single
  // named relation Spark can resolve (temp view or catalog table) —
  // expands the star against the relation's schema and rewrites to an
  // explicit column list. Unknown columns and empty results refuse
  // loudly.
  private val StarModifierKeyword =
    "(?is)^\\s*SELECT\\s+\\*\\s+(EXCLUDE|REPLACE)\\b.*".r

  private[graft] def rewriteStarModifiers(s: SparkSession,
      statement: String): String = {
    def takeParen(text: String): (String, String) = {
      val open = text.indexOf('(')
      require(open >= 0 && text.substring(0, open).isBlank,
        "EXCLUDE/REPLACE: expected a parenthesized list")
      var depth = 0
      var i = open
      while (i < text.length) {
        text.charAt(i) match {
          case '(' => depth += 1
          case ')' =>
            depth -= 1
            if (depth == 0)
              return (text.substring(open + 1, i), text.substring(i + 1))
          case _ =>
        }
        i += 1
      }
      throw new IllegalArgumentException(
        "EXCLUDE/REPLACE: unbalanced parentheses")
    }
    def splitTop(text: String): Seq[String] = {
      val out = Seq.newBuilder[String]
      val cur = new StringBuilder
      var depth = 0
      text.foreach {
        case ',' if depth == 0 => out += cur.toString.trim; cur.clear()
        case c =>
          if (c == '(') depth += 1 else if (c == ')') depth -= 1
          cur.append(c)
      }
      if (cur.toString.trim.nonEmpty) out += cur.toString.trim
      out.result()
    }
    val m = "(?is)^(\\s*SELECT\\s+\\*\\s+)(.*)$".r
      .findFirstMatchIn(statement).get
    var rest = m.group(2)
    var exclude = Seq.empty[String]
    var replace = Seq.empty[(String, String)] // (col, expr)
    var scanning = true
    while (scanning) {
      val t = rest.dropWhile(_.isWhitespace)
      val tu = t.toUpperCase
      if (tu.startsWith("EXCLUDE")) {
        val (inner, r2) = takeParen(t.substring("EXCLUDE".length))
        exclude ++= splitTop(inner)
        rest = r2
      } else if (tu.startsWith("REPLACE")) {
        val (inner, r2) = takeParen(t.substring("REPLACE".length))
        replace ++= splitTop(inner).map { item =>
          "(?is)^(.*\\S)\\s+AS\\s+(\\w+)\\s*$".r.findFirstMatchIn(item)
            .map(mm => (mm.group(2), mm.group(1)))
            .getOrElse(throw new IllegalArgumentException(
              s"REPLACE: every item must be `<expr> AS <column>` " +
                s"(got: $item)"))
        }
        rest = r2
      } else scanning = false
    }
    val fm = "(?is)^\\s*FROM\\s+(\\w+)\\b(.*)$".r.findFirstMatchIn(rest)
      .getOrElse(throw new IllegalArgumentException(
        "SELECT * EXCLUDE/REPLACE: supported form is a bare star over " +
          "a single named relation — FROM <name> must follow the " +
          "modifiers"))
    val rel = fm.group(1)
    val tailSql = fm.group(2)
    val fields = s.table(rel).schema.fieldNames.toSeq
    (exclude ++ replace.map(_._1)).foreach(c =>
      require(fields.exists(_.equalsIgnoreCase(c)),
        s"EXCLUDE/REPLACE: $rel has no column $c"))
    val exSet = exclude.map(_.toLowerCase).toSet
    require(!replace.exists(r => exSet.contains(r._1.toLowerCase)),
      "REPLACE of an EXCLUDEd column")
    val repMap = replace.map { case (c, e) => c.toLowerCase -> e }.toMap
    val cols = fields.filterNot(f => exSet.contains(f.toLowerCase)).map(
      f => repMap.get(f.toLowerCase).map(e => s"$e AS $f").getOrElse(f))
    require(cols.nonEmpty, "EXCLUDE removed every column")
    s"SELECT ${cols.mkString(", ")} FROM $rel$tailSql"
  }

  // ---- FROM-first statements ---------------------------------------
  // DuckDB's FROM-first syntax. `FROM t SELECT …` and a bare `FROM t`
  // parse natively in BOTH engines (Spark's multi-insert FROM
  // grammar), but the SELECT-less clause forms (`FROM t WHERE …`,
  // `FROM t ORDER BY …`) are DuckDB-only. The rewrite is the
  // definitional one — a missing select list means SELECT * — and
  // runs AFTER the table-function rewrite, so
  // `FROM read_parquet('…') WHERE …` composes.
  private val FromFirstKeyword = "(?is)^\\s*FROM\\b.*".r

  // ---- COLUMNS('regex') expansion ----------------------------------
  // DuckDB's COLUMNS star expression: `COLUMNS('re')` expands to every
  // column of the FROM relation whose name regex-MATCHES (partial,
  // case-sensitive — DuckDB semantics), in table order; wrapped in a
  // function call, `fn(COLUMNS('re'))` becomes one call per matching
  // column. Output naming follows DuckDB: the bare column name by
  // default, or an explicit `AS "alias_\0"` alias with `\0` replaced
  // by each column name. Spark's parser has no COLUMNS grammar, so
  // the text entry expands it against the relation's schema before
  // the parse — same plan as writing the list by hand, so pushdown/
  // pruning are untouched. Supported form: a single named FROM
  // relation (the star-modifier rule); zero matches refuse loudly.
  private val ColumnsFnKeyword =
    "(?is).*\\bCOLUMNS\\s*\\(\\s*('|\\*).*".r
  private val ColumnsAggRe =
    """(?s)([A-Za-z_]\w*)\s*\(\s*COLUMNS\s*\(\s*'([^']*)'\s*\)\s*\)(?:\s+AS\s+"([^"]*)")?""".r
  private val ColumnsBareRe =
    """(?s)COLUMNS\s*\(\s*'([^']*)'\s*\)""".r

  private[graft] def rewriteColumnsFn(s: SparkSession,
      statement0: String): String = {
    // COLUMNS(*) — DuckDB's all-columns form (probed: expands to every
    // column in table order, fn(COLUMNS(*)) fans out like the regex
    // form) — IS the regex form with the match-everything pattern
    val statement = outsideLiterals(statement0)(
      _.replaceAll("(?i)\\bCOLUMNS\\s*\\(\\s*\\*\\s*\\)", "COLUMNS('.*')"))
    val fi = topLevelIndexOf(statement, "FROM")
    require(fi >= 0, "COLUMNS(...) needs a FROM relation to expand against")
    val rel = "(?s)^\\s*([A-Za-z_]\\w*)".r
      .findFirstMatchIn(statement.substring(fi + 4)).map(_.group(1))
      .getOrElse(throw new IllegalArgumentException(
        "COLUMNS(...): supported form is a single named FROM relation"))
    val fields = catalog(s).get(rel).map(_ => table(s, rel))
      .getOrElse(s.table(rel)).schema.fieldNames.toSeq
    def matching(re: String): Seq[String] = {
      val p = java.util.regex.Pattern.compile(re)
      val hit = fields.filter(f => p.matcher(f).find())
      require(hit.nonEmpty, s"COLUMNS('$re') matches no column of $rel")
      hit
    }
    val st1 = ColumnsAggRe.replaceAllIn(statement, m => {
      val (fn, re, alias) = (m.group(1), m.group(2), m.group(3))
      scala.util.matching.Regex.quoteReplacement(
        matching(re).map { c =>
          val name = if (alias == null) c else alias.replace("\\0", c)
          s"$fn($c) AS $name"
        }.mkString(", "))
    })
    ColumnsBareRe.replaceAllIn(st1, m =>
      scala.util.matching.Regex.quoteReplacement(
        matching(m.group(1)).mkString(", ")))
  }

  // ---- UNNEST in the SELECT list ------------------------------------
  // DuckDB's list flattener: `SELECT …, unnest(<list expr>) …` emits
  // one row per element (NULL and empty lists emit none), the other
  // select items repeating — exactly Spark's explode, a GENERATOR
  // (rows expand inside the Generate operator on the scan's own
  // partitioning, no shuffle, no UDF). The rewrite swaps the call for
  // explode and, when the call carries no alias, names the output
  // `unnest` (DuckDB's column naming). ONE unnest per statement:
  // DuckDB zips multiple unnests positionally — a semantics Spark's
  // single-generator rule can't express — so multiples refuse loudly
  // instead of silently cross-producting.
  private val UnnestKeyword = "(?is).*\\bunnest\\s*\\(.*".r

  private[graft] def rewriteUnnest(statement: String): String = {
    val hits = "(?i)\\bunnest\\s*\\(".r.findAllMatchIn(statement).toSeq
    require(hits.size <= 2,
      "at most two unnest() calls per statement are supported (DuckDB " +
        "zips them positionally; 3+ would need an n-ary zip rewrite)")
    if (hits.size == 2) return rewriteUnnestZip(statement)
    val m = hits.head
    val (inner, rest) = takeParenGroup(statement.substring(m.end - 1))
    val aliased = "(?is)^\\s*AS\\b.*".r.matches(rest)
    // unnest(x, recursive := true): DuckDB flattens ALL nesting levels;
    // graft rewrites ONE level — flatten then explode, NULL inner
    // lists dropped first (pinned: recursive unnest skips them, while
    // Spark's flatten would NULL the whole result). Still one Generate
    // on the scan partitioning. The dispatcher refuses 3-plus-level
    // inputs AFTER analysis (the generator's element type is still a
    // list there — silently emitting list rows would diverge).
    val args = splitTopCommasQuoted(inner)
    val body =
      if (args.length == 2 &&
          "(?is)^recursive\\s*:=\\s*true$".r.matches(args(1).trim))
        s"explode(flatten(filter((${args(0)}), __e -> __e IS NOT NULL)))"
      else {
        require(args.length == 1 || !args.last.trim.toLowerCase
          .startsWith("recursive"),
          s"unnest: unsupported argument form: $inner " +
            "(only unnest(x) and unnest(x, recursive := true))")
        s"explode($inner)"
      }
    statement.substring(0, m.start) +
      body + (if (aliased) "" else " AS unnest") + rest
  }

  /** TWO unnest() items in one SELECT list — DuckDB zips them
    * positionally, padding the shorter list with NULL. Spark's
    * single-generator rule can't host two explodes, so the rewrite is
    * the zip identity: `zip_with(a, b, (l, r) -> struct(l, r))` (same
    * NULL padding) exploded ONCE through a LATERAL VIEW injected after
    * the FROM relation, with each unnest item swapped for the struct
    * field. Still one Generate on the scan's own partitioning — zero
    * extra shuffles. Both items must carry explicit aliases (two
    * unnamed items would both claim DuckDB's `unnest` column name).
    */
  private def rewriteUnnestZip(statement: String): String = {
    val AliasRe = "(?is)^\\s*AS\\s+([A-Za-z_]\\w*)".r
    // (start, endAfterAlias, listExpr, alias) per unnest item
    val items = "(?i)\\bunnest\\s*\\(".r.findAllMatchIn(statement).toSeq
      .map { m =>
        val (inner, rest) = takeParenGroup(statement.substring(m.end - 1))
        val am = AliasRe.findFirstMatchIn(rest).getOrElse(
          throw new IllegalArgumentException(
            "zipped unnest items each need an explicit alias " +
              "(unnest(e) AS name)"))
        (m.start, statement.length - rest.length + am.end, inner,
          am.group(1))
      }
    val Seq((s0, e0, x0, a0), (s1, e1, x1, a1)) = items
    require(e0 <= s1, "zipped unnest items must be distinct SELECT items")
    // Both items must sit in the SAME SELECT list: zipping across
    // scopes (a UNION ALL of two single-unnest branches, or an outer
    // query plus a subquery) would inject the LATERAL VIEW into the
    // first scope and leave the second item's struct-field reference
    // unresolved — refuse with the one-per-scope rule instead. Same
    // paren depth, and no SELECT keyword at that depth between them.
    def depthAt(idx: Int): Int = {
      var i = 0; var d = 0; var inS = false
      while (i < idx) {
        val c = statement.charAt(i)
        if (inS) { if (c == '\'') inS = false }
        else c match {
          case '\'' => inS = true
          case '(' => d += 1
          case ')' => d -= 1
          case _ =>
        }
        i += 1
      }
      d
    }
    val d0 = depthAt(s0)
    def selectBetween: Boolean = {
      var i = e0; var d = depthAt(e0); var inS = false
      val up = statement.toUpperCase
      var found = false
      while (i < s1 && !found) {
        val c = statement.charAt(i)
        if (inS) { if (c == '\'') inS = false }
        else c match {
          case '\'' => inS = true
          case '(' => d += 1
          case ')' => d -= 1
          case _ =>
            if (d <= d0 && up.startsWith("SELECT", i) &&
                (i == 0 || !Character.isLetterOrDigit(
                  statement.charAt(i - 1))) &&
                (i + 6 >= statement.length ||
                  !Character.isLetterOrDigit(statement.charAt(i + 6))))
              found = true
        }
        i += 1
      }
      found
    }
    require(depthAt(s1) == d0 && !selectBetween,
      "the two unnest() calls sit in different SELECT scopes — DuckDB " +
        "zips unnests positionally only within ONE select list; use " +
        "one unnest per SELECT instead")
    val rewritten = statement.substring(0, s0) +
      s"__zs.__u0 AS $a0" + statement.substring(e0, s1) +
      s"__zs.__u1 AS $a1" + statement.substring(e1)
    // FROM of the unnest items' own SELECT: first FROM at the items'
    // paren depth (scan starts where the first item sat, so depth is
    // relative to that nesting level).
    val f = topLevelIndexOf(rewritten, "FROM", s0)
    require(f >= 0, "zipped unnest needs a FROM relation")
    // Injection point: before the first same-depth WHERE/GROUP/ORDER/
    // HAVING/LIMIT, or at the enclosing subquery's closing paren, or
    // at end of text.
    val stop = Seq("WHERE", "GROUP", "ORDER", "HAVING", "LIMIT")
    var i = f + 4
    var depth = 0
    var inS = false
    var at = rewritten.length
    val up = rewritten.toUpperCase
    while (i < rewritten.length && at == rewritten.length) {
      val c = rewritten.charAt(i)
      if (inS) { if (c == '\'') inS = false }
      else c match {
        case '\'' => inS = true
        case '(' => depth += 1
        case ')' => if (depth == 0) at = i else depth -= 1
        case _ =>
          if (depth == 0 && stop.exists(k => up.startsWith(k, i) &&
              !Character.isLetterOrDigit(rewritten.charAt(i - 1)) &&
              (i + k.length >= rewritten.length ||
                !Character.isLetterOrDigit(rewritten.charAt(i + k.length)))))
            at = i
      }
      i += 1
    }
    rewritten.substring(0, at) +
      s" LATERAL VIEW explode(zip_with($x0, $x1, " +
      "(__l, __r) -> struct(__l AS __u0, __r AS __u1))) __zt AS __zs " +
      rewritten.substring(at)
  }

  // ---- list slicing --------------------------------------------------
  // DuckDB's list functions resolve in Spark's function registry
  // (GraftExtensions.dialect, and `len` in GraftExtensions.pins); what
  // stays here is syntax Spark's parser rejects (bracket slicing).
  private val ListFnKeyword =
    "(?is).*[A-Za-z_0-9]\\s*\\[\\s*\\d+\\s*:\\s*\\d+\\s*\\].*".r

  private[graft] def rewriteListFns(statement: String): String = {
    // bracket slicing `l[2:4]` — DuckDB's 1-based inclusive list
    // slice; literal integer bounds translate to the same slice()
    // call (a computed bound needs the function spelling).
    // Applied OUTSIDE string literals only: 'doc[1:2]' in a text
    // value must survive untouched (a slice can't span a quote, so
    // the segment-wise application is exact).
    val BracketRe =
      """((?:[A-Za-z_]\w*\.)?[A-Za-z_]\w*)\s*\[\s*(\d+)\s*:\s*(\d+)\s*\]""".r
    outsideLiterals(statement) { seg =>
      BracketRe.replaceAllIn(seg, m => {
        val (b, e) = (m.group(2).toInt, m.group(3).toInt)
        require(b >= 1 && e >= 1,
          s"list slice bounds must be 1-based positive: [$b:$e] " +
            "(negative/from-end bounds are not supported)")
        // e < b is DuckDB's EMPTY slice ([1,2,3,4][4:2] = []), not an
        // error — the same floor at 0 as the function form
        s"slice(${m.group(1)}, $b, ${math.max(e - b + 1, 0)})"
      })
    }
  }

  // ---- list literals, comprehensions, and 1-based subscripts -------
  // DuckDB's `[a, b, c]` literal is Spark's array(a, b, c); the
  // comprehension `[expr FOR x IN l]` / `[… IF pred]` is textual sugar
  // over the SAME higher-order functions x91 maps — transform(l,
  // x -> expr) and transform(filter(l, x -> pred), x -> expr) — so the
  // whole pipeline stays codegen'd array expressions on the scan (no
  // UDF, no shuffle, zero exchanges added). Nested comprehensions
  // compose by recursion (pinned: [[y*2 FOR y IN x] FOR x IN ll] =
  // transform(ll, x -> transform(x, y -> y*2)), DuckDB [[2,4],[6]]).
  // Subscripts: DuckDB's l[i] is 1-BASED with l[0] = NULL, l[-1] =
  // last, out-of-range = NULL — Spark's bare l[i] is 0-based (the
  // nastiest silent-divergence shape there is), so ident[expr]
  // rewrites to try_element_at(l, nullif(i, 0)) (pinned equal on all
  // four edges). A STRING-literal subscript refuses: DuckDB's
  // map['key'] returns a LIST ([] on miss) and struct['field'] is
  // field access — neither matches element_at, so the ambiguity is
  // loud. Chained subscripts after ')'/']' likewise refuse rather
  // than fall through to Spark's 0-based parse.
  private val ListLiteralKeyword = "(?is).*\\[.*".r
  private val CompKeywords = Set("IN", "AND", "OR", "NOT", "THEN",
    "ELSE", "WHEN", "CASE", "SELECT", "WHERE", "HAVING", "BY", "AS",
    "IF", "ALL", "ANY", "SOME", "BETWEEN", "LIKE", "ILIKE", "IS",
    "VALUES", "LIMIT", "OFFSET", "UNION", "EXCEPT", "INTERSECT",
    "DISTINCT", "ON", "SET", "RETURNING", "FROM", "JOIN", "USING")

  /** Index of the matching `]` for the `[` at `open` (quote- and
    * nesting-aware).
    */
  private def matchBracket(text: String, open: Int): Int = {
    var i = open; var depth = 0; var inS = false
    while (i < text.length) {
      val c = text.charAt(i)
      if (inS) { if (c == '\'') inS = false }
      else c match {
        case '\'' => inS = true
        case '[' => depth += 1
        case ']' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException(
      s"unbalanced brackets in: ${text.substring(open)}")
  }

  /** First depth-0 (parens AND brackets), word-bounded, outside-quotes
    * occurrence of word `kw` in `text` from `from`, or -1.
    */
  private def topLevelWord(text: String, kw: String, from: Int = 0): Int = {
    var i = from; var dp = 0; var db = 0; var inS = false
    val up = text.toUpperCase
    while (i < text.length) {
      val c = text.charAt(i)
      if (inS) { if (c == '\'') inS = false }
      else c match {
        case '\'' => inS = true
        case '(' => dp += 1
        case ')' => dp -= 1
        case '[' => db += 1
        case ']' => db -= 1
        case _ =>
          if (dp == 0 && db == 0 && up.startsWith(kw, i) &&
              (i == 0 || !isIdentChar(text.charAt(i - 1))) &&
              (i + kw.length >= text.length ||
                !isIdentChar(text.charAt(i + kw.length)))) return i
      }
      i += 1
    }
    -1
  }

  private[graft] def rewriteListLiterals(statement0: String): String = {
    // ARRAY[1, 2] is the SQL-standard spelling of the [1, 2] literal
    // (same value in DuckDB) — fold the keyword away so phase 1 sees a
    // plain literal bracket
    val statement = outsideLiterals(statement0)(
      _.replaceAll("(?i)\\bARRAY\\s*\\[", "["))
    // phase 1: literal / comprehension brackets (recursive descent)
    def comprehendOrArray(inner0: String): String = {
      val inner = process(inner0)
      val forIdx = topLevelWord(inner, "FOR")
      if (forIdx < 0) return s"array(${inner.trim})"
      require(topLevelWord(inner, "FOR", forIdx + 3) < 0,
        "list comprehension: one FOR per bracket " +
          s"(nest brackets for multiple): $inner")
      val expr = inner.substring(0, forIdx).trim
      val VarIn = "(?is)^\\s*([A-Za-z_]\\w*)\\s+IN\\b".r
      val tail = inner.substring(forIdx + 3)
      val vm = VarIn.findFirstMatchIn(tail).getOrElse(
        throw new IllegalArgumentException(
          s"list comprehension: expected `FOR <var> IN <list>`: $inner"))
      val v = vm.group(1)
      val rest = tail.substring(vm.end)
      val ifIdx = topLevelWord(rest, "IF")
      if (ifIdx < 0) s"transform(${rest.trim}, $v -> $expr)"
      else {
        val lst = rest.substring(0, ifIdx).trim
        val pred = rest.substring(ifIdx + 2).trim
        require(pred.nonEmpty, s"list comprehension: empty IF: $inner")
        s"transform(filter($lst, $v -> $pred), $v -> $expr)"
      }
    }
    def process(text: String): String = {
      val out = new StringBuilder
      var i = 0; var inS = false
      while (i < text.length) {
        val c = text.charAt(i)
        if (inS) { out.append(c); if (c == '\'') inS = false; i += 1 }
        else c match {
          case '\'' => inS = true; out.append(c); i += 1
          case '[' =>
            // subscript position = the bracket follows a primary
            // (identifier not a keyword, ')', ']', or a string) —
            // those stay for phase 2 / the slice rewrite / the loud
            // chained-subscript guard
            val trimmed = out.reverseIterator.dropWhile(_.isWhitespace)
            val prev = if (trimmed.hasNext) Some(trimmed.next()) else None
            val word = out.toString.reverseIterator
              .dropWhile(_.isWhitespace).takeWhile(isIdentChar)
              .toSeq.reverse.mkString
            val subscript = prev.exists(p =>
              isIdentChar(p) || p == ')' || p == ']' || p == '\'') &&
              !(word.nonEmpty && CompKeywords(word.toUpperCase))
            if (subscript) { out.append(c); i += 1 }
            else {
              val close = matchBracket(text, i)
              var emitted = comprehendOrArray(text.substring(i + 1, close))
              i = close + 1
              // subscripts chained directly onto the literal —
              // [10,20,30][-1] is pinned DuckDB (1-based, from-end);
              // each wraps in the same try_element_at + nullif form
              var more = true
              while (more) {
                var j = i
                while (j < text.length && text.charAt(j).isWhitespace) j += 1
                if (j < text.length && text.charAt(j) == '[') {
                  val c2 = matchBracket(text, j)
                  val idx = process(text.substring(j + 1, c2)).trim
                  require(topLevelWord(idx, "FOR") < 0 &&
                    !idx.contains(":"),
                    s"slicing a list literal is not supported: [$idx]")
                  emitted =
                    s"try_element_at($emitted, nullif(($idx), 0))"
                  i = c2 + 1
                } else more = false
              }
              out.append(emitted)
            }
          case _ => out.append(c); i += 1
        }
      }
      out.toString
    }
    // phase 2: identifier subscripts, as a quote-aware scanner (a
    // segment-split regex could never SEE a string-literal index —
    // m['key'] would silently fall through to Spark's own map access).
    // Chained subscripts on an identifier (l[1][2]) wrap inside-out;
    // slices (top-level ':' in the content) stay for the slice
    // rewrite; empty [] type suffixes (VARCHAR[]) pass through.
    def subscripts(text: String): String = {
      val out = new StringBuilder
      var i = 0; var inS = false
      while (i < text.length) {
        val c = text.charAt(i)
        if (inS) { out.append(c); if (c == '\'') inS = false; i += 1 }
        else if (c == '\'') { inS = true; out.append(c); i += 1 }
        else if (isIdentChar(c) || c == '.') {
          val start = i
          while (i < text.length && (isIdentChar(text.charAt(i)) ||
            text.charAt(i) == '.')) i += 1
          val ident = text.substring(start, i)
          var j = i
          while (j < text.length && text.charAt(j).isWhitespace) j += 1
          val isPrimary = ident.nonEmpty && !ident.head.isDigit &&
            ident.head != '.' && !CompKeywords(ident.toUpperCase)
          if (isPrimary && j < text.length && text.charAt(j) == '[') {
            var cur = ident
            var k = j
            var halted = false
            while (!halted && k < text.length && text.charAt(k) == '[') {
              val close = matchBracket(text, k)
              val content = subscripts(text.substring(k + 1, close)).trim
              // a colon outside quotes = slice (or :: cast) — leave
              // for the slice rewrite / a loud parse
              val sliceLike = {
                var m = 0; var q = false; var colon = false
                while (m < content.length && !colon) {
                  val cc = content.charAt(m)
                  if (q) { if (cc == '\'') q = false }
                  else if (cc == '\'') q = true
                  else if (cc == ':') colon = true
                  m += 1
                }
                colon
              }
              if (content.isEmpty || sliceLike)
                halted = true // slice / type suffix — leave verbatim
              else if ("(?s)^'.*'$".r.matches(content)) {
                // string-keyed subscript = DuckDB's map['key'] → the
                // value LIST ([] on miss) — the same rebuilt identity
                // as map_extract (r17; STRUCT operands fail analysis
                // with the struct.field hint, see ListLitRewrite)
                cur = s"filter(array(try_element_at($cur, $content))" +
                  ", __e -> __e IS NOT NULL)"
                k = close + 1
              } else {
                cur = s"try_element_at($cur, nullif(($content), 0))"
                k = close + 1
              }
            }
            out.append(cur)
            i = k
          } else out.append(ident)
        } else { out.append(c); i += 1 }
      }
      out.toString
    }
    var st = subscripts(process(statement))
    // phase 3: a bracket still following ')' or ']' would parse as
    // Spark's 0-BASED subscript — silently off by one — so it refuses
    outsideLiterals(st) { seg =>
      val m = "[)\\]]\\s*\\[".r.findFirstIn(seg)
      require(m.isEmpty,
        "subscript on a parenthesized/array expression is not " +
          s"supported (Spark's bare [] is 0-based) — bind the " +
          s"expression to a column first or use element_at(): …${m.get}…")
      seg
    }
    st
  }

  // ---- DuckDB type-alias pins (probed round 15) --------------------
  // Bare VARCHAR — DuckDB's default string spelling, in half its
  // documentation examples — is REFUSED by Spark's parser
  // (DATATYPE_MISSING_SIZE), killing migration scripts on line 1;
  // TEXT/BLOB/BYTEA/INTn/SIGNED/HUGEINT/FLOAT4/FLOAT8/BOOL/LOGICAL/
  // DOUBLE PRECISION are the same loud class. Bare NUMERIC/DECIMAL is
  // WORSE — SILENT: DuckDB's unsized default is DECIMAL(18,3) where
  // Spark's is DECIMAL(10,0), so CAST(1.5 AS DECIMAL) reads 1.500
  // there and 2 here. All pinned in TYPE POSITIONS only — CAST/
  // TRY_CAST targets and `::` suffixes — so a COLUMN named text/char
  // is never touched. Sized VARCHAR(n)/CHAR(n) casts are probed
  // SHARED (neither engine truncates or pads in cast position) and
  // pass through. Unsigned U*INT has no Spark equivalent and refuses
  // loudly naming the signed widening. HUGEINT maps to DECIMAL(38,0)
  // — covers ±1e38-1 of hugeint's ±1.7e38; the extreme band overflows
  // LOUDLY under ANSI, never silently.
  private val TypeAliasMap: Seq[(String, String)] = Seq(
    "double\\s+precision" -> "DOUBLE",
    "varchar" -> "STRING", "bpchar" -> "STRING", "char" -> "STRING",
    "text" -> "STRING",
    "blob" -> "BINARY", "bytea" -> "BINARY", "varbinary" -> "BINARY",
    "int1" -> "TINYINT", "int2" -> "SMALLINT", "int4" -> "INT",
    "int8" -> "BIGINT", "signed" -> "INT",
    "float4" -> "FLOAT", "float8" -> "DOUBLE",
    "hugeint" -> "DECIMAL(38,0)",
    "numeric" -> "DECIMAL(18,3)", "decimal" -> "DECIMAL(18,3)",
    "bool" -> "BOOLEAN", "logical" -> "BOOLEAN")
  private val UnsignedTypeRe =
    "(?i)^u(?:tinyint|smallint|integer|bigint|hugeint)$".r
  private val TypeAliasKeyword =
    ("(?is).*\\b(varchar|bpchar|char|text|blob|bytea|varbinary|int1|" +
      "int2|int4|int8|signed|hugeint|numeric|decimal|float4|float8|" +
      "bool|logical|double\\s+precision|utinyint|usmallint|uinteger|" +
      "ubigint|uhugeint)\\b.*").r

  /** Map dialect type aliases in COLUMN-DEFINITION position — the
    * r16 column-definition CREATE TABLE tier means `g VARCHAR` now
    * appears in DDL, where the ::/CAST rules don't look. Per-item:
    * the token AFTER the column name is the type; constraint items
    * (PRIMARY KEY (…), CHECK …) and sized spellings (VARCHAR(10),
    * DECIMAL(12,2) — shared grammar) pass through untouched, and a
    * column NAMED like an alias is never touched (only the
    * type-position token maps).
    */
  private def rewriteColumnDefTypes(st: String): String = {
    val head = ("(?is)^(\\s*CREATE\\s+TABLE\\s+(?:IF\\s+NOT\\s+EXISTS" +
      "\\s+)?[A-Za-z_]\\w*\\s*)\\(").r.findFirstMatchIn(st)
    head match {
      case None => st
      case Some(m) =>
        val (inner, rest) = takeParenGroup(st.substring(m.end - 1))
        val constraintHead =
          "(?is)^\\s*(PRIMARY|UNIQUE|CHECK|FOREIGN|CONSTRAINT)\\b".r
        val colRe =
          "(?is)^(\\s*[A-Za-z_]\\w*\\s+)([A-Za-z_]\\w*(?:\\s+PRECISION)?)(.*)$".r
        val items = splitTopCommasQuoted(inner).map { item =>
          if (constraintHead.findFirstIn(item).isDefined) item
          else colRe.findFirstMatchIn(item) match {
            case Some(cm) if !cm.group(3).trim.startsWith("(") =>
              mapTypeAlias(cm.group(2)) match {
                case Some(mapped) =>
                  cm.group(1) + mapped + cm.group(3)
                case None => item
              }
            case _ => item
          }
        }
        st.substring(0, m.end - 1) + "(" + items.mkString(", ") + ")" + rest
    }
  }

  private def mapTypeAlias(raw: String): Option[String] = {
    val t = raw.trim
    if (UnsignedTypeRe.matches(t))
      throw new IllegalArgumentException(
        s"unsigned type $t has no Spark equivalent — widen to the " +
          "next signed type (UTINYINT→SMALLINT, USMALLINT→INT, " +
          "UINTEGER→BIGINT, UBIGINT/UHUGEINT→DECIMAL(38,0)) " +
          "explicitly if the range loss is acceptable")
    TypeAliasMap.collectFirst {
      case (alias, mapped) if ("(?i)^" + alias + "$").r.matches(t) =>
        mapped
    }
  }

  private[graft] def rewriteTypeAliases(st0: String): String = {
    var st = rewriteColumnDefTypes(st0)
    // `::alias` suffix positions (quote-aware; a following '(' means
    // a sized spelling, which is shared and passes through)
    for ((alias, mapped) <- TypeAliasMap)
      st = outsideLiterals(st)(_.replaceAll(
        "(?i)(::\\s*)" + alias + "\\b(?!\\s*\\()", "$1" + mapped))
    st = outsideLiterals(st) { seg =>
      val bad = ("(?i)::\\s*(u(?:tinyint|smallint|integer|bigint|" +
        "hugeint))\\b").r.findFirstMatchIn(seg)
      bad.foreach(m => mapTypeAlias(m.group(1)))
      seg
    }
    // CAST / TRY_CAST targets: paren-group scan, top-level AS
    val castRe = "(?i)\\b(try_)?cast\\s*\\(".r
    var cont = true
    while (cont) {
      cont = false
      castRe.findAllMatchIn(st).find { m =>
        st.substring(0, m.start).count(_ == '\'') % 2 == 0 && {
          val open = st.indexOf('(', m.start)
          val (inner, _) = takeParenGroup(st.substring(open))
          val asIdx = topLevelIndexOf(inner, "AS")
          asIdx >= 0 && {
            val t = inner.substring(asIdx + 2).trim
            UnsignedTypeRe.matches(t) || mapTypeAlias(t).isDefined
          }
        }
      }.foreach { m =>
        val fn = if (m.group(1) != null) "try_cast" else "cast"
        val open = st.indexOf('(', m.start)
        val (inner, rest) = takeParenGroup(st.substring(open))
        val asIdx = topLevelIndexOf(inner, "AS")
        val e = inner.substring(0, asIdx).trim
        val mapped = mapTypeAlias(inner.substring(asIdx + 2).trim).get
        st = st.substring(0, m.start) + s"$fn($e AS $mapped)" + rest
        cont = true
      }
    }
    st
  }

  // ---- string_agg with in-aggregate ORDER BY --------------------------
  // DuckDB orders an aggregate's input INSIDE the call —
  // `string_agg(x, sep ORDER BY y)`; Spark 4 spells the same thing as
  // `listagg(x, sep) WITHIN GROUP (ORDER BY y)`. Both skip NULL
  // inputs. The ORDER BY is REQUIRED at this entry: an unordered
  // string_agg is concatenation in partition-arrival order —
  // nondeterministic on any parallel engine — so graft refuses it
  // rather than hashing luck.
  private val StringAggKeyword = "(?is).*\\bstring_agg\\s*\\(.*".r

  private[graft] def rewriteStringAgg(statement: String): String = {
    var st = statement
    var hit = "(?i)\\bstring_agg\\s*\\(".r.findFirstMatchIn(st)
    while (hit.isDefined) {
      val m = hit.get
      val (inner, rest) = takeParenGroup(st.substring(m.end - 1))
      val args = splitTopCommasQuoted(inner)
      require(args.length == 2,
        s"string_agg takes (expr, separator ORDER BY …), got: $inner")
      val SepOrder = "(?is)^(.+?)\\s+ORDER\\s+BY\\s+(.+)$".r
      val (sep, order) = args(1).trim match {
        case SepOrder(s0, o) => (s0, o)
        case _ => throw new IllegalArgumentException(
          "string_agg needs ORDER BY inside the call (unordered " +
            "concatenation is partition-arrival-order — " +
            "nondeterministic): string_agg(x, sep ORDER BY y)")
      }
      st = st.substring(0, m.start) +
        s"listagg(${args(0)}, $sep) WITHIN GROUP (ORDER BY $order)" + rest
      hit = "(?i)\\bstring_agg\\s*\\(".r.findFirstMatchIn(st)
    }
    st
  }

  // ---- IGNORE NULLS / RESPECT NULLS placement ------------------------
  // DuckDB spells the null-skipping modifier INSIDE the window
  // function's parens — `last_value(x IGNORE NULLS)` — while Spark's
  // grammar takes it OUTSIDE — `last_value(x) IGNORE NULLS`. Same
  // semantics (lag/lead/first_value/last_value/nth_value all support
  // it natively on both engines); the rewrite just moves the modifier
  // across the closing paren, balanced-paren-aware so CASE arguments
  // survive.
  private val NullsModKeyword =
    "(?is).*\\b(IGNORE|RESPECT)\\s+NULLS\\s*\\).*".r

  private[graft] def rewriteNullsModifier(statement: String): String = {
    var st = statement
    val FnRe =
      "(?i)\\b(first_value|last_value|lag|lead|nth_value)\\s*\\(".r
    val ModRe = "(?is)^(.*?)\\s+(IGNORE|RESPECT)\\s+NULLS\\s*$".r
    var changed = true
    while (changed) {
      changed = false
      for (m <- FnRe.findAllMatchIn(st).toSeq if !changed) {
        val (inner, rest) = takeParenGroup(st.substring(m.end - 1))
        inner match {
          case ModRe(args, mod) =>
            st = st.substring(0, m.start) +
              s"${m.group(1)}($args) ${mod.toUpperCase} NULLS" + rest
            changed = true
          case _ =>
        }
      }
    }
    st
  }

  // ---- JSON operators -------------------------------------------------
  // DuckDB's JSON operators mapped onto Spark's codegen'd
  // get_json_object: `j ->> 'key'` returns the UNQUOTED text of the
  // matched value (number → its digits, missing → NULL) — exactly
  // get_json_object's contract, so the rewrite is a path-normalizing
  // name map ('key' → '$.key'; $-paths, nested fields and 0-based [i]
  // array steps pass through unchanged on both engines). The function
  // forms resolve in Spark's registry (GraftExtensions.dialect).
  // json_array_length shares its name and array behavior (objects
  // diverge: DuckDB 0, Spark NULL — texts use it on arrays).
  // json_extract (the JSON-typed, quote-keeping form) stays unmapped
  // and fails analysis loudly.
  private val JsonFnKeyword = "(?is).*->.*".r

  /** Index of the single DEPTH-0 `->` (not `->>`, not inside a string
    * literal) in `text`, or -1 when there are zero or several — a
    * lambda's arrow always sits at depth ≥ 1 inside its enclosing
    * call, so a depth-0 arrow is the JSON operator.
    */
  private def topLevelArrowIndex(text: String): Int = {
    var i = 0; var depth = 0; var inS = false
    var at = -1; var n = 0
    while (i < text.length - 1) {
      val c = text.charAt(i)
      if (inS) { if (c == '\'') inS = false }
      else c match {
        case '\'' => inS = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case '-' if depth == 0 && text.charAt(i + 1) == '>' &&
            (i + 2 >= text.length || text.charAt(i + 2) != '>') =>
          at = i; n += 1; i += 1
        case '-' if text.charAt(i + 1) == '>' =>
          // skip exactly the token (the loop adds one more): '->>' is
          // 3 chars (i += 2), a depth>0 lambda '->' is 2 (i += 1) — a
          // 3-char skip there would swallow the char right after the
          // arrow (e.g. `x ->(…)`'s paren) and corrupt depth tracking
          if (i + 2 < text.length && text.charAt(i + 2) == '>') i += 2
          else i += 1
        case _ =>
      }
      i += 1
    }
    if (n == 1) at else -1
  }

  private[graft] def rewriteJsonFns(statement: String): String = {
    var st = statement
    def norm(p: String): String = if (p.startsWith("$")) p else "$." + p
    // CAST(j -> 'path' AS T[]) — DuckDB's lateral-expansion idiom (no
    // json_each table function exists in 1.0): the JSON-typed -> step
    // casts to a LIST, usually straight under unnest(). Spark's
    // equivalent is from_json over the raw JSON text of the matched
    // value — NULL on a missing path on both engines, so unnest/
    // explode emits zero rows for it. The -> must be the CAST
    // argument's single top-level arrow (a lambda's -> always sits
    // inside its enclosing call's parens, one level down).
    var castHit = "(?i)\\bCAST\\s*\\(".r.findFirstMatchIn(st)
    var castFrom = 0
    while (castHit.isDefined) {
      val m = castHit.get
      val open = st.indexOf('(', m.start + castFrom)
      val (inner, _) = takeParenGroup(st.substring(open))
      val ElemRe = ("(?is)^(.*\\S)\\s+AS\\s+" +
        "(BIGINT|INTEGER|INT|DOUBLE|FLOAT|VARCHAR|STRING|BOOLEAN)" +
        "\\s*\\[\\s*\\]\\s*$").r
      val rewritten = inner match {
        case _ if topLevelArrowIndex(inner) < 0 => None
        case ElemRe(body, tpe) =>
          val at = topLevelArrowIndex(body)
          if (at < 0) None
          else {
            val lhs = body.substring(0, at).trim
            val PathLit = "(?s)^'([^']*)'$".r
            val path = body.substring(at + 2).trim match {
              case PathLit(p) => norm(p)
              case other => throw new IllegalArgumentException(
                "CAST(json -> path AS list): the path must be a " +
                  s"string literal, got: $other")
            }
            val spark = tpe.toUpperCase match {
              case "BIGINT" => "bigint"
              case "INTEGER" | "INT" => "int"
              case "DOUBLE" => "double"
              case "FLOAT" => "float"
              case "VARCHAR" | "STRING" => "string"
              case "BOOLEAN" => "boolean"
            }
            Some(s"from_json(get_json_object($lhs, '$path'), " +
              s"'array<$spark>')")
          }
        case _ => None
      }
      rewritten match {
        case Some(r) =>
          st = st.substring(0, m.start + castFrom) + r +
            st.substring(open + inner.length + 2)
          castFrom = m.start + castFrom + r.length
        case None =>
          castFrom = m.start + castFrom + m.matched.length
      }
      castHit = "(?i)\\bCAST\\s*\\(".r.findFirstMatchIn(
        st.substring(castFrom))
    }
    // j ->> 'key' — (qualified) identifier LHS, literal path RHS
    """((?:[A-Za-z_]\w*\.)?[A-Za-z_]\w*)\s*->>\s*'([^']+)'""".r
      .replaceAllIn(st, m => scala.util.matching.Regex.quoteReplacement(
        s"get_json_object(${m.group(1)}, '${norm(m.group(2))}')"))
  }

  // ---- operator vocabulary pins -------------------------------------
  // DuckDB's expression operators that Spark either assigns a
  // DIFFERENT meaning (the silent class) or lacks entirely:
  //
  //   `^` / `**`  POWER in DuckDB — but `^` is bitwise XOR in Spark:
  //               2 ^ 3 is 8.0 there and 1 here, the nastiest
  //               shared-spelling divergence on the surface. Rewritten
  //               to power() by tight-operand capture. Probed
  //               precedence makes tight capture EXACT: `^` binds
  //               tighter than every binary arithmetic op (1-3^2=-8,
  //               2*3^2=18, 2^3%5=3.0) and looser than `::` casts and
  //               a unary sign in operand position (-3^2=9,
  //               '3'::INT^2=9); chains are left-associative
  //               (2^3^2=64), reproduced by iterating on the FIRST
  //               occurrence. Result is DOUBLE on both engines.
  //   `//`        INTEGER division for INTEGER operands, truncating
  //               toward zero (-7//2=-3) — Spark's infix `div` has the
  //               SAME truncation, precedence level and left-
  //               associativity (probed 3*5//2=7, 5//2*3=6), so the
  //               operator swaps for ` div ` with the divisor wrapped
  //               in nullif(·, 0): DuckDB yields NULL on a zero
  //               divisor where ANSI Spark would error. A DECIMAL/
  //               DOUBLE operand changes DuckDB's `//` into PLAIN
  //               division (7//2.0 = 3.5) — a float LITERAL operand
  //               refuses loudly; non-literal float operands are the
  //               documented typed contract (`//` here is integer
  //               division, as DuckDB's own docs state).
  //   `~` / `!~`  FULL-match regex in DuckDB ('abc' ~ 'b' is FALSE —
  //               unlike Postgres's partial match) → rlike against
  //               \A(?:p)\z, pattern literal backslash-doubled for
  //               Spark's string parser. The left operand must be
  //               syntactically atomic: `~` binds LOOSER than || and
  //               arithmetic ('a'||'bc' ~ 'abc' is true in DuckDB), so
  //               an operator immediately before the captured operand
  //               refuses loudly instead of silently rebinding.
  //               Non-literal patterns refuse (same x94 contract).
  //   `~~` / `!~~`  LIKE / NOT LIKE — same precedence level, pure
  //               token swap.
  //   `^@`        starts_with → startswith() (shared NULL semantics).
  //
  // All scans are quote-aware (single-quoted literals, '' escapes), so
  // regex patterns carrying ^/~ inside literals survive untouched; the
  // emitted text contains none of the trigger tokens outside literals,
  // so dispatch re-entry terminates.
  private val OpPinKeyword =
    "(?is).*(\\^|~|//|\\*\\*|\\bglob\\b|[=!<>]\\s*(any|all)\\s*\\().*".r

  /** Translate a DuckDB GLOB pattern (probed: `*` any run, `?` one
    * char, `[ab]`/`[!ab]` classes, everything else LITERAL — `.` does
    * not match-any) into a Java regex for the \A…\z full-match wrap.
    */
  private def globToRegex(g: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < g.length) {
      g.charAt(i) match {
        case '*' => sb ++= ".*"
        case '?' => sb += '.'
        case '[' =>
          val j = g.indexOf(']', i + 1)
          require(j > 0, s"GLOB: unterminated bracket class in: $g")
          var cls = g.substring(i + 1, j)
          if (cls.startsWith("!")) cls = "^" + cls.substring(1)
          sb ++= "[" + cls + "]"
          i = j
        case c if "\\^$.|+(){}".contains(c) => sb += '\\'; sb += c
        case c => sb += c
      }
      i += 1
    }
    sb.toString
  }

  /** One forward scan: literal mask + close-paren → open-paren map. */
  private def opScanState(st: String): (Array[Boolean], Map[Int, Int]) = {
    val inLit = new Array[Boolean](st.length)
    val stack = scala.collection.mutable.Stack[Int]()
    val close = scala.collection.mutable.Map[Int, Int]()
    var inS = false
    var i = 0
    while (i < st.length) {
      val c = st.charAt(i)
      if (inS) { inLit(i) = true; if (c == '\'') inS = false }
      else c match {
        case '\'' => inS = true; inLit(i) = true
        case '(' => stack.push(i)
        case ')' => if (stack.nonEmpty) close(i) = stack.pop()
        case _ =>
      }
      i += 1
    }
    (inLit, close.toMap)
  }

  private def isOpIdC(c: Char): Boolean =
    c.isLetterOrDigit || c == '_' || c == '.' || c == '$'

  /** First index ≥ 0 outside literals where `hit(i)` is true, or -1. */
  private def opFindFirst(st: String, inLit: Array[Boolean],
      hit: Int => Boolean): Int = {
    var i = 0
    while (i < st.length) {
      if (!inLit(i) && hit(i)) return i
      i += 1
    }
    -1
  }

  /** Start index (inclusive) of the tight operand ending just before
    * `end0` (exclusive): balanced paren group with optional attached
    * function name, `::`-cast chains, (qualified) identifiers, number
    * and string literals. Throws on anything else.
    */
  private def opTightLeft(st: String, end0: Int, inLit: Array[Boolean],
      close: Map[Int, Int]): Int = {
    var j = end0
    while (j > 0 && st.charAt(j - 1).isWhitespace) j -= 1
    require(j > 0, "operator pin: missing left operand")
    def unitStart(j0: Int): Int = {
      var jj = j0
      val c = st.charAt(jj - 1)
      if (c == ')') {
        val o = close.getOrElse(jj - 1, -1)
        require(o >= 0, "operator pin: unbalanced parens in left operand")
        jj = o
        while (jj > 0 && isOpIdC(st.charAt(jj - 1))) jj -= 1
        jj
      } else if (c == '\'') {
        jj -= 1
        while (jj > 0 && inLit(jj - 1)) jj -= 1
        jj
      } else if (isOpIdC(c)) {
        while (jj > 0 && isOpIdC(st.charAt(jj - 1))) jj -= 1
        jj
      } else throw new IllegalArgumentException(
        "cannot capture the left operand of a pinned operator " +
          s"before: …${st.substring(math.max(0, j0 - 24), j0)} — " +
          "parenthesize it")
    }
    var s = unitStart(j)
    while (s >= 2 && st.charAt(s - 1) == ':' && st.charAt(s - 2) == ':')
      s = unitStart(s - 2)
    s
  }

  /** Extend a captured left-operand start over a unary sign when the
    * sign itself sits in operand position (preceded by nothing, an
    * opening paren/comma/operator, or a keyword) — DuckDB binds the
    * sign tighter than `^` (-3^2 = 9), so power's left operand keeps
    * it, while `1 - 3^2` = -8 keeps the binary minus outside.
    */
  private def opIncludeUnarySign(st: String, s: Int): Int = {
    var k = s
    while (k > 0 && st.charAt(k - 1).isWhitespace) k -= 1
    if (k == 0 || (st.charAt(k - 1) != '-' && st.charAt(k - 1) != '+'))
      return s
    var p = k - 1
    while (p > 0 && st.charAt(p - 1).isWhitespace) p -= 1
    val unary = p == 0 || "(,=<>+-*/%^|&".contains(st.charAt(p - 1)) || {
      if (isOpIdC(st.charAt(p - 1))) {
        var q = p
        while (q > 0 && isOpIdC(st.charAt(q - 1))) q -= 1
        CompKeywords.contains(st.substring(q, p).toUpperCase)
      } else false
    }
    if (unary) k - 1 else s
  }

  /** End index (exclusive) of the tight operand starting at/after
    * `start0`: optional unary signs, then literal / number (with
    * scientific suffix) / (qualified) identifier with optional
    * attached call / balanced paren group, then `::`-cast chains.
    */
  private def opTightRight(st: String, start0: Int,
      inLit: Array[Boolean], close: Map[Int, Int]): Int = {
    val open = close.map(_.swap)
    var i = start0
    def skipWs(k0: Int): Int = {
      var k = k0
      while (k < st.length && st.charAt(k).isWhitespace) k += 1
      k
    }
    i = skipWs(i)
    require(i < st.length, "operator pin: missing right operand")
    while (i < st.length && (st.charAt(i) == '-' || st.charAt(i) == '+'))
      i = skipWs(i + 1)
    def unitEnd(i0: Int): Int = {
      require(i0 < st.length, "operator pin: missing right operand")
      var ii = i0
      val c = st.charAt(ii)
      if (c == '\'') {
        ii += 1
        while (ii < st.length && inLit(ii)) ii += 1
        ii
      } else if (c == '(') {
        val cl = open.getOrElse(ii, -1)
        require(cl >= 0, "operator pin: unbalanced parens in right operand")
        cl + 1
      } else if (c.isDigit ||
          (c == '.' && ii + 1 < st.length && st.charAt(ii + 1).isDigit)) {
        while (ii < st.length &&
            (st.charAt(ii).isDigit || st.charAt(ii) == '.')) ii += 1
        if (ii < st.length && (st.charAt(ii) == 'e' || st.charAt(ii) == 'E')
            && ii + 1 < st.length &&
            (st.charAt(ii + 1).isDigit || ((st.charAt(ii + 1) == '-' ||
              st.charAt(ii + 1) == '+') && ii + 2 < st.length &&
              st.charAt(ii + 2).isDigit))) {
          ii += 2
          while (ii < st.length && st.charAt(ii).isDigit) ii += 1
        }
        ii
      } else if (isOpIdC(c)) {
        while (ii < st.length && isOpIdC(st.charAt(ii))) ii += 1
        val k = skipWs(ii)
        if (k < st.length && st.charAt(k) == '(') {
          val cl = open.getOrElse(k, -1)
          require(cl >= 0,
            "operator pin: unbalanced parens in right operand")
          cl + 1
        } else ii
      } else throw new IllegalArgumentException(
        "cannot capture the right operand of a pinned operator " +
          s"at: ${st.substring(i0, math.min(st.length, i0 + 24))}… — " +
          "parenthesize it")
    }
    var e = unitEnd(i)
    while (e + 1 < st.length && st.charAt(e) == ':' &&
        st.charAt(e + 1) == ':')
      e = unitEnd(skipWs(e + 2))
    e
  }

  /** Refuse when the captured left operand is preceded by a binary
    * operator that binds TIGHTER than the comparison-level `~`/`^@` —
    * tight capture would silently rebind ('a'||'bc' ~ 'abc' groups the
    * concat first in DuckDB).
    */
  private def opRequireAtomicLeftContext(st: String, s: Int,
      op: String): Unit = {
    var p = s
    while (p > 0 && st.charAt(p - 1).isWhitespace) p -= 1
    require(p == 0 || !"|&+-*/%^<>=".contains(st.charAt(p - 1)),
      s"$op after an operator expression is ambiguous here — " +
        "parenthesize the left operand")
  }

  /** Wrap a raw regex (as read from a DuckDB literal, '' already
    * re-doubled) in the full-match anchors. The session parses
    * literals RAW (escapedStringLiterals=true — the shared-dialect
    * normalization), so the pattern embeds verbatim with SINGLE
    * backslashes, exactly as DuckDB's parser would deliver it.
    */
  private def opSparkPatternLiteral(quoted: String): String =
    "'\\A(?:" + quoted + ")\\z'"

  private[graft] def rewriteOperatorPins(st0: String): String = {
    var st = st0
    // longest tokens first so shorter scans never see their remains
    def swap(tok: String, rep: String): Unit = {
      val sb = new StringBuilder
      var i = 0; var inS = false
      while (i < st.length) {
        val c = st.charAt(i)
        if (inS) { sb += c; if (c == '\'') inS = false; i += 1 }
        else if (c == '\'') { inS = true; sb += c; i += 1 }
        else if (st.startsWith(tok, i)) { sb ++= rep; i += tok.length }
        else { sb += c; i += 1 }
      }
      st = sb.toString
    }
    swap("!~~", " NOT LIKE ")
    swap("~~", " LIKE ")
    // quantified comparisons: `= ANY (subquery)` IS the standard IN,
    // `<> ALL` / `!= ALL` is NOT IN — identical NULL semantics (both
    // probed NULL on null-carrying misses); Spark's parser has no
    // ANY/ALL comparison grammar, so other operators stay loud parse
    // errors (spell MIN/MAX scalar subqueries)
    st = outsideLiterals(st)(
      _.replaceAll("(?i)(?<![<>!=])=\\s*ANY(?=\\s*\\()", " IN ")
        .replaceAll("(?i)(<>|!=)\\s*ALL(?=\\s*\\()", " NOT IN "))
    // GLOB: full-match shell pattern (probed: '.' literal, '*'/'?'
    // wildcards, [!a] negated class) → rlike \A…\z, literal patterns
    // only; DuckDB has no NOT GLOB grammar, so none here either
    var moreGlob = true
    while (moreGlob) {
      val (inLit, close) = opScanState(st)
      val up = st.toUpperCase
      val idx = opFindFirst(st, inLit, i => up.startsWith("GLOB", i) &&
        (i == 0 || !isOpIdC(st.charAt(i - 1))) &&
        (i + 4 >= st.length || !isOpIdC(st.charAt(i + 4))))
      if (idx < 0) moreGlob = false
      else {
        val ls = opTightLeft(st, idx, inLit, close)
        opRequireAtomicLeftContext(st, ls, "GLOB")
        val rs = {
          var k = idx + 4
          while (k < st.length && st.charAt(k).isWhitespace) k += 1
          k
        }
        require(rs < st.length && st.charAt(rs) == '\'',
          "GLOB needs a LITERAL pattern — computed patterns are not " +
            "supported")
        val re = opTightRight(st, rs, inLit, close)
        val quoted = st.substring(rs + 1, re - 1)
        st = st.substring(0, ls) +
          s"rlike(${st.substring(ls, idx).trim}, " +
          opSparkPatternLiteral(globToRegex(quoted)) + ")" +
          st.substring(re)
      }
    }
    // ^@ starts_with — before the power scan (shares '^')
    var more = true
    while (more) {
      val (inLit, close) = opScanState(st)
      val idx = opFindFirst(st, inLit, i => st.startsWith("^@", i))
      if (idx < 0) more = false
      else {
        val ls = opTightLeft(st, idx, inLit, close)
        opRequireAtomicLeftContext(st, ls, "^@")
        val re = opTightRight(st, idx + 2, inLit, close)
        st = st.substring(0, ls) + "startswith(" +
          st.substring(ls, idx).trim + ", " +
          st.substring(idx + 2, re).trim + ")" + st.substring(re)
      }
    }
    // ~ / !~ full-match regex
    more = true
    while (more) {
      val (inLit, close) = opScanState(st)
      val idx = opFindFirst(st, inLit, i => st.charAt(i) == '~')
      if (idx < 0) more = false
      else {
        val neg = idx > 0 && st.charAt(idx - 1) == '!'
        val opStart = if (neg) idx - 1 else idx
        val ls = opTightLeft(st, opStart, inLit, close)
        opRequireAtomicLeftContext(st, ls, "~")
        val rs = {
          var k = idx + 1
          while (k < st.length && st.charAt(k).isWhitespace) k += 1
          k
        }
        require(rs < st.length && st.charAt(rs) == '\'',
          "~ / !~ (full-match regex) needs a LITERAL pattern — " +
            "computed patterns are not supported")
        val re = opTightRight(st, rs, inLit, close)
        val quoted = st.substring(rs + 1, re - 1) // '' escapes kept
        val call = s"rlike(${st.substring(ls, opStart).trim}, " +
          opSparkPatternLiteral(quoted) + ")"
        st = st.substring(0, ls) +
          (if (neg) s"(NOT $call)" else call) + st.substring(re)
      }
    }
    // ** then ^ — power, left-assoc by first-occurrence iteration
    for (tok <- Seq("**", "^")) {
      more = true
      while (more) {
        val (inLit, close) = opScanState(st)
        val idx = opFindFirst(st, inLit, i => st.startsWith(tok, i) &&
          (tok == "**" || i + 1 >= st.length || st.charAt(i + 1) != '@'))
        if (idx < 0) more = false
        else {
          val ls0 = opTightLeft(st, idx, inLit, close)
          val ls = opIncludeUnarySign(st, ls0)
          val re = opTightRight(st, idx + tok.length, inLit, close)
          st = st.substring(0, ls) + "power(" +
            st.substring(ls, idx).trim + ", " +
            st.substring(idx + tok.length, re).trim + ")" +
            st.substring(re)
        }
      }
    }
    // // integer division → infix div (same precedence/associativity),
    // divisor nullif-guarded (DuckDB: NULL on zero divisor)
    more = true
    while (more) {
      val (inLit, close) = opScanState(st)
      val idx = opFindFirst(st, inLit, i => st.startsWith("//", i))
      if (idx < 0) more = false
      else {
        val ls = opTightLeft(st, idx, inLit, close)
        val re = opTightRight(st, idx + 2, inLit, close)
        val (l, r) =
          (st.substring(ls, idx).trim, st.substring(idx + 2, re).trim)
        def floatLit(x: String) =
          x.matches("""[+-]?\d+\.\d*([eE][+-]?\d+)?""") ||
            x.matches("""[+-]?\d+[eE][+-]?\d+""")
        require(!floatLit(l) && !floatLit(r),
          s"// with a non-integer operand is PLAIN division in DuckDB " +
            s"(7 // 2.0 = 3.5) — spell `/`, or cast to an integer type " +
            s"for integer division: $l // $r")
        st = st.substring(0, idx) + " div nullif((" + r + "), 0)" +
          st.substring(re)
      }
    }
    st
  }

  // ---- time_bucket ---------------------------------------------------
  // DuckDB's time_bucket(INTERVAL, ts) — the report-grid primitive.
  // Probed alignment rule: EVERY second/minute/hour/day/week multiple
  // aligns to the origin 2000-01-03 00:00:00 UTC (epoch 946857600 —
  // verified for 3/4/5/6/7/10/14-day, 7-hour, 90-minute, 11-second
  // buckets: (bucket − origin) % width = 0 on all, while 2000-01-01
  // leaves remainder 2 on the day multiples). Rewritten to exact
  // INTEGER arithmetic on the shared epoch grid (the UTC session):
  //   timestamp_micros((u − O) − pmod(u − O, W) + O),  u = unix_micros
  // pmod keeps the floor semantics for pre-origin timestamps (probed:
  // 1999 inputs bucket DOWN). MONTH/YEAR multiples are calendar
  // buckets floored on the month ordinal since 2000-01 (probed:
  // '5 months' 1999-05 → 1999-03, '3 months' → 1999-04, years ride
  // the 12-multiple) → make_timestamp over the floored ordinal.
  // All codegen'd scalar arithmetic on the scan — no UDF, no shuffle.
  // The 3-arg origin/offset form refuses; DATE inputs return
  // TIMESTAMP here where DuckDB preserves DATE (documented — wrap in
  // CAST(... AS DATE) for the DATE form).
  private val TimeBucketKeyword = "(?is).*\\btime_bucket\\s*\\(.*".r

  private val TimeBucketInterval =
    "(?i)^INTERVAL\\s+'(\\d+)\\s+(second|minute|hour|day|week|month|year)s?'$".r

  private[graft] def rewriteTimeBucket(statement: String): String = {
    var st = statement
    val re = "(?i)\\btime_bucket\\s*\\(".r
    var from = 0
    var hit = re.findFirstMatchIn(st.substring(from)).map(m =>
      (m.start + from, m.end + from))
    while (hit.isDefined) {
      val (hs, he) = hit.get
      // quote-parity guard: a literal like 'time_bucket(x)' survives
      if (st.substring(0, hs).count(_ == '\'') % 2 == 1) {
        from = hs + 1
        hit = re.findFirstMatchIn(st.substring(from)).map(m =>
          (m.start + from, m.end + from))
      } else {
      val (inner, rest) = takeParenGroup(st.substring(he - 1))
      val args = splitTopCommasQuoted(inner)
      require(args.length == 2,
        "time_bucket takes (INTERVAL literal, timestamp) — the 3-arg " +
          s"origin/offset form is not supported: $inner")
      val iv = TimeBucketInterval.findFirstMatchIn(args.head.trim)
        .getOrElse(throw new IllegalArgumentException(
          "time_bucket: the bucket width must be a literal " +
            s"INTERVAL 'n unit': ${args.head}"))
      val n = iv.group(1).toLong
      require(n > 0, "time_bucket: zero-width bucket")
      val unit = iv.group(2).toLowerCase
      val ts = args(1).trim
      val out = unit match {
        case "month" | "year" =>
          val nm = if (unit == "year") n * 12 else n
          val ord = s"((year($ts) - 2000) * 12 + month($ts) - 1)"
          // pmod(x, 1) = 0 — skip it for the common 1-month grid
          val b = if (nm == 1L) ord else s"($ord - pmod($ord, $nm))"
          s"make_timestamp(2000 + CAST(($b - pmod($b, 12)) / 12 AS INT)," +
            s" CAST(pmod($b, 12) AS INT) + 1, 1, 0, 0, 0)"
        case _ =>
          val micros = unit match {
            case "second" => 1000000L
            case "minute" => 60L * 1000000L
            case "hour" => 3600L * 1000000L
            case "day" => 86400L * 1000000L
            case "week" => 7L * 86400L * 1000000L
          }
          val w = n * micros
          val o = 946857600000000L // 2000-01-03 00:00:00 UTC
          // CAST tolerates DATE and TIMESTAMP_NTZ inputs (the parquet
          // reader surfaces unadjusted micros as NTZ); the UTC session
          // makes the cast value-preserving. DuckDB returns DATE for a
          // DATE input where this stays TIMESTAMP — documented; wrap
          // in CAST(… AS DATE) for the date-typed grid.
          val u = s"(unix_micros(CAST($ts AS TIMESTAMP)) - ${o}L)"
          s"timestamp_micros($u - pmod($u, ${w}L) + ${o}L)"
      }
      st = st.substring(0, hs) + out + rest
      from = 0
      hit = re.findFirstMatchIn(st.substring(from)).map(m =>
        (m.start + from, m.end + from))
      }
    }
    st
  }

  // ---- ordered list / array_agg ---------------------------------------
  // DuckDB's list(x ORDER BY k [ASC|DESC]) / array_agg(…) — ordered
  // collection with NULL ELEMENTS KEPT (probed: list(x ORDER BY k)
  // over a NULL x yields [NULL, …]; Spark's bare collect_list DROPS
  // nulls — a silent divergence) and NULLS-LAST key order in BOTH
  // directions (probed ASC [3,1,2] / DESC [1,3,2] on a NULL key).
  // Rewritten to the struct-carry identity:
  //   transform(array_sort(collect_list(struct(k AS __k, x AS __v)),
  //             (a, b) -> <null-last comparator>), s -> s.__v)
  // — the struct is never null, so collect_list keeps null values; the
  // explicit comparator pins the key order including NULL keys. One
  // aggregation, the sort is per-group post-aggregate. The ORDER BY is
  // REQUIRED (DuckDB's bare list() is partition-arrival order — the
  // unordered-string_agg refusal class); DISTINCT and multi-key ORDER
  // BY refuse loudly. Ties on equal keys are unspecified on BOTH
  // engines (DuckDB docs: input order — which is itself parallel-
  // nondeterministic), so hashable statements use a unique key.
  private val OrderedAggKeyword =
    "(?is).*\\b(list|array_agg)\\s*\\(.*".r

  private[graft] def rewriteOrderedListAgg(statement: String): String = {
    var st = statement
    val re = "(?i)\\b(list|array_agg)\\s*\\(".r
    var from = 0
    var hit = re.findFirstMatchIn(st.substring(from)).map(m =>
      (m.start + from, m.end + from))
    while (hit.isDefined) {
      val (s0, e0) = hit.get
      // quote-parity guard: skip matches inside string literals
      if (st.substring(0, s0).count(_ == '\'') % 2 == 1) {
        from = s0 + 1
      } else {
        val (inner, rest) = takeParenGroup(st.substring(e0 - 1))
        require(!inner.trim.toUpperCase.startsWith("DISTINCT"),
          "list/array_agg DISTINCT is not supported — dedupe in a " +
            "subquery, then aggregate")
        val ob = topLevelWord(inner, "ORDER")
        require(ob >= 0,
          "list/array_agg without ORDER BY is partition-arrival order " +
            "— not deterministic on any parallel engine; add ORDER BY")
        val expr = inner.substring(0, ob).trim
        val keyPart = inner.substring(ob)
          .replaceFirst("(?is)^ORDER\\s+BY\\s+", "").trim
        require(topLevelWord(keyPart, "ORDER") < 0 &&
          splitTopCommasQuoted(keyPart).length == 1,
          s"list/array_agg: single ORDER BY key only: $keyPart")
        val (key, desc) =
          if (keyPart.toUpperCase.endsWith(" DESC"))
            (keyPart.dropRight(5).trim, true)
          else if (keyPart.toUpperCase.endsWith(" ASC"))
            (keyPart.dropRight(4).trim, false)
          else (keyPart, false)
        val (lt, gt) = if (desc) ("1", "-1") else ("-1", "1")
        val cmp = "(a, b) -> CASE " +
          "WHEN a.__k IS NULL AND b.__k IS NULL THEN 0 " +
          "WHEN a.__k IS NULL THEN 1 WHEN b.__k IS NULL THEN -1 " +
          s"WHEN a.__k < b.__k THEN $lt WHEN a.__k > b.__k THEN $gt " +
          "ELSE 0 END"
        st = st.substring(0, s0) +
          s"transform(array_sort(collect_list(struct(($key) AS __k, " +
          s"($expr) AS __v)), $cmp), s -> s.__v)" + rest
        from = 0
      }
      hit = re.findFirstMatchIn(st.substring(from)).map(m =>
        (m.start + from, m.end + from))
    }
    st
  }

  // ---- struct_pack ------------------------------------------------------
  // DuckDB's struct constructor: struct_pack(name := expr, …) is
  // Spark's named_struct('name', expr, …) — same nested-type model,
  // same dot access on the result on both engines. Nested
  // struct_pack calls resolve inside-out (each pass rewrites one call
  // and rescans). Codegen'd CreateNamedStruct — no UDF.
  private val StructPackKeyword = "(?is).*\\bstruct_pack\\s*\\(.*".r

  private[graft] def rewriteStructPack(statement: String): String = {
    var st = statement
    var hit = "(?i)\\bstruct_pack\\s*\\(".r.findFirstMatchIn(st)
    while (hit.isDefined) {
      val m = hit.get
      val (inner, rest) = takeParenGroup(st.substring(m.end - 1))
      val fields = splitTopCommasQuoted(inner).map { a =>
        val mm = "(?s)^([A-Za-z_]\\w*)\\s*:=\\s*(.+)$".r
          .findFirstMatchIn(a.trim).getOrElse(
            throw new IllegalArgumentException(
              s"struct_pack takes name := expr entries, got: $a"))
        s"'${mm.group(1)}', ${mm.group(2)}"
      }
      st = st.substring(0, m.start) +
        s"named_struct(${fields.mkString(", ")})" + rest
      hit = "(?i)\\bstruct_pack\\s*\\(".r.findFirstMatchIn(st)
    }
    st
  }

  // ---- shared micro-parsers for the DuckDB-syntax rewrites ---------

  /** Split on top-level commas, treating '…' string literals as atoms
    * (a comma inside a quoted separator must not split). Doubled ''
    * escapes stay inside the literal naturally: the quote state just
    * toggles twice.
    */
  private def splitTopCommasQuoted(text: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var inStr = false
    text.foreach {
      case '\'' => inStr = !inStr; cur.append('\'')
      case ',' if depth == 0 && !inStr => out += cur.toString.trim; cur.clear()
      case c =>
        if (!inStr) { if (c == '(') depth += 1 else if (c == ')') depth -= 1 }
        cur.append(c)
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString.trim
    out.result()
  }

  /** Split `text` on top-level commas (outside parens). */
  private def splitTopCommas(text: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    text.foreach {
      case ',' if depth == 0 => out += cur.toString.trim; cur.clear()
      case c =>
        if (c == '(') depth += 1 else if (c == ')') depth -= 1
        cur.append(c)
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString.trim
    out.result()
  }

  /** Consume a leading parenthesized group: returns (inner, rest).
    * Quote-aware: parens inside single-quoted string literals do not
    * count toward the balance (a literal like '%log(%' must not
    * mis-close the group; SQL's doubled-quote escape flips the state
    * twice, so parity stays correct).
    */
  private def takeParenGroup(text: String): (String, String) = {
    val open = text.indexOf('(')
    require(open >= 0 && text.substring(0, open).isBlank,
      "expected a parenthesized list")
    var depth = 0
    var i = open
    var inS = false
    while (i < text.length) {
      val c = text.charAt(i)
      if (inS) { if (c == '\'') inS = false }
      else c match {
        case '\'' => inS = true
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0)
            return (text.substring(open + 1, i), text.substring(i + 1))
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException("unbalanced parentheses")
  }

  // ---- read_parquet / read_csv table functions ---------------------
  // DuckDB's hallmark entry UX: query a file directly — `SELECT …
  // FROM read_parquet('path')` (reference:duckdb:1-10, the lake-read
  // capability itself). The rewrite binds each distinct call to a
  // temp view over the matching Spark reader and substitutes the view
  // name, so the statement then flows through the normal path with
  // full Catalyst pushdown/pruning into the file scan. Pure text→text
  // and applied BEFORE every other route, so file reads compose with
  // QUALIFY, EXPLAIN, SUMMARIZE, scripts, …
  private val TableFnKeyword =
    ("(?is).*(\\bread_(parquet|csv|json)\\s*\\(|" +
      "\\b(from|join)\\s+'[^']+\\.(parquet|csv|json)').*").r

  // DuckDB's bare-file-name relation: `FROM 'x.parquet'` routes by
  // extension to the matching read_* table function, which the block
  // below then binds — one rule, same view machinery, so `FROM
  // 'f.parquet' t WHERE …` and JOINs compose unchanged.
  private val FileFromRe =
    "(?is)\\b(FROM|JOIN)\\s+'([^']+\\.(parquet|csv|json))'".r
  private val CreateViewKeyword =
    "(?is)^\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?VIEW\\b.*".r
  private val TableFnRe =
    ("""(?is)\bread_(parquet|csv|json)\s*\(\s*'([^']+)'\s*""" +
      """(?:,\s*header\s*=\s*(true|false)\s*)?\)""").r

  private[graft] def rewriteTableFunctions(s: SparkSession,
      statement0: String): String = {
    // COPY has its own `FROM '<path>'` grammar (the import direction)
    // — the bare-file-relation rule must not capture it
    val statement =
      if ("(?is)^\\s*COPY\\b.*".r.matches(statement0)) statement0
      else FileFromRe.replaceAllIn(statement0, m =>
        s"${m.group(1)} read_${m.group(3).toLowerCase}('${m.group(2)}')")
    TableFnRe.replaceAllIn(statement, m => {
      val kind = m.group(1).toLowerCase
      val path = m.group(2)
      val header = Option(m.group(3)).forall(_.equalsIgnoreCase("true"))
      require(kind != "json" || m.group(3) == null,
        "read_json takes no header= option")
      val v = "__tf_" + java.security.MessageDigest.getInstance("MD5")
        .digest(s"$kind|$path|$header".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(10)
      val df = kind match {
        case "parquet" => s.read.parquet(path)
        case "csv" => s.read.option("header", header.toString)
          .option("inferSchema", "true").csv(path)
        // JSON-lines (the crawl-pipeline raw format): schema inferred
        // from the data like DuckDB's read_json auto-detection. The
        // inference pass samples the file once at bind time; the query
        // itself then prunes to the referenced fields (the parser
        // materializes only the ReadSchema columns).
        case "json" => s.read.json(path)
      }
      df.createOrReplaceTempView(v)
      v
    })
  }

  // ---- generate_series / range table functions ---------------------
  // DuckDB's numeric series generators as FROM-position table
  // functions. Bound to `spark.range(start, end, step)` — Spark's
  // LAZY distributed range source (Range logical node: numSlices =
  // default parallelism, rows generated inside whole-stage codegen,
  // nothing materialized) — so a billion-row spine costs no memory
  // and parallelizes like a scan. Semantics match DuckDB exactly:
  // generate_series stop is INCLUSIVE, range stop is EXCLUSIVE, the
  // 1-arg form counts from 0, a descending step needs start > stop,
  // an empty interval yields zero rows (never an error), and the
  // output column is named after the function. Literal args only
  // (the bind happens at rewrite time, before Catalyst sees the
  // statement); non-literal args refuse loudly below. Only rewrites
  // in FROM/JOIN position, so window `RANGE BETWEEN …` frames and a
  // scalar range() are untouched.
  private val SeriesFnKeyword =
    "(?is).*\\b(FROM|JOIN)\\s+(generate_series|range)\\s*\\(.*".r
  private val SeriesFnRe =
    ("""(?is)\b(FROM|JOIN)(\s+)(generate_series|range)\s*\(\s*""" +
      """(-?\d+)\s*(?:,\s*(-?\d+)\s*(?:,\s*(-?\d+)\s*)?)?\)""").r

  // Temporal form: generate_series(DATE|TIMESTAMP '…', …, INTERVAL n
  // unit) — the calendar spine. DuckDB steps the interval
  // CUMULATIVELY (Jan 31 +1 month → Feb 28 → Mar 28: a day clamp
  // sticks), which is NOT start + i·step — Spark's sequence()
  // multiplies and would give Mar 31 — so the series is generated at
  // bind time with java.time (plusMonths clamps identically) and
  // bound as a TimestampNTZ view (DuckDB's TIMESTAMP is naive; NTZ
  // round-trips through parquet tz-independently). Calendar spines
  // are bounded by construction (a century of hours < 10⁶ rows) and
  // always the broadcast side of a spine join; the 10⁶ cap refuses
  // the misuse loudly — an unbounded numeric series belongs to the
  // lazy Range branch below.
  private val TemporalSeriesRe =
    ("""(?is)\b(FROM|JOIN)(\s+)(generate_series|range)\s*\(\s*""" +
      """((?:DATE|TIMESTAMP)\s*'[^']+')\s*,\s*""" +
      """((?:DATE|TIMESTAMP)\s*'[^']+')\s*,\s*""" +
      """INTERVAL\s+'?(-?\d+)'?\s+([A-Za-z]+)\s*\)""").r

  private def parseTsLiteral(lit: String): java.time.LocalDateTime = {
    val body = lit.replaceAll("(?is)^(DATE|TIMESTAMP)\\s*'", "")
      .stripSuffix("'").trim
    if (body.contains(" ") || body.contains("T"))
      java.time.LocalDateTime.parse(body.replace(' ', 'T'))
    else java.time.LocalDate.parse(body).atStartOfDay
  }

  private def plusStep(t: java.time.LocalDateTime, n: Long,
      unit: String): java.time.LocalDateTime =
    unit.toLowerCase.stripSuffix("s") match {
      case "year" => t.plusYears(n)
      case "month" => t.plusMonths(n)
      case "week" => t.plusWeeks(n)
      case "day" => t.plusDays(n)
      case "hour" => t.plusHours(n)
      case "minute" => t.plusMinutes(n)
      case "second" => t.plusSeconds(n)
      case u => throw new IllegalArgumentException(
        s"generate_series/range: unsupported interval unit $u")
    }

  private def rewriteTemporalSeries(s: SparkSession,
      statement: String): String =
    TemporalSeriesRe.replaceAllIn(statement, m => {
      val fn = m.group(3).toLowerCase
      val (start, stop) =
        (parseTsLiteral(m.group(4)), parseTsLiteral(m.group(5)))
      val n = m.group(6).toLong
      val unit = m.group(7)
      require(n != 0, s"$fn: interval step must be non-zero")
      val asc = plusStep(start, n, unit).isAfter(start)
      val inclusive = fn == "generate_series"
      val buf = scala.collection.mutable.ArrayBuffer[java.time.LocalDateTime]()
      var cur = start
      def in(t: java.time.LocalDateTime): Boolean =
        if (asc) t.isBefore(stop) || (inclusive && t == stop)
        else t.isAfter(stop) || (inclusive && t == stop)
      while (in(cur)) {
        buf += cur
        require(buf.size <= 1000000,
          s"$fn: temporal series exceeds 1e6 rows — widen the step")
        cur = plusStep(cur, n, unit)
      }
      val v = "__tf_" + java.security.MessageDigest.getInstance("MD5")
        .digest(s"$fn|$start|$stop|$n|$unit".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(10)
      s.createDataset(buf.toSeq)(
        org.apache.spark.sql.Encoders.LOCALDATETIME)
        .toDF(fn).createOrReplaceTempView(v)
      scala.util.matching.Regex.quoteReplacement(
        m.group(1) + m.group(2) + v)
    })

  private[graft] def rewriteSeriesFunctions(s: SparkSession,
      statement: String): String = {
    val st = rewriteTemporalSeries(s, statement)
    val out = SeriesFnRe.replaceAllIn(st, m => {
      val fn = m.group(3).toLowerCase
      val step = Option(m.group(6)).map(_.toLong).getOrElse(1L)
      require(step != 0, s"$fn: step must be non-zero")
      val (start, stop) = Option(m.group(5)).map(_.toLong) match {
        case Some(b) => (m.group(4).toLong, b)
        case None => (0L, m.group(4).toLong)
      }
      val endExcl =
        if (fn == "generate_series") { if (step > 0) stop + 1 else stop - 1 }
        else stop
      val v = "__tf_" + java.security.MessageDigest.getInstance("MD5")
        .digest(s"$fn|$start|$endExcl|$step".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(10)
      s.range(start, endExcl, step).toDF(fn).createOrReplaceTempView(v)
      scala.util.matching.Regex.quoteReplacement(
        m.group(1) + m.group(2) + v)
    })
    require(!SeriesFnKeyword.matches(out),
      "generate_series/range: only literal integer arguments are " +
        "supported — generate_series(start, stop[, step]), " +
        "range(start, stop[, step]), or the 1-arg form")
    rewriteScalarSeries(out)
  }

  /** Scalar/list forms (round 15): generate_series / range in
    * EXPRESSION position return DuckDB's BIGINT LIST (arguments may
    * be expressions — unlike the table form, nothing materializes).
    * Spark's sequence() is the twin EXCEPT on empty ranges, where it
    * AUTO-REVERSES (sequence(1, 0) = [1, 0]) while DuckDB yields [] —
    * the CASE guard pins the empty answer for the 1/2-arg forms
    * (probed: generate_series(5,1) = [] = range(5,1)); the 3-arg
    * forms map direct, where a direction-mismatched step is [] there
    * and a LOUD sequence error here — never silent. generate_series
    * stop is INCLUSIVE, range stop EXCLUSIVE, 1-arg starts at 0 —
    * same contract as the table forms above.
    */
  private[graft] def rewriteScalarSeries(st0: String): String = {
    var st = st0
    val re = "(?i)\\b(generate_series|range)\\s*\\(".r
    var from = 0
    var go = true
    while (go) {
      go = false
      re.findAllMatchIn(st).find(m => m.start >= from &&
          st.substring(0, m.start).count(_ == '\'') % 2 == 0)
        .foreach { m =>
          // a FROM/JOIN-position call that survived the table pass has
          // non-literal args — leave it for the loud table-form refusal
          val before = st.substring(0, m.start).reverse.dropWhile(c =>
            c.isWhitespace).takeWhile(c => c.isLetter).reverse
          if (before.equalsIgnoreCase("FROM") ||
              before.equalsIgnoreCase("JOIN")) {
            from = m.end; go = true
          } else {
            val fn = m.group(1).toLowerCase
            val open = st.indexOf('(', m.start)
            val (inner, rest) = takeParenGroup(st.substring(open))
            val args = splitTopCommasQuoted(inner).map(_.trim)
            require(args.nonEmpty && args.length <= 3,
              s"$fn takes 1-3 arguments, got: $inner")
            def B(x: String) = s"CAST(($x) AS BIGINT)"
            val empty = "CAST(array() AS ARRAY<BIGINT>)"
            val incl = fn == "generate_series"
            val out = args match {
              case Seq(n) =>
                val hi = if (incl) B(n) else s"${B(n)} - 1"
                s"(CASE WHEN ${B(n)} ${if (incl) "<" else "<="} 0 " +
                  s"THEN $empty ELSE sequence(0, $hi) END)"
              case Seq(a, b) =>
                val hi = if (incl) B(b) else s"${B(b)} - 1"
                s"(CASE WHEN ${B(a)} ${if (incl) ">" else ">="} ${B(b)} " +
                  s"THEN $empty ELSE sequence(${B(a)}, $hi) END)"
              case Seq(a, b, s3) =>
                val hi = if (incl) B(b)
                  else s"${B(b)} + (CASE WHEN ${B(s3)} < 0 THEN 1 " +
                    "ELSE -1 END)"
                s"sequence(${B(a)}, $hi, ${B(s3)})"
            }
            st = st.substring(0, m.start) + out + rest
            from = 0; go = true
          }
        }
    }
    st
  }

  // ---- USING SAMPLE at the text entry ------------------------------
  // A sample clause with DETERMINISTIC semantics: `FROM <table> USING
  // SAMPLE <p> PERCENT (<key exprs>)` keeps a row iff the md5 of its
  // dash-joined key strings falls below a 3-hex-digit threshold
  // (⌊4096·p/100⌋ — granularity 1/4096). Unlike engine-native SAMPLE
  // (a different row set per engine/run/partitioning), the content-
  // hash rule is portable and stable — the q31/d11 sampling law at
  // the text entry, so the SAME rows are kept by DuckDB replaying the
  // predicate, by every graft re-run, and by any repartitioning.
  // NULL keys: the key joins with NULL-PROPAGATING || (on both
  // engines), so a row with any NULL key hashes to NULL and is
  // DROPPED — identical on both engines. concat_ws would silently
  // skip NULLs here, making ('a', NULL) collide with ('a') on the
  // Spark side while the oracle's || replay drops the row.
  private val SampleKeyword = "(?is).*\\bUSING\\s+SAMPLE\\b.*".r
  private val SampleRe =
    ("""(?is)\bFROM\s+(\w+)\s+USING\s+SAMPLE\s+([0-9.]+)\s*""" +
      """(?:%|PERCENT)\s*\(\s*([^)]+?)\s*\)""").r

  private[graft] def rewriteSample(statement: String): String = {
    require(SampleRe.findFirstIn(statement).isDefined,
      "unsupported USING SAMPLE form — supported: FROM <table> USING " +
        "SAMPLE <p> PERCENT (<key expr>, …) [deterministic content-" +
        "hash semantics]")
    SampleRe.replaceAllIn(statement, m => {
      val (tbl, pct, keys) =
        (m.group(1), m.group(2).toDouble, splitTopCommas(m.group(3)))
      require(pct > 0 && pct < 100, s"USING SAMPLE: percent $pct out of (0, 100)")
      val threshold = "%03x".format(math.floor(4096.0 * pct / 100.0).toInt)
      // `||`, not concat (pinned to DuckDB's NULL-skipping concat)
      val key = keys.map(k => s"CAST($k AS STRING)").mkString(" || '-' || ")
      scala.util.matching.Regex.quoteReplacement(
        s"FROM (SELECT * FROM $tbl WHERE " +
          s"SUBSTR(MD5($key), 1, 3) < '$threshold') $tbl")
    })
  }

  // ---- window frame EXCLUDE CURRENT ROW ----------------------------
  // DuckDB's frame exclusion for SUM/COUNT/AVG windows. Spark's window
  // frames cannot exclude rows, but the identity is algebraic:
  //   SUM(e) EXCLUDE CURRENT = SUM(e) − COALESCE(e, 0), NULL when the
  //     excluded frame holds no non-null e (the COUNT guard);
  //   COUNT(e) EXCLUDE CURRENT = COUNT(e) − [e IS NOT NULL];
  //   AVG = the guarded SUM over the adjusted COUNT.
  // The rewrite emits exactly that, so the engines agree on every
  // boundary case (single-row frames, NULL inputs, empty exclusions)
  // — and the oracle is DuckDB running its NATIVE EXCLUDE on the same
  // text. Supported form: `SUM|COUNT|AVG(expr) OVER (<spec without
  // nested parens> EXCLUDE CURRENT ROW)`; other EXCLUDE modes fall
  // through to the parser and refuse loudly.
  private val FrameExcludeKeyword =
    "(?is).*\\bEXCLUDE\\s+CURRENT\\s+ROW\\b.*".r
  private val FrameExcludeRe =
    ("""(?is)\b(SUM|COUNT|AVG)\s*\(\s*([^()]+?)\s*\)\s+OVER\s+""" +
      """\(\s*([^()]*?)\s+EXCLUDE\s+CURRENT\s+ROW\s*\)""").r

  /** The subtract-the-current-row identity is only valid when the
    * frame CONTAINS the current row; for a frame that already excludes
    * it (e.g. ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) DuckDB's
    * EXCLUDE CURRENT ROW is a no-op and subtracting would be silently
    * wrong — refuse loudly instead. A frame contains the current row
    * iff its start is not strictly after it (no `n FOLLOWING` start)
    * and its end is not strictly before it (no `n PRECEDING` end);
    * the no-frame default (RANGE UNBOUNDED PRECEDING..CURRENT ROW)
    * and the single-bound form (`ROWS n PRECEDING` = ..CURRENT ROW)
    * always contain it.
    */
  private def requireFrameContainsCurrentRow(spec: String): Unit = {
    val between =
      """(?is)\b(ROWS|RANGE)\s+BETWEEN\s+(.+?)\s+AND\s+(.+?)\s*$""".r
    between.findFirstMatchIn(spec).foreach { fm =>
      val start = fm.group(2).trim.toUpperCase
      val end = fm.group(3).trim.toUpperCase
      val startAfterCurrent =
        start.endsWith("FOLLOWING") && !start.startsWith("UNBOUNDED")
      val endBeforeCurrent =
        end.endsWith("PRECEDING") && !end.startsWith("UNBOUNDED")
      require(!startAfterCurrent && !endBeforeCurrent,
        s"EXCLUDE CURRENT ROW over a frame that does not contain the " +
          s"current row ($start AND $end) — DuckDB treats the " +
          s"exclusion as a no-op there and the subtract-identity " +
          s"rewrite would be wrong; drop the EXCLUDE or widen the frame")
    }
  }

  private[graft] def rewriteFrameExclude(statement: String): String = {
    require(FrameExcludeRe.findFirstIn(statement).isDefined,
      "unsupported EXCLUDE CURRENT ROW form — supported: " +
        "SUM|COUNT|AVG(expr) OVER (<window spec> EXCLUDE CURRENT ROW)")
    val out = FrameExcludeRe.replaceAllIn(statement, m => {
      val (fn, e, spec) =
        (m.group(1).toUpperCase, m.group(2).trim, m.group(3).trim)
      requireFrameContainsCurrentRow(spec)
      val w = s"OVER ($spec)"
      val cnt = s"(COUNT($e) $w - (CASE WHEN ($e) IS NULL THEN 0 ELSE 1 END))"
      val sum = s"(CASE WHEN $cnt = 0 THEN NULL " +
        s"ELSE SUM($e) $w - COALESCE($e, 0) END)"
      scala.util.matching.Regex.quoteReplacement(fn match {
        case "COUNT" => cnt
        case "SUM" => sum
        case "AVG" => s"($sum / $cnt)"
      })
    })
    require(!FrameExcludeKeyword.matches(out),
      "EXCLUDE CURRENT ROW present in an unsupported position (nested " +
        "parentheses in the window spec, or a non-SUM/COUNT/AVG " +
        "aggregate) — rewrite it explicitly")
    out
  }

  // ---- window frame EXCLUDE GROUP / EXCLUDE TIES -------------------
  // The other two standard frame exclusions (DuckDB-native; Spark has
  // none). Both are algebraic over PEER-GROUP aggregates — the peer
  // group of a row is every row sharing its (partition, ORDER BY
  // value), which is exactly a window PARTITIONed BY (p, order keys):
  //   COUNT(e) EXCLUDE GROUP = COUNT(e) frame − COUNT(e) peers
  //   SUM(e)   EXCLUDE GROUP = frame − COALESCE(peers, 0),
  //                            NULL when the adjusted COUNT is 0
  //   EXCLUDE TIES = EXCLUDE GROUP with the current row added back
  //                  (+[e IS NOT NULL] / +COALESCE(e, 0))
  //   AVG = the guarded SUM over the adjusted COUNT (as in x68)
  // The identity is only valid when the frame CONTAINS the whole peer
  // group, so the supported frames are the RANGE forms that guarantee
  // it — the default frame (RANGE UNBOUNDED PRECEDING..CURRENT ROW:
  // a RANGE CURRENT ROW end spans the full peer set) or an explicit
  // RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW|UNBOUNDED
  // FOLLOWING. ROWS frames and bounded RANGE offsets refuse loudly.
  //
  // The ROWS-frame form IS expressible — the identity is written down
  // here for the record: peer groups are contiguous under the window
  // ordering, so with a row ordinal rn = ROW_NUMBER() OVER (PARTITION
  // BY p ORDER BY k) injected by a subquery wrap, frame∩peers of a
  // ROWS BETWEEN a PRECEDING AND b FOLLOWING frame is exactly
  //   AGG(e) OVER (PARTITION BY p, k-values ORDER BY rn
  //                RANGE BETWEEN a PRECEDING AND b FOLLOWING)
  // (rn is strictly increasing, so RANGE-on-rn = the ROWS offsets),
  // and the guarded subtraction proceeds as in the RANGE forms. It
  // stays REFUSED anyway, on determinism grounds rather than
  // expressibility: a ROWS frame cuts peer groups at a position
  // determined by the tie order, which SQL leaves unspecified — with
  // a non-total ORDER BY, DuckDB's own EXCLUDE GROUP/TIES result over
  // a ROWS frame varies with arbitrary tie placement (unhashable on
  // ANY parallel engine, same class as unordered string_agg); with a
  // total ORDER BY every peer group is a single row and the exclusion
  // degenerates to EXCLUDE CURRENT ROW, which x68 already covers. So
  // every deterministic instance of the construct is already
  // expressible at this entry, and the nondeterministic ones refuse —
  // the same refuse-or-exact rule the rest of the surface follows.
  // Cost note for the supported forms: the peer aggregate rides the
  // SAME exchange (its partition keys are a superset of the
  // window's), so no extra shuffle at any scale.
  private val FrameExcludeGroupKeyword =
    "(?is).*\\bEXCLUDE\\s+(GROUP|TIES)\\b.*".r
  private val FrameExcludeGroupRe =
    ("""(?is)\b(SUM|COUNT|AVG)\s*\(\s*(\*|[^()]+?)\s*\)\s+OVER\s+""" +
      """\(\s*PARTITION\s+BY\s+([^()]+?)\s+ORDER\s+BY\s+([^()]+?)""" +
      """(\s+RANGE\s+BETWEEN\s+UNBOUNDED\s+PRECEDING\s+AND\s+""" +
      """(?:CURRENT\s+ROW|UNBOUNDED\s+FOLLOWING))?""" +
      """\s+EXCLUDE\s+(GROUP|TIES)\s*\)""").r

  private[graft] def rewriteFrameExcludeGroup(statement: String): String = {
    require(FrameExcludeGroupRe.findFirstIn(statement).isDefined,
      "unsupported EXCLUDE GROUP/TIES form — supported: SUM|COUNT|AVG" +
        "(expr | *) OVER (PARTITION BY p ORDER BY k [RANGE BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW|UNBOUNDED FOLLOWING] " +
        "EXCLUDE GROUP|TIES) — ROWS frames and bounded RANGE offsets " +
        "cannot exclude peer groups (the group may be cut mid-frame)")
    val out = FrameExcludeGroupRe.replaceAllIn(statement, m => {
      val fn = m.group(1).toUpperCase
      val e = m.group(2).trim
      val p = m.group(3).trim
      val k = m.group(4).trim
      val frame = Option(m.group(5)).map(_.trim).getOrElse("")
      val mode = m.group(6).toUpperCase
      require(!(e == "*" && fn != "COUNT"), s"$fn(*) is not a window " +
        "aggregate — only COUNT(*) takes *")
      // An unsupported frame (ROWS, GROUPS, bounded RANGE) backtracks
      // into the lazy ORDER BY capture instead of failing the match —
      // catch it there, loudly: only the RANGE forms that contain the
      // whole peer group can exclude it.
      require(!"(?is).*\\b(ROWS|RANGE|GROUPS)\\b.*".r.matches(k),
        s"EXCLUDE $mode over a ROWS/GROUPS/bounded-RANGE frame — the " +
          "frame may cut the peer group mid-way, so the exclusion " +
          "identity does not hold; use RANGE BETWEEN UNBOUNDED " +
          "PRECEDING AND CURRENT ROW|UNBOUNDED FOLLOWING (or the " +
          "default frame)")
      // peer partition keys: the ORDER BY items with direction / null-
      // ordering words stripped (the peer group is defined by VALUE).
      val keys = splitTopCommas(k).map(_.trim
        .replaceAll("(?is)\\s+NULLS\\s+(FIRST|LAST)\\s*$", "")
        .replaceAll("(?is)\\s+(ASC|DESC)\\s*$", ""))
      val wf = s"OVER (PARTITION BY $p ORDER BY $k" +
        (if (frame.isEmpty) ")" else s" $frame)")
      val wp = s"OVER (PARTITION BY $p, ${keys.mkString(", ")})"
      val curCnt =
        if (e == "*") "1" else s"(CASE WHEN ($e) IS NULL THEN 0 ELSE 1 END)"
      val cnt =
        if (e == "*")
          s"(COUNT(*) $wf - COUNT(*) $wp" +
            (if (mode == "TIES") " + 1)" else ")")
        else
          s"(COUNT($e) $wf - COUNT($e) $wp" +
            (if (mode == "TIES") s" + $curCnt)" else ")")
      val sum = {
        val back = if (mode == "TIES") s" + COALESCE($e, 0)" else ""
        s"(CASE WHEN $cnt = 0 THEN NULL " +
          s"ELSE SUM($e) $wf - COALESCE(SUM($e) $wp, 0)$back END)"
      }
      scala.util.matching.Regex.quoteReplacement(fn match {
        case "COUNT" => cnt
        case "SUM" => sum
        case "AVG" => s"($sum / $cnt)"
      })
    })
    require(!FrameExcludeGroupKeyword.matches(out),
      "EXCLUDE GROUP/TIES present in an unsupported position (no " +
        "PARTITION BY, a ROWS or bounded-RANGE frame, nested parens " +
        "in the spec, or a non-SUM/COUNT/AVG aggregate) — rewrite it " +
        "explicitly")
    out
  }

  // ---- GROUPS window-frame mode ------------------------------------
  // The third SQL-standard frame mode (rows grouped by ORDER BY peer
  // sets; frame bounds count peer GROUPS, not rows or values). Spark's
  // Catalyst has only RowFrame and RangeFrame — so GROUPS rewrites by
  // the standard identity: the peer-group ordinal of a row is
  // DENSE_RANK() over the same (partition, order), and a GROUPS frame
  // of ±n groups is exactly a RANGE frame of ±n over that dense rank
  // (dense ranks are consecutive integers, one per peer group, and
  // RANGE's CURRENT ROW bound already spans the full peer set).
  // Supported form (refuses loudly otherwise): a single-level
  // `SELECT <list> FROM <source> [WHERE …] [ORDER BY …] [LIMIT …]`
  // whose select list uses `FN(args) OVER (PARTITION BY p ORDER BY k
  // GROUPS BETWEEN <a> PRECEDING AND <b FOLLOWING | CURRENT ROW>)`.
  // The rewrite wraps the source once: the inner query computes one
  // `__grp_i` dense rank per DISTINCT (partition, order) pair; the
  // outer query replaces each GROUPS spec with the RANGE-over-ordinal
  // spec. WHERE stays inside (windows evaluate after filters);
  // trailing ORDER BY / LIMIT stay outside.
  private val GroupsFrameKeyword = "(?is).*\\bGROUPS\\s+BETWEEN\\b.*".r
  private val GroupsFrameRe =
    ("""(?is)OVER\s+\(\s*PARTITION\s+BY\s+([^()]+?)\s+ORDER\s+BY\s+""" +
      """([^()]+?)\s+GROUPS\s+BETWEEN\s+(\d+|UNBOUNDED)\s+PRECEDING""" +
      """\s+AND\s+((?:\d+|UNBOUNDED)\s+FOLLOWING|CURRENT\s+ROW)\s*\)""").r

  private[graft] def rewriteGroupsFrame(statement: String): String = {
    require(GroupsFrameRe.findFirstIn(statement).isDefined,
      "unsupported GROUPS frame form — supported: FN(args) OVER " +
        "(PARTITION BY p ORDER BY k GROUPS BETWEEN a PRECEDING AND " +
        "<b FOLLOWING | CURRENT ROW>)")
    // one dense-rank ordinal per distinct (partition, order) pair
    val pairs = scala.collection.mutable.LinkedHashMap[(String, String), String]()
    def grpAlias(p: String, k: String): String =
      pairs.getOrElseUpdate((p.trim, k.trim), s"__grp_${pairs.size}")
    val rewritten = GroupsFrameRe.replaceAllIn(statement, m => {
      val g = grpAlias(m.group(1), m.group(2))
      val lo = m.group(3).toUpperCase
      val hi = m.group(4).toUpperCase.replaceAll("\\s+", " ")
      scala.util.matching.Regex.quoteReplacement(
        s"OVER (PARTITION BY ${m.group(1).trim} ORDER BY $g " +
          s"RANGE BETWEEN $lo PRECEDING AND $hi)")
    })
    require(!GroupsFrameKeyword.matches(rewritten),
      "GROUPS frame present in an unsupported position (no PARTITION " +
        "BY, nested parens in the spec, or an EXCLUDE clause) — " +
        "rewrite it explicitly")
    // statement surgery: SELECT <list> FROM <source…> [ORDER BY/LIMIT]
    val selIdx = topLevelIndexOf(rewritten, "SELECT")
    val fromIdx = topLevelIndexOf(rewritten, "FROM")
    require(selIdx >= 0 && fromIdx > selIdx,
      "GROUPS rewrite needs a single-level SELECT … FROM … statement")
    require(topLevelIndexOf(rewritten, "GROUP BY", fromIdx) < 0 &&
      topLevelIndexOf(rewritten, "HAVING", fromIdx) < 0,
      "GROUPS frames over grouped queries are not supported at the " +
        "text entry — wrap the aggregation in a subquery")
    val ordIdx = topLevelIndexOf(rewritten, "ORDER BY", fromIdx)
    val limIdx = topLevelIndexOf(rewritten, "LIMIT", fromIdx)
    val tailIdx = Seq(ordIdx, limIdx).filter(_ >= 0).sorted.headOption
      .getOrElse(rewritten.length)
    val selectList = rewritten.substring(selIdx + "SELECT".length, fromIdx)
    val source = rewritten.substring(fromIdx, tailIdx)
    val tail = rewritten.substring(tailIdx)
    val ranks = pairs.map { case ((p, k), g) =>
      s"DENSE_RANK() OVER (PARTITION BY $p ORDER BY $k) AS $g"
    }.mkString(", ")
    s"SELECT $selectList FROM (SELECT *, $ranks $source) __groups_frame $tail"
  }

  // ---- PIVOT statement at the text entry ---------------------------
  // DuckDB's standalone pivot statement: `PIVOT <table> ON <col>
  // USING <agg>(<arg>) [GROUP BY <cols>] [ORDER BY <cols>]` — one
  // output column per distinct ON-value. Routed to Spark's NATIVE
  // RelationalGroupedDataset.pivot (two-phase: per-(group, value)
  // partial aggregation, then a pivot-first fold — the distinct
  // ON-values are collected once, bounded by Spark's pivot max-values
  // guard, and become literal output columns). Cells with no rows are
  // NULL (both engines' SUM-over-empty convention; DuckDB's native
  // count-pivot prints 0 — the oracle states the NULL form).
  private val PivotKeyword = "(?is)^\\s*PIVOT\\b.*".r
  private val PivotRe =
    ("""(?is)^\s*PIVOT\s+(\w+)\s+ON\s+(\w+)\s+USING\s+(\w+)\s*""" +
      """\(\s*([^)]*?)\s*\)""" +
      """(?:\s+GROUP\s+BY\s+([\w\s,.]+?))?""" +
      """(?:\s+ORDER\s+BY\s+([\w\s,.]+?))?\s*$""").r

  private def runPivot(s: SparkSession, statement: String): DataFrame = {
    val m = PivotRe.findFirstMatchIn(statement).getOrElse(
      throw new IllegalArgumentException(
        "unsupported PIVOT form — supported: PIVOT <table> ON <col> " +
          "USING <agg>(<arg>) [GROUP BY <cols>] [ORDER BY <cols>]"))
    val (table, onCol, fn, arg) =
      (m.group(1), m.group(2), m.group(3).toLowerCase, m.group(4).trim)
    val groupCols = Option(m.group(5)).map(splitTopCommas(_)).getOrElse(
      throw new IllegalArgumentException(
        "PIVOT: GROUP BY is required (grouping by every remaining " +
          "column implicitly is not supported — name the keys)"))
    val orderCols = Option(m.group(6)).map(splitTopCommas(_))
      .getOrElse(groupCols)
    val base = sql(s, s"SELECT * FROM $table")
    import org.apache.spark.sql.functions.{lit, count => cnt}
    val agg = if (fn == "count" && (arg == "*" || arg.isEmpty))
      cnt(lit(1)) else Glue.column(parseExpr(s, s"$fn($arg)"))
    base.groupBy(groupCols.map(org.apache.spark.sql.functions.col): _*)
      .pivot(onCol)
      .agg(agg)
      .orderBy(orderCols.map(org.apache.spark.sql.functions.col): _*)
  }

  // ---- UNPIVOT statement at the text entry -------------------------
  // DuckDB's standalone unpivot: `UNPIVOT (<table|subquery>) ON
  // <cols> INTO NAME <n> VALUE <v> [ORDER BY …]` — wide columns fold
  // into (name, value) rows, NULL cells dropped (both engines'
  // default). Rewrites to Spark's native SQL UNPIVOT clause, so
  // Catalyst plans the Expand and column pruning still reaches the
  // scan for the non-folded keys.
  private val UnpivotKeyword = "(?is)^\\s*UNPIVOT\\b.*".r

  private[graft] def rewriteUnpivot(statement: String): String = {
    val afterKw = "(?is)^\\s*UNPIVOT\\s+(.*)$".r
      .findFirstMatchIn(statement).get.group(1)
    val (src, rest0) =
      if (afterKw.trim.startsWith("(")) {
        val (inner, r) = takeParenGroup(afterKw)
        (s"($inner) __unpivot_src", r)
      } else {
        val mm = "(?s)^(\\w+)(.*)$".r.findFirstMatchIn(afterKw.trim)
          .getOrElse(throw new IllegalArgumentException(
            "UNPIVOT: expected a table name or parenthesized subquery"))
        (mm.group(1), mm.group(2))
      }
    val m = ("""(?is)^\s*ON\s+([\w\s,.]+?)\s+INTO\s+NAME\s+(\w+)""" +
      """\s+VALUE\s+(\w+)\s*(ORDER\s+BY\s+[\w\s,.]+?)?\s*$""").r
      .findFirstMatchIn(rest0).getOrElse(
        throw new IllegalArgumentException(
          "unsupported UNPIVOT form — supported: UNPIVOT <table|(query)> " +
            "ON <cols> INTO NAME <n> VALUE <v> [ORDER BY <cols>]"))
    val cols = splitTopCommas(m.group(1))
    require(cols.nonEmpty, "UNPIVOT: empty ON list")
    val (nameCol, valueCol) = (m.group(2), m.group(3))
    val orderPart = Option(m.group(4)).map(" " + _).getOrElse("")
    s"SELECT * FROM $src UNPIVOT ($valueCol FOR $nameCol IN " +
      s"(${cols.mkString(", ")}))$orderPart"
  }

  // ---- DESCRIBE at the text entry ----------------------------------
  // DuckDB's `DESCRIBE <table>` as a cross-engine statement: the
  // relation binds through the normal entry (raw views, cataloged
  // lake tables, time travel), and types are reported in the NEUTRAL
  // SQL spelling both engines print (BIGINT/DOUBLE/VARCHAR/…), so the
  // same statement oracle-checks against DuckDB's own DESCRIBE of the
  // same parquet. Metadata-only — no data IO.
  // DESCRIBE <table> and DESCRIBE <SELECT …> (DuckDB describes any
  // query's result schema — the analysis runs, nothing executes).
  private val DescribeKeyword =
    "(?is)^\\s*DESCRIBE\\s+(\\w+\\s*|SELECT\\b.*|WITH\\b.*|FROM\\b.*)$".r

  private def runDescribe(s: SparkSession, statement: String): DataFrame = {
    val body = "(?is)^\\s*DESCRIBE\\s+(.+?)\\s*$".r
      .findFirstMatchIn(statement).get.group(1)
    val schema =
      if ("(?is)^(SELECT|WITH|FROM)\\b.*".r.matches(body)) sql(s, body).schema
      else sql(s, s"SELECT * FROM $body").schema
    import org.apache.spark.sql.types._
    def sqlName(dt: DataType): String = dt match {
      case LongType => "BIGINT"
      case IntegerType => "INTEGER"
      case ShortType => "SMALLINT"
      case ByteType => "TINYINT"
      case DoubleType => "DOUBLE"
      case FloatType => "FLOAT"
      case StringType => "VARCHAR"
      case BooleanType => "BOOLEAN"
      case DateType => "DATE"
      case TimestampType | TimestampNTZType => "TIMESTAMP"
      case BinaryType => "BLOB"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case ArrayType(e, _) => s"${sqlName(e)}[]"
      case other => other.sql
    }
    val jrows = new java.util.ArrayList[org.apache.spark.sql.Row](
      schema.fields.length)
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      jrows.add(org.apache.spark.sql.Row(
        f.name, sqlName(f.dataType), i + 1))
    }
    s.createDataFrame(jrows, StructType(Seq(
      StructField("column_name", StringType, nullable = false),
      StructField("column_type", StringType, nullable = false),
      StructField("ordinal", IntegerType, nullable = false))))
  }

  // ---- SELECT DISTINCT ON at the text entry ------------------------
  // DuckDB's `SELECT DISTINCT ON (exprs) cols … ORDER BY …` keeps the
  // FIRST row per on-group in the statement's order. Spark's parser
  // has no DISTINCT ON; the rewrite is the ROW_NUMBER identity: rank
  // within each on-group by the statement's ORDER BY, keep rank 1,
  // then apply the same ORDER BY outside. The supported form requires
  // a top-level ORDER BY (DuckDB without one is nondeterministic —
  // graft refuses instead), an explicit select list (items bare
  // columns or aliased expressions), and unqualified order columns
  // drawn from the projected names.
  private val DistinctOnKeyword =
    "(?is)^\\s*SELECT\\s+DISTINCT\\s+ON\\s*\\(.*".r

  private[graft] def rewriteDistinctOn(statement: String): String = {
    val m = "(?is)^\\s*SELECT\\s+DISTINCT\\s+ON\\s*(.*)$".r
      .findFirstMatchIn(statement).get
    val (onInner, rest0) = takeParenGroup(m.group(1))
    val onExprs = splitTopCommas(onInner)
    require(onExprs.nonEmpty, "DISTINCT ON: empty expression list")
    val fromIdx = topLevelIndexOf(rest0, "FROM")
    require(fromIdx >= 0, "DISTINCT ON: missing FROM")
    val selectList = rest0.substring(0, fromIdx).trim
    require(selectList.nonEmpty && !splitTopCommas(selectList)
        .exists(it => it.trim == "*" || it.trim.endsWith(".*")),
      "DISTINCT ON: an explicit select list is required (no *)")
    // names: the projected output columns; aliasSrc: alias → source
    // expression, needed because Spark cannot resolve a same-select
    // alias inside a window spec (lateral column aliases don't reach
    // OVER clauses) — order items naming an alias substitute the
    // source expression into the generated ROW_NUMBER window.
    val items = splitTopCommas(selectList)
    val aliasSrc = scala.collection.mutable.Map.empty[String, String]
    val names = items.map { it =>
      "(?is)^(.*\\S)\\s+AS\\s+(\\w+)\\s*$".r.findFirstMatchIn(it)
        .map { am => aliasSrc(am.group(2).toLowerCase) = am.group(1).trim
          am.group(2) }
        .getOrElse {
          require("(?s)^[\\w.]+$".r.matches(it.trim),
            s"DISTINCT ON: select item needs an alias: $it")
          it.trim.split('.').last
        }
    }
    val tail0 = rest0.substring(fromIdx)
    val obIdx = topLevelIndexOf(tail0, "ORDER")
    require(obIdx >= 0,
      "DISTINCT ON requires a top-level ORDER BY (which row survives " +
        "per group is undefined without one)")
    val fromPart = tail0.substring(0, obIdx).trim
    val om = "(?is)^ORDER\\s+BY\\s+(.*)$".r
      .findFirstMatchIn(tail0.substring(obIdx).trim).get
    val obTail = om.group(1)
    val limIdx = topLevelIndexOf(obTail, "LIMIT")
    val (orderList, limitPart) =
      if (limIdx >= 0) (obTail.substring(0, limIdx).trim,
        " " + obTail.substring(limIdx).trim)
      else (obTail.trim, "")
    val OrderItemRe =
      "(?is)^(\\w+)(\\s+(?:ASC|DESC))?(\\s+NULLS\\s+(?:FIRST|LAST))?$".r
    val parsedOrder = splitTopCommas(orderList).map { o =>
      OrderItemRe.findFirstMatchIn(o.trim).getOrElse(
        throw new IllegalArgumentException(
          s"DISTINCT ON: order item must be an unqualified projected " +
            s"column [ASC|DESC] [NULLS FIRST|LAST] (got: $o)"))
    }
    // DuckDB running the SAME text defaults ORDER BY to NULLS LAST;
    // Spark's ASC default is NULLS FIRST — with nullable order keys a
    // bare item would keep a DIFFERENT surviving row per group. Items
    // lacking an explicit NULLS clause get NULLS LAST appended on the
    // Spark side so both engines pick the same row.
    def render(m: scala.util.matching.Regex.Match, name: String) = {
      val dir = Option(m.group(2)).getOrElse("")
      val nulls = Option(m.group(3)).getOrElse(" NULLS LAST")
      s"$name$dir$nulls"
    }
    // Window ORDER BY: substitute alias sources (see aliasSrc above);
    // outer ORDER BY: the projected names resolve directly.
    val windowOrder = parsedOrder.map(m =>
      render(m, aliasSrc.getOrElse(m.group(1).toLowerCase, m.group(1))))
      .mkString(", ")
    val outerOrder = parsedOrder.map(m => render(m, m.group(1)))
      .mkString(", ")
    s"SELECT ${names.mkString(", ")} FROM (SELECT $selectList, " +
      s"ROW_NUMBER() OVER (PARTITION BY ${onExprs.mkString(", ")} " +
      s"ORDER BY $windowOrder) AS __don $fromPart) __distinct_on " +
      s"WHERE __don = 1 ORDER BY $outerOrder$limitPart"
  }

  // ---- UNION [ALL] BY NAME at the text entry -----------------------
  // DuckDB matches union branches by COLUMN NAME, filling missing
  // columns with NULL — exactly Spark's Dataset.unionByName(
  // allowMissingColumns = true), so the branches are planned through
  // the normal entry and joined by the native operator rather than a
  // textual column-alignment rewrite. Plain UNION BY NAME dedups
  // (DuckDB bag semantics), ALL keeps multiplicity; mixed separators
  // refuse. A trailing top-level ORDER BY applies to the union result.
  private val UnionByNameKeyword =
    "(?is).*\\bUNION\\s+(ALL\\s+)?BY\\s+NAME\\b.*".r
  private val UnionByNameHead = "(?is)^UNION\\s+(ALL\\s+)?BY\\s+NAME\\b".r

  private def runUnionByName(s: SparkSession, statement: String): DataFrame = {
    var segs = Vector.empty[String]
    var alls = Vector.empty[Boolean]
    var rest = statement
    var done = false
    while (!done) {
      val i = topLevelIndexOf(rest, "UNION")
      if (i < 0) { segs :+= rest.trim; done = true }
      else {
        val hm = UnionByNameHead.findFirstMatchIn(rest.substring(i))
          .getOrElse(throw new IllegalArgumentException(
            "UNION BY NAME cannot mix with positional UNION in one " +
              "statement — split the query"))
        segs :+= rest.substring(0, i).trim
        alls :+= hm.group(1) != null
        rest = rest.substring(i + hm.matched.length)
      }
    }
    require(segs.size >= 2, "UNION BY NAME: need at least two branches")
    require(alls.distinct.size == 1,
      "UNION BY NAME: mixing ALL and dedup branches is unsupported")
    // A trailing top-level ORDER BY binds to the whole union.
    val last = segs.last
    val ob = topLevelIndexOf(last, "ORDER")
    val (lastSeg, orderClause) =
      if (ob >= 0) (last.substring(0, ob).trim, last.substring(ob).trim)
      else (last, "")
    val dfs = (segs.init :+ lastSeg).map(seg => sql(s, seg))
    val unioned = dfs.reduce(_.unionByName(_, allowMissingColumns = true))
    val res = if (alls.head) unioned else unioned.distinct()
    if (orderClause.isEmpty) res
    else {
      val v = "__ubn_" + java.util.UUID.randomUUID().toString
        .replace("-", "").take(8)
      res.createOrReplaceTempView(v)
      val out = Glue.dataFrame(s, parse(s, s"SELECT * FROM $v $orderClause"))
      s.catalog.dropTempView(v) // plan resolved eagerly; safe to drop
      out
    }
  }

  // ---- ORDER BY ALL at the text entry ------------------------------
  // DuckDB's `ORDER BY ALL` sorts by every select-list item left to
  // right. The rewrite replaces ALL with the positional list 1..n
  // (both engines support ordinal ORDER BY), so it needs an explicit
  // select list to count — `SELECT *` refuses.
  private val OrderByAllKeyword =
    "(?is).*\\bORDER\\s+BY\\s+ALL(\\s+LIMIT\\s+\\d+)?\\s*$".r

  private[graft] def rewriteOrderByAll(statement: String): String = {
    val obIdx = {
      var i = topLevelIndexOf(statement, "ORDER")
      var found = -1
      while (i >= 0) {
        if ("(?is)^ORDER\\s+BY\\s+ALL\\b.*".r
            .matches(statement.substring(i))) found = i
        i = topLevelIndexOf(statement, "ORDER", i + 1)
      }
      found
    }
    require(obIdx >= 0, "ORDER BY ALL: clause must be top-level")
    val head = statement.substring(0, obIdx).trim
    val tail = "(?is)^ORDER\\s+BY\\s+ALL(.*)$".r
      .findFirstMatchIn(statement.substring(obIdx)).get.group(1)
    val sm = "(?is)^\\s*SELECT\\s+(?:DISTINCT\\s+)?(.*)$".r
      .findFirstMatchIn(head).getOrElse(throw new IllegalArgumentException(
        "ORDER BY ALL: statement must start with SELECT"))
    val fromIdx = topLevelIndexOf(sm.group(1), "FROM")
    val selectList =
      if (fromIdx >= 0) sm.group(1).substring(0, fromIdx) else sm.group(1)
    val items = splitTopCommas(selectList)
    require(items.nonEmpty && !items.exists(_.trim == "*"),
      "ORDER BY ALL needs an explicit select list (no bare *)")
    // Explicit NULLS LAST per ordinal: DuckDB's ORDER BY default is
    // NULLS LAST while Spark's ASC default is NULLS FIRST — nullable
    // select items would otherwise order differently per engine.
    val ordinals = (1 to items.size).map(i => s"$i NULLS LAST")
    s"$head ORDER BY ${ordinals.mkString(", ")}$tail"
  }

  // ---- EXPLAIN ANALYZE at the text entry ---------------------------
  // DuckDB's runtime profile (reference:duckdb:101-119 — the execute
  // half of the observability trace): run the statement, then report
  // the EXECUTED physical plan with each operator's actual output-row
  // count from its SQL metrics. Execution drives the plan's own RDD
  // (a distributed count — row data never reaches the driver), and
  // with AQE the tree walked is the FINAL adaptive plan, stages
  // unwrapped — so what's reported is what actually ran.
  private val ExplainAnalyzeRe =
    """(?is)^\s*EXPLAIN\s+ANALYZE\s+(.*)$""".r

  private def runExplainAnalyze(s: SparkSession, inner: String): DataFrame = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = sql(s, inner)
    val root = df.queryExecution.executedPlan
    root.execute().count() // materialize every operator's metrics
    val rows = scala.collection.mutable.Buffer.empty[(Int, Int, String, Any)]
    def walk(p: SparkPlan, depth: Int): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth)
      case qs: QueryStageExec => walk(qs.plan, depth)
      case q =>
        rows += ((rows.size, depth, q.nodeName,
          q.metrics.get("numOutputRows").map(_.value).orNull))
        q.children.foreach(walk(_, depth + 1))
    }
    walk(root, 0)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("op", IntegerType, nullable = false),
      StructField("depth", IntegerType, nullable = false),
      StructField("operator", StringType, nullable = false),
      StructField("rows", LongType, nullable = true)))
    val jrows = new java.util.ArrayList[Row](rows.size)
    rows.foreach(r => jrows.add(Row(r._1, r._2, r._3, r._4)))
    s.createDataFrame(jrows, schema)
  }

  // ---- ASOF JOIN at the text entry ---------------------------------
  // DuckDB accepts `l ASOF JOIN r ON l.k = r.k AND l.t >= r.t`;
  // Spark's parser does not. The supported form (plain relation names
  // with optional aliases, an ON conjunction of alias-qualified
  // equalities plus exactly one >= / <= time inequality) rewrites to
  // standard SQL via the VALIDITY-INTERVAL identity: each right row is
  // valid from its time until the key's next time (one lead() window),
  // so the equi-join + interval filter keeps exactly the as-of match.
  // Compositional with every other clause (aliases survive; note a
  // SELECT * will surface the helper __asof_end column — project
  // explicitly). This text path is the per-key theta-join shape; the
  // hot-key-safe union-merge lives in operators/AsOfJoin (q32).
  private val AsOfJoinKeyword = "(?is).*\\bASOF\\s+JOIN\\b.*".r
  private val AsOfJoinRe = ("""(?is)(\w+)(?:\s+(?:AS\s+)?(?!ASOF\b|ON\b)""" +
    """(\w+))?\s+ASOF\s+JOIN\s+(\w+)(?:\s+(?:AS\s+)?(?!ON\b)(\w+))?""" +
    """\s+ON\s+((?:[\w.]+\s*(?:>=|<=|=)\s*[\w.]+)""" +
    """(?:\s+AND\s+[\w.]+\s*(?:>=|<=|=)\s*[\w.]+)*)""").r

  private[graft] def rewriteAsOfJoins(statement: String): String = {
    require(AsOfJoinRe.findFirstIn(statement).isDefined,
      "unsupported ASOF JOIN form — supported: <name> [alias] ASOF JOIN " +
        "<name> [alias] ON <alias-qualified equalities AND one time " +
        "inequality>")
    AsOfJoinRe.replaceAllIn(statement, m => {
      val (lhs, rhs) = (m.group(1), m.group(3))
      val la = Option(m.group(2)).getOrElse(lhs)
      val ra = Option(m.group(4)).getOrElse(rhs)
      val conds = m.group(5).split("(?i)\\s+AND\\s+").map(_.trim).toSeq
      def sideOf(ref: String): String = {
        val q = ref.takeWhile(_ != '.')
        require(ref.contains('.') && (q == la || q == ra),
          s"ASOF JOIN: condition operand $ref must be qualified by " +
            s"$la or $ra")
        q
      }
      def colOf(ref: String): String = ref.dropWhile(_ != '.').drop(1)
      var rightKeys = Seq.empty[String]
      var ineq: Option[(String, String)] = None // (left time ref, right time col)
      conds.foreach { c =>
        val geq = c.contains(">=") || c.contains("<=")
        val Array(x, y) = c.split(">=|<=|=").map(_.trim)
        if (geq) {
          // Normalize to left.t >= right.t.
          val (l, r) = if (c.contains(">=")) (x, y) else (y, x)
          require(sideOf(l) == la && sideOf(r) == ra,
            s"ASOF JOIN: time inequality $c must compare $la's time " +
              s"against $ra's")
          require(ineq.isEmpty,
            "ASOF JOIN: exactly one time inequality supported")
          ineq = Some((l, colOf(r)))
        } else {
          val (_, r) = if (sideOf(x) == la) (x, y) else (y, x)
          require(sideOf(r) == ra,
            s"ASOF JOIN: equality $c must pair $la with $ra")
          rightKeys :+= colOf(r)
        }
      }
      val (lt, rt) = ineq.getOrElse(throw new IllegalArgumentException(
        "ASOF JOIN: a time inequality (>= or <=) is required"))
      require(rightKeys.nonEmpty,
        "ASOF JOIN: at least one equality key is required")
      val part = rightKeys.map(k => s"__r.$k").mkString(", ")
      val sub = s"(SELECT __r.*, lead(__r.$rt) OVER (PARTITION BY " +
        s"$part ORDER BY __r.$rt) AS __asof_end FROM $rhs __r) $ra"
      val on = s"${m.group(5)} AND ($ra.__asof_end IS NULL OR " +
        s"$lt < $ra.__asof_end)"
      scala.util.matching.Regex.quoteReplacement(
        s"$lhs $la JOIN $sub ON $on")
    })
  }

  /** String-literal-safe split of a multi-statement script (the
    * reference entry path's ExtractStatements, reference:duckdb:18,92):
    * semicolons inside '…' / "…" literals and `--` line comments do
    * not split; empty statements drop.
    */
  def splitStatements(text: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var inSingle = false
    var inDouble = false
    while (i < text.length) {
      val c = text.charAt(i)
      if (inSingle) {
        cur.append(c)
        if (c == '\'') {
          if (i + 1 < text.length && text.charAt(i + 1) == '\'') {
            cur.append('\''); i += 1 // '' escape stays inside the literal
          } else inSingle = false
        }
      } else if (inDouble) {
        cur.append(c)
        if (c == '"') inDouble = false
      } else if (c == '-' && i + 1 < text.length &&
          text.charAt(i + 1) == '-') {
        while (i < text.length && text.charAt(i) != '\n') {
          cur.append(text.charAt(i)); i += 1
        }
        i -= 1 // the newline (if any) appends on the next loop turn
      } else c match {
        case '\'' => inSingle = true; cur.append(c)
        case '"' => inDouble = true; cur.append(c)
        case ';' => out += cur.toString; cur.clear()
        case _ => cur.append(c)
      }
      i += 1
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Run a multi-statement script through [[sql]], one statement at a
    * time in order; returns the LAST statement's result (the DuckDB
    * multi-query contract).
    *
    * Fail-fast by default. With spark.graft.sql.scriptOnError=skip
    * (explicit opt-in for migration scripts), a failing statement is
    * RECORDED and skipped instead of killing the whole script — the
    * result is the last SUCCESSFUL statement's rows, and the collected
    * refusals are readable via [[lastScriptErrors]] (also logged).
    * At least one statement must succeed; `skip` never turns a fully
    * failing script into silence.
    */
  def script(s: SparkSession, text: String): DataFrame = {
    val stmts = splitStatements(text)
    require(stmts.nonEmpty, "empty script")
    val skip = s.conf.get("spark.graft.sql.scriptOnError", "fail") match {
      case "fail" => false
      case "skip" => true
      case other => throw new IllegalArgumentException(
        s"spark.graft.sql.scriptOnError must be fail|skip, got: $other")
    }
    scriptErrs.put(s, Seq.empty)
    if (!skip) stmts.map(st => sql(s, st)).last
    else {
      var last: Option[DataFrame] = None
      val errs = Seq.newBuilder[(String, String)]
      stmts.foreach { st =>
        try last = Some(sql(s, st))
        catch { case e: Exception =>
          val head = st.linesIterator.next().take(80)
          errs += head -> e.getMessage
          System.err.println(
            s"graft: scriptOnError=skip — skipped `$head…`: " +
              s"${e.getMessage}")
        }
      }
      scriptErrs.put(s, errs.result())
      last.getOrElse(throw new IllegalArgumentException(
        "scriptOnError=skip: every statement in the script failed — " +
          scriptErrs.get(s).map(_._2).mkString("; ")))
    }
  }

  private val scriptErrs = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, Seq[(String, String)]]())

  /** (statement head, error message) per statement skipped by the last
    * [[script]] run under scriptOnError=skip; empty after a clean run.
    */
  def lastScriptErrors(s: SparkSession): Seq[(String, String)] =
    Option(scriptErrs.get(s)).getOrElse(Seq.empty)

  // ---- INSERT … ON CONFLICT at the text entry ----------------------
  // The upsert SHORTHAND (DuckDB/Postgres spelling) over lake tables,
  // bound to the same keyed machinery as MERGE: the conflict target is
  // an EXPLICIT column list (graft tables declare no primary key, so
  // the bare `INSERT OR REPLACE` PK shorthand is out of scope — spell
  // the keys). Supported forms, loud otherwise:
  //   INSERT INTO t <select> ON CONFLICT (k, …) DO NOTHING
  //     → insert only rows whose keys are absent (keyed anti-join —
  //       a broadcast lookup against the key projection, never a
  //       table rewrite);
  //   INSERT INTO t <select> ON CONFLICT (k, …) DO UPDATE SET
  //       c = excluded.c, …
  //     → full-row keyed upsert (the format's pruned copy-on-write
  //       merge); the assignment list must cover every non-key column
  //       from `excluded` — partial-row updates would break merge's
  //       replace contract, so they refuse loudly.
  // The source must be key-unique (checked): with duplicate conflict
  // keys in one statement the row that "wins" is insertion-order-
  // dependent in other engines — order a distributed source does not
  // have, so the ambiguity is rejected rather than decided silently.
  // ---- DML RETURNING ------------------------------------------------
  // DuckDB's `INSERT/UPDATE/DELETE … RETURNING <exprs>`: run the DML,
  // return the affected rows projected through the expression list.
  // The affected set comes from the lake formats' OWN versioning — no
  // driver collect at any table size:
  //   DELETE → the PRE-state version is pinned before the mutation and
  //     the matching rows read lazily afterwards (time travel; the
  //     rewritten files stay until vacuum);
  //   UPDATE → the matching pre-state rows with the assignments applied
  //     as a projection (the post-image, computed without re-scanning
  //     the updated table);
  //   INSERT → what the commit actually WROTE: deltalite reads only the
  //     files the new version added (tableChanges' appends-only path,
  //     O(new data)); iceberglite diffs the two snapshots (exceptAll —
  //     multiset-correct; the O(new data) changelog is the delta-style
  //     upgrade path). Reading back beats re-evaluating the insert's
  //     query, which would diverge on non-deterministic sources.
  // RETURNING * expands to the target table's columns. ON CONFLICT
  // inserts refuse (the conflict filter makes "affected rows" a
  // per-row decision the read-back cannot reconstruct portably).
  private val ReturningKeyword =
    "(?is)^\\s*(INSERT|UPDATE|DELETE)\\b.*\\bRETURNING\\b.*".r
  private val ReturningRe =
    """(?is)^\s*((?:INSERT|UPDATE|DELETE)\b.*?)\s+RETURNING\s+(.+?)\s*;?\s*$""".r

  private[graft] def runReturning(s: SparkSession,
      statement: String): DataFrame = {
    require(!OnConflictKeyword.matches(statement),
      "ON CONFLICT … RETURNING is not supported — use MERGE or split " +
        "the statement")
    val (dml, exprs) = statement match {
      case ReturningRe(d, e) => (d, e)
      case _ => throw new IllegalArgumentException(
        s"unsupported RETURNING form: $statement")
    }
    def resolveTarget(rel: LogicalPlan) = dmlTarget(s, Map.empty, rel)
    def project(df: DataFrame): DataFrame = {
      val sels = splitTopCommas(exprs).flatMap(e =>
        if (e.trim == "*") df.columns.toSeq.map(c => s"`$c`") else Seq(e))
      df.select(sels.map(e => Glue.column(parseExpr(s, e))): _*)
    }
    val plan = parse(s, dml)
    plan match {
      case DeleteFromTable(rel, cond) =>
        val (fmt, path) = resolveTarget(rel)
        val pre = fmt.latestVersion(s, path)
        execute(s, Map.empty, plan)
        project(fmt.snapshot(s, path, pre).filter(Glue.column(cond)))
      case UpdateTable(rel, assignments, cond) =>
        val (fmt, path) = resolveTarget(rel)
        val asg = assignments.map {
          case Assignment(k: UnresolvedAttribute, v) =>
            k.name.toLowerCase -> Glue.column(v)
          case a => throw new IllegalArgumentException(
            s"unsupported assignment $a")
        }.toMap
        val pred = cond.map(Glue.column).getOrElse(
          org.apache.spark.sql.functions.lit(true))
        val pre = fmt.latestVersion(s, path)
        execute(s, Map.empty, plan)
        val before = fmt.snapshot(s, path, pre)
        // the post-image: assignments evaluated over the PRE rows —
        // exactly what updateWhere wrote for the matching rows. Each
        // applied assignment casts to the column's DECLARED type (the
        // write path does the same), so RETURNING reports the value as
        // STORED, not the expression's wider pre-cast type.
        val post = before.filter(pred).select(before.schema.fields.toSeq
          .map { f =>
            asg.get(f.name.toLowerCase)
              .map(_.cast(f.dataType))
              .getOrElse(org.apache.spark.sql.functions.col(s"`${f.name}`"))
              .as(f.name)
          }: _*)
        project(post)
      case ins: InsertIntoStatement =>
        // INSERT OVERWRITE ... RETURNING is refused: DuckDB has no
        // INSERT OVERWRITE, and a diff-based RETURNING over a
        // non-append commit would report the overwritten (deleted)
        // pre-rows as if inserted.
        require(!ins.overwrite,
          "RETURNING is not supported on INSERT OVERWRITE")
        val (fmt, path) = resolveTarget(ins.table)
        val pre = fmt.latestVersion(s, path)
        execute(s, Map.empty, plan)
        // Delta reads its change feed; Iceberg diffs the two snapshots.
        val inserted =
          if (fmt == DeltaLite) DeltaLite.tableChanges(s, path, pre)
            // pin to the commit's ADDED rows: a non-appends-only
            // change window also carries delete pre-images
            .filter(org.apache.spark.sql.functions
              .col("_change_type") === "insert")
            .drop("_change_type")
          else fmt.snapshot(s, path, fmt.latestVersion(s, path))
            .exceptAll(fmt.snapshot(s, path, pre))
        project(inserted)
      case other => throw new IllegalArgumentException(
        s"RETURNING supports INSERT/UPDATE/DELETE, got: $other")
    }
  }

  private val OnConflictKeyword =
    "(?is)^\\s*INSERT\\b.*\\bON\\s+CONFLICT\\b.*".r
  private val OnConflictRe =
    ("""(?is)^\s*INSERT\s+INTO\s+([A-Za-z_]\w*)\s+(.+?)\s+ON\s+""" +
      """CONFLICT\s*(?:\(\s*([^)]+?)\s*\))?\s*DO\s+""" +
      """(NOTHING|UPDATE\s+SET\s+(.+?))\s*;?\s*$""").r

  /** The table's DECLARED conflict columns (the `graft.keys` property
    * set at CREATE TABLE … TBLPROPERTIES), if any — the PK stand-in
    * that gives bare INSERT OR REPLACE / OR IGNORE and key-less
    * ON CONFLICT their keys.
    */
  private def declaredKeys(s: SparkSession, fmt: LakeFormat,
      path: String): Option[Seq[String]] =
    fmt.tableProperties(s, path).get("graft.keys")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)

  // INSERT OR REPLACE / OR IGNORE — DuckDB's PK-implied upsert
  // shorthand. The conflict columns come from the table's declared
  // graft.keys property; a keyless table keeps the loud refusal
  // (there is no primary key to imply the conflict target). Each form
  // rewrites to the explicit ON CONFLICT statement it abbreviates —
  // REPLACE = full-row DO UPDATE (the format's pruned copy-on-write
  // keyed merge), IGNORE = DO NOTHING (keyed anti-join append) — so
  // the two spellings share one verified code path.
  private val InsertOrKeyword =
    "(?is)^\\s*INSERT\\s+OR\\s+(?:REPLACE|IGNORE)\\b.*".r
  private val InsertOrRe =
    ("""(?is)^\s*INSERT\s+OR\s+(REPLACE|IGNORE)\s+INTO\s+""" +
      """([A-Za-z_]\w*)\s+(.+?)\s*;?\s*$""").r

  private[graft] def runInsertOr(s: SparkSession,
      statement: String): DataFrame = statement match {
    case InsertOrRe(mode, tbl, source) =>
      val (fmt, path) = lakeEntry(catalog(s).get(tbl),
        s"$tbl is a view — INSERT OR $mode targets must be lake tables",
        s"INSERT OR $mode: table $tbl not in catalog")
      val keys = declaredKeys(s, fmt, path).getOrElse(
        throw new IllegalArgumentException(
          s"INSERT OR ${mode.toUpperCase} needs the table's conflict " +
            s"columns and $tbl declares none — declare them at CREATE " +
            "TABLE with TBLPROPERTIES ('graft.keys'='k1,k2'), or " +
            "spell INSERT … ON CONFLICT (<keys>) DO " +
            (if (mode.equalsIgnoreCase("IGNORE")) "NOTHING" else "UPDATE")))
      val expanded =
        if (mode.equalsIgnoreCase("IGNORE"))
          s"INSERT INTO $tbl $source ON CONFLICT " +
            s"(${keys.mkString(", ")}) DO NOTHING"
        else {
          val schema = table(s, tbl).schema
          val nonKeys = schema.fieldNames
            .filterNot(f => keys.exists(_.equalsIgnoreCase(f)))
          require(nonKeys.nonEmpty,
            s"INSERT OR REPLACE on $tbl: every column is a declared " +
              "key, so REPLACE cannot change any row — use INSERT OR " +
              "IGNORE")
          s"INSERT INTO $tbl $source ON CONFLICT " +
            s"(${keys.mkString(", ")}) DO UPDATE SET " +
            nonKeys.map(f => s"$f = excluded.$f").mkString(", ")
        }
      runOnConflict(s, expanded)
    case _ => throw new IllegalArgumentException(
      "unsupported INSERT OR REPLACE/IGNORE form — supported: INSERT " +
        "OR {REPLACE|IGNORE} INTO <table> <select>")
  }

  // ---- UPDATE … FROM / DELETE … USING (join-DML) --------------------
  // The Postgres/DuckDB join-DML idiom every migration script uses:
  //   UPDATE t [AS a] SET col = expr, … FROM src [AS b] [WHERE cond]
  //   DELETE FROM t [AS a] USING src [AS b] [WHERE cond]
  // A target row is affected iff ≥1 source row satisfies cond; SET
  // expressions see the matching source row's columns. Multi-match is
  // AMBIGUOUS for UPDATE (which source row's values win?) — Postgres
  // picks an arbitrary row; graft REFUSES loudly, matching MERGE's
  // one-source-row-per-target contract (x39). DELETE is multi-match-
  // insensitive (deleting twice = once) and runs without the check.
  // This parses the statement and binds its clauses as the query path
  // would (clauseColumn); LakeFormat.joinDml runs it on one
  // snapshot as the shared copy-on-write rewrite: one capped probe of
  // the target joined to the source (LEFT join for UPDATE, LEFT SEMI
  // for DELETE) finds the hit files, the match count and the
  // ambiguity, and only the hit files are rewritten (LEFT join with the
  // SET assignments / LEFT ANTI) in one commit. A no-op statement (zero
  // matches) commits nothing. Detection is TOP-LEVEL keyword position
  // (depth-0, quote-aware): `SET a = (SELECT … FROM …)` has no
  // top-level FROM and stays on the single-table pruned copy-on-write
  // path.
  private val UpdateHeadRe =
    ("(?is)^\\s*UPDATE\\s+([A-Za-z_]\\w*)" +
      "(?:\\s+(?:AS\\s+)?([A-Za-z_]\\w*))?\\s+SET\\b(.*)$").r
  private val DeleteUsingHeadRe =
    ("(?is)^\\s*DELETE\\s+FROM\\s+([A-Za-z_]\\w*)" +
      "(?:\\s+(?:AS\\s+)?([A-Za-z_]\\w*))?\\s+USING\\b(.*)$").r

  private def isJoinDml(st: String): Boolean = st match {
    case UpdateHeadRe(_, _, rest) => topLevelIndexOf(rest, "FROM") >= 0
    case _ => DeleteUsingHeadRe.matches(st)
  }

  /** Parse the single source relation of a join-DML statement:
    * a table/view name or `(subquery) [AS] alias`. Returns
    * (FROM-position SQL, alias).
    */
  private def parseJoinDmlSource(spec0: String,
      what: String): (String, String) = {
    val spec = spec0.trim
    require(splitTopCommasQuoted(spec).length == 1 &&
        topLevelIndexOf(spec, "JOIN") < 0,
      s"$what supports ONE source relation — pre-join into a " +
        "subquery or view")
    if (spec.startsWith("(")) {
      val (inner, after) = takeParenGroup(spec)
      "(?is)^(?:AS\\s+)?([A-Za-z_]\\w*)\\s*$".r.findFirstMatchIn(
          after.trim) match {
        case Some(m) => (s"($inner)", m.group(1))
        case None => throw new IllegalArgumentException(
          s"$what: a subquery source needs an alias — (…) AS s")
      }
    } else "(?is)^([A-Za-z_]\\w*)(?:\\s+(?:AS\\s+)?([A-Za-z_]\\w*))?$".r
        .findFirstMatchIn(spec) match {
      case Some(m) =>
        (m.group(1), Option(m.group(2)).getOrElse(m.group(1)))
      case None => throw new IllegalArgumentException(
        s"$what source must be a table name or (subquery) AS alias, " +
          s"got: $spec")
    }
  }

  /** Run an UPDATE … FROM or a DELETE … USING statement `st`; returns
    * the matched rows. */
  private[graft] def runJoinDml(s: SparkSession, st: String): DataFrame = {
    import s.implicits._
    // `ta`: the target's alias; `set`: the SET list (none for DELETE …
    // USING); `rest`: the text after the source keyword (FROM / USING)
    val (tbl, ta, set, rest, what) = st match {
      case UpdateHeadRe(tbl, a, rest) =>
        val from = topLevelIndexOf(rest, "FROM")
        (tbl, Option(a).getOrElse(tbl), Some(rest.substring(0, from)),
          rest.substring(from + 4), "UPDATE … FROM")
      case DeleteUsingHeadRe(tbl, a, rest) =>
        (tbl, Option(a).getOrElse(tbl), None, rest, "DELETE … USING")
    }
    val whereIdx = topLevelIndexOf(rest, "WHERE")
    val (srcSpec, cond) =
      if (whereIdx >= 0) (rest.substring(0, whereIdx),
        rest.substring(whereIdx + 5).trim.stripSuffix(";").trim)
      else (rest.trim.stripSuffix(";"), "TRUE")
    val (fmt, path) = lakeEntry(catalog(s).get(tbl),
      s"$tbl is a view — $what targets must be lake tables",
      s"$what: table $tbl not in catalog")
    recordTableTouch(s, fmt, path)
    val (srcSql, sa) = parseJoinDmlSource(srcSpec, what)
    require(!sa.equalsIgnoreCase(ta),
      s"source alias $sa collides with the target alias")
    Seq(fmt.joinDml(s, path, ta, sql(s, s"SELECT * FROM $srcSql AS $sa"),
      sa, clauseColumn(s, cond), set.map(setItems(s, _, ta))))
      .toDF("count")
  }

  /** The SET list of an UPDATE … FROM whose target is aliased `ta`:
    * target column name → value. */
  private def setItems(s: SparkSession, text: String,
      ta: String): Map[String, Column] = {
    val assigns = splitTopCommasQuoted(text).filter(_.nonEmpty).map { item =>
      val eq = item.indexOf('=')
      require(eq > 0, s"bad SET item: $item")
      val colParts = item.substring(0, eq).trim.split("\\.")
      val cname = colParts.last.trim
      require(colParts.length <= 2 &&
          "^[A-Za-z_]\\w*$".r.matches(cname) &&
          (colParts.length == 1 || colParts(0).trim.equalsIgnoreCase(ta)),
        s"SET must assign target columns, got: ${item.substring(0, eq)}")
      (cname, clauseColumn(s, item.substring(eq + 1).trim))
    }
    require(assigns.nonEmpty, "UPDATE … FROM: empty SET list")
    require(assigns.map(_._1.toLowerCase).distinct.length == assigns.length,
      "UPDATE … FROM: a column is assigned twice")
    assigns.toMap
  }

  /** A join-DML clause (the condition or one SET value) as a Column
    * with the meaning the query path gives it: its text through
    * [[exprText]], the metadata views it names bound, and every
    * cataloged name in its subqueries bound to the table's current
    * snapshot ([[bindCataloged]]). */
  private def clauseColumn(s: SparkSession, text: String): Column = {
    bindMetaViews(s, text)
    Glue.column(parseExpr(s, exprText(text)).transform {
      case q: SubqueryExpression => q.withNewPlan(bindCataloged(s, q.plan))
    })
  }

  private[graft] def runOnConflict(s: SparkSession,
      statement: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit}
    import s.implicits._
    statement match {
      case OnConflictRe(tbl, source, keyList, action, assigns) =>
        val (fmt, path) = lakeEntry(catalog(s).get(tbl),
          s"$tbl is a view — ON CONFLICT targets must be lake tables",
          s"ON CONFLICT: table $tbl not in catalog")
        recordTableTouch(s, fmt, path)
        val schema = table(s, tbl).schema
        // bare ON CONFLICT (no column list) resolves to the table's
        // declared graft.keys; keyless tables keep the loud refusal
        val keys =
          if (keyList != null) splitTopCommas(keyList).map(_.trim)
          else declaredKeys(s, fmt, path).getOrElse(
            throw new IllegalArgumentException(
              s"ON CONFLICT without a column list needs declared " +
                s"conflict columns and $tbl declares none — declare " +
                "them at CREATE TABLE with TBLPROPERTIES " +
                "('graft.keys'='k1,k2'), or spell ON CONFLICT (<keys>)"))
        keys.foreach(k => require(
          schema.fieldNames.exists(_.equalsIgnoreCase(k)),
          s"conflict column $k is not a column of $tbl"))
        val src0 = sql(s, source)
        require(src0.columns.length == schema.fields.length,
          s"INSERT arity ${src0.columns.length} != table arity " +
            s"${schema.fields.length} (positional binding)")
        // the duplicate check, the count and the write each read it
        val src = graft.sources.LakeFormat.once(
          src0.toDF(schema.fieldNames.toIndexedSeq: _*)
            .select(schema.fields.map(f =>
              col(f.name).cast(f.dataType).as(f.name)).toSeq: _*))
        require(src.groupBy(keys.map(col): _*)
            .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
            .isEmpty,
          "ON CONFLICT source has duplicate conflict-key rows — which " +
            "row wins would be insertion-order-dependent; de-duplicate " +
            "the source explicitly")
        if (action.equalsIgnoreCase("NOTHING")) {
          val fresh = src.join(
            table(s, tbl).select(keys.map(col): _*), keys, "left_anti")
          Seq(graft.sources.LakeFormat.rowsWritten(fmt.append(s, path, fresh)))
            .toDF("count")
        } else {
          val AsgRe = """(?is)^([A-Za-z_]\w*)\s*=\s*excluded\.([A-Za-z_]\w*)$""".r
          val assigned = splitTopCommas(assigns).map(_.trim).map {
            case AsgRe(l, r) =>
              require(l.equalsIgnoreCase(r),
                s"DO UPDATE must copy the SAME column ($l = excluded.$r)")
              l.toLowerCase
            case other => throw new IllegalArgumentException(
              s"DO UPDATE assignments must be col = excluded.col, got: " +
                other)
          }
          val wanted = schema.fieldNames
            .filterNot(f => keys.exists(_.equalsIgnoreCase(f)))
            .map(_.toLowerCase).toSet
          require(assigned.toSet == wanted,
            s"DO UPDATE must assign EVERY non-key column from excluded " +
              s"(full-row upsert): expected ${wanted.mkString(", ")}, " +
              s"got ${assigned.mkString(", ")}")
          val n = src.count()
          fmt.merge(s, path, src, keys)
          Seq(n).toDF("count")
        }
      case _ => throw new IllegalArgumentException(
        "unsupported INSERT … ON CONFLICT form — supported: INSERT " +
          "INTO <table> <select> ON CONFLICT (<keys>) DO NOTHING | " +
          "DO UPDATE SET <col = excluded.col, …>")
    }
  }

  // ---- COPY at the text entry --------------------------------------
  // DuckDB's import/export statement (the first thing a user of an
  // embedded engine reaches for): `COPY (<query> | <table>) TO
  // '<path>' (FORMAT PARQUET|CSV|JSON, HEADER, DELIMITER '<c>')`
  // exports, `COPY <table> FROM '<path>' (…)` loads into a cataloged
  // lake table. Spark's parser has no COPY; the source binds through
  // the normal entry (catalog names, views, time travel included).
  // Export writes a DIRECTORY of part files — the distributed analog
  // of DuckDB's single file (at 100 TB, funneling an export through
  // one writer is the anti-pattern; every executor writes its own
  // part). Returns DuckDB's one-row count result.
  private val CopyKeyword = "(?is)^\\s*COPY\\b.*".r
  private val SummarizeKeyword = "(?is)^\\s*SUMMARIZE\\b.*".r

  private def parseCopyOptions(raw: String): Map[String, String] = {
    // Split on TOP-LEVEL commas only: `PARTITION_BY (a, b)` is one
    // option whose value keeps its parenthesized list intact.
    val toks = scala.collection.mutable.ArrayBuffer[String]()
    var depth = 0; var inS = false; val cur = new StringBuilder
    raw.foreach { c =>
      if (inS) { cur += c; if (c == '\'') inS = false }
      else c match {
        case '\'' => inS = true; cur += c
        case '(' => depth += 1; cur += c
        case ')' => depth -= 1; cur += c
        case ',' if depth == 0 => toks += cur.toString; cur.clear()
        case _ => cur += c
      }
    }
    if (cur.nonEmpty) toks += cur.toString
    toks.map(_.trim).filter(_.nonEmpty).map { tok =>
      val sp = tok.indexWhere(c => Character.isWhitespace(c) || c == '(')
      if (sp < 0) (tok.toLowerCase, "")
      else {
        val v = tok.substring(sp).trim
        val unq = if (v.length >= 2 && v.startsWith("'") && v.endsWith("'"))
          v.substring(1, v.length - 1) else v
        (tok.substring(0, sp).toLowerCase, unq)
      }
    }.toMap
  }

  private[graft] def runCopy(s: SparkSession, statement: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import s.implicits._
    val trimmed = statement.trim.stripSuffix(";").trim
    val afterCopy = trimmed.substring(4).trim
    // Source: a balanced-paren query (string-literal-aware) or a name.
    val (source, isQuery, rest) =
      if (afterCopy.startsWith("(")) {
        var depth = 0; var i = 0; var inS = false; var end = -1
        while (i < afterCopy.length && end < 0) {
          val c = afterCopy.charAt(i)
          if (inS) { if (c == '\'') inS = false }
          else c match {
            case '\'' => inS = true
            case '(' => depth += 1
            case ')' => depth -= 1; if (depth == 0) end = i
            case _ =>
          }
          i += 1
        }
        require(end > 0, "COPY: unbalanced parentheses in source query")
        (afterCopy.substring(1, end).trim, true,
          afterCopy.substring(end + 1).trim)
      } else {
        val m = "^[A-Za-z_][A-Za-z0-9_]*".r.findFirstIn(afterCopy)
          .getOrElse(throw new IllegalArgumentException(
            "COPY: expected a table name or a parenthesized query"))
        (m, false, afterCopy.substring(m.length).trim)
      }
    val TailRe = """(?is)^(TO|FROM)\s+'([^']+)'\s*(?:\((.*)\))?\s*$""".r
    val (dir, path, opts) = rest match {
      case TailRe(dw, p, o) =>
        (dw.toUpperCase, p, parseCopyOptions(Option(o).getOrElse("")))
      case _ => throw new IllegalArgumentException(
        s"COPY: expected TO|FROM '<path>' [(options)], got: $rest")
    }
    val fmt = opts.getOrElse("format",
      path.split('.').last.toLowerCase match {
        case e @ ("parquet" | "csv" | "json") => e
        case _ => "parquet"
      }).toLowerCase
    require(Set("parquet", "csv", "json").contains(fmt),
      s"COPY: unsupported FORMAT '$fmt' (parquet, csv, json)")
    val header = opts.get("header").exists(v => v.isEmpty ||
      v.equalsIgnoreCase("true") || v == "1")
    def csvOpts(r: org.apache.spark.sql.DataFrameReader) = {
      var rr = r.option("header", header.toString)
      opts.get("delimiter").foreach(dl => rr = rr.option("sep", dl))
      rr
    }
    if (dir == "TO") {
      val df = if (isQuery) sql(s, source) else sql(s, s"SELECT * FROM $source")
      val csv =
        if (fmt != "csv") Map.empty[String, String]
        else Map("header" -> header.toString) ++ opts.get("delimiter").map("sep" -> _)
      // PARTITION_BY (c1[, c2…]): hive-layout export — one directory
      // per partition value, the layout every engine (and x65's
      // read_parquet) prunes on.
      val partCols = opts.get("partition_by").toSeq.flatMap { v =>
        val cols = v.stripPrefix("(").stripSuffix(")")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(cols.nonEmpty, "COPY: empty PARTITION_BY list")
        cols.foreach(c => require(df.columns.exists(_.equalsIgnoreCase(c)),
          s"COPY: PARTITION_BY column $c not in the source"))
        cols
      }
      // The returned count is the write command's own row metric — the
      // source query runs exactly once, no read-back pass over the
      // export.
      Seq(org.apache.spark.sql.graft.Glue.save(df, fmt, path, partCols, csv))
        .toDF("count")
    } else {
      require(!opts.contains("partition_by"),
        "COPY FROM: PARTITION_BY applies only to COPY … TO")
      require(!isQuery, "COPY … FROM: the target must be a table name")
      val (lake, tpath) = lakeEntry(catalog(s).get(source),
        s"$source is a view — COPY FROM targets must be lake tables",
        s"COPY FROM: table $source not in catalog")
      recordTableTouch(s, lake, tpath)
      // The TARGET's schema types the load (DuckDB rule): csv/json
      // columns land typed, in table column order. Parquet arrives
      // already typed, so its own schema is CHECKED against the
      // target by name instead of forced (forcing would silently
      // null-fill a missing column), then cast column-by-column.
      val schema = table(s, source).schema
      val loaded = if (fmt == "parquet") {
        val src = s.read.parquet(path)
        val missing = schema.fieldNames.filterNot(f =>
          src.schema.fieldNames.exists(_.equalsIgnoreCase(f)))
        require(missing.isEmpty,
          s"COPY FROM parquet: source lacks target column(s) " +
            s"${missing.mkString(", ")} (source has " +
            s"${src.schema.fieldNames.mkString(", ")})")
        src.select(schema.fields.map(f =>
          col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
      } else {
        var r = s.read.format(fmt).schema(schema)
        if (fmt == "csv") r = csvOpts(r)
        r.load(path).select(schema.fieldNames.map(col).toSeq: _*)
      }
      // The count is the append's own write metric — the load is
      // scanned exactly once.
      Seq(graft.sources.LakeFormat.rowsWritten(lake.append(s, tpath, loaded)))
        .toDF("count")
    }
  }

  // ---- SUMMARIZE at the text entry ---------------------------------
  // DuckDB's one-word table profile: `SUMMARIZE <table | SELECT …>`
  // routes to the s41 single-scan profiler — per-column rows /
  // non-null / distinct / min / max as one aggregate per column over a
  // shared scan (each branch shuffles only its own column's values;
  // swap countDistinct for approx_count_distinct at 100 TB, same
  // shape). Doubles render through DECIMAL(18,4) so engines print
  // identically.
  private[graft] def runSummarize(s: SparkSession,
      statement: String): DataFrame = {
    val inner = statement.trim.stripSuffix(";").trim
      .substring("SUMMARIZE".length).trim
    require(inner.nonEmpty, "SUMMARIZE: expected a table name or query")
    val df = if ("(?is)^(SELECT|WITH|VALUES|FROM)\\b.*".r.matches(inner))
      sql(s, inner)
    else sql(s, s"SELECT * FROM $inner")
    summarize(df)
  }

  /** Per-column profile of any DataFrame (the SUMMARIZE implementation,
    * callable API-side).
    */
  def summarize(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    val branches = df.schema.fields.toSeq.map { f =>
      def render(c: Column): Column = f.dataType match {
        case org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType =>
          c.cast("decimal(18,4)").cast("string")
        case _ => c.cast("string")
      }
      df.agg(
        count(lit(1)).as("n_rows"),
        count(col(f.name)).as("n_nonnull"),
        countDistinct(col(f.name)).as("n_distinct"),
        render(min(col(f.name))).as("min_v"),
        render(max(col(f.name))).as("max_v"))
        .select(lit(f.name).as("col_name"), col("n_rows"),
          col("n_nonnull"), col("n_distinct"), col("min_v"), col("max_v"))
    }
    branches.reduce(_.unionByName(_)).orderBy(col("col_name"))
  }

  // ---- CREATE TYPE … AS ENUM ---------------------------------------
  // DuckDB's ENUM types (§6 non-goal until round 15), as a SESSION
  // tier: `CREATE TYPE t AS ENUM ('a','b',…)` registers the value
  // list; `CAST(e AS t)` rewrites to a VALIDATED VARCHAR — in-range
  // values pass through as strings (exactly how DuckDB renders an
  // enum), NULL stays NULL, and an out-of-range value raises at
  // runtime (DuckDB's conversion error, equally loud); `enum_range
  // (NULL::t)` becomes the literal value array. All codegen'd scalar
  // CASE work on the scan — no UDF, no exchange. The `x::t` cast
  // shorthand normalizes to the CAST spelling via the x112
  // tight-operand capture (r17). Scope stated honestly: enum ORDER
  // follows the string values (DuckDB orders by declaration position —
  // a documented divergence; declare values in lexical order where
  // order matters).
  private val enumTypes = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, Seq[String]]]())

  private def enumsOf(s: SparkSession) = enumTypes.synchronized {
    var m = enumTypes.get(s)
    if (m == null) {
      m = scala.collection.concurrent.TrieMap.empty[String, Seq[String]]
      // First type touch in this session: hydrate from the durable op
      // log when one is configured — re-opened catalogs keep their
      // ENUMs like they keep views and macros (r16).
      catalogDir(s).foreach(dir => replayTypeOps(s, dir, m))
      enumTypes.put(s, m)
    }
    m
  }

  private val CreateTypeRe =
    ("""(?is)^\s*CREATE\s+TYPE\s+([A-Za-z_]\w*)\s+AS\s+ENUM\s*""" +
      """\(\s*(.+?)\s*\)\s*;?\s*$""").r
  private val DropTypeRe =
    """(?is)^\s*DROP\s+TYPE\s+(IF\s+EXISTS\s+)?([A-Za-z_]\w*)\s*;?\s*$""".r

  private def createEnumType(s: SparkSession, name: String,
      valsRaw: String): Unit = {
    val vals = splitTopCommasQuoted(valsRaw).map(_.trim).map { v =>
      require(v.length >= 2 && v.head == '\'' && v.last == '\'',
        s"CREATE TYPE $name: ENUM values must be string literals, got $v")
      v.substring(1, v.length - 1).replace("''", "'")
    }
    require(vals.nonEmpty, s"CREATE TYPE $name: empty ENUM")
    require(vals.distinct.length == vals.length,
      s"CREATE TYPE $name: duplicate ENUM values")
    require(enumsOf(s).putIfAbsent(name.toLowerCase, vals).isEmpty,
      s"type $name already exists")
    // write-through to the durable catalog op log (values as a JSON
    // array in the generic path field — a value may contain commas)
    catalogDir(s).foreach { dir =>
      val arr = Json.createArrayNode()
      vals.foreach(arr.add)
      appendOp(s, dir, "type_register", name.toLowerCase, "enum",
        Json.writeValueAsString(arr))
    }
  }

  private def dropEnumType(s: SparkSession, name: String,
      ifExists: Boolean): Unit = {
    val had = enumsOf(s).remove(name.toLowerCase).isDefined
    require(had || ifExists, s"type $name does not exist")
    if (had)
      catalogDir(s).foreach(appendOp(s, _, "type_drop", name.toLowerCase))
  }

  private def rewriteEnumTypes(s: SparkSession, st0: String): String = {
    var st = st0
    for ((name, vals) <- enumsOf(s).toSeq.sortBy(_._1)) {
      val list = vals.map(v => "'" + v.replace("'", "''") + "'")
        .mkString(", ")
      // enum_range over the type (both NULL spellings) → value array.
      // Quote-aware like every other text rewrite: a string literal
      // that happens to contain these spellings must pass through
      // untouched (r15 advisor finding), so the replaceAll runs only
      // on outside-literal segments.
      val arrRepl =
        java.util.regex.Matcher.quoteReplacement(s"array($list)")
      st = outsideLiterals(st)(_.replaceAll(
        "(?i)\\benum_range\\s*\\(\\s*NULL\\s*::\\s*" + name + "\\s*\\)",
        arrRepl).replaceAll(
        "(?i)\\benum_range\\s*\\(\\s*CAST\\s*\\(\\s*NULL\\s+AS\\s+" +
          name + "\\s*\\)\\s*\\)",
        arrRepl))
      // x::name shorthand → CAST(x AS name) (r17): tight-operand
      // capture via the x112 pin machinery, so `c_name::mood`,
      // `('a')::mood`, and call results all normalize to the CAST
      // spelling the validated rewrite below handles; uncapturable
      // operands fail loud with the parenthesize hint.
      var contSh = true
      while (contSh) {
        contSh = false
        val (inLit, close) = opScanState(st)
        ("(?i)::\\s*" + name + "\\b").r.findAllMatchIn(st)
          .find(m => !inLit(m.start)).foreach { m =>
            val ls = opTightLeft(st, m.start, inLit, close)
            val e = st.substring(ls, m.start).trim
            st = st.substring(0, ls) + s"CAST(($e) AS $name)" +
              st.substring(m.end)
            contSh = true
          }
      }
      // CAST(e AS name) → validated VARCHAR (loop: one cast per pass)
      val castRe = "(?i)\\bCAST\\s*\\(".r
      var cont = true
      while (cont) {
        cont = false
        castRe.findAllMatchIn(st).find { m =>
          st.substring(0, m.start).count(_ == '\'') % 2 == 0 && {
            val open = st.indexOf('(', m.start)
            val (inner, _) = takeParenGroup(st.substring(open))
            val asIdx = topLevelIndexOf(inner, "AS")
            asIdx >= 0 &&
              inner.substring(asIdx + 2).trim.equalsIgnoreCase(name)
          }
        }.foreach { m =>
          val open = st.indexOf('(', m.start)
          val (inner, rest) = takeParenGroup(st.substring(open))
          val asIdx = topLevelIndexOf(inner, "AS")
          val e = inner.substring(0, asIdx).trim
          val repl = s"(CASE WHEN CAST(($e) AS STRING) IS NULL THEN " +
            s"CAST(NULL AS STRING) WHEN CAST(($e) AS STRING) IN " +
            s"($list) THEN CAST(($e) AS STRING) ELSE " +
            s"CAST(raise_error(concat('invalid input for enum $name: '," +
            s" CAST(($e) AS STRING))) AS STRING) END)"
          st = st.substring(0, m.start) + repl + rest
          cont = true
        }
      }
    }
    st
  }

  // ---- CREATE MACRO at the text entry ------------------------------
  // DuckDB's scalar macros (its lightweight CREATE FUNCTION): the
  // macro is its parameter list + body TEXT in the catalog (provider
  // "macro", durable like views), and every later statement expands
  // call sites textually BEFORE parsing — parameters substitute
  // parenthesized, string-literal-aware, case-insensitive, iterated to
  // a fixpoint so macros may call macros (a recursion cap fails loud).
  // Pure text expansion means the expanded query still gets full
  // Catalyst optimization — a macro costs nothing at plan time.
  private val CreateMacroRe =
    """(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?MACRO\s+([A-Za-z_][A-Za-z0-9_]*)\s*\(([^)]*)\)\s+AS\s+(.+?);?\s*$""".r
  private val DropMacroRe =
    """(?is)^\s*DROP\s+MACRO\s+(IF\s+EXISTS\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$""".r

  private def createMacro(s: SparkSession, name: String, replace: Boolean,
      params: String, body: String): Unit = {
    val ps = params.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    ps.foreach(p => require("^[A-Za-z_][A-Za-z0-9_]*$".r.matches(p),
      s"CREATE MACRO $name: parameter '$p' must be a simple identifier"))
    require(ps.map(_.toLowerCase).distinct.length == ps.length,
      s"CREATE MACRO $name: duplicate parameter names")
    // TABLE macros (DuckDB's `CREATE MACRO … AS TABLE <select>`): the
    // stored body is the bare query — expansion parenthesizes it, so a
    // FROM-position call becomes a plain subquery (alias it explicitly
    // to qualify columns; Spark accepts unaliased FROM-subqueries).
    val b0 = body.trim
    val b = "(?is)^TABLE\\s+(.+)$".r.findFirstMatchIn(b0) match {
      case Some(tm) =>
        val q = tm.group(1).trim
        require("(?is)^(SELECT|WITH)\\b.*".r.matches(q),
          s"CREATE MACRO $name AS TABLE: body must be a SELECT/WITH query")
        q
      case None => b0
    }
    require(b.nonEmpty, s"CREATE MACRO $name: empty body")
    catalog(s).get(name).foreach { case (provider, _) =>
      require(provider == "macro",
        s"$name is a $provider; cannot CREATE MACRO over it")
      require(replace, s"macro $name already exists")
    }
    registerEntry(s, name, "macro", ps.mkString(",") + "|" + b)
  }

  private def dropMacro(s: SparkSession, name: String,
      ifExists: Boolean): Unit = catalog(s).get(name) match {
    case Some(("macro", _)) => dropEntry(s, name)
    case Some((p, _)) => throw new IllegalArgumentException(
      s"$name is a $p, not a macro")
    case None => if (!ifExists)
      throw new IllegalArgumentException(s"macro $name not in catalog")
  }

  private def isIdentChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_'

  /** First word-bounded occurrence of `w` outside string literals at or
    * after `from` (any paren depth), or -1.
    */
  private def findWordOutsideStrings(text: String, w: String,
      from: Int): Int = {
    var i = math.max(from, 0)
    var inS = false; var inD = false
    val up = text.toUpperCase; val uw = w.toUpperCase
    while (i < text.length) {
      val c = text.charAt(i)
      if (inS) { if (c == '\'') inS = false }
      else if (inD) { if (c == '"') inD = false }
      else if (c == '\'') inS = true
      else if (c == '"') inD = true
      else if (up.startsWith(uw, i) &&
          (i == 0 || !isIdentChar(text.charAt(i - 1))) &&
          (i + uw.length >= text.length ||
            !isIdentChar(text.charAt(i + uw.length)))) return i
      i += 1
    }
    -1
  }

  /** Substitute macro parameters in `body` by their arguments, each
    * parenthesized — ONE pass finding whole identifiers outside string
    * literals, so an argument's text is never re-scanned for other
    * parameters (capture-free by construction).
    */
  private def substituteParams(body: String, params: Seq[String],
      args: Seq[String]): String = {
    val map = params.map(_.toLowerCase).zip(args.map(_.trim)).toMap
    val sb = new StringBuilder
    var i = 0
    var inS = false; var inD = false
    while (i < body.length) {
      val c = body.charAt(i)
      if (!inS && !inD && (Character.isLetter(c) || c == '_')) {
        var j = i
        while (j < body.length && isIdentChar(body.charAt(j))) j += 1
        val word = body.substring(i, j)
        map.get(word.toLowerCase) match {
          case Some(a) => sb.append("(").append(a).append(")")
          case None => sb.append(word)
        }
        i = j
      } else {
        if (inS) { if (c == '\'') inS = false }
        else if (inD) { if (c == '"') inD = false }
        else if (c == '\'') inS = true
        else if (c == '"') inD = true
        sb.append(c); i += 1
      }
    }
    sb.toString
  }

  private[graft] def expandMacros(s: SparkSession,
      statement: String): String = {
    val ms = catalog(s).toMap.collect { case (n, ("macro", defn)) =>
      val cut = defn.indexOf('|')
      val ps = defn.substring(0, cut)
      (n, (if (ps.isEmpty) Seq.empty[String] else ps.split(",").toSeq,
        defn.substring(cut + 1)))
    }
    if (ms.isEmpty) return statement
    var text = statement
    var rounds = 0
    var changed = true
    while (changed) {
      changed = false
      rounds += 1
      require(rounds <= 16,
        "macro expansion did not reach a fixpoint in 16 rounds " +
          "(recursive macro?)")
      ms.foreach { case (name, (params, body)) =>
        var idx = findWordOutsideStrings(text, name, 0)
        while (idx >= 0) {
          // A call site is the name followed by '(' (spaces allowed).
          var k = idx + name.length
          while (k < text.length && Character.isWhitespace(text.charAt(k)))
            k += 1
          if (k < text.length && text.charAt(k) == '(') {
            // Balanced-paren argument scan, top-level comma split.
            var depth = 0; var i = k; var inS = false; var end = -1
            val argStarts = scala.collection.mutable.ArrayBuffer(k + 1)
            while (i < text.length && end < 0) {
              val c = text.charAt(i)
              if (inS) { if (c == '\'') inS = false }
              else c match {
                case '\'' => inS = true
                case '(' => depth += 1
                case ')' => depth -= 1; if (depth == 0) end = i
                case ',' => if (depth == 1) argStarts += i + 1
                case _ =>
              }
              i += 1
            }
            require(end > 0, s"macro $name: unbalanced call parentheses")
            val inner = text.substring(k + 1, end).trim
            val args =
              if (inner.isEmpty) Seq.empty[String]
              else argStarts.toSeq.zip(argStarts.toSeq.drop(1).map(_ - 1)
                :+ end).map { case (a, b) => text.substring(a, b) }
            require(args.length == params.length,
              s"macro $name expects ${params.length} argument(s), " +
                s"got ${args.length}")
            val expanded =
              "(" + substituteParams(body, params, args) + ")"
            text = text.substring(0, idx) + expanded + text.substring(end + 1)
            changed = true
            idx = findWordOutsideStrings(text, name, idx + expanded.length)
          } else {
            idx = findWordOutsideStrings(text, name, idx + name.length)
          }
        }
      }
    }
    text
  }

  /** Pin DuckDB's default NULL ordering — NULLS LAST for BOTH ASC and
    * DESC (probed) — onto every ORDER BY item that doesn't spell one,
    * at every nesting level (statement, subquery+LIMIT, OVER windows,
    * WITHIN GROUP). Spark's ASC default is NULLS FIRST, so without the
    * pin `ORDER BY x LIMIT 2` returns a DIFFERENT ROW SET (probed:
    * DuckDB (1,2) vs Spark (NULL,1)) and `ROW_NUMBER() OVER (ORDER BY
    * x)` ranks NULLs 1..k instead of last — both silent. Runs at the
    * TERMINAL parse stop, after every textual rewrite that re-parses
    * ORDER BY lists (DISTINCT ON, frames, string_agg, ordered list),
    * so their item grammars stay pristine; idempotent (explicit
    * NULLS FIRST/LAST is left alone).
    */
  private[graft] def pinNullOrder(st: String): String = {
    if ("(?i)\\bORDER\\s+BY\\b".r.findFirstIn(st).isEmpty) return st
    val terminators = Set("ROWS", "RANGE", "GROUPS", "LIMIT", "OFFSET",
      "FETCH", "UNION", "EXCEPT", "INTERSECT", "WINDOW", "QUALIFY",
      "HAVING")
    // collect EVERY insertion point first, apply once in descending
    // order — a window ORDER BY nested inside another ORDER BY's item
    // would otherwise shift the outer item's recorded end
    val inserts = scala.collection.mutable.ArrayBuffer[Int]()
    val obs = "(?i)\\bORDER\\s+BY\\b".r.findAllMatchIn(st).toSeq
    for (m <- obs
         if st.substring(0, m.start).count(_ == '\'') % 2 == 0) {
      // walk the item list; collect each item's end position
      var i = m.end
      var depth = 0
      var itemStart = i
      var lastNonWs = -1
      val itemEnds = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
      var done = false
      var inS = false
      while (i < st.length && !done) {
        val c = st.charAt(i)
        if (inS) { if (c == '\'') inS = false; i += 1 }
        else c match {
          case '\'' => inS = true; lastNonWs = i; i += 1
          case '(' | '[' => depth += 1; lastNonWs = i; i += 1
          case ')' | ']' =>
            if (depth == 0) { // enclosing close — list ends here
              if (lastNonWs >= itemStart) itemEnds += ((itemStart, lastNonWs + 1))
              done = true
            } else { depth -= 1; lastNonWs = i; i += 1 }
          case ',' if depth == 0 =>
            if (lastNonWs >= itemStart) itemEnds += ((itemStart, lastNonWs + 1))
            i += 1; itemStart = i; lastNonWs = -1
          case _ if c.isLetter && depth == 0 &&
              (i == 0 || !isOpIdC(st.charAt(i - 1))) => {
            var j = i
            while (j < st.length && isOpIdC(st.charAt(j))) j += 1
            val word = st.substring(i, j).toUpperCase
            if (terminators.contains(word)) {
              if (lastNonWs >= itemStart) itemEnds += ((itemStart, lastNonWs + 1))
              done = true
            } else { lastNonWs = j - 1; i = j }
          }
          case _ =>
            if (!c.isWhitespace) lastNonWs = i
            i += 1
        }
      }
      if (!done && lastNonWs >= itemStart)
        itemEnds += ((itemStart, lastNonWs + 1))
      for ((s0, e0) <- itemEnds) {
        val item = st.substring(s0, e0)
        if (!"(?is).*\\bNULLS\\s+(FIRST|LAST)\\s*$".r.matches(item) &&
            item.trim.nonEmpty)
          inserts += e0
      }
    }
    val sb = new StringBuilder(st)
    for (p <- inserts.distinct.sorted.reverse) sb.insert(p, " NULLS LAST")
    sb.toString
  }

  private def sqlStatement(s: SparkSession, statement0: String): DataFrame = {
    // the LAST text-level step before Spark's parser
    val statement = pinNullOrder(statement0)
    val parsed = parse(s, statement)
    parsed match {
      // Column-definition CREATE TABLE (r16) — the most common
      // migration-script statement: `CREATE TABLE t (k BIGINT PRIMARY
      // KEY, …)`. Creates an EMPTY lake table with the declared
      // schema; PRIMARY KEY (column- or table-level — Spark 4 parses
      // both into a PrimaryKeyConstraint) maps to the graft.keys
      // declared-conflict-columns property (x119), which is exactly
      // what a PK means to this engine: the implied key of INSERT OR
      // REPLACE / OR IGNORE / key-less ON CONFLICT. Uniqueness is NOT
      // enforced on plain INSERT (no lake engine enforces it on
      // append) — the keyed-DML paths check source-key uniqueness
      // loudly, and CREATE UNIQUE INDEX stays refused for the same
      // honesty reason. Other constraints (CHECK/UNIQUE/FK) refuse.
      case ct: CreateTable =>
        val nameParts = ct.name match {
          case u: UnresolvedIdentifier => u.nameParts
          case other => throw new IllegalArgumentException(
            s"unsupported CREATE TABLE target: $other")
        }
        require(nameParts.length == 1,
          "column-definition CREATE TABLE creates in the primary " +
            "catalog only (no qualified names)")
        val name = nameParts.last
        val spec = ct.tableSpec match {
          case t: org.apache.spark.sql.catalyst.plans.logical
              .UnresolvedTableSpec => t
          case other => throw new IllegalArgumentException(
            s"unsupported table spec: $other")
        }
        ct.columns.foreach { c =>
          require(c.defaultValue.isEmpty && c.generationExpression.isEmpty
              && c.identityColumnSpec.isEmpty,
            s"column ${c.name}: DEFAULT/GENERATED/IDENTITY are not " +
              "supported in column-definition CREATE TABLE")
        }
        val pk = spec.constraints.flatMap {
          case p: org.apache.spark.sql.catalyst.expressions
              .PrimaryKeyConstraint => p.columns
          case other => throw new IllegalArgumentException(
            s"unsupported table constraint " +
              s"${other.getClass.getSimpleName} — PRIMARY KEY maps to " +
              "graft.keys; CHECK/UNIQUE/FOREIGN KEY are not enforced " +
              "here and refuse rather than silently persisting")
        }
        val unknownProps = spec.properties.keySet.filterNot(_ == "graft.keys")
        require(unknownProps.isEmpty,
          s"unsupported table properties ${unknownProps.mkString(", ")}")
        val explicitKeys = spec.properties.get("graft.keys")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        require(explicitKeys.isEmpty || pk.isEmpty ||
            explicitKeys.get.map(_.toLowerCase).sorted ==
              pk.map(_.toLowerCase).sorted,
          "PRIMARY KEY and TBLPROPERTIES graft.keys disagree — declare " +
            "the key once")
        val keys = explicitKeys.getOrElse(pk)
        val schema = ct.tableSchema
        keys.foreach(k => require(
          schema.fieldNames.exists(_.equalsIgnoreCase(k)),
          s"key column $k is not a column of the table"))
        if (!(catalog(s).contains(name) && ct.ignoreIfExists)) {
          val fmt = createFormat(spec.provider)
          val loc = spec.location.getOrElse(
            s"${s.sessionState.conf.warehousePath.stripSuffix("/")}/$name")
          val partCols = ct.partitioning.map {
            case t if t.name == "identity" && t.references.length == 1 =>
              t.references.head.fieldNames.mkString(".")
            case t => throw new IllegalArgumentException(
              s"only identity partitioning supported, got $t")
          }
          val empty = s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          val config = if (keys.nonEmpty)
            Map("graft.keys" -> keys.mkString(",")) else Map.empty[String, String]
          fmt.create(s, loc, empty, partCols, config)
          registerEntry(s, name, fmt.provider, loc)
          recordCatalogUndo(s) { dropEntry(s, name); () }
        }
        s.emptyDataFrame
      // CREATE OR REPLACE TABLE … AS SELECT (r16): DuckDB's idempotent
      // table-refresh idiom. An existing SAME-PROVIDER table is
      // replaced by an atomic full overwrite — its location and
      // HISTORY survive (the replaced content stays time-travelable),
      // which is strictly more useful than drop+create and exactly
      // what an idempotent refresh script wants. A missing table
      // creates (the OR CREATE half); bare REPLACE TABLE on a missing
      // name refuses; views refuse; provider changes refuse.
      case org.apache.spark.sql.catalyst.plans.logical
          .ReplaceTableAsSelect(UnresolvedIdentifier(nameParts, _),
            partitioning, query, spec, _, orCreate, _) =>
        require(nameParts.length == 1,
          "CREATE OR REPLACE TABLE supports unqualified names in the " +
            "primary catalog")
        val name = nameParts.last
        val (specProvider, specLocation, specProps) = spec match {
          case t: TableSpec => (t.provider, t.location, t.properties)
          case t: org.apache.spark.sql.catalyst.plans.logical
              .UnresolvedTableSpec =>
            (t.provider, t.location, t.properties)
          case other => throw new IllegalArgumentException(
            s"unsupported table spec: $other")
        }
        require(partitioning.isEmpty,
          "partitioned CREATE OR REPLACE TABLE is not supported — " +
            "create once with PARTITIONED BY, then INSERT OVERWRITE")
        val df = Glue.dataFrame(s, query)
        catalog(s).get(name) match {
          case Some(("view", _)) => throw new IllegalArgumentException(
            s"$name is a view — use CREATE OR REPLACE VIEW")
          case Some((prov, path)) =>
            require(specProvider.forall(_.equalsIgnoreCase(prov)),
              s"$name already exists USING $prov — a replace cannot " +
                "change the provider; DROP TABLE first")
            require(specProps.isEmpty,
              "TBLPROPERTIES on a replace of an existing table is not " +
                "supported — properties travel with the table")
            val fmt = LakeFormat.of(prov)
            recordTableTouch(s, fmt, path)
            fmt.overwrite(s, path, df)
          case None =>
            require(orCreate,
              s"REPLACE TABLE: $name does not exist — use CREATE OR " +
                "REPLACE TABLE")
            val fmt = createFormat(specProvider)
            val loc = specLocation.getOrElse(
              s"${s.sessionState.conf.warehousePath.stripSuffix("/")}/$name")
            require(specProps.isEmpty,
              "TBLPROPERTIES on CREATE OR REPLACE TABLE is not " +
                "supported — declare keys on a plain CREATE TABLE")
            fmt.create(s, loc, df)
            registerEntry(s, name, fmt.provider, loc)
            recordCatalogUndo(s) { dropEntry(s, name); () }
        }
        s.emptyDataFrame
      case CreateTableAsSelect(UnresolvedIdentifier(nameParts, _),
          partitioning, query, spec, _, ignoreIfExists, _)
          if nameParts.length == 2 && attached(s).contains(nameParts.head) =>
        // Qualified CTAS into an ATTACHED catalog: data lands under the
        // attached root, the register op lands in ITS op log — so the
        // other catalog's own sessions see the table.
        val alias = nameParts.head; val name = nameParts.last
        val root = attached(s)(alias)
        val (specProvider, specLocation, specProps) = spec match {
          case t: TableSpec => (t.provider, t.location, t.properties)
          case t: org.apache.spark.sql.catalyst.plans.logical.UnresolvedTableSpec =>
            (t.provider, t.location, t.properties)
          case other => throw new IllegalArgumentException(
            s"unsupported table spec: $other")
        }
        require(specProps.isEmpty,
          "TBLPROPERTIES on CTAS into an attached catalog is not " +
            "supported — create the table in the primary catalog")
        attachedEntries(s, alias).get(name).foreach {
          case ("view", _) => throw new IllegalArgumentException(
            s"$alias.$name is a view; cannot CREATE TABLE over it")
          case _ => ()
        }
        if (!(attachedEntries(s, alias).contains(name) && ignoreIfExists)) {
          val fmt = createFormat(specProvider)
          val loc = specLocation.getOrElse(s"${root.stripSuffix("/")}/$name")
          require(partitioning.isEmpty,
            "partitioned CTAS into an attached catalog is not supported")
          val df = Glue.dataFrame(s, query)
          fmt.create(s, loc, df)
          appendOp(s, root, "register", name, fmt.provider, loc)
          recordCatalogUndo(s) { appendOp(s, root, "drop", name) }
        }
        s.emptyDataFrame
      case CreateTableAsSelect(UnresolvedIdentifier(nameParts, _),
          partitioning, query, spec, _, ignoreIfExists, _) =>
        val name = nameParts.last
        // The parser hands an UnresolvedTableSpec; both spec shapes
        // expose provider/location/properties.
        val (specProvider, specLocation, specProps) = spec match {
          case t: TableSpec => (t.provider, t.location, t.properties)
          case t: org.apache.spark.sql.catalyst.plans.logical.UnresolvedTableSpec =>
            (t.provider, t.location, t.properties)
          case other => throw new IllegalArgumentException(
            s"unsupported table spec: $other")
        }
        if (!(catalog(s).contains(name) && ignoreIfExists)) {
          val fmt = createFormat(specProvider)
          val loc = specLocation.getOrElse(
            s"${s.sessionState.conf.warehousePath.stripSuffix("/")}/$name")
          val partCols = partitioning.map {
            case t if t.name == "identity" && t.references.length == 1 =>
              t.references.head.fieldNames.mkString(".")
            case t => throw new IllegalArgumentException(
              s"only identity partitioning supported, got $t")
          }
          val df = Glue.dataFrame(s, query)
          // TBLPROPERTIES: graft.keys declares the table's conflict
          // columns (the PK stand-in that gives bare INSERT OR
          // REPLACE / OR IGNORE and key-less ON CONFLICT their keys);
          // anything else refuses loudly rather than persisting a
          // property no code reads.
          val unknown = specProps.keySet.filterNot(_ == "graft.keys")
          require(unknown.isEmpty,
            s"unsupported table properties ${unknown.mkString(", ")} — " +
              "graft.keys (declared conflict columns) is the supported " +
              "key space")
          val config = specProps.get("graft.keys").map { v =>
            val ks = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            require(ks.nonEmpty, "graft.keys must name at least one column")
            ks.foreach(k => require(
              df.schema.fieldNames.exists(_.equalsIgnoreCase(k)),
              s"graft.keys column $k is not a column of the table"))
            Map("graft.keys" -> ks.mkString(","))
          }.getOrElse(Map.empty[String, String])
          fmt.create(s, loc, df, partCols, config)
          registerEntry(s, name, fmt.provider, loc)
          recordCatalogUndo(s) { dropEntry(s, name); () }
        }
        s.emptyDataFrame
      case DropTable(child, ifExists, _) =>
        val parts = child match {
          case u: UnresolvedIdentifier => u.nameParts
          case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView =>
            u.multipartIdentifier
          case other => throw new IllegalArgumentException(
            s"unsupported DROP target: $other")
        }
        if (parts.length == 2 && attached(s).contains(parts.head)) {
          // qualified drop writes through to the ATTACHED op log
          attachedEntries(s, parts.head).get(parts.last) match {
            case Some(("view", _)) => throw new IllegalArgumentException(
              s"${parts.head}.${parts.last} is a view; use DROP VIEW")
            case Some((prov, p)) =>
              val root = attached(s)(parts.head)
              appendOp(s, root, "drop", parts.last)
              recordCatalogUndo(s) {
                appendOp(s, root, "register", parts.last, prov, p)
              }
            case None => if (!ifExists) throw new IllegalArgumentException(
              s"table ${parts.head}.${parts.last} not in attached catalog")
          }
        } else {
          require(parts.length == 1,
            s"catalog ${parts.head} is not attached — cannot DROP " +
              s"TABLE ${parts.mkString(".")}")
          require(catalog(s).get(parts.last).forall(_._1 != "view"),
            s"${parts.last} is a view; use DROP VIEW")
          val prior = catalog(s).get(parts.last)
          if (!dropEntry(s, parts.last) && !ifExists)
            throw new IllegalArgumentException(
              s"table ${parts.last} not in catalog")
          prior.foreach { case (prov, p) =>
            recordCatalogUndo(s) { registerEntry(s, parts.last, prov, p) }
          }
        }
        s.emptyDataFrame
      // CREATE [OR REPLACE] VIEW name AS SELECT … (Spark's grammar):
      // the view is its SQL TEXT in the catalog — re-planned against
      // current table state on every read, persisted with the same op
      // log as tables, expanded by the binder wherever the name
      // appears.
      case cv: org.apache.spark.sql.catalyst.plans.logical.CreateView =>
        val nameParts = cv.child match {
          case u: UnresolvedIdentifier => u.nameParts
          case other => throw new IllegalArgumentException(
            s"unsupported CREATE VIEW target: $other")
        }
        val name = nameParts.last
        val text = cv.originalText.map(rawLit).getOrElse(
          throw new IllegalArgumentException(
            s"CREATE VIEW $name: no query text"))
        if (nameParts.length == 2) {
          // Qualified CREATE VIEW writes the view into the ATTACHED
          // catalog's own op log; its text will bind in THAT catalog's
          // scope on every read. An unknown qualifier refuses loudly
          // (same rule as every other qualified-name path).
          val alias = nameParts.head
          require(attached(s).contains(alias),
            s"catalog $alias is not attached — cannot CREATE VIEW " +
              s"$alias.$name")
          attachedEntries(s, alias).get(name).foreach {
            case ("view", _) => ()
            case (provider, _) => throw new IllegalArgumentException(
              s"$alias.$name is a $provider table; cannot CREATE VIEW " +
                "over it")
          }
          val priorView = attachedEntries(s, alias).get(name)
          val exists = priorView.isDefined
          if (exists && !cv.replace) {
            if (!cv.allowExisting) throw new IllegalArgumentException(
              s"view $alias.$name already exists")
          } else {
            // Bind-at-create: expand the text once in the attached
            // scope so a body that references the wrong catalog fails
            // at CREATE VIEW, not at first read.
            expandAttachedView(s, alias, name, text)
            val root = attached(s)(alias)
            appendOp(s, root, "register", name, "view", text)
            recordCatalogUndo(s) {
              priorView match {
                case Some((_, old)) =>
                  appendOp(s, root, "register", name, "view", old)
                case None => appendOp(s, root, "drop", name)
              }
            }
          }
          return s.emptyDataFrame
        }
        // Mirror DropView's direction guard: a registered lake TABLE
        // must not be silently shadowed (or misleadingly reported as
        // an existing view) by CREATE [OR REPLACE] VIEW.
        catalog(s).get(name).foreach { case (provider, _) =>
          require(provider == "view",
            s"$name is a $provider table; cannot CREATE VIEW over it")
        }
        val priorView = catalog(s).get(name)
        val exists = priorView.isDefined
        if (exists && !cv.replace) {
          if (!cv.allowExisting)
            throw new IllegalArgumentException(s"view $name already exists")
        } else {
          registerEntry(s, name, "view", text)
          recordCatalogUndo(s) {
            priorView match {
              case Some((_, old)) => registerEntry(s, name, "view", old)
              case None => dropEntry(s, name); ()
            }
          }
        }
        s.emptyDataFrame
      case dv: org.apache.spark.sql.catalyst.plans.logical.DropView =>
        val dvParts = dv.child match {
          case u: UnresolvedIdentifier => u.nameParts
          case other => throw new IllegalArgumentException(
            s"unsupported DROP VIEW target: $other")
        }
        val name = dvParts.last
        if (dvParts.length == 2 && attached(s).contains(dvParts.head)) {
          // qualified drop writes through to the ATTACHED op log
          val alias = dvParts.head
          attachedEntries(s, alias).get(name) match {
            case Some(("view", old)) =>
              val root = attached(s)(alias)
              appendOp(s, root, "drop", name)
              recordCatalogUndo(s) {
                appendOp(s, root, "register", name, "view", old)
              }
            case Some((provider, _)) => throw new IllegalArgumentException(
              s"$alias.$name is a $provider table; use DROP TABLE")
            case None => if (!dv.ifExists)
              throw new IllegalArgumentException(
                s"view $alias.$name not in attached catalog")
          }
        } else {
          require(dvParts.length == 1,
            s"catalog ${dvParts.head} is not attached — cannot DROP " +
              s"VIEW ${dvParts.mkString(".")}")
          require(catalog(s).get(name).forall(_._1 == "view"),
            s"$name is a table; use DROP TABLE")
          val prior = catalog(s).get(name)
          if (!dropEntry(s, name) && !dv.ifExists)
            throw new IllegalArgumentException(s"view $name not in catalog")
          prior.foreach { case (_, old) =>
            recordCatalogUndo(s) { registerEntry(s, name, "view", old) }
          }
        }
        s.emptyDataFrame
      case _: DeleteFromTable | _: UpdateTable | _: InsertIntoStatement |
          _: MergeIntoTable =>
        execute(s, Map.empty, parsed)
        s.emptyDataFrame
      // ALTER TABLE … ADD COLUMNS / RENAME COLUMN: metadata-only
      // schema evolution on either provider — zero data IO at any
      // table size. RENAME keeps existing files resolving through
      // stable field ids (iceberglite) or column mapping's physical
      // names (deltalite).
      case AddColumns(tbl, colsToAdd) =>
        val (fmt, path) = lookupAlterTarget(s, tbl)
        colsToAdd.foreach { c =>
          require(c.path.isEmpty,
            s"only top-level columns can be added, got ${c.name}")
          fmt.addColumn(s, path, c.colName, c.dataType)
        }
        s.emptyDataFrame
      case RenameColumn(tbl, column, newName) =>
        val (fmt, path) = lookupAlterTarget(s, tbl)
        require(column.name.length == 1,
          s"only top-level columns can be renamed, got ${column.name}")
        fmt.renameColumn(s, path, column.name.head, newName)
        s.emptyDataFrame
      // ALTER TABLE … DROP COLUMN (r16): metadata-only on either
      // format — Delta via column mapping (surviving fields keep
      // resolving to physical names), Iceberg via a new current
      // schema (readers project by field id). Zero data IO at any
      // table size; files keep the orphan column until compaction.
      case org.apache.spark.sql.catalyst.plans.logical
          .DropColumns(tbl, cols, ifExists) =>
        val (fmt, path) = lookupAlterTarget(s, tbl)
        cols.foreach { c =>
          require(c.name.length == 1,
            s"only top-level columns can be dropped, got ${c.name}")
          val name = c.name.head
          if (fmt.snapshot(s, path).schema.fieldNames.contains(name))
            fmt.dropColumn(s, path, name)
          else require(ifExists, s"no column $name")
        }
        s.emptyDataFrame
      // ALTER TABLE … RENAME TO (r16): a catalog-level re-binding —
      // the data does not move; the op log records drop+register so
      // the rename is durable and visible to later sessions.
      case org.apache.spark.sql.catalyst.plans.logical
          .RenameTable(child, newNameParts, _) =>
        val parts = child match {
          case u: UnresolvedIdentifier => u.nameParts
          case u: org.apache.spark.sql.catalyst.analysis
              .UnresolvedTableOrView => u.multipartIdentifier
          case other => throw new IllegalArgumentException(
            s"unsupported RENAME target: $other")
        }
        require(parts.length == 1 && newNameParts.length == 1,
          "RENAME TO supports unqualified names in the primary catalog")
        val (oldName, newName) = (parts.head, newNameParts.head)
        val entry = catalog(s).getOrElse(oldName,
          throw new IllegalArgumentException(
            s"RENAME: $oldName is not in the catalog"))
        require(!catalog(s).contains(newName),
          s"RENAME: $newName already exists")
        dropEntry(s, oldName)
        registerEntry(s, newName, entry._1, entry._2)
        recordCatalogUndo(s) {
          dropEntry(s, newName)
          registerEntry(s, oldName, entry._1, entry._2)
        }
        s.emptyDataFrame
      // TRUNCATE TABLE (r16): an atomic empty overwrite — old files
      // stay time-travelable, exactly DuckDB's semantics plus the lake
      // formats' history. Returns the removed-row count (DuckDB's
      // result shape).
      case org.apache.spark.sql.catalyst.plans.logical
          .TruncateTable(child) =>
        import s.implicits._
        val parts = child match {
          case u: UnresolvedIdentifier => u.nameParts
          case u: org.apache.spark.sql.catalyst.analysis
              .UnresolvedTableOrView => u.multipartIdentifier
          case u: org.apache.spark.sql.catalyst.analysis
              .UnresolvedTable => u.multipartIdentifier
          case other => throw new IllegalArgumentException(
            s"unsupported TRUNCATE target: $other")
        }
        require(parts.length == 1,
          "TRUNCATE supports unqualified names in the primary catalog")
        val (fmt, path) = lakeEntry(catalog(s).get(parts.head),
          s"${parts.head} is a view — TRUNCATE targets lake tables",
          s"TRUNCATE: table ${parts.head} not in catalog")
        recordTableTouch(s, fmt, path)
        val snap = fmt.snapshot(s, path)
        val n = snap.count()
        fmt.overwrite(s, path, snap.limit(0))
        Seq(n).toDF("count")
      case plan if plan.collectWithSubqueries {
          case _: RelationTimeTravel => () }.nonEmpty =>
        // Time-travel query path: `name VERSION AS OF v` cannot bind
        // through a temp view (views reject time travel), so the
        // versioned snapshot's analyzed subtree substitutes directly
        // into the parsed plan — Spark's own grammar, graft's binder —
        // and the substituted plan runs through the normal
        // analyzer/optimizer. Plain cataloged names in the same
        // statement bind to the current snapshot.
        // transformUpWithSubqueries: time-traveled names inside scalar/
        // IN/EXISTS subqueries substitute too, not just plan children.
        val bound = plan.transformUpWithSubqueries {
          case RelationTimeTravel(r: UnresolvedRelation, ts, ver)
              if catalog(s).contains(r.multipartIdentifier.last) =>
            val df = ts match {
              case Some(tsExpr) =>
                // `TIMESTAMP AS OF <expr>`: evaluate the (foldable)
                // expression under the session zone — Spark's own
                // grammar already restricts it to a timestamp-coercible
                // scalar — then resolve through the format's commit
                // stamps.
                tableAsOf(s, r.multipartIdentifier.last,
                  evalTimestampMillis(s, tsExpr))
              case None =>
                val raw = ver.getOrElse(throw new IllegalArgumentException(
                  "VERSION AS OF <n | 'ref'> or TIMESTAMP AS OF <ts> required"))
                // Numeric → log version / snapshot id; anything else → a
                // named ref (Iceberg branch or tag), the Spark+Iceberg
                // `VERSION AS OF 'branch'` form.
                scala.util.Try(raw.toLong) match {
                  case scala.util.Success(v) =>
                    tableAt(s, r.multipartIdentifier.last, v)
                  case scala.util.Failure(_) =>
                    tableAtRef(s, r.multipartIdentifier.last, raw)
                }
            }
            df.queryExecution.analyzed
          case r: UnresolvedRelation
              if catalog(s).contains(r.multipartIdentifier.last) =>
            table(s, r.multipartIdentifier.last).queryExecution.analyzed
        }
        Glue.dataFrame(s, bound)
      case plan =>
        // Query path: bind every cataloged name the plan references to
        // the table's current snapshot, then run the parsed plan (full
        // Catalyst optimization).
        bindMetaViews(s, statement)
        // Attached-qualified names (`alias.table`) cannot bind through
        // temp views (dots aren't temp-view names) — when present, the
        // analyzed snapshot substitutes into the parsed plan directly
        // ([[bindCataloged]]); plain cataloged names in the same
        // statement substitute too, so cross-catalog joins optimize as
        // ONE Catalyst plan.
        // Deep collection/binding: names inside WITH-clause bodies
        // count too (UnresolvedWith hides cteRelations from plain
        // traversal — a qualified name only mentioned inside a CTE
        // must still trigger the substitution path).
        val rels = collectRelationsDeep(plan)
        if (rels.exists(isAttachedRel(s, _)))
          Glue.dataFrame(s, bindCataloged(s, plan))
        else {
          rels.map(_.multipartIdentifier.last).distinct.foreach { n =>
            catalog(s).get(n).foreach(_ =>
              table(s, n).createOrReplaceTempView(n))
          }
          Glue.dataFrame(s, plan)
        }
    }
  }

  /** Metadata views bind by textual mention: they are reserved names,
    * and a mention inside a CTE body is invisible to plan.collect
    * (UnresolvedWith keeps cteRelations out of the children traversal).
    */
  private def bindMetaViews(s: SparkSession, text: String): Unit = {
    if (text.contains(MetaCatalogsView))
      catalogsMeta(s).createOrReplaceTempView(MetaCatalogsView)
    if (text.contains(MetaTablesView))
      tablesMeta(s).createOrReplaceTempView(MetaTablesView)
    if (text.contains(MetaColumnsView))
      columnsMeta(s).createOrReplaceTempView(MetaColumnsView)
  }

  private def isAttachedRel(s: SparkSession, r: UnresolvedRelation) =
    r.multipartIdentifier.length == 2 &&
      attached(s).contains(r.multipartIdentifier.head)

  /** `plan` with every cataloged name in it (CTE bodies and subqueries
    * included) replaced by the table's current snapshot, under that
    * name (so `name.column` resolves): `alias.table` through its
    * attached catalog, a bare name through the session catalog. Only a
    * BARE name may bind the primary catalog: a qualified name whose
    * prefix is not an attached alias (e.g. `foo.customer`) must fail
    * resolution loudly, not silently bind the bare `customer` entry.
    */
  private def bindCataloged(s: SparkSession, plan: LogicalPlan): LogicalPlan =
    bindRelationsDeep(plan, {
      case r if isAttachedRel(s, r) => SubqueryAlias(r.multipartIdentifier,
        attachedTable(s, r.multipartIdentifier.head,
          r.multipartIdentifier.last).queryExecution.analyzed)
      case r if r.multipartIdentifier.length == 1 &&
          catalog(s).contains(r.multipartIdentifier.last) =>
        SubqueryAlias(r.multipartIdentifier,
          table(s, r.multipartIdentifier.last).queryExecution.analyzed)
    })

  /** Resolve an ALTER TABLE target plan to (provider, path) through the
    * session catalog.
    */
  private def lookupAlterTarget(s: SparkSession,
      tbl: LogicalPlan): (LakeFormat, String) = {
    val name = tbl match {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
        u.multipartIdentifier.last
      case other => throw new IllegalArgumentException(
        s"unsupported ALTER target: $other")
    }
    val (fmt, path) = lakeEntry(catalog(s).get(name),
      s"$name is a view — ALTER targets must be lake tables",
      s"table $name not in catalog")
    // Schema changes roll back with the table restore (both formats'
    // restore points reinstate the prior metadata).
    recordTableTouch(s, fmt, path)
    (fmt, path)
  }

  /** A DML target as (format, path) through either catalog: a qualified
    * `alias.table` target resolves (and writes through) to the ATTACHED
    * catalog, so INSERT/UPDATE/DELETE/MERGE work across catalogs
    * exactly like reads; `tables` binds bare names to DeltaLite paths
    * ahead of the session catalog.
    */
  private def dmlTarget(s: SparkSession, tables: Map[String, String],
      rel: LogicalPlan): (LakeFormat, String) = {
    val parts = partsOf(rel)
    val n = parts.last
    if (parts.length == 2 && attached(s).contains(parts.head))
      lakeEntry(attachedEntries(s, parts.head).get(n),
        s"${parts.mkString(".")} is a view — DML targets must be lake " +
          "tables",
        s"table ${parts.mkString(".")} not in attached catalog")
    else tables.get(n).map((DeltaLite: LakeFormat) -> _).getOrElse(
      lakeEntry(catalog(s).get(n),
        s"$n is a view — DML targets must be lake tables",
        s"unknown lake table $n"))
  }

  /** An INSERT's source rows bound to the target's columns and cast to
    * their types. */
  private def bindInsert(ins: InsertIntoStatement, df0: DataFrame,
      targetSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    // BY NAME and column-list INSERTs must bind by NAME, never by
    // position — ignoring the flags would land values in the wrong
    // columns silently. Missing columns fill NULL (the SQL rule);
    // unknown source columns refuse.
    def alignByName(src: DataFrame): DataFrame = {
      val byLower = src.columns.map(c => c.toLowerCase -> c).toMap
      val extra = src.columns.filterNot(c =>
        targetSchema.fieldNames.exists(_.equalsIgnoreCase(c)))
      require(extra.isEmpty,
        s"INSERT BY NAME: source column(s) ${extra.mkString(", ")} " +
          "not in the target table")
      src.select(targetSchema.fields.toSeq.map { f =>
        byLower.get(f.name.toLowerCase)
          .map(org.apache.spark.sql.functions.col)
          .getOrElse(org.apache.spark.sql.functions.lit(null)
            .cast(f.dataType))
          .as(f.name)
      }: _*)
    }
    val df =
      if (ins.byName) alignByName(df0)
      else if (ins.userSpecifiedCols.nonEmpty) {
        require(ins.userSpecifiedCols.length == df0.columns.length,
          s"INSERT column list names ${ins.userSpecifiedCols.length} " +
            s"column(s) but the query produces ${df0.columns.length}")
        alignByName(df0.toDF(ins.userSpecifiedCols: _*))
      } else if (df0.columns.length == targetSchema.fields.length) {
        // positional INSERT (the SQL rule): a bare INSERT binds the
        // query's columns to the table's left-to-right, EVEN when
        // the source aliases happen to name target columns in a
        // different order — SQL/DuckDB never bind a bare INSERT by
        // name, so neither does graft (silent reorder otherwise)
        df0.toDF(targetSchema.fieldNames.toSeq: _*)
      } else if (df0.columns.forall(c =>
        targetSchema.fieldNames.exists(_.equalsIgnoreCase(c)))) {
        // FEWER columns, each naming a target column → the
        // omitted-generated/identity-column case; the write path
        // binds by name and computes the omitted columns
        df0
      } else {
        throw new IllegalArgumentException(
          s"INSERT provides ${df0.columns.length} column(s) but " +
            s"the table has ${targetSchema.fields.length} — use a " +
            "column list to insert a subset")
      }
    // Implicit INSERT coercion (the SQL rule both engines apply):
    // each bound source column CASTs to its target column's
    // declared type — an INT into a STRING column renders, an
    // incompatible value fails LOUDLY at write time (ANSI), and a
    // mismatched physical type never lands in a data file (r16
    // fuzz finding: an uncast INT32 landed under a STRING schema
    // and poisoned every later read of the table).
    df.select(df.columns.toSeq.map { c =>
      val f = targetSchema.fields
        .find(_.name.equalsIgnoreCase(c)).get
      if (f.dataType == df.schema(c).dataType)
        org.apache.spark.sql.functions.col(c)
      else org.apache.spark.sql.functions.col(c)
        .cast(f.dataType).as(c)
    }: _*)
  }

  /** Execute one DML statement. `tables` maps statement table names to
    * DeltaLite paths; names not in the map resolve through the session
    * catalog (CREATE TABLE-registered — either provider). Returns the
    * affected table's path.
    */
  def execute(s: SparkSession, tables: Map[String, String],
      sql: String): String = execute(s, tables, parse(s, sql))

  private def execute(s: SparkSession, tables: Map[String, String],
      plan: LogicalPlan): String = {
    // Transaction hook: the DML target's pre-state anchors here (first
    // touch wins; later touches of the same path are no-ops).
    def resolve(rel: LogicalPlan): (LakeFormat, String) = {
      val (fmt, p) = dmlTarget(s, tables, rel)
      recordTableTouch(s, fmt, p)
      (fmt, p)
    }
    plan match {
      case DeleteFromTable(rel, cond) =>
        val (fmt, p) = resolve(rel)
        fmt.deleteWhere(s, p, Glue.column(cond))
        p
      case UpdateTable(rel, assignments, cond) =>
        val (fmt, p) = resolve(rel)
        val asg = assignments.map {
          case Assignment(k: UnresolvedAttribute, v) =>
            k.name -> Glue.column(v)
          case a =>
            throw new IllegalArgumentException(s"unsupported assignment $a")
        }.toMap
        val pred = cond.map(Glue.column).getOrElse(
          org.apache.spark.sql.functions.lit(true))
        fmt.updateWhere(s, p, pred, asg)
        p
      case ins: InsertIntoStatement =>
        val (fmt, p) = resolve(ins.table)
        // INSERT OVERWRITE replaces the whole table atomically (static
        // full-table overwrite); per-partition overwrite specs are not
        // bound — rejected loudly rather than silently widened.
        require(ins.partitionSpec.isEmpty,
          "partition-spec INSERT is not supported (full-table only)")
        val df0 = Glue.dataFrame(s, ins.query)
        fmt.insert(s, p, ins.overwrite)(bindInsert(ins, df0, _))
        p
      // MERGE INTO … USING … ON <key equalities> WHEN MATCHED THEN
      // UPDATE SET * WHEN NOT MATCHED THEN INSERT * — the upsert form,
      // bound to the table format's keyed merge (pruned copy-on-write:
      // a small source into a 100 TB table rewrites touched files
      // only). Conditional/partial-assignment matched actions are
      // rejected loudly; the ON clause must be a conjunction of
      // same-name column equalities (the keys), which is what gives
      // merge its well-defined one-source-row-per-target-row contract.
      case m: MergeIntoTable =>
        val (fmt, p) = resolve(m.targetTable)
        def eqKeys(e: Expression): Seq[String] = e match {
          case And(l, r) => eqKeys(l) ++ eqKeys(r)
          case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
            require(a.nameParts.last == b.nameParts.last,
              s"merge ON must equate the SAME column on both sides, " +
                s"got ${a.name} = ${b.name}")
            Seq(a.nameParts.last)
          case other => throw new IllegalArgumentException(
            s"merge ON must be a conjunction of column equalities: $other")
        }
        val keys = eqKeys(m.mergeCondition).distinct
        (m.matchedActions, m.notMatchedActions) match {
          case (Seq(UpdateStarAction(None)), Seq(InsertStarAction(None))) =>
          case _ => throw new IllegalArgumentException(
            "only WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN " +
              "INSERT * is supported (unconditional upsert form)")
        }
        val src = Glue.dataFrame(s, m.sourceTable)
        m.notMatchedBySourceActions match {
          case Seq() => fmt.merge(s, p, src, keys)
          // WHEN NOT MATCHED BY SOURCE — the CDC full-sync idiom, bound
          // to the format's full-sync MERGE (LakeFormat.sync)
          case Seq(DeleteAction(c)) =>
            fmt.sync(s, p, src, keys, c.map(Glue.column), None)
          case Seq(UpdateAction(c, assignments, false)) =>
            val set = assignments.map {
              case Assignment(k: UnresolvedAttribute, v) =>
                k.nameParts.last -> Glue.column(v)
              case other => throw new IllegalArgumentException(
                s"unsupported BY SOURCE assignment: $other")
            }.toMap
            require(!set.keySet.exists(keys.contains),
              "BY SOURCE UPDATE must not reassign merge keys")
            fmt.sync(s, p, src, keys, c.map(Glue.column), Some(set))
          case Seq(other) => throw new IllegalArgumentException(
            s"unsupported WHEN NOT MATCHED BY SOURCE action: $other")
          case _ => throw new IllegalArgumentException(
            "one WHEN NOT MATCHED BY SOURCE clause is supported")
        }
        p
      case other =>
        throw new IllegalArgumentException(
          s"unsupported lake DML statement: ${other.getClass.getSimpleName}")
    }
  }
}
