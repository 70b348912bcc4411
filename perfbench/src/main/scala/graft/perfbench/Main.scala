package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import graft.{GraftSession, LakeSql}
import graft.sources.{DeltaLite, HudiLite, IcebergLite}

/** One closed-loop benchmark run in one JVM, one client thread.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --datagen <data.py> --data-cache <dir>
  *   [--inject throw|wrong|drift]
  *
  * Phases: generate the input (`data.py`) unless the cache holds it; set up
  * three times (session start, `Sql.open`, table seeding), keeping the
  * last; the warm-up passes; then whole passes until `--seconds` have
  * passed. With `--trace 1` the passes run in blocks of four, traced,
  * untraced, untraced, traced (spans at every layer boundary, the
  * benchmark's own SparkListener attributing jobs to statements by job
  * group), so the two kinds compare like with like and give the tracing
  * overhead. Every statement's rows go to `rows.jsonl` for the DuckDB
  * check; everything else goes to `run.json`. `--inject` plants one
  * throwing statement, one wrong result, or (lake-dml) one write that the
  * DuckDB replay does not make, to show that each fails the run.
  */
object Main {

  final case class Rec(idx: Int, pass: Int, phase: String, st: Stmt,
      text: String, ns: Long, ok: Boolean, err: String)

  private object Plans extends AdaptiveSparkPlanHelper {
    /** Scan `numFiles` summed over the final (post-AQE) plan. */
    def filesRead(df: DataFrame): Long =
      collectWithSubqueries(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec =>
          s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val w = Gen.byName(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val inject = a.getOrElse("inject", "")
    val work = new File(a("work")).getAbsolutePath
    val code = try run(w, seed, seconds, traced, inject, work,
        a("datagen"), a("data-cache")) catch {
      case NonFatal(e) => e.printStackTrace(); 3
    }
    sys.exit(code)
  }

  /** Fact tables are written as this many files, on every host, so the
    * input is the same everywhere and scans split across four cores. */
  val FactFiles = 4

  private def cpus: Int = Runtime.getRuntime.availableProcessors
  private def session(): SparkSession = {
    val s = GraftSession.builder(s"local[$cpus]", cpus)
      .appName("perfbench").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  private def now: Long = System.nanoTime()
  private def ms(ns: Long): Double = ns / 1e6
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  /** The statement `--inject` plants: one that throws, or (lake-dml) one
    * write the DuckDB replay does not make, so that later reads, `VERSION
    * AS OF` reads and the table's final contents differ. `wrong` changes a
    * result instead (see `run`). */
  private def plant(inject: String): Seq[Stmt] = inject match {
    case "throw" => Seq(Stmt("injected", Kind.Query,
      "SELECT * FROM perfbench_no_such_table", Seq("SELECT 1"),
      compare = false))
    case "drift" => Seq(Stmt("injected", Kind.Dml,
      "DELETE FROM d_orders WHERE o_orderkey % 97 = 0", Nil,
      compare = false))
    case _ => Nil
  }
  private def processCpuNs: Long = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Bytes the calling thread read through Hadoop's local file system. */
  private def driverReadBytes: Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
      .map(_.getThreadStatistics.getBytesRead).sum
  }

  /** (relative path → size) of every file under `dir`. */
  def listing(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty else {
      val st = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      } finally st.close()
    }
  }

  private def snapshotOf(s: SparkSession, t: String, p: String): DataFrame =
    t match {
      case "d_orders" => DeltaLite.snapshot(s, p)
      case "i_orders" => IcebergLite.snapshot(s, p)
      case _ => HudiLite.snapshot(s, p)
    }

  /** Log versions and live data files over the lake tables. */
  private def sourceCounters(s: SparkSession,
      tables: Seq[(String, String)]): Map[String, Long] = Map(
    "log_versions" -> tables.map {
      case ("d_orders", p) => DeltaLite.latestVersion(s, p) + 1
      case ("i_orders", p) => IcebergLite.snapshots(s, p).size.toLong
      case (_, p) => HudiLite.completedInstants(s, p).size.toLong
    }.sum,
    "files_live" -> tables.map { case (t, p) =>
      snapshotOf(s, t, p).inputFiles.length.toLong }.sum)

  /** Add each traced statement's Spark jobs as `exec` spans under the
    * innermost span that was open when the job ran. Overlapping jobs under
    * one parent merge into one span, so self times still sum to the
    * statement's duration. */
  private def attachJobs(trace: Trace, l: WorkListener,
      stmts: Set[Int]): Unit = {
    val bySt = trace.spans.groupBy(_.stmt)
    stmts.foreach { i =>
      val spans = bySt.getOrElse(i, Nil).filter(s =>
        s.layer != "catalyst" && s.layer != "trace")
      val jobs = l.jobsOf(Trace.group(i)).map { case (s, e) =>
        (s * 1000000L + trace.nanoOffset, e * 1000000L + trace.nanoOffset) }
      jobs.groupBy { case (s, e) =>
        val mid = (s + e) / 2
        spans.filter(x => x.start <= mid && mid <= x.end)
          .minByOption(_.dur).orElse(spans.find(_.parent == -1))
      }.foreach {
        case (Some(p), ivs) =>
          val clipped = ivs.map { case (s, e) =>
            (math.max(s, p.start), math.min(e, p.end)) }
            .filter { case (s, e) => e > s }.sortBy(_._1)
          val merged = clipped.foldLeft(List.empty[(Long, Long)]) {
            case ((s0, e0) :: rest, (s, e)) if s <= e0 =>
              (s0, math.max(e0, e)) :: rest
            case (acc, iv) => iv :: acc
          }
          merged.foreach { case (s, e) =>
            trace.add(Span(trace.id(), p.id, i, "exec", "jobs", s, e)) }
        case _ =>
      }
    }
  }

  def run(w: Workload, seed: Long, seconds: Double, traced: Boolean,
      inject: String, work: String, datagen: String, cache: String): Int = {
    val marks = mutable.LinkedHashMap.empty[String, Double]
    val runStart = now
    def mark(phase: String): Unit = marks(phase) = (now - runStart) / 1e9
    val data = Data.cached(datagen, cache, w.sf, FactFiles)
    mark("generate")
    var spark: SparkSession = null

    // Set-up, three times, each on a fresh session and lake directory.
    var ctx: Ctx = null
    val setups = (0 until 3).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val t0 = now
      spark = session()
      ctx = Ctx(spark, data, s"$work/lake$i")
      w.setup(ctx)
      (now - t0) / 1e9
    }
    val sc = spark.sparkContext
    val listener = new WorkListener
    sc.addSparkListener(listener)
    val trace = new Trace
    val lakeTables = w.lakeTables(ctx.lake)
    val deltaPath = lakeTables.collectFirst { case ("d_orders", p) => p }
    val versions = mutable.Map[Int, Long](-1 -> deltaPath.fold(0L)(
      DeltaLite.latestVersion(spark, _)))

    def sentinels(): (Double, Double) =
      (graft.Bench.sentinelOnce(spark, cpus),
        graft.Bench.sentinelIoOnce(spark, data))
    def loadAvg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    mark("setup")

    val recs = mutable.ArrayBuffer.empty[Rec]
    val results = mutable.Map.empty[Int, (Seq[String], Array[Row])]
    val filesRead = mutable.Map.empty[Int, Long]
    val metaBytes = mutable.Map.empty[Int, Long]
    val operatorNs = mutable.Map.empty[Int, Long]
    val dirDiff = mutable.Map.empty[Int, (Long, Long)] // files, bytes added
    val liveAtRead = mutable.Map.empty[Int, Long] // files live when read

    def textOf(st: Stmt): String = st.travel.fold(st.text)(t =>
      st.text.replace("{V}", versions.getOrElse(t,
        throw new IllegalStateException(
          s"no Delta version recorded for statement $t")).toString))
    val rowCount = mutable.Map.empty[Int, Long]
    var injectedWrong = false
    def lakeListing(): Map[String, Long] =
      lakeTables.map(t => listing(t._2)).foldLeft(Map.empty[String, Long])(_ ++ _)

    /** Run one statement; spans only when `tr`. */
    def exec(st: Stmt, idx: Int, pass: Int, phase: String,
        tr: Boolean): Unit = {
      sc.setJobGroup(Trace.group(idx), st.family, interruptOnCancel = false)
      val before = if (tr) lakeListing() else Map.empty[String, Long]
      var text = st.text
      val root = trace.id()
      val rb = driverReadBytes
      val t0 = now
      val (ok, err) = try {
        text = textOf(st)
        def sp[T](layer: String, name: String)(f: => T): T =
          if (tr) trace.span(root, idx, layer, name)(f) else f
        def keep(df: DataFrame): Unit = {
          val rows = sp("exec", "collect")(df.collect())
          results(idx) = (df.columns.toSeq, rows)
          rowCount(idx) = rows.length
          if (tr) filesRead(idx) = Plans.filesRead(df)
        }
        st.kind match {
          case Kind.Query =>
            val df = sp("lakesql", "LakeSql.sql")(LakeSql.sql(spark, text))
            if (tr) {
              val qe = df.queryExecution
              val sqlSpan = trace.spans.last
              val a0 = now
              spark.sessionState.analyzer.executeAndCheck(qe.logical,
                new org.apache.spark.sql.catalyst.QueryPlanningTracker)
              val a1 = now
              trace.add(Span(trace.id(), root, idx, "trace", "reanalyze", a0, a1))
              // The analysis LakeSql.sql ran is re-timed above; it is
              // attributed to catalyst inside the LakeSql.sql span.
              val an = math.min(a1 - a0, sqlSpan.dur)
              trace.add(Span(trace.id(), sqlSpan.id, idx, "catalyst",
                "analyze", sqlSpan.end - an, sqlSpan.end))
              sp("catalyst", "optimize")(qe.optimizedPlan)
              sp("catalyst", "physical")(qe.executedPlan)
            }
            keep(df)
          case Kind.Dml =>
            sp("lakesql", "LakeSql.sql")(LakeSql.sql(spark, text))
          case Kind.ApiRead =>
            val o0 = now
            val df = sp(w.apiLayer, text.takeWhile(_ != ' '))(st.api.get(ctx))
            operatorNs(idx) = now - o0
            keep(df)
          case Kind.ApiWrite =>
            sp(w.apiLayer, text.takeWhile(_ != '('))(st.api.get(ctx))
        }
        if (inject == "wrong" && st.compare && !injectedWrong) {
          injectedWrong = true
          val (c, rows) = results(idx)
          results(idx) = (c, rows.dropRight(1) :+ Row.fromSeq(
            Seq.fill(c.size)("perfbench-injected")))
        }
        (true, "")
      } catch { case NonFatal(e) =>
        (false, (e.getClass.getName + ": " + e.getMessage).take(400))
      }
      val t1 = now
      sc.clearJobGroup()
      metaBytes(idx) = driverReadBytes - rb
      if (tr) {
        trace.add(Span(root, -1, idx, "bench", "statement", t0, t1))
        if (lakeTables.nonEmpty && (st.kind == Kind.Dml ||
            st.kind == Kind.ApiWrite)) {
          val after = lakeListing()
          val added = after.keySet -- before.keySet
          dirDiff(idx) = (added.size.toLong, added.toSeq.map(after).sum)
        }
      }
      if (tr && ok && st.travel.isEmpty &&
          (st.kind == Kind.Query || st.kind == Kind.ApiRead))
        lakeTables.find(t => text.contains(t._1)).foreach { case (t, p) =>
          liveAtRead(idx) = snapshotOf(spark, t, p).inputFiles.length.toLong }
      if (ok && st.deltaWrite)
        versions(idx) = DeltaLite.latestVersion(spark, deltaPath.get)
      recs += Rec(idx, pass, phase, st, text, t1 - t0, ok, err)
    }

    var nextIdx = 0
    var passNo = 0
    // Wall time, process CPU time and lake bytes written of the untraced
    // measured passes.
    var timedNs, timedCpu, timedWriteBytes = 0L
    def runPass(phase: String, tr: Boolean): Unit = {
      // A planted statement goes after the first measured pass's own, so
      // the run indices the pass was generated with stay right.
      val planted = if (phase == "timed" && !recs.exists(_.phase == "timed"))
        plant(inject) else Nil
      val stmts = w.pass(seed, passNo, nextIdx) ++ planted
      val measured = phase == "timed"
      val before = if (measured) lakeListing() else Map.empty[String, Long]
      val t0 = now
      val c0 = processCpuNs
      stmts.foreach { st => exec(st, nextIdx, passNo, phase, tr); nextIdx += 1 }
      if (measured) {
        timedNs += now - t0
        timedCpu += processCpuNs - c0
        val after = lakeListing()
        timedWriteBytes += (after.keySet -- before.keySet).toSeq.map(after).sum
      }
      passNo += 1
    }

    (1 to w.warmupPasses).foreach(_ => runPass("warmup", tr = false))
    mark("warmup")
    // Host context around the measured phases, after the JIT warm-up.
    val hostBefore = (sentinels(), loadAvg)
    mark("sentinels_before")
    var firstPassEnd = -1
    var counters = Map.empty[String, Long]
    val t0 = now
    if (!traced) {
      val first = nextIdx
      while (nextIdx - first < w.minStatements || (now - t0) / 1e9 < seconds)
        runPass("timed", tr = false)
    } else {
      // Blocks of four passes: traced, untraced, untraced, traced. Both
      // kinds cover even and odd passes (lake-dml swaps its tables by pass
      // parity) at the same mean position while the logs grow, so their
      // per-family medians compare like with like. The first traced pass
      // starts from the same state on every run with this seed, so its
      // counters can be compared across runs.
      while (firstPassEnd < 0 || (now - t0) / 1e9 < seconds)
        Seq(true, false, false, true).foreach { tr =>
          runPass(if (tr) "traced" else "timed", tr)
          if (firstPassEnd < 0) {
            firstPassEnd = nextIdx
            counters = sourceCounters(spark, lakeTables)
          }
        }
    }
    mark("timed")
    val hostAfter = (sentinels(), loadAvg)
    mark("sentinels_after")

    val snapshotMs = if (traced && lakeTables.nonEmpty) Some(
      lakeTables.map { case (t, p) =>
        median((1 to 3).map { _ =>
          val t0 = now; snapshotOf(spark, t, p); ms(now - t0) })
      }.sum / lakeTables.size) else None

    org.apache.spark.PerfbenchBus.drain(sc)

    // ---- output: rows for the DuckDB check
    val rowsOut = new StringBuilder
    results.toSeq.sortBy(_._1).foreach { case (i, (c, rows)) =>
      rowsOut ++= Json.obj("idx" -> i, "cols" -> c,
        "rows" -> Json.Raw(Json(rows.toSeq))) += '\n'
    }
    Files.write(Paths.get(work, "rows.jsonl"), rowsOut.toString.getBytes(UTF_8))
    results.clear()

    // ---- lake tables: final contents, space, bytes written while timed
    val finals = lakeTables.map { case (t, p) =>
      val df = snapshotOf(spark, t, p)
      val out = s"$work/final_$t.parquet"
      df.coalesce(1).write.mode("overwrite").parquet(out)
      (t, out, listing(p).values.sum, listing(out).filter(_._1.endsWith(
        ".parquet")).values.sum)
    }

    val timed = recs.filter(_.phase == "timed")

    // Heap after a full GC, with the run's results already written out.
    mark("outputs")
    // Broadcasts and shuffles are released by the context cleaner once a
    // GC finds them unreachable; collect until the cleaner has run.
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0

    // ---- per-layer numbers from the traced statements
    val layerJson = if (!traced) Json.Raw("null") else {
      val tr = recs.filter(_.phase == "traced")
      val trIdx = tr.map(_.idx).toSet
      attachJobs(trace, listener, trIdx)
      val bySt = trace.spans.groupBy(_.stmt)
      val self = tr.map(r => Trace.selfByLayer(bySt.getOrElse(r.idx, Nil).toSeq))
      val n = math.max(1, tr.size).toDouble
      val layers = Seq("bench", "lakesql", "catalyst", "exec", "sources",
        "operators", "trace")
      def meanSelf(l: String) = self.map(_.getOrElse(l, 0L)).sum / 1e6 / n
      val first = tr.filter(_.idx < firstPassEnd)
      def work(rs: Iterable[Rec]): Work = {
        val x = new Work
        rs.foreach(r => x.add(listener.workOf(Trace.group(r.idx))))
        x
      }
      val wAll = work(tr); val wFirst = work(first)
      def spansOf(r: Rec, layer: String, name: String) =
        bySt.getOrElse(r.idx, Nil).filter(s => s.layer == layer && s.name == name)
      def meanSpan(rs: Iterable[Rec], layer: String, name: String): Double =
        if (rs.isEmpty) 0.0
        else rs.map(r => spansOf(r, layer, name).map(_.dur).sum).sum / 1e6 / rs.size
      val queries = tr.filter(_.st.kind == Kind.Query)
      val dml = tr.filter(r => r.st.kind == Kind.Dml || r.st.kind == Kind.ApiWrite)
      val sqlCalls = tr.filter(r => r.st.kind == Kind.Query || r.st.kind == Kind.Dml)
      val execMs = tr.map(r => bySt.getOrElse(r.idx, Nil)
        .filter(_.layer == "exec").map(s => (s.start, s.end))).map(iv =>
          Trace.covered(iv.toSeq, Long.MinValue, Long.MaxValue)).sum / 1e6
      val driverSelf = dml.filter(_.st.kind == Kind.Dml).map { r =>
        val sp = spansOf(r, "lakesql", "LakeSql.sql")
        sp.map(s => s.dur - Trace.covered(bySt(r.idx).filter(_.parent == s.id)
          .map(k => (k.start, k.end)).toSeq, s.start, s.end)).sum / 1e6
      }
      val tracedMean = tr.map(r => ms(r.ns)).sum / n
      // Tracing overhead: summed per-family medians of the traced against
      // the untraced statements of the same blocks.
      def familyMedians(rs: Iterable[Rec]): Map[String, Double] =
        rs.groupBy(_.st.family).map { case (f, x) =>
          f -> median(x.map(r => ms(r.ns)).toSeq) }
      val (medTr, medUn) = (familyMedians(tr), familyMedians(timed))
      val fams = (medTr.keySet intersect medUn.keySet).toSeq
      val overheadPct = if (fams.isEmpty) 0.0
        else (fams.map(medTr).sum / fams.map(medUn).sum - 1) * 100
      // (files read, files live then) of each current-version lake read
      val lakeReads = first.flatMap(r => liveAtRead.get(r.idx)
        .map(live => (filesRead.getOrElse(r.idx, 0L), live))).filter(_._2 > 0)
      val opRecs = tr.filter(r => r.st.kind == Kind.ApiRead &&
        w.apiLayer == "operators")
      val outRows = opRecs.filter(_.idx < firstPassEnd).map(r =>
        rowCount.getOrElse(r.idx, 0L)).sum
      val maint = first.filter(_.st.family == "optimize")
      val m = mutable.LinkedHashMap[String, Double](
        "trace.stmt_ms" -> tracedMean,
        "trace.overhead_pct" -> overheadPct)
      layers.foreach(l => m(s"self.${l}_ms") = meanSelf(l))
      m ++= Seq(
        "lakesql.sql_ms" -> meanSpan(sqlCalls, "lakesql", "LakeSql.sql"),
        "lakesql.rewrite_parse_ms" -> (if (queries.isEmpty) 0.0 else
          meanSpan(queries, "lakesql", "LakeSql.sql") -
            meanSpan(queries, "catalyst", "analyze")),
        "lakesql.driver_self_ms" ->
          (if (driverSelf.isEmpty) 0.0 else driverSelf.sum / driverSelf.size),
        "catalyst.analyze_ms" -> meanSpan(queries, "catalyst", "analyze"),
        "catalyst.optimize_ms" -> meanSpan(queries, "catalyst", "optimize"),
        "catalyst.physical_ms" -> meanSpan(queries, "catalyst", "physical"),
        "exec.run_ms" -> execMs / n,
        "exec.jobs" -> wFirst.jobs.toDouble,
        "exec.stages" -> wFirst.stages.toDouble,
        "exec.tasks" -> wFirst.tasks.toDouble,
        "exec.task_busy_ms" -> wAll.busyMs / n,
        "exec.task_cpu_ms" -> wAll.cpuNs / 1e6 / n,
        "exec.task_wait_ms" -> wAll.waitMs / n,
        "exec.core_util" -> (if (execMs > 0) wAll.busyMs / (execMs * cpus) else 0.0),
        "exec.shuffle_write_bytes" -> wFirst.shuffleWrite.toDouble,
        "exec.shuffle_read_bytes" -> wFirst.shuffleRead.toDouble,
        "exec.shuffle_fetch_wait_ms" -> wAll.fetchWaitMs / n,
        "exec.input_bytes" -> wFirst.inputBytes.toDouble,
        "exec.spill_bytes" -> wFirst.spillBytes.toDouble,
        "exec.gc_ms" -> wAll.gcMs / n,
        "exec.files_read" -> first.map(r => filesRead.getOrElse(r.idx, 0L)).sum.toDouble,
        "sources.meta_read_bytes" -> (if (lakeTables.isEmpty) 0.0 else
          first.map(r => metaBytes.getOrElse(r.idx, 0L)).sum.toDouble),
        "sources.snapshot_ms" -> snapshotMs.getOrElse(0.0),
        "sources.log_versions" -> counters.getOrElse("log_versions", 0L).toDouble,
        "sources.files_live" -> counters.getOrElse("files_live", 0L).toDouble,
        "sources.files_kept_ratio" -> (if (lakeReads.isEmpty) 0.0 else
          lakeReads.map { case (rd, live) => rd.toDouble / live }.sum /
            lakeReads.size),
        "sources.commit_files" -> first.map(r => dirDiff.get(r.idx).fold(0L)(_._1)).sum.toDouble,
        "sources.data_bytes_written" -> first.map(r => dirDiff.get(r.idx).fold(0L)(_._2)).sum.toDouble,
        "sources.jobs_per_dml" -> (if (dml.isEmpty) 0.0 else
          dml.map(r => listener.workOf(Trace.group(r.idx)).jobs).sum.toDouble / dml.size),
        "sources.maintenance_ms" -> (if (maint.isEmpty) 0.0 else
          maint.map(r => ms(r.ns)).sum / maint.size),
        "sources.maintenance_bytes_rewritten" ->
          maint.map(r => dirDiff.get(r.idx).fold(0L)(_._2)).sum.toDouble,
        "operators.call_ms" -> (if (opRecs.isEmpty) 0.0 else
          opRecs.map(r => ms(operatorNs.getOrElse(r.idx, 0L))).sum / opRecs.size),
        "operators.output_rows" -> outRows.toDouble,
        "operators.shuffle_records_per_output_row" -> (if (outRows == 0) 0.0 else
          work(opRecs.filter(_.idx < firstPassEnd)).shuffleRecords.toDouble / outRows))
      Json.Raw(Json.obj(m.toSeq.map { case (k, v) => k -> v }: _*))
    }

    // ---- spans of the traced statements
    if (traced) {
      val sb = new StringBuilder
      val t0 = trace.spans.map(_.start).minOption.getOrElse(0L)
      trace.spans.sortBy(s => (s.stmt, s.start)).foreach { s =>
        sb ++= Json.obj("stmt" -> s.stmt, "id" -> s.id, "parent" -> s.parent,
          "layer" -> s.layer, "name" -> s.name,
          "start_ms" -> ms(s.start - t0), "end_ms" -> ms(s.end - t0)) += '\n'
      }
      listener.jobs.foreach { case (g, j, s, e) =>
        sb ++= Json.obj("job" -> j, "group" -> g,
          "start_ms" -> ms(s * 1000000L + trace.nanoOffset - t0),
          "end_ms" -> ms(e * 1000000L + trace.nanoOffset - t0)) += '\n'
      }
      Files.write(Paths.get(work, "trace.jsonl"), sb.toString.getBytes(UTF_8))
    }

    val recJson = recs.map(r => Json.obj("idx" -> r.idx, "pass" -> r.pass,
      "phase" -> r.phase, "family" -> r.st.family, "kind" -> r.st.kind,
      "text" -> r.text, "ms" -> ms(r.ns), "ok" -> r.ok, "err" -> r.err,
      "duck" -> r.st.duck, "compare" -> r.st.compare,
      "count_rows" -> r.st.countRows, "delta_write" -> r.st.deltaWrite,
      "travel" -> r.st.travel.getOrElse(Int.MinValue)))
    val out = Json.obj(
      "workload" -> w.name, "seed" -> seed, "cores" -> cpus, "sf" -> w.sf,
      "data_dir" -> data, "tables" -> w.tables, "duck_setup" -> w.duckSetup,
      "setup_s" -> setups,
      "phase_end_s" -> Json.Raw(Json.obj(marks.toSeq: _*)),
      "timed_s" -> timedNs / 1e9, "timed_cpu_ms" -> timedCpu / 1e6,
      "timed_write_bytes" -> timedWriteBytes,
      "tail_pct" -> w.tailPct, "heap_retained_mb" -> heapMb,
      "host" -> Json.Raw(Json.obj(
        "sentinel_cpu_s_before" -> hostBefore._1._1,
        "sentinel_io_s_before" -> hostBefore._1._2,
        "loadavg_before" -> hostBefore._2,
        "sentinel_cpu_s_after" -> hostAfter._1._1,
        "sentinel_io_s_after" -> hostAfter._1._2,
        "loadavg_after" -> hostAfter._2)),
      "lake" -> finals.map { case (t, f, onDisk, plain) =>
        Seq(t, f, onDisk, plain) },
      "per_layer" -> layerJson,
      "statements" -> Json.Raw(recJson.mkString("[", ",\n", "]")))
    Files.write(Paths.get(work, "run.json"), out.getBytes(UTF_8))
    spark.stop()
    0
  }
}
