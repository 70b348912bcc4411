package graft

import org.apache.spark.sql.SparkSession

/** Perf harness. Emits ONE JSON line the driver stores as BENCH_r{N}.json.
  *
  * Methodology (fixes the round-1 harness flaws): a warmup pass first
  * (JVM/JIT/codegen costs land there, not on whichever query runs
  * first); queries run in sorted name order (stable across rounds, so
  * per-query numbers diff cleanly); timing materializes every row
  * through a `noop`-format write — unlike `.count()`, that executes the
  * full plan including sorts and projections, with zero sink cost.
  *
  * Streaming queries (st*) are excluded from the headline: they spin up
  * a memory-sink streaming runtime per call, which measures checkpoint
  * latency, not operator throughput. a01 (brute-force baseline) stays
  * in, clearly labeled by its name.
  */
object Bench {
  /** Noise sentinel: a fixed CPU-bound calibration task (no IO, no
    * data dependence — sum of 400M hashed longs) whose cost on an idle
    * host is a known constant (BASELINE.md records it). A contended
    * host inflates the sentinel the same way it inflates every query,
    * so a bad measurement run is self-evident FROM the artifact — no
    * cross-referencing untouched queries needed. Shared with KeyRun so
    * one-off re-measurements carry the same adjudication signal.
    */
  def sentinelOnce(spark: SparkSession, cpus: Int): Double = {
    val t0 = System.nanoTime()
    // pmod keeps the running sum far from long overflow (ANSI mode
    // makes a raw sum of 64-bit hashes throw); cost stays hash-bound.
    spark.range(0L, 400000000L, 1L, cpus)
      .select(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.xxhash64(
            org.apache.spark.sql.functions.col("id")),
          org.apache.spark.sql.functions.lit(1000L))))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** IO/memory-bandwidth sentinel: a full parquet scan-agg over the
    * run's own lineitem table. Round 8 found the CPU sentinel blind to
    * a host whose scan-bound shapes ran 1.5–1.8× slower while pure
    * hashing was unchanged (slower disk / memory bandwidth, not CPU
    * contention) — so the artifact carries BOTH probes: CPU sentinel
    * flat + IO sentinel inflated means scan-heavy queries are inflated
    * by the host, not by a plan regression.
    */
  def sentinelIoOnce(spark: SparkSession, sfDir: String): Double = {
    val t0 = System.nanoTime()
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("l_extendedprice")))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession
      .builder(s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("st"))
    // Fail fast, BEFORE any query executes: the compact headline line
    // keys on name prefixes, so a future collision must abort here, not
    // after the full warmup + 3 measured passes have run.
    require(names.map(_.takeWhile(_ != '_')).distinct.size == names.size,
      "query-name prefixes must stay unique — the compact bench line keys on them")

    // A key that throws reads -1 and drops out of the total, so every
    // such key is listed (first throw wins) in the artifact, on the
    // headline line and on stderr: a failing key must never read as a
    // faster run.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        failed.getOrElseUpdate(name, (e.getClass.getName + ": " +
          Option(e.getMessage).getOrElse("")).linesIterator.next().take(200))
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    def sentinelOnce(): Double = Bench.sentinelOnce(spark, cpus.toInt)
    def sentinelIo(): Double =
      (1 to 3).map(_ => sentinelIoOnce(spark, sfDir)).min
    sentinelOnce() // warmup
    val sentinel = (1 to 3).map(_ => sentinelOnce()).min
    sentinelIoOnce(spark, sfDir) // warmup (footer cache, codegen)
    val sentinelIoStart = sentinelIo()

    // Warmup: every query once — codegen compilation, parquet footer
    // reads and JIT all land here.
    names.foreach(runOnce)

    // Min of 3 measured runs per query: this host shows ±15% run-to-run
    // noise on sub-second queries, and the minimum is the standard
    // noise-robust estimate of a query's true cost (interference only
    // ever adds time). A two-probe start/end sentinel bracket provably
    // misses mid-run contention spikes (round 7: unchanged shapes
    // inflated 1.5–1.9× while both bracket probes read clean), so the
    // calibration probe is INTERLEAVED every ~20 queries — the artifact
    // itself shows when during the run the host was contended.
    val midSentinels = scala.collection.mutable.Buffer.empty[Double]
    val results0 = names.zipWithIndex.map { case (n, i) =>
      if (i % 20 == 0) midSentinels += sentinelOnce()
      val ts = (1 to 3).map(_ => runOnce(n))
      n -> (if (ts.forall(_ >= 0)) ts.min else -1.0)
    }
    // Second probe AFTER the query loop: contention that arrives
    // mid-run (invisible to the opening probe) shows up as a
    // start/end sentinel gap — bracketing, not a single sample.
    val sentinelEnd = (1 to 3).map(_ => sentinelOnce()).min
    val sentinelIoEnd = sentinelIo()

    // IO-bracket adjudication (round-8 verdict): a disagreeing IO
    // sentinel bracket is CONTENTION, exactly as a hot CPU probe is —
    // round 8's committed record carried sentinel_io 0.212 vs a closing
    // 0.091 and still labeled itself clean. The artifact now carries the
    // verdict itself: contended when the two IO probes disagree >1.5×,
    // or when either sits above the quiet band BASELINE.md records
    // (0.12–0.16 s on this host; bound configurable).
    val ioQuiet = sys.env.getOrElse("SPARK_GRAFT_IO_QUIET", "0.20").toDouble
    val ioHi = math.max(sentinelIoStart, sentinelIoEnd)
    val ioLo = math.min(sentinelIoStart, sentinelIoEnd)
    val ioContended = (ioLo > 0 && ioHi / ioLo > 1.5) || ioHi > ioQuiet

    // Self-adjudication: any query over the perf bar re-runs in
    // isolation at the end of the whole sweep (RepeatCheck proves every
    // non-streaming query repeat-deterministic, so a re-run is safe).
    // A genuine slow shape stays slow; a mid-run contention victim
    // clears. Both numbers land in the artifact, and the final
    // per-query value is the min across all observations.
    val barSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BAR", "2.0").toDouble
    val retimed = results0.collect { case (n, v) if v > barSec =>
      n -> (1 to 3).map(_ => runOnce(n)).filter(_ >= 0) }
      .collect { case (n, ts) if ts.nonEmpty => n -> ts.min }.toMap
    val results = results0.map { case (n, v) =>
      n -> retimed.get(n).fold(v)(math.min(v, _))
    }

    val total = results.map(_._2).filter(_ >= 0).sum
    def jsonStr(v: String): String = "\"" + v.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val failedJson = failed.map { case (k, msg) =>
      s"""{"key":${jsonStr(k)},"error":${jsonStr(msg)}}"""
    }.mkString("[", ",", "]")
    failed.foreach { case (k, msg) => System.err.println(s"BENCH_FAILED $k: $msg") }

    // Full-resolution, full-name timings: an earlier stdout line plus a
    // committed file. The driver stores only the LAST ~2000 chars of
    // output, so the FINAL line below must stay small — with 100+
    // queries a full-name, full-precision map is ~5 KB and the driver
    // recorded `parsed: null` for rounds 3 and 4. Detail goes here;
    // the headline line stays parseable.
    val fullQs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fullRetimed = retimed.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val midLine = midSentinels.map(v => "%.3f".formatLocal(
      java.util.Locale.ROOT, v)).mkString("[", ",", "]")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","sentinel":$sentinel,"sentinel_end":$sentinelEnd,"sentinel_io":$sentinelIoStart,"sentinel_io_end":$sentinelIoEnd,"io_contended":$ioContended,"sentinels_mid":$midLine,"retimed":$fullRetimed,"failed":$failedJson,"queries":$fullQs,"sf":"$sfDir"}"""
    println(s"BENCH_FULL $fullLine")
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "docs/BENCH_FULL.json"))
      if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out,
        (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { // bench never fails on bookkeeping, but say what happened
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"BENCH_FULL write failed: $e")
    }

    // Headline line: query keys abbreviated to their unique prefix
    // ("q01_pricing_summary" → "q01" — BASELINE.md documents the
    // scheme), seconds at millisecond resolution. ~1.5 KB at the
    // current surface, inside the driver's tail window with margin.
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + f3(v)
    }.mkString("{", ",", "}")
    val rts = retimed.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + f3(v)
    }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","sentinel":${f3(sentinel)},"sentinel_end":${f3(sentinelEnd)},"sentinel_io":${f3(sentinelIoStart)},"sentinel_io_end":${f3(sentinelIoEnd)},"io_contended":$ioContended,"sentinels_mid":$midLine,"retimed":$rts,"failed":$failedJson,"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
