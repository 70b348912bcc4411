package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.util.Scratch

/** The copy-on-write hit probe of [[LakeFormat.rewriteWhere]]: which
  * files hold a row matching a DML condition, read off the scan's own
  * file-name metadata in one Spark job. */
class HitProbeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def freshTable(): String = s"${Scratch.dir("hitprobe")}/t"

  private lazy val customer = Tables.customer(spark, sfDir)

  private val formats: Seq[LakeFormat] = Seq(DeltaLite, IcebergLite)

  /** A four-file table of customers, one key range per file. */
  private def fourFiles(f: LakeFormat): String = {
    val t = freshTable()
    f.create(spark, t, customer.repartitionByRange(4, col("c_custkey")))
    assert(f.live(spark, t).files.size == 4)
    t
  }

  /** The probe `rewriteWhere` runs for `cond`. */
  private def probe(f: LakeFormat, t: String, cond: Column): DataFrame = {
    val l = f.live(spark, t)
    l.read(l.prune(cond), Some("_gf")).filter(cond)
  }

  /** `_gf` of every row against the names the metadata gives its files. */
  private def namesAgree(f: LakeFormat, t: String): Unit = {
    val l = f.live(spark, t)
    val read = l.read(l.files, Some("_gf"))
    val names = read.select("_gf").distinct().collect().map(_.getString(0))
    assert(names.nonEmpty)
    assert(names.toSet.subsetOf(l.files.map(LakeFormat.fileName).toSet),
      s"${names.mkString(", ")} vs ${l.files.mkString(", ")}")
    assert(read.count() == f.snapshot(spark, t).count())
  }

  test("an UPDATE hitting one file of four runs two jobs: the probe and " +
      "the rewrite") {
    formats.foreach { f =>
      val t = fourFiles(f)
      val jobs = jobsOf(f.updateWhere(spark, t, col("c_custkey") === 7L,
        Map("c_acctbal" -> lit(0.0))))
      assert(jobs == 2, s"${f.provider}: $jobs jobs")
      assert(f.snapshot(spark, t).filter(col("c_custkey") === 7L)
        .select("c_acctbal").head().getDouble(0) == 0.0)
    }
  }

  test("the probe's DML condition reaches the parquet scan") {
    formats.foreach { f =>
      val t = fourFiles(f)
      val scans = collect(probe(f, t, col("c_nationkey") === 3L)
        .queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty)
      scans.foreach(s => assert(
        s.dataFilters.exists(_.references.exists(_.name == "c_nationkey")),
        s"${f.provider}: ${s.dataFilters}"))
    }
  }

  test("_gf is the file name the metadata gives: partitioned Delta, a " +
      "Delta file with a deletion vector, an Iceberg file with position " +
      "deletes") {
    val part = freshTable()
    DeltaLite.create(spark, part, customer,
      partitionColumns = Seq("c_mktsegment"))
    assert(DeltaLite.live(spark, part).files.forall(_.contains("=")))
    namesAgree(DeltaLite, part)

    val dv = fourFiles(DeltaLite)
    DeltaLite.deleteWhereDV(spark, dv, col("c_custkey") === 5L)
    assert(new java.io.File(dv, "_dv").list().nonEmpty)
    namesAgree(DeltaLite, dv)

    val ice = fourFiles(IcebergLite)
    IcebergLite.deleteWhere(spark, ice, col("c_custkey") === 5L)
    assert(new java.io.File(ice, "data").list().exists(_.startsWith("delete-")))
    namesAgree(IcebergLite, ice)
    assert(IcebergLite.snapshot(spark, ice)
      .filter(col("c_custkey") === 5L).count() == 0)
  }
}
