package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.{GraftSession, LakeSql}
import graft.sources.DeltaLite

class GenSpec extends AnyFunSuite {

  private def passes(w: Workload, seed: Long, n: Int): Seq[Stmt] = {
    var start = 0
    (0 until n).flatMap { p =>
      val s = w.pass(seed, p, start); start += s.size; s
    }
  }

  test("the same seed gives identical statement text") {
    Gen.all.foreach { w =>
      val a = passes(w, 7, 3).map(s => (s.family, s.text, s.duck))
      val b = passes(w, 7, 3).map(s => (s.family, s.text, s.duck))
      assert(a == b, w.name)
    }
  }

  test("a different seed changes the parameters, not the statement mix") {
    Gen.all.foreach { w =>
      val a = passes(w, 7, 2); val b = passes(w, 8, 2)
      assert(a.map(_.text) != b.map(_.text), w.name)
      assert(a.map(_.family).sorted == b.map(_.family).sorted, w.name)
    }
  }

  test("every generated statement runs through LakeSql.sql at sf0.001") {
    val spark = GraftSession.builder("local[2]", 2).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val root = graft.util.Scratch.dir("perfbench-gen")
    try Seq(Interactive(0.001), LakeDml(0.001), LlmDedup(0.001)).foreach { w =>
      val data = Data.cached("data.py", s"$root/${w.name}", w.sf, 2)
      val ctx = Ctx(spark, data, s"$root/${w.name}/lake")
      w.setup(ctx)
      val delta = w.lakeTables(ctx.lake).toMap.get("d_orders")
      var versions = Map(-1 -> 0L)
      passes(w, 11, 2).zipWithIndex.foreach { case (st, i) =>
        val text = st.travel.fold(st.text)(t =>
          st.text.replace("{V}", versions(t).toString))
        withClue(s"${w.name} ${st.family}: $text") {
          st.kind match {
            case Kind.Query | Kind.Dml => LakeSql.sql(spark, text).collect()
            case _ => st.api.get(ctx).collect()
          }
        }
        if (st.deltaWrite)
          versions += i -> DeltaLite.latestVersion(spark, delta.get)
      }
    } finally spark.stop()
  }
}
