package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

/** Sizes of the input and the call that writes it. The tables are written
  * by `data.py` (DuckDB), in the layout `graft.Sql.open` reads, with the
  * column names and types of graft's TPC-H-shaped test data. The input is
  * the same for every run: `--seed` picks statement parameters and order,
  * not the data. */
object Data {

  /** Row counts at scale factor `sf`, in the ratios of graft's test data
    * (TPC-H's for the TPC-H tables; lineitem has 1–7 lines per order). */
  final case class Sizes(sf: Double) {
    val customer: Long = math.max(50L, (150000 * sf).toLong)
    val supplier: Long = math.max(10L, (10000 * sf).toLong)
    val part: Long = math.max(50L, (200000 * sf).toLong)
    val orders: Long = math.max(100L, (1500000 * sf).toLong)
    val events: Long = math.max(100L, (1000000 * sf).toLong)
    val documents: Long = math.max(50L, (50000 * sf).toLong)
    val embeddings: Long = math.max(50L, (20000 * sf).toLong)
  }

  /** The data seed, fixed so that every run reads the same input. */
  val Seed = 42L
  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
    "MACHINERY")

  /** Write every table at `sf` into `dir` with the generator script
    * `script`; fact tables are split into `files` files. */
  def generate(script: String, dir: String, sf: Double, files: Int): Unit = {
    val z = Sizes(sf)
    val rows = Seq("customer" -> z.customer, "supplier" -> z.supplier,
      "part" -> z.part, "orders" -> z.orders, "events" -> z.events,
      "documents" -> z.documents, "embeddings" -> z.embeddings)
      .map { case (t, n) => s"$t=$n" }.mkString(",")
    val rc = sys.process.Process(Seq("python3", script, "--dir", dir,
      "--seed", Seed.toString, "--rows", rows, "--tables",
      Tables.mkString(","), "--files", files.toString)).!
    require(rc == 0, s"input generation failed (exit $rc)")
  }

  /** The input at `sf` under `cache`, generated on first use. A run that
    * finds it complete reuses it; generation writes beside it and renames,
    * so a cut-off generation is never taken for a complete one. */
  def cached(script: String, cache: String, sf: Double, files: Int): String = {
    val dir = new File(cache, s"sf$sf")
    if (!new File(dir, "READY").exists) {
      val tmp = new File(cache, s"sf$sf.tmp-${ProcessHandle.current.pid}")
      generate(script, tmp.getPath, sf, files)
      Files.createFile(new File(tmp, "READY").toPath)
      Files.move(tmp.toPath, dir.toPath, StandardCopyOption.ATOMIC_MOVE)
    }
    dir.getAbsolutePath
  }
}
