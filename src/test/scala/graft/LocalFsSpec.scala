package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermissions}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.sources.{DeltaLite, IcebergLite}
import graft.util.{LocalFs, Scratch}

class LocalFsSpec extends SparkSpec {

  /** The `file:` FileSystem every caller in this JVM gets (Hadoop caches
    * one per scheme and user, whatever the configuration). */
  private def localFs: FileSystem = FileSystem.get(new URI("file:///"),
    spark.sparkContext.hadoopConfiguration)

  private def nioMode(p: Path): String =
    PosixFilePermissions.toString(
      Files.getPosixFilePermissions(Paths.get(p.toUri.getPath)))

  test("the session's cached file: FileSystem is LocalFs") {
    // a suite that obtained a file: FileSystem before the session
    // started would leave the stock one in the cache
    assert(localFs.getClass == classOf[LocalFs], localFs.getClass.getName)
  }

  test("a file and its nested directories get Hadoop's default modes " +
      "under the configured umask") {
    val umask = FsPermission.getUMask(spark.sparkContext.hadoopConfiguration)
    val root = new Path(Scratch.dir("localfs"))
    val file = new Path(root, "a/b/f.bin")
    val out = localFs.create(file)
    try out.write(1) finally out.close()
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toString
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toString
    assert(nioMode(file) == fileMode)
    assert(nioMode(new Path(root, "a/b/.f.bin.crc")) == fileMode)
    assert(nioMode(new Path(root, "a")) == dirMode)
    assert(nioMode(new Path(root, "a/b")) == dirMode)
  }

  test("listFiles statuses report the java.nio owner, group and permission") {
    val root = new Path(Scratch.dir("localfs"))
    Seq("x.bin", "d/y.bin").foreach { n =>
      val out = localFs.create(new Path(root, n))
      try out.write(1) finally out.close()
    }
    Files.setPosixFilePermissions(Paths.get(root.toString, "d/y.bin"),
      PosixFilePermissions.fromString("rw-------"))
    val it = localFs.listFiles(root, true)
    var seen = 0
    while (it.hasNext) {
      val st = it.next()
      val a = Files.readAttributes(Paths.get(st.getPath.toUri.getPath),
        classOf[PosixFileAttributes])
      assert(st.getOwner == a.owner.getName, st.getPath)
      assert(st.getGroup == a.group.getName, st.getPath)
      assert(st.getPermission.toString ==
        PosixFilePermissions.toString(a.permissions), st.getPath)
      seen += 1
    }
    assert(seen == 2)
  }

  test("lake writes, DML and VACUUM start no process") {
    assert(localFs.getClass == classOf[LocalFs], localFs.getClass.getName)
    val c = Tables.customer(spark, sfDir)
    val d = s"${Scratch.dir("localfs")}/d"
    val i = s"${Scratch.dir("localfs")}/i"
    DeltaLite.create(spark, d, c.filter(col("c_custkey") <= 100))
    IcebergLite.create(spark, i, c.repartitionByRange(2, col("c_custkey")))
    val r = new Recording()
    r.enable("jdk.ProcessStart")
    r.start()
    val started = try {
      DeltaLite.append(spark, d, c.filter(col("c_custkey") > 100))
      DeltaLite.updateWhere(spark, d, col("c_custkey") === 7L,
        Map("c_acctbal" -> lit(0.0)))
      IcebergLite.deleteWhere(spark, i, col("c_custkey") === 5L)
      DeltaLite.vacuum(spark, d)
      r.stop()
      val dump = Files.createTempFile("graft-localfs", ".jfr")
      try {
        r.dump(dump)
        RecordingFile.readAllEvents(dump).asScala.toSeq
          .map(_.getString("command"))
      } finally Files.deleteIfExists(dump)
    } finally r.close()
    assert(started.isEmpty, s"${started.size} processes started")
  }
}
