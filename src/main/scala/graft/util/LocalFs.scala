package graft.util

import java.io.File
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission}

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem of a graft session ([[graft.GraftSession]]):
  * Hadoop's checksummed `LocalFileSystem` over a raw local file system
  * that sets and reads POSIX permissions through `java.nio` instead of
  * a shell. Without the native libhadoop, the stock raw file system
  * forks `chmod` for every file and directory it creates and `ls -ld`
  * for every status whose permission, owner or group is read (each
  * `listFiles` entry). Which files exist, their contents and their mode
  * bits are unchanged: `setPermission` gets the mode Hadoop has already
  * masked with the configured umask, as the stock one does.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        posix(permission.toShort))

    override def getFileStatus(f: Path): FileStatus =
      lazyStatus(super.getFileStatus(f))

    override def listStatus(f: Path): Array[FileStatus] =
      super.listStatus(f).map(lazyStatus)

    private def lazyStatus(st: FileStatus): FileStatus = st match {
      case s: Status => s
      case s => new Status(s, pathToFile(s.getPath))
    }
  }

  /** A status whose permission, owner and group are read through
    * `java.nio` on first use, as the stock status reads them through
    * `ls -ld` on first use: listing and existence checks stat nothing
    * more. */
  final class Status(st: FileStatus, file: File) extends FileStatus(
      st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
      st.getModificationTime, st.getAccessTime, null, null, null,
      st.getPath) {
    @volatile private var loaded = false

    private def load(): Unit = synchronized {
      if (!loaded) {
        val a = Files.readAttributes(file.toPath, classOf[PosixFileAttributes])
        setPermission(new FsPermission(mode(a.permissions).toShort))
        setOwner(a.owner.getName)
        setGroup(a.group.getName)
        loaded = true
      }
    }

    override def getPermission: FsPermission = {
      if (!loaded) load()
      super.getPermission
    }
    override def getOwner: String = { if (!loaded) load(); super.getOwner }
    override def getGroup: String = { if (!loaded) load(); super.getGroup }
  }

  // PosixFilePermission's declaration order is rwx for owner, group,
  // others: ordinal i is mode bit 8 - i.
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((mode & (0x100 >> p.ordinal)) != 0) set.add(p)
    }
    set
  }

  private def mode(set: java.util.Set[PosixFilePermission]): Int =
    PosixFilePermission.values.foldLeft(0) { (m, p) =>
      if (set.contains(p)) m | (0x100 >> p.ordinal) else m
    }
}
