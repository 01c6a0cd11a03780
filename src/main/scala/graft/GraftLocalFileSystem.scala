package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` file system of a graft session (`fs.file.impl`, set in
  * [[GraftSession.builder]]): Hadoop's checksummed local file system over
  * a raw one that sets and reads permissions through `java.nio.file`.
  * Without Hadoop's native library, the stock raw file system runs
  * `chmod` in a child process for every file and directory it creates,
  * and `ls -ld` for every permission it reads (a listing that builds
  * `LocatedFileStatus`es reads one per file), so each table write forked
  * several processes from the engine JVM.
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftLocalFileSystem.Raw)

object GraftLocalFileSystem {
  // PosixFilePermission's declaration order is the rwxrwxrwx bit order
  private val Perms = PosixFilePermission.values.toSeq

  class Raw extends RawLocalFileSystem {
    /** The nine rwx bits through nio; sticky and set-id bits, which nio
      * cannot set, keep Hadoop's own path.
      */
    override def setPermission(p: Path, perm: FsPermission): Unit =
      if ((perm.toShort & ~0x1ff) != 0) super.setPermission(p, perm)
      else {
        val bits = perm.toShort.toInt
        Files.setPosixFilePermissions(pathToFile(p).toPath,
          Perms.zipWithIndex.collect { case (x, i) if (bits & (1 << (8 - i))) != 0 => x }
            .toSet.asJava)
      }

    override def getFileStatus(p: Path): FileStatus = withPermission(super.getFileStatus(p))

    override def listStatus(p: Path): Array[FileStatus] =
      super.listStatus(p).flatMap { s =>
        try Some(withPermission(s)) catch { case _: FileNotFoundException => None }
      }

    /** `s` with its permission, owner and group read eagerly through nio,
      * in place of the status whose getters run `ls -ld`.
      */
    private def withPermission(s: FileStatus): FileStatus = {
      val a =
        try Files.readAttributes(pathToFile(s.getPath).toPath, classOf[PosixFileAttributes])
        catch { case _: NoSuchFileException => throw new FileNotFoundException(s.getPath.toString) }
      val bits = a.permissions.asScala.map(x => 1 << (8 - Perms.indexOf(x))).sum
      new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
        s.getModificationTime, s.getAccessTime, new FsPermission(bits.toShort),
        a.owner.getName, a.group.getName, s.getPath)
    }
  }
}
