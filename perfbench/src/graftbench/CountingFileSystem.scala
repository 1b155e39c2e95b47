package graftbench

import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{CreateFlag, FileStatus, FileSystem, FSDataInputStream,
  FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** `file://` filesystem that counts the metadata calls the program
  * makes. Registered through `spark.hadoop.fs.file.impl` in traced runs
  * only; behaviour is the stock `LocalFileSystem`'s.
  */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem.bump

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    bump("creates")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: EnumSet[CreateFlag], bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    bump("creates")
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    bump("renames"); super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    bump("deletes"); super.delete(f, recursive)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    bump("mkdirs"); super.mkdirs(f, permission)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    bump("lists"); super.listStatus(f)
  }

  override def getFileStatus(f: Path): FileStatus = {
    bump("status"); super.getFileStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    bump("opens"); super.open(f, bufferSize)
  }
}

object CountingFileSystem {
  val names: Seq[String] =
    Seq("creates", "renames", "deletes", "mkdirs", "lists", "status", "opens")
  private val counts: Map[String, AtomicLong] =
    names.map(_ -> new AtomicLong()).toMap

  private def bump(name: String): Unit = counts(name).incrementAndGet()

  /** Call counts plus the `file` scheme's byte statistics. */
  def snapshot(): Map[String, Long] = {
    val st = FileSystem.getGlobalStorageStatistics.get("file")
    def stat(k: String): Long =
      Option(st).flatMap(s => Option(s.getLong(k))).map(_.longValue).getOrElse(0L)
    counts.map { case (k, v) => k -> v.get } ++
      Map("bytes_read" -> stat("bytesRead"), "bytes_written" -> stat("bytesWritten"))
  }
}
