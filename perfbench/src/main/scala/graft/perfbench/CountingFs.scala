package graft.perfbench

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path, PathFilter, RemoteIterator, LocatedFileStatus}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Counting `file://` filesystem for traced sessions, bound through
  * `spark.hadoop.fs.file.impl`. `LocalFileSystem` is the default
  * `file` implementation (a `FilterFileSystem` over the raw local fs),
  * so extending it keeps checksums and every other behaviour identical
  * while each driver- or task-side call is counted by op kind.
  *
  * Attribution: the module is the `Trace.ModuleKey` local property of
  * the calling task (`TaskContext`) or, on a driver thread, of the
  * calling thread. Ops on a path inside a `_graft_log` directory are
  * also counted as `CommitLog.*`. */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  private def meta(p: Path): Unit = Trace.fsOp(p.toUri.getPath, Meta)

  override def getFileStatus(f: Path): FileStatus = {
    meta(f); super.getFileStatus(f)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    Trace.fsOp(f.toUri.getPath, List); super.listStatus(f)
  }

  override def listStatus(f: Path, filter: PathFilter): Array[FileStatus] = {
    Trace.fsOp(f.toUri.getPath, List); super.listStatus(f, filter)
  }

  override def listLocatedStatus(f: Path)
  : RemoteIterator[LocatedFileStatus] = {
    Trace.fsOp(f.toUri.getPath, List); super.listLocatedStatus(f)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    meta(f); super.mkdirs(f, permission)
  }

  // ChecksumFileSystem routes the one-argument form straight to the raw
  // filesystem, so it needs its own count
  override def mkdirs(f: Path): Boolean = {
    meta(f); super.mkdirs(f)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    Trace.fsOp(dst.toUri.getPath, Rename); super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    meta(f); super.delete(f, recursive)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    Trace.fsOp(f.toUri.getPath, Open); super.open(f, bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    val path = f.toUri.getPath
    Trace.fsOp(path, Create)
    val module = Trace.currentModule()
    val out = super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress)
    // count bytes as they are written; the wrapper starts at position 0,
    // which is where every newly created file starts as well
    new FSDataOutputStream(out, null) {
      override def write(b: Int): Unit = {
        super.write(b); Trace.bytesWritten(module, 1L)
      }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        super.write(b, off, len); Trace.bytesWritten(module, len.toLong)
      }
    }
  }
}

object CountingFs {
  sealed trait Kind
  case object Meta extends Kind
  case object List extends Kind
  case object Rename extends Kind
  case object Open extends Kind
  case object Create extends Kind
}
