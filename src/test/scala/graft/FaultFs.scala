package graft

import java.io.IOException
import java.net.URI

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The checksummed local filesystem under the `fault:` scheme, able to
  * fail its driver-side `rename`/`delete`/`create`/`mkdirs` calls: the
  * crash model of [[CommitFaultSpec]] and the DML kill matrix. Calls on
  * executor task threads are never counted or failed (a failed task is
  * Spark's retry, not a crash); every other thread is the driver.
  *
  * [[FaultFs.arm]]`(k)` fails the k-th counted call and every call
  * after it, so no `catch` or `finally` can repair anything: the
  * process is dead from that call on. `lone = true` fails only the
  * k-th call, the real IO error a live process must notice.
  */
class FaultFs extends LocalFileSystem(new FaultFs.Raw) {
  override def getScheme: String = "fault"

  override def rename(src: Path, dst: Path): Boolean =
    if (FaultFs.fails("rename", src)) {
      if (FaultFs.renameReturnsFalse) false
      else throw new IOException(s"injected fault: rename $src")
    } else super.rename(src, dst)

  override def delete(p: Path, recursive: Boolean): Boolean = {
    if (FaultFs.fails("delete", p)) throw new IOException(s"injected fault: delete $p")
    super.delete(p, recursive)
  }

  override def create(p: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    if (FaultFs.fails("create", p)) throw new IOException(s"injected fault: create $p")
    super.create(p, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def mkdirs(p: Path): Boolean = mkdirs(p, FsPermission.getDirDefault)

  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    if (FaultFs.fails("mkdirs", p)) throw new IOException(s"injected fault: mkdirs $p")
    super.mkdirs(p, permission)
  }
}

object FaultFs {
  final class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create("fault:///")
    override def getScheme: String = "fault"
    // the raw statuses load their permissions through a `file:` URI
    override def getFileStatus(p: Path): FileStatus = plain(super.getFileStatus(p))
    override def listStatus(p: Path): Array[FileStatus] = super.listStatus(p).map(plain)
    private def plain(st: FileStatus) = new FileStatus(st.getLen, st.isDirectory,
      st.getReplication, st.getBlockSize, st.getModificationTime, st.getAccessTime,
      if (st.isDirectory) FsPermission.getDirDefault else FsPermission.getFileDefault,
      "", "", st.getPath)
  }

  /** `fault:` form of a local path. */
  def path(local: String): String = "fault://" + local

  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set("fs.fault.impl", classOf[FaultFs].getName)

  private var failAt = Int.MaxValue
  private var lone = false
  @volatile private var renameReturnsFalse = false
  private var trigger: Option[((String, String)) => Boolean] = None
  private val log = scala.collection.mutable.ArrayBuffer.empty[(String, String)]

  /** Start counting calls; fail from the `k`-th (1-based) on. */
  def arm(k: Int, renameFalse: Boolean = false, loneFault: Boolean = false): Unit =
    synchronized {
      log.clear(); failAt = k; renameReturnsFalse = renameFalse; lone = loneFault
    }

  /** Fail only the first counted call that `matches` (op, path). */
  def armWhen(matches: ((String, String)) => Boolean): Unit = synchronized {
    arm(Int.MaxValue); trigger = Some(matches)
  }

  /** Revive the filesystem; returns the counted calls as (op, path). */
  def disarm(): Seq[(String, String)] = synchronized {
    failAt = Int.MaxValue; trigger = None
    val calls = log.toList
    log.clear()
    calls
  }

  private def fails(op: String, p: Path): Boolean =
    !Thread.currentThread.getName.startsWith("Executor task launch worker") &&
      synchronized {
        val call = (op, p.toString)
        log += call
        if (trigger.exists(_(call))) { trigger = None; true }
        else if (lone) log.size == failAt else log.size >= failAt
      }
}
