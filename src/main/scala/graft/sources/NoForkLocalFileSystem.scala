package graft.sources

import java.nio.file.attribute.PosixFilePermission
import java.util.EnumSet

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Local filesystem whose permission operations are java.nio syscalls
  * instead of forked shell processes.
  *
  * This container (like most Spark-without-Hadoop deployments) carries no
  * libhadoop.so, so Hadoop's RawLocalFileSystem falls back to
  * `Shell.execCommand`: every file CREATE through the FileSystem API
  * forks a `chmod` process (LocalFSFileOutputStream passes the
  * umask-derived permission to setPermission), and stream-state commits
  * at 8 partitions x 4 join stores x N micro-batches fork hundreds of
  * processes per streaming query — thread dumps showed executor tasks
  * RUNNABLE inside `ProcessImpl.forkAndExec` under
  * `RawLocalFileSystem.setPermission` for ~half of a stateful batch's
  * task_run. `Files.setPosixFilePermissions` sets the identical 9-bit
  * mode with one syscall. Semantics are unchanged (same bits on disk);
  * special bits (sticky/setuid/setgid), which java.nio cannot express,
  * and file stores without POSIX attributes fall back to Hadoop's own
  * path.
  *
  * Wired into the harness sessions via `spark.hadoop.fs.file.impl`
  * (env-overridable). A production cluster with the native library never
  * takes the shell fallback, and non-local filesystems (HDFS/S3) are
  * unaffected — this fixes the local runtime, not the algorithm.
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    if ((bits & 0xE00) != 0) super.setPermission(p, permission) // special bits: rare, keep Hadoop's path
    else {
      val set = EnumSet.noneOf(classOf[PosixFilePermission])
      if ((bits & 0x100) != 0) set.add(PosixFilePermission.OWNER_READ)
      if ((bits & 0x080) != 0) set.add(PosixFilePermission.OWNER_WRITE)
      if ((bits & 0x040) != 0) set.add(PosixFilePermission.OWNER_EXECUTE)
      if ((bits & 0x020) != 0) set.add(PosixFilePermission.GROUP_READ)
      if ((bits & 0x010) != 0) set.add(PosixFilePermission.GROUP_WRITE)
      if ((bits & 0x008) != 0) set.add(PosixFilePermission.GROUP_EXECUTE)
      if ((bits & 0x004) != 0) set.add(PosixFilePermission.OTHERS_READ)
      if ((bits & 0x002) != 0) set.add(PosixFilePermission.OTHERS_WRITE)
      if ((bits & 0x001) != 0) set.add(PosixFilePermission.OTHERS_EXECUTE)
      try java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, set)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      ()
    }
  }
}

class NoForkLocalFileSystem
  extends LocalFileSystem(new NoForkRawLocalFileSystem)
