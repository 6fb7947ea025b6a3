package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's checksummed local file system over a raw layer that sets file
  * and directory permissions through `java.nio` instead of a process.
  *
  * Without native Hadoop libraries `RawLocalFileSystem.setPermission`
  * forks `chmod` for every file, `.crc` and directory it creates. A mode
  * NIO cannot express (the sticky bit) still goes through Hadoop's own
  * call. Checksum files, commit markers and the bits left on disk are
  * the same as the default local file system's.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** The raw layer under [[LocalFs]]. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort))
  }

  /** OWNER_READ (mode bit 0400) down to OTHERS_EXECUTE (0001). */
  private val Bits = PosixFilePermission.values

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Bits.indices.foreach(i => if ((mode & (0x100 >> i)) != 0) set.add(Bits(i)))
    set
  }

  /** The session settings [[scoped]] holds. Hadoop caches file systems by
    * scheme and user, not by conf, so `fs.file.impl` alone would lose to
    * the cached default instance. The streaming checkpoint manager is the
    * FileSystem-based one: without native Hadoop libraries Spark's default
    * FileContext manager resolves every renamed checkpoint file with
    * `getFileLinkStatus`, which forks `readlink`. On `file:` both managers
    * end in the same `RawLocalFileSystem.rename`, so no atomicity is lost.
    */
  private val Settings = Seq(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")

  /** Run `body`, the local I/O of a write or stream rooted at `path`, with
    * [[LocalFs]] and the FileSystem-based checkpoint manager in the
    * session conf when `path` resolves to the local file system; a
    * scheme-less path resolves through the default file system. The
    * settings reach everything that copies the session's Hadoop conf while
    * `body` runs: a write job's tasks and committer, a stream's cloned
    * session, state store and checkpoint logs. Other file systems run
    * `body` as it is. Nested scopes are allowed.
    */
  def scoped[A](s: SparkSession, path: String)(body: => A): A =
    if (new Path(path).getFileSystem(s.sessionState.newHadoopConf())
        .isInstanceOf[LocalFileSystem]) withConf(s, Settings: _*)(body)
    else body

  /** Run `body` with each session conf key set to its value, then put back
    * each previous value, or unset a key that had none — also on failure.
    */
  private[graft] def withConf[A](s: SparkSession, settings: (String, String)*)(body: => A): A = {
    val old = settings.map { case (k, _) => k -> s.conf.getOption(k) }
    settings.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally old.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }
}
