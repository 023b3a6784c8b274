package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's local file system for `file:` paths: Hadoop's own, with
  * `chmod` and `readlink` done in-process.
  *
  * Without the native-hadoop library (a Spark distribution's jars do not
  * carry it), Hadoop's `RawLocalFileSystem` forks a `chmod` process for
  * every permission it sets (each create, each directory made) and a
  * `readlink` process for every `getFileLinkStatus` (two per
  * `FileContext.rename`). A streaming query does both on every trigger:
  * its offsets, commits and file-source-log entries are each a create
  * followed by a rename with OVERWRITE, and a file sink's commit
  * protocol creates files and directories per task. On a 4-core host a
  * create with its `.crc` costs 8.7 ms that way and a `FileContext`
  * create plus rename 41 ms, against 0.16 and 0.38 ms in-process.
  *
  * [[Raw]] overrides those two calls only. Checksums, umask, the on-disk
  * layout and the bytes stay Hadoop's, so a checkpoint written under
  * either resumes under the other. [[Local]] (`fs.file.impl`) and [[Fs]]
  * (`fs.AbstractFileSystem.file.impl`, what `FileContext` and Spark's
  * checkpoint manager use) are Hadoop's `LocalFileSystem` and `LocalFs`
  * over [[Raw]]. `ConfigCompiler.compileStreamingPipeline` installs them
  * as session defaults ([[SessionDefaults]]). */
object LocalFiles {

  /** Session settings that route `file:` through these classes. The
    * JVM-wide `FileSystem` cache holds Hadoop's `LocalFileSystem` for
    * `file:` before any pipeline compiles and ignores `fs.file.impl`,
    * so the cache is off for `file:`. */
  val SessionDefaults: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[Local].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[Fs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Hadoop's raw local file system, `chmod` and `readlink` in-process. */
  class Raw extends RawLocalFileSystem {

    /** `chmod` through NIO. Hadoop's `chmod 0nnn` keeps a directory's
      * setuid/setgid bits and NIO sets none of them nor the sticky bit,
      * so a mode with any of those, asked for or already on the path,
      * and a store without the unix attribute view go to Hadoop. */
    override def setPermission(p: Path, perm: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      val mode = perm.toShort.toInt
      val plain = (mode & ~0x1ff) == 0 &&
        (try (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xe00) == 0
         catch { case _: UnsupportedOperationException => false })
      if (!plain) super.setPermission(p, perm)
      else {
        val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // values() runs owner rwx, group rwx, others rwx: bits 8 down to 0
        PosixFilePermission.values.zipWithIndex.foreach { case (bit, i) =>
          if ((mode & (0x100 >> i)) != 0) set.add(bit) }
        Files.setPosixFilePermissions(file, set)
      }
    }

    /** Hadoop answers with `getFileStatus` whenever `readlink` prints
      * nothing; only a real link needs its walk. */
    override def getFileLinkStatus(p: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
      else getFileStatus(p)
  }

  /** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over [[Raw]]. */
  class Local extends LocalFileSystem(new Raw)

  /** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` over [[Raw]]. */
  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(uri, conf))

  /** Hadoop's `RawLocalFs` (its constructors are package-private). */
  private class RawFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
