package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The one owner of the filesystem the library writes its output through:
  * sink part files, checkpoint snapshots, manifests, headers and import
  * scripts.
  *
  * A path that resolves to the `file` scheme is written through
  * [[OutputFs.LocalFs]], a raw local filesystem whose `setPermission` starts
  * no process. Hadoop's default local FS is a `ChecksumFileSystem` over
  * `RawLocalFileSystem`: it writes a `.crc` sidecar beside every file, and
  * on a JVM without libhadoop (Apache's Spark distribution has none) it
  * spawns a `chmod` for every directory and file it creates, sidecars
  * included. A warm four-call adapter session spawned about 123 of them.
  * Through this owner it spawns none and writes no sidecar. Nothing reads
  * the sidecars: the checksummed FS reads a file without one unverified.
  *
  *  - Spark writes take [[writeOptions]]: per-write Hadoop options that
  *    `DataFrameWriter` carries into the job's and the tasks' Hadoop conf,
  *    so the committer's job setup, the task-attempt and partition dirs and
  *    every data file go through [[OutputFs.LocalFs]].
  *  - Driver-side code takes its handle from [[fs]]: one memoized
  *    [[OutputFs.LocalFs]] per Hadoop conf for a local path.
  *
  * Any other scheme gets `path.getFileSystem(conf)` and no options, as a
  * write without this owner would. A sidecar left by an earlier checksummed
  * write is deleted before its file is overwritten ([[write]],
  * [[replace]]): a stale one would fail the checksummed read of the new
  * content. `SourceHygieneSpec` keeps every write under `sinks/` and
  * `checkpoint/` on this owner.
  */
object OutputFs {

  /** `RawLocalFileSystem` whose `setPermission` sets the bits through
    * `java.nio` instead of a `chmod` process. Hadoop has already applied
    * the conf's umask to `permission` when it calls this. A permission with
    * bits outside rwx (the sticky bit) takes the inherited path. */
  final class LocalFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }

  private def isLocal(p: Path, conf: Configuration): Boolean =
    Option(p.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  @volatile private var memo: (Configuration, FileSystem) = (null, null)

  /** The filesystem to write `p` through on the driver. */
  def fs(p: Path, conf: Configuration): FileSystem =
    if (!isLocal(p, conf)) p.getFileSystem(conf)
    else {
      val (c, cached) = memo
      if (c eq conf) cached
      else {
        val local = new LocalFs
        local.initialize(java.net.URI.create("file:///"), conf)
        memo = (conf, local)
        local
      }
    }

  /** The Hadoop options a Spark write into `path` takes. The FS cache is
    * keyed by scheme, not by class, so it is bypassed for the write. */
  def writeOptions(path: String, conf: Configuration): Map[String, String] =
    if (!isLocal(new Path(path), conf)) Map.empty
    else Map("fs.file.impl" -> classOf[LocalFs].getName, "fs.file.impl.disable.cache" -> "true")

  /** Write `content` to `p`, replacing any file there: the small files the
    * driver writes itself (manifests, headers, import scripts). */
  def write(p: Path, content: String, conf: Configuration): Unit = {
    val target = fs(p, conf)
    dropSidecar(target, p)
    val os = target.create(p, true)
    try os.write(content.getBytes(StandardCharsets.UTF_8))
    finally os.close()
  }

  /** Move `src` to `dst` on `fs`, replacing any file at `dst`. */
  def replace(fs: FileSystem, src: Path, dst: Path): Unit = {
    dropSidecar(fs, dst)
    fs.delete(dst, false)
    if (!fs.rename(src, dst)) throw new IllegalStateException(s"rename failed: $src -> $dst")
  }

  private def dropSidecar(fs: FileSystem, p: Path): Unit =
    if (fs.isInstanceOf[LocalFs]) fs.delete(new Path(p.getParent, s".${p.getName}.crc"), false)
}
