package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

/** The lake's one way to reach a [[FileSystem]]: the table's own metadata
  * and publish I/O ([[LakeTable.fs]]), the task-side [[LakeFileWriter]] and
  * every other lake-owned path operation ask here.
  *
  * A `file` path gets a directly constructed checksummed local file system
  * ([[LakeFs.Local]]) whose permission changes go through
  * `java.nio.file.Files.setPosixFilePermissions`. Hadoop's own
  * `RawLocalFileSystem.setPermission` runs `chmod` as a child process when
  * libhadoop is not loaded, and every `create` (data file and `.crc`
  * sidecar alike) and every new directory of `mkdirs` calls it, so a lake
  * commit on a plain JVM forked tens of processes. The mode set is the one
  * Hadoop computes (the caller has applied the `fs.permissions.umask-mode`
  * umask), so created files and directories keep the stock modes, and the
  * `LocalFileSystem` wrapper still writes and verifies `.crc` sidecars.
  *
  * The instance is built here, not through `FileSystem.get`: that cache is
  * keyed by scheme, authority and user, not by implementation, so it would
  * hand back the stock forking file system. No session or Hadoop setting
  * is changed. Every other scheme resolves through `path.getFileSystem`. */
private[graft] object LakeFs {

  def forPath(path: Path, conf: Configuration): FileSystem = {
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme != "file") path.getFileSystem(conf)
    else {
      // what FileSystem.get does after resolving the class: setConf, then initialize
      val fs = new Local
      fs.setConf(conf)
      fs.initialize(java.net.URI.create("file:///"), conf)
      fs
    }
  }

  /** Checksummed local file system over [[NioRawLocalFileSystem]]. */
  private[lake] final class Local extends LocalFileSystem(new NioRawLocalFileSystem)

  /** `FsPermission.toString` is the `rwxr-xr-x` form NIO parses; a sticky
    * bit, which NIO cannot set and the lake never asks for, fails the parse. */
  private final class NioRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }
}
