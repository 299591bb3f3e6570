package graft.core

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system under the `graftckpt` scheme, for the pipeline's
  * streaming checkpoint. Without libhadoop, `RawLocalFileSystem` forks
  * `chmod` for every file it creates and `readlink` for every link
  * status, and `FileContext.rename` asks for eight link statuses per
  * checkpoint entry: about 20 process forks per micro-batch. Here
  * permissions are set through `java.nio`, no path is a symlink, and a
  * link status is the plain status, so the checkpoint forks nothing.
  * Only this scheme is added; `file:` keeps Hadoop's own classes.
  */
final class CheckpointFileSystem extends RawLocalFileSystem {
  override def getUri: URI = CheckpointFs.Root
  override def getScheme: String = CheckpointFs.Scheme

  /** The nine rwx bits; the checkpoint never asks for sticky or setuid. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // OWNER_READ (0400) first, OTHERS_EXECUTE (0001) last
    PosixFilePermission.values.foreach(pp => if ((bits & (1 << (8 - pp.ordinal))) != 0) set.add(pp))
    Files.setPosixFilePermissions(pathToFile(p).toPath, set)
  }

  override def supportsSymlinks(): Boolean = false
  override def getFileLinkStatus(f: Path): FileStatus = getFileStatus(f)
}

/** The `FileContext` view of [[CheckpointFileSystem]], which Spark's
  * default `FileContextBasedCheckpointFileManager` writes through. */
final class CheckpointFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new CheckpointFileSystem, conf, CheckpointFs.Scheme, false)

object CheckpointFs {
  val Scheme = "graftckpt"
  private[core] val Root = URI.create(s"$Scheme:///")

  /** Adds the scheme to `conf`; no other scheme's binding changes. */
  def register(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[CheckpointFileSystem].getName)
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[CheckpointFs].getName)
  }

  /** A fresh empty directory under `java.io.tmpdir`, as a `graftckpt` URI. */
  def freshDir(prefix: String): String =
    s"$Scheme://${Files.createTempDirectory(prefix).toUri.getRawPath.stripSuffix("/")}"

  /** Deletes `dir` (a [[freshDir]] URI) and everything under it. */
  def delete(dir: String): Unit = {
    val root = Paths.get(URI.create(dir).getPath)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }
}
