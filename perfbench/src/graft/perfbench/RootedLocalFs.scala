package graft.perfbench

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Keeps the engine's scratch files inside the benchmark's work directory.
  *
  * Several engine paths are hard-coded under `/tmp/graft_*` (at-rest
  * artifacts, streaming checkpoints). The benchmark may only write inside
  * its checkout, so the local file system it installs (`fs.file.impl` and
  * `fs.AbstractFileSystem.file.impl`) maps every `/tmp/graft_*` path to
  * `<perfbench.tmproot>/graft_*`. Other paths pass through unchanged, and
  * statuses report the unmapped path. */
object Rooted {
  private val prefix = "/tmp/graft_"
  lazy val root: String = sys.props.getOrElse("perfbench.tmproot",
    sys.error("perfbench.tmproot is not set"))

  def map(p: Path): Path = {
    if (p == null) return p
    val uri = p.toUri
    val path = uri.getPath
    if (path == null || !path.startsWith(prefix)) p
    else new Path(uri.getScheme, uri.getAuthority, root + path.stripPrefix("/tmp"))
  }

  /** Statuses go back out under their `/tmp/graft_*` names: Spark's file
    * index matches listed files against the directory it asked for. */
  def unmap(st: FileStatus): FileStatus = {
    val uri = st.getPath.toUri
    val path = uri.getPath
    if (path != null && path.startsWith(root + "/graft_")) {
      st.setPath(new Path(uri.getScheme, uri.getAuthority, "/tmp" + path.stripPrefix(root)))
    }
    st
  }
}

class RootedRawFs extends RawLocalFileSystem {
  import Rooted.{map, unmap}
  override def pathToFile(p: Path): java.io.File = super.pathToFile(map(p))
  override def open(p: Path, bufferSize: Int) = super.open(map(p), bufferSize)
  override def append(p: Path, bufferSize: Int, progress: org.apache.hadoop.util.Progressable) =
    super.append(map(p), bufferSize, progress)
  override def create(p: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable) =
    super.create(map(p), overwrite, bufferSize, replication, blockSize, progress)
  override def create(p: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: org.apache.hadoop.util.Progressable) =
    super.create(map(p), permission, overwrite, bufferSize, replication, blockSize, progress)
  override def createNonRecursive(p: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long, progress: org.apache.hadoop.util.Progressable) =
    super.createNonRecursive(map(p), permission, flags, bufferSize, replication, blockSize,
      progress)
  override def rename(src: Path, dst: Path): Boolean = super.rename(map(src), map(dst))
  override def delete(p: Path, recursive: Boolean): Boolean = super.delete(map(p), recursive)
  override def listStatus(p: Path): Array[FileStatus] = super.listStatus(map(p)).map(unmap)
  override def exists(p: Path): Boolean = super.exists(map(p))
  override def mkdirs(p: Path): Boolean = super.mkdirs(map(p))
  override def mkdirs(p: Path, permission: FsPermission): Boolean =
    super.mkdirs(map(p), permission)
  override def getFileStatus(p: Path): FileStatus = unmap(super.getFileStatus(map(p)))
  override def getFileLinkStatus(p: Path): FileStatus = unmap(super.getFileLinkStatus(map(p)))
  override def setPermission(p: Path, permission: FsPermission): Unit =
    super.setPermission(map(p), permission)
  override def setTimes(p: Path, mtime: Long, atime: Long): Unit =
    super.setTimes(map(p), mtime, atime)
  override def truncate(p: Path, newLength: Long): Boolean = super.truncate(map(p), newLength)
}

/** `fs.file.impl`: the checksummed local file system over [[RootedRawFs]]. */
class RootedLocalFs extends LocalFileSystem(new RootedRawFs)

/** `fs.AbstractFileSystem.file.impl` (the FileContext API that streaming
  * checkpoints use): the checksummed local FileContext over [[RootedRawFs]]. */
class RootedAbstractFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new RootedDelegateFs(uri, conf))

class RootedDelegateFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RootedRawFs, conf, "file", false) {
  // Same as Hadoop's RawLocalFs: local names may hold any character.
  override def getUriDefaultPort: Int = -1
  override def isValidName(src: String): Boolean = true
}
