package graft.tools

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test-only HDFS-class stand-in (round 17): local storage served
  * under a `mockhdfs:` scheme with HDFS RENAME SEMANTICS — rename
  * REFUSES an existing destination (returns false) atomically, and
  * there is no hard-link surface — i.e. exactly the store class
  * [[Artifacts.claimClass]] maps to "rename" (hdfs/viewfs/webhdfs).
  * The refusing file-rename is implemented with an atomic
  * link-then-unlink (createLink fails EEXIST atomically), so two
  * racing renames to one destination get exactly one winner — the
  * property the rename claim class's exists-check + rename depends
  * on, which mocks3 (replace semantics) and the local link class
  * never exercise. Delegation for the same reason as
  * [[MockS3FileSystem]]: raw-local status objects lazily re-derive
  * permissions from their path's URI and blow up on a non-`file:`
  * scheme.
  *
  * Every open of a manifest file (`_manifest/m-<version>.tsv`) is
  * recorded in [[MockHdfsFileSystem.manifestOpens]], so a spec can pin
  * how many times a command resolves its manifest: a deterministic
  * count, unlike wall time.
  */
class MockHdfsFileSystem extends FileSystem {
  private var myUri: URI = URI.create("mockhdfs:///")
  private val local = new RawLocalFileSystem()

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    local.initialize(URI.create("file:///"), conf)
    myUri = URI.create(s"${name.getScheme}:///")
  }

  override def getUri: URI = myUri
  override def getScheme: String = "mockhdfs"

  private def toLocal(p: Path): Path =
    new Path("file", null, p.toUri.getPath)

  /** Fixed permissions/owner: raw-local loads them LAZILY via a shell
    * `ls`, which blows up when a racing writer deletes the file
    * between our listing and the load — and none of the CAS tests
    * care about permission fidelity.
    */
  private def fromLocal(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getAccessTime,
      FsPermission.getDefault, "", "",
      new Path("mockhdfs", null, st.getPath.toUri.getPath))

  override def open(f: Path, bufferSize: Int) = {
    if (f.getParent != null && f.getParent.getName == "_manifest" &&
      f.getName.matches("m-[0-9]+\\.tsv"))
      MockHdfsFileSystem.manifestOpens.add(f.toUri.getPath)
    local.open(toLocal(f), bufferSize)
  }

  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable) =
    local.create(toLocal(f), permission, overwrite, bufferSize,
      replication, blockSize, progress)

  override def append(f: Path, bufferSize: Int, progress: Progressable) =
    local.append(toLocal(f), bufferSize, progress)

  override def rename(src: Path, dst: Path): Boolean = {
    // HDFS namenode contract: rename to an existing destination is
    // REFUSED (false), atomically. Files get a genuinely atomic
    // refuse via link(2); directories fall back to check + move
    // (fine for tests — the CAS claim path only renames files).
    val s = java.nio.file.Paths.get(src.toUri.getPath)
    val d = java.nio.file.Paths.get(dst.toUri.getPath)
    if (java.nio.file.Files.isDirectory(s)) {
      if (exists(dst)) false else local.rename(toLocal(src), toLocal(dst))
    } else {
      try {
        java.nio.file.Files.createLink(d, s)
        java.nio.file.Files.delete(s)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    }
  }

  override def delete(f: Path, recursive: Boolean) =
    local.delete(toLocal(f), recursive)

  override def listStatus(f: Path): Array[FileStatus] =
    local.listStatus(toLocal(f)).map(fromLocal)

  override def setWorkingDirectory(dir: Path): Unit =
    local.setWorkingDirectory(toLocal(dir))

  override def getWorkingDirectory: Path = new Path("mockhdfs:///tmp")

  override def mkdirs(f: Path, permission: FsPermission) =
    local.mkdirs(toLocal(f), permission)

  override def getFileStatus(f: Path): FileStatus =
    fromLocal(local.getFileStatus(toLocal(f)))
}

object MockHdfsFileSystem {

  /** The local path of every manifest file opened through any
    * instance (the filesystem cache is off in the specs that use this
    * scheme, so instances are per call).
    */
  val manifestOpens = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Serve `mockhdfs:` paths through this class, uncached. */
  def register(conf: Configuration): Unit = {
    conf.set("fs.mockhdfs.impl", classOf[MockHdfsFileSystem].getName)
    conf.setBoolean("fs.mockhdfs.impl.disable.cache", true)
  }

  /** How many manifest files under local directory `dir` `body` opened. */
  def manifestOpensUnder(dir: String)(body: => Any): Int = {
    import scala.jdk.CollectionConverters._
    def opened = manifestOpens.asScala.count(_.startsWith(s"$dir/"))
    val before = opened
    body
    opened - before
  }
}
