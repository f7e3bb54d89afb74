package perfbench

import java.io.{File, FileNotFoundException}
import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Local stand-in for the `s3a://` object store, so the convert
  * workloads run the program's upload stage end to end without
  * hadoop-aws or a network.
  *
  * `s3a://bucket/key` maps to `<root>/bucket/key` on local disk, where
  * `<root>` is the Hadoop setting [[RootKey]]. Everything else is
  * [[RawLocalFileSystem]]: it routes every operation through
  * [[pathToFile]], which is the one place the mapping happens. File
  * statuses are rebuilt around the caller's `s3a://` path, because the
  * superclass would otherwise report the local path.
  *
  * Registered through the benchmark session's `fs.s3a.impl`.
  */
class LocalS3AFileSystem extends RawLocalFileSystem {
  private var fsUri: URI = _
  private var root: File = _

  override def getScheme: String = "s3a"

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    fsUri = URI.create(s"s3a://${name.getAuthority}")
    root = new File(Option(conf.get(LocalS3AFileSystem.RootKey)).getOrElse(
      throw new IllegalStateException(
        s"${LocalS3AFileSystem.RootKey} is not set")))
    new File(root, fsUri.getAuthority).mkdirs() // the bucket
  }

  // The superclass constructor asks for the URI before initialize().
  override def getUri: URI =
    if (fsUri == null) URI.create("s3a:///") else fsUri

  override def getWorkingDirectory: Path = new Path(getUri.toString + "/")

  override def getHomeDirectory: Path = getWorkingDirectory

  override def pathToFile(path: Path): File = {
    val abs = if (path.isAbsolute) path else new Path(getWorkingDirectory, path)
    new File(new File(root, getUri.getAuthority), abs.toUri.getPath)
  }

  override def getFileStatus(p: Path): FileStatus = {
    val f = pathToFile(p)
    if (!f.exists()) throw new FileNotFoundException(s"$p does not exist")
    new FileStatus(if (f.isDirectory) 0L else f.length, f.isDirectory, 1,
      getDefaultBlockSize(p), f.lastModified, 0L,
      if (f.isDirectory) FsPermission.getDirDefault
      else FsPermission.getFileDefault,
      "perfbench", "perfbench", makeQualified(p))
  }

  override def getFileLinkStatus(p: Path): FileStatus = getFileStatus(p)
}

object LocalS3AFileSystem {
  /** Hadoop setting: the local directory that holds the buckets. */
  val RootKey = "perfbench.s3a.root"
}
