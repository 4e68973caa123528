package perfbench

import java.io.File
import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** An `s3a://` stand-in on the local disk, registered through
  * `fs.s3a.impl`, so `ConvertPipeline.upload` runs its real write path
  * without an object store or the hadoop-aws connector.
  *
  * The mapping is the identity on the path: `s3a://bucket/abs/path`
  * lives at the local file `/abs/path`. Keeping the path unchanged is
  * what lets the statuses that `RawLocalFileSystem` builds from local
  * files qualify back to the same `s3a://` URIs.
  */
class LocalS3AFileSystem extends RawLocalFileSystem {
  private var bucketUri: URI = _

  override def initialize(uri: URI, conf: Configuration): Unit = {
    bucketUri = URI.create(s"s3a://${uri.getAuthority}/")
    super.initialize(uri, conf)
    setWorkingDirectory(new Path(bucketUri))
  }

  override def getScheme: String = "s3a"

  override def getUri: URI = bucketUri

  // Called from the superclass constructor, before `initialize`.
  override def getInitialWorkingDirectory: Path = new Path("/")

  override def pathToFile(path: Path): File = {
    checkPath(path)
    new File(makeQualified(path).toUri.getPath)
  }
}

object LocalS3AFileSystem {
  val Bucket = "perfbench"

  /** The `s3a://` prefix (without bucket) that stores under `dir`. */
  def prefixFor(dir: File): String =
    dir.getAbsolutePath.stripPrefix("/")
}
