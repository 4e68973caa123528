package graft.sources

import java.util.Properties

import org.apache.spark.sql.SparkSession

/** S3 sink configuration (SURVEY.md §2.3 K3): maps the reference's
  * `application.properties` keys (`S3Uploader.java:42-48` — endpoint
  * override, static credentials, region, bucket/prefix) onto the
  * public `fs.s3a.*` Hadoop connector settings. `ConvertPipeline.upload`
  * then copies the converted files byte for byte to
  * `s3a://bucket/prefix` through the Hadoop FileSystem API, on a
  * bounded pool in place of the reference's 4-thread `putObject` pool
  * (X2); the committer settings serve any Spark job that writes to an
  * s3a URI directly (e.g. a bulk `ParquetSink.write`).
  *
  * The tests have no live S3: they check the settings at the
  * configuration level (they land in the session's
  * hadoopConfiguration) and run the copy against an `s3a://`
  * stand-in over the local disk.
  */
object S3Conf {

  case class S3Settings(
      bucket: String,
      prefix: String = "",
      endpoint: Option[String] = None,
      region: Option[String] = None,
      accessKey: Option[String] = None,
      secretKey: Option[String] = None,
      pathStyleAccess: Boolean = true) {
    def uri: String =
      if (prefix.isEmpty) s"s3a://$bucket" else s"s3a://$bucket/$prefix"
  }

  /** The reference's exact property keys (`application.properties:
    * 1-8`, read by `Main.java:63-66` and `S3Uploader.java:33-40`):
    * `bucketName`, `prefix`, `s3.accessKey`, `s3.secretKey`,
    * `s3.endpoint`, `s3.region`. */
  def fromProperties(p: Properties): S3Settings = S3Settings(
    bucket = p.getProperty("bucketName", ""),
    prefix = Option(p.getProperty("prefix")).getOrElse(""),
    endpoint = Option(p.getProperty("s3.endpoint")),
    region = Option(p.getProperty("s3.region")),
    accessKey = Option(p.getProperty("s3.accessKey")),
    secretKey = Option(p.getProperty("s3.secretKey")))

  /** The reference's fail-fast contract: `S3Uploader.java:38-40`
    * throws IllegalStateException when any of credentials, endpoint,
    * or region is unset; `Main.java:65-66` errors on a missing
    * bucket/prefix. */
  def validated(s: S3Settings): S3Settings = {
    if (s.accessKey.isEmpty || s.secretKey.isEmpty ||
        s.endpoint.isEmpty || s.region.isEmpty)
      throw new IllegalStateException(
        "S3 credentials, endpoint, or region not set in application.properties")
    if (s.bucket.isEmpty)
      throw new IllegalStateException(
        "Missing bucketName or prefix in application.properties")
    s
  }

  /** Apply to the session's Hadoop configuration. */
  def configure(spark: SparkSession, s: S3Settings): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    s.endpoint.foreach(hc.set("fs.s3a.endpoint", _))
    s.region.foreach(hc.set("fs.s3a.endpoint.region", _))
    s.accessKey.foreach(hc.set("fs.s3a.access.key", _))
    s.secretKey.foreach(hc.set("fs.s3a.secret.key", _))
    if (s.pathStyleAccess) hc.set("fs.s3a.path.style.access", "true")
    // Scale defaults: the magic committer avoids the non-atomic
    // directory-rename commit on S3; fast upload streams row groups.
    hc.set("fs.s3a.committer.name", "magic")
    hc.set("fs.s3a.fast.upload", "true")
  }
}
