package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** One-row store metadata (a BM25 store's `meta.json`/`stats.json`, a
  * streaming loop's `_params.json`) as a small JSON object, written and
  * read on the driver through the Hadoop FileSystem: no Spark job, where
  * a one-row parquet sidecar costs a write job, a schema job and a
  * `head()` job each time it is touched.
  *
  * A reader never sees a half-written sidecar: the bytes go to a hidden
  * staging file (`.<name>.<uuid>`, invisible to parquet scans of the
  * directory) that is then published whole. [[write]] replaces the
  * target by rename; [[createIfAbsent]] publishes only when no sidecar
  * exists yet — by a hard link on the local filesystem, by HDFS's
  * refusing rename elsewhere — so two first writers cannot both win.
  * Values are `Int`, `Long`, `String` or `null`. */
object Sidecar {

  private val mapper = new ObjectMapper()

  /** A parsed sidecar; each getter refuses a missing or mistyped field
    * naming the file. */
  final class Fields private[Sidecar] (path: String, node: JsonNode) {
    private def field(k: String): JsonNode = {
      val v = node.get(k)
      require(v != null, s"sidecar '$path' has no field '$k'")
      v
    }
    private def integral(k: String): JsonNode = {
      val v = field(k)
      require(v.isIntegralNumber, s"sidecar '$path' field '$k' is not an integer: $v")
      v
    }
    def int(k: String): Int = {
      val v = integral(k)
      require(v.canConvertToInt, s"sidecar '$path' field '$k' overflows an int: $v")
      v.intValue
    }
    def long(k: String): Long = {
      val v = integral(k)
      require(v.canConvertToLong, s"sidecar '$path' field '$k' overflows a long: $v")
      v.longValue
    }
    /** `null` when the field holds JSON null. */
    def string(k: String): String = {
      val v = field(k)
      if (v.isNull) null
      else { require(v.isTextual, s"sidecar '$path' field '$k' is not a string: $v"); v.textValue }
    }
  }

  /** The filesystem of `path` without a checksum layer, so a sidecar is
    * one file and a hard link or rename moves all of it. */
  private def fsOf(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case fs => fs
    }

  private def json(path: String, fields: Seq[(String, Any)]): Array[Byte] = {
    val o: ObjectNode = mapper.createObjectNode()
    fields.foreach {
      case (k, v: Int) => o.put(k, v)
      case (k, v: Long) => o.put(k, v)
      case (k, v: String) => o.put(k, v)
      case (k, null) => o.putNull(k)
      case (k, v) => throw new IllegalArgumentException(
        s"sidecar '$path' field '$k': unsupported value $v (${v.getClass.getName})")
    }
    mapper.writeValueAsBytes(o)
  }

  /** Write `bytes` to a fresh hidden file next to `target`. */
  private def stage(fs: FileSystem, target: Path, bytes: Array[Byte]): Path = {
    val tmp = new Path(target.getParent, s".${target.getName}.${java.util.UUID.randomUUID}")
    val out = fs.create(tmp, false)
    try out.write(bytes) finally out.close()
    tmp
  }

  /** Write (or replace) the sidecar at `path`. */
  def write(spark: SparkSession, path: String, fields: (String, Any)*): Unit = {
    val target = new Path(path)
    val fs = fsOf(spark, target)
    val tmp = stage(fs, target, json(path, fields))
    // rename replaces a file on POSIX; filesystems whose rename refuses an
    // existing destination (HDFS) take a delete first
    val done = fs.rename(tmp, target) || { fs.delete(target, false); fs.rename(tmp, target) }
    if (!done) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"could not publish sidecar '$path'")
    }
  }

  /** Publish the sidecar at `path` unless one exists; true when this call
    * published it. Callers that guard on the content re-read it either way. */
  def createIfAbsent(spark: SparkSession, path: String, fields: (String, Any)*): Boolean = {
    val target = new Path(path)
    val fs = fsOf(spark, target)
    if (fs.exists(target)) return false
    val tmp = stage(fs, target, json(path, fields))
    try fs match {
      case local: RawLocalFileSystem =>
        try {
          java.nio.file.Files.createLink(local.pathToFile(target).toPath,
            local.pathToFile(tmp).toPath)
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      case _ => fs.rename(tmp, target)
    } finally fs.delete(tmp, false)
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fsOf(spark, p).exists(p)
  }

  def read(spark: SparkSession, path: String): Fields = {
    val p = new Path(path)
    val in = fsOf(spark, p).open(p)
    val node = try mapper.readTree(in) finally in.close()
    require(node != null && node.isObject, s"sidecar '$path' is not a JSON object: $node")
    new Fields(path, node)
  }
}
