package graft.betfair

import java.io.{ObjectInputStream, ObjectOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Serializable wrapper shipping the driver's Hadoop configuration into
  * executor tasks. Building `new Configuration()` inside a task silently
  * drops cluster filesystem settings and credentials (fs.defaultFS, s3a
  * keys, kerberos tokens) — fine on local[*], wrong on a real cluster.
  * (Spark's own `org.apache.spark.util.SerializableConfiguration` is
  * `private[spark]`, hence this public twin.)
  */
class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {

  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }

  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

object SerializableHadoopConf {
  def apply(spark: org.apache.spark.sql.SparkSession): SerializableHadoopConf =
    new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
}

/** Canonical file-path form used as the pairing key across the whole index
  * pipeline and stored in the index. Hadoop listings return `Path`s whose
  * string form varies by scheme, and URI strings are percent-encoded
  * (`file:///a%20b`); both map to one form: decoded URI path for the local
  * `file` scheme (matches reference-style OS paths, e.g. `/data/1.23`), full
  * scheme-qualified `Path.toString` for everything else
  * (`hdfs://nn/data/1.23`, `s3a://...`).
  */
object PathCanon {

  /** Whether bare OS-style paths are safe, i.e. the configured default
    * filesystem IS the local one. On a cluster whose `fs.defaultFS` is
    * remote, a stored bare `/x` would later resolve via
    * `new Path(...).getFileSystem` against the default FS and point
    * clean()/insert() at the wrong filesystem — there, `file://` paths must
    * keep their scheme (decoded, so the pairing key still matches across
    * listing and URI forms). Decided once per pipeline from
    * the driver conf and captured into executor closures as a boolean.
    */
  def stripFileScheme(conf: org.apache.hadoop.conf.Configuration): Boolean = {
    val s = org.apache.hadoop.fs.FileSystem.getDefaultUri(conf).getScheme
    s == null || s == "file"
  }

  def canonical(p: Path): String = canonical(p, stripFile = true)

  def canonical(p: Path, stripFile: Boolean): String = {
    val u = p.toUri
    if (u.getScheme == null || u.getScheme == "file") {
      if (stripFile) u.getPath else "file://" + u.getPath
    } else p.toString
  }

  /** Canonicalize a (possibly percent-encoded) URI string. */
  def canonicalUri(s: String): String = canonicalUri(s, stripFile = true)

  def canonicalUri(s: String, stripFile: Boolean): String =
    if (s == null || s.isEmpty) s
    else
      try canonical(new Path(new java.net.URI(s)), stripFile)
      catch {
        // not URI-parseable (already a plain path, or odd chars): best-effort
        case _: Exception =>
          if (stripFile) s.replaceFirst("^file:/+", "/") else s
      }
}
