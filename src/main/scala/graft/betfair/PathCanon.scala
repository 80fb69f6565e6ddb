package graft.betfair

import org.apache.hadoop.fs.Path

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
}
