package graft.betfair

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A1/A2: recursive scan + classification + stem pairing.
  *
  * Reference behavior (betfairdatabase/processor.py:165-193): one pass over
  * the tree; files named `1.*`:
  *   - `.json`            -> metadata file, keyed by path minus suffix
  *   - `.zip/.gz/.bz2`    -> compressed data file, keyed by path minus suffix
  *   - extensionless ids  -> data file (pathlib sees ".216418252" as a
  *                           suffix; > 8 chars means "market id digits")
  * plus directory-level bulk `metadata.json`.
  *
  * Listing runs on the driver via the Hadoop FileSystem (works for file://,
  * hdfs://, s3a://...). This is metadata-only traversal — the same shape the
  * reference uses — and the resulting path table is tiny relative to data
  * (one row per file); all heavy I/O stays distributed.
  *
  * The walk calls `listStatus` once per directory, as Spark's own
  * `InMemoryFileIndex` does for the JSON scans of the same tree. Do not
  * replace it with `fs.listFiles(dir, true)`: that returns
  * `LocatedFileStatus`, whose constructor copies permission, owner and
  * group, and on file:// without libhadoop `RawLocalFileSystem` fetches
  * those by forking `ls -ld` once per file (on a 4-core VM, 649 files took
  * ~3.5 s that way; the whole scan with `listStatus` takes ~50 ms).
  */
object Discover {

  /** One classified file. kind: metadata | data | bulk. stem is the pairing
    * key (absolute path minus the classifying suffix).
    */
  case class Entry(path: String, kind: String, stem: String, dir: String,
      fileName: String)

  private val CompressedExts = Seq(".zip", ".gz", ".bz2")

  private[betfair] def classify(absPath: String): Option[Entry] = {
    val slash = absPath.lastIndexOf('/')
    val name = absPath.substring(slash + 1)
    val dir = if (slash <= 0) "/" else absPath.substring(0, slash)
    if (name == "metadata.json")
      Some(Entry(absPath, "bulk", absPath, dir, name))
    else if (name.startsWith("1.")) {
      val dot = name.lastIndexOf('.')
      val suffix = if (dot > 0) name.substring(dot) else ""
      if (suffix == ".json")
        Some(Entry(absPath, "metadata", absPath.stripSuffix(".json"), dir, name))
      else if (CompressedExts.contains(suffix))
        Some(Entry(absPath, "data", absPath.stripSuffix(suffix), dir, name))
      else if (suffix.length > 8) // "1.216418252": id digits, not an extension
        Some(Entry(absPath, "data", absPath, dir, name))
      else None
    } else None
  }

  /** Above this many top-level subdirectories the listing fans out to
    * executors (one task per subtree) — a 100 TB archive has millions of
    * files across thousands of event/date directories, and single-threaded
    * driver listing becomes the bottleneck.
    */
  private val DistributedListingThreshold = 64

  /** Every classified file among `level` and, recursively, under the
    * directories in it. PathCanon: decoded OS-style path on file:// (scheme
    * kept when the default FS is remote), scheme-qualified elsewhere — the
    * SAME canonical form input_file_name() is mapped to in IndexPipeline,
    * so the metadata join key always matches. Shared by the driver and the
    * executor listing.
    */
  private def listTree(fs: FileSystem, level: Seq[FileStatus], strip: Boolean)
      : Seq[Entry] = {
    val out = mutable.ArrayBuffer.empty[Entry]
    val pending = mutable.Stack.from(level)
    while (pending.nonEmpty) {
      val st = pending.pop()
      if (st.isDirectory) pending.pushAll(fs.listStatus(st.getPath))
      else if (st.isFile)
        classify(PathCanon.canonical(st.getPath, strip)).foreach(out += _)
    }
    out.toSeq
  }

  /** Scan a directory tree and return one DataFrame of classified entries. */
  def scan(spark: SparkSession, sourceDir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val strip = PathCanon.stripFileScheme(conf)
    val root = new Path(sourceDir)
    val fs = root.getFileSystem(conf)
    val top = fs.listStatus(root)
    val (dirs, files) = top.partition(_.isDirectory)
    import spark.implicits._
    if (dirs.length <= DistributedListingThreshold)
      spark.createDataset(listTree(fs, top.toSeq, strip)).toDF()
    else {
      // distributed listing: executors walk one subtree each, with the
      // driver's Hadoop conf (credentials/defaultFS) shipped along
      val sconf = SerializableHadoopConf(spark)
      val subdirs = dirs.map(_.getPath.toString).toSeq
      val listed = spark.createDataset(subdirs)
        .repartition(math.min(subdirs.length, 256))
        .mapPartitions { paths =>
          val conf = sconf.value
          paths.flatMap { p =>
            val sub = new Path(p)
            val subFs = sub.getFileSystem(conf)
            listTree(subFs, subFs.listStatus(sub).toSeq, strip)
          }
        }
      listed.toDF().unionByName(
        spark.createDataset(listTree(fs, files.toSeq, strip)).toDF())
    }
  }
}
