package graft.dwca

import java.io.File
import java.nio.file.{Files, Path}
import java.util.zip.ZipFile

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/** Reads a Darwin Core Archive (directory or .zip of delimited text files +
  * `meta.xml`) into Spark DataFrames — the Spark-native equivalent of the
  * reference's `DwCAReader`/`pd_read` usage (dwc_validator/validate_dwca.py:27-28,
  * :81-82).
  *
  * Design notes for scale: the archive text files are read by the `dwca`
  * DataSourceV2 source, which splits an unquoted newline-terminated file
  * into byte ranges, so a large core parses on every core and is never
  * materialized on the driver. All columns are read as strings, matching
  * the reference's `parse_dates=False` lenient-typing model; typed
  * interpretation happens per-check via `try_cast` (SURVEY.md §1.2). Zip
  * archives are extracted to a temp dir on the driver first — Spark cannot
  * read inside zips; for 100 TB-scale archives the expectation is extracted
  * files on distributed storage. `close()` deletes that extraction once the
  * frames' actions are done.
  */
final class DwcaArchive private (
    val spark: SparkSession,
    val descriptor: ArchiveDescriptor,
    rootDir: File,
    extractedDir: Option[File]) extends AutoCloseable {

  def coreDataFrame: DataFrame = read(descriptor.core)

  def extensionDataFrames: Seq[(TableDescriptor, DataFrame)] =
    descriptor.extensions.map(e => e -> read(e))

  /** Core ⋈ extension left join on the DwCA star-schema link: core `id` =
    * extension `coreid` (reference meta.xml declares the key —
    * test/event_archives/dwca-simple/meta.xml:17,25 — but the reference
    * never joins; SURVEY.md §2.5 names this the natural extension).
    * Extension columns are prefixed `<extRowTypeLocalName>_` to avoid
    * collisions with core column names. At scale this is a plain shuffled
    * equi-join on the id key (or broadcast when the extension is small) —
    * exactly what Catalyst picks for `core.join(ext, "left")`.
    */
  def joined(ext: TableDescriptor): DataFrame =
    DwcaArchive.starJoin(coreDataFrame, read(ext), ext.rowTypeLocalName)

  /** Read one table of the archive through the `dwca` source
    * ([[graft.sources.DwcaDataSource]]), the one parser of the meta.xml
    * dialect: columns are the declared terms named positionally (id/coreid
    * per SURVEY.md T4) plus the default-only fields, all strings, with
    * pandas' NA tokens read as null.
    */
  def read(table: TableDescriptor): DataFrame = {
    val reader = spark.read.format("dwca").option("path", rootDir.getAbsolutePath)
    (if (table.isCore) reader else reader.option("table", table.rowType)).load()
  }

  /** Deletes the directory a zip was extracted to (no-op for a directory
    * archive). Frames read from this archive must not be used after.
    */
  override def close(): Unit = extractedDir.foreach(DwcaArchive.deleteTree)
}

object DwcaArchive {

  /** The DwCA star join on core `id` = extension `coreid`, extension
    * columns prefixed `<extRowTypeLocalName>_` — ONE definition shared by
    * [[DwcaArchive.joined]] and `q_s2`, which builds the same join over
    * frames it loads with `format("dwca")` itself. At scale this is a plain
    * shuffled equi-join on the id key (or broadcast when the extension is
    * small) — exactly what Catalyst picks.
    */
  def starJoin(core: DataFrame, extDf: DataFrame, extRowTypeLocalName: String): DataFrame = {
    val prefix = extRowTypeLocalName.toLowerCase
    val renamed = extDf.toDF(extDf.columns.toSeq.map(c =>
      if (c == "coreid") c else s"${prefix}_$c"): _*)
    core.join(renamed, core("id") === renamed("coreid"), "left")
  }

  /** pandas' default NA token set (`pandas.io.parsers`, keep_default_na) —
    * the reference's `pd_read` treats every one of these as NaN; the
    * `dwca` source reads them as null for count/id/vocab parity.
    */
  val PandasNaTokens: Seq[String] = Seq(
    "#N/A", "#N/A N/A", "#NA", "-1.#IND", "-1.#QNAN", "-NaN", "-nan",
    "1.#IND", "1.#QNAN", "<NA>", "N/A", "NA", "NULL", "NaN", "None",
    "n/a", "nan", "null")

  /** Open an archive at `path` (directory, or .zip extracted to a temp dir
    * that the returned archive's `close()` deletes).
    */
  def open(spark: SparkSession, path: String): DwcaArchive = {
    val f = new File(path)
    val extracted =
      if (f.isDirectory) None
      else if (f.isFile) Some(extractZip(f))
      else throw new IllegalArgumentException(s"archive not found: $path")
    val dir = extracted.getOrElse(f)
    try {
      val meta = new File(dir, "meta.xml")
      if (!meta.isFile)
        throw new IllegalArgumentException(s"no meta.xml in archive: $path")
      new DwcaArchive(spark, MetaXml.parse(meta), dir, extracted)
    } catch {
      case e: Throwable => extracted.foreach(deleteTree); throw e
    }
  }

  private[graft] def deleteTree(dir: File): Unit =
    if (dir.exists())
      Files.walk(dir.toPath)
        .sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))

  /** Ceiling on driver-side extraction (bytes). Zip archives are unpacked
    * on the driver — the one deliberately non-distributed step (matches
    * the reference, which also reads the archive in-process). The cap
    * turns a would-be disk-filling extraction into a clear error; for an
    * archive beyond it, pre-extract to a directory (or distributed store)
    * and pass the directory path — every read after `open` is a normal
    * distributed Spark scan either way.
    */
  val MaxExtractBytes: Long = 8L << 30

  private[graft] def extractZip(zip: File, maxBytes: Long = MaxExtractBytes): File = {
    // the caller owns the directory's lifetime (DwcaArchive.close, or the
    // dwca source's exit hook): deleteOnExit cannot remove a non-empty one
    val tmp = Files.createTempDirectory("dwca-").toFile
    val zf = new ZipFile(zip)
    var extracted = 0L
    var ok = false
    try {
      zf.entries().asScala.foreach { e =>
        val target: Path = tmp.toPath.resolve(e.getName).normalize()
        if (!target.startsWith(tmp.toPath))
          throw new IllegalArgumentException(s"zip entry escapes archive dir: ${e.getName}")
        if (e.isDirectory) Files.createDirectories(target)
        else {
          Files.createDirectories(target.getParent)
          // Enforce the cap DURING the copy, not after: a single deflate-
          // bombed entry must die at the limit, never after it has already
          // filled the driver's disk.
          val in = zf.getInputStream(e)
          val out = Files.newOutputStream(target)
          try {
            val buf = new Array[Byte](64 * 1024)
            var n = in.read(buf)
            while (n >= 0) {
              extracted += n
              if (extracted > maxBytes)
                throw new IllegalArgumentException(
                  s"archive expands past $maxBytes bytes on the driver " +
                    s"(entry ${e.getName}); pre-extract it to a directory and " +
                    "pass the directory path")
              out.write(buf, 0, n)
              n = in.read(buf)
            }
          } finally { in.close(); out.close() }
        }
      }
      ok = true
    } finally {
      zf.close()
      // a failed extraction (cap breach, bad entry) must not leave partial
      // gigabytes behind
      if (!ok) deleteTree(tmp)
    }
    tmp
  }
}
