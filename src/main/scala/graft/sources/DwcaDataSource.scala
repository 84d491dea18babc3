package graft.sources

import java.io.{BufferedInputStream, File, FileInputStream, InputStream}
import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.Files
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import java.util

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In, IsNotNull, IsNull, StringStartsWith}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.dwca.{CsvDialect, DwcaArchive, MetaXml, TableDescriptor}

/** DataSourceV2 `TableProvider` for Darwin Core Archives — the production
  * ingestion shape of the reference's whole-library entry point
  * (validate_dwca.py:27-28): an archive mounts as a catalog table,
  *
  * {{{
  *   spark.read.format("dwca").option("path", dir).load()                  // core
  *   spark.read.format("dwca").option("path", dir)
  *     .option("table", "Occurrence").load()                               // extension
  * }}}
  *
  * with COLUMN PRUNING pushed into the scan: `SupportsPushDownRequiredColumns`
  * narrows the read schema, and the partition reader hands the pruned index
  * set to univocity's `selectIndexes` — unreferenced columns are never
  * materialized from the parsed line, the same discipline as a parquet
  * scan's ReadSchema. FILTER PUSHDOWN (`SupportsPushDownFilters`) accepts
  * the flat string predicates a CSV row loop can fully decide — EqualTo /
  * In / IsNull / IsNotNull / StringStartsWith — and drops non-matching
  * rows inside the reader (a filter column pruned from the output is still
  * parsed for the decision); everything else returns as a residual for the
  * post-scan Filter. This is the engine's one reader of the meta.xml
  * dialect (positional term naming, pandas NA-token normalization,
  * default-only constant fields): [[graft.dwca.DwcaArchive.read]] loads
  * through it, so the validator, q_s1/q_s2 and ArchiveParitySpec's
  * reference fixtures all exercise the same parse.
  *
  * Scale notes: meta.xml parses once on the driver (it IS the catalog
  * metadata), which also refuses a dialect the reader cannot parse, naming
  * the data file, before any job. A file whose dialect keeps every record
  * on one line — no `fieldsEnclosedBy`, `\n` or `\r\n` terminators, an
  * encoding in which byte 0x0A is always a newline — is split into byte
  * ranges by Spark's file-split rule (`spark.sql.files.maxPartitionBytes`,
  * `openCostInBytes`, default parallelism); each range reads the lines that
  * start inside it. Any other dialect (quoted fields may hold newlines) is
  * one input partition per file. Zip archives extract on the driver through
  * the size-capped [[DwcaArchive.extractZip]] (memoized per unchanged zip —
  * inferSchema and getTable share one extraction — and deleted at JVM
  * exit); at 100 TB the archive lives pre-extracted on distributed storage
  * and every partition reads its file from there.
  */
class DwcaDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "dwca"

  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DwcaDataSource.schemaFor(DwcaDataSource.resolve(options)._1)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val (td, dir) = DwcaDataSource.resolve(new CaseInsensitiveStringMap(properties))
    new DwcaTable(td, new File(dir, td.location).getAbsolutePath, schema)
  }
}

object DwcaDataSource {

  /** A zip's driver-side extraction, shared by the inferSchema/getTable
    * double-call and by every later read of the same zip while it stays
    * unchanged (size and mtime) and its extraction still holds a
    * `meta.xml`. A changed zip replaces its entry and the old extraction
    * is deleted; an extraction that vanished (a temp-dir cleaner) is
    * extracted again.
    */
  private final case class Extraction(size: Long, modified: FileTime, dir: File)

  private val extractedZips = mutable.Map.empty[String, Extraction]

  // One hook deletes every extraction still memoized when the JVM exits:
  // extractZip's directories are non-empty, which deleteOnExit cannot remove.
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    extractedZips.synchronized(
      extractedZips.values.foreach(e => Try(DwcaArchive.deleteTree(e.dir))))))

  private def extraction(zip: File): File = extractedZips.synchronized {
    val path = zip.getAbsolutePath
    val attrs = Files.readAttributes(zip.toPath, classOf[BasicFileAttributes])
    extractedZips.get(path) match {
      case Some(e) if e.size == attrs.size && e.modified == attrs.lastModifiedTime &&
          new File(e.dir, "meta.xml").isFile => e.dir
      case stale =>
        stale.foreach(e => DwcaArchive.deleteTree(e.dir))
        val dir = DwcaArchive.extractZip(zip)
        extractedZips(path) = Extraction(attrs.size, attrs.lastModifiedTime, dir)
        dir
    }
  }

  private[sources] def resolve(options: CaseInsensitiveStringMap): (TableDescriptor, File) = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("dwca source requires option 'path'"))
    val f = new File(path)
    val dir =
      if (f.isDirectory) f
      else if (f.isFile) extraction(f)
      else throw new IllegalArgumentException(s"archive not found: $path")
    val meta = new File(dir, "meta.xml")
    if (!meta.isFile)
      throw new IllegalArgumentException(s"no meta.xml in archive: $path")
    val desc = MetaXml.parse(meta)
    val which = Option(options.get("table")).getOrElse("core")
    val td =
      if (which.equalsIgnoreCase("core")) desc.core
      else desc.extensions
        .find(e => e.rowTypeLocalName.equalsIgnoreCase(which) || e.rowType == which)
        .getOrElse(throw new IllegalArgumentException(
          s"archive has no extension '$which'; available: " +
            desc.extensions.map(_.rowTypeLocalName).mkString(", ")))
    checkDialect(td.dialect, s"archive $path, data file ${td.location}")
    (td, dir)
  }

  /** Refuses, on the driver, a dialect [[DwcaPartitionReader]] cannot parse:
    * a line terminator other than one character or `\r\n`, and an encoding
    * this JVM does not know. `where` names the archive and the data file.
    */
  private def checkDialect(d: CsvDialect, where: String): Unit = {
    if (d.linesTerminatedBy.length > 1 && d.linesTerminatedBy != "\r\n")
      throw new IllegalArgumentException(s"$where: unsupported linesTerminatedBy " +
        s"${d.linesTerminatedBy.map(c => f"\\u${c.toInt}%04x").mkString}: one character or \\r\\n only")
    if (!Try(Charset.isSupported(d.encoding)).getOrElse(false))
      throw new IllegalArgumentException(s"$where: unsupported encoding '${d.encoding}'")
  }

  /** All-string schema: positional term names plus default-only constant
    * fields — the reference's lenient-typing model (typed interpretation
    * stays per-check via try_cast). A data file narrower than meta.xml
    * reads its missing terms as null; columns past the declared ones are
    * not read.
    */
  private[sources] def schemaFor(td: TableDescriptor): StructType = {
    val positional = td.columnNames
    val defaults = td.defaultOnlyFields.map(_.localName).filterNot(positional.contains)
    StructType((positional ++ defaults).map(StructField(_, StringType, nullable = true)))
  }
}

final class DwcaTable(td: TableDescriptor, dataFile: String, tableSchema: StructType)
    extends Table with SupportsRead {

  override def name(): String = s"dwca.${td.rowTypeLocalName}"

  override def schema(): StructType = tableSchema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DwcaScanBuilder(td, dataFile, tableSchema)
}

final class DwcaScanBuilder(td: TableDescriptor, dataFile: String, full: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  private var countStar = false

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** COUNT(*) pushdown — the archive-cardinality probe every ingest runs
    * first ("how many occurrence rows is this 40 GB zip?"): an ungrouped
    * bare count answers INSIDE the reader — the CSV scan advances records
    * (and decides any pushed row filters) without materializing a single
    * column value, and ships back ONE long. Complete pushdown is sound
    * here because [[DwcaCountScan]] reads the file as one input partition
    * (unlike [[DwcaScan]], it never splits), so the partition-local count
    * IS the final answer. Anything grouped, or any other aggregate,
    * declines — Spark keeps its own aggregation over the normal scan.
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    agg.groupByExpressions.isEmpty && agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions()(0)
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    countStar = supportCompletePushDown(agg)
    countStar
  }

  /** Accept the flat string predicates a row-skipping CSV scan can fully
    * decide (EqualTo / In / IsNull / IsNotNull / StringStartsWith over a
    * declared field); everything else stays a post-scan residual. Accepted
    * filters are evaluated against the PARSED value (post NA-token
    * normalization), so `IsNull` matches pandas-NA tokens exactly as a
    * post-scan filter over the unfiltered frame would.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val known = full.fieldNames.toSet
    def acceptable(f: Filter): Boolean = f match {
      case EqualTo(a, v) => known(a) && (v == null || v.isInstanceOf[String])
      case In(a, vs) => known(a) && vs.forall(v => v == null || v.isInstanceOf[String])
      case IsNull(a) => known(a)
      case IsNotNull(a) => known(a)
      case StringStartsWith(a, _) => known(a)
      case _ => false
    }
    val (acc, residual) = filters.partition(acceptable)
    pushed = acc
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    if (countStar) new DwcaCountScan(td, dataFile, pushed)
    else new DwcaScan(td, dataFile, required, pushed, SparkSession.active)
}

/** Scan for a completely-pushed ungrouped COUNT(*): one partition, one
  * emitted row of one BIGINT. Pushed row filters still apply — the count
  * is of SURVIVING records, decided by the same in-reader predicate path
  * as a normal scan.
  */
final class DwcaCountScan(td: TableDescriptor, dataFile: String, pushed: Array[Filter])
    extends Scan with Batch {

  override def readSchema(): StructType =
    new StructType().add("count_star", org.apache.spark.sql.types.LongType, false)

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    Array(DwcaFilePartition(dataFile))

  override def createReaderFactory(): PartitionReaderFactory =
    new DwcaCountReaderFactory(td, pushed)

  override def description(): String =
    s"DwcaCountScan ${td.rowTypeLocalName} PushedAggregates: [COUNT(*)] " +
      s"PushedFilters: [${pushed.mkString(", ")}]"
}

final class DwcaCountReaderFactory(td: TableDescriptor, pushed: Array[Filter])
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new DwcaCountReader(partition.asInstanceOf[DwcaFilePartition], td, pushed)
}

/** Drives the ordinary partition reader with an EMPTY projection (filter
  * columns still parse for the row decision — see [[DwcaPartitionReader]])
  * and reduces it to the single count row.
  */
final class DwcaCountReader(part: DwcaFilePartition, td: TableDescriptor, pushed: Array[Filter])
    extends PartitionReader[InternalRow] {

  private val inner = new DwcaPartitionReader(part, td, new StructType(), pushed)
  private var emitted = false
  private var count = 0L

  override def next(): Boolean =
    if (emitted) false
    else {
      while (inner.next()) count += 1
      emitted = true
      true
    }

  override def get(): InternalRow = new GenericInternalRow(Array[Any](count))

  override def close(): Unit = inner.close()
}

/** `session` is the one the scan was built in: its file-split confs size
  * the byte ranges.
  */
final class DwcaScan(td: TableDescriptor, dataFile: String, required: StructType,
    pushed: Array[Filter], session: SparkSession)
    extends Scan with Batch {

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  /** One partition per file, or — when [[DwcaScan.splittable]] — byte
    * ranges of Spark's file-split size over the bytes after the header
    * lines, which the driver finds here so that no range skips a row.
    */
  override def planInputPartitions(): Array[InputPartition] =
    if (!DwcaScan.splittable(td.dialect)) Array(DwcaFilePartition(dataFile))
    else {
      val length = new File(dataFile).length
      val first = DwcaScan.headerEnd(dataFile, td.dialect.ignoreHeaderLines)
      val openCost = session.sessionState.conf.filesOpenCostInBytes
      val split = FilePartition.maxSplitBytes(session, length + openCost)
      val starts = first until length by split
      (if (starts.isEmpty) Seq(first) else starts)
        .map(s => DwcaFilePartition(dataFile, s, math.min(s + split, length))).toArray
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new DwcaReaderFactory(td, required, pushed)

  override def description(): String =
    s"DwcaScan ${td.rowTypeLocalName} cols=[${required.fieldNames.mkString(",")}] " +
      s"PushedFilters: [${pushed.mkString(", ")}]"
}

object DwcaScan {

  /** The dialects whose records are exactly the file's `\n`-ended lines,
    * found by byte: unquoted (a quoted field may hold a newline), `\n` or
    * `\r\n` terminators, and an encoding in which byte 0x0A is only ever
    * a newline.
    */
  private[sources] def splittable(d: CsvDialect): Boolean =
    d.fieldsEnclosedBy.isEmpty && (d.linesTerminatedBy == "\n" || d.linesTerminatedBy == "\r\n") &&
      Set(StandardCharsets.UTF_8, StandardCharsets.US_ASCII, StandardCharsets.ISO_8859_1)
        .contains(Charset.forName(d.encoding))

  /** Offset just past the first `lines` newlines of `path` (its length if
    * it has fewer).
    */
  private[sources] def headerEnd(path: String, lines: Int): Long = {
    val in = new BufferedInputStream(new FileInputStream(path))
    try {
      var offset, seen = 0L
      var b = 0
      while (seen < lines && { b = in.read(); b >= 0 }) {
        offset += 1
        if (b == '\n') seen += 1
      }
      offset
    } finally in.close()
  }
}

/** Bytes `[start, end)` of a data file, read as the lines that start inside
  * them; `end < 0` is the whole file, whose reader also skips the header
  * lines.
  */
final case class DwcaFilePartition(path: String, start: Long = 0L, end: Long = -1L)
    extends InputPartition {
  def whole: Boolean = end < 0
}

/** The bytes of the lines that start in `[start, end)` of `path`: the line
  * running into `start` is the previous range's, and the line running past
  * `end` is read through its `\n`. Sound only where byte 0x0A always ends
  * a record ([[DwcaScan.splittable]]).
  */
private[sources] final class LineRangeInputStream(path: String, start: Long, end: Long)
    extends InputStream {

  private val in = {
    val file = new FileInputStream(path)
    // from the byte before start: a line starts at start only if that
    // byte is a newline
    if (start > 0) file.getChannel.position(start - 1)
    new BufferedInputStream(file, 1 << 16)
  }
  private var pos = math.max(start - 1, 0L) // file offset of in's next byte
  private var done = false

  private def nextByte(): Int = {
    val b = in.read()
    if (b >= 0) pos += 1
    b
  }

  if (start > 0) {
    var b = nextByte()
    while (b >= 0 && b != '\n') b = nextByte()
  }
  done = pos >= end

  override def read(): Int =
    if (done) -1
    else {
      val b = nextByte()
      if (b < 0 || (b == '\n' && pos >= end)) done = true
      b
    }

  override def read(buf: Array[Byte], off: Int, len: Int): Int =
    if (done) -1
    else if (len == 0) 0
    else if (pos < end) {
      val n = in.read(buf, off, math.min(len.toLong, end - pos).toInt)
      if (n < 0) { done = true; -1 }
      else {
        pos += n
        if (pos >= end && buf(off + n - 1) == '\n') done = true
        n
      }
    } else {
      // past end: the rest of the last line, through its newline
      var n = 0
      var b = 0
      while (n < len && { b = read(); b >= 0 }) { buf(off + n) = b.toByte; n += 1 }
      if (n == 0) -1 else n
    }

  // Nonzero while bytes remain, as a file's: a decoding reader then fills
  // the parser's first buffer past one chunk, so univocity detects the line
  // separator from whole lines, not from a chunk that ends mid-line.
  override def available(): Int = if (done) 0 else in.available()

  override def close(): Unit = in.close()
}

final class DwcaReaderFactory(td: TableDescriptor, required: StructType,
    pushed: Array[Filter])
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new DwcaPartitionReader(partition.asInstanceOf[DwcaFilePartition], td, required, pushed)
}

/** Per-partition univocity CSV parse honoring the meta.xml dialect, with
  * the pruned column index set pushed into the parser (`selectIndexes`) so
  * unused columns never materialize. The dialect was checked on the driver
  * (`DwcaDataSource.resolve`).
  */
final class DwcaPartitionReader(part: DwcaFilePartition, td: TableDescriptor, required: StructType,
    pushed: Array[Filter])
    extends PartitionReader[InternalRow] {

  import com.univocity.parsers.csv.{CsvParser, CsvParserSettings}

  private val d = td.dialect
  private val positional = td.columnNames
  private val defaults: Map[String, String] =
    td.defaultOnlyFields.flatMap(f => f.default.map(f.localName -> _)).toMap

  // the parse must materialize required positionals PLUS any positional a
  // pushed filter references (a filter column pruned from the output still
  // has to be read to decide the row) — required first, filter extras after
  private val filterCols: Array[String] = pushed.flatMap {
    case EqualTo(a, _) => Some(a)
    case In(a, _) => Some(a)
    case IsNull(a) => Some(a)
    case IsNotNull(a) => Some(a)
    case StringStartsWith(a, _) => Some(a)
    case _ => None
  }.distinct

  private val parsedNames: Array[String] = {
    val reqPos = required.fieldNames.filter(positional.contains)
    reqPos ++ filterCols.filter(c => positional.contains(c) && !reqPos.contains(c))
  }
  private val selectedIndexes: Array[Int] = parsedNames.map(positional.indexOf)
  // name → position in the SELECTED parse array (univocity emits selected
  // fields in selection order)
  private val selPos: Map[String, Int] = parsedNames.zipWithIndex.toMap

  // required field → producer: Left(position in the SELECTED parse array)
  // or Right(constant: a default-only field's value, or null)
  private val producers: Array[Either[Int, UTF8String]] =
    required.fields.map { f =>
      selPos.get(f.name) match {
        case Some(sel) => Left(sel)
        case None => Right(defaults.get(f.name).map(UTF8String.fromString).orNull)
      }
    }

  private val parser: CsvParser = {
    val settings = new CsvParserSettings
    settings.getFormat.setDelimiter(d.fieldsTerminatedBy)
    // empty fieldsEnclosedBy disables quote handling (the DwCA default):
    // \uffff is a Unicode noncharacter, so no quoting ever triggers. Not
    // \u0000, Spark CSV's choice: that is also univocity's "no character
    // read yet", and an input with no record after the header lines would
    // end in one all-null row.
    settings.getFormat.setQuote(
      if (d.fieldsEnclosedBy.isEmpty) '\uffff' else d.fieldsEnclosedBy.charAt(0))
    d.linesTerminatedBy match {
      case "" | "\n" | "\r\n" | "\r" => settings.setLineSeparatorDetectionEnabled(true)
      case sep => settings.getFormat.setLineSeparator(sep) // one character (checked on the driver)
    }
    // a byte range starts after the header lines
    if (part.whole) settings.setNumberOfRowsToSkip(d.ignoreHeaderLines.toLong)
    // match Spark CSV READ defaults: no comment lines, no whitespace
    // trimming on unquoted fields, up to 20,480 physical columns
    settings.getFormat.setComment('\u0000')
    settings.setMaxColumns(20480)
    settings.setIgnoreLeadingWhitespaces(false)
    settings.setIgnoreTrailingWhitespaces(false)
    // pruning reaches the parse: only the required positional columns are
    // materialized (count(*)-style scans select nothing and just count
    // records)
    if (selectedIndexes.nonEmpty)
      settings.selectIndexes(selectedIndexes.map(Integer.valueOf).toSeq: _*)
    // unbounded: a growing buffer, as Spark's CSV source (a fixed width
    // allocates it whole in every partition reader)
    settings.setMaxCharsPerColumn(-1)
    new CsvParser(settings)
  }

  private val reader: java.io.Reader = {
    val bytes =
      if (part.whole) new FileInputStream(part.path)
      else new LineRangeInputStream(part.path, part.start, part.end)
    val in = new java.io.InputStreamReader(bytes, Charset.forName(d.encoding))
    parser.beginParsing(in)
    in
  }

  private var row: Array[String] = _

  /** Parsed value of a filter-referenced field for the CURRENT row, after
    * the same NA-token normalization the output path applies — so pushed
    * `IsNull` decides exactly like a post-scan filter would.
    */
  private def rawValue(name: String): String = selPos.get(name) match {
    case Some(sel) =>
      val v = if (sel < row.length) row(sel) else null
      if (v == null || DwcaPartitionReader.NaTokens.contains(v)) null else v
    case None => defaults.get(name).orNull
  }

  /** Spark `sources.Filter` semantics over string values: comparisons with
    * null never match (three-valued logic collapses to false for a WHERE).
    */
  private def matches(): Boolean = pushed.forall {
    case EqualTo(a, v) =>
      val x = rawValue(a); x != null && v != null && x == v.asInstanceOf[String]
    case In(a, vs) =>
      val x = rawValue(a); x != null && vs.exists(v => v != null && v.asInstanceOf[String] == x)
    case IsNull(a) => rawValue(a) == null
    case IsNotNull(a) => rawValue(a) != null
    case StringStartsWith(a, p) =>
      val x = rawValue(a); x != null && x.startsWith(p)
    case _ => true // unreachable: pushFilters only accepts the cases above
  }

  override def next(): Boolean = {
    row = parser.parseNext()
    while (row != null && !matches()) row = parser.parseNext()
    row != null
  }

  override def get(): InternalRow = {
    val values = new Array[Any](producers.length)
    var i = 0
    while (i < producers.length) {
      values(i) = producers(i) match {
        case Left(sel) =>
          val v = if (sel < row.length) row(sel) else null
          // pandas NA-token normalization (empty fields already arrive
          // as null from univocity)
          if (v == null || DwcaPartitionReader.NaTokens.contains(v)) null
          else UTF8String.fromString(v)
        case Right(const) => const
      }
      i += 1
    }
    new GenericInternalRow(values)
  }

  override def close(): Unit = {
    if (parser != null) parser.stopParsing()
    reader.close()
  }
}

object DwcaPartitionReader {
  private val NaTokens: Set[String] = DwcaArchive.PandasNaTokens.toSet
}
