package graft.sources.v2

import graft.inmet.Ingest
import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.util
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, SpecificInternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 for the INMET station-CSV micro-format — the engine
  * reads the reference's raw input as a FIRST-CLASS table:
  * `spark.read.format("graft.sources.v2.InmetSource").load(glob)`.
  *
  * The raw file is not a CSV: an 8-line `KEY:;VALUE` metadata section,
  * then a header row naming the hourly columns, then `;`-separated data
  * rows with decimal commas, dual date formats, and a trailing-`;` ghost
  * column (see SURVEY.md §1.3). The source has two faces over the files:
  *   - hourly (default): one row per data line, the `previsoes` schema;
  *   - `option("section", "stations")`: one raw-string row per file with
  *     the station attributes, the columns of Ingest.stationHeadersRaw
  *     minus `file`, for Ingest.cidades to type.
  *
  * Both mirror graft.inmet.Ingest's line rules, which the DuckDB oracle
  * mirrors too: lines end at LF, CR or CRLF and a leading UTF-8 BOM is
  * dropped (Hadoop's LineRecordReader); a metadata line is any line
  * shaped `^[^;]+:;`, its key the lowercased text before the first `:;`,
  * its value the text after the last `:;`, and the first line with a key
  * wins; a file's header is its lexicographically smallest `Data;` line;
  * every line shaped `^\d{2,4}/\d{2}/\d{2,4};` is a data row; values
  * are trimmed of spaces only (Spark's `trim`); dates parse strictly in
  * the three INMET formats (unparseable → row dropped), measures as
  * strict decimal-comma numerals (else 0.0); and a file without a header
  * or without any metadata line gives no hourly rows. Because the header
  * and the station code may sit anywhere in a file, the hourly face holds
  * one file's lines in memory (a station-year of hourly rows is ~1 MB);
  * the station face stops reading a file once it has all eight keys.
  *
  * The hourly kernel does the per-row work without regexes, formatters or
  * per-field allocation: the data-line shape is checked by hand
  * (isDataLine), field bounds come from `indexOf(';')` up to the highest
  * column the pruned schema needs, dates are read by shape and ASCII
  * digits (epochDay) and numerals in place (commaNumeral, exact up to 15
  * significant digits, else parseDouble), each distinct header line is
  * resolved once per task, and rows are filled into one reused
  * SpecificInternalRow (Spark projects scan rows to unsafe rows above
  * the scan). IngestPropertySpec pins epochDay and commaNumeral to the
  * Catalyst functions. The session's hadoop conf reaches the readers as
  * one broadcast per scan, as Spark's file sources ship theirs, not
  * serialized into every task.
  *
  * Scale design: files are PACKED into splits by Spark's own file-source
  * rule and confs (split size min(files.maxPartitionBytes,
  * max(files.openCostInBytes, Σ(len + openCost) / minPartitionNum)),
  * files largest first, next-fit), so a few hundred small station files
  * make as many tasks as `spark.read.text` would, not one each; a file
  * is never split, because its rows need its own header. Only the
  * micro-batch face plans one file per partition. Column PRUNING via
  * SupportsPushDownRequiredColumns (a `select(wmo)` never parses the
  * other 5 measures), and filter PUSHDOWN via SupportsPushDownFilters on
  * `data_medicao` bounds and `wmo` equality — a time-scoped query skips
  * non-matching rows inside the scan, and a wmo-pinned query skips whole
  * files before parsing their rows. NOTE the DSv2 contract: filters this
  * builder ACCEPTS (returns from pushFilters as handled) are trusted and
  * NOT re-evaluated by Spark above the scan — the reader's bound/equality
  * application is load-bearing, which is why pushFilters only accepts
  * date filters whose literal is a Date/LocalDate it knows how to apply
  * and hands everything else back for post-scan evaluation. The station
  * face accepts no filters. */
class InmetSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    InmetSource.schemaOf(InmetSource.stationsFace(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new InmetTable(properties.get("path"), InmetSource.stationsFace(properties))

  override def supportsExternalMetadata(): Boolean = false
}

object InmetSource {
  /** The active session's hadoop conf on the driver; default conf when
    * called outside a session (tests constructing readers directly). */
  def sessionHadoopConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  /** `conf` for executor-side readers, broadcast once per scan as Spark's
    * file sources ship theirs, not serialized into every task. */
  def broadcastConf(conf: Configuration): Broadcast[SerializableConfiguration] =
    SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(conf))

  val schema: StructType = StructType(Seq(
    StructField("wmo", StringType),
    StructField("data_medicao", DateType),
    StructField("precipitacao_mm", DoubleType),
    StructField("pressao_atm_kpa", DoubleType),
    StructField("temperatura_c", DoubleType),
    StructField("umidade_porcentagem", DoubleType),
    StructField("vento_mps", DoubleType)))

  /** The station face's raw attributes, in Ingest.stationHeadersRaw's
    * column order. */
  val stationSchema: StructType =
    StructType(Ingest.metaKeys.map { case (_, c) => StructField(c, StringType) })

  val SectionOption = "section"
  val StationsSection = "stations"

  def stationsFace(options: util.Map[String, String]): Boolean =
    Option(options.get(SectionOption)) match {
      case None | Some("hourly") => false
      case Some(StationsSection) => true
      case Some(v) => throw new IllegalArgumentException(
        s"$SectionOption must be hourly or $StationsSection, not $v")
    }

  def schemaOf(stations: Boolean): StructType =
    if (stations) stationSchema else schema

  /** Spark's `trim`: strips spaces only, where String.trim strips every
    * character up to U+0020. */
  def trimSpaces(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b)
  }

  /** [[epochDay]]'s value for a field that is not a date. */
  val NoDate: Int = Int.MinValue

  private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  /** The value of `n` ASCII digits at `s(i)`, or -1. */
  private def digits(s: String, i: Int, n: Int): Int = {
    var v = 0
    var k = 0
    while (k < n) {
      val c = s.charAt(i + k)
      if (!isDigit(c)) return -1
      v = v * 10 + (c - '0')
      k += 1
    }
    v
  }

  /** Ingest.parseDateFlexible of `s(from until to)`, as days since the
    * epoch, or [[NoDate]]. The field is trimmed of spaces, its shape picks
    * the format (`uuuu/MM/dd`, `dd/MM/uuuu` or `dd/MM/uu`, a 2-digit year
    * meaning 2000-2099), and the date must exist: STRICT resolution, as
    * Spark's parser does, so 2023/02/29 and 31/04/2023 are no dates. */
  def epochDay(s: String, from: Int, to: Int): Int = {
    var a = from
    var b = to
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    val n = b - a
    var y, m, d = -1
    if (n == 10 && s.charAt(a + 4) == '/' && s.charAt(a + 7) == '/') {
      y = digits(s, a, 4); m = digits(s, a + 5, 2); d = digits(s, a + 8, 2)
    } else if ((n == 10 || n == 8) && s.charAt(a + 2) == '/' && s.charAt(a + 5) == '/') {
      d = digits(s, a, 2); m = digits(s, a + 3, 2); y = digits(s, a + 6, n - 6)
      if (n == 8 && y >= 0) y += 2000
    }
    val monthDays = m match {
      case 2 => if (y % 4 == 0 && (y % 100 != 0 || y % 400 == 0)) 29 else 28
      case 4 | 6 | 9 | 11 => 30
      case _ => 31
    }
    if (y < 0 || m < 1 || m > 12 || d < 1 || d > monthDays) NoDate
    else LocalDate.of(y, m, d).toEpochDay.toInt
  }

  def epochDay(s: String): Int = epochDay(s, 0, s.length)

  /** Exact powers of ten: `m / Pow10(k)` is correctly rounded for a
    * mantissa `m` < 2^53 and `k` <= 22, so it equals parseDouble. */
  private val Pow10: Array[Double] = Array.tabulate(23)(k => math.pow(10, k))

  /** Ingest.commaDouble of `s(from until to)`, or NaN where that is null
    * (callers zero-fill). The field is trimmed of spaces and must be an
    * optional leading `-`, ASCII digits and at most one decimal `,` or
    * `.`, with at least one digit. Up to 15 significant digits and 22
    * fraction digits it is parsed in place, otherwise by parseDouble. */
  def commaNumeral(s: String, from: Int, to: Int): Double = {
    var a = from
    var b = to
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    val neg = a < b && s.charAt(a) == '-'
    var i = if (neg) a + 1 else a
    var mantissa = 0L
    var significant, fraction, digitCount = 0
    var point = false
    while (i < b) {
      val c = s.charAt(i)
      if (isDigit(c)) {
        digitCount += 1
        if (point) fraction += 1
        if (significant > 0 || c != '0') {
          significant += 1
          if (significant <= 15) mantissa = mantissa * 10 + (c - '0')
        }
      } else if ((c == ',' || c == '.') && !point) point = true
      else return Double.NaN
      i += 1
    }
    if (digitCount == 0) Double.NaN
    else if (significant <= 15 && fraction <= 22) {
      val v = mantissa / Pow10(fraction)
      if (neg) -v else v
    } else java.lang.Double.parseDouble(s.substring(a, b).replace(',', '.'))
  }

  def commaNumeral(s: String): Double = commaNumeral(s, 0, s.length)

  /** Ingest.previsoes' data-row shape, `^\d{2,4}/\d{2}/\d{2,4};`. */
  def isDataLine(line: String): Boolean = {
    val n = line.length
    def run(from: Int): Int = {
      var i = from
      while (i < n && isDigit(line.charAt(i))) i += 1
      i - from
    }
    val y = run(0)
    y >= 2 && y <= 4 && n > y + 3 && line.charAt(y) == '/' &&
      isDigit(line.charAt(y + 1)) && isDigit(line.charAt(y + 2)) &&
      line.charAt(y + 3) == '/' && {
        val r = run(y + 4)
        r >= 2 && r <= 4 && y + 4 + r < n && line.charAt(y + 4 + r) == ';'
      }
  }

  /** (key, value) of a `KEY:;VALUE` metadata line as
    * Ingest.stationHeadersRaw reads it: the first `;` of the line follows
    * a `:` with at least one character before it (`^[^;]+:;`). */
  def metaEntry(line: String): Option[(String, String)] = {
    val semi = line.indexOf(';')
    if (semi < 2 || line.charAt(semi - 1) != ':') None
    else Some(trimSpaces(line.substring(0, semi - 1)).toLowerCase ->
      trimSpaces(line.substring(line.lastIndexOf(":;") + 2)))
  }

  /** Spark's file-source split packing (FilePartition's rule and confs):
    * files largest first, next-fit into splits of FilePartition's
    * maxSplitBytes. Files are never split. */
  def pack(files: Seq[FileStatus]): Seq[Seq[String]] = {
    val spark = SparkSession.active
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(spark,
      files.map(_.getLen + openCost).sum)
    val splits = Seq.newBuilder[Seq[String]]
    var split = Vector.empty[String]
    var size = 0L
    files.sortBy(-_.getLen).foreach { f =>
      if (split.nonEmpty && size + f.getLen > maxSplit) {
        splits += split
        split = Vector.empty
        size = 0L
      }
      split :+= f.getPath.toString
      size += f.getLen + openCost
    }
    if (split.nonEmpty) splits += split
    splits.result()
  }
}

class InmetTable(pathGlob: String, stations: Boolean) extends Table with SupportsRead {
  override def name(): String = s"inmet(`$pathGlob`)"
  override def schema(): StructType = InmetSource.schemaOf(stations)
  override def capabilities(): util.Set[TableCapability] =
    if (stations) util.EnumSet.of(TableCapability.BATCH_READ)
    else util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new InmetScanBuilder(pathGlob, stations)
}

class InmetScanBuilder(pathGlob: String, stations: Boolean) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private var required: StructType = InmetSource.schemaOf(stations)
  private var pushed: Array[Filter] = Array.empty

  // accepted filters are NOT re-evaluated by Spark — only claim values
  // the reader can apply exactly (Date/LocalDate literals); anything else
  // is handed back so Spark evaluates it post-scan instead of the reader
  // failing at runtime on an unanticipated literal type
  private def isDateLit(v: Any): Boolean = v match {
    case _: java.sql.Date | _: java.time.LocalDate => true
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case _ if stations => false
      case EqualTo("wmo", _: String) => true
      case EqualTo("data_medicao", v) => isDateLit(v)
      case GreaterThan("data_medicao", v) => isDateLit(v)
      case GreaterThanOrEqual("data_medicao", v) => isDateLit(v)
      case LessThan("data_medicao", v) => isDateLit(v)
      case LessThanOrEqual("data_medicao", v) => isDateLit(v)
      case _ => false
    }
    pushed = accepted
    rejected // Spark evaluates these above the scan
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new InmetScan(pathGlob, required, pushed, stations)
}

class InmetScan(pathGlob: String, required: StructType,
    pushed: Array[Filter], stations: Boolean) extends Scan with Batch {
  // captured ON THE DRIVER at scan-build time: the session's hadoop conf
  // (credentials, custom schemes); the glob uses it as is, the readers
  // get it through a broadcast
  private val hconf = InmetSource.sessionHadoopConf()

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new InmetMicroBatchStream(pathGlob, required, pushed, hconf)
  override def description(): String =
    s"InmetScan ReadSchema: ${required.fieldNames.mkString("[", ",", "]")}, " +
      s"PushedFilters: ${pushed.mkString("[", ", ", "]")}"

  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(pathGlob)
    val fs = p.getFileSystem(hconf)
    val matched = Option(fs.globStatus(p)).getOrElse(Array.empty)
    InmetSource.pack(matched.toSeq).map(InmetPartition(_): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new InmetReaderFactory(required, pushed, InmetSource.broadcastConf(hconf), stations)
}

/** The files one task reads, one after another. */
case class InmetPartition(files: Seq[String]) extends InputPartition

/** File-count offset into the sorted discovery log. */
case class InmetOffset(n: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = n.toString
}

/** Micro-batch face of the same scan: `spark.readStream.format(...)`
  * serves the streaming ingest path through the identical per-file
  * reader — pruning and pushdown included, since the stream is built
  * from the already-negotiated ScanBuilder state.
  *
  * Offsets are FILE-granularity: the stream keeps a driver-side
  * discovery log (first glob sorted by path; later-appearing files
  * appended in sorted order at each `latestOffset` poll), and an offset
  * is a prefix length of that log. A batch (start, end] reads exactly
  * the files in log positions [start, end), one input partition per
  * file (unlike the packed batch scan), so a batch of newly landed
  * station files reads with per-station parallelism. Station files are
  * treated as immutable once visible (the INMET estate is
  * drop-complete-files). Recovery
  * contract: on restart the log is rebuilt by re-globbing, so a
  * checkpointed prefix is valid when the directory grew append-only in
  * sorted order — the same assumption file-granularity offsets imply
  * for any glob-discovery source without a per-file ledger. */
class InmetMicroBatchStream(pathGlob: String, required: StructType,
    pushed: Array[Filter], hconf: Configuration)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private val log = new scala.collection.mutable.LinkedHashSet[String]
  // one broadcast for every batch of the stream
  private lazy val readerConf = InmetSource.broadcastConf(hconf)

  private def refresh(): Unit = {
    val p = new Path(pathGlob)
    val fs = p.getFileSystem(hconf)
    val now = Option(fs.globStatus(p)).getOrElse(Array.empty)
      .map(_.getPath.toString).sorted
    now.foreach { f => if (!log.contains(f)) log += f }
  }

  override def initialOffset(): Offset = InmetOffset(0)
  override def latestOffset(): Offset = { refresh(); InmetOffset(log.size) }
  override def deserializeOffset(json: String): Offset =
    InmetOffset(json.trim.toInt)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[InmetOffset].n
    val e = end.asInstanceOf[InmetOffset].n
    if (log.size < e) refresh()
    log.iterator.slice(s, e)
      .map(f => InmetPartition(Seq(f)): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new InmetReaderFactory(required, pushed, readerConf, stations = false)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class InmetReaderFactory(required: StructType, pushed: Array[Filter],
    conf: Broadcast[SerializableConfiguration], stations: Boolean)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new InmetReader(partition.asInstanceOf[InmetPartition].files, required,
      pushed, conf.value.value, stations)
}

/** Streams a split's files one after another: each file's station row
  * (station face) or its filtered, pruned hourly rows. Only the REQUIRED
  * fields of a data line are located and parsed, into one reused row. */
class InmetReader(files: Seq[String], required: StructType, pushed: Array[Filter],
    conf: Configuration, stations: Boolean) extends PartitionReader[InternalRow] {
  import InmetSource.{NoDate, commaNumeral, epochDay, isDataLine, metaEntry}

  // pushed-filter bounds (days since epoch); wmo equality short-circuit
  private def days(v: Any): Int = v match {
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
    case d: java.time.LocalDate => d.toEpochDay.toInt
    case o => throw new IllegalArgumentException(s"date filter value $o")
  }
  private var loDays = Int.MinValue
  private var hiDays = Int.MaxValue
  private var wmoEq: Option[String] = None
  pushed.foreach {
    case EqualTo("wmo", s: String) => wmoEq = Some(s)
    case EqualTo("data_medicao", v) =>
      loDays = math.max(loDays, days(v)); hiDays = math.min(hiDays, days(v))
    case GreaterThan("data_medicao", v) => loDays = math.max(loDays, days(v) + 1)
    case GreaterThanOrEqual("data_medicao", v) => loDays = math.max(loDays, days(v))
    case LessThan("data_medicao", v) => hiDays = math.min(hiDays, days(v) - 1)
    case LessThanOrEqual("data_medicao", v) => hiDays = math.min(hiDays, days(v))
    case _ =>
  }

  private val fileIter = files.iterator
  private var current: InternalRow = _

  /** Reads `file`'s lines until `done` holds after one; LF, CR and CRLF
    * end a line, and a leading BOM is dropped, as Spark's text source
    * reads them. */
  private def readLines(file: String)(done: String => Boolean): Unit = {
    val p = new Path(file)
    val reader = new BufferedReader(new InputStreamReader(
      p.getFileSystem(conf).open(p), StandardCharsets.UTF_8))
    try {
      var line = reader.readLine()
      if (line != null && line.startsWith("\uFEFF")) line = line.substring(1)
      while (line != null && !done(line)) line = reader.readLine()
    } finally reader.close()
  }

  private val metaKeys = Ingest.metaKeys.map(_._1)

  /** One row of raw attributes for a file with any metadata line. */
  private def stationRow(file: String): Iterator[InternalRow] = {
    val attrs = scala.collection.mutable.Map.empty[String, String]
    var anyMeta = false
    readLines(file) { line =>
      metaEntry(line).foreach { case (k, v) =>
        anyMeta = true
        if (!attrs.contains(k)) attrs(k) = v
      }
      metaKeys.forall(attrs.contains)
    }
    val byColumn = Ingest.metaKeys.map { case (k, c) => c -> attrs.get(k) }.toMap
    if (!anyMeta) Iterator.empty
    else Iterator.single(new GenericInternalRow(required.fieldNames.map(c =>
      byColumn(c).map(UTF8String.fromString).orNull: Any)))
  }

  private lazy val stationRows = files.iterator.flatMap(stationRow)

  // hourly face. Per required field: -1 wmo, 0 data_medicao, 1 + i the
  // i-th measure; a slot indexes Ingest.headerIndex's result
  private val slots: Array[Int] = required.fieldNames.map {
    case "wmo" => -1
    case "data_medicao" => 0
    case m => 1 + Ingest.measureCols.indexOf(m)
  }
  private val row = new SpecificInternalRow(required.map(_.dataType))
  /** Ingest.headerIndex by header line (-1: no such column). */
  private val headerCols = scala.collection.mutable.HashMap.empty[String, Array[Int]]

  // the open file: its lines, the next one, its station code, the line
  // column of each required field and of the date, and the highest of these
  private var lines: Array[String] = Array.empty
  private var pos = 0
  private var wmoValue: UTF8String = _
  private val cols = new Array[Int](slots.length)
  private var dateCol = -1
  private var lastCol = -1
  // field k of the current line is line(starts(k) until ends(k))
  private var starts, ends = Array.empty[Int]

  /** Loads `file`; it gives no rows without a header, a metadata line
    * or the pushed station code, or when its header has no date column. */
  private def openHourly(file: String): Unit = {
    val all = Array.newBuilder[String]
    readLines(file) { line => all += line; false }
    lines = all.result()
    pos = 0
    var header: String = null
    var wmo: Option[String] = None
    var anyMeta = false
    lines.foreach { line =>
      if (line.startsWith("Data;")) {
        if (header == null || line < header) header = line
      } else metaEntry(line).foreach { case (k, v) =>
        anyMeta = true
        if (k == "codigo (wmo)" && wmo.isEmpty) wmo = Some(v)
      }
    }
    val hdr = if (header == null) null else headerCols.getOrElseUpdate(header,
      Ingest.headerIndex(header).map(_.getOrElse(-1)).toArray)
    if (hdr == null || hdr(0) < 0 || !anyMeta || wmoEq.exists(w => !wmo.contains(w))) {
      lines = Array.empty
      return
    }
    wmoValue = wmo.map(UTF8String.fromString).orNull
    dateCol = hdr(0)
    lastCol = dateCol
    var i = 0
    while (i < slots.length) {
      cols(i) = if (slots(i) < 0) -1 else hdr(slots(i))
      lastCol = math.max(lastCol, cols(i))
      i += 1
    }
    if (starts.length <= lastCol) {
      starts = new Array[Int](lastCol + 1)
      ends = new Array[Int](lastCol + 1)
    }
  }

  /** Fills `row` from a data line; false when its date is missing,
    * unparseable (reference semantics: the row is DROPPED, even when
    * data_medicao is pruned away) or outside the pushed bounds. */
  private def fill(line: String): Boolean = {
    // bounds of fields 0..lastCol, as `split(value, ";")` cuts them
    var fields = 0
    var from = 0
    while (fields <= lastCol && from >= 0) {
      val semi = line.indexOf(';', from)
      starts(fields) = from
      ends(fields) = if (semi < 0) line.length else semi
      from = if (semi < 0) -1 else semi + 1
      fields += 1
    }
    val day = if (dateCol < fields) epochDay(line, starts(dateCol), ends(dateCol)) else NoDate
    if (day == NoDate || day < loDays || day > hiDays) return false
    var i = 0
    while (i < slots.length) {
      slots(i) match {
        case -1 => row.update(i, wmoValue)
        case 0 => row.setInt(i, day)
        case _ =>
          val c = cols(i)
          val v = if (c >= 0 && c < fields) commaNumeral(line, starts(c), ends(c)) else Double.NaN
          row.setDouble(i, if (java.lang.Double.isNaN(v)) 0.0 else v)
      }
      i += 1
    }
    true
  }

  private def nextHourly(): Boolean = {
    while (true) {
      while (pos < lines.length) {
        val line = lines(pos)
        pos += 1
        if (isDataLine(line) && fill(line)) {
          current = row
          return true
        }
      }
      if (!fileIter.hasNext) return false
      openHourly(fileIter.next())
    }
    false
  }

  override def next(): Boolean =
    if (stations) stationRows.hasNext && { current = stationRows.next(); true }
    else nextHourly()
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
