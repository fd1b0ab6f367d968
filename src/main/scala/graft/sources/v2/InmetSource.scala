package graft.sources.v2

import graft.inmet.Ingest
import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.time.format.{DateTimeFormatter, DateTimeParseException, ResolverStyle}
import java.util
import java.util.regex.Pattern
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

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

/** Hadoop `Configuration` is not serializable; this minimal wrapper ships
  * the SESSION's conf (credentials, custom filesystem schemes) from the
  * driver-side scan to executor-side readers instead of each site
  * rebuilding a default `new Configuration()` that drops user settings. */
class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

object InmetSource {
  /** The active session's hadoop conf on the driver; default conf when
    * called outside a session (tests constructing readers directly). */
  def sessionHadoopConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

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

  /** JVM twin of Ingest.commaDouble: strict-numeral decimal-comma parse;
    * anything else null (callers zero-fill). */
  def commaDouble(raw: String): Option[Double] = {
    val dotted = trimSpaces(raw).replace(',', '.')
    val residue = dotted.filter(c => c < '0' || c > '9')
    if (residue == "" || residue == "." || residue == "-" || residue == "-.")
      try Some(dotted.toDouble) catch { case _: NumberFormatException => None }
    else None
  }

  private def strict(pattern: String) =
    DateTimeFormatter.ofPattern(pattern).withResolverStyle(ResolverStyle.STRICT)
  // shape -> format, as Ingest.parseDateFlexible dispatches them; STRICT
  // `u` years reject 2023/02/30 and 31/04/2023 as Spark's parser does
  // (SMART would clamp them to the month's last day), and `uu` keeps the
  // 2000-2099 base of Spark's `yy`
  private val dateFormats: Seq[(Pattern, DateTimeFormatter)] = Seq(
    Pattern.compile("^\\d{4}/\\d{2}/\\d{2}$") -> strict("uuuu/MM/dd"),
    Pattern.compile("^\\d{2}/\\d{2}/\\d{4}$") -> strict("dd/MM/uuuu"),
    Pattern.compile("^\\d{2}/\\d{2}/\\d{2}$") -> strict("dd/MM/uu"))

  /** JVM twin of Ingest.parseDateFlexible (shape-dispatched formats,
    * unparseable → None). Returns days since epoch. */
  def parseDate(raw: String): Option[Int] = {
    val t = trimSpaces(raw)
    dateFormats.find(_._1.matcher(t).find()).flatMap { case (_, f) =>
      try Some(LocalDate.parse(t, f).toEpochDay.toInt)
      catch { case _: DateTimeParseException => None }
    }
  }

  /** Ingest.previsoes' data-row shape. */
  val dataLine: Pattern = Pattern.compile("^\\d{2,4}/\\d{2}/\\d{2,4};")

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
  // (credentials, custom schemes), shipped serialized to every reader
  private val hconf = new SerializableHadoopConf(
    InmetSource.sessionHadoopConf())

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
    val fs = p.getFileSystem(hconf.value)
    val matched = Option(fs.globStatus(p)).getOrElse(Array.empty)
    InmetSource.pack(matched.toSeq).map(InmetPartition(_): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new InmetReaderFactory(required, pushed, hconf, stations)
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
    pushed: Array[Filter], hconf: SerializableHadoopConf)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private val log = new scala.collection.mutable.LinkedHashSet[String]

  private def refresh(): Unit = {
    val p = new Path(pathGlob)
    val fs = p.getFileSystem(hconf.value)
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
    new InmetReaderFactory(required, pushed, hconf, stations = false)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class InmetReaderFactory(required: StructType, pushed: Array[Filter],
    hconf: SerializableHadoopConf, stations: Boolean) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new InmetReader(partition.asInstanceOf[InmetPartition].files, required,
      pushed, hconf, stations)
}

/** Streams a split's files one after another: each file's station row
  * (station face) or its filtered, pruned hourly rows. Only the REQUIRED
  * measures are parsed per row. */
class InmetReader(files: Seq[String], required: StructType, pushed: Array[Filter],
    hconf: SerializableHadoopConf, stations: Boolean) extends PartitionReader[InternalRow] {
  import InmetSource.{commaDouble, dataLine, metaEntry, parseDate}

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

  private val rows: Iterator[InternalRow] =
    files.iterator.flatMap(f => if (stations) stationRow(f) else hourlyRows(f))
  private var current: InternalRow = _

  /** Reads `file`'s lines until `done` holds after one; LF, CR and CRLF
    * end a line, and a leading BOM is dropped, as Spark's text source
    * reads them. */
  private def readLines(file: String)(done: String => Boolean): Unit = {
    val p = new Path(file)
    val reader = new BufferedReader(new InputStreamReader(
      p.getFileSystem(hconf.value).open(p), StandardCharsets.UTF_8))
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

  private def hourlyRows(file: String): Iterator[InternalRow] = {
    val lines = Array.newBuilder[String]
    readLines(file) { line => lines += line; false }
    val all = lines.result()
    var header: String = null
    var wmo: Option[String] = None
    var anyMeta = false
    all.foreach { line =>
      if (line.startsWith("Data;")) {
        if (header == null || line < header) header = line
      } else metaEntry(line).foreach { case (k, v) =>
        anyMeta = true
        if (k == "codigo (wmo)" && wmo.isEmpty) wmo = Some(v)
      }
    }
    if (header == null || !anyMeta || wmoEq.exists(w => !wmo.contains(w)))
      return Iterator.empty
    val idx = Ingest.headerIndex(header).map(_.getOrElse(-1))
    val measureIdx = Ingest.measureCols.zip(idx.tail).toMap
    val wmoValue = wmo.map(UTF8String.fromString).orNull
    all.iterator.filter(dataLine.matcher(_).lookingAt()).flatMap { line =>
      val c = line.split(";", -1)
      def at(i: Int): Option[String] = if (i >= 0 && i < c.length) Some(c(i)) else None
      // rows with unparseable dates are DROPPED (reference semantics),
      // even when data_medicao is pruned away
      at(idx.head).flatMap(parseDate).filter(d => d >= loDays && d <= hiDays)
        .map { d =>
          new GenericInternalRow(required.fieldNames.map {
            case "wmo" => wmoValue: Any
            case "data_medicao" => d: Any
            case m => at(measureIdx(m)).flatMap(commaDouble).getOrElse(0.0): Any
          }): InternalRow
        }
    }
  }

  override def next(): Boolean =
    rows.hasNext && { current = rows.next(); true }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
