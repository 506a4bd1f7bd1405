package graft.sources

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVInferSchema, CSVOptions}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DecimalType, NullType, StructType}

/** Path-as-table resolution: the reference treats `people.csv`,
  * `logs.json`, `data.parquet`, `notes.txt` (lines) as table names
  * (reference: physical/physical.go:65-86, cmd/root.go:192-198), with
  * `?header=false`, `?sep=x`, `ext.path` overrides
  * (parser/parser.go:321-356).
  *
  * Spark-first: each resolves to a `DataFrameReader` call, so parallel
  * IO, predicate pushdown and column pruning are the built-in ones. Like
  * the reference (datasources/csv/impl.go:36-130), a CSV/TSV file is
  * typed from its header and first [[CsvSampleRows]] rows, read on the
  * driver and folded through Spark's own CSV inference, so a query scans
  * the file once; the scan is FAILFAST, so a later value that does not
  * fit its sampled type fails the query ([[isCsvSampleMisfit]]) instead
  * of reading as null. `graft.Cli` then re-runs it with whole-file
  * inference (`inferSchema`), which is also used when the sample cannot
  * type every column ([[CsvTyping]]).
  */
object PathTable {

  /** What a table spec names — the one grammar both the dialect binder
    * and [[resolve]] read.
    */
  sealed trait Spec
  /** `stdin.fmt` / `fmt.stdin` (reference: execution/files/stdin.go). */
  final case class StdinSpec(format: String, opts: Map[String, String]) extends Spec
  /** `docs.functions`, ... (datasources/docs/database.go:26-121). */
  final case class DocsSpec(table: String) extends Spec
  final case class PluginsSpec(table: String) extends Spec
  /** octosql.yml-configured database: `FROM mydb.mytable` → JDBC. */
  final case class DatabaseSpec(db: OctoConfig.DbConfig, table: String) extends Spec
  /** A file or glob read with `format` (a [[read]] format). */
  final case class FileSpec(path: String, format: String, opts: Map[String, String]) extends Spec

  /** Options parsed from a `path?k=v&k2=v2` suffix. Split on the FIRST
    * '?' only: a second '?' (inside an option value, or a typo'd
    * double option block) must not silently discard every option and
    * read the file with defaults.
    */
  private def splitOpts(spec: String): (String, Map[String, String]) =
    spec.split("\\?", 2) match {
      case Array(p)       => (p, Map.empty)
      case Array(p, opts) =>
        (p, opts.split('&').filter(_.nonEmpty).map { kv =>
          kv.split("=", 2) match {
            case Array(k, v) => k -> v
            case Array(k)    => k -> "true"
          }
        }.toMap)
    }

  /** `csv.myfile` format-prefix form (physical.go GetDatasource
    * database rule): reads file `myfile` with the csv handler.
    */
  private val PrefixForm = "^(csv|tsv|json|parquet|orc|lines|txt|log)\\.(.+)$".r
  private val TextFormats = Set("csv", "tsv", "json", "lines", "txt", "log")
  private def linesFormat(f: String): String =
    if (f == "txt" || f == "log") "lines" else f

  def parse(spec: String): Spec = {
    val (path, opts) = splitOpts(spec)
    val parts = path.split('.')
    if (parts.length == 2 && (parts(0) == "stdin" || parts(1) == "stdin"))
      StdinSpec(linesFormat(if (parts(0) == "stdin") parts(1) else parts(0)), opts)
    else if (path.startsWith("docs.") &&
             Docs.TableNames.contains(path.stripPrefix("docs.")))
      DocsSpec(path.stripPrefix("docs."))
    else if (path.startsWith("plugins."))
      PluginsSpec(path.stripPrefix("plugins."))
    else if (parts.length == 2 && OctoConfig.database(parts(0)).isDefined)
      DatabaseSpec(OctoConfig.database(parts(0)).get, parts(1))
    else path match {
      case PrefixForm(fmt, rest) if !rest.contains('.') => FileSpec(rest, fmt, opts)
      case _ =>
        // `data.json.gz` → json: Spark's TEXT-based readers decompress
        // by extension via the Hadoop codec registry, so the FORMAT is
        // the extension before the compression suffix. A gzip member
        // is one split — fine for the sizes a compressed drop-file
        // has. Columnar formats carry their own codecs: `parquet.gz`
        // is NOT stripped (the parquet reader on a gzip stream fails
        // with a magic-bytes error, so the suffix stays and resolves
        // to a clear unsupported-format message instead)
        val last = parts.last.toLowerCase
        val inner = if (parts.length >= 3) parts(parts.length - 2).toLowerCase else ""
        val format =
          // .warc.gz keeps its own member-aware decompressor (the gzip
          // members ARE the record index) — never the Hadoop codec path
          if (last == "gz" && inner == "warc") "warcgz"
          else if ((last == "gz" || last == "bz2") && TextFormats.contains(inner)) inner
          else last
        FileSpec(path, format, opts)
    }
  }

  /** The formats [[read]] accepts. */
  private val Readable = TextFormats ++ Set("parquet", "orc", "warc", "warcgz", "tar")
  private val SpecChars = """[A-Za-z0-9_\-./]+(?:\?[A-Za-z0-9_=&.\-]*)?"""

  /** True when a FROM/JOIN-position token names a table this grammar
    * reads, rather than a catalog table or view (`orders`, `db.t`).
    */
  def isSpec(token: String): Boolean = parse(token) match {
    case FileSpec(_, format, _) => Readable.contains(format) && token.matches(SpecChars)
    case _ => true
  }

  /** Resolve a table spec to a DataFrame: a file path with its format
    * from the extension or a `fmt.` prefix, plus `?opts`; `stdin.ext`;
    * `docs.`, `plugins.` and octosql.yml database tables.
    */
  def resolve(spark: SparkSession, spec: String): DataFrame = open(spark, parse(spec))

  def open(spark: SparkSession, spec: Spec): DataFrame = spec match {
    case StdinSpec(format, opts)      => readStdin(spark, format, opts)
    case DocsSpec(table)              => Docs.table(spark, table)
    case PluginsSpec(table)           => Plugins.table(spark, table)
    case DatabaseSpec(db, table)      => OctoConfig.table(spark, db, table)
    case FileSpec(path, format, opts) => read(spark, path, format, opts)
  }

  /** stdin is driver-local by nature: drain it on the driver and
    * parallelize — the reference buffers the sampled prefix the same way
    * (files.go:102-112).
    */
  def readStdin(spark: SparkSession, format: String,
                opts: Map[String, String] = Map.empty): DataFrame =
    readStdinLines(spark, format,
      scala.io.Source.fromInputStream(System.in, "UTF-8").getLines().toSeq,
      opts)

  /** stdin with the content already drained (the CLI and the golden
    * scenario runner inject it). The line ordinal is assigned on the
    * driver — stdin is inherently a driver-local, single-pass source.
    */
  def readStdinLines(spark: SparkSession, format: String, lines: Seq[String],
                     opts: Map[String, String] = Map.empty): DataFrame = {
    import spark.implicits._
    val ds = spark.createDataset(lines)
    format match {
      case "json" => spark.read.json(ds)
      case "csv" | "tsv" =>
        // every line is already here: type them all, exactly, no job
        val options = csvOptions(format, opts)
        spark.read.schema(csvTypes(spark, lines.iterator, options, Int.MaxValue).schema)
          .options(options).csv(ds)
      case "lines" =>
        spark.createDataset(lines.zipWithIndex.map { case (t, i) => (i.toLong, t) })
          .toDF("number", "text")
      case other =>
        throw new IllegalArgumentException(s"unsupported stdin format: $other")
    }
  }

  /** Read a file or glob as a table. A CSV/TSV table is typed from a
    * sample unless `wholeFileCsv` asks for Spark's whole-file inference
    * (the retry of a query whose sample under-typed a column).
    */
  def read(spark: SparkSession, path: String, format: String,
           opts: Map[String, String] = Map.empty,
           wholeFileCsv: Boolean = false): DataFrame = format match {
    case "csv" | "tsv" =>
      val options = csvOptions(format, opts)
      val sample = if (wholeFileCsv) None else Some(sampleCsv(spark, path, options))
      sample.filter(_.typed) match {
        case Some(t) if t.exhausted => // the sample is the whole input
          spark.read.schema(t.schema).options(options).csv(path)
        case Some(t) =>
          spark.read.format(classOf[SampledCsvFormat].getName).schema(t.schema)
            .options(options ++ SampledScan).load(path)
        case None =>
          spark.read.options(options + ("inferSchema" -> "true")).csv(path)
      }
    case "json" => // JSONLines, schema merged across sampled records.
      // Reference parity: octosql infers every JSON number as Float
      // (datasources/json/impl.go:83-89); Spark infers integers as
      // long — widen top-level integer columns to double.
      val df = spark.read.json(path)
      df.columns.foldLeft(df) { (acc, c) =>
        acc.schema(c).dataType match {
          case org.apache.spark.sql.types.LongType =>
            acc.withColumn(c, col(c).cast("double"))
          case _ => acc
        }
      }
    case "parquet" =>
      spark.read.parquet(path)
    case "orc" => // beyond-reference: Spark ships the ORC reader
      spark.read.orc(path)
    case "lines" | "txt" | "log" =>
      // {number: Int, text: String} like the reference's lines source
      // (datasources/lines/impl.go:13-63): number is a sequential
      // per-file line ordinal.
      if (opts.get("tail").contains("true")) tailLines(spark, path)
      else linesWithNumbers(spark, path, opts.get("sep"))
        .select(col("number"), col("text"))
    case "warc" => // beyond-reference: crawl archives as tables
      WarcTable.read(spark, path, gzipped = false)
    case "warcgz" =>
      WarcTable.read(spark, path, gzipped = true)
    case "tar" => // beyond-reference: WebDataset shards as tables
      TarTable.read(spark, path)
    case other =>
      throw new IllegalArgumentException(s"unsupported table format: $other")
  }

  /** Rows a CSV/TSV file is typed from, as in the reference. */
  val CsvSampleRows = 100

  /** The reader options of a `csv`/`tsv` table: header on unless
    * `?header=false`, `?sep=x`; tsv is tab-separated.
    */
  private def csvOptions(format: String, opts: Map[String, String]): Map[String, String] =
    Map("header" -> opts.getOrElse("header", "true"),
      "sep" -> (if (format == "tsv") "\t" else opts.getOrElse("sep", ",")))

  /** Scan options for a sampled schema: a value must parse as its
    * column's sampled type, as inference's own parsers take it. FAILFAST
    * turns a misfit into an error, not a null; without the fallback
    * parser a date column no longer takes `2024-01-05 10:30` as a
    * truncated date (inference types that value a timestamp).
    */
  private val SampledScan = Map("mode" -> "FAILFAST", "enableDateTimeParsingFallback" -> "false")

  /** A CSV schema from a driver-side fold: whether every column saw a
    * value and took a type a sampled scan can check (a decimal column
    * cannot: its parser rounds a later fraction that inference would
    * type double), and whether the lines ran out before the row limit.
    */
  private final case class CsvTyping(schema: StructType, typed: Boolean, exhausted: Boolean)

  /** Type CSV lines on the driver with Spark's own inference lattice —
    * `CSVInferSchema.inferRowType` folded over at most `limit` data rows,
    * then `toStructFields`, header names through `CSVUtils.makeSafeHeader`,
    * with the `CSVOptions` and session conf the reader builds. It is the
    * fold `inferSchema` runs as a job, so lines read to their end type
    * exactly as Spark types them. As there, empty lines are skipped and
    * the first line is the header (or sets the width under
    * `header=false`); with a header, lines equal to it are skipped.
    */
  private def csvTypes(spark: SparkSession, lines: Iterator[String],
                       options: Map[String, String], limit: Int): CsvTyping = {
    val conf = spark.sessionState.conf
    val parsed = new CSVOptions(options, conf.csvColumnPruning, conf.sessionLocalTimeZone)
    val parser = new CsvParser(parsed.asParserSettings)
    val nonEmpty = lines.filter(_.trim.nonEmpty)
    nonEmpty.nextOption().flatMap(l => Option(parser.parseLine(l)).map(l -> _)) match {
      case None => CsvTyping(new StructType(), typed = false, exhausted = true)
      case Some((firstLine, firstRow)) =>
        val header = CSVUtils.makeSafeHeader(firstRow, conf.caseSensitiveAnalysis, parsed)
        val rows =
          if (parsed.headerFlag) nonEmpty.filter(_ != firstLine)
          else Iterator(firstLine) ++ nonEmpty
        val infer = new CSVInferSchema(parsed)
        var types = Array.fill[DataType](header.length)(NullType)
        var n = 0
        SQLConf.withExistingConf(conf) {
          while (n < limit && rows.hasNext) {
            types = infer.inferRowType(types, parser.parseLine(rows.next()))
            n += 1
          }
        }
        CsvTyping(StructType(infer.toStructFields(types, header)),
          typed = !types.exists(t => t == NullType || t.isInstanceOf[DecimalType]),
          exhausted = !rows.hasNext)
    }
  }

  /** Type a CSV path from its first [[CsvSampleRows]] rows. The files
    * are the ones Spark's file index lists (a glob's matches; a
    * directory's files, recursively, without `_`/`.` names), largest
    * first as Spark's inference orders them, so the header is the one
    * it would take; each opens as [[textSource]] opens it.
    */
  private def sampleCsv(spark: SparkSession, path: String,
                        options: Map[String, String]): CsvTyping = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def hidden(s: FileStatus) = {
      val n = s.getPath.getName
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
    }
    def files(s: FileStatus): Seq[FileStatus] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.filterNot(hidden).flatMap(files)
      else Seq(s)
    val ordered = Option(fs.globStatus(p)).toSeq.flatten.flatMap(files)
      .sortBy(s => (-s.getLen, s.getPath.toString))
    val opened = scala.collection.mutable.ArrayBuffer[scala.io.Source]()
    val lines = ordered.iterator.flatMap { s =>
      val src = textSource(spark, s.getPath); opened += src; src.getLines()
    }
    try csvTypes(spark, lines, options, CsvSampleRows)
    finally opened.foreach(_.close())
  }

  /** A text file opened the way Spark's text-based readers open it —
    * Hadoop filesystem and codec registry — so a driver-side sample of
    * `x.csv.gz` or `x.json.gz` reads the bytes the scan reads. Explicit
    * UTF-8: the platform default charset can mis-decode multibyte names
    * and silently desynchronize the sample from Spark's executors.
    */
  private[sources] def textSource(spark: SparkSession, p: Path): scala.io.Source = {
    val conf = spark.sparkContext.hadoopConfiguration
    val raw = p.getFileSystem(conf).open(p)
    val in = Option(new CompressionCodecFactory(conf).getCodec(p))
      .fold[java.io.InputStream](raw)(_.createInputStream(raw))
    scala.io.Source.fromInputStream(in, "UTF-8")
  }

  /** True when `e` is, or was caused by, a FAILFAST scan's malformed
    * record: how a sampled CSV scan fails on a value that does not fit
    * its sampled type (or on a ragged row).
    */
  def isCsvSampleMisfit(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(12).exists {
      case t: SparkThrowable =>
        Option(t.getCondition).exists(_.startsWith("MALFORMED_RECORD_IN_PARSING"))
      case _ => false
    }

  /** Per-file line ordinals without a single-task global window.
    *
    * Scale design (the round-1 `Window.orderBy(monotonically_increasing_id())`
    * funnelled the whole dataset through one task): two passes over the
    * same deterministic text scan —
    *   1. count rows per (partition, file) — a tiny aggregate, one row
    *      per file split;
    *   2. re-scan and add `offset(partition, file) + local index`,
    *      computed per partition with no shuffle of the data itself.
    * Split offsets are cumulative in partition-index order: Spark plans
    * a file's splits in offset order with stable size-descending
    * packing, so a later byte range never lands in an earlier partition
    * index. Output keeps per-split parallelism — a 10 GB file numbers
    * on ~80 tasks, not 1.
    */
  def linesWithNumbers(spark: SparkSession, path: String,
                       lineSep: Option[String] = None): DataFrame = {
    import spark.implicits._
    val reader = lineSep.foldLeft(spark.read)((r, s) => r.option("lineSep", s))
    val base = reader.text(path)
      .select(input_file_name().as("file"), col("value").as("text"))
    val withPid = base.withColumn("pid", spark_partition_id())
    val counts = withPid.groupBy("pid", "file").count().collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2))
    val offsets: Map[(Int, String), Long] = {
      val byFile = counts.groupBy(_._1._2)
      byFile.flatMap { case (_, splits) =>
        var acc = 0L
        splits.sortBy(_._1._1).map { case (k, c) =>
          val off = acc; acc += c; k -> off
        }
      }
    }
    withPid.mapPartitions { it =>
      val local = scala.collection.mutable.HashMap[String, Long]()
      it.map { r =>
        val file = r.getString(0); val text = r.getString(1); val pid = r.getInt(2)
        val i = local.getOrElse(file, 0L)
        local(file) = i + 1
        (offsets.getOrElse((pid, file), 0L) + i, text, file)
      }
    }.toDF("number", "text", "file")
  }

  /** Streaming variant of the lines source (`?tail=true` in the
    * reference, execution/files/files.go:27-76).
    *
    * A single regular file routes to [[TailFileProvider]] — a DSv2
    * micro-batch source following the file by BYTE OFFSET, so in-place
    * appends to the already-seen file surface as new rows with their
    * lines-table ordinals (the reference's `tail -f` semantics). A
    * glob/directory path takes Spark's file stream, which is new-FILE
    * granularity — the rotating-log layout at scale.
    */
  def tailLines(spark: SparkSession, path: String): DataFrame = {
    val f = new java.io.File(path)
    if (f.isFile)
      spark.readStream.format(classOf[TailFileProvider].getName)
        .option("path", f.getAbsolutePath).load()
    else
      // keep the documented lines-table schema {number, text} on the
      // glob/directory branch too, so the same query works on either
      // shape. A GLOBAL line ordinal is undefined across multiple
      // tailed files (and streaming forbids monotonically_increasing_
      // id), so number is typed NULL here; the single-file branch
      // (TailFileProvider) carries real ordinals
      spark.readStream.text(path)
        .select(lit(null).cast("long").as("number"),
          col("value").as("text"))
  }
}
