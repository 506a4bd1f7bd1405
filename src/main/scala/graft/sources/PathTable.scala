package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Path-as-table resolution: the reference treats `people.csv`,
  * `logs.json`, `data.parquet`, `notes.txt` (lines) as table names
  * (reference: physical/physical.go:65-86, cmd/root.go:192-198), with
  * `?header=false`, `?sep=x`, `ext.path` overrides
  * (parser/parser.go:321-356).
  *
  * Spark-first: each resolves to a `DataFrameReader` call, so schema
  * inference, parallel IO, predicate pushdown and column pruning are the
  * built-in ones. The JSON worker pool / CSV sampling machinery of the
  * reference is subsumed by Spark's distributed readers.
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
      case "csv" =>
        spark.read.option("header", opts.getOrElse("header", "true"))
          .option("inferSchema", "true").csv(ds)
      case "tsv" =>
        spark.read.option("header", opts.getOrElse("header", "true"))
          .option("inferSchema", "true").option("sep", "\t").csv(ds)
      case "lines" =>
        spark.createDataset(lines.zipWithIndex.map { case (t, i) => (i.toLong, t) })
          .toDF("number", "text")
      case other =>
        throw new IllegalArgumentException(s"unsupported stdin format: $other")
    }
  }

  def read(spark: SparkSession, path: String, format: String,
           opts: Map[String, String] = Map.empty): DataFrame = format match {
    case "csv" =>
      spark.read
        .option("header", opts.getOrElse("header", "true"))
        .option("inferSchema", "true")
        .option("sep", opts.getOrElse("sep", ","))
        .csv(path)
    case "tsv" =>
      read(spark, path, "csv", opts + ("sep" -> "\t"))
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
