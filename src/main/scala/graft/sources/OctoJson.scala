package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.octo._

/** JSONL ingest with the reference's exact typing semantics
  * (datasources/json/impl.go):
  *
  *  - schema inferred from the first 100 lines only; fields sorted by
  *    name; numbers are Float, RFC3339-parseable strings are Time
  *  - heterogeneous fields become unions — stored as Spark VARIANT so
  *    each row keeps its runtime type (see graft.types.UnionJson)
  *  - non-object or unparseable lines fail with the reference's
  *    line-numbered message shape (execution.go / fastjson)
  *
  * Execution shape: one distributed `spark.read.text` scan; every field
  * is a codegen'd `variant_get` off a single `parse_json`, so pruning
  * and parallelism are Spark-native. The strict validation pass (CLI
  * parity only) reuses the same scan with per-file line ordinals from
  * `PathTable.linesWithNumbers`.
  */
object OctoJson {

  /** First-100-line driver inference, like the reference's
    * `WithPreview()` open (json/impl.go:27-56). The file is opened the
    * way [[read]]'s `spark.read.text` opens it — Hadoop filesystem and
    * codec registry — so a `.json.gz` sample and its scan agree.
    */
  def infer(spark: SparkSession, path: String): Seq[(String, OType)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val raw = p.getFileSystem(conf).open(p)
    val in = Option(new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
      .getCodec(p)).fold[java.io.InputStream](raw)(_.createInputStream(raw))
    // explicit UTF-8: the platform default charset can mis-decode
    // multibyte field names and silently desynchronize inference from
    // Spark's (always-UTF-8) executors
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try OType.inferJsonl(src.getLines())
    finally src.close()
  }

  def inferLines(lines: Seq[String]): Seq[(String, OType)] =
    OType.inferJsonl(lines.iterator)

  /** Variant path for a field name: dotted form only for plain
    * identifiers; bracket-quoted otherwise so names containing `.`,
    * spaces or quotes navigate as one key.
    */
  private[graft] def variantPath(name: String): String =
    if (name.matches("[A-Za-z_][A-Za-z0-9_]*")) s"$$.$name"
    else s"$$['${name.replace("'", "\\'")}']"

  /** Extraction column for one inferred field off a parsed variant. */
  private def fieldCol(v: Column, name: String, t: OType): Column = {
    val path = variantPath(name)
    if (t.needsVariant) variant_get(v, path, "variant")
    else t.nonNullAlts.headOption match {
      case Some(OTime) => try_variant_get(v, path, "string").cast("timestamp")
      case Some(single) => try_variant_get(v, path, OType.toSpark(single).sql)
      case None => lit(null).cast("string") // all-null field
    }
  }

  private def project(spark: SparkSession, raw: DataFrame,
                      fields: Seq[(String, OType)]): DataFrame = {
    val v = parse_json(col("__line"))
    raw.select(fields.map { case (n, t) => fieldCol(v, n, t).as(n) }: _*)
  }

  def read(spark: SparkSession, path: String,
           fields: Seq[(String, OType)]): DataFrame =
    project(spark, spark.read.text(path).select(col("value").as("__line")), fields)

  def readLines(spark: SparkSession, lines: Seq[String],
                fields: Seq[(String, OType)]): DataFrame = {
    import spark.implicits._
    project(spark, spark.createDataset(lines).toDF("__line"), fields)
  }

  /** Full-file validation with reference-parity errors: the first
    * unparseable / non-object line (1-based, per file) raises
    * `JsonLineException`. Distributed scan; only the (rare) error rows
    * come back to the driver.
    */
  def validate(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val bad = PathTable.linesWithNumbers(spark, path)
      .select(col("number"), col("text"))
      .mapPartitions { it =>
        val mapper = new ObjectMapper()
        it.flatMap { r =>
          val line = r.getLong(0); val text = r.getString(1)
          val err: Option[String] =
            try {
              val node = mapper.readTree(text)
              if (node == null || !node.isObject) Some(s"expected JSON object, got '$text'")
              else None
            } catch { case _: Exception => Some(JsonErrors.parseError(text)) }
          err.map(e => (line, e))
        }
      }.toDF("line", "err")
    bad.orderBy("line").limit(1).collect().headOption.foreach { r =>
      throw new JsonLineException((r.getLong(0) + 1).toInt, r.getString(1))
    }
  }

  private val driverMapper = new ObjectMapper()

  def validateLines(lines: Seq[String]): Unit =
    lines.iterator.zipWithIndex.foreach { case (text, i) =>
      val mapper = driverMapper
      val ok = try {
        val node = mapper.readTree(text); node != null && node.isObject
      } catch { case _: Exception =>
        throw new JsonLineException(i + 1, JsonErrors.parseError(text)) }
      if (!ok) throw new JsonLineException(i + 1, s"expected JSON object, got '$text'")
    }
}
