package graft.types

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Union-typed columns — the reference's load-bearing type-system
  * novelty (octosql/types.go:74-76: heterogeneous JSON columns infer to
  * e.g. `Int | String`; nullability is `T | Null`).
  *
  * Spark mapping: nullability is native (`nullable=true`); genuine
  * cross-type unions map to Spark 4's VARIANT type, which stores each
  * value with its own runtime type and round-trips every alternative
  * through JSON exactly — the same contract as the reference's union
  * output formatter (outputs/formats/json_format.go:47-57).
  *
  * Semantics preserved:
  *  - `CAST(x AS t)` on a union narrows and yields NULL on mismatch
  *    (logical/logical.go:391-419) → `try_variant_get(v, '$', t)`
  *  - type inspection (`--describe` shows the union) →
  *    `schema_of_variant` / per-row `unionTypeOf`
  *  - JSON output round-trips alternatives → `to_json(variant)`
  */
object UnionJson {

  /** Read a JSONLines file with every top-level field kept as VARIANT —
    * no coercion, each row keeps its own runtime type.
    */
  def readAllVariant(spark: SparkSession, path: String): DataFrame = {
    val keys = spark.read.json(path).columns
    val raw = spark.read.text(path)
      .withColumn("__v", parse_json(col("value")))
    keys.foldLeft(raw)((df, k) =>
      df.withColumn(k, variant_get(col("__v"), s"$$.$k", "variant")))
      .drop("value", "__v")
  }

  /** Read JSONLines keeping Spark's inferred type for homogeneous
    * fields and VARIANT only for the named union fields. Single scan:
    * every column is extracted from the parsed variant (inference is a
    * schema-only pass over the same file).
    */
  def read(spark: SparkSession, path: String, unionFields: Seq[String]): DataFrame = {
    val schema = spark.read.json(path).schema
    val raw = spark.read.text(path)
      .withColumn("__v", parse_json(col("value")))
    val cols = schema.fields.map { f =>
      if (unionFields.contains(f.name))
        variant_get(col("__v"), s"$$.${f.name}", "variant").as(f.name)
      else
        try_variant_get(col("__v"), s"$$.${f.name}", f.dataType.sql).as(f.name)
    }
    raw.select(cols.toIndexedSeq: _*)
  }

  /** Runtime type of each union value, e.g. BIGINT / STRING / ARRAY<...>
    * (the per-row view of the reference's union alternatives).
    */
  def unionTypeOf(c: Column): Column = schema_of_variant(c)

  /** Union-narrowing cast: value when the alternative matches, NULL
    * otherwise — reference TypeCast (execution/expressions.go:79-102).
    */
  def castUnion(c: Column, sparkType: String): Column =
    try_variant_get(c, "$", sparkType)

  /** JSON display that round-trips each alternative exactly. */
  def unionToJson(c: Column): Column = to_json(c)

  // ---- distributed cross-type total order (values.go:97-106) --------

  /** Runtime-TypeID rank of a union (VARIANT) value — the FIRST key of
    * the reference's Value.Compare total order (values.go:97-106 via
    * types.go:10-24 TypeIDs): NULL=0 < Int=1 < Float=2 < Boolean=3 <
    * String=4 < Time=5 < List=7 < Object=8. With [[numKey]]/[[strKey]]
    * as within-type tie-breakers, `ORDER BY rank, num, str` (or a
    * GROUP BY over the triple) is a plain distributed sort/shuffle —
    * no driver-side comparator, unlike the CLI live-table path that
    * uses [[graft.octo.OValue.compare]] on collected rows.
    */
  def typeRank(c: Column): Column = {
    val sch = schema_of_variant(c)
    when(c.isNull || sch === "VOID", 0)
      .when(sch.isin("BIGINT", "INT", "SMALLINT", "TINYINT"), 1)
      .when(sch.isin("DOUBLE", "FLOAT") || sch.startsWith("DECIMAL"), 2)
      .when(sch === "BOOLEAN", 3)
      .when(sch === "STRING", 4)
      .when(sch.startsWith("TIMESTAMP"), 5)
      .when(sch.startsWith("ARRAY"), 7)
      .otherwise(8)
  }

  /** Within-type numeric sort key: value for Int/Float ranks, false<true
    * for Boolean, epoch seconds for Time, NULL for non-numeric ranks
    * (the rank itself already separates them).
    */
  def numKey(c: Column): Column = {
    val r = typeRank(c)
    when(r.isin(1, 2), try_variant_get(c, "$", "double"))
      .when(r === 3,
        try_variant_get(c, "$", "boolean").cast("int").cast("double"))
      .when(r === 5,
        try_variant_get(c, "$", "timestamp").cast("double"))
      .otherwise(lit(null).cast("double"))
  }

  /** Within-type lexical sort key: the value for String rank only. */
  def strKey(c: Column): Column =
    when(typeRank(c) === 4, try_variant_get(c, "$", "string"))
      .otherwise(lit(null).cast("string"))
}
