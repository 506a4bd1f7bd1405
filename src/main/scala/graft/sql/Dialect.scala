package graft.sql

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._
import graft.octo._
import graft.sources.{OctoJson, PathTable}
import OctoSql.isClauseKw

/** The SQL frontend: [[prepare]] is the only way dialect text reaches
  * Catalyst (`graft.Cli`, the golden-scenario replay and the SQL-text
  * `SparkEntry` queries).
  *
  * On top of the token rewrites in [[OctoSql]] and the table-spec
  * grammar in [[PathTable]], this adds the behaviors a reference user
  * observes through the CLI:
  *
  *  - output column naming (reference parser.go:120-200, map.go:99-125):
  *    aliases, `col_N` for expressions, `sum_field2` for aggregates of
  *    fields, `count` for other aggregates, `_N` dedup suffixes,
  *    qualifier-carrying names for `SELECT *` over aliased relations
  *  - octosql-typed JSON ingest (first-100-line inference, unions as
  *    VARIANT) with line-numbered parse errors ([[graft.sources.OctoJson]])
  *  - typecheck parity: outer joins require conjunction-of-equalities
  *    predicates (physical/nodes join typecheck)
  *  - named-argument TVFs in SQL: `tumble(source => TABLE x,
  *    window_length => INTERVAL 1 HOUR, time_field => DESCRIPTOR ts)`,
  *    `max_diff_watermark`, `poll`, `range` (logical/tvf.go:14-120 and
  *    the table_valued_functions package)
  *  - duration values as DECIMAL(38,9) seconds — nanosecond-exact like
  *    Go durations, which Spark's microsecond intervals can't represent
  *  - type-directed `+ - * /` via [[graft.plans.OctoArith]] swapped into
  *    the parsed plan pre-analysis
  *
  * All rewriting is front-end only: the emitted plan is plain Spark SQL
  * over temp views, fully subject to Catalyst optimization.
  */
object Dialect {

  case class Ctx(baseDir: String = ".", stdin: Option[String] = None) {
    /** stdin's lines, drained once: a re-run of the query on the same
      * context ([[prepare]]'s `wholeFileCsv`) binds the same lines.
      */
    private[sql] lazy val stdinLines: Seq[String] =
      stdin.map(_.linesIterator.toSeq).getOrElse(scala.io.Source.stdin.getLines().toSeq)
  }

  /** Per-relation schema as the dialect tracks it (column octosql types
    * + the watermarked time field, if any).
    */
  case class RelInfo(cols: Seq[(String, OType)], timeField: Option[String] = None)

  case class Prepared(
      df: DataFrame,
      names: Seq[String],
      otypes: Seq[Option[OType]],
      ordered: Boolean,
      timeField: Int,
      validations: Seq[() => Unit])

  class TypecheckException(msg: String) extends RuntimeException(msg)

  /** Resolver typecheck errors thrown inside lazy `replacement` vals can
    * surface wrapped in Spark's analysis exceptions — dig the original
    * out of the cause chain so the CLI renders the reference's
    * `Error: typecheck error: ...` shape.
    */
  def unwrapTypecheck(e: Throwable): Throwable =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(12)
      .collectFirst { case t: TypecheckException => t }.getOrElse(e)

  private val JoinKw = Set("JOIN", "LEFT", "RIGHT", "FULL", "OUTER", "INNER",
    "CROSS", "LOOKUP", "ON", "AS", "USING")
  private val AggNames = Set("count", "sum", "avg", "min", "max", "array_agg",
    "count_distinct", "sum_distinct", "avg_distinct", "array_agg_distinct")

  private def isWs(t: String) = t.length == 1 && t(0).isWhitespace
  private def nextNonWs(ts: Vector[String], from: Int): Int =
    ts.indexWhere(x => !isWs(x), from)
  private val LiteralWords = Set("TRUE", "FALSE", "NULL")
  private def isIdent(t: String): Boolean =
    t.matches("""[A-Za-z_][A-Za-z0-9_.]*""") && !LiteralWords.contains(t.toUpperCase)
  private def stripQual0(n: String): String =
    if (n.contains(".")) n.substring(n.indexOf('.') + 1) else n

  // ---- entry point ---------------------------------------------------

  /** Bind and plan a dialect query. CSV/TSV path tables are typed from
    * a sample unless `wholeFileCsv` (see [[PathTable.read]]).
    */
  def prepare(spark: SparkSession, sql: String, ctx: Ctx = Ctx(),
              wholeFileCsv: Boolean = false): Prepared = {
    var tokens = OctoSql.portableRewrites(OctoSql.tokenize(sql))
    checkOuterJoins(tokens)
    val rels = scala.collection.mutable.HashMap[String, RelInfo]()
    val validations = Seq.newBuilder[() => Unit]
    tokens = bind(spark, tokens, ctx, wholeFileCsv, rels, validations)
    tokens = rewriteAsofJoins(spark, tokens)
    tokens = rewriteTvfs(spark, tokens, rels)
    val named = nameSelect(spark, tokens, rels.toMap)
    def build(ts: Vector[String]): (Vector[String], DataFrame) = {
      // interval pass first: its numerals land inside string literals,
      // so the float pass can't mangle them — INTERVAL 1.5 SECOND parses
      val ts2 = floatLiterals(intervalLiterals(ts))
      val sqlText = OctoSql.rewrite(ts2)
      val plan = graft.plans.OctoResolve.rewritePlan(GraftSqlBridge.parse(spark, sqlText))
      try (ts2, GraftSqlBridge.ofRows(spark, plan))
      catch { case e: Throwable => throw unwrapTypecheck(e) }
    }
    // the reference's output btree breaks ORDER-BY-key ties by full
    // record values (live_output.go outputItem.Less) — make Spark's
    // sort total by appending every output column as a trailing key;
    // fall back when a column isn't sortable (variant)
    val tied = appendOrderTieBreak(named.tokens, named.names)
    val (finalTokens, df) =
      if (tied eq named.tokens) build(named.tokens)
      else try build(tied)
      catch { case _: Exception => build(named.tokens) }
    tokens = finalTokens
    val names = if (named.names.nonEmpty) named.names else df.columns.toSeq
    val otypes =
      if (named.otypes.nonEmpty) named.otypes else Seq.fill(names.length)(None)
    // only a TOP-LEVEL ORDER BY makes the output reference-ordered; an
    // ORDER BY inside a subquery/CTE leaves the live-table value sort on
    val ordered = {
      var depth = 0
      tokens.exists { t =>
        if (t == "(") depth += 1
        if (t == ")") depth -= 1
        depth == 0 && t.equalsIgnoreCase("ORDER")
      }
    }
    val tf = named.timeField.map(names.indexOf(_)).getOrElse(-1)
    Prepared(df, names, otypes, ordered, tf, validations.result())
  }

  // ---- ASOF JOIN (DuckDB/Snowflake temporal-join syntax) -------------

  private val asofCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** `FROM l [AS] la ASOF [LEFT] JOIN r [AS] ra ON la.k = ra.k AND
    * la.t >= ra.t [WHERE ...]` — the DuckDB/Snowflake temporal-join
    * spelling, executed on [[graft.operators.AsOf.asofJoin]]'s
    * union+window merge plan (|L|+|R| rows, one shuffle on the key).
    *
    * This rewrite deliberately does NOT lower to a correlated LATERAL
    * (`ORDER BY t DESC LIMIT 1`): Spark decorrelates that into a
    * domain join whose non-equi correlate plans as a
    * BroadcastNestedLoopJoin over the distinct left-time domain — an
    * all-pairs shape AuditPlans rejects. The operator call keeps the
    * scale-correct plan and the SQL stays sugar.
    *
    * Supported subset: both sides simple relations (temp views, bound
    * path tables, catalog tables); one-or-more equalities (composite
    * keys ride as one synthesized struct) and exactly ONE
    * inclusive inequality (`>=` backward, `<=` forward) between
    * alias-qualified columns; `ASOF JOIN` is inner (unmatched probe
    * rows drop, DuckDB's default), `ASOF LEFT JOIN` keeps them
    * null-padded. Right-side columns are referenced as `ra.col`
    * (rewritten to the operator's `asof_col` output); the right time
    * column surfaces as `ra.<t>` too.
    */
  private def rewriteAsofJoins(spark: SparkSession, tokens0: Vector[String]): Vector[String] = {
    var tokens = tokens0
    // only an ASOF directly followed by [LEFT] JOIN is the join — a
    // column or alias literally named asof stays a column
    def nextJoin(ts: Vector[String], from: Int): Int =
      (from until ts.length).find { i =>
        if (!ts(i).equalsIgnoreCase("ASOF")) false
        else {
          val j0 = nextNonWs(ts, i + 1)
          j0 >= 0 && (ts(j0).equalsIgnoreCase("JOIN") ||
            (ts(j0).equalsIgnoreCase("LEFT") && {
              val j1 = nextNonWs(ts, j0 + 1)
              j1 >= 0 && ts(j1).equalsIgnoreCase("JOIN")
            }))
        }
      }.getOrElse(-1)
    var asofIdx = nextJoin(tokens, 0)
    while (asofIdx >= 0) {
      tokens = rewriteOneAsof(spark, tokens, asofIdx)
      asofIdx = nextJoin(tokens, 0)
    }
    tokens
  }

  private def rewriteOneAsof(spark: SparkSession, tokens: Vector[String],
                             asofIdx: Int): Vector[String] = {
    def fail(msg: String): Nothing =
      throw new TypecheckException(s"ASOF JOIN: $msg")
    val j0 = nextNonWs(tokens, asofIdx + 1)
    val isLeft = j0 >= 0 && tokens(j0).equalsIgnoreCase("LEFT")
    val joinIdx = if (isLeft) nextNonWs(tokens, j0 + 1) else j0
    if (joinIdx < 0 || !tokens(joinIdx).equalsIgnoreCase("JOIN"))
      fail("expected ASOF [LEFT] JOIN")
    var fromIdx = asofIdx
    while (fromIdx >= 0 && !tokens(fromIdx).equalsIgnoreCase("FROM")) fromIdx -= 1
    if (fromIdx < 0) fail("requires a FROM clause")
    val onIdx = tokens.indexWhere(_.equalsIgnoreCase("ON"), joinIdx)
    if (onIdx < 0) fail("requires an ON clause")
    def relSpec(ts: Vector[String], what: String): (String, String) = {
      val parts = ts.filterNot(isWs).filterNot(_.equalsIgnoreCase("AS"))
      if (parts.isEmpty || parts.length > 2 ||
          parts.exists(p => p == "(" || p == ")" || p == ","))
        fail(s"$what side must be a simple relation [AS alias]")
      (parts(0), parts.last)
    }
    val (lRel, lAl) = relSpec(tokens.slice(fromIdx + 1, asofIdx), "probe")
    val (rRel, rAl) = relSpec(tokens.slice(joinIdx + 1, onIdx), "build")
    // conditions end at the next clause keyword / further join / the
    // paren closing this scope / end-of-tokens
    val stop = Set("WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "UNION",
      "INTERSECT", "EXCEPT", "WINDOW", "JOIN", "LEFT", "RIGHT", "FULL",
      "INNER", "CROSS", "TRIGGER", "ASOF")
    var end = tokens.length
    var d = 0
    var j = onIdx + 1
    while (j < tokens.length && end == tokens.length) {
      val t = tokens(j)
      if (t == "(") d += 1
      else if (t == ")") { if (d == 0) end = j else d -= 1 }
      else if (d == 0 && stop.contains(t.toUpperCase)) end = j
      j += 1
    }
    // split conjunction
    val condToks = tokens.slice(onIdx + 1, end).filterNot(isWs)
    val conds = {
      val out = Vector.newBuilder[Vector[String]]
      var cur = Vector.newBuilder[String]
      condToks.foreach { t =>
        if (t.equalsIgnoreCase("AND")) { out += cur.result(); cur = Vector.newBuilder }
        else cur += t
      }
      out += cur.result()
      out.result()
    }
    def sideCol(x: String): (Char, String) =
      if (x.startsWith(lAl + ".")) ('l', x.stripPrefix(lAl + "."))
      else if (x.startsWith(rAl + ".")) ('r', x.stripPrefix(rAl + "."))
      else fail(s"condition operand $x must be alias-qualified ($lAl. or $rAl.)")
    val eqPairs = Vector.newBuilder[(String, String)]   // (leftCol, rightCol)
    var ineq: Option[(String, String, String)] = None   // (leftT, rightT, dir)
    conds.foreach { c =>
      if (c.length != 3) fail(s"unsupported condition: ${c.mkString(" ")}")
      val (a, op, b) = (c(0), c(1), c(2))
      val (sa, ca) = sideCol(a)
      val (sb, cb) = sideCol(b)
      if (sa == sb) fail(s"condition ${c.mkString(" ")} compares one side with itself")
      op match {
        case "=" =>
          eqPairs += (if (sa == 'l') (ca, cb) else (cb, ca))
        case ">=" | "<=" =>
          if (ineq.nonEmpty) fail("exactly one inequality is supported")
          // normalize to the probe side on the left of the operator
          val (lt, rt, o) =
            if (sa == 'l') (ca, cb, op)
            else (cb, ca, if (op == ">=") "<=" else ">=")
          ineq = Some((lt, rt, if (o == ">=") "backward" else "forward"))
        case other => fail(s"unsupported operator $other (use =, >=, <=)")
      }
    }
    val eqs = eqPairs.result()
    if (eqs.isEmpty) fail("requires at least one equality key")
    val (t1, t2, dir) = ineq.getOrElse(fail("requires one >=/<= time condition"))
    val lDf0 = spark.table(lRel)
    val rDf = spark.table(rRel)
    eqs.foreach { case (kl, kr) =>
      if (!lDf0.columns.contains(kl)) fail(s"probe side $lRel lacks $kl")
      if (!rDf.columns.contains(kr)) fail(s"build side $rRel lacks $kr")
    }
    if (!lDf0.columns.contains(t1)) fail(s"probe side $lRel lacks $t1")
    if (!rDf.columns.contains(t2)) fail(s"build side $rRel lacks $t2")
    // composite keys ride as ONE synthesized struct column — asofJoin
    // partitions its union on a single key column
    val (k1, lDf, rKeyed) =
      if (eqs.length == 1 && eqs.head._1 == eqs.head._2) {
        (eqs.head._1, lDf0, rDf)
      } else if (eqs.length == 1) {
        if (rDf.columns.contains(eqs.head._1))
          fail(s"build side already has a column named ${eqs.head._1}")
        (eqs.head._1, lDf0, rDf.withColumnRenamed(eqs.head._2, eqs.head._1))
      } else {
        // canonical field names: the union inside asofJoin matches
        // struct fields BY NAME across the two sides
        ("__asof_k",
          lDf0.withColumn("__asof_k", struct(
            eqs.zipWithIndex.map { case (e, n) => col(e._1).as(s"k$n") }: _*)),
          rDf.withColumn("__asof_k", struct(
            eqs.zipWithIndex.map { case (e, n) => col(e._2).as(s"k$n") }: _*)))
      }
    val composite = eqs.length > 1
    val rightEqCols = if (composite) eqs.map(_._2).toSet else Set(eqs.head._2)
    val payload = rKeyed.columns.toSeq
      .filterNot(c => c == k1 || c == t2 || rightEqCols.contains(c))
    if (payload.contains(t1) || (!composite && payload.contains(k1)))
      fail(s"build-side payload column clashes with probe key/time name")
    val rSel = rKeyed.select(
      (col(k1) +: col(t2).as(t1) +: payload.map(col)) :+
        col(t2).as("__rt"): _*)
    var res = graft.operators.AsOf.asofJoin(lDf, rSel, k1, t1,
      payload :+ "__rt", direction = dir)
    if (!isLeft) res = res.filter(col("asof___rt").isNotNull)
    if (composite) res = res.drop("__asof_k")
    // statement bounds: mapping alias-qualified references outside
    // this SELECT's scope would corrupt unrelated subqueries that
    // happen to reuse the alias letters. Computed BEFORE the refsRt
    // drop decision so that scan is bounded by the same range.
    var stmtStart = 0
    locally {
      var j = fromIdx
      var bal = 0
      var done = false
      while (j >= 0 && !done) {
        val t = tokens(j)
        if (t == ")") bal += 1
        else if (t == "(") {
          if (bal == 0) { stmtStart = j + 1; done = true } else bal -= 1
        } else if (bal == 0 && t.equalsIgnoreCase("SELECT")) {
          stmtStart = j; done = true
        }
        j -= 1
      }
    }
    var stmtEnd = tokens.length
    locally {
      var j = end
      var d2 = 0
      while (j < tokens.length && stmtEnd == tokens.length) {
        val t = tokens(j)
        if (t == "(") d2 += 1
        else if (t == ")") { if (d2 == 0) stmtEnd = j else d2 -= 1 }
        else if (d2 == 0 && (t.equalsIgnoreCase("UNION") ||
          t.equalsIgnoreCase("INTERSECT") || t.equalsIgnoreCase("EXCEPT")))
          stmtEnd = j
        j += 1
      }
    }
    // keep SELECT * honest (ADVICE r6): internal columns must not leak
    // into star expansion. The right-time column survives only if THIS
    // STATEMENT actually references ra.<t2> (ADVICE r7: bounded to
    // stmtStart..stmtEnd — an unrelated subquery/set-op branch reusing
    // the same alias must not keep asof___rt alive here); a payload
    // column keeps its bare name when that doesn't collide with a
    // probe column — the asof_ prefix is a collision escape, not an
    // output format. Only tokens SURVIVING the splice can reference
    // it — the ON clause always contains ra.<t2> but is replaced by
    // the view.
    val refsRt = (tokens.slice(stmtStart, fromIdx + 1) ++
      tokens.slice(end, stmtEnd)).contains(rAl + "." + t2)
    if (!refsRt) res = res.drop("asof___rt")
    val bareable = payload.filter(c => !lDf.columns.contains(c)).toSet
    bareable.foreach { c => res = res.withColumnRenamed("asof_" + c, c) }
    val view = "graft_asof_" + asofCounter.incrementAndGet()
    res.createOrReplaceTempView(view)
    val spliced = tokens.take(fromIdx + 1) ++ Vector(" ", view, " ") ++
      tokens.drop(end)
    val shift = 3 - (end - fromIdx - 1) // splice length delta
    val mapEnd = stmtEnd + (if (stmtEnd >= end) shift else 0)
    val eqMap = eqs.map { case (kl, kr) => (rAl + "." + kr) -> kl }.toMap
    spliced.zipWithIndex.map { case (t, i) =>
      // only alias-QUALIFIED references are rewritten (a bare payload
      // name may belong to a subquery's own relation), and only inside
      // this statement's token range; an output alias (token after AS)
      // is the user's name, never a column reference
      val prev = spliced.lastIndexWhere(x => !isWs(x), i - 1)
      val isAlias = prev >= 0 && spliced(prev).equalsIgnoreCase("AS")
      if (i < stmtStart || i >= mapEnd || isAlias) t
      else if (t.startsWith(lAl + ".")) t.stripPrefix(lAl + ".")
      else if (eqMap.contains(t)) eqMap(t)
      else if (t == rAl + "." + t2) "asof___rt"
      else if (t.startsWith(rAl + ".")) {
        val c = t.stripPrefix(rAl + ".")
        if (payload.contains(c)) {
          if (bareable.contains(c)) c else "asof_" + c
        } else t
      } else t
    }
  }

  /** Append the named output columns as trailing ascending keys of a
    * TOP-LEVEL ORDER BY, so tied sort keys render in the reference's
    * value order (deterministic across partitionings too).
    */
  private def appendOrderTieBreak(tokens: Vector[String], names: Seq[String]): Vector[String] = {
    if (names.isEmpty) return tokens
    var depth = 0
    var orderIdx = -1
    var insertAt = -1
    tokens.zipWithIndex.foreach { case (t, i) =>
      if (t == "(") depth += 1
      if (t == ")") depth -= 1
      if (depth == 0 && t.equalsIgnoreCase("ORDER")) orderIdx = i
      if (depth == 0 && orderIdx >= 0 && insertAt < 0 &&
          (t.equalsIgnoreCase("LIMIT") || OctoSql.isTriggerClause(tokens, i))) insertAt = i
    }
    if (orderIdx < 0) return tokens
    val extras = names.flatMap(n => Vector(",", " ", s"`$n`", " "))
    val at = if (insertAt < 0) tokens.length else insertAt
    tokens.take(at) ++ extras ++ tokens.drop(at)
  }

  /** Analysis-time type-dispatched scalar functions the token rewriter
    * can't express (len over string vs list; parse_time's Go layouts).
    */
  def registerFunctions(spark: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{Expression => CExpr}
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    registry.createOrReplaceTempFunction("len",
      (args: Seq[CExpr]) => graft.plans.OctoFns.OctoLen(args.head), "scala_udf")
    registry.createOrReplaceTempFunction("parse_time",
      (args: Seq[CExpr]) => graft.plans.OctoFns.OctoParseTime(args(0), args(1)), "scala_udf")
    registry.createOrReplaceTempFunction("octo_string",
      (args: Seq[CExpr]) => graft.plans.OctoFns.OctoString(args.head), "scala_udf")
  }

  // ---- typecheck parity ---------------------------------------------

  /** The reference's streaming outer joins only support equi predicates;
    * it rejects anything else at typecheck (tests/scenarios/nodes/
    * left_join_0 etc.). The engine API has no such limit — this check
    * guards only the reference-parity surface.
    */
  private[sql] def checkOuterJoins(tokens: Vector[String]): Unit = {
    var i = 0
    while (i < tokens.length) {
      val t = tokens(i).toUpperCase
      if (t == "LEFT" || t == "RIGHT" || t == "OUTER" || t == "FULL") {
        val j = nextNonWs(tokens, i + 1)
        // ASOF LEFT JOIN is the temporal join, not the reference's
        // streaming outer join — its inequality is the semantics
        val prev = tokens.lastIndexWhere(x => !isWs(x), i - 1)
        val isAsof = prev >= 0 && tokens(prev).equalsIgnoreCase("ASOF")
        if (!isAsof && j >= 0 && (tokens(j).equalsIgnoreCase("JOIN") ||
            tokens(j).equalsIgnoreCase("OUTER"))) {
          // find THIS join's ON: scan at depth 0 relative to the join
          // keyword (an inner join's ON inside a parenthesized subquery
          // must not be picked up)
          var on = -1
          var k0 = j + 1
          var d0 = 0
          while (on < 0 && k0 < tokens.length) {
            tokens(k0) match {
              case "(" => d0 += 1
              case ")" => d0 -= 1
              case x if d0 == 0 && x.equalsIgnoreCase("ON") => on = k0
              case _ if d0 == 0 && isClauseKw(tokens, k0) => k0 = tokens.length
              case _ =>
            }
            k0 += 1
          }
          if (on >= 0) {
            var k = nextNonWs(tokens, on + 1)
            var depth = 0
            var bad = false
            // a comparison written without spaces lives INSIDE a token
            // (`l.x>r.x`); string literals are exempt
            def hasBadOp(x: String): Boolean =
              !x.startsWith("'") && x != "->" && x != "->*" &&
                (x.contains("<") || x.contains(">") || x.contains("!="))
            while (k >= 0 && k < tokens.length &&
                   !(depth == 0 && (isClauseKw(tokens, k) ||
                     JoinKw.contains(tokens(k).toUpperCase) && !tokens(k).equalsIgnoreCase("AS") && !tokens(k).equalsIgnoreCase("ON")))) {
              tokens(k) match {
                case "(" => depth += 1
                case ")" => depth -= 1
                case x if x.equalsIgnoreCase("OR") => bad = true
                case x if hasBadOp(x) => bad = true
                case _ =>
              }
              if (depth < 0) k = tokens.length
              else k += 1
            }
            if (bad) throw new TypecheckException(
              "outer join predicate must be a conjunction of equalities")
          }
        }
      }
      i += 1
    }
  }

  // ---- table binding -------------------------------------------------

  /** Position-aware path-table binding: only tokens in FROM/JOIN/
    * comma-in-FROM position that [[PathTable.isSpec]] accepts are bound
    * (a column named `t.lines` stays a column). FROM-context is tracked
    * PER PAREN DEPTH — a parenthesized subquery (with its own
    * SELECT/FROM) neither ends the outer FROM clause nor leaks its own.
    */
  private def bind(spark: SparkSession, tokens: Vector[String], ctx: Ctx, wholeFileCsv: Boolean,
                   rels: scala.collection.mutable.Map[String, RelInfo],
                   validations: scala.collection.mutable.Builder[() => Unit, Seq[() => Unit]]): Vector[String] = {
    val out = Vector.newBuilder[String]
    var expectRel = false
    var depth = 0
    // per-depth FROM-clause flag; entries above the current depth are
    // discarded as parens close
    val inFrom = scala.collection.mutable.Map[Int, Boolean]()
    tokens.indices.foreach { i =>
      val t = tokens(i)
      val up = t.toUpperCase
      if (t == "(") { depth += 1; expectRel = false }
      if (t == ")") { inFrom.remove(depth); depth -= 1; expectRel = false }
      var emit = t
      if (up == "FROM" || up == "JOIN" || up == "TABLE") {
        expectRel = true
        if (up != "TABLE") inFrom(depth) = true
      } else if (isClauseKw(tokens, i) || up == "SELECT") {
        inFrom(depth) = false; expectRel = false
      } else if (t == "," && inFrom.getOrElse(depth, false)) expectRel = true
      else if (expectRel && !isWs(t) && !t.startsWith("'") && t != "(" && t != ")") {
        if (PathTable.isSpec(t)) emit = bindOne(spark, t, ctx, wholeFileCsv, rels, validations)
        expectRel = false
      }
      out += emit
    }
    out.result()
  }

  /** View names carry a content hash so distinct paths can't alias. */
  private def viewNameFor(spec: String): String = {
    val h = Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(spec)).take(8)
    "pt_" + spec.replaceAll("[^A-Za-z0-9]", "_") + "_" + h
  }

  /** Bind one table spec as a temp view. The spec grammar is
    * [[PathTable.parse]]'s; the dialect adds octosql JSON typing
    * ([[OctoJson]]), stdin from [[Ctx]] and paths relative to its
    * `baseDir`.
    */
  private def bindOne(spark: SparkSession, spec: String, ctx: Ctx, wholeFileCsv: Boolean,
                      rels: scala.collection.mutable.Map[String, RelInfo],
                      validations: scala.collection.mutable.Builder[() => Unit, Seq[() => Unit]]): String = {
    val view = viewNameFor(spec)
    def octoJson(fields: Seq[(String, OType)], validate: () => Unit, df: DataFrame): DataFrame = {
      validations += validate
      rels(view) = RelInfo(fields)
      df
    }
    val df: DataFrame = PathTable.parse(spec) match {
      case PathTable.StdinSpec(format, opts) =>
        val lines = ctx.stdinLines
        if (format == "json") {
          val fields = OctoJson.inferLines(lines)
          octoJson(fields, () => OctoJson.validateLines(lines),
            OctoJson.readLines(spark, lines, fields))
        } else PathTable.readStdinLines(spark, format, lines, opts)
      case PathTable.FileSpec(path, format, opts) =>
        val resolved = if (path.startsWith("/")) path else s"${ctx.baseDir}/$path"
        if (format == "json") {
          val fields = OctoJson.infer(spark, resolved)
          octoJson(fields, () => OctoJson.validate(spark, resolved),
            OctoJson.read(spark, resolved, fields))
        } else PathTable.read(spark, resolved, format, opts, wholeFileCsv)
      case other => PathTable.open(spark, other)
    }
    if (!rels.contains(view))
      rels(view) = RelInfo(df.schema.fields.toSeq.map(f => f.name -> OType.fromSpark(f.dataType)))
    df.createOrReplaceTempView(view)
    view
  }

  // ---- TVFs ----------------------------------------------------------

  private val TvfNames = Set("tumble", "hop", "max_diff_watermark", "poll", "range")
  // atomic: concurrent prepare() calls on one session must never mint
  // the same TVF view name (createOrReplaceTempView would stomp one
  // query's source with the other's)
  private val tvfCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Parse `INTERVAL <n> <unit>` (or `INTERVAL '<n>' <unit>`) starting
    * at `i`; returns (seconds, index-after). Units per the reference
    * grammar (sqlparser interval units / Go durations).
    */
  private def parseIntervalTokens(ts: Vector[String], i: Int): Option[(BigDecimal, Int)] = {
    if (!ts(i).equalsIgnoreCase("INTERVAL")) return None
    val ni = nextNonWs(ts, i + 1)
    if (ni < 0) return None
    val numTok = ts(ni)
    // a non-numeric follower means this INTERVAL token was not an
    // interval literal (e.g. a column named `interval`) — not ours
    val num = try BigDecimal(
      if (numTok.startsWith("'")) numTok.substring(1, numTok.length - 1) else numTok)
      catch { case _: NumberFormatException => return None }
    val ui = nextNonWs(ts, ni + 1)
    if (ui < 0) return None
    val mult: BigDecimal = ts(ui).toLowerCase.stripSuffix("s") match {
      case "nanosecond" => BigDecimal(1) / 1000000000L
      case "microsecond" => BigDecimal(1) / 1000000L
      case "millisecond" => BigDecimal(1) / 1000L
      case "second" => 1
      case "minute" => 60
      case "hour" => 3600
      case "day" => 86400
      case _ => return None
    }
    Some((num * mult, ui + 1))
  }

  /** Rewrite named-argument TVF calls in FROM position into temp views
    * built with the DataFrame API (Streams-equivalent batch semantics),
    * innermost first so `tumble(source => TABLE max_diff_watermark(...))`
    * nests naturally.
    */
  private def rewriteTvfs(spark: SparkSession, tokens0: Vector[String],
                          rels: scala.collection.mutable.Map[String, RelInfo]): Vector[String] = {
    var tokens = tokens0
    var changed = true
    while (changed) {
      changed = false
      var i = 0
      var done = false
      while (i < tokens.length && !done) {
        val t = tokens(i)
        if (!t.startsWith("'") && TvfNames.contains(t.toLowerCase)) {
          val open = nextNonWs(tokens, i + 1)
          if (open >= 0 && tokens(open) == "(") {
            val close = OctoSql.matching(tokens, open)
            val inner = tokens.slice(open + 1, close)
            val isNamedArgs = inner.exists(x => !x.startsWith("'") && x.contains("=>"))
            val hasNested = inner.exists(x => !x.startsWith("'") &&
              TvfNames.contains(x.toLowerCase) &&
              { val o = nextNonWs(inner, inner.indexOf(x) + 1); o >= 0 && inner(o) == "(" })
            if (isNamedArgs && !hasNested) {
              val view = applyTvf(spark, t.toLowerCase, inner, rels)
              tokens = tokens.take(i) ++ Vector(view) ++ tokens.drop(close + 1)
              changed = true; done = true
            }
          }
        }
        i += 1
      }
    }
    tokens
  }

  /** Split top-level comma args; each `name => value-tokens`. */
  private def namedArgs(inner: Vector[String]): Map[String, Vector[String]] = {
    val args = scala.collection.mutable.ArrayBuffer(Vector.newBuilder[String])
    var depth = 0
    inner.foreach { x =>
      if (x == "(") depth += 1
      if (x == ")") depth -= 1
      if (x == "," && depth == 0) args += Vector.newBuilder[String]
      else args.last += x
    }
    args.map(_.result()).map { argToks0 =>
      // `start=>1` arrives as one token when unspaced — split it
      val argToks = argToks0.flatMap { t =>
        if (!t.startsWith("'") && t != "=>" && t.contains("=>")) {
          val i = t.indexOf("=>")
          Vector(t.substring(0, i), "=>", t.substring(i + 2)).filter(_.nonEmpty)
        } else Vector(t)
      }
      val arrow = argToks.indexOf("=>")
      val name = argToks.slice(0, arrow).filterNot(isWs).mkString
      val value = argToks.drop(arrow + 1).dropWhile(isWs).reverse.dropWhile(isWs).reverse
      name.toLowerCase -> value
    }.toMap
  }

  private def applyTvf(spark: SparkSession, name: String, inner: Vector[String],
                       rels: scala.collection.mutable.Map[String, RelInfo]): String = {
    val view = s"tvf_${name}_${tvfCounter.incrementAndGet()}"
    val args = namedArgs(inner)
    def required(arg: String): Vector[String] =
      args.getOrElse(arg, throw new TypecheckException(
        s"$name: required argument $arg is missing"))
    def sourceDf(): (DataFrame, RelInfo) = {
      val srcToks = required("source")
      val rest = srcToks.dropWhile(x => isWs(x) || x.equalsIgnoreCase("TABLE"))
      val relSql = rest.mkString.trim
      val df = spark.sql(s"SELECT * FROM $relSql")
      val info = rels.getOrElse(relSql,
        RelInfo(df.schema.fields.toSeq.map(f => f.name -> OType.fromSpark(f.dataType))))
      (df, info)
    }
    def descriptor(arg: String): Option[String] =
      args.get(arg).map(_.filterNot(isWs)
        .dropWhile(_.equalsIgnoreCase("DESCRIPTOR")).mkString)
    def interval(arg: String): Option[BigDecimal] =
      args.get(arg).flatMap { v =>
        val nw = v.filter(x => !isWs(x))
        parseIntervalTokens(nw, 0).map(_._1)
      }

    name match {
      case "range" =>
        val start = required("start").filterNot(isWs).mkString.toLong
        val end = required("end").filterNot(isWs).mkString.toLong
        val df = spark.range(start, end).select(col("id").as("i"))
        df.createOrReplaceTempView(view)
        rels(view) = RelInfo(Seq("i" -> OInt))
        view
      case "tumble" =>
        val (src, info) = sourceDf()
        val tf = descriptor("time_field").orElse(info.timeField).getOrElse(
          throw new TypecheckException(
            "the source table has no implicit watermarked time field, time_field must be specified explicitly"))
        required("window_length")
        val lenUs = (interval("window_length").getOrElse(
          throw new TypecheckException(
            "tumble: window_length must be a Duration (INTERVAL n UNIT)"))
          * 1000000L).toLong
        val offUs = interval("offset").map(s => (s * 1000000L).toLong).getOrElse(0L)
        val us = unix_micros(col(tf))
        val ws = us - pmod(us - lit(offUs), lit(lenUs))
        val df = src
          .withColumn("window_start", timestamp_micros(ws))
          .withColumn("window_end", timestamp_micros(ws + lit(lenUs)))
        df.createOrReplaceTempView(view)
        rels(view) = RelInfo(
          info.cols ++ Seq("window_start" -> OTime, "window_end" -> OTime),
          timeField = Some("window_end"))
        view
      case "hop" =>
        // hopping (sliding) window — beyond the reference's tumble;
        // named-arg surface mirrors Flink's HOP TVF. Each row lands in
        // window_length / hop_length overlapping windows via Expand.
        val (src, info) = sourceDf()
        val tf = descriptor("time_field").orElse(info.timeField).getOrElse(
          throw new TypecheckException(
            "the source table has no implicit watermarked time field, time_field must be specified explicitly"))
        required("window_length")
        required("hop_length")
        val lenUs = (interval("window_length").getOrElse(
          throw new TypecheckException(
            "hop: window_length must be a Duration (INTERVAL n UNIT)"))
          * 1000000L).toLong
        val hopUs = (interval("hop_length").getOrElse(
          throw new TypecheckException(
            "hop: hop_length must be a Duration (INTERVAL n UNIT)"))
          * 1000000L).toLong
        val df = graft.streaming.Streams.hop(src, tf,
          s"$lenUs microseconds", s"$hopUs microseconds")
        df.createOrReplaceTempView(view)
        rels(view) = RelInfo(
          info.cols ++ Seq("window_start" -> OTime, "window_end" -> OTime),
          timeField = Some("window_end"))
        view
      case "max_diff_watermark" =>
        // Batch semantics: the watermark only matters mid-stream; at
        // end-of-stream everything is on time. Marks the time field.
        val (src, info) = sourceDf()
        val tf = descriptor("time_field").getOrElse(
          throw new TypecheckException("max_diff_watermark requires time_field"))
        src.createOrReplaceTempView(view)
        rels(view) = RelInfo(info.cols, timeField = Some(tf))
        view
      case "poll" =>
        // Batch semantics: a single poll — identity.
        val (src, info) = sourceDf()
        src.createOrReplaceTempView(view)
        rels(view) = info
        view
    }
  }

  // ---- literal passes ------------------------------------------------

  private val FloatLit = """^-?\d+\.\d+([eE][+-]?\d+)?$|^-?\d+[eE][+-]?\d+$"""

  /** `1.0` parses as DECIMAL in Spark; the reference types it Float.
    * (Decimals are reserved for durations by dialect convention.)
    */
  private[sql] def floatLiterals(tokens: Vector[String]): Vector[String] = {
    val out = Vector.newBuilder[String]
    tokens.foreach { t =>
      if (!t.startsWith("'") && t.matches(FloatLit)) {
        out += "CAST"; out += "("; out += t; out += " "; out += "AS"
        out += " "; out += "DOUBLE"; out += ")"
      } else out += t
    }
    out.result()
  }

  /** `INTERVAL n UNIT` → `CAST('<seconds>' AS DECIMAL(38,9))`: durations
    * are decimal seconds in the dialect (nanosecond-exact; Spark
    * day-time intervals are micros and can't render Go durations).
    */
  private[sql] def intervalLiterals(tokens: Vector[String]): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < tokens.length) {
      val t = tokens(i)
      if (!t.startsWith("'") && t.equalsIgnoreCase("INTERVAL")) {
        parseIntervalTokens(tokens, i) match {
          case Some((secs, next)) =>
            out += "CAST"; out += "("
            out += "'" + secs.setScale(9, BigDecimal.RoundingMode.DOWN).bigDecimal.toPlainString + "'"
            out += " "; out += "AS"; out += " "; out += "DECIMAL"; out += "("
            out += "38"; out += ","; out += "9"; out += ")"; out += ")"
            i = next
          case None => out += t; i += 1
        }
      } else { out += t; i += 1 }
    }
    out.result()
  }

  // ---- output naming -------------------------------------------------

  case class Named(tokens: Vector[String], names: Seq[String],
                   otypes: Seq[Option[OType]], timeField: Option[String])

  private case class Rel(alias: Option[String], view: Option[String])

  /** Replicate the reference's output-field naming on the outermost
    * select list (parser.go:120-200 for aggregates, map.go:99-125
    * otherwise), expand `*` with relation qualifiers and `x->*` object
    * explosions, and tag panic() calls with their select index for
    * error parity.
    */
  private def nameSelect(spark: SparkSession, tokens: Vector[String],
                         rels: Map[String, RelInfo]): Named = {
    // locate outermost SELECT (skipping WITH ctes)
    var i = nextNonWs(tokens, 0)
    if (i < 0) return Named(tokens, Nil, Nil, None)
    if (tokens(i).equalsIgnoreCase("WITH")) {
      // skip `name AS ( ... )` [, ...] groups
      var depth = 0
      var j = i + 1
      var found = -1
      while (j < tokens.length && found < 0) {
        if (tokens(j) == "(") { j = OctoSql.matching(tokens, j) + 1 }
        else {
          if (tokens(j).equalsIgnoreCase("SELECT")) found = j
          j += 1
        }
      }
      i = found
    }
    if (i < 0 || !tokens(i).equalsIgnoreCase("SELECT")) return Named(tokens, Nil, Nil, None)
    var selStart = i + 1
    val afterSel = nextNonWs(tokens, selStart)
    val distinct = afterSel >= 0 && tokens(afterSel).equalsIgnoreCase("DISTINCT")
    if (distinct) selStart = afterSel + 1
    // select list ends at depth-0 FROM or clause keyword
    var j = selStart
    var depth = 0
    var selEnd = tokens.length
    var fromIdx = -1
    while (j < tokens.length && selEnd == tokens.length) {
      tokens(j) match {
        case "(" => depth += 1
        case ")" => depth -= 1
        case t if depth == 0 && t.equalsIgnoreCase("FROM") => selEnd = j; fromIdx = j
        case _ if depth == 0 && isClauseKw(tokens, j) => selEnd = j
        case _ =>
      }
      j += 1
    }

    // FROM clause relations (for * expansion and variable otypes)
    val relations = if (fromIdx < 0) Nil else parseRelations(tokens, fromIdx + 1)
    val colTypes = scala.collection.mutable.HashMap[String, OType]()
    val relCols = scala.collection.mutable.LinkedHashMap[Rel, Seq[(String, OType)]]()
    relations.foreach { r =>
      val info = r.view.flatMap(rels.get).orElse(
        r.view.flatMap(v => scala.util.Try(
          RelInfo(spark.table(v).schema.fields.toSeq.map(f => f.name -> OType.fromSpark(f.dataType)))).toOption))
      info.foreach { ri =>
        relCols(r) = ri.cols
        ri.cols.foreach { case (c, t) =>
          r.alias.foreach(a => colTypes.getOrElseUpdate(s"$a.$c", t))
          colTypes.getOrElseUpdate(c, t)
        }
      }
    }
    val timeField = relations.flatMap(r => r.view.flatMap(rels.get).flatMap(_.timeField)).headOption

    // split select items on depth-0 commas
    val items = {
      val acc = scala.collection.mutable.ArrayBuffer(Vector.newBuilder[String])
      var d = 0
      tokens.slice(selStart, selEnd).foreach { t =>
        if (t == "(") d += 1
        if (t == ")") d -= 1
        if (t == "," && d == 0) acc += Vector.newBuilder[String]
        else acc.last += t
      }
      acc.map(_.result().dropWhile(isWs).reverse.dropWhile(isWs).reverse).toVector
    }

    // aggregate mode?
    def pureAggCall(item: Vector[String]): Option[(String, Vector[String])] = {
      val h = nextNonWs(item, 0)
      if (h < 0) return None
      val fn = item(h).toLowerCase
      if (!AggNames.contains(fn)) return None
      val open = nextNonWs(item, h + 1)
      if (open < 0 || item(open) != "(") return None
      val close = OctoSql.matching(item, open)
      if (nextNonWs(item, close + 1) >= 0) return None
      Some((fn, item.slice(open + 1, close)
        .dropWhile(isWs).reverse.dropWhile(isWs).reverse))
    }
    def itemAlias(item: Vector[String]): (Vector[String], Option[String]) = {
      var d = 0
      var asIdx = -1
      item.zipWithIndex.foreach { case (t, k) =>
        if (t == "(") d += 1
        if (t == ")") d -= 1
        if (d == 0 && t.equalsIgnoreCase("AS")) asIdx = k
      }
      if (asIdx < 0) (item, None)
      else {
        val a = nextNonWs(item, asIdx + 1)
        if (a >= 0 && nextNonWs(item, a + 1) < 0 && isIdent(item(a)))
          (item.take(asIdx).reverse.dropWhile(isWs).reverse, Some(item(a)))
        else (item, None)
      }
    }
    val parsed = items.map(itemAlias)
    val aggMode = parsed.exists { case (e, _) => pureAggCall(e).isDefined }

    // bail to Spark-native naming when a `*` / `->*` can't be resolved
    // against known relation schemas (arbitrary subqueries): output
    // names then fall back to df.columns.
    val unresolvable = parsed.exists { case (e, _) =>
      val single = if (e.count(!isWs(_)) == 1) Some(e(nextNonWs(e, 0))) else None
      val lastIdx = e.lastIndexWhere(!isWs(_))
      val isExpl = lastIdx >= 0 && e(lastIdx) == "->*"
      (single.contains("*") && relCols.isEmpty) || {
        isExpl && {
          val varName = e.take(lastIdx).filterNot(isWs).mkString
          val ot = colTypes.get(varName).orElse(colTypes.get(stripQual0(varName)))
          !ot.exists(_.isInstanceOf[OStruct])
        }
      }
    }
    if (unresolvable) return Named(tokens, Nil, Nil, timeField)

    val nameCounter = scala.collection.mutable.HashMap[String, Int]()
    def unique(name: String): String = {
      val c = nameCounter.getOrElse(name, 0)
      nameCounter(name) = c + 1
      if (c == 0) name else s"${name}_$c"
    }
    def stripQual(n: String): String =
      if (n.contains(".")) n.substring(n.indexOf('.') + 1) else n

    val outTokens = Vector.newBuilder[String]
    val outNames = Seq.newBuilder[String]
    val outTypes = Seq.newBuilder[Option[OType]]
    var emittedAny = false
    def emitItem(exprToks: Vector[String], name: String, ot: Option[OType]): Unit = {
      if (emittedAny) { outTokens += ","; outTokens += " " }
      emittedAny = true
      exprToks.foreach(outTokens += _)
      outTokens += " "; outTokens += "AS"; outTokens += " "; outTokens += s"`$name`"
      outNames += name
      outTypes += ot
    }

    parsed.zipWithIndex.foreach { case ((expr0, alias), idx) =>
      val expr = rewritePanic(expr0, idx)
      val single = if (expr.count(!isWs(_)) == 1) Some(expr(nextNonWs(expr, 0))) else None
      val isStar = single.contains("*")
      val isExplosion = {
        val lastIdx = expr.lastIndexWhere(!isWs(_))
        lastIdx >= 0 && expr(lastIdx) == "->*"
      }
      if (isStar) {
        // expand relations with qualifiers (requalifier naming)
        if (relCols.isEmpty) emitItem(Vector("*"), "*", None) // fallback: passthrough
        else relCols.foreach { case (rel, cols) =>
          cols.foreach { case (c, t) =>
            rel.alias match {
              case Some(a) =>
                emitItem(Vector(s"`$a`", ".", s"`$c`"), unique(s"$a.$c"), Some(t))
              case None =>
                emitItem(Vector(s"`$c`"), unique(c), Some(t))
            }
          }
        }
      } else if (isExplosion) {
        val varToks = expr.take(expr.lastIndexWhere(!isWs(_)))
          .reverse.dropWhile(isWs).reverse
        val varName = varToks.filterNot(isWs).mkString
        val ot = colTypes.get(varName).orElse(colTypes.get(stripQual(varName)))
        ot match {
          case Some(st: OStruct) if st.needsVariant =>
            st.fields.foreach { case (f, ft) =>
              val extractor: Vector[String] =
                if (ft.needsVariant)
                  Vector("variant_get", "(") ++ varToks ++ Vector(",", s"'${graft.sources.OctoJson.variantPath(f)}'", ",", "'variant'", ")")
                else ft.nonNullAlts.headOption match {
                  case Some(OTime) =>
                    Vector("CAST", "(", "try_variant_get", "(") ++ varToks ++
                      Vector(",", s"'${graft.sources.OctoJson.variantPath(f)}'", ",", "'string'", ")", " ", "AS", " ", "TIMESTAMP", ")")
                  case Some(s1) =>
                    Vector("try_variant_get", "(") ++ varToks ++
                      Vector(",", s"'${graft.sources.OctoJson.variantPath(f)}'", ",", s"'${OType.toSpark(s1).sql}'", ")")
                  case None => Vector("NULL")
                }
              emitItem(extractor, unique(f), Some(ft))
            }
          case Some(OStruct(fields)) =>
            fields.foreach { case (f, ft) =>
              emitItem(varToks ++ Vector(".", s"`$f`"), unique(f), Some(ft))
            }
          case _ =>
            // unknown struct: Spark-native star expansion, names pass through
            emitItem(varToks ++ Vector(".", "*"), unique("col_" + idx), None)
        }
      } else if (aggMode) {
        pureAggCall(expr) match {
          case Some((fn, argToks)) =>
            val argSingle =
              if (argToks.count(!isWs(_)) == 1) Some(argToks(nextNonWs(argToks, 0))) else None
            val name = alias.getOrElse {
              argSingle match {
                case Some(a) if isIdent(a) => s"${fn}_${stripQual(a)}"
                case _ => fn
              }
            }
            emitItem(expr, unique(name), None)
          case None =>
            val name = alias.getOrElse {
              single match {
                case Some(s) if isIdent(s) => stripQual(s)
                case _ => s"key_$idx"
              }
            }
            val ot = single.flatMap(s => colTypes.get(s).orElse(colTypes.get(stripQual(s))))
            emitItem(expr, unique(name), ot)
        }
      } else {
        val name = alias.getOrElse {
          single match {
            case Some(s) if isIdent(s) => s
            case _ => s"col_$idx"
          }
        }
        val ot = single.flatMap(s => colTypes.get(s).orElse(colTypes.get(stripQual(s))))
        emitItem(expr, unique(name), ot)
      }
    }

    val newTokens = tokens.take(selStart) ++
      Vector(" ") ++ outTokens.result() ++ Vector(" ") ++ tokens.drop(selEnd)
    Named(newTokens, outNames.result(), outTypes.result(), timeField)
  }

  /** FROM-clause relation list: `rel [alias] (JOIN rel [alias] ON ...)*`. */
  private def parseRelations(tokens: Vector[String], from: Int): Seq[Rel] = {
    val out = Seq.newBuilder[Rel]
    var i = nextNonWs(tokens, from)
    var expectRel = true
    var depth = 0
    // alias after a relation, accepting the optional AS keyword
    // (`FROM t AS a` ≡ `FROM t a` — AS sits in JoinKw, so without the
    // skip the alias was dropped and star expansion lost the
    // qualifier). Returns (alias, index-after-alias).
    def aliasAt(after: Int): (Option[String], Int) = {
      var a = nextNonWs(tokens, after)
      if (a >= 0 && tokens(a).equalsIgnoreCase("AS"))
        a = nextNonWs(tokens, a + 1)
      if (a >= 0 && isIdent(tokens(a)) && !JoinKw.contains(tokens(a).toUpperCase) &&
          !isClauseKw(tokens, a)) (Some(tokens(a)), a + 1)
      else (None, after)
    }
    while (i >= 0 && i < tokens.length) {
      val t = tokens(i)
      val up = t.toUpperCase
      if (depth == 0 && isClauseKw(tokens, i)) return out.result()
      if (t == "(") {
        if (expectRel && depth == 0) {
          val close = OctoSql.matching(tokens, i)
          // subquery: schema unknown here
          val (alias, after) = aliasAt(close + 1)
          out += Rel(alias, None)
          expectRel = false
          i = if (alias.isDefined) after else close + 1
        } else { depth += 1; i += 1 }
      } else if (t == ")") { depth -= 1; i += 1 }
      else if (depth == 0 && up == "JOIN") { expectRel = true; i += 1 }
      else if (depth == 0 && t == ",") { expectRel = true; i += 1 }
      else if (depth == 0 && expectRel && isIdent(t) && !JoinKw.contains(up)) {
        val (alias, after) = aliasAt(i + 1)
        out += Rel(alias, Some(t))
        expectRel = false
        i = if (alias.isDefined) after else i + 1
      } else i += 1
    }
    out.result()
  }

  /** Tag panic() calls with their select-item index so the CLI can
    * format the reference's exact runtime error
    * (`couldn't evaluate K map expression: ... panic: 'msg'`).
    */
  private def rewritePanic(item: Vector[String], idx: Int): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < item.length) {
      val t = item(i)
      val open = nextNonWs(item, i + 1)
      if (!t.startsWith("'") && t.equalsIgnoreCase("panic") &&
          open >= 0 && item(open) == "(") {
        val close = OctoSql.matching(item, open)
        val args = item.slice(open + 1, close).dropWhile(isWs).reverse.dropWhile(isWs).reverse
        out += "raise_error"; out += "("
        if (args.length == 1 && args(0).startsWith("'")) {
          val lit = args(0).substring(1, args(0).length - 1)
          out += s"'GRAFTPANIC|$idx|panic: ''$lit'''"
        } else {
          out += "concat"; out += "("; out += s"'GRAFTPANIC|$idx|panic: '"; out += ","
          out += "CAST"; out += "("
          args.foreach(out += _)
          out += " "; out += "AS"; out += " "; out += "STRING"; out += ")"; out += ")"
        }
        out += ")"
        i = close + 1
      } else { out += t; i += 1 }
    }
    out.result()
  }
}
