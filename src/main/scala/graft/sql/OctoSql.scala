package graft.sql

/** The reference engine's SQL dialect on Spark: a pure token-level
  * rewrite library to Spark SQL text, with no Spark types (the
  * frontend that calls it binds path tables). Dialect features
  * covered (reference grammar cites in SURVEY §2 / §7.2):
  *
  *  - `LOOKUP JOIN` (sql.y:2096) → plain `JOIN` (identical semantics for
  *    a table RHS; Catalyst plans correlated RHS as lateral)
  *  - `a -> field` / `a ->*` object access (ast.go:1822-1847) →
  *    `a.field` / `a.*`
  *  - `~`, `~*`, `!~`, `!~*` regex operators (functions.go:591-668) →
  *    `RLIKE` forms (case-insensitive via `(?i)` prefix)
  *  - `unnest(x)` → `explode(x)`
  *  - scalar/aggregate function calls stay as-written: they resolve
  *    through the typed overload resolver at analysis time
  *    ([[Resolver]] + [[graft.plans.OctoResolve]]), which enforces the
  *    reference's strict signatures and builds the Spark-native
  *    implementations (0-based substr, display-format string(), ...)
  *  - `range(a, b)` TVF (range.go:14-109) → Spark `range` with column
  *    renamed `id` → `i`
  *  - `TRIGGER ...` clauses (sql.y:3000-3036) are stripped: batch
  *    execution fires once at end-of-stream, the reference's default
  *
  * Everything else (SELECT/WHERE/GROUP BY/ORDER BY/LIMIT/WITH/joins/
  * operators) is common SQL that Spark parses directly.
  */
object OctoSql {

  /** Tokenize preserving single-quoted string literals (with '' escape)
    * so rewrites never touch literal contents.
    */
  private[sql] def tokenize(sql: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    val n = sql.length
    val sb = new StringBuilder
    def flush(): Unit = if (sb.nonEmpty) { out += sb.toString; sb.clear() }
    while (i < n) {
      val c = sql(i)
      if (c == '\'') {
        flush()
        val lit = new StringBuilder("'")
        i += 1
        var done = false
        while (i < n && !done) {
          if (sql(i) == '\'' && i + 1 < n && sql(i + 1) == '\'') { lit ++= "''"; i += 2 }
          else if (sql(i) == '\'') { lit += '\''; i += 1; done = true }
          else { lit += sql(i); i += 1 }
        }
        out += lit.toString
      } else if (c.isWhitespace) {
        flush(); out += c.toString; i += 1
      } else if ("(),".contains(c)) {
        flush(); out += c.toString; i += 1
      } else if (c == '-' && i + 1 < n && sql(i + 1) == '>') {
        flush()
        if (i + 2 < n && sql(i + 2) == '*') { out += "->*"; i += 3 }
        else { out += "->"; i += 2 }
      } else if (c == '!' && i + 1 < n && sql(i + 1) == '~') {
        flush()
        if (i + 2 < n && sql(i + 2) == '*') { out += "!~*"; i += 3 }
        else { out += "!~"; i += 2 }
      } else if (c == '~') {
        flush()
        if (i + 1 < n && sql(i + 1) == '*') { out += "~*"; i += 2 }
        else { out += "~"; i += 1 }
      } else { sb += c; i += 1 }
    }
    flush()
    out.result()
  }

  private def isStringLit(t: String): Boolean = t.startsWith("'")
  private def isWs(t: String): Boolean = t.length == 1 && t(0).isWhitespace

  /** Per-token paren depth: "(" carries the depth it OPENS, ")" the
    * depth it returns to — so the matching parens of a scope at depth d
    * are the "(" with depths==d and the ")" with depths==d-1. One
    * definition for every depth-aware rewrite.
    */
  private[sql] def tokenDepths(tokens: Vector[String]): Array[Int] = {
    val depths = new Array[Int](tokens.length)
    var d = 0
    var i = 0
    while (i < tokens.length) {
      if (tokens(i) == "(") d += 1
      else if (tokens(i) == ")") d -= 1
      depths(i) = d
      i += 1
    }
    depths
  }

  /** Find the index of the matching ")" for the "(" at `open`. */
  private[sql] def matching(tokens: Vector[String], open: Int): Int = {
    var depth = 0
    var i = open
    while (i < tokens.length) {
      if (tokens(i) == "(") depth += 1
      else if (tokens(i) == ")") { depth -= 1; if (depth == 0) return i }
      i += 1
    }
    tokens.length - 1
  }

  private val ClauseKw = Set("WHERE", "GROUP", "HAVING", "ORDER", "LIMIT",
    "UNION", "INTERSECT", "EXCEPT", "TRIGGER")

  private val TriggerForms = Set("ON", "DELAY", "COUNTING")

  /** A `TRIGGER` token that opens the trigger clause — followed by a
    * trigger form (ON WATERMARK / DELAY e / COUNTING n,
    * parser/sqlparser/ast.go:3752-3800) — rather than a column named
    * `trigger` (SELECT trigger FROM t).
    */
  private[sql] def isTriggerClause(tokens: Vector[String], i: Int): Boolean =
    tokens(i).equalsIgnoreCase("TRIGGER") && {
      val follow = tokens.indexWhere(x => !isWs(x), i + 1)
      follow >= 0 && TriggerForms.contains(tokens(follow).toUpperCase)
    }

  /** Token `i` is a [[ClauseKw]] keyword ending the clause before it. */
  private[sql] def isClauseKw(tokens: Vector[String], i: Int): Boolean = {
    val up = tokens(i).toUpperCase
    ClauseKw.contains(up) && (up != "TRIGGER" || isTriggerClause(tokens, i))
  }

  /** QUALIFY clause (the Snowflake/DuckDB/BigQuery window filter —
    * beyond the reference's grammar, like the window functions it
    * filters): a predicate over the SELECT list's window-function
    * aliases, evaluated after windowing. Token-level rewrite, applied
    * at EVERY paren depth (Spark's parser has no QUALIFY, so a nested
    * one must be rewritten here too), innermost-next until none remain:
    *
    *   <query> QUALIFY <pred> [ORDER BY ...] [LIMIT ...]
    *   → SELECT * FROM ( <query> ) graft_qualify WHERE <pred> [tail]
    *
    * The predicate references output aliases — the portable subset
    * (the wrap sees exactly the query's output columns); ORDER
    * BY/LIMIT stay outside the wrap, preserving their filter-then-sort
    * semantics. For a QUALIFY inside parens, the rewrite scope is the
    * enclosing paren group, so `(... QUALIFY p) s` keeps its alias.
    */
  private[sql] def rewriteQualify(tokens0: Vector[String]): Vector[String] = {
    var tokens = tokens0
    while (true) {
      val depths = tokenDepths(tokens)
      // a QUALIFY token is the clause only when an expression precedes
      // it (identifier/literal/")"/"*") AND a FROM exists earlier at
      // the same depth — `SELECT qualify FROM t` and `WHERE qualify =
      // 1` keep their column named qualify
      def isClause(i: Int): Boolean = {
        val p = tokens.lastIndexWhere(x => !isWs(x), i - 1)
        if (p < 0) return false
        val prev = tokens(p)
        val exprEnd = prev == ")" || prev == "*" || isStringLit(prev) ||
          prev.matches("""[A-Za-z_][A-Za-z0-9_.]*""") ||
          prev.matches("""[0-9][A-Za-z0-9_.]*""")
        val kw = Set("SELECT", "WHERE", "AND", "OR", "NOT", "BY", "ON",
          "WHEN", "THEN", "ELSE", "CASE", "FROM", "JOIN", "AS")
        // the FROM must belong to THIS statement: scan back only to the
        // nearest same-depth statement boundary (SELECT / set-op) or
        // out of the enclosing paren group — a FROM in a sibling set-op
        // branch or an earlier closed scope must not make a column
        // named qualify in a FROM-less SELECT read as the clause
        // (ADVICE r6; mirrors rewriteOneAsof's stmtStart walk)
        def fromInStatement: Boolean = {
          var j = i - 1
          while (j >= 0) {
            if (depths(j) < depths(i)) return false
            if (depths(j) == depths(i)) {
              val u = tokens(j).toUpperCase
              if (u == "FROM") return true
              if (u == "SELECT" || u == "UNION" || u == "INTERSECT" ||
                u == "EXCEPT") return false
            }
            j -= 1
          }
          false
        }
        exprEnd && !kw.contains(prev.toUpperCase) && fromInStatement
      }
      var qIdx = -1
      var i = 0
      while (i < tokens.length && qIdx < 0) {
        if (tokens(i).equalsIgnoreCase("QUALIFY") && isClause(i)) qIdx = i
        i += 1
      }
      if (qIdx < 0) return tokens
      val qd = depths(qIdx)
      var start = 0
      if (qd > 0) {
        var j = qIdx
        while (!(tokens(j) == "(" && depths(j) == qd)) j -= 1
        start = j + 1
      }
      var end = tokens.length
      if (qd > 0) {
        var j = qIdx
        while (j < tokens.length && !(tokens(j) == ")" && depths(j) == qd - 1)) j += 1
        end = j
      }
      val inner = tokens.slice(start, qIdx)
      val after = tokens.slice(qIdx + 1, end)
      var d2 = 0
      var cut = after.length
      after.zipWithIndex.foreach { case (t, k) =>
        if (t == "(") d2 += 1
        else if (t == ")") d2 -= 1
        else if (d2 == 0 && cut == after.length &&
          (t.equalsIgnoreCase("ORDER") || t.equalsIgnoreCase("LIMIT"))) cut = k
      }
      val (pred, tail) = after.splitAt(cut)
      val wrapped = Vector("SELECT", " ", "*", " ", "FROM", " ", "(") ++ inner ++
        Vector(")", " ", "graft_qualify", " ", "WHERE", " ") ++ pred ++
        (if (tail.isEmpty) Vector.empty[String] else Vector(" ") ++ tail)
      tokens = tokens.slice(0, start) ++ wrapped ++ tokens.slice(end, tokens.length)
    }
    tokens
  }

  /** `* EXCLUDE (cols)` (the DuckDB spelling) → Spark's native
    * `* EXCEPT (cols)`: a pure keyword swap, taken only when the
    * preceding non-ws token is a star form and the next is `(` so a
    * column or alias literally named `exclude` survives.
    */
  private[sql] def rewriteExclude(tokens: Vector[String]): Vector[String] =
    tokens.zipWithIndex.map { case (t, i) =>
      if (t.equalsIgnoreCase("EXCLUDE")) {
        val prev = tokens.lastIndexWhere(x => !isWs(x), i - 1)
        val next = tokens.indexWhere(x => !isWs(x), i + 1)
        val starBefore = prev >= 0 &&
          (tokens(prev) == "*" || tokens(prev).endsWith(".*"))
        if (starBefore && next >= 0 && tokens(next) == "(") "EXCEPT" else t
      } else t
    }

  /** `SELECT DISTINCT ON (exprs) list FROM ... ORDER BY o [LIMIT n]`
    * (the Postgres/DuckDB first-row-per-group idiom) → a partitioned
    * `row_number` wrap over the UNPROJECTED input:
    *
    *   SELECT list FROM (
    *     SELECT *, row_number() OVER (PARTITION BY exprs ORDER BY o)
    *       AS graft_don_rn
    *     FROM ...) graft_don
    *   WHERE graft_don_rn = 1 ORDER BY o [LIMIT n]
    *
    * The window sees every base column (the wrap is `SELECT *`), so the
    * ORDER BY may reference non-selected columns, exactly like the
    * outer ORDER BY of a plain SELECT. An ORDER BY is REQUIRED — with
    * no deterministic order the "first" row is engine noise, which this
    * engine refuses to ship (Postgres/DuckDB silently pick one).
    * Applied at every paren depth, like [[rewriteQualify]]. Select-list
    * aliases can't be referenced in the ORDER BY (it runs inside the
    * wrap, before the projection); use the base expression instead.
    */
  private[sql] def rewriteDistinctOn(tokens0: Vector[String]): Vector[String] = {
    var tokens = tokens0
    while (true) {
      val depths = tokenDepths(tokens)
      // the clause form is exactly `SELECT DISTINCT ON (` — a column
      // named `on` after a plain DISTINCT does not trigger
      var onIdx = -1
      var i = 0
      while (i < tokens.length && onIdx < 0) {
        if (tokens(i).equalsIgnoreCase("DISTINCT")) {
          val nxt = tokens.indexWhere(x => !isWs(x), i + 1)
          val paren = if (nxt < 0) -1 else tokens.indexWhere(x => !isWs(x), nxt + 1)
          val sel = tokens.lastIndexWhere(x => !isWs(x), i - 1)
          if (nxt >= 0 && tokens(nxt).equalsIgnoreCase("ON") &&
              paren >= 0 && tokens(paren) == "(" &&
              sel >= 0 && tokens(sel).equalsIgnoreCase("SELECT")) onIdx = i
        }
        i += 1
      }
      if (onIdx < 0) return tokens
      val qd = depths(onIdx)
      val selIdx = tokens.lastIndexWhere(x => !isWs(x), onIdx - 1)
      val open = tokens.indexWhere(_ == "(", onIdx)
      val close = matching(tokens, open)
      val exprs = tokens.slice(open + 1, close)
      // statement scope: to the next set-op keyword at this depth, the
      // paren closing this depth, or end-of-tokens
      var end = tokens.length
      var j = close + 1
      while (j < end) {
        val t = tokens(j)
        if (t == ")" && depths(j) == qd - 1) end = j
        else if (depths(j) == qd &&
          (t.equalsIgnoreCase("UNION") || t.equalsIgnoreCase("INTERSECT") ||
            (t.equalsIgnoreCase("EXCEPT") && {
              // `* EXCEPT (cols)` star-exclusion is not the set op
              val p = tokens.lastIndexWhere(x => !isWs(x), j - 1)
              p < 0 || (tokens(p) != "*" && !tokens(p).endsWith(".*"))
            }))) end = j
        j += 1
      }
      def at(kw: String, from: Int): Int =
        (from until end).find(k => depths(k) == qd &&
          tokens(k).equalsIgnoreCase(kw)).getOrElse(-1)
      val fromIdx = at("FROM", close + 1)
      require(fromIdx >= 0, "DISTINCT ON requires a FROM clause")
      val orderIdx = at("ORDER", fromIdx)
      require(orderIdx >= 0,
        "DISTINCT ON requires an ORDER BY (the first row per group is " +
          "undefined without one)")
      val limitIdx = at("LIMIT", orderIdx)
      // the inner wrap is `SELECT *, row_number() ... <fromPart>` — an
      // aggregate in fromPart would put GROUP BY under a star select;
      // refuse with a real message instead of Spark's confusing one
      require(at("GROUP", fromIdx) < 0 && at("HAVING", fromIdx) < 0,
        "DISTINCT ON over an aggregate (GROUP BY/HAVING) is not " +
          "supported — aggregate in a subquery, then DISTINCT ON over it")
      val selList = tokens.slice(close + 1, fromIdx)
      val fromPart = tokens.slice(fromIdx, orderIdx)
      val byIdx = at("BY", orderIdx)
      val ordExprs = tokens.slice(byIdx + 1, if (limitIdx >= 0) limitIdx else end)
      val limPart = if (limitIdx >= 0) tokens.slice(limitIdx, end)
      else Vector.empty[String]
      val wrapped =
        Vector("SELECT", " ") ++ selList ++
          Vector(" ", "FROM", " ", "(", "SELECT", " ", "*", ",", " ",
            "row_number()", " ", "OVER", " ", "(", "PARTITION", " ", "BY",
            " ") ++ exprs ++
          Vector(" ", "ORDER", " ", "BY", " ") ++ ordExprs ++
          Vector(")", " ", "AS", " ", "graft_don_rn", " ") ++ fromPart ++
          Vector(")", " ", "graft_don", " ", "WHERE", " ", "graft_don_rn",
            " ", "=", " ", "1", " ", "ORDER", " ", "BY", " ") ++ ordExprs ++
          (if (limPart.isEmpty) Vector.empty[String]
          else Vector(" ") ++ limPart)
      tokens = tokens.slice(0, selIdx) ++ wrapped ++
        tokens.slice(end, tokens.length)
    }
    tokens
  }

  /** The portable-SQL front-door rewrites (clauses Spark's parser
    * lacks), applied together before table binding.
    */
  private[sql] def portableRewrites(tokens: Vector[String]): Vector[String] =
    rewriteDistinctOn(rewriteQualify(rewriteExclude(tokens)))

  /** All token-level dialect rewrites. */
  private[sql] def rewrite(tokens0: Vector[String]): String = {
    var tokens = tokens0

    // LOOKUP JOIN → JOIN
    tokens = tokens.zipWithIndex.filter { case (t, i) =>
      !(t.equalsIgnoreCase("LOOKUP") &&
        tokens.indexWhere(x => !isWs(x), i + 1) >= 0 &&
        tokens(tokens.indexWhere(x => !isWs(x), i + 1)).equalsIgnoreCase("JOIN"))
    }.map(_._1)

    // bare `OUTER JOIN` means FULL OUTER JOIN in the reference grammar
    // (sql.y join types); Spark requires the FULL keyword
    tokens = {
      val b2 = Vector.newBuilder[String]
      var prevKw = ""
      tokens.foreach { t =>
        val up = t.toUpperCase
        if (up == "OUTER" && prevKw != "LEFT" && prevKw != "RIGHT" && prevKw != "FULL") {
          b2 += "FULL"; b2 += " "
        }
        b2 += t
        if (!isWs(t)) prevKw = up
      }
      b2.result()
    }

    // strip TRIGGER ... clauses up to the next major keyword — ALL of
    // them (each UNION branch may carry one), and only the clause form:
    // a COLUMN named `trigger` must not truncate the query
    val majors = Set("GROUP", "ORDER", "HAVING", "LIMIT", "UNION", ")", "WITH")
    var trigIdx = tokens.indexWhere(_.equalsIgnoreCase("TRIGGER"))
    while (trigIdx >= 0) {
      if (isTriggerClause(tokens, trigIdx)) {
        val end = tokens.indexWhere(t => majors.contains(t.toUpperCase), trigIdx + 1)
        tokens = if (end < 0) tokens.take(trigIdx)
        else tokens.take(trigIdx) ++ tokens.drop(end)
        trigIdx = tokens.indexWhere(_.equalsIgnoreCase("TRIGGER"), trigIdx)
      } else {
        trigIdx = tokens.indexWhere(_.equalsIgnoreCase("TRIGGER"), trigIdx + 1)
      }
    }

    // -> and ->* object access
    val b = Vector.newBuilder[String]
    var i = 0
    while (i < tokens.length) {
      tokens(i) match {
        case "->"  => b += "."; i += 1
        case "->*" => b += ".*"; i += 1
        case t     => b += t; i += 1
      }
    }
    tokens = b.result()

    // regex operators: X ~ 'p' → X RLIKE 'p', etc. (rewrite operator and,
    // for the negated/CI forms, the following literal)
    val c = Vector.newBuilder[String]
    i = 0
    while (i < tokens.length) {
      val t = tokens(i)
      if (t == "~" || t == "~*" || t == "!~" || t == "!~*") {
        val j = tokens.indexWhere(x => !isWs(x), i + 1)
        val pat = if (j >= 0 && isStringLit(tokens(j))) Some(tokens(j)) else None
        val ci = t.endsWith("*")
        val neg = t.startsWith("!")
        (pat, ci) match {
          case (Some(p), true) =>
            val inner = p.substring(1, p.length - 1)
            c += (if (neg) "NOT RLIKE" else "RLIKE"); c += " "
            c += s"'(?i)$inner'"
            i = j + 1
          case (Some(_), false) =>
            c += (if (neg) "NOT RLIKE" else "RLIKE"); i += 1
          case (None, false) =>
            c += (if (neg) "NOT RLIKE" else "RLIKE"); i += 1
          case (None, true) =>
            // non-literal case-insensitive pattern: `x ~* e` →
            // `x RLIKE concat('(?i)', e)` over the next primary
            // expression (functions.go:630-668 semantics — previously
            // the (?i) was silently dropped)
            val start = tokens.indexWhere(x => !isWs(x), i + 1)
            if (start < 0)
              throw new IllegalArgumentException(s"dangling regex operator $t")
            val end =
              if (tokens(start) == "(") matching(tokens, start)
              else {
                val callOpen = tokens.indexWhere(x => !isWs(x), start + 1)
                if (callOpen >= 0 && tokens(callOpen) == "(") matching(tokens, callOpen)
                else start
              }
            c += (if (neg) "NOT RLIKE" else "RLIKE"); c += " "
            c += "concat"; c += "("; c += "'(?i)'"; c += ","
            tokens.slice(start, end + 1).foreach(c += _)
            c += ")"
            i = end + 1
        }
      } else { c += t; i += 1 }
    }
    tokens = c.result()

    // range(a,b) in FROM position → subquery renaming Spark's `id` to
    // the reference's `i` (range.go:14-109)
    val d = Vector.newBuilder[String]
    i = 0
    var prevKw = ""
    while (i < tokens.length) {
      val t = tokens(i)
      val nextNonWs = tokens.indexWhere(x => !isWs(x), i + 1)
      if (t.equalsIgnoreCase("range") && nextNonWs >= 0 &&
          tokens(nextNonWs) == "(" &&
          (prevKw.equalsIgnoreCase("FROM") || prevKw.equalsIgnoreCase("JOIN") || prevKw == ",")) {
        val close = matching(tokens, nextNonWs)
        d += "("; d += "SELECT"; d += " "; d += "id"; d += " "; d += "AS"
        d += " "; d += "i"; d += " "; d += "FROM"; d += " "; d += "range"
        tokens.slice(nextNonWs, close + 1).foreach(d += _)
        d += ")"
        i = close + 1
      } else {
        d += t
        if (!isWs(t)) prevKw = t
        i += 1
      }
    }
    tokens = d.result()

    // function-name rewrites requiring paren matching. Everything else
    // (int/float/string/substr/position/time_from_unix/... and the
    // aggregates) resolves through the typed overload resolver at
    // analysis ([[graft.sql.Resolver]] via plans.OctoResolve) — token
    // renames can't see types, so only the two genuinely token-level
    // forms remain:
    //   panic( → raise_error( (functions.go:1135; the frontend
    //     tags these with their select index first)
    //   unnest( → explode( (a generator, not a scalar function)
    val fnRenames = Map("panic" -> "raise_error")
    def rewriteCalls(ts: Vector[String]): Vector[String] = {
      val out = Vector.newBuilder[String]
      var k = 0
      while (k < ts.length) {
        val t = ts(k)
        val nextNonWs = ts.indexWhere(x => !isWs(x), k + 1)
        val isCall = nextNonWs >= 0 && ts(nextNonWs) == "(" && !isStringLit(t)
        if (isCall && fnRenames.contains(t.toLowerCase)) {
          out += fnRenames(t.toLowerCase); k += 1
        } else if (isCall && t.equalsIgnoreCase("unnest")) {
          // nested unnest^d(x) → explode(flatten^{d-1}(x)): Spark
          // rejects nested generators (the reference nests them
          // arbitrarily, map.go) — peel EVERY directly-nested layer;
          // recursing on the payload would re-emit an explode inside
          // flatten(), which fails analysis at depth 3+
          val close = matching(ts, nextNonWs)
          var depth = 1
          var inner = ts.slice(nextNonWs + 1, close)
          var peeling = true
          while (peeling) {
            val h = inner.indexWhere(x => !isWs(x))
            peeling = false
            if (h >= 0 && inner(h).equalsIgnoreCase("unnest")) {
              val o = inner.indexWhere(_ == "(", h)
              if (o >= 0) {
                val c = matching(inner, o)
                // peel only when the call spans the whole payload
                if (c >= 0 && inner.drop(c + 1).forall(isWs)) {
                  depth += 1; inner = inner.slice(o + 1, c); peeling = true
                }
              }
            }
          }
          if (depth > 1) {
            val payload = rewriteCalls(inner)
            out += "explode"; out += "("
            (1 until depth).foreach { _ => out += "flatten"; out += "(" }
            payload.foreach(out += _)
            (1 until depth).foreach(_ => out += ")")
            out += ")"
            k = close + 1
          } else {
            out += "explode"; k += 1
          }
        } else { out += t; k += 1 }
      }
      out.result()
    }
    tokens = rewriteCalls(tokens)

    tokens.mkString
  }
}
