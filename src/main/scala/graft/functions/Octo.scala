package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference engine's scalar-function surface re-expressed as native
  * Spark `Column` combinators (reference: functions/functions.go:18-1149
  * in cube2222/octosql). Everything here composes built-in, codegen'd
  * Catalyst expressions — no UDFs — so all of it stays inside
  * whole-stage codegen and is pushdown/pruning-transparent.
  *
  * Reference quirks preserved (see SURVEY.md §2.10):
  *  - `substr` / `position` / list indexing are 0-based
  *    (functions.go:713,757,1014); Spark's are 1-based, so wrap.
  *  - Int/Int division is integer division (functions.go:322-329).
  *  - `string * int` repeats, `string + string` concatenates.
  *  - `int()` / `float()` parse-casts return NULL on failure.
  *  - `~` / `~*` / `!~` / `!~*` are (case-insensitive) regex matches.
  */
object Octo {

  // ---- strings ------------------------------------------------------

  /** 0-based substring, clamped; 2-arg form takes the rest of the string.
    * Reference: functions.go:713-743.
    */
  def substr0(s: Column, start: Column): Column =
    s.substr(greatest(start.cast(IntegerType), lit(0)) + lit(1), length(s))

  def substr0(s: Column, start: Column, len: Column): Column =
    s.substr(greatest(start.cast(IntegerType), lit(0)) + lit(1),
      greatest(len.cast(IntegerType), lit(0)))

  /** 0-based index of `sub` in `s`; NULL when absent (functions.go:757-772).
    * Spark `instr` is 1-based with 0-for-absent.
    */
  def position0(s: Column, sub: Column): Column = {
    val i = instr(s, sub) // Column-typed substring arg needs expr form:
    when(i === 0, lit(null).cast(LongType)).otherwise((i - 1).cast(LongType))
  }

  /** String repetition `s * n` (functions.go:302-317). */
  def strRepeat(s: Column, n: Column): Column = repeat(s, n.cast(IntegerType))

  /** Case-insensitive regex match `~*` (functions.go:630-668). */
  def regexMatchCI(s: Column, pattern: String): Column =
    s.rlike("(?i)" + pattern)

  def regexMatch(s: Column, pattern: String): Column = s.rlike(pattern)

  /** `len` over a String (functions.go:774-831): char count. SQL's
    * type-dispatched `len` is [[graft.plans.OctoFns.OctoLen]].
    */
  def len(c: Column): Column = length(c).cast(LongType)

  // ---- arithmetic ---------------------------------------------------

  /** Integer division for Int/Int, as the reference defines `/` on ints
    * (functions.go:322-329). Spark's `/` always yields Double.
    */
  def intDiv(a: Column, b: Column): Column = {
    val q = a.cast(LongType) / b.cast(LongType) // Double in Spark
    // truncate toward zero, like Go's integer division
    when(q >= 0, floor(q)).otherwise(ceil(q)).cast(LongType)
  }

  // ---- collections --------------------------------------------------

  /** 0-based list index with NULL out-of-bounds (functions.go:1014-1042).
    * Spark `element_at` is 1-based and errors under ANSI; `try_element_at`
    * NULLs instead.
    */
  def index0(arr: Column, i: Column): Column =
    try_element_at(arr, i.cast(IntegerType) + lit(1))

  // ---- conversions (null-on-fail, reference functions.go:900-1012) ---

  def toIntOcto(c: Column): Column = c.cast(LongType)   // non-ANSI: null-on-fail

  def toFloatOcto(c: Column): Column = c.cast(DoubleType)

  // ---- time ---------------------------------------------------------

  def timeFromUnix(c: Column): Column = timestamp_seconds(c)

  def timeToUnix(c: Column): Column = unix_timestamp(c)

  /** Translate a Go reference-time layout (the reference's parse_time
    * uses Go layouts, functions.go:846-862) into a JDK datetime pattern.
    * Covers the layout atoms Go documents for its reference time
    * `Mon Jan 2 15:04:05 MST 2006`.
    */
  def goLayoutToJava(layout: String): String = {
    val subs = Seq(
      "2006" -> "yyyy", "01" -> "MM", "02" -> "dd",
      "15" -> "HH", "03" -> "hh", "04" -> "mm", "05" -> "ss",
      ".000" -> ".SSS", "Jan" -> "MMM", "January" -> "MMMM",
      "Mon" -> "EEE", "Monday" -> "EEEE", "PM" -> "a",
      "Z07:00" -> "XXX", "-07:00" -> "xxx", "MST" -> "zzz")
    // longest-first, single pass over the layout
    val ordered = subs.sortBy(-_._1.length)
    val sb = new StringBuilder
    var i = 0
    while (i < layout.length) {
      ordered.find { case (go, _) => layout.startsWith(go, i) } match {
        case Some((go, jv)) => sb ++= jv; i += go.length
        case None           => sb += layout(i); i += 1
      }
    }
    sb.toString
  }

  /** parse_time with a Go layout string; NULL on failure (non-ANSI
    * to_timestamp semantics), like the reference.
    */
  def parseTimeGo(s: Column, goLayout: String): Column =
    try_to_timestamp(s, lit(goLayoutToJava(goLayout)))
}
