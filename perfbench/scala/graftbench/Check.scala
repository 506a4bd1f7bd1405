package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Result checkers. Every op's output is compared with the answer the
  * generator computed independently (DuckDB or plain Python) — never
  * with another run of graft. A checker returns `None` when the output
  * is correct and a one-line reason otherwise.
  */
object Check {
  val mapper = new ObjectMapper()

  /** A value as compared: numbers as doubles, everything else as text. */
  type Row = IndexedSeq[Any]

  def value(n: JsonNode): Any =
    if (n == null || n.isNull) null
    else if (n.isNumber) n.asDouble
    else n.asText

  def rows(n: JsonNode): IndexedSeq[Row] =
    n.elements.asScala.map(r => r.elements.asScala.map(value).toIndexedSeq).toIndexedSeq

  /** Engine values: timestamps as epoch millis, numbers as doubles. */
  def canon(v: Any): Any = v match {
    case null => null
    case t: java.sql.Timestamp => t.getTime.toDouble
    case t: java.time.Instant => t.toEpochMilli.toDouble
    case n: java.lang.Number => n.doubleValue
    case s => s.toString
  }

  /** A rendered cell: numeric text as a double, else the text. */
  def cell(s: String): Any =
    if (s == "<null>" || s == "null") null
    else s.toDoubleOption.getOrElse(s)

  /** Whole numbers (counts, ids, epoch millis) must match exactly; other
    * numbers within a relative 1e-9, since engines sum in different orders.
    */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) if x.isWhole && y.isWhole => x == y
    case (x: Double, y: Double) =>
      math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case _ => a == b
  }

  private val order: Ordering[Row] = (a: Row, b: Row) => {
    val it = a.iterator.zip(b.iterator).map {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x: Double, y: Double) => java.lang.Double.compare(x, y)
      case (x, y) => x.toString.compareTo(y.toString)
    }.find(_ != 0)
    it.getOrElse(Integer.compare(a.length, b.length))
  }

  /** Compare `got` with `want`, as bags unless `ordered`. */
  def rowsMatch(got: IndexedSeq[Row], want: IndexedSeq[Row], ordered: Boolean): Option[String] = {
    if (got.length != want.length)
      return Some(s"${got.length} rows, expected ${want.length}")
    val (g, w) = if (ordered) (got, want) else (got.sorted(order), want.sorted(order))
    g.indices.find { i =>
      g(i).length != w(i).length || g(i).indices.exists(j => !same(g(i)(j), w(i)(j)))
    }.map(i => s"row $i is ${g(i).mkString("(", ", ", ")")}, expected ${w(i).mkString("(", ", ", ")")}")
  }

  // ---- cli_files: parse the rendered output back into rows ----------

  def parseOutput(text: String, format: String): IndexedSeq[Row] = format match {
    case "csv" =>
      text.linesIterator.drop(1).filter(_.nonEmpty)
        .map(l => csvFields(l).map(cell).toIndexedSeq).toIndexedSeq
    case "json" =>
      text.linesIterator.filter(_.nonEmpty).map { l =>
        mapper.readTree(l).elements.asScala.map(value).toIndexedSeq
      }.toIndexedSeq
    case _ => // live_table / batch_table: `| a | b |` lines, header first
      text.linesIterator.filter(_.startsWith("|")).drop(1).map { l =>
        l.split("\\|", -1).toIndexedSeq.drop(1).dropRight(1).map { c =>
          val t = c.trim
          if (t.length >= 2 && t.head == '\'' && t.last == '\'') t.substring(1, t.length - 1)
          else cell(t)
        }
      }.toIndexedSeq
  }

  private def csvFields(line: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var quoted = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (quoted) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
        else if (c == '"') quoted = false
        else cur += c
      } else if (c == '"') quoted = true
      else if (c == ',') { out += cur.toString; cur.clear() }
      else cur += c
      i += 1
    }
    out += cur.toString
    out.result()
  }

  def cliOutput(text: String, format: String, want: IndexedSeq[Row], ordered: Boolean): Option[String] =
    try rowsMatch(parseOutput(text, format), want, ordered)
    catch { case e: Exception => Some(s"unparseable $format output: ${e.getMessage}") }

  // ---- dedup_corpus -------------------------------------------------

  /** LSH candidates must be well-formed pairs of existing docs and must
    * find at least `minRecall` of the exact near-duplicate pairs (the
    * planted ones, at Jaccard far above the threshold).
    */
  def lshCandidates(cands: Seq[(Long, Long)], exact: Seq[(Long, Long)], docs: Long,
                    minRecall: Double = 0.9): Option[String] = {
    val bad = cands.find { case (a, b) => a >= b || a < 0 || b >= docs }
    if (bad.isDefined) return Some(s"malformed candidate pair ${bad.get}")
    val set = cands.toSet
    val found = exact.count(set)
    val recall = if (exact.isEmpty) 1.0 else found.toDouble / exact.size
    if (recall < minRecall)
      Some(f"LSH candidates recall $found of ${exact.size} near-duplicate pairs " +
        f"($recall%.3f < $minRecall) from ${cands.size} candidates")
    else None
  }
}
