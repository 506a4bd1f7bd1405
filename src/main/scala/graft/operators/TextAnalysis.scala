package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, fingerprinting.
  *
  * Everything is built from codegen'd built-in expressions (no UDFs), so
  * each op is a narrow projection that stays inside whole-stage codegen
  * and scales linearly with input splits — the 100 TB path is just "more
  * partitions".
  */
object TextAnalysis {

  /** Number of non-overlapping occurrences of literal `pat` in `s`,
    * computed exactly via replace-length arithmetic (portable across
    * engines, unlike regex dialects).
    */
  def occurrences(s: Column, pat: String): Column =
    ((length(s) - length(replace(s, lit(pat), lit(""))))
      / pat.length).cast("long")

  /** Marker words per language for the n-gram/stopword language-ID
    * heuristic. Deliberately tiny and literal — the point is the
    * scalable shape (score = Σ occurrences, argmax), not lexicon size.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of "),
    "de" -> Seq(" der ", " und ", " die "),
    "fr" -> Seq(" le ", " et ", " les "),
    "es" -> Seq(" el ", " que ", " los "))

  /** Score for one language = total marker occurrences in the padded,
    * lower-cased text.
    */
  def langScore(text: Column, markers: Seq[String]): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    markers.map(m => occurrences(padded, m)).reduce(_ + _)
  }

  /** Predicted language: argmax over `LangMarkers` scores, first-listed
    * language wins ties, "und" (undetermined) when all scores are 0.
    */
  def langId(text: Column): Column = {
    val scores = LangMarkers.map { case (l, ms) => l -> langScore(text, ms) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scores.foldRight(lit("und")) { case ((l, s), els) =>
      when(s === best && best > 0, lit(l)).otherwise(els)
    }
    pick
  }

  /** Whitespace token count. */
  def wsTokens(text: Column): Column =
    size(split(trim(text), "\\s+")).cast("long")

  /** BPE-ish token count: word pieces + digits + punctuation, the usual
    * ~4-chars-per-token heuristic made explicit as a regex tokenizer.
    */
  def regexTokens(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  /** Punctuation character ratio (0 for empty text). */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      length(regexp_replace(text, "[^.,;:!?'\"()\\[\\]{}-]", "")).cast("double")
        / length(text).cast("double"))

  /** Stopword ratio over whitespace tokens, English stopword set. */
  val EnStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Single-pass word statistics via the codegen'd
    * [[graft.plans.WordStats]] kernel: struct `(n_words, sum_len,
    * n_alpha, n_stop, n_punct)` with exactly the semantics of the
    * split/aggregate/filter HOF tree it replaces (WordStatsSpec pins
    * the equivalence differentially). Referencing several fields of
    * one call costs one pass — projection-level common-subexpression
    * elimination shares the struct.
    */
  def wordStats(text: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.plans.WordStats(
        org.apache.spark.sql.GraftSqlBridge.expression(text)))

  /** Hashed DSIR feature buckets (uni+bigram) via the codegen'd
    * [[graft.plans.DsirBuckets]] kernel.
    */
  def dsirBuckets(text: Column, buckets: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.plans.DsirBuckets(
        org.apache.spark.sql.GraftSqlBridge.expression(text), buckets))

  def stopwordRatio(text: Column): Column = {
    val st = wordStats(text)
    st.getField("n_stop").cast("double") /
      st.getField("n_words").cast("double")
  }

  /** Mean word length over whitespace tokens. */
  def meanWordLen(text: Column): Column = {
    val st = wordStats(text)
    st.getField("sum_len").cast("double") /
      st.getField("n_words").cast("double")
  }

  /** Composite quality score in [0,1]: favors mid-length docs with low
    * punctuation noise and a natural stopword rate.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / lit(500.0), lit(1.0))
    val punct = punctRatio(text)
    val stop = stopwordRatio(text)
    (lenScore * lit(0.5)
      + (lit(1.0) - least(punct * lit(10.0), lit(1.0))) * lit(0.25)
      + least(stop * lit(5.0), lit(1.0)) * lit(0.25))
  }

  /** Polynomial rolling-hash document fingerprint: left fold of
    * `acc*31 + codepoint (mod 1e9+7)` over the characters. Exact,
    * order-sensitive, and portable (same fold is expressible in any
    * engine) — used for cheap exact-dup detection and content
    * addressing.
    */
  def fingerprint(text: Column): Column = polyHash(text, 31L, 1000000007L)

  /** Parameterized polynomial hash (fold of `acc*mult + codepoint mod
    * modulus`) — the portable building block behind `fingerprint` and
    * the oracle-checkable SimHash variant. `mult * modulus` must fit a
    * long (both moduli here are < 2³¹). Constructs the codegen'd
    * [[graft.plans.PolyHash]] expression directly, so it works on ANY
    * session — no dependency on `poly_hash` being registered in the
    * session's function registry (that registration remains for SQL
    * callers via Engine.session).
    */
  def polyHash(text: Column, mult: Long, modulus: Long): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.plans.PolyHash(
        org.apache.spark.sql.GraftSqlBridge.expression(text), mult, modulus))

  /** Code-point Shannon entropy (bits) of a string column via the
    * codegen'd single-pass [[graft.plans.CharEntropy]] kernel — low
    * entropy flags repetitive gibberish, high entropy flags
    * compressed/binary junk in a text column. Constructed directly, so
    * it works on any session (no registry dependency).
    */
  def charEntropy(text: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.plans.CharEntropy(
        org.apache.spark.sql.GraftSqlBridge.expression(text)))

  /** Canonical text normalization for dedup keys / training input:
    * lowercase, strip non-alphanumerics to spaces, collapse whitespace,
    * trim. Pure codegen'd projection.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** Repetition quality signals (Gopher-style filters): token totals,
    * distinct-token count, and the most-frequent token's share. Shaped
    * as explode → two-level aggregate so the token counting distributes
    * (per-doc maps never materialize on one node).
    */
  def repetitionStats(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(split(trim(col(textCol)), "\\s+")).as("tok"))
    toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(
        sum("n").as("n_tokens"),
        count(lit(1)).as("distinct_tokens"),
        (max("n").cast("double") / sum("n").cast("double")).as("top_token_frac"))
  }

  /** Count of U+FFFD replacement characters — the unambiguous "a
    * decoder already gave up here" marker every encoding-hygiene pass
    * keys on. Length-difference arithmetic over literal `replace`:
    * codegen'd, exactly replayable by any engine.
    */
  def replacementCharCount(text: Column): Column =
    occurrences(text, "\ufffd")

  /** Count of C0 control characters excluding whitespace (TAB/LF/CR):
    * real prose never contains BEL or NUL; their presence flags binary
    * junk that leaked into a text column.
    */
  def controlCharCount(text: Column): Column =
    (length(text) -
      length(regexp_replace(text, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", "")))
      .cast("long")

  /** Count of mojibake marker bigrams — the UTF-8-bytes-decoded-as-
    * Latin-1 signatures ("Ã©" for é, "Ã¨" for è, "â€"-prefixed smart
    * quotes). Each marker is counted by length-difference over literal
    * `replace` and divided by the marker's own length, so the total is
    * integer-exact and order-independent (markers are chosen
    * non-overlapping).
    */
  def mojibakeCount(text: Column,
                    markers: Seq[String] = Seq(
                      "\u00c3\u00a9", // "\u00e9" seen through Latin-1
                      "\u00c3\u00a8", // "\u00e8"
                      "\u00c3\u00a4", // "\u00e4"
                      "\u00e2\u20ac\u2122", // "\u2019" through cp1252
                      "\u00e2\u20ac\u0153" // "\u201c" through cp1252
                    )): Column =
    markers.map(m => occurrences(text, m)).reduce(_ + _)

  /** Top-k characteristic terms per document by TF-IDF (tf × ln((N+1)/
    * (df+1)), ties broken by term asc). Output: `(doc_id, term, tf,
    * df_docs, rank)` for rank ≤ k — integer columns only, so results
    * hash-compare exactly across engines; the float tfidf score is
    * used for ordering and dropped.
    *
    * Distributed shape: explode → (doc,term) hash-agg (map-side
    * combine) → term-level doc-frequency agg → join back on term (AQE
    * decides broadcast vs shuffle — vocabularies can be huge) → per-doc
    * top-k window. The corpus size N rides along as a broadcast scalar,
    * not a driver action, so the whole thing stays one lazy plan.
    */
  /** Top-k characteristic terms per document by TF-IDF (tf × ln((N+1)/
    * (df+1)), ties broken by term asc). Output: `(doc_id, term, tf,
    * df_docs, rank)` for rank ≤ k — integer columns only, so results
    * hash-compare exactly across engines; the float tfidf score is
    * used for ordering and dropped.
    *
    * Distributed shape: explode → (doc,term) hash-agg (map-side
    * combine) → term-level doc-frequency agg → join back on term (AQE
    * decides broadcast vs shuffle — vocabularies can be huge) → per-doc
    * top-k window. The corpus size N rides along as a broadcast scalar,
    * not a driver action, so the whole thing stays one lazy plan.
    */
  /** RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    * maximal stopword-free token runs (gaps-and-islands over a per-doc
    * partitioned window); each word's corpus stats are freq(w) =
    * phrase-occurrences containing w and deg(w) = Σ len over those
    * occurrences (Rose 2010's degree: the word plus its co-members);
    * a phrase scores
    * Σ_w deg(w)·SCALE div freq(w) — INTEGER arithmetic throughout
    * (the classic deg/freq ratio sum, fixed-point so the re-orderable
    * sum stays exact and any engine replays it bit-for-bit). Returns
    * the `topK` distinct phrases by (score desc, phrase):
    * `(phrase, n_words, n_occurrences, score)`.
    *
    * Scale shape: one posexplode, per-doc partitioned windows (bounded
    * by doc length), two word-level hash aggregates, one phrase-text
    * aggregate, TakeOrdered top-k. `maxLen` caps phrase length (runs
    * longer than it are dropped — degenerate stopword-free text).
    */
  def rakePhrases(docs: DataFrame, stopwords: Seq[String], topK: Int = 20,
                  maxLen: Int = 8, scale: Long = 1000000L,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    require(stopwords.nonEmpty && topK >= 1 && maxLen >= 1)
    val toks = docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos", "tok")))
      .filter(length(col("tok")) > 0)
      .select(col("doc_id"), col("pos"), lower(col("tok")).as("w"))
      .withColumn("is_stop", col("w").isin(stopwords: _*))
    // islands: running stopword count per doc — consecutive non-stop
    // tokens share a group id
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val grouped = toks
      .withColumn("grp",
        sum(when(col("is_stop"), 1L).otherwise(0L)).over(wDoc))
      .filter(!col("is_stop"))
    val phrases = grouped
      .groupBy("doc_id", "grp")
      .agg(sort_array(collect_list(struct(col("pos"), col("w"))))
        .as("ws"))
      .select(col("doc_id"), col("grp"),
        expr("transform(ws, x -> x.w)").as("words"),
        size(col("ws")).as("len"))
      .filter(col("len") <= maxLen)
      .withColumn("phrase", concat_ws(" ", col("words")))
    val pw = phrases.select(col("doc_id"), col("grp"), col("phrase"),
      col("len"), explode(col("words")).as("w"))
    val stats = pw.groupBy("w").agg(
      count(lit(1)).as("freq"),
      sum(col("len").cast("long")).as("deg"))
    // per-occurrence score = Σ over its words (all-integer, ≤ maxLen
    // terms); identical for every occurrence of the same phrase text,
    // so min() over occurrences IS the phrase score
    val occScore = pw.join(stats, "w")
      .groupBy("doc_id", "grp", "phrase", "len")
      .agg(sum(expr(s"deg * ${scale}L div freq")).as("score"))
    occScore.groupBy("phrase")
      .agg(min("len").as("n_words"), count(lit(1)).as("n_occurrences"),
        min("score").as("score"))
      .orderBy(col("score").desc, col("phrase")).limit(topK)
  }

  def tfidfTopK(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", k: Int = 3): DataFrame = {
    val terms = docs.select(col(idCol).as("doc_id"),
        explode(split(trim(col(textCol)), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df_docs"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", col("tf").cast("double")
        * log((col("n_docs").cast("double") + 1.0)
          / (col("df_docs").cast("double") + 1.0)))
    // bound map-side via the custom TopKPerKeyExec, then rank the
    // <= k-per-doc survivors (same order + tie-break -> same rows)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term"))
    graft.plans.TopKPerKey(scored, Seq("doc_id"),
        Seq(("tfidf", false), ("term", true)), k)
      .withColumn("rank", row_number().over(w))
      .select(col("doc_id"), col("term"), col("tf"), col("df_docs"),
        col("rank").cast("long").as("rank"))
  }



  /** Per-document unigram language-model score — the CCNet-style
    * "perplexity" quality filter, with the LM trained on the corpus
    * itself in the same plan: token → corpus frequency → per-token
    * `ln(c/N)` → per-doc mean negative log-likelihood. High
    * `avg_neg_logp` = improbable word mix (noise, boilerplate, wrong
    * language); low = repetitive/templated text.
    *
    * Distributed shape: one explode feeding both the count aggregation
    * and the scoring join (map-side combined everywhere); the
    * vocabulary join is AQE-decided (broadcast when the vocab fits,
    * shuffle when it doesn't — web-scale vocabularies don't), and the
    * corpus total rides along as a broadcast scalar, never a driver
    * action. Output doubles are rounded to 6 dp so summation order
    * (partitioning, engine) can't leak into comparisons.
    */
  /** Bigram-LM quality scoring: corpus-trained MLE bigram model, per-doc
    * mean negative log-likelihood −Σ ln P(wᵢ|wᵢ₋₁) / #bigrams. Catches
    * the word-salad documents a unigram model ([[unigramLogProb]])
    * scores as fluent — shuffled common words keep their unigram
    * frequencies but hit rare transitions. Docs with < 2 tokens have no
    * bigrams and drop out.
    *
    * Scale shape: the bigram explode is one codegen'd generator pass
    * (array transform over token positions, no self-join on position);
    * both count tables are plain hash aggregates keyed by token
    * (vocab²-bounded, heavily combined map-side because Zipf); the
    * per-doc score is one more aggregate. Joins back to the bigram
    * stream are key-partitioned — AQE broadcasts the count tables when
    * they fit.
    */
  def bigramLogProb(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    // bind the token array to an attribute BEFORE indexing into it:
    // element_at on the raw split() expression re-evaluates the split
    // per lambda element (O(tokens²) per doc — measured 12 s vs 1 s at
    // sf0.1); on a bound column it's an O(1) array access
    val bg = docs
      .select(col(idCol).as("doc_id"),
        split(trim(col(textCol)), "\\s+").as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("ts")) - 1),
          i => struct(element_at(col("ts"), i).as("w1"),
            element_at(col("ts"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy("w1").agg(sum("c2").as("c1"))
    bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .withColumn("logp",
        log(col("c2").cast("double") / col("c1").cast("double")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(-sum(col("logp")) / count(lit(1)), 6).as("avg_neg_logp"))
  }

  /** Interpolated Kneser-Ney smoothed bigram probabilities (Kneser &
    * Ney 1995; Chen & Goodman 1999 eq. 4.17) — the LM behind
    * CCNet-style perplexity filtering, where a 5-gram KN model scores
    * web text for fluency before training-data selection:
    *
    *   P_KN(w2|w1) = (c(w1,w2) - D) / c(w1·)
    *               + D · N1+(w1·) / c(w1·) · N1+(·w2) / B
    *
    * with discount D, N1+(w1·) = distinct continuations of w1,
    * N1+(·w2) = distinct left-contexts of w2 (the "how many contexts
    * has this word been seen in" novelty count that makes KN beat
    * raw MLE on unseen combinations), B = distinct bigram types.
    * Emitted for bigrams with count >= `minCount` (>= D, so the
    * max(c-D, 0) clamp is vacuous and elided).
    *
    * All five inputs are exact integer counts from map-side-combinable
    * aggregates; the probability is one fixed per-row double tree over
    * them (no float accumulation), so results are bit-identical across
    * engines and partitionings. Scale shape: three groupBys + two
    * vocab-keyed joins + one broadcast scalar — no windows, no
    * collects.
    */
  def knBigram(docs: DataFrame, minCount: Long = 3L,
               discount: Double = 0.75,
               idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    val bg = docs
      .select(split(trim(col(textCol)), "\\s+").as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("ts")) - 1),
        i => struct(element_at(col("ts"), i).as("w1"),
          element_at(col("ts"), i + 1).as("w2")))).as("b"))
      .select(col("b.w1"), col("b.w2"))
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy("w1")
      .agg(sum("c2").as("c1"), count(lit(1)).as("nfollow"))
    val nprec = c2.groupBy("w2").agg(count(lit(1)).as("nprec"))
    val btypes = c2.agg(count(lit(1)).as("btypes"))
    c2.filter(col("c2") >= minCount)
      .join(c1, "w1").join(nprec, "w2")
      .crossJoin(broadcast(btypes))
      .select(col("w1"), col("w2"), col("c2"),
        round(
          (col("c2").cast("double") - lit(discount)) /
            col("c1").cast("double") +
          lit(discount) * col("nfollow").cast("double") /
            col("c1").cast("double") *
            (col("nprec").cast("double") / col("btypes").cast("double")),
          6).as("pkn"))
  }

  def unigramLogProb(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
        explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val total = counts.agg(sum("c").as("n_total"))
    toks.join(counts, "tok")
      .crossJoin(broadcast(total))
      .withColumn("logp",
        log(col("c").cast("double") / col("n_total").cast("double")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(-sum(col("logp")) / count(lit(1)), 6).as("avg_neg_logp"))
  }

  /** CCNet-style perplexity partitioning (Wenzek et al. 2020): score
    * every document under the corpus unigram LM and split the corpus
    * into `buckets` quality tiers (bucket 1 = most fluent / lowest
    * perplexity — CCNet's "head"). Pipelines keep head+middle for
    * training and route tail to heavier filtering.
    *
    * Scale shape: thresholds come from an `approx_percentile` sketch —
    * bounded state per partition, one constant-size (buckets−1)-row
    * result broadcast back onto the per-doc scores. No global sort, no
    * exact-percentile full materialization; the assignment pass is a
    * zero-shuffle projection over the scored docs. This is the 100 TB
    * form of the bucketing; an exact-ntile variant would single-task
    * sort the corpus.
    *
    * Returns `(doc_id, avg_neg_logp, bucket_id)` with bucket_id in
    * 1..buckets.
    */
  def pplBuckets(docs: DataFrame, buckets: Int = 3,
                 accuracy: Int = 10000, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    require(buckets >= 2, "pplBuckets needs at least 2 buckets")
    val lp = unigramLogProb(docs, idCol, textCol)
    val qs = (1 until buckets).map(_.toDouble / buckets)
    val thr = lp.agg(percentile_approx(col("avg_neg_logp"),
      array(qs.map(lit): _*), lit(accuracy)).as("thr"))
    lp.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("avg_neg_logp"),
        aggregate(col("thr"), lit(1),
          (acc, t) => acc + when(col("avg_neg_logp") > t, 1).otherwise(0))
          .as("bucket_id"))
  }

  /** Cross-document common-phrase detection: word `n`-gram shingles
    * occurring in at least `minDocs` distinct documents, most frequent
    * first (ties toward the lexicographically smaller phrase). This is
    * the boilerplate/template scan a pipeline runs before line- or
    * phrase-level dedup: its output IS the removal list.
    *
    * Scale shape: the shingle explode is the codegen'd
    * [[graft.plans.TokenShingles]] kernel (per-doc distinct, so the
    * count is a true document frequency), the count is one map-side-
    * combined aggregation keyed by shingle, and the result is a bounded
    * `TakeOrderedAndProject` top-k — no driver-side anything.
    */
  def commonPhrases(docs: DataFrame, textCol: String = "text", n: Int = 3,
                    minDocs: Int = 2, topK: Int = 200): DataFrame =
    // the phrase text is the output, so explode the shingle strings
    // here rather than the hashed Dedup.shingleIndex
    docs.select(explode(Dedup.shinglesOf(col(textCol), n, tokens = true))
        .as("shingle"))
      .groupBy("shingle").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("shingle"))
      .limit(topK)

  /** Gopher-style document quality rules (Rae et al. 2021, "Scaling
    * Language Models: Methods, Analysis & Insights from Training
    * Gopher", §A1.1), adapted to word-level signals: word count in
    * [50, 100k], mean word length in [3, 10], ≥80% of words contain an
    * alphabetic character, and ≥2 stopwords. Output carries the metrics
    * (rounded to 6 dp so engine summation order can't leak) plus the
    * composite `passes` flag.
    *
    * Scale shape: one narrow codegen'd projection over higher-order
    * array functions — no explode, no shuffle, no UDFs; the rules run
    * at scan speed and the flag is a pushable filter for the next
    * pipeline stage.
    */
  def gopherRules(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val st = wordStats(col(textCol))
    val nWords = st.getField("n_words")
    val meanLen = st.getField("sum_len").cast("double") / nWords.cast("double")
    val alphaFrac = st.getField("n_alpha").cast("double") / nWords.cast("double")
    val nStop = st.getField("n_stop")
    docs.select(
      col(idCol),
      nWords.as("n_words"),
      round(meanLen, 6).as("mean_word_len"),
      round(alphaFrac, 6).as("alpha_frac"),
      nStop.as("n_stopwords"),
      (nWords >= 50 && nWords <= 100000 &&
        meanLen >= 3.0 && meanLen <= 10.0 &&
        alphaFrac >= 0.8 && nStop >= 2).as("passes"))
  }

  /** URL pattern in the Java-regex ∩ RE2 portable subset (non-capturing
    * group, no lookaround) — shared with the oracle verbatim.
    */
  val UrlPattern = "https?://[A-Za-z0-9.-]+(?:/[A-Za-z0-9._/-]*)?"

  /** Per-host URL statistics over a corpus: `(host, n_urls, n_docs)` —
    * the domain-frequency table a pipeline builds before domain
    * filtering/blocklisting.
    *
    * Scale shape: codegen'd regex extract + generator (no UDFs), then
    * one map-side-combined aggregation keyed by host. `countDistinct`
    * expands to the standard two-phase distinct aggregation, so no
    * per-host doc set ever materializes on one node.
    */
  def urlHostStats(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(regexp_extract_all(col(textCol), lit(UrlPattern), lit(0)))
          .as("url"))
      .select(col("doc_id"),
        regexp_extract(col("url"), "https?://([A-Za-z0-9.-]+)", 1).as("host"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_urls"), countDistinct("doc_id").as("n_docs"))

  /** URL canonicalization — the normalization pass that runs before
    * URL-keyed dedup in a web-corpus pipeline, folding the cosmetic
    * variants crawlers emit for one resource: scheme and host are
    * lowercased, default ports (`:80` http / `:443` https) and a
    * leading `www.` are stripped, tracking query parameters
    * (`utm_*`, `fbclid`, `gclid`) are dropped while real parameters
    * keep their order, trailing path slashes are trimmed, and the
    * fragment (never sent to the server) is removed.
    *
    * Pure zero-shuffle column expression in the portable Java∩RE2 regex
    * subset (no lookaround) so the DuckDB oracle replays it verbatim.
    */
  def urlCanonicalize(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z]+)://", 1))
    val hostport = lower(regexp_extract(url, "^[A-Za-z]+://([^/?#]+)", 1))
    val noPort = when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(regexp_replace(hostport, ":80$", ""))
    val host = regexp_replace(noPort, "^www\\.", "")
    val path = regexp_replace(
      regexp_extract(url, "^[A-Za-z]+://[^/?#]+([^?#]*)", 1), "/+$", "")
    // the '?' must precede any '#': an unanchored match would find a
    // '?' INSIDE the fragment and leak fragment content into the query
    val query = regexp_extract(url, "^[^#]*?\\?([^#]*)", 1)
    val kept = array_join(filter(split(query, "&"),
      p => !p.rlike("^(utm_[A-Za-z0-9_]+|fbclid|gclid)=")), "&")
    concat(scheme, lit("://"), host, path,
      when(length(kept) > 0, concat(lit("?"), kept)).otherwise(lit("")))
  }

  /** Per-document n-gram novelty: the fraction of a document's distinct
    * `n`-token shingles that appear in no other document — 1.0 means
    * fully original text, 0.0 means every phrase also occurs elsewhere
    * (template/boilerplate corpora score low). The complement of the
    * d2/d9 duplication signals, useful as a quality feature on its own.
    *
    * Scale shape: the dedup family's [[Dedup.shingleIndex]] (per-doc
    * distinct 64-bit shingle hashes), one count window for corpus
    * document frequency, one groupBy per doc — no all-pairs stage.
    */
  def noveltyScores(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", n: Int = 3): DataFrame = {
    val idx = Dedup.shingleIndex(Materialize.fanOut(docs), idCol,
        textCol, n, tokens = true)
    // corpus document frequency as a COUNT WINDOW over the shingle
    // hash instead of an aggregate + join back onto a keyed eager
    // checkpoint — the aggregate, the join AND the materialization
    // barrier all collapse into one window pass over one exchange
    // (plan: 2 exchanges total, explode runs once; h2 is pruned).
    val wSh = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
    idx.withColumn("df", count(lit(1)).over(wSh))
      .groupBy(col("id").as(idCol))
      .agg((sum(when(col("df") === 1, 1L).otherwise(0L)).cast("double") /
        count(lit(1)).cast("double")).as("novelty"))
  }

  /** Per-group vocabulary extraction: the `k` most frequent whitespace
    * tokens per group (language, source, …) with counts — the corpus
    * statistic behind tokenizer training and stopword-list induction.
    *
    * Scale shape: token counting is a map-side-combined groupBy (the
    * corpus shuffles only its distinct (group, token) partial counts);
    * the rank window then runs over vocabulary-sized data, orders of
    * magnitude smaller than the corpus. Ties break lexicographically so
    * the result is deterministic.
    */
  def vocabTopK(docs: DataFrame, groupCol: String = "lang",
                textCol: String = "text", k: Int = 10): DataFrame = {
    val counts = docs
      .select(col(groupCol), explode(split(trim(col(textCol)), "\\s+"))
        .as("token"))
      .groupBy(groupCol, "token").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col("n").desc, col("token"))
    graft.plans.TopKPerKey(counts, Seq(groupCol),
        Seq(("n", false), ("token", true)), k)
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /** Token frequency SPECTRUM (frequency-of-frequencies): how many
    * distinct words occur exactly `f` times. The classic Zipf /
    * corpus-health diagnostic — the hapax (f=1) share flags OCR noise
    * and under-deduplication, and the spectrum is the direct input to
    * Good-Turing smoothing.
    *
    * Scale shape: two hash aggregations, both with map-side partial
    * combine; the second one's input is vocabulary-sized. No joins, no
    * windows, nothing driver-side.
    */
  def freqSpectrum(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .groupBy("f").agg(count(lit(1)).as("n_words"))

  /** Distributed BPE merge learning — the tokenizer-training prep step:
    * `rounds` byte-pair-encoding merges learned over the corpus's word
    * frequencies. Returns one row per round `(round, merged, pair_count)`.
    *
    * Scale shape: the corpus collapses to its distinct-word/frequency
    * table up front (vocabulary-sized); every round is one distributed
    * bigram count over that table plus a 1-row argmax to the driver
    * (the merge decision is inherently global). Segmentations use a
    * DOUBLE-space symbol separator so the one-pass non-overlapping
    * `replace` reproduces classic BPE application ("aaaa" → "aa aa")
    * identically in Spark and in plain SQL — single-space separators
    * would share the boundary space between adjacent matches and
    * diverge on runs.
    */
  def bpeMerges(docs: DataFrame, rounds: Int,
                textCol: String = "text", window: Int = 1): DataFrame = {
    val spark = docs.sparkSession
    val (segs, out) = bpeTrain(docs, rounds, textCol, window)
    segs.unpersist()
    import spark.implicits._
    out.toDF("round", "merged", "pair_count")
  }

  /** Apply a corpus-trained BPE model to the corpus itself — the
    * tokenizer-application step that turns merge learning
    * ([[bpeMerges]]) into per-document token counts (the unit every
    * token-budget / packing / pricing decision downstream runs on).
    * Returns `(doc_id, n_words, n_bpe_tokens)`: whitespace word count
    * and the BPE token count after `rounds` learned merges.
    *
    * Scale shape: training collapses to the vocabulary-sized word
    * table (see [[bpeMerges]]); application never touches the raw text
    * again — each document's exploded words join the word→segmentation
    * table (vocab-sized, AQE broadcasts when it fits) and sum the
    * per-word token counts. This word-level memoization is what makes
    * BPE encoding of a 100 TB corpus a join instead of a per-character
    * scan: Zipf means the distinct-word table is orders of magnitude
    * smaller than the corpus.
    */
  def bpeEncode(docs: DataFrame, rounds: Int, idCol: String = "doc_id",
                textCol: String = "text", window: Int = 1): DataFrame = {
    val (segs, _) = bpeTrain(docs, rounds, textCol, window)
    // materialize the (vocab-sized) encoding table eagerly so the
    // training segmentation's cache blocks can be released NOW —
    // returning a plan that still referenced segs would leak the
    // persisted table into the caller's session (bpeTrain's caller-
    // owns-the-unpersist contract)
    val enc = Materialize.eager(segs.select(col("w"),
      size(split(col("seg"), "  ")).cast("long").as("n_tok")))
    segs.unpersist()
    docs.select(col(idCol).as("doc_id"),
        explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .join(enc, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_tok").as("n_bpe_tokens"))
  }

  /** Shared BPE training loop: returns the final word segmentation
    * table `(w, f, seg)` (caller owns the unpersist) and the learned
    * merges `(round, merged, pair_count)` where `round` is the GLOBAL
    * 1-based merge sequence number.
    *
    * `window` > 1 enables BATCHED merge learning (VERDICT r5 task 4 —
    * classic BPE's one-merge-per-global-argmax makes the driver-serial
    * depth equal the vocab size; 30k merges = 30k serial Spark jobs).
    * Per round, ONE distributed bigram count brings the top-`window`
    * pairs (by count desc, pair asc) to the driver; a candidate is
    * KEPT iff neither of its symbols appears in any better-ranked
    * candidate of the window, so kept merges are pairwise
    * symbol-disjoint. NOTE: disjoint symbols do NOT make the replaces
    * commute — an earlier merge can CREATE occurrences of a later
    * kept pair's left symbol (e.g. (a,b)->"ab" then ("ab","c") sees
    * the new "ab"s) — so the application ORDER (rank order, best
    * count first) is normative, part of the algorithm's definition,
    * and replayed identically by the SQL oracle's unrolled replace
    * chain. Counts are from the start-of-round segmentation (the
    * standard batched-BPE approximation); the rule is deterministic.
    * `window = 1` degenerates to classic one-merge-per-round BPE.
    */
  private def bpeTrain(docs: DataFrame, rounds: Int, textCol: String,
                       window: Int = 1)
      : (DataFrame, Seq[(Long, String, Long)]) = {
    require(rounds > 0, s"rounds must be positive: $rounds")
    require(window > 0, s"window must be positive: $window")
    val words = docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
    var segs = words
      .select(col("w"), col("f"), concat_ws("  ", split(col("w"), "")).as("seg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    var seq = 0L
    // previous round's segmentation, unpersisted only AFTER the next
    // collect materializes its successor (see the checkpoint note below)
    var pending: Option[DataFrame] = None
    for (_ <- 1 to rounds) {
      // bind the symbol array before indexing (element_at on the raw
      // split() re-runs the split per pair element — O(symbols²)/word)
      val sy = col("__sy")
      val top = segs
        .select(col("f"), split(col("seg"), "  ").as("__sy"))
        .filter(size(sy) >= 2)
        .select(col("f"), explode(transform(sequence(lit(1), size(sy) - 1),
          j => concat(element_at(sy, j), lit("  "), element_at(sy, j + 1))))
          .as("pair"))
        .groupBy("pair").agg(sum("f").as("c"))
        .orderBy(col("c").desc, col("pair")).limit(window)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)))
      // this collect just materialized the current segs (its lazy
      // checkpoint below saved its blocks as a side effect of the
      // job), so the PREVIOUS round's blocks are now safe to release
      pending.foreach(_.unpersist())
      pending = None
      // keep a candidate iff its symbols are disjoint from EVERY
      // better-ranked candidate in the window (not just the kept ones:
      // that makes the rule a per-row NOT EXISTS — expressible in the
      // DuckDB oracle without a sequential fold)
      def syms(pair: String): Set[String] = {
        val i = pair.indexOf("  ")
        Set(pair.substring(0, i), pair.substring(i + 2))
      }
      val kept = top.zipWithIndex.filter { case ((pair, _), i) =>
        val s = syms(pair)
        !top.take(i).exists { case (better, _) => (syms(better) & s).nonEmpty }
      }.map(_._1)
      if (kept.nonEmpty) {
        kept.foreach { case (pair, c) =>
          seq += 1; out += ((seq, pair.replace("  ", ""), c))
        }
        // LAZY localCheckpoint: lineage still truncates (no round ever
        // replays earlier rounds' replaces — the O(rounds²) trap of
        // the original persist-then-unpersist order), but the blocks
        // materialize as a side effect of the NEXT round's top-pair
        // collect instead of a dedicated eager job — halving the
        // scheduled jobs per round, which ARE the cost at this scale
        // (the seg table is vocabulary-sized; scheduling floor beats
        // compute). The previous round's blocks stay alive until that
        // collect lands (`pending`), so nothing recomputes. The whole
        // batch is ONE chained-replace projection in rank order (the
        // order is normative — see the bpeTrain scaladoc).
        val applied = kept.foldLeft(
          concat(lit(" "), col("seg"), lit(" "))) { case (acc, (pair, _)) =>
            call_function("replace", acc,
              lit(s" $pair "), lit(s" ${pair.replace("  ", "")} "))
        }
        val next = segs.select(col("w"), col("f"), trim(applied).as("seg"))
          .localCheckpoint(false)
        pending = Some(segs)
        segs = next
      }
    }
    (segs, out.toSeq)
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how target-like its hashed n-gram profile is. Unigram
    * and bigram features hash into `buckets` cells; two add-`alpha`
    * bag-of-buckets models are fit — one on the `isTarget` subset, one
    * on the full corpus — and a document's log-weight is
    * Σ_b c_b · (log p̂_target(b) − log p̂_raw(b)). Resampling then keeps
    * documents with probability ∝ exp(weight) (or deterministically,
    * top-k by weight — compose with [[graft.operators.Sampling]]).
    *
    * Scale shape: one generator pass over the corpus, a per-doc-bucket
    * hash aggregate, and two `buckets`-sized model tables (constant
    * size at any corpus scale) that AQE broadcasts back onto the
    * per-doc counts — no driver actions, no corpus-wide join. Features
    * hash through the portable [[graft.plans.PolyHash]] kernel so the
    * bucketing replays exactly in other engines.
    *
    * Returns `(doc_id, n_feats, dsir_logw)` with the weight rounded to
    * 6 dp (cross-engine double summation order).
    */
  def dsirWeights(docs: DataFrame, isTarget: Column, buckets: Int = 256,
                  alpha: Double = 1.0, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    // uni+bigram hashed features in ONE codegen'd walk (DsirBuckets):
    // the former split + two explodes + interpreted transform lambda
    // concatenated every bigram string per row; identical feature
    // multiset (DsirBucketsSpec differential)
    val feats = docs.select(col(idCol).as("doc_id"), isTarget.as("is_tgt"),
      explode(dsirBuckets(col(textCol), buckets)).as("b"))
    // the per-doc-bucket counts feed four consumers (raw model, target
    // model, their totals, and the final scoring join) — persist so the
    // corpus-wide explode+aggregate runs ONCE; dc is bounded by
    // |docs| × buckets rows, far below the token stream it summarizes
    val dc = Materialize.eager(feats.groupBy("doc_id", "is_tgt", "b")
      .agg(count(lit(1)).as("c"))) // eager: four consumers
    val rawB = dc.groupBy("b").agg(sum("c").as("rc"))
    val tgtB = dc.filter(col("is_tgt")).groupBy("b").agg(sum("c").as("tc"))
    val model = rawB.join(tgtB, Seq("b"), "left")
      .withColumn("tc", coalesce(col("tc"), lit(0L)))
      .crossJoin(broadcast(rawB.agg(sum("rc").as("rt"))))
      .crossJoin(broadcast(tgtB.agg(sum("tc").as("tt"))))
      .select(col("b"),
        (log((col("tc").cast("double") + alpha)
            / (col("tt").cast("double") + alpha * buckets))
          - log((col("rc").cast("double") + alpha)
            / (col("rt").cast("double") + alpha * buckets))).as("logr"))
    dc.join(model, "b")
      .groupBy("doc_id")
      .agg(sum("c").as("n_feats"),
        round(sum(col("c").cast("double") * col("logr")), 6).as("dsir_logw"))
  }

  /** BM25 ranked retrieval (Robertson & Zaragoza 2009): score every
    * document against a bag of query terms and return the `topK`. The
    * corpus-statistics side (document frequencies, average doc length)
    * is computed in the same job, so this is both the ad-hoc search
    * query and the build recipe for a static BM25 index.
    *
    * idf uses the "+1" form `ln(1 + (N - df + 0.5)/(df + 0.5))` (always
    * positive, as in Lucene); tf saturation `tf·(k1+1)/(tf + k1·(1 − b
    * + b·dl/avgdl))`.
    *
    * Scale shape: token counts are one map-side-combined hash aggregate;
    * the per-query-term stats table is |terms| rows (constant) and
    * broadcasts; N and avgdl are a 2-number global aggregate riding the
    * same broadcast. The final ranking is a bounded
    * `TakeOrderedAndProject` top-k — no corpus-wide sort. Scores are
    * rounded to 6 dp (cross-engine double summation order).
    */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], topK: Int = 10,
               k1: Double = 1.2, b: Double = 0.75,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    val toks = docs.select(col(idCol).as("doc_id"),
        explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl").cast("double")).as("avgdl"))
    val qSet = queryTerms.distinct
    val tf = toks.filter(col("tok").isin(qSet: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(df), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("term_score",
        col("idf") * (col("tf").cast("double") * (k1 + 1.0))
          / (col("tf").cast("double")
            + lit(k1) * (lit(1.0 - b)
              + lit(b) * col("dl").cast("double") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum(col("term_score")), 6).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** The INTEGER raw margin of the hashed-bag-of-words classifier —
    * the same model-application fold as [[classifierScore]] but
    * summing Long bucket weights with no mean/normalization, so the
    * score is an exact BIGINT in every engine. This is the form
    * downstream exact-arithmetic consumers want: ROC AUC
    * ([[Evaluation.aucExact]]) needs only the ORDER of scores, and an
    * integer margin makes ranks and tie-groups unambiguous where a
    * float mean could round engines apart. Zero-shuffle projection,
    * same as classifierScore. Appends `margin` to the input columns
    * (so the label rides along — no re-join against the corpus).
    */
  def classifierMargin(docs: DataFrame, weights: Array[Long],
                       textCol: String = "text"): DataFrame = {
    require(weights.nonEmpty, "classifierMargin needs a non-empty model")
    graft.plans.PolyHashExpr.register(docs.sparkSession)
    val warr = array(weights.map(lit): _*)
    val nb = weights.length.toLong
    docs.withColumn("margin",
      aggregate(
        transform(
          filter(split(trim(col(textCol)), "\\s+"), t => length(t) > 0),
          t => element_at(warr,
            (pmod(call_function("poly_hash", t, lit(31L), lit(1000000007L)),
              lit(nb)) + 1).cast("int"))),
        lit(0L), (acc, w) => acc + w))
  }

  /** Linear quality-classifier scoring with the hashing trick
    * (Weinberger et al. 2009; the fastText shape, Joulin et al. 2016):
    * each token hashes into one of `weights.length` buckets through
    * the portable [[graft.plans.PolyHash]] kernel and the document's
    * score is the mean bucket weight — how the GPT-3-style "looks like
    * the curated corpus" filters and educational-value classifiers are
    * applied over a crawl. Training happens elsewhere; this operator
    * applies a given model.
    *
    * Scale shape: the model is a constant-size weight array riding the
    * plan into a single codegen'd projection — per-doc score is one
    * fold over the token array, so classifying 100 TB is zero-shuffle,
    * zero-driver, pure map. Integer-valued weights keep the fold sum
    * exact across engines; the only float op is the final per-row
    * mean (divided by `norm`, the weight scale, so the score stays
    * O(1) — 6 dp of a 1e8-magnitude double is past the 53-bit
    * mantissa and rounds differently per engine), rounded to 6 dp.
    *
    * Returns `(doc_id, n_tokens, quality_score, keep)` where `keep` is
    * the sign of the raw (pre-mean) score plus `bias`.
    */
  def classifierScore(docs: DataFrame, weights: Array[Double],
                      bias: Double = 0.0, norm: Double = 1.0,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    require(weights.nonEmpty, "classifierScore needs a non-empty model")
    graft.plans.PolyHashExpr.register(docs.sparkSession)
    val warr = array(weights.map(lit): _*)
    val nb = weights.length.toLong
    val base = docs.select(col(idCol).as("doc_id"),
      split(trim(col(textCol)), "\\s+").as("ts"))
    val z = aggregate(
      transform(col("ts"), t => element_at(warr,
        (pmod(call_function("poly_hash", t, lit(31L), lit(1000000007L)),
          lit(nb)) + 1).cast("int"))),
      lit(bias), (acc, w) => acc + w)
    base.select(col("doc_id"), size(col("ts")).as("n"), z.as("z"))
      .select(col("doc_id"),
        col("n").cast("long").as("n_tokens"),
        round(col("z") / (col("n").cast("double") * lit(norm)), 6)
          .as("quality_score"),
        (col("z") > 0).as("keep"))
  }

  /** Attach the full analysis column set to a documents DataFrame. */
  def analyze(docs: DataFrame, textCol: String = "text"): DataFrame = {
    graft.plans.PolyHashExpr.register(docs.sparkSession)
    val t = col(textCol)
    docs
      .withColumn("lang_pred", langId(t))
      .withColumn("n_tokens_ws", wsTokens(t))
      .withColumn("n_tokens_re", regexTokens(t))
      .withColumn("punct_ratio", punctRatio(t))
      .withColumn("stopword_ratio", stopwordRatio(t))
      .withColumn("mean_word_len", meanWordLen(t))
      .withColumn("quality", qualityScore(t))
      .withColumn("fingerprint", fingerprint(t))
  }
}
