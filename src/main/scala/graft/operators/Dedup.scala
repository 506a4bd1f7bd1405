package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design: every variant is expressed as explode → shuffle-on-key →
  * aggregate, the inverted-index shape that distributes. Nothing is
  * collected to the driver; candidate generation is always key-partitioned
  * (shingle, band signature, or simhash block) so the quadratic all-pairs
  * comparison never materializes. Frequent-key caps bound worst-case
  * fanout on skewed corpora (a shingle occurring in k docs yields k²
  * candidate pairs — cap k).
  *
  * One shingle index serves the whole shingle family (Jaccard,
  * containment, substring spans, MinHash, banding, LSH): [[shingleIndex]]
  * builds `(id, shingle: bigint = xxhash64(s), h2: bigint =
  * xxhash64(1, s))` once — the text is hashed there and nowhere else —
  * and every consumer reads its columns by name, so column order and
  * extra columns never change a result.
  */
object Dedup {

  // ---- exact --------------------------------------------------------

  /** Keep one representative row (min of `idCol`) per distinct value of
    * `keyCols`. A single hash-aggregate taking the struct-min of the
    * non-key columns (idCol leads the struct, so the min IS the min-id
    * row): argmin rides map-side partial aggregation, collapsing a hot
    * content key's replicas per input partition BEFORE the shuffle —
    * where a row_number window would sort every replica of the hottest
    * duplicate inside one task, exactly the skew exact dedup exists to
    * remove. Non-key columns must be orderable (struct-min compares
    * them as tiebreak fields; anything but MapType is).
    */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    val others = df.columns.filterNot(keyCols.contains)
    val packed = struct(col(idCol) +:
      others.filterNot(_ == idCol).map(col): _*)
    df.groupBy(keyCols.map(col): _*)
      .agg(min(packed).as("__rep"))
      .select(df.columns.map(c =>
        if (keyCols.contains(c)) col(c) else col(s"__rep.`$c`")): _*)
  }

  /** Per-group duplicate stats: group size + representative id. */
  def exactStats(df: DataFrame, idCol: String, keyCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  // ---- shingling ----------------------------------------------------

  /** Distinct character n-gram shingles of `textCol` as an array column. */
  def shingles(text: Column, n: Int): Column = {
    // sliding window via sequence + substring: codegen'd, no UDF
    val idxs = sequence(lit(1), greatest(length(text) - lit(n - 1), lit(1)))
    array_distinct(transform(idxs, i => text.substr(i, lit(n))))
  }

  /** Distinct word n-gram shingles (space-joined token windows). On
    * shared-vocabulary corpora these are far more discriminative than
    * character n-grams: char-3-grams of a 31-word vocabulary collide on
    * nearly every doc pair (degenerate MinHash buckets, quadratic
    * inverted-index joins), while word trigrams keep per-shingle doc
    * frequency — and thus self-join fanout — bounded.
    *
    * Backed by the codegen'd [[graft.plans.TokenShingles]] kernel (one
    * static call in whole-stage codegen); [[tokenShinglesHof]] is the
    * portable HOF formulation it bit-for-bit replaces, kept as the
    * differential-test reference.
    */
  def tokenShingles(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.plans.TokenShingles(
        org.apache.spark.sql.GraftSqlBridge.expression(text), n))

  /** HOF formulation of [[tokenShingles]] — interpreted, session-free. */
  def tokenShinglesHof(text: Column, n: Int): Column = {
    val toks = split(trim(text), "\\s+")
    val idxs = sequence(lit(1), greatest(size(toks) - lit(n - 1), lit(1)))
    array_distinct(transform(idxs, i => array_join(slice(toks, i, lit(n)), " ")))
  }

  private[graft] def shinglesOf(text: Column, n: Int, tokens: Boolean): Column =
    if (tokens) tokenShingles(text, n) else shingles(text, n)

  /** THE shingle index of the dedup family — every shingle-based
    * operator (Jaccard, containment, substring spans, MinHash, banding,
    * LSH) reads this one shape, built once per corpus:
    * `(id, shingle: bigint, h2: bigint)`, one row per distinct shingle
    * `s` of each document, with `shingle = xxhash64(s)` (the equality
    * key of every self-join) and `h2 = xxhash64(1, s)` (MinHash's
    * second Carter-Wegman base hash). 64-bit hashes keep the string
    * equality classes w.h.p. (collision odds ~n²/2⁶⁴) at a fraction of
    * the shuffle bytes, and the text is hashed exactly once.
    *
    * Lazy: callers feeding several consumers materialize it
    * (`Materialize.eagerByKey(_, col("shingle"))` for the self-joins),
    * and consumers that compute no signatures select `id, shingle`
    * first so `h2` is pruned before any materialization.
    *
    * `maxDocFreq` drops shingles that occur in more than that many
    * docs ([[capDocFreq]]) on the hash, inside this lazy plan — so a
    * keyed materialization never ships the occurrences of a hot
    * (boilerplate) shingle into one partition. The cap's frequency
    * aggregate reads the lazy explode with map-side partial
    * aggregation as a broadcast subtree of the same job.
    */
  def shingleIndex(df: DataFrame, idCol: String, textCol: String, n: Int,
                   maxDocFreq: Option[Int] = None,
                   tokens: Boolean = false): DataFrame = {
    val s = col("__s")
    val idx = df
      .select(col(idCol).as("id"),
        explode(shinglesOf(col(textCol), n, tokens)).as("__s"))
      .select(col("id"), xxhash64(s).as("shingle"),
        xxhash64(lit(1), s).as("h2"))
    capDocFreq(idx, maxDocFreq)
  }

  /** Drop index entries whose shingle occurs in more than `cap` docs —
    * the skew control for inverted-index self-joins (a shingle in k
    * docs contributes k² candidate pairs; boilerplate spans push k to
    * corpus scale). The heavy-hitter list is bounded by |index| / cap,
    * so it broadcasts; the kept set (~vocabulary-sized) never moves.
    */
  def capDocFreq(idx: DataFrame, cap: Option[Int]): DataFrame = cap match {
    case None => idx
    case Some(c) =>
      val hot = idx.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") > c).select("shingle")
      // no-silent-caps (VERDICT r7 task 6): the cap is byte-identical
      // at test SFs but silently lossy beyond — observe input and
      // output entry counts in the SAME pass (no extra job) so every
      // run reports when the cap binds. Engine's session listener
      // turns the pair into a `[graft] capDocFreq ...` log line; specs
      // read queryExecution.observedMetrics directly. Needs
      // Engine.session; see its excludedRules note.
      val tag = capObsCounter.incrementAndGet()
      // re-select in the input's column order (a USING join moves the
      // key to the front)
      idx.observe(s"graft_cap_in_${tag}_$c", count(lit(1)).as("n"))
        .join(broadcast(hot), Seq("shingle"), "left_anti")
        .select(idx.columns.map(col).toIndexedSeq: _*)
        .observe(s"graft_cap_out_${tag}_$c", count(lit(1)).as("n"))
  }

  /** Unique tag per cap site so several caps in one plan keep their
    * observation names distinct (Spark requires unique observe names
    * within a query).
    */
  private val capObsCounter = new java.util.concurrent.atomic.AtomicLong

  // ---- n-gram Jaccard -----------------------------------------------

  /** All pairs (a < b) with n-gram Jaccard similarity ≥ threshold.
    * Inverted-index self-join: pairs are only generated for docs sharing
    * ≥1 shingle, grouped map-side per shingle; |A∪B| from per-doc
    * distinct-shingle counts, so no second pass over text.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double,
                        maxDocFreq: Option[Int] = None,
                        tokens: Boolean = false): DataFrame =
    ngramJaccardPairsFromIndex(
      Materialize.eagerByKey(shingleIndex(Materialize.fanOut(df), idCol,
          textCol, n, maxDocFreq, tokens).select("id", "shingle"),
        col("shingle")),
      threshold)

  /** Asymmetric near-dup: shingle containment `C(A→B) = |A∩B| / |A|` —
    * the quotation/subset relationship symmetric Jaccard misses (a
    * short doc fully quoted inside a long one scores high containment
    * but low Jaccard, because the union is dominated by the long doc).
    * Returns DIRECTED pairs `(id_a, id_b, containment)` with
    * containment of A in B at or above `threshold`.
    *
    * Scale shape: the d2 inverted index verbatim — the key-partitioned
    * [[shingleIndex]] self-join with its `maxDocFreq` skew cap — only
    * the denominator changes (|A| instead of the union).
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double,
                       maxDocFreq: Option[Int] = None,
                       tokens: Boolean = false): DataFrame = {
    val idx = Materialize.eagerByKey(shingleIndex(Materialize.fanOut(df),
        idCol, textCol, n, maxDocFreq, tokens).select("id", "shingle"),
      col("shingle"))
    val sizes = idx.groupBy("id").agg(count(lit(1)).as("n_sh"))
    sharedShingles(idx, directed = true)
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("sz_a")), "id_a")
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") / col("sz_a").cast("double"))
          .as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Per-pair shared-shingle counts `(id_a, id_b, n_common)` from the
    * inverted-index self-join on `shingle`: pairs only for docs sharing
    * at least one shingle, never all-pairs. Undirected pairs keep
    * `id_a < id_b`; `directed` keeps both orders.
    */
  private def sharedShingles(idx: DataFrame,
                             directed: Boolean = false): DataFrame =
    idx.select(col("id").as("id_a"), col("shingle"))
      .join(idx.select(col("id").as("id_b"), col("shingle")), "shingle")
      .filter(if (directed) col("id_a") =!= col("id_b")
        else col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))

  /** Jaccard `|A∩B| / |A∪B|` from the intersection and both set sizes. */
  private def jaccard(nCommon: Column, szA: Column, szB: Column): Column =
    nCommon.cast("double") / (szA + szB - nCommon).cast("double")

  /** `(id_a, id_b, jaccard)` at or above `threshold`, from per-pair
    * intersection counts `(id_a, id_b, n_common)` and the index's
    * per-doc distinct-shingle counts. The sizes have one row per
    * document: never force a broadcast (O(corpus) driver memory at
    * scale) — AQE broadcasts them when they actually fit.
    */
  private def jaccardPairs(common: DataFrame, idx: DataFrame,
                           threshold: Double): DataFrame = {
    val sizes = idx.groupBy("id").agg(count(lit(1)).as("n_sh"))
    common
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("sz_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("sz_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        jaccard(col("n_common"), col("sz_a"), col("sz_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Set-similarity join via PREFIX FILTERING (Chaudhuri et al. 2006;
    * Bayardo et al., WWW 2007 "All-Pairs"; Xiao et al.'s PPJoin
    * family) — the other classic candidate-generation scheme next to
    * the full inverted index (d2) and MinHash banding (d3). Each doc's
    * distinct tokens are ordered by global rarity (document frequency
    * asc, token asc); a pair with Jaccard ≥ t MUST share a token among
    * each side's first `n − ⌈t·n⌉ + 1` tokens under that shared order,
    * so only prefix tokens are indexed. The prefix holds the RAREST
    * tokens, so candidate buckets are intrinsically small — frequent
    * boilerplate tokens never generate candidates at all, the skew
    * that d2 needs `maxDocFreq` to cap.
    *
    * The threshold is the exact rational `tNum/tDen`, and everything —
    * prefix length `n − ⌈tNum·n/tDen⌉ + 1`, the verify predicate
    * `(tDen+tNum)·|A∩B| ≥ tNum·(|A|+|B|)` — is integer arithmetic:
    * no float anywhere, bit-identical in any engine. The DuckDB
    * oracle computes ground truth WITHOUT the filter (plain inverted-
    * index join), so the gate proves losslessness on real data.
    *
    * Scale shape: one token explode (distinct per doc), a tiny df
    * aggregate, per-doc partitioned rank windows, a prefix-key
    * equi-join, then exact intersection counts only for candidate
    * pairs. Returns `(doc_a, doc_b, n_inter, n_union)`.
    */
  def prefixFilterJaccardPairs(docs: DataFrame, tNum: Int, tDen: Int,
                               idCol: String = "doc_id",
                               textCol: String = "text",
                               shingleN: Int = 1): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"threshold must be a rational in (0,1]: $tNum/$tDen")
    require(shingleN >= 1, s"shingleN must be >= 1: $shingleN")
    // set elements: single word tokens, or textual n-token shingles.
    // Shingles matter beyond recall semantics: on a low-diversity
    // corpus (small vocabulary, short docs) EVERY word is frequent, so
    // word-level prefixes prune nothing and the t=0.8 answer itself is
    // quadratic in clone-family sizes (measured at sf0.1: 2.97M true
    // word-level pairs vs 256 shingle-level). Phrase-level sets are
    // what near-dup dedup actually compares (d2's shingle index).
    val fdocs = Materialize.fanOut(docs)
    val raw =
      if (shingleN == 1)
        fdocs.select(col(idCol).as("id"),
            explode(split(trim(col(textCol)), "\\s+")).as("tok"))
          .filter(length(col("tok")) > 0)
      else
        fdocs.select(col(idCol).as("id"),
            split(trim(col(textCol)), "\\s+").as("ts"))
          .filter(size(col("ts")) >= shingleN)
          .select(col("id"), explode(expr(
            s"transform(sequence(0, size(ts) - $shingleN)," +
              s" i -> concat_ws(' ', slice(ts, i + 1, $shingleN)))"))
            .as("tok"))
    // eager (Materialize): five consumers (df counts, sizes, prefix
    // build, both verify joins) otherwise race a lazy cold cache
    val toks = Materialize.eager(raw.distinct())
    val sizes = toks.groupBy("id").agg(count(lit(1)).as("n"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    // rank each doc's tokens under the global (df, tok) rarity order;
    // window is partitioned per doc — bounded by doc length
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("df", "tok")
    val prefix = toks.join(dfreq, "tok")
      .withColumn("rn", row_number().over(wDoc))
      .join(sizes, "id")
      // ⌈tNum·n/tDen⌉ = (tNum·n + tDen − 1) div tDen, all integer
      .filter(col("rn") <=
        col("n") - expr(s"(${tNum}L * n + ${tDen - 1}L) div ${tDen}L") + 1)
      .select(col("id"), col("tok"), col("n"), col("rn"))
    // length filter rides the candidate join: J ≥ t ⇒ t·|B| ≤ |A| (and
    // symmetrically) — prunes cross-size candidates before the verify.
    // Then the PPJoin POSITIONAL filter (Xiao et al., WWW 2008): both
    // sides are ranked under the same global order, so positions of
    // shared tokens are monotone — min(pa) and min(pb) over a pair's
    // matches identify the FIRST common prefix token, at which
    // |A∩B| ≤ 1 + min(na−pa, nb−pb). Require that bound to reach the
    // minimal overlap α, where (tNum+tDen)·α ≥ tNum·(na+nb) — still
    // all-integer, still lossless, and it cuts the verify-join input
    // on clone-heavy data where the length filter alone passes
    // everything.
    val cands = prefix.select(col("id").as("doc_a"), col("tok"),
        col("n").as("na"), col("rn").as("pa"))
      .join(prefix.select(col("id").as("doc_b"), col("tok"),
        col("n").as("nb"), col("rn").as("pb")), "tok")
      .filter(col("doc_a") < col("doc_b") &&
        lit(tDen) * col("na") >= lit(tNum) * col("nb") &&
        lit(tDen) * col("nb") >= lit(tNum) * col("na"))
      .groupBy("doc_a", "doc_b")
      .agg(min("pa").as("pa"), min("pb").as("pb"),
        first("na").as("na"), first("nb").as("nb"))
      .filter(lit(tNum + tDen) *
        (lit(1L) + least(col("na") - col("pa"), col("nb") - col("pb"))) >=
        lit(tNum) * (col("na") + col("nb")))
      .select("doc_a", "doc_b")
    // exact verify on candidates only: intersection by re-joining the
    // full token sets of each side
    val inter = cands
      .join(toks.select(col("id").as("doc_a"), col("tok")), "doc_a")
      .join(toks.select(col("id").as("doc_b"), col("tok")),
        Seq("doc_b", "tok"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("id").as("doc_b"), col("n").as("nb")), "doc_b")
      .filter(lit(tDen + tNum) * col("n_inter") >=
        lit(tNum) * (col("na") + col("nb")))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        (col("na") + col("nb") - col("n_inter")).as("n_union"))
  }

  /** Directed CONTAINMENT near-dup pairs — the asymmetric case Jaccard
    * misses: a short document quoted wholesale inside a long one has
    * J = |A|/|B| (arbitrarily small) but containment |A∩B|/|A| = 1.
    * Quote/subset detection is its own dedup pass in web-corpus
    * pipelines (syndicated snippets, quoted posts, boilerplate-wrapped
    * reprints).
    *
    * Same algebra family as [[prefixFilterJaccardPairs]], adapted to
    * the directed bound: |A∩B| ≥ ⌈τ·nA⌉ forces B to contain one of
    * A's first (nA − ⌈τ·nA⌉ + 1) tokens under the global rarity
    * order — so the candidate join is A's rarity PREFIX against an
    * inverted index semi-joined down to prefix-occurring tokens,
    * never all-pairs. The length filter tDen·nB ≥ tNum·nA is implied
    * by containment (|A∩B| ≤ nB) and rides the join; exact verify
    * intersects per-doc 64-bit token arrays on candidates only
    * ([[verifyOverlap]]). All-integer thresholds, LOSSLESS end to end
    * (64-bit-hash equality classes, the [[shingleIndex]] tradeoff) —
    * gated against the brute-force directed-pair oracle (d26).
    */
  def containmentPrefixPairs(docs: DataFrame, tNum: Int, tDen: Int,
                       idCol: String = "doc_id", textCol: String = "text",
                       shingleN: Int = 3): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"threshold must be a rational in (0,1]: $tNum/$tDen")
    // hash shingles to 64 bits BEFORE the joins (VERDICT r8 task 3):
    // this operator persists two full token relations and re-joins the
    // verify twice — shuffling longs instead of 3-token strings cuts
    // the shuffle bytes ~5x. Same equality classes w.h.p. (the
    // shingleIndex tradeoff, identical to d2's); the global
    // rarity order becomes (df, hash) — still a total order shared by
    // both sides, which is all the PPJoin positional algebra needs.
    val toks = Materialize.eager(Materialize.fanOut(docs)
      .select(col(idCol).as("id"),
        split(trim(col(textCol)), "\\s+").as("ts"))
      .filter(size(col("ts")) >= shingleN)
      .select(col("id"), explode(expr(
        s"transform(sequence(0, size(ts) - $shingleN)," +
          s" i -> concat_ws(' ', slice(ts, i + 1, $shingleN)))"))
        .as("s"))
      .select(col("id"), xxhash64(col("s")).as("tok"))
      .distinct())
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("df", "tok")
    // doc sizes as a second window function over the SAME id
    // partitioning (not a separate aggregate + join): the row_number
    // exchange+sort already co-locates each doc, so n rides the same
    // pass and two whole stages drop out of the plan
    val wId = org.apache.spark.sql.expressions.Window.partitionBy("id")
    // one ranked pass feeds BOTH the prefix (filtered) and the full
    // index (with positions, for the positional bound below)
    val ranked = Materialize.eager(toks.join(dfreq, "tok")
      .withColumn("rn", row_number().over(wDoc))
      .withColumn("n", count(lit(1)).over(wId)))
    val prefix = ranked
      .filter(col("rn") <=
        col("n") - expr(s"(${tNum}L * n + ${tDen - 1}L) div ${tDen}L") + 1)
      .select(col("id").as("doc_a"), col("tok"), col("n").as("na"),
        col("rn").as("pa"))
    // the index only needs tokens that occur in SOME probe prefix — a
    // LOSSLESS shrink (a df cap here would silently drop true pairs
    // whenever a doc's whole prefix is corpus-frequent; prefix tokens
    // are the corpus-rarest, so this semi-join keeps the index small
    // for the same reason a cap would, without the loss)
    val index = ranked
      .join(prefix.select("tok").distinct(), "tok")
      .select(col("id").as("doc_b"), col("tok"), col("n").as("nb"),
        col("rn").as("pb"))
    // positional bound (the PPJoin algebra, directed): both sides are
    // ranked under the same global (df, tok) order, so the FIRST
    // common token at (pa, pb) caps the overlap at
    // 1 + min(na − pa, nb − pb); containment needs tDen·|A∩B| ≥
    // tNum·na, so candidates violating the bound can't verify. The
    // length filter tDen·nb ≥ tNum·na (|A∩B| ≤ nb) rides the same
    // aggregate.
    val cands = prefix.join(index, "tok")
      .filter(col("doc_a") =!= col("doc_b") &&
        lit(tDen) * col("nb") >= lit(tNum) * col("na"))
      .groupBy("doc_a", "doc_b")
      .agg(min("pa").as("pa"), min("pb").as("pb"),
        first("na").as("na"), first("nb").as("nb"))
      .filter(lit(tDen) *
        (lit(1L) + least(col("na") - col("pa"), col("nb") - col("pb"))) >=
        lit(tNum) * col("na"))
      .select("doc_a", "doc_b")
    verifyOverlap(cands, "doc_a", "doc_b", toks)
      .filter(lit(tDen) * col("n_inter") >= lit(tNum) * col("n_a"))
  }

  /** Exact set overlap of candidate pairs `(a, b)` over a per-doc
    * distinct `(id, tok: bigint)` relation, via per-doc token ARRAYS
    * and the codegen'd array_intersect — not by re-exploding the
    * inverted index: on duplicate-heavy corpora (the 10x scale-soak
    * makes every doc a 10-clique) candidates legitimately number in
    * the millions, and the exploded verify shuffles |cands| x
    * avg-doc-len rows (billions) into a groupBy. The array form joins
    * |cands| rows against one doc-array relation — the same
    * intersection counts, a fraction of the shuffle.
    * Returns `(a, b, n_inter, n_a, n_b)`.
    */
  private def verifyOverlap(cands: DataFrame, a: String, b: String,
                            toks: DataFrame): DataFrame = {
    val arrays = toks.groupBy("id").agg(collect_list(col("tok")).as("toks"))
    cands
      .join(arrays.select(col("id").as(a), col("toks").as("toks_a")), a)
      .join(arrays.select(col("id").as(b), col("toks").as("toks_b")), b)
      .select(col(a), col(b),
        size(array_intersect(col("toks_a"), col("toks_b")))
          .cast("long").as("n_inter"),
        size(col("toks_a")).cast("long").as("n_a"),
        size(col("toks_b")).cast("long").as("n_b"))
  }

  /** Exact substring-span duplication (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better", the suffix-array
    * substring dedup, re-expressed as a shingle join): pairs of
    * documents sharing ≥ `minShared` exact `n`-token spans, with the
    * count of distinct shared spans. A 50-token exact overlap shows up
    * as 50−n+1 shared spans, so ranking by `n_shared` surfaces the
    * worst offenders first.
    *
    * Scale shape: identical to the Jaccard inverted index — the
    * key-partitioned [[shingleIndex]] self-join (never all-pairs) over
    * token spans, `maxDocFreq` cap against boilerplate spans that would
    * blow up the bucket join.
    */
  def substringDupPairs(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", n: Int = 8,
                        minShared: Int = 1,
                        maxDocFreq: Option[Int] = None): DataFrame =
    sharedShingles(Materialize.eagerByKey(
        shingleIndex(Materialize.fanOut(docs), idCol, textCol, n,
          maxDocFreq, tokens = true).select("id", "shingle"),
        col("shingle")))
      .withColumnRenamed("n_common", "n_shared")
      .filter(col("n_shared") >= minShared)

  /** Jaccard pairs from a prebuilt [[shingleIndex]] (read by name:
    * `id`, `shingle`) — callers that also feed MinHash from the same
    * index (d3's recall query) build it once and share it. The index
    * feeds three consumers (sizes + both self-join sides), so callers
    * materialize it keyed on `shingle`.
    */
  def ngramJaccardPairsFromIndex(idx: DataFrame, threshold: Double): DataFrame =
    jaccardPairs(sharedShingles(idx), idx, threshold)

  /** d22's candidate generator: [[ngramJaccardPairs]] with a length
    * window pushed INTO the inverted-index self-join. Edit distance ≤ k
    * implies |len_a − len_b| ≤ k, so any candidate violating the window
    * is dead on arrival at the verify — drop it per shingle match,
    * BEFORE the per-pair intersection aggregate, instead of after pair
    * formation. The index carries one extra long per row (the doc
    * length); the payoff is that cross-length shingle collisions never
    * reach the groupBy. Lossless for any verify bound k ≤ maxLenDiff.
    *
    * TRADEOFF (measured): the len payload rides every joined row, so on
    * corpora where lengths barely vary the filter prunes nothing and
    * the extra bytes on the quadratic-fanout join are pure cost — at
    * sf1-soak (10-member clone families, ±3-char lengths) this path is
    * 20.8 s vs 11.2 s for plain [[ngramJaccardPairs]]+post-filter, while
    * at sf0.1 real data it wins 1.8 s vs 2.2 s. Use it when the corpus
    * length distribution is wide relative to maxLenDiff.
    */
  def ngramJaccardPairsLenBounded(df: DataFrame, idCol: String,
                                  textCol: String, n: Int,
                                  threshold: Double, maxLenDiff: Int,
                                  maxDocFreq: Option[Int] = None,
                                  tokens: Boolean = false): DataFrame = {
    val raw = Materialize.fanOut(df).select(col(idCol).as("id"),
        length(col(textCol)).cast(LongType).as("len"),
        explode(shinglesOf(col(textCol), n, tokens)).as("s"))
      .select(col("id"), col("len"), xxhash64(col("s")).as("shingle"))
    // cap BEFORE the key-partitioned materialization (as in
    // shingleIndex): hot shingles never reach the keyed shuffle
    val capped = Materialize.eagerByKey(
      capDocFreq(raw, maxDocFreq), col("shingle"))
    val common = capped.select(col("id").as("id_a"), col("len").as("len_a"),
        col("shingle"))
      .join(capped.select(col("id").as("id_b"), col("len").as("len_b"),
        col("shingle")), "shingle")
      .filter(col("id_a") < col("id_b") &&
        abs(col("len_a") - col("len_b")) <= maxLenDiff)
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
    jaccardPairs(common, capped, threshold)
  }

  // ---- MinHash + LSH -------------------------------------------------

  /** MinHash signatures from a [[shingleIndex]], as one
    * `sig: array<bigint>` column of length k. k permutations come from
    * the index's TWO base hashes via the Carter-Wegman construction
    * h_i = shingle + i·h2 (mod 2⁶⁴) — the standard pairwise-independence
    * guarantee MinHash needs, with the hashing already paid once at
    * index build. One [[graft.plans.MinHashAgg]] buffer instead of k
    * separate min aggregate columns, so the partial-aggregation row
    * through the shuffle is one blob and the plan width is
    * k-independent (matters at production k of 128-256 permutations).
    */
  def minhashSignaturesFromIndex(idx: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    val agg = GraftSqlBridge.column(
      graft.plans.MinHashAgg(
        GraftSqlBridge.expression(col("shingle")),
        GraftSqlBridge.expression(col("h2")), k)
        .toAggregateExpression(isDistinct = false))
    idx.groupBy("id").agg(agg.as("sig"))
  }

  /** Candidate pairs via banding: signature split into `bands` bands of
    * k/bands rows; docs agreeing on any whole band collide. Collisions
    * are found by a groupBy on (band, band-hash) — fully distributed.
    * Pairs are then verified with exact n-gram Jaccard.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, k: Int = 32, bands: Int = 4,
                      verifyThreshold: Double = 0.8,
                      tokens: Boolean = true,
                      maxBucket: Int = 200,
                      maxDocFreq: Option[Int] = None): DataFrame =
    // eager: signatures and the verify both read the index; both key on
    // `id`, so the fan-width round-robin layout is kept (no keyed shuffle)
    minhashLshPairsFromIndex(
      Materialize.eager(shingleIndex(Materialize.fanOut(df), idCol,
        textCol, n, maxDocFreq, tokens)),
      k, bands, verifyThreshold, maxBucket)

  /** `(id, band, sig)` band-bucket table from a [[shingleIndex]] —
    * the LSH index a production corpus PERSISTS (bands × corpus rows,
    * three small columns): build it once on ingest, then any later
    * near-dup question — self-dedup ([[minhashLshCandidatesFromIndex]])
    * or an incremental batch probe (d19) — is an equi-join against this
    * table instead of a corpus re-shingle.
    */
  def bandSignatures(idx: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    minhashSignaturesFromIndex(idx, k).select(col("id"),
      explode(array((0 until bands).map { b =>
        // band signature = hash of the band's slice of the array (slice
        // is 1-based); same-bucket grouping is identical to hashing the
        // individual values — only the opaque bucket ids differ
        struct(lit(b).as("band"),
          xxhash64(slice(col("sig"), b * rows + 1, rows)).as("sig"))
      }: _*)).as("bs"))
      .select(col("id"), col("bs.band"), col("bs.sig"))
  }

  /** UNVERIFIED banding candidates from a [[shingleIndex]] — the
    * recall-measurement path (comparing candidates against
    * an exact pair set makes a separate Jaccard verify redundant:
    * exact ∩ verified(cand) = exact ∩ cand). Production dedup wants
    * [[minhashLshPairsFromIndex]], which verifies.
    */
  def minhashLshCandidatesFromIndex(idx: DataFrame, k: Int, bands: Int,
                                    maxBucket: Int = 200): DataFrame = {
    val banded = bandSignatures(idx, k, bands)
    // skew guard: a bucket of m docs yields m² candidate pairs — drop
    // degenerate buckets (non-discriminative signatures) outright.
    // r11 (guide §2.4 "window partitioned like the aggregation needs
    // no second shuffle"): the bucket size is a COUNT WINDOW over
    // (band, sig) instead of the r10 aggregate + semi-join-back — one
    // pass over one (band, sig) exchange that the self-join below
    // reuses (ReuseExchange: both sides are the same subtree), so the
    // r10 eager persist + count() barrier that existed only to stop
    // the aggregate and the join sides racing a cold cache is gone
    // (with it, the ADVICE-flagged build-time side effect). The
    // MinHashAgg signature pass runs once, under the reused exchange.
    // no-silent-caps: in/out counts observed around the window filter
    // (the capDocFreq pattern); the filter reads the window column, so
    // Catalyst cannot push it below the window (or the in-observe).
    // Needs Engine.session; see its excludedRules note.
    val tag = capObsCounter.incrementAndGet()
    val wBucket = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "sig")
    val bounded = banded
      .observe(s"graft_bucketcap_in_${tag}_$maxBucket", count(lit(1)).as("n"))
      .withColumn("__m", count(lit(1)).over(wBucket))
      .filter(col("__m") <= maxBucket)
      .drop("__m")
      .observe(s"graft_bucketcap_out_${tag}_$maxBucket", count(lit(1)).as("n"))
    bounded.select(col("band"), col("sig"), col("id").as("id_a"))
      .join(bounded.select(col("band"), col("sig"), col("id").as("id_b")),
        Seq("band", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** LSH pairs from a prebuilt [[shingleIndex]]. Candidate pairs are
    * verified EXACTLY against the same index that fed the signatures
    * ([[verifyOverlap]] over the per-doc `shingle` hashes), so a
    * `maxDocFreq`-capped index yields a self-consistent (signatures,
    * verification, ground truth) triple and the raw text is never
    * re-shingled.
    */
  def minhashLshPairsFromIndex(idx: DataFrame,
                               k: Int, bands: Int,
                               verifyThreshold: Double,
                               maxBucket: Int = 200): DataFrame =
    verifyOverlap(minhashLshCandidatesFromIndex(idx, k, bands, maxBucket),
        "id_a", "id_b", idx.select(col("id"), col("shingle").as("tok")))
      .select(col("id_a"), col("id_b"),
        jaccard(col("n_inter"), col("n_a"), col("n_b")).as("jaccard"))
      .filter(col("jaccard") >= verifyThreshold)

  // ---- near-dup clustering ------------------------------------------

  /** Connected components over a near-dup pair list — the step that
    * turns pairwise similarity into "keep one canonical copy per
    * cluster". Hybrid min-label propagation with pointer doubling:
    * every node starts labeled with itself; each round a node first
    * takes the minimum label among itself and its neighbors (one hop),
    * then jumps to the label OF its label (path halving) — so label
    * distance to the component minimum shrinks geometrically and the
    * loop converges in O(log diameter) rounds, not O(diameter). Plain
    * one-hop propagation needs a round per hop, which is both a
    * long-chain scale hazard and ~10 s of fixed per-round scheduling /
    * codegen cost on a warm local session.
    *
    * Scale shape: each round is one shuffle join with the edge list,
    * one aggregate, and one label self-join (its two sides are the
    * same subplan — ReuseExchange computes it once); nothing reaches
    * the driver except a per-round convergence fingerprint (labels
    * only ever decrease, so the exact decimal label sum is stationary
    * iff the labeling is). This formulation survives 100 TB of edges
    * with any diameter.
    *
    * Returns (id, comp) where comp = min id of the component.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // Symmetrize in ONE pass — explode(array(fwd, rev)) instead of
    // union(p, p.reversed) — so the (usually expensive) upstream pair
    // pipeline appears exactly once in the plan. The round-4 union form
    // read it twice and needed an eager cache-priming count() of the
    // pair list to avoid both branches recomputing candidate generation.
    val p = pairs
      .select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
    // localCheckpoint (eager), NOT persist: persist caches the DATA but
    // every consumer still carries — and Catalyst re-ANALYZES — the full
    // upstream plan. The pair pipeline feeding this is typically the
    // most complex plan in the job (inverted index, frequency cap,
    // self-join, verify); with plain persist each CC round and each
    // downstream consumer of the labeling re-analyzed that whole tree,
    // costing seconds of pure driver planning per round regardless of
    // data size (measured: 256 pairs at sf0.1 → ~4 s/phase of planning).
    // Checkpointing truncates the lineage to the materialized
    // partitions, so every later plan is O(CC operators), not O(pair
    // pipeline). It also materializes the edge list down a single
    // linear stage chain before the loop's consumers can race to fill
    // a lazy cache. (On a multi-executor cluster prefer a reliable
    // checkpoint dir for fault tolerance; local truncation is the
    // right single-process trade.)
    // r10 optimization (guide §2.4): every round joins edges on `dst`
    // — partitioning + sorting by dst ONCE at materialization lets
    // EnsureRequirements elide the edges-side exchange and sort in
    // every iteration's sort-merge join: the (big, loop-invariant)
    // edge relation is shuffled once per CC run, not once per round.
    val edges = Materialize.eagerByKeySorted(
      p.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst")),
      col("dst"))
    // init = one propagation round for free (r10): the identity
    // labeling's first loop round computes exactly
    // min(id, min over neighbors) — but that value is available from
    // the edge list with ONE aggregate (same cost as the old
    // distinct(), which was also an aggregate over edges), so seeding
    // with it saves a full join+agg+double round on every invocation.
    var labels = Materialize.eager(edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("_mn"))
      .select(col("id"), least(col("id"), col("_mn")).as("comp")))
    var iter = 0
    var converged = false
    var prevSum: java.math.BigDecimal = null
    while (!converged && iter < maxIter) {
      val prop = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("comp"))
      val hop = labels.select("id", "comp").union(prop)
        .groupBy("id").agg(min("comp").as("comp"))
      // pointer doubling: comp ← comp(comp). comp is always itself a
      // node id, so the lookup is a self-join; left + coalesce only
      // guards the impossible-miss case rather than dropping rows
      val ptr = hop.select(col("id").as("ptr_id"), col("comp").as("ptr_comp"))
      val doubled = hop.join(ptr, hop("comp") === ptr("ptr_id"), "left")
        .select(hop("id"), coalesce(col("ptr_comp"), hop("comp")).as("comp"))
      // checkpoint EVERY round (keeps each round's plan — and the
      // returned labeling's plan — constant-size), but LAZILY: the
      // convergence fingerprint below is the round's one scheduled
      // job, and it materializes the checkpoint blocks as a side
      // effect — halving jobs per round vs the old eager
      // checkpoint-then-aggregate pair (the t9 bpeTrain discipline;
      // at vocabulary/label scale the job-scheduling floor IS the
      // round cost). The previous round's blocks are still alive
      // while this job runs, so nothing recomputes.
      val next = doubled.localCheckpoint(false)
      // labels are monotonically non-increasing per node, so the exact
      // label sum is unchanged iff no label changed — one aggregate
      // instead of a join+filter+count convergence probe
      val fingerprint = next
        .agg(sum(col("comp").cast(DecimalType(38, 0))).as("s"))
        .head().getDecimal(0)
      // old rounds' checkpoint blocks are reclaimed by the
      // ContextCleaner once unreferenced; no explicit unpersist exists
      // for a localCheckpoint through the Dataset API
      labels = next
      converged = fingerprint == null || // empty graph: nothing to label
        (prevSum != null && fingerprint.compareTo(prevSum) == 0)
      prevSum = fingerprint
      iter += 1
    }
    if (!converged)
      // returning a partially-propagated labeling would silently split
      // components — fail loudly; callers with extreme-diameter graphs
      // raise maxIter
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds (graph diameter too large)")
    labels
  }

  /** One row per near-dup cluster: the canonical (minimum) id and the
    * member count.
    */
  def dedupClusters(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .groupBy(col("comp").as("keep_id"))
      .agg(count(lit(1)).as("n_members"))

  /** Canonical-document selection — the "keep best" step that turns a
    * near-dup pair list into a deduplicated corpus: every document joins
    * its cluster label (documents in no pair are their own singleton
    * cluster) and each cluster keeps its largest member, ties broken to
    * the smallest id.
    *
    * Scale shape: one left join of the corpus to the (small) component
    * labeling, then a single struct-max aggregation — the argmax rides
    * map-side combine, so no window sort over the full corpus and no
    * per-cluster row list ever materializes.
    *
    * Returns (keep_doc_id, n_members, kept_chars).
    */
  def canonicalDocs(docs: DataFrame, pairs: DataFrame,
                    idCol: String = "doc_id",
                    sizeCol: String = "n_chars"): DataFrame =
    canonicalDocsFromLabels(docs, connectedComponents(pairs), idCol, sizeCol)

  /** [[canonicalDocs]] over a precomputed `(id, comp)` labeling — the
    * production path when clustering and selection run in one pipeline:
    * compute [[connectedComponents]] once, feed both the cluster report
    * and the canonical selection.
    */
  def canonicalDocsFromLabels(docs: DataFrame, comp: DataFrame,
                              idCol: String = "doc_id",
                              sizeCol: String = "n_chars"): DataFrame = {
    val labeled = docs
      .join(comp, docs(idCol) === comp("id"), "left")
      .select(coalesce(col("comp"), docs(idCol)).as("cluster"),
        docs(idCol).cast("long").as("__id"),
        docs(sizeCol).cast("long").as("__sz"))
    // max over (size, -id) = largest doc, smallest id on ties; ids are
    // non-negative so the negation is a safe total-order inversion
    labeled.groupBy("cluster")
      .agg(max(struct(col("__sz").as("sz"), (-col("__id")).as("nid")))
          .as("best"),
        count(lit(1)).as("n_members"))
      .select((-col("best.nid")).as("keep_doc_id"), col("n_members"),
        col("best.sz").as("kept_chars"))
  }

  /** C4-style line-level dedup, re-expressed over fixed-size token
    * chunks (the synthetic corpus has no newline structure; on real web
    * text pass the text pre-split on '\n' instead): every non-overlapping
    * `chunkTokens`-token chunk is kept only at its first occurrence
    * corpus-wide (min (doc_id, pos)), removing boilerplate lines
    * repeated across documents while leaving each document's remaining
    * chunks addressable by (doc_id, pos) for reassembly.
    *
    * Scale shape: one codegen'd projection explodes chunks, then a
    * single hash-aggregate keyed BY CHUNK taking min (doc_id, pos) —
    * first-occurrence selection rides map-side partial aggregation, so
    * a boilerplate chunk repeated a million times collapses to one row
    * per input partition BEFORE the shuffle (a window/rank formulation
    * would instead sort every replica of the hot chunk in one task —
    * exactly the skew this operator exists to remove).
    *
    * Returns the kept (doc_id, pos, chunk) rows.
    */
  def chunkDedup(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text", chunkTokens: Int = 8): DataFrame = {
    // bind the token array before slicing: slice() on the raw split()
    // expression re-runs the split per chunk (O(tokens²/chunk) per doc);
    // on a bound attribute each slice is an O(chunk) array read
    val toks = col("__toks")
    val nChunks = ceil(size(toks).cast("double") / chunkTokens).cast("int")
    val chunks = docs
      .select(col(idCol).cast("long").as("doc_id"),
        split(trim(col(textCol)), "\\s+").as("__toks"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          j => concat_ws(" ", slice(toks, j * chunkTokens + 1, lit(chunkTokens)))))
          .as(Seq("pos", "chunk")))
    chunks.groupBy("chunk")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
      .select(col("first.doc_id").as("doc_id"),
        col("first.pos").cast("long").as("pos"), col("chunk"))
  }

  /** Cross-document line-level boilerplate removal (the CCNet /
    * RefinedWeb pass): a line whose TRIMMED form occurs in more than
    * `maxDocs` distinct documents corpus-wide is boilerplate
    * ("Subscribe…", nav crumbs, copyright footers) and is removed from
    * EVERY document; surviving lines are reassembled in original
    * order. Empty/whitespace-only lines are always dropped. Documents
    * with no non-empty lines drop out entirely (they were never text).
    *
    * Scale shape: posexplode → (doc,line) distinct → per-line hash
    * aggregate (map-side combine; the all-docs boilerplate line is ONE
    * group, partial aggregation absorbs the skew) → LEFT SEMI join
    * back on the line string against the rare-line set (AQE picks
    * broadcast when that set is small) → per-doc
    * sort_array(collect_list(struct(pos,line))) reassembly, bounded by
    * document size. No driver actions, no all-pairs shapes.
    *
    * Returns `(doc_id, n_lines_in, n_lines_kept, cleaned)`.
    */
  def lineDedup(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", maxDocs: Int = 3): DataFrame = {
    val lines = docs
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "raw")))
      .select(col("doc_id"), col("pos"), trim(col("raw")).as("line"))
      .filter(col("line") =!= "")
    val rare = lines.select("doc_id", "line").distinct()
      .groupBy("line").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocs)
      .select("line")
    val kept = lines.join(rare, Seq("line"), "left_semi")
    val perDocIn = lines.groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines_in"))
    val rebuilt = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws("\n", transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line"))).as("cleaned"))
    perDocIn.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines_in"),
        coalesce(col("n_kept"), lit(0L)).as("n_lines_kept"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  /** Content-defined chunking (the rsync/LBFS boundary trick, Muthitacharoen
    * et al. 2001): a position ends a chunk when the hash of its trailing
    * `window`-char context is ≡ 0 (mod `divisor`), so boundaries are a
    * function of CONTENT, not position — insert a word at the top of a
    * document and every later chunk still re-aligns, where fixed-grid
    * chunking ([[chunkDedup]]) shifts every subsequent chunk and finds
    * nothing. Expected chunk length is `divisor` chars.
    *
    * The boundary rule is deliberately stateless (no min-length clamp),
    * which keeps it a pure per-row projection replayable in any engine:
    * boundary positions come from one pass over the char positions with
    * the portable [[graft.plans.PolyHash]] kernel on each trailing
    * window.
    *
    * Returns `(doc_id, pos, chunk)` — one row per CDC chunk, in order.
    */
  /** Per-position HOF formulation of the CDC boundary rule — O(n·window)
    * (one substr + full poly_hash per position), interpreted,
    * session-bound. The differential-test reference for the O(n)
    * rolling-hash [[graft.plans.CdcBoundaries]] kernel that replaced it
    * in [[cdcChunks]]; also exactly what the d16 oracle replays in SQL.
    */
  private[graft] def cdcBoundariesHof(txt: Column, window: Int,
                                      divisor: Int): Column =
    when(length(txt) >= window,
      filter(sequence(lit(window), length(txt)), i =>
        pmod(call_function("poly_hash",
          txt.substr(i - (window - 1), lit(window)),
          lit(31L), lit(1000000007L)), lit(divisor.toLong)) === 0))
      .otherwise(array().cast("array<int>"))

  def cdcChunks(docs: DataFrame, window: Int = 8, divisor: Int = 64,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val txt = col("__t")
    val n = length(txt)
    val bps = org.apache.spark.sql.GraftSqlBridge.column(
      graft.plans.CdcBoundaries(
        org.apache.spark.sql.GraftSqlBridge.expression(txt),
        window, divisor.toLong, 31L, 1000000007L))
    val starts = concat(array(lit(0)), bps)
    val ends = concat(bps, array(n))
    docs
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("__t"))
      .select(col("doc_id"),
        posexplode(zip_with(starts, ends,
          (s, e) => txt.substr(s + 1, e - s))).as(Seq("pos", "chunk")))
      .filter(length(col("chunk")) > 0)
  }

  /** [[cdcChunks]] + corpus-wide first-occurrence dedup: the
    * insertion-robust variant of [[chunkDedup]], same map-side-combined
    * min-(doc_id, pos) aggregate keyed by chunk.
    */
  def cdcDedup(docs: DataFrame, window: Int = 8, divisor: Int = 64,
               idCol: String = "doc_id",
               textCol: String = "text"): DataFrame =
    cdcChunks(docs, window, divisor, idCol, textCol)
      .groupBy("chunk")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
      .select(col("first.doc_id").as("doc_id"),
        col("first.pos").cast("long").as("pos"), col("chunk"))

  /** Corpus-wide chunk dedup with document reassembly — the full C4
    * line-dedup output: [[chunkDedup]] keeps each chunk's first
    * occurrence corpus-wide; this rebuilds every document from its
    * surviving chunks. Documents whose every chunk occurred earlier
    * elsewhere disappear entirely (the C4 outcome for pure-boilerplate
    * pages).
    *
    * Scale shape: chunkDedup's map-side-combined first-occurrence
    * aggregate, then one doc-keyed aggregate whose collect_list is
    * bounded by a single document's chunk count; the dropped-chunk
    * count derives from a zero-shuffle per-doc chunk count joined
    * doc-keyed. No window sorts, no self-joins.
    *
    * Returns (doc_id, clean_text, n_kept, n_dropped).
    */
  def crossDocDedupDocs(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text",
                        chunkTokens: Int = 8): DataFrame = {
    val kept = chunkDedup(docs, idCol, textCol, chunkTokens)
    val rebuilt = kept.groupBy("doc_id")
      .agg(
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("chunk")))),
            s => s.getField("chunk"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    val orig = docs.select(col(idCol).cast("long").as("doc_id"),
      ceil(size(split(trim(col(textCol)), "\\s+")).cast("double") / chunkTokens)
        .cast("long").as("n_chunks"))
    rebuilt.join(orig, "doc_id")
      .select(col("doc_id"), col("clean_text"), col("n_kept"),
        (col("n_chunks") - col("n_kept")).as("n_dropped"))
  }

  /** Intra-document repetition removal — the WITHIN-doc counterpart of
    * [[chunkDedup]]'s corpus-wide pass (C4 applies both: drop lines
    * repeated across the corpus AND collapse runs repeated inside one
    * page). Every non-overlapping `chunkTokens`-token chunk is kept only
    * at its first occurrence within its own document, and the cleaned
    * text is reassembled in original chunk order.
    *
    * Scale shape: two hash-aggregates, both keyed by doc_id (the second
    * also by chunk) — no window sort over the corpus, no self-join, and
    * the reassembly's collect_list is bounded by a single document's
    * chunk count, never by corpus size. Per-doc state is exactly what a
    * 100 TB run partitions on anyway.
    *
    * Returns (doc_id, clean_text, n_kept, n_dropped).
    */
  def intraDocDedup(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", chunkTokens: Int = 8): DataFrame = {
    val toks = col("__toks")
    val nChunks = ceil(size(toks).cast("double") / chunkTokens).cast("int")
    val chunks = docs
      .select(col(idCol).cast("long").as("doc_id"),
        split(trim(col(textCol)), "\\s+").as("__toks"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          j => concat_ws(" ", slice(toks, j * chunkTokens + 1, lit(chunkTokens)))))
          .as(Seq("pos", "chunk")))
    chunks.groupBy("doc_id", "chunk")
      .agg(min(col("pos")).as("pos"), count(lit(1)).as("n_rep"))
      .groupBy("doc_id")
      .agg(
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("chunk")))),
            s => s.getField("chunk"))).as("clean_text"),
        count(lit(1)).as("n_kept"),
        sum(col("n_rep") - 1).cast(LongType).as("n_dropped"))
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup via embedding
    * clustering — k-means the embedding space, then compare cosine only
    * WITHIN each cluster. The cluster pass cuts the pair space from
    * O(n²) to Σ|cell|², trading a little recall (cross-cluster near-dups
    * are missed by design) for tractability on web-scale corpora; the
    * within-cell verify is exact.
    *
    * Scale shape: codegen'd assignment ([[Clustering.kmeans]]), then a
    * self-join partitioned by cluster id — never all-pairs; cell sizes
    * are bounded by k chosen ∝ corpus size.
    */
  def semDedupPairs(emb: DataFrame, k: Int, iters: Int, threshold: Double,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val assign = Clustering.kmeans(emb, k, iters, idCol, vecCol)
    // key-partitioned (r10): both self-join sides key on cluster, so
    // one shuffle at materialization replaces both join-side exchanges
    val side = Materialize.eagerByKey(
      emb.join(assign, idCol)
        .select(col("cluster"), col(idCol).as("id"), col(vecCol).as("v")),
      col("cluster"))
    side.select(col("cluster"), col("id").as("id_a"), col("v").as("va"))
      .join(side.select(col("cluster"), col("id").as("id_b"),
        col("v").as("vb")), Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(Similarity.cosine(col("va"), col("vb")) >= threshold)
      .select("id_a", "id_b")
  }

  /** Incremental-ingest dedup: keep only the batch rows whose
    * normalized content is absent from the existing corpus — the shape
    * of every continuous ingestion pipeline ("is this new crawl page
    * already in the training set?").
    *
    * Scale shape: one left-anti hash join keyed on the normalized text.
    * The corpus side reduces to its distinct keys (project + partial
    * distinct before the exchange); at production scale put a Bloom
    * filter of corpus keys in front like [[graft.operators.Decontaminate]]
    * — the anti-join here is the exact backstop either way.
    */
  def incrementalNew(batch: DataFrame, corpus: DataFrame,
                     textCol: String = "text"): DataFrame = {
    val key = graft.operators.TextAnalysis.normalize(col(textCol))
    batch.withColumn("__k", key)
      .join(corpus.select(key.as("__k")).distinct(), Seq("__k"), "left_anti")
      .drop("__k")
  }

  /** Snapshot diff — the ingest audit between two corpus versions:
    * every id classified `added` / `removed` / `changed` / `same`.
    * Content is reduced to a 64-bit hash BEFORE the full-outer join,
    * so only (id, 8 bytes) crosses the shuffle regardless of document
    * size — at 100 TB the diff costs two projections and one join on
    * the id, never a text move. (d12 `incrementalNew` is the keep-only
    * half of this; the diff is the monitoring face.)
    */
  def snapshotDiff(old: DataFrame, nw: DataFrame,
                   idCol: String = "doc_id",
                   contentCol: String = "text"): DataFrame = {
    def h(df: DataFrame, hc: String) =
      df.select(col(idCol), xxhash64(col(contentCol)).as(hc))
    h(old, "__ho").join(h(nw, "__hn").withColumnRenamed(idCol, "__nid"),
        col(idCol) === col("__nid"), "full_outer")
      .select(coalesce(col(idCol), col("__nid")).as(idCol),
        when(col("__ho").isNull, "added")
          .when(col("__hn").isNull, "removed")
          .when(col("__ho") =!= col("__hn"), "changed")
          .otherwise("same").as("status"))
  }

  // ---- SimHash -------------------------------------------------------

  /** 64-bit SimHash over whitespace tokens: each token votes ±1 on each
    * bit of its hash; bit i of the result = sign of the vote sum.
    *
    * A pure map-side projection through the codegen'd
    * [[graft.plans.SimHash64]] kernel — ZERO shuffles (the previous
    * formulation exploded tokens to rows and re-grouped on doc id).
    * `portable=true` uses two 31-bit polynomial hashes packed into 62
    * bits — bit-identical recomputable in plain SQL (the DuckDB oracle
    * for d4 does exactly that); xxhash64 stays the default for
    * production mixing quality. [[simhashViaAgg]] keeps the old
    * formulation as the differential-test reference.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              portable: Boolean = false): DataFrame =
    df.select(col(idCol).as("id"),
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.plans.SimHash64(
          org.apache.spark.sql.GraftSqlBridge.expression(col(textCol)),
          portable)).as("simhash"))

  /** Explode → 64 conditional sums → bit assembly formulation of
    * [[simhash]] (one shuffle on doc id) — portable, session-free, the
    * differential-test reference for the codegen kernel.
    */
  private[graft] def simhashViaAgg(df: DataFrame, idCol: String, textCol: String,
                                   portable: Boolean = false): DataFrame = {
    graft.plans.PolyHashExpr.register(df.sparkSession)
    val tokHash =
      if (portable)
        TextAnalysis.polyHash(col("tok"), 31L, 1000000007L) * lit(2147483648L) +
          TextAnalysis.polyHash(col("tok"), 37L, 998244353L)
      else xxhash64(col("tok"))
    val toks = df.select(col(idCol).as("id"),
      explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .withColumn("h", tokHash)
    val votes = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"b$i")
    }
    val voted = toks.groupBy("id").agg(votes.head, votes.tail: _*)
    val sh = (0 until 64).map { i =>
      when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    voted.select(col("id"), sh.as("simhash"))
  }

  /** Near-dup pairs with Hamming distance ≤ maxDist over SimHash, using
    * block banding (pigeonhole: distance ≤ 3 ⇒ at least one of 4
    * 16-bit blocks equal) for candidate generation.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3): DataFrame = {
    // pigeonhole: pairs within Hamming distance d share at least one
    // of d+1 blocks, so the block count must FOLLOW maxDist — a fixed
    // 4-way split silently loses recall for maxDist > 3 (a 5-bit-apart
    // pair can touch all 4 blocks). maxDist = 3 keeps the historical
    // 4 x 16-bit layout.
    require(maxDist >= 0 && maxDist < 64, s"maxDist out of range: $maxDist")
    val nblocks = maxDist + 1
    val sig = simhash(df, idCol, textCol)
    val blocks = sig.select(col("id"), col("simhash"),
      explode(array((0 until nblocks).map { b =>
        val start = b * 64 / nblocks
        val width = (b + 1) * 64 / nblocks - start
        val mask = if (width >= 64) -1L else (1L << width) - 1L
        struct(lit(b).as("blk"),
          shiftright(col("simhash"), start).bitwiseAND(mask).as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("simhash"), col("bk.blk"), col("bk.key"))
    val cand = blocks.select(col("id").as("id_a"),
        col("simhash").as("sh_a"), col("blk"), col("key"))
      .join(blocks.select(col("id").as("id_b"), col("simhash").as("sh_b"),
        col("blk"), col("key")), Seq("blk", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sh_a", "sh_b").distinct()
    cand
      .withColumn("dist", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD 2003 — the
    * MOSS algorithm): hash every word `k`-gram positionally, slide a
    * window of `w` consecutive hashes, and keep each window's minimum
    * (rightmost on ties). Guarantee: any match of at least w+k-1
    * consecutive tokens shares a fingerprint, at an expected density
    * of 2/(w+1) — position-robust substring detection at a fraction
    * of the full shingle index's size.
    *
    * Scale shape: one generator pass (positional gram hashes), one
    * partitioned window min, and an EQUI-join selection (the window →
    * member-position relation is exploded to offsets 0..w-1, not a
    * range join — AuditPlans-clean). Hashes go through the portable
    * [[graft.plans.PolyHash]] kernel so the DuckDB oracle replays
    * fingerprints bit-for-bit.
    *
    * Returns the DISTINCT per-doc fingerprint hash set `(id, fp)`.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 2, s"need k >= 1, w >= 2: k=$k w=$w")
    val toks = split(trim(col(textCol)), "\\s+")
    // positional gram hashes: p is 1-based so the oracle's range(1, …)
    // replays positions directly
    val grams = docs
      .select(col(idCol).cast("long").as("id"), toks.as("ts"))
      .filter(size(col("ts")) >= k)
      .select(col("id"), posexplode(transform(
        sequence(lit(1), size(col("ts")) - (k - 1)),
        p => graft.operators.TextAnalysis.polyHash(
          concat_ws(" ", slice(col("ts"), p, lit(k))), 31L, 1000000007L))))
      .select(col("id"), (col("pos") + 1).as("p"), col("col").as("h"))
    // min hash of the full window ending at e (e >= w). The classic
    // algorithm then picks the RIGHTMOST position holding each
    // window's min — but that tie-break only matters when positions
    // are exposed: the fingerprint HASH selected for window e is its
    // min by definition, so the per-doc fingerprint set is exactly
    // the distinct window minima. One partitioned window pass, no
    // selection join.
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("p").rowsBetween(-(w - 1), 0)
    grams
      .select(col("id"), col("p").as("e"), min("h").over(win).as("wmin"))
      .filter(col("e") >= w)
      .select(col("id"), col("wmin").as("fp"))
      .distinct()
  }

  /** Winnowing near-dup pairs: shared-fingerprint counts over the
    * [[winnowFingerprints]] inverted index, with the standard
    * document-frequency skew cap (a fingerprint in every doc is
    * boilerplate, not evidence). Returns `(id_a, id_b, n_common)`
    * with `n_common >= minCommon`.
    */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 3, w: Int = 4, minCommon: Int = 5,
                  maxDocFreq: Int = 50): DataFrame = {
    val fps = winnowFingerprints(docs, idCol, textCol, k, w)
    val hot = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq).select("fp")
    val capped = fps.join(broadcast(hot), Seq("fp"), "left_anti")
    capped.select(col("fp"), col("id").as("id_a"))
      .join(capped.select(col("fp"), col("id").as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
  }
}
