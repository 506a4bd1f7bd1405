package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.storage.StorageLevel

/** Benchmark decontamination: flag training documents whose word
  * n-gram shingles also occur in a held-out benchmark/eval set — the
  * standard leakage check a training-data pipeline runs before every
  * model train.
  *
  * Scale design (the asymmetry is the whole point): the corpus is the
  * 100 TB side, the benchmark is small (eval sets are MBs). The corpus
  * shingle index is therefore never shuffled wholesale against the
  * benchmark — a Bloom filter built over the benchmark's shingle
  * hashes (one distributed aggregate, one small binary to the driver)
  * is pushed into the corpus scan as a codegen'd `might_contain`
  * map-side filter, dropping ~all clean shingles before any shuffle.
  * The survivors (true overlaps + Bloom false positives) then take an
  * exact join against the benchmark shingle set, so the result is
  * EXACT regardless of the Bloom's false-positive rate. This is the
  * same two-phase shape Spark's own runtime row-group filtering uses
  * (`InjectRuntimeFilter`), applied cross-dataset.
  */
object Decontaminate {

  /** Per-corpus-document contamination scores: of the doc's distinct
    * word `n`-gram shingles, how many also occur anywhere in
    * `benchmark`. Returns `(doc_id, n_shingles, n_contam,
    * contam_frac)` with one row per corpus document (clean docs score
    * 0). Shingles are compared by their [[Dedup.shingleIndex]] 64-bit
    * hashes: same equality classes w.h.p., a fraction of the shuffle
    * bytes.
    *
    * `bloomPrefilter=false` skips the Bloom phase (exact join only) —
    * the differential-test reference; results are identical by
    * construction.
    *
    * `bloomExpectedItems` sizes the filter; the default (-1) counts the
    * benchmark shingle set first — one extra job over the persisted
    * SMALL side — so the filter is ~9.6 bits/item instead of a fixed
    * multi-MB literal when the eval set is tiny (and under-sized never
    * breaks correctness, only the pruning rate, thanks to the exact
    * join behind it).
    */
  def scores(corpus: DataFrame, benchmark: DataFrame,
             idCol: String, textCol: String, n: Int = 3,
             tokens: Boolean = true,
             bloomPrefilter: Boolean = true,
             bloomExpectedItems: Long = -1L): DataFrame = {
    val corpusIdx = Materialize.eager(
      Dedup.shingleIndex(corpus, idCol, textCol, n, None, tokens)
        .select(col("id"), col("shingle").as("h")))
    val benchSet = Materialize.eager(
      Dedup.shingleIndex(benchmark, idCol, textCol, n, None, tokens)
        .select(col("shingle").as("h")).distinct())

    val candidates =
      if (bloomPrefilter) bloomFiltered(corpusIdx, benchSet, bloomExpectedItems)
      else corpusIdx

    // exact semi-join scrubs Bloom false positives; AQE picks broadcast
    // when the benchmark set actually fits (never forced — eval suites
    // can still be millions of shingles)
    val contam = candidates.join(benchSet, "h")
      .groupBy("id").agg(count(lit(1)).as("n_contam"))
    val sizes = corpusIdx.groupBy("id").agg(count(lit(1)).as("n_shingles"))
    sizes.join(contam, Seq("id"), "left")
      .select(col("id").as("doc_id"), col("n_shingles"),
        coalesce(col("n_contam"), lit(0L)).as("n_contam"))
      .withColumn("contam_frac",
        col("n_contam").cast("double") / col("n_shingles").cast("double"))
  }

  /** Fuzzy (near-dup) decontamination: every (corpus doc, benchmark
    * doc) pair whose word-`n`-gram Jaccard similarity is ≥ `threshold`
    * — the leakage check [[scores]]' exact-overlap counting misses when
    * eval items were paraphrased or lightly edited before landing in
    * the crawl. Returns `(id_a, id_b, jaccard)` with `id_a` from the
    * corpus and `id_b` from the benchmark.
    *
    * Scale shape: the same corpus-is-huge / benchmark-is-small
    * asymmetry as [[scores]] — per-doc shingle sizes (the Jaccard
    * denominators) come from ONE pass over each side's index, then the
    * corpus index is Bloom-prefiltered by the benchmark's shingle set
    * before the only corpus-wide shuffle, so shingles that appear in no
    * eval doc never move. Dropping them cannot change any reported
    * pair: a shingle outside the benchmark contributes to no
    * intersection, and the union term comes from the pre-filter sizes.
    * The surviving (corpus × benchmark) candidate join is keyed on the
    * shingle hash — never all-pairs.
    */
  def fuzzyPairs(corpus: DataFrame, benchmark: DataFrame,
                 idCol: String, textCol: String, n: Int = 3,
                 threshold: Double = 0.8, tokens: Boolean = true,
                 bloomPrefilter: Boolean = true,
                 bloomExpectedItems: Long = -1L): DataFrame = {
    val corpusIdx = Materialize.eager(
      Dedup.shingleIndex(corpus, idCol, textCol, n, None, tokens)
        .select(col("id").as("id_a"), col("shingle").as("h")))
    val benchIdx = Materialize.eager(
      Dedup.shingleIndex(benchmark, idCol, textCol, n, None, tokens)
        .select(col("id").as("id_b"), col("shingle").as("h")))
    // full per-doc sizes BEFORE any prefilter — the Jaccard denominator
    // counts all of a doc's shingles, not just benchmark-overlapping ones
    val szA = corpusIdx.groupBy("id_a").agg(count(lit(1)).as("sz_a"))
    val szB = benchIdx.groupBy("id_b").agg(count(lit(1)).as("sz_b"))
    val probe =
      if (bloomPrefilter)
        bloomFiltered(corpusIdx, benchIdx.select("h").distinct(),
          bloomExpectedItems)
      else corpusIdx
    val common = probe.join(benchIdx, "h")
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
    common.join(szA, "id_a").join(szB, "id_b")
      .withColumn("jaccard",
        col("n_common").cast("double")
          / (col("sz_a") + col("sz_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Semantic (embedding-space) decontamination: flag corpus items
    * whose embedding is cosine-close to ANY eval-set embedding — the
    * third rung of the leakage ladder ([[scores]] exact n-gram overlap,
    * [[fuzzyPairs]] near-dup text, this catches translations /
    * rewordings that share no surface form). Returns
    * `(id, n_hits, max_sim)` for flagged corpus items only.
    *
    * Scale shape: eval sets are MB-scale by definition while the corpus
    * is the 100 TB side, so the right plan IS the broadcast
    * nested-loop: the eval matrix ships to every task once and the
    * corpus is scanned exactly once with the codegen'd `vec_dot`
    * kernel doing |eval| dot products per row — no shuffle of the
    * corpus at any scale (the d8/d15 asymmetry, in embedding space).
    * `max`/`count` aggregate per corpus id with map-side combine.
    * max_sim is rounded to 6 dp (max is order-independent; the round
    * is only cross-engine display parity).
    */
  def semanticScores(corpus: DataFrame, evalSet: DataFrame,
                     threshold: Double, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    graft.plans.VecExpressions.register(corpus.sparkSession)
    // norms precomputed per ROW (the Similarity.scala discipline):
    // dot/(vn*en) is the same IEEE expression tree as cosine(), one
    // vec_dot per pair instead of three
    val ev = broadcast(evalSet.select(col(idCol).as("eval_id"),
      col(vecCol).as("ev"), Similarity.norm(col(vecCol)).as("en")))
    val co = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      Similarity.norm(col(vecCol)).as("vn"))
    val sim = Similarity.dot(col("v"), col("ev")) / (col("vn") * col("en"))
    co.join(ev, sim >= threshold)
      .groupBy("id")
      .agg(count(lit(1)).as("n_hits"), round(max(sim), 6).as("max_sim"))
  }

  /** Rows of `idx` whose `h` might be in `hashes` (one Bloom aggregate
    * over the small side, pushed into the big side's scan as a
    * codegen'd `might_contain`). False positives pass through — callers
    * always back this with an exact join.
    */
  private def bloomFiltered(idx: DataFrame, hashes: DataFrame,
                            expectedItems: Long): DataFrame = {
    // the filter bytes are bounded by numBits (not by input size) and
    // are order-independent, so the build is deterministic
    val items =
      if (expectedItems > 0) expectedItems
      else math.max(hashes.count(), 1024L)
    val bloomBytes = hashes
      .agg(GraftSqlBridge.column(
        new BloomFilterAggregate(
          GraftSqlBridge.expression(col("h")), items)
          .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    if (bloomBytes == null) idx.limit(0) // empty small side
    else idx.filter(GraftSqlBridge.column(
      BloomFilterMightContain(
        Literal(bloomBytes, org.apache.spark.sql.types.BinaryType),
        GraftSqlBridge.expression(col("h")))))
  }
}
