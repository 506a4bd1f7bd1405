package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling and splitting for training-data pipelines.
  *
  * All selection is keyed on a *portable* multiplicative hash of the row
  * id (Knuth's 2654435761 mod 2³²) rather than an RNG: reruns, retries
  * and engine changes yield byte-identical samples — a reproducibility
  * requirement for dataset cards, and what makes these operators
  * oracle-checkable across engines.
  */
object Sampling {

  /** Portable pseudo-random key in [0, 2³²). */
  def hashKey(id: Column): Column =
    pmod(id.cast("long") * lit(2654435761L), lit(4294967296L))

  /** Deterministic k-row sample: the k rows with the smallest hash key
    * (distributed top-k via TakeOrderedAndProject, no full sort).
    */
  def deterministicSample(df: DataFrame, idCol: String, k: Int): DataFrame =
    df.orderBy(hashKey(col(idCol)), col(idCol)).limit(k)

  /** Stratified sample: up to `perKey` rows per stratum, chosen by hash
    * order. Salted two-phase top-k: a single window over the stratum
    * would sort the WHOLE stratum in one task (a stratum is
    * corpus-scale at 100 TB — "web" is most of the crawl); instead each
    * of `salts` hash-disjoint slices takes its local top `perKey`
    * (parallel, bounded) and the global window re-ranks only the
    * ≤ salts·perKey survivors per stratum. The global top-k is a subset
    * of the union of per-salt top-ks under the same ordering, so the
    * result is identical to the single-window form.
    */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       perKey: Int, salts: Int = 64): DataFrame = {
    val order = Seq(hashKey(col(idCol)), col(idCol))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol), pmod(hashKey(col(idCol)), lit(salts)))
      .orderBy(order: _*)
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w1))
      .filter(col("__rn") <= perKey)
      .withColumn("__rn", row_number().over(w2))
      .filter(col("__rn") <= perKey).drop("__rn")
  }

  /** Weighted mixture sampling — the source-mixing step of a training
    * pipeline ("keep 100% of wiki, 50% of books, 10% of web"): each row
    * of group g survives iff its portable hash bucket falls under
    * `weights(g)` (else `defaultWeight`), quantized to 1/10000.
    *
    * Scale shape: a pure filter projection — ZERO shuffles. The weight
    * table is a bounded literal CASE chain compiled into codegen (no
    * join, no broadcast); survival is decided per-row from the hash,
    * so the sample is deterministic, engine-portable, and stable under
    * reruns/appends (a row's fate never depends on other rows).
    */
  def mixtureSample(df: DataFrame, idCol: String, groupCol: String,
                    weights: Map[String, Double],
                    defaultWeight: Double): DataFrame = {
    def q(w: Double): Long = {
      require(w >= 0.0 && w <= 1.0, s"weight out of [0,1]: $w")
      math.round(w * 10000)
    }
    val thr = weights.toSeq.sortBy(_._1).foldLeft(lit(q(defaultWeight))) {
      case (acc, (k, w)) => when(col(groupCol) === lit(k), lit(q(w))).otherwise(acc)
    }
    df.filter(pmod(hashKey(col(idCol)), lit(10000L)) < thr)
  }

  /** Deterministic train/eval split: `evalPct` percent of rows (by hash
    * bucket) land in eval. Pure projection — no shuffle at all.
    */
  def trainEvalSplit(df: DataFrame, idCol: String, evalPct: Int): DataFrame =
    df.withColumn("split",
      when(pmod(hashKey(col(idCol)), lit(100)) < evalPct, "eval")
        .otherwise("train"))

  /** Leakage-safe train/eval split: every near-dup cluster receives ONE
    * split decision — keyed by its connected-component label — so
    * near-duplicates can never straddle train and eval (the split-time
    * face of decontamination; [[trainEvalSplit]] alone leaks one
    * near-dup copy into eval while its sibling trains). Unclustered
    * documents split by their own id, which equals what the CC label
    * would be for a singleton.
    *
    * `labels` is `Dedup.connectedComponents` output `(id, comp)` —
    * bounded by the pair list, which near-dup pruning keeps orders of
    * magnitude under corpus size, so AQE broadcasts the left join at
    * any realistic scale; the split rule itself stays row-local.
    */
  def leakageSafeSplit(df: DataFrame, idCol: String, labels: DataFrame,
                       evalPct: Int): DataFrame = {
    val l = labels.select(col("id").as("__lsid"), col("comp").as("__lscomp"))
    df.join(l, col(idCol) === col("__lsid"), "left")
      .withColumn("split_key",
        coalesce(col("__lscomp"), col(idCol).cast("long")))
      .withColumn("split",
        when(pmod(hashKey(col("split_key")), lit(100)) < evalPct, "eval")
          .otherwise("train"))
      .drop("__lsid", "__lscomp")
  }

  /** Temperature-rebalanced mixture (the mT5/multilingual α-sampling
    * step): target per-source shares ∝ countₛ^α, realized by
    * downsampling each source at rate (countₛ/count_min)^(α−1) — the
    * smallest source passes whole, larger sources are thinned toward
    * the flattened distribution. Unlike [[mixtureSample]] the rates
    * are DERIVED from the corpus: one map-side-combinable count
    * aggregate (|sources| rows), rates broadcast back, then a
    * row-local hash keep — no second shuffle at any corpus size.
    *
    * α = 0.5 computes the rate as `sqrt(count_min/countₛ)`: IEEE sqrt
    * and division are correctly rounded in every engine, so the kept
    * set is bit-reproducible cross-engine (general `pow` is only
    * 1-ulp-accurate, which could flip a threshold boundary).
    */
  def temperatureSample(df: DataFrame, idCol: String, groupCol: String,
                        alpha: Double): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha out of [0,1]: $alpha")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(min(col("__n")).as("__nmin"))))
      .withColumn("__rate",
        if (alpha == 0.5)
          sqrt(col("__nmin").cast("double") / col("__n").cast("double"))
        else
          pow(col("__n").cast("double") / col("__nmin").cast("double"),
            alpha - 1.0))
      .select(col(groupCol), round(col("__rate") * 10000).cast("long")
        .as("__thr"))
    df.join(broadcast(rates), Seq(groupCol))
      .filter(pmod(hashKey(col(idCol)), lit(10000L)) < col("__thr"))
      .drop("__thr")
  }

  /** Token-budget-capped sampling — the source-mixing step of a training
    * pipeline ("cap every source at N tokens"): each group's rows are
    * ordered by the portable hash and kept while the running token total
    * stays within `budget`.
    *
    * One shuffle on the group key; the running sum is a window cumsum
    * over a unique (hash, id) order, so the kept set is deterministic
    * and engine-independent. Groups cheaper than the budget pass
    * through whole.
    */
  def tokenBudgetSample(df: DataFrame, idCol: String, groupCol: String,
                        tokensCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(hashKey(col(idCol)), col(idCol))
    df.withColumn("__cum", sum(col(tokensCol).cast("long")).over(w))
      .filter(col("__cum") <= budget).drop("__cum")
  }

  /** Sequence packing: assign each group's documents to fixed-budget
    * training shards — shard k holds the hash-ordered run of documents
    * whose cumulative token count starts inside `(k·budget, (k+1)·budget]`.
    * The classic "pack shuffled docs into ~N-token files" step; documents
    * may straddle a boundary (they are never split), which is the
    * standard greedy-by-cumsum packing.
    *
    * Deterministic (hash order), and partitioned per group — no global
    * cumsum bottleneck: each group's window sorts only its own rows, so
    * sharding 100 TB across many sources stays parallel.
    */
  def packShards(df: DataFrame, idCol: String, groupCol: String,
                 tokensCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(hashKey(col(idCol)), col(idCol))
    df.withColumn("shard",
      floor((sum(col(tokensCol).cast("long")).over(w) -
        col(tokensCol).cast("long")) / budget))
  }

  /** Shard export — the last pipeline step: each [[packShards]] shard
    * becomes ONE row `(group, shard, n_docs, shard_chars, payload)`
    * with the member documents concatenated newline-separated in the
    * deterministic pack order, ready to write as training files.
    *
    * The per-shard collect is bounded by the shard budget itself (a
    * shard IS the file-sized unit), so the aggregation state per key is
    * ~budget characters — safe at any corpus size.
    */
  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    * Spirakis 2006, "Weighted random sampling with a reservoir"): each
    * row draws u from the portable hash key and scores
    * key = ln(u)/w — the top-k by key (descending; keys are negative,
    * heavier rows sit closer to 0) is an exact-size weighted sample,
    * the one-pass reservoir result without any reservoir state.
    *
    * Scale shape: a zero-shuffle scoring projection + distributed
    * top-k (TakeOrderedAndProject — per-partition heaps, never a
    * global sort; the q9 discipline). Weights are clamped >= 1 so
    * zero-weight rows stay sampleable-but-last rather than dividing
    * by zero. Integer hash → the draw replays exactly in any engine;
    * only the final ln/division is floating point.
    */
  /** Greedy maximum-coverage subset selection (the classic (1−1/e)
    * submodular greedy; Nemhauser et al. 1978): pick `k` documents,
    * each round taking the doc covering the most NOT-yet-covered
    * vocabulary (tie → smallest doc_id) — the coverage-based diverse
    * data-selection shape (select few docs spanning the corpus's
    * token space).
    *
    * Scale shape: each round is one broadcast anti-join of the token
    * index against the covered set (≤ k·max-doc-vocab tokens — tiny,
    * independent of corpus size), one map-side-combinable count per
    * doc, and one TakeOrdered(1). Driver coordination is k rounds of
    * one 1-row collect — the same bounded-rounds discipline as BPE
    * learning (serial depth = k by the algorithm's definition; the
    * greedy choice is inherently sequential). Returns
    * `(round, doc_id, gain)` — `gain` = newly covered tokens.
    */
  def maxCoverageSelect(docs: DataFrame, k: Int,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val spark = docs.sparkSession
    // eager (Materialize): per-round consumers otherwise race a lazy
    // cold cache; also truncates the k-round loop's re-analyzed lineage
    val toks = Materialize.eager(docs
      .select(col(idCol).cast("long").as("id"),
        explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .distinct())
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    var covered = Set.empty[String]
    for (round <- 1 to k) {
      // covered set travels as a broadcast relation, not an isin(...)
      // literal list: k·max-doc-vocab literals would bloat the Catalyst
      // plan (analysis cost is per-round) where a broadcast hash anti-
      // join ships the same bytes once and keeps the plan constant-size
      val remaining =
        if (covered.isEmpty) toks
        else {
          import spark.implicits._
          toks.join(broadcast(covered.toSeq.toDF("tok")),
            Seq("tok"), "left_anti")
        }
      val top = remaining.groupBy("id").agg(count(lit(1)).as("gain"))
        .orderBy(col("gain").desc, col("id")).limit(1).collect()
      if (top.nonEmpty && top(0).getLong(1) > 0) {
        val id = top(0).getLong(0)
        picked += ((round, id, top(0).getLong(1)))
        covered = covered ++ toks.filter(col("id") === id)
          .select("tok").collect().map(_.getString(0))
      }
    }
    import spark.implicits._
    picked.toSeq.toDF("round", "doc_id", "gain")
  }

  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int): DataFrame = {
    val w = greatest(col(weightCol).cast("double"), lit(1.0))
    val u = (hashKey(col(idCol)).cast("double") + 0.5) / 4294967296.0
    df.select(col(idCol), w.as("weight"), (log(u) / w).as("sel_key"))
      .orderBy(col("sel_key").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("weight"), round(col("sel_key"), 6).as("sel_key"))
  }

  def exportShards(df: DataFrame, idCol: String, groupCol: String,
                   tokensCol: String, textCol: String,
                   budget: Long): DataFrame =
    packShards(df, idCol, groupCol, tokensCol, budget)
      .groupBy(col(groupCol), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(tokensCol).cast("long")).as("shard_chars"),
        concat_ws("\n",
          transform(
            array_sort(collect_list(struct(
              hashKey(col(idCol)).as("hk"),
              col(idCol).cast("long").as("id"),
              col(textCol).as("t")))),
            x => x.getField("t"))).as("payload"))
}
