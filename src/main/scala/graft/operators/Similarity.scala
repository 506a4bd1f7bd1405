package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.VecExpressions

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k (broadcast the query set, scan the
  * corpus once — the right plan when queries ≪ corpus, which is the ANN
  * serving shape). Scale path: LSH bucketing via random hyperplanes cuts
  * the scanned fraction; recall is tunable with tables × bits.
  *
  * Vector math runs through the codegen'd `vec_dot` expression
  * (graft.plans.VecDot) — a primitive loop inside whole-stage codegen.
  * The HOF form (`aggregate(zip_with(...))`) is kept as `dotHof` for
  * session-free composition, but it is interpreted and ~100× slower on
  * all-pairs workloads. Norms are precomputed per row, not per pair.
  */
object Similarity {

  /** Row's first column (an array<float|double>) as Array[Double]:
    * getSeq[Float] alone unboxes with a Float ClassTag and throws
    * ClassCastException on double embeddings (which several upstream
    * transforms produce) — the same tolerance kmeansCentroids has.
    */
  private def toDoubleVec(r: org.apache.spark.sql.Row): Array[Double] =
    r.getSeq[Any](0).map {
      case f: Float  => f.toDouble
      case d: Double => d
      case other => throw new IllegalArgumentException(
        s"embedding must be array<float|double>, found element $other")
    }.toArray


  /** Codegen'd dot product (requires `VecExpressions.register` on the
    * session that analyzes the query — all operators here do that).
    */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** Higher-order-function fallback: portable, session-free, slow. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Per-query rank of the k best candidates under (cosine DESC,
    * neighbor_id) — bounded map-side FIRST by the custom
    * [[graft.plans.TopKPerKeyExec]] operator, then `row_number` over
    * the ≤ k×queries survivors. Replaces the Window-over-all-candidates
    * idiom shared by the ANN paths: the exchange carries the bounded
    * set instead of every scored pair (at 100 TB: megabytes, not the
    * |queries|×|candidates| score table). Identical output — same
    * ordering, same tie-break.
    */
  /** Public entry to the bounded per-query ranking for callers that
    * assemble their own scored candidate set (e.g. the s12 persisted-
    * index probe). */
  def rankTopKPerQuery(scored: DataFrame, k: Int): DataFrame =
    rankTopK(scored, k)

  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val bounded = graft.plans.TopKPerKey(scored, Seq("query_id"),
      Seq(("cosine", false), ("neighbor_id", true)), k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    bounded.withColumn("rank", row_number().over(w))
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Brute-force cosine top-k: for each row of `queries`, the k nearest
    * corpus rows (excluding identical ids), deterministic tie-break on
    * neighbor id. `queries` is broadcast — the corpus is scanned exactly
    * once regardless of k; per-row norms are computed on the scan, so
    * each pair costs one vec_dot + one divide.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    VecExpressions.register(corpus.sparkSession)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    rankTopK(scored, k)
  }

  /** Matryoshka-style two-stage ANN (MRL embeddings): candidates are
    * scored on the FIRST `pdim` dimensions only (nested-prefix
    * embeddings make the truncated cosine a meaningful coarse score),
    * the per-query top `cand` survive, and only those get the
    * full-dimension exact rerank — the full-width dot product runs on
    * cand×|queries| rows instead of |corpus|×|queries|. The coarse
    * pass here is the broadcast scan (per-pair cost pdim/dim of
    * brute); at production scale compose the same prefix trick with
    * IVF cells ([[ivfTopK]]) so the coarse pass is bucketed too.
    */
  def matryoshkaTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     pdim: Int, cand: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(cand >= k, s"rerank pool cand=$cand must be >= k=$k")
    VecExpressions.register(corpus.sparkSession)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qp", slice(col("qv"), 1, pdim))
      .withColumn("qpn", norm(col("qp")))
      .withColumn("qn", norm(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cp", slice(col("cv"), 1, pdim))
      .withColumn("cpn", norm(col("cp")))
      .withColumn("cn", norm(col("cv")))
    val coarse = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      // a ZERO PREFIX of a nonzero vector gives 0/0 = NaN, and NaN
      // sorts ABOVE every real cosine in descending order — one such
      // vector per query would displace a genuine candidate; filter
      // the degenerate prefixes out of the pool instead
      .filter(col("qpn") * col("cpn") > 0)
      .withColumn("cosine",
        dot(col("qp"), col("cp")) / (col("qpn") * col("cpn")))
    val pool = graft.plans.TopKPerKey(coarse, Seq("query_id"),
      Seq(("cosine", false), ("neighbor_id", true)), cand)
    val reranked = pool.drop("cosine")
      .withColumn("cosine",
        dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    rankTopK(reranked, k)
  }

  /** Deterministic random hyperplanes: `bits` planes of dimension `dim`,
    * components from a seeded PRNG (driver-side constant, shipped as a
    * literal — tiny).
    */
  def hyperplanes(dim: Int, bits: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bits, dim)(rnd.nextGaussian())
  }

  /** Sign-bit LSH bucket id for a vector column under `planes`. */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit): _*)
      when(dot(vec, planeLit) >= 0, shiftleft(lit(1L), i)).otherwise(0L)
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** All `tables` sign-LSH bucket ids at once, as `array<long>` — one
    * codegen'd kernel over a constant plane tensor instead of a
    * tables×bits forest of literal-array dot expressions (which falls
    * out of whole-stage codegen and costs ~0.5 ms/row interpreted;
    * measured 40× slower than this at the 10× soak). Bucket values are
    * bit-identical to [[lshBucket]] over `hyperplanes(dim, bits,
    * 42L + t)`.
    */
  def lshBucketsAll(vec: Column, dim: Int, bits: Int, tables: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.plans.VecLshBuckets(
        org.apache.spark.sql.GraftSqlBridge.expression(vec),
        Array.tabulate(tables)(t => hyperplanes(dim, bits, seed = 42L + t))))

  /** LSH-bucketed ANN: both sides hashed into sign-pattern buckets, the
    * join only compares vectors in the same bucket. Trades recall for a
    * ~2^bits reduction in compared pairs; recall rises with several
    * plane sets (multi-table LSH).
    *
    * All `tables` bucket ids are computed in ONE pass over each side
    * and exploded to (tbl, bucket) rows — a per-table union would
    * re-scan the corpus `tables` times (12× the I/O at the default
    * recall setting, fatal on a 100 TB corpus); candidates are then a
    * single (tbl, bucket) equi-join.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              bits: Int = 8, dim: Int = 64, tables: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    VecExpressions.register(corpus.sparkSession)
    // candidate generation carries IDS ONLY: dragging both vectors
    // through the multi-table distinct shuffles tables× copies of the
    // embeddings (the cosinePairsLsh comment's measured 9× tax — GBs
    // where ids are MBs); vectors re-attach via equi-joins after the
    // dedup, and norms are computed once per row, so each surviving
    // pair costs one vec_dot + one divide
    def bucketIds(d: DataFrame, id: String): DataFrame =
      d.select(col(idCol).as(id),
        posexplode(lshBucketsAll(col(vecCol), dim, bits, tables))
          .as(Seq("tbl", "bucket")))
      .select(id, "tbl", "bucket")
    val cands = bucketIds(corpus, "neighbor_id")
      .join(broadcast(bucketIds(queries, "query_id")), Seq("tbl", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
      .distinct()
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = cands.join(broadcast(q), "query_id").join(c, "neighbor_id")
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    rankTopK(scored, k)
  }

  /** IVF (inverted-file) ANN: corpus vectors are assigned to their
    * nearest of `nlist` centroids; a query only scans the `nprobe`
    * centroid cells nearest to it. Centroids here are a deterministic
    * hash-ranked sample of the corpus — cheap, fully distributed, and
    * good enough for cell routing (real IVF quality comes from nprobe,
    * not centroid polish).
    *
    * Scale shape: cell assignment is per-row codegen against a single
    * plan-reference centroid matrix ([[graft.plans.VecTopCells]]) — one
    * compact double[][] shipped per task, NOT O(nlist×dim) literal
    * expression nodes, so the plan stays constant-size as nlist grows to
    * production values (thousands). No assignment shuffle either: a
    * broadcast-join argmax would materialize |corpus|×nlist rows through
    * an aggregation; the codegen'd argmax touches each row once. The
    * search joins queries to cells, so cost is |corpus| × nprobe / nlist
    * per query instead of |corpus|.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding",
              trainedCentroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val spark = corpus.sparkSession
    VecExpressions.register(spark)
    // cells: caller-trained centroids (e.g. Clustering.kmeansCentroids —
    // the production IVF build) or the deterministic hash-ranked corpus
    // sample (order-free, reproducible, distributed)
    val raw: Array[Array[Double]] = trainedCentroids.getOrElse {
      corpus
        .select(col(vecCol).as("cv"), xxhash64(col(idCol)).as("h"))
        .orderBy("h").limit(nlist)
        .select("cv")
        .collect().map(toDoubleVec)
    }
    require(raw.nonEmpty, "ivfTopK needs at least one centroid")
    // L2-normalized so cosine argmax == dot argmax (query norm scales
    // all its scores equally); cell id = centroid row index
    val centroids: Array[Array[Double]] = raw.map { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    def topCells(vec: Column, m: Int): Column =
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.plans.VecTopCells(
          org.apache.spark.sql.GraftSqlBridge.expression(vec), centroids, m))
    val cellCorpus = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cell", element_at(topCells(col("cv"), 1), 1))
      .withColumn("cn", norm(col("cv")))
    val cellQueries = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("cell", explode(topCells(col("qv"), nprobe)))
      .withColumn("qn", norm(col("qv")))
    val scored = cellCorpus.join(broadcast(cellQueries), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    rankTopK(scored, k)
  }

  /** Embedding sanity screening: flag vectors whose L2 norm lies more
    * than `z` population standard deviations from the corpus mean —
    * the cheap first-line catch for corrupted rows, failed encoder
    * batches (all-zero / exploded vectors) and scale drift between
    * embedding shards.
    *
    * Scale shape: one codegen'd norm projection, a 2-number global
    * aggregate, and a broadcast of those stats back over the corpus —
    * two passes, no wide shuffle.
    */
  def embedOutliers(df: DataFrame, z: Double = 3.0,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    VecExpressions.register(df.sparkSession)
    val n = df.select(col(idCol), norm(col(vecCol)).as("nrm"))
    val st = n.agg(avg("nrm").as("mu"), stddev_pop("nrm").as("sd"))
    n.crossJoin(broadcast(st))
      .select(col(idCol),
        (abs(col("nrm") - col("mu")) > col("sd") * z).as("is_outlier"))
  }

  /** LSH-bucketed near-dup pairs: sign-bucket candidates, exact cosine
    * verify — the linear-ish scale path for `cosinePairs` (which is an
    * exact O(n²) self-join). Multiple plane sets recover recall — all
    * bucket ids come from one corpus pass (see [[lshTopK]]).
    *
    * The candidate distinct carries ONLY the id pair: on a clone-heavy
    * corpus every true pair collides in every table, so candidates
    * duplicate `tables`× — dragging both 64-dim vectors through that
    * distinct moves GBs where the id-only form moves MBs (sf1 measured:
    * 27 s → 3 s). Vectors re-attach afterwards via two equi-joins
    * against the corpus (AQE broadcasts the corpus side when it fits;
    * both joins touch |pairs| + |corpus| rows, never |candidates|).
    * Degenerate buckets (> `maxBucket` members — non-discriminative
    * signature regions) are dropped outright, the same skew guard as
    * MinHash banding: a bucket of m rows costs m² candidates.
    */
  def cosinePairsLsh(df: DataFrame, threshold: Double,
                     bits: Int = 6, dim: Int = 64, tables: Int = 4,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     maxBucket: Int = 4096): DataFrame = {
    VecExpressions.register(df.sparkSession)
    // one pass computes every table's bucket (vs `tables`× corpus scans
    // from a per-table union); self-join on (tbl, bucket)
    val side = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val bucketed = side
      .select(col("id"),
        posexplode(lshBucketsAll(col("v"), dim, bits, tables))
          .as(Seq("tbl", "bucket")))
    // r11 (guide §2.4, the minhashLshCandidatesFromIndex rework): the
    // bucket-size cap is a COUNT WINDOW over (tbl, bucket) instead of
    // the r10 aggregate + semi-join back onto an eagerly-checkpointed
    // bucket table — one (tbl, bucket) exchange that the self-join
    // below reuses (both sides are the same subtree), so the explode
    // runs once under the reused exchange and the materialization
    // barrier disappears with the three consumer passes it served.
    val wBucket = org.apache.spark.sql.expressions.Window
      .partitionBy("tbl", "bucket")
    val bounded = bucketed
      .withColumn("__m", count(lit(1)).over(wBucket))
      .filter(col("__m") <= maxBucket)
      .drop("__m")
    val pairs = bounded.select(col("tbl"), col("bucket"), col("id").as("id_a"))
      .join(bounded.select(col("tbl"), col("bucket"), col("id").as("id_b")),
        Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    pairs
      .join(side.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(side.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("cosine", cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** L2-normalize and symmetric-int8-quantize embeddings, exploded to
    * `(id, i, q)` with 1-based dimension index `i` and `q = round(x /
    * ‖v‖ × 127)` — the storage/serving compression step before ANN
    * indexing (4× smaller than float32, dot products stay ±1%).
    *
    * Scale shape: one codegen'd projection + generator, no shuffle; the
    * exploded long-form output is what makes the op exactly
    * hash-checkable across engines (array columns stringify
    * differently). The fold for ‖v‖ and the divide/round sequence use a
    * fixed expression tree, so IEEE doubles — and the rounding
    * boundaries — are bit-identical everywhere.
    */
  def quantizeInt8(emb: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    VecExpressions.register(emb.sparkSession)
    val v = col(vecCol)
    emb.select(col(idCol), norm(v).as("nrm"), posexplode(v).as(Seq("pos", "x")))
      .select(col(idCol),
        (col("pos") + 1).cast("long").as("i"),
        round(col("x").cast("double") / col("nrm") * 127, 0)
          .cast("long").as("q"))
  }

  /** Johnson-Lindenstrauss dimension reduction to `outDim`, long form
    * `(id, j, y)` with 1-based output index and y rounded to 6 dp. The
    * projection matrix is a deterministic arithmetic sign pattern (see
    * [[graft.plans.VecRandomProject]]) — no state, no shuffle, one
    * codegen map pass; the pre-reduction step before ANN indexing when
    * the native dimension is too wide to bucket.
    */
  def randomProject(emb: DataFrame, outDim: Int, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val proj = org.apache.spark.sql.GraftSqlBridge.column(
      graft.plans.VecRandomProject(
        org.apache.spark.sql.GraftSqlBridge.expression(col(vecCol)), outDim))
    emb.select(col(idCol), posexplode(proj).as(Seq("pos", "y")))
      .select(col(idCol), (col("pos") + 1).cast("long").as("j"),
        round(col("y"), 6).as("y"))
  }

  /** Product quantization (Jégou et al. 2011): split each vector into
    * `m` subspaces of `dim/m` components, k-means each subspace into a
    * `k`-entry codebook, and store per vector only the `m` nearest-code
    * ids — the compression layer under billion-scale ANN indexes
    * (dim×4 bytes → m bytes per vector; 64-dim float → 4 bytes at
    * m=4).
    *
    * Scale shape: the m codebooks total m×k×(dim/m) = k×dim doubles —
    * constant-size objects riding the plan into the codegen'd
    * [[graft.plans.VecNearestCell]] kernels, so encoding is one
    * zero-shuffle projection over the corpus regardless of size.
    * Training is m small Lloyd loops ([[Clustering.kmeansCentroids]],
    * deterministic smallest-id seed); pass `trainDf` (a deterministic
    * hash sample of the corpus) so training cost stays constant while
    * the full corpus is encoded — codebook quality converges long
    * before the corpus is exhausted, so at 100 TB training on
    * O(100k) sampled vectors is the only sane configuration.
    *
    * Returns `(idCol, codes array<int>, err double)` where `err` is the
    * squared reconstruction error of the row under its chosen codes.
    */
  /** Train the `m` per-subspace PQ codebooks CONCURRENTLY (guide §2.6):
    * each subspace's Lloyd loop is a chain of small driver-coordinated
    * jobs, so running the m independent chains from a thread pool lets
    * one chain's tasks fill the cluster while another waits on its
    * collect round-trip. Each subspace's result is bit-identical to the
    * sequential form (deterministic smallest-id seeding, independent
    * inputs); only wall-clock changes.
    */
  private def trainSubspaces(trainOn: DataFrame, m: Int, sub: Int,
                             k: Int, iters: Int, idCol: String,
                             vecCol: String): Array[Array[Array[Double]]] = {
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    Await.result(
      Future.sequence((0 until m).toVector.map { j => Future {
        // blocking{}: each chain parks on Spark collect round-trips —
        // tell the fork-join pool so chains beyond its core size get
        // compensation threads instead of quietly serializing
        // (ADVICE r10)
        blocking {
          Clustering.kmeansCentroids(
            trainOn.select(col(idCol),
              slice(col(vecCol), j * sub + 1, sub).as("sv")),
            k, iters, idCol, "sv")
        }
      }}), Duration.Inf).toArray
  }

  def productQuantize(emb: DataFrame, dim: Int, m: Int, k: Int, iters: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      trainDf: Option[DataFrame] = None): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val sub = dim / m
    val trainOn = trainDf.getOrElse(emb)
    // m independent Lloyd loops: submit them from driver threads so
    // each loop's small jobs back-fill the others' scheduling gaps
    // (guide §2.6 overlap-independent-jobs) — results are per-subspace
    // deterministic, identical to the sequential order
    val books: Array[Array[Array[Double]]] = trainSubspaces(
      trainOn, m, sub, k, iters, idCol, vecCol)
    def nearest(vec: Column, cells: Array[Array[Double]]): Column =
      org.apache.spark.sql.GraftSqlBridge.column(graft.plans.VecNearestCell(
        org.apache.spark.sql.GraftSqlBridge.expression(vec), cells))
    val parts = (0 until m).map { j =>
      val sv = transform(slice(col(vecCol), j * sub + 1, sub),
        x => x.cast("double"))
      val codebook = array(books(j).map(c => array(c.map(lit): _*)): _*)
      val code = nearest(sv, books(j))
      val chosen = element_at(codebook, code + 1)
      val err = aggregate(zip_with(sv, chosen, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x)
      (code, err)
    }
    emb.select(col(idCol),
      array(parts.map(_._1): _*).as("codes"),
      parts.map(_._2).reduce(_ + _).as("err"))
  }

  /** IVF-PQ serving stack (Jégou et al. 2011; the FAISS `IVFx,PQy`
    * shape): coarse IVF cells route each query to `nprobe` partitions
    * of the corpus, PQ codes stand in for the vectors during scoring
    * via an asymmetric-distance lookup table, and only an
    * ADC-shortlisted `shortlist` candidates per query are re-ranked
    * with exact cosine. This is how billion-vector indexes keep the
    * scan bytes per query at `nprobe/nlist × m bytes/vector` instead
    * of the full float corpus.
    *
    * Scale shape: cell routing and PQ encoding are one zero-shuffle
    * codegen'd projection over the corpus (constant-size centroid
    * matrix + `k×dim`-double codebooks ride the plan, as in
    * [[ivfTopK]] / [[productQuantize]]). Each query row precomputes
    * its m×k ADC lookup table ONCE (tiny broadcast side), so the
    * per-candidate cost in the probed cells is m array lookups + adds
    * — no per-pair dot product until the `shortlist`-sized exact
    * re-rank. Codebooks here are PQ over raw vectors (FAISS
    * `by_residual=false`); residual encoding plugs in by training
    * [[Clustering.kmeansCentroids]] on `v - centroid(v)` slices.
    *
    * Returns `(query_id, neighbor_id, rank, cosine)` with exact cosine
    * on the re-ranked top `k`, ties broken on neighbor id.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
                nlist: Int = 16, nprobe: Int = 4, m: Int = 4,
                codes: Int = 8, iters: Int = 2, shortlist: Int = 0,
                idCol: String = "vec_id", vecCol: String = "embedding",
                trainedCentroids: Option[Array[Array[Double]]] = None,
                trainDf: Option[DataFrame] = None): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val spark = corpus.sparkSession
    VecExpressions.register(spark)
    val sub = dim / m
    val sl = if (shortlist > 0) shortlist else 4 * k
    // coarse quantizer: caller-trained or deterministic hash-ranked
    // sample, L2-normalized so cosine routing == dot routing
    val rawCents: Array[Array[Double]] = trainedCentroids.getOrElse {
      corpus.select(col(vecCol).as("cv"), xxhash64(col(idCol)).as("h"))
        .orderBy("h").limit(nlist).select("cv")
        .collect().map(toDoubleVec)
    }
    require(rawCents.nonEmpty, "ivfPqTopK needs at least one centroid")
    val cents = rawCents.map { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    def topCells(vec: Column, mm: Int): Column =
      org.apache.spark.sql.GraftSqlBridge.column(graft.plans.VecTopCells(
        org.apache.spark.sql.GraftSqlBridge.expression(vec), cents, mm))
    def nearest(vec: Column, cells: Array[Array[Double]]): Column =
      org.apache.spark.sql.GraftSqlBridge.column(graft.plans.VecNearestCell(
        org.apache.spark.sql.GraftSqlBridge.expression(vec), cells))
    // codebook training runs on `trainDf` when given (same constant-
    // cost sampled-training contract as productQuantize) — only the
    // zero-shuffle encode pass below ever touches the full corpus
    val trainOn = trainDf.getOrElse(corpus)
    // concurrent per-subspace training (guide §2.6): see productQuantize
    val books: Array[Array[Array[Double]]] = trainSubspaces(
      trainOn, m, sub, codes, iters, idCol, vecCol)
    def qsub(v: Column, j: Int): Column =
      transform(slice(v, j * sub + 1, sub), x => x.cast("double"))
    // corpus: cell + m code columns + reconstructed norm (per-code
    // squared norms are a driver-side m×codes literal — cross-subspace
    // dot terms are dropped, the standard PQ norm approximation)
    val sqNorms = books.map(_.map(c => c.map(x => x * x).sum))
    val encoded = (0 until m).foldLeft(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
        .withColumn("cell", element_at(topCells(col("cv"), 1), 1))) {
      (d, j) => d.withColumn(s"c$j", nearest(qsub(col("cv"), j), books(j)))
    }.withColumn("rn", sqrt((0 until m).map(j =>
      element_at(array(sqNorms(j).map(lit): _*), col(s"c$j") + 1))
      .reduce(_ + _)))
    // queries: nprobe cells + per-subspace ADC lookup tables (computed
    // once per query row on the tiny broadcast side)
    val probed = (0 until m).foldLeft(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
        .withColumn("qn", norm(col("qv")))
        .withColumn("cell", explode(topCells(col("qv"), nprobe)))) {
      (d, j) =>
        val codebook = array(books(j).map(c => array(c.map(lit): _*)): _*)
        d.withColumn(s"lut$j", transform(codebook, c =>
          aggregate(zip_with(qsub(col("qv"), j), c, (x, y) => x * y),
            lit(0.0), (acc, v) => acc + v)))
    }
    val adc = (0 until m).map(j =>
      element_at(col(s"lut$j"), col(s"c$j") + 1)).reduce(_ + _)
    val scored = encoded.join(broadcast(probed), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_cos", adc / (col("qn") * col("rn")))
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_cos").desc, col("neighbor_id"))
    val wExact = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("r1", row_number().over(wAdc)).filter(col("r1") <= sl)
      .withColumn("cosine",
        dot(col("qv"), col("cv")) / (col("qn") * norm(col("cv"))))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** All pairs (a < b) with cosine ≥ threshold — embedding near-dup
    * detection. Brute self-join with per-row precomputed norms; swap
    * candidate generation to `cosinePairsLsh` at scale.
    *
    * `blocks > 1` restricts to pairs whose ids share `id % blocks` —
    * the blocked-monitoring form for recall auditing at scale: id hash
    * is independent of similarity, so within-block pairs are an
    * unbiased 1/B sample of all pairs, the join becomes an EQUI-join
    * (no BroadcastNestedLoop), and total work drops to n²/B. A block
    * id alone would give only B join keys (2 reducers at B=2), so the
    * left side additionally fans out over 16 hash-chunks of the right
    * side — B×16 equal-work join keys, same pair set, full cluster
    * parallelism. Pick B so n²/B stays affordable; B=1 is the exact
    * full form (d5's oracle shape).
    */
  def cosinePairs(df: DataFrame, threshold: Double,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding",
                  blocks: Int = 1): DataFrame = {
    VecExpressions.register(df.sparkSession)
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("va"))
      .withColumn("na", norm(col("va")))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
      .withColumn("nb", norm(col("vb")))
    val joined =
      if (blocks <= 1) a.crossJoin(b)
      else {
        val chunks = 16
        val aExp = a.withColumn("blk", pmod(col("id_a"), lit(blocks)))
          .withColumn("cb", explode(array((0 until chunks).map(lit): _*)))
        val bChunk = b.withColumn("blk", pmod(col("id_b"), lit(blocks)))
          .withColumn("cb", pmod(xxhash64(col("id_b")), lit(chunks)).cast("int"))
        aExp.join(bChunk, Seq("blk", "cb")).drop("blk", "cb")
      }
    joined
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }
}
