package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel
import graft.plans.VecNearestCell

/** K-means clustering over an embedding column — the workhorse behind
  * cluster-balanced sampling, semantic dedup sharding, and diversity
  * filtering in large training-data pipelines.
  *
  * Scale shape (what survives 100 TB): each Lloyd iteration is
  *
  *   1. assignment — a zero-shuffle map pass: the centroid matrix rides
  *      the plan as one reference object inside the codegen'd
  *      [[graft.plans.VecNearestCell]] kernel (never a broadcast-join
  *      materializing |corpus|×k rows, never O(k×dim) literal nodes);
  *   2. update — one `groupBy(cell, dim)` mean with map-side partial
  *      aggregation: shuffle volume is k×dim rows per partition,
  *      independent of corpus size; only k×dim rounded doubles ever
  *      reach the driver.
  *
  * Determinism contract (hash-exact against the unrolled DuckDB
  * oracle): initial centroids are the k rows with the smallest ids
  * (exact float→double widening); every updated centroid component is
  * `round(avg, 6)` — quantizing away summation-order noise so the same
  * assignment argmin is reached regardless of partitioning or engine;
  * empty cells keep their previous centroid; ties break toward the
  * lower cell id.
  */
object Clustering {

  private def nearestCell(vec: Column, centroids: Array[Array[Double]]): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      VecNearestCell(org.apache.spark.sql.GraftSqlBridge.expression(vec), centroids))

  /** The Lloyd centroid loop alone: deterministic smallest-id seed,
    * `iters` mean updates, returns the k×dim centroid matrix. Reusable
    * as the trained-cell input to [[Similarity.ivfTopK]] (the standard
    * production IVF build: k-means the corpus, route by learned cells).
    */
  def kmeansCentroids(df: DataFrame, k: Int, iters: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): Array[Array[Double]] = {
    require(k > 0 && iters >= 0, s"k=$k and iters=$iters must be positive")
    // eager (Materialize): the init collect and every iteration's
    // assignment aggregate share one materialization, and each round's
    // plan stays O(pts)
    val pts = Materialize.eager(
      df.select(col(idCol).as("id"), col(vecCol).as("v")))
    // deterministic init: the k smallest-id vectors, in id order
    var centroids: Array[Array[Double]] = pts.orderBy("id").limit(k).collect()
      .map(_.getSeq[Any](1).map {
        case f: Float  => f.toDouble
        case d: Double => d
        case other     => throw new IllegalArgumentException(
          s"$vecCol must be array<float|double>, found element $other")
      }.toArray)
    require(centroids.length == k, s"need at least $k rows to seed $k clusters")
    for (_ <- 1 to iters) {
      val means = pts
        .withColumn("cell", nearestCell(col("v"), centroids))
        .select(col("cell"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy("cell", "d")
        .agg(round(avg(col("x").cast("double")), 6).as("mv"))
        .collect()
      val next = centroids.map(_.clone()) // empty cells keep previous centroid
      means.foreach { r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2) }
      centroids = next
    }
    pts.unpersist(blocking = false)
    centroids
  }

  /** `iters` Lloyd iterations from the deterministic smallest-id seed,
    * then a final assignment under the converged centroids. Returns
    * `(idCol, cluster)` with `cluster` in `0..k-1`.
    */
  def kmeans(df: DataFrame, k: Int, iters: Int,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centroids = kmeansCentroids(df, k, iters, idCol, vecCol)
    df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("cluster", nearestCell(col("v"), centroids).cast(LongType))
      .select(col("id").as(idCol), col("cluster"))
  }
}
