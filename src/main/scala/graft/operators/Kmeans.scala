package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means in FIXED-POINT integer arithmetic (scale
  * extension — no reference counterpart; the reference's closest analog
  * is the iterative job chaining of
  * hadoop-mapreduce-client-jobclient/src/test/java/org/apache/hadoop/mapred/MRBench.java:173
  * style driver loops, SURVEY §2.11). The clustering backend of
  * semantic curation: SemDeDup (Abbas et al. 2023) and SSL-prototype
  * pruning (Sorscher et al. 2022) both cluster embeddings first and
  * prune within clusters; [[Similarity.trainCodebook]] holds the float
  * spherical variant used internally by IVF — THIS one is the
  * engine-portable, oracle-checkable lane.
  *
  * Why integer: float centroid sums depend on reduction order, so two
  * runs of a float k-means on different partitionings (or engines)
  * diverge. Here every vector is quantized once to longs
  * (`round(x·scale)` — the exact arithmetic the green
  * quantize_embeddings oracle already replays), distances are exact
  * integer sums (order-independent), the argmin tie-breaks on lowest
  * index, and centroid updates divide integer sums (truncation toward
  * zero — Scala `Long./` and DuckDB `//` agree, negative operands
  * included). Every step is bit-reproducible across
  * partitionings, retries, and engines — the pageRankInt discipline.
  *
  * Scale shape per iteration: one shuffle-free assignment projection
  * (codegen'd nearest_centroid_l2 against the broadcast centroid
  * array) + one map-side-combined groupBy(cluster) vector-sum whose
  * result is k·dim longs — a bounded driver artifact (kilobytes), the
  * standard Lloyd's-on-Spark contract. The corpus is scanned once per
  * iteration and never shuffled; `iters` is small and fixed. Empty
  * clusters keep their previous centroid.
  *
  * Overflow bounds: distances need dim·(2·scale·max|x|)² < 2⁶³ (dim up
  * to ~10⁶ at scale 10⁶ on unit-range inputs); per-cluster sums need
  * n·scale·max|x| < 2⁶³ (~10¹² vectors per cluster).
  */
object Kmeans {

  val DefaultScale = 1000000L

  /** Quantize a float/double vector column to longs: `round(x·scale)`,
    * half away from zero — identical in Spark and DuckDB (proven by the
    * quantize_embeddings oracle). */
  def quantize(vec: Column, scale: Long = DefaultScale): Column =
    transform(vec.cast("array<double>"), x => round(x * scale).cast("long"))

  /** Deterministic seedless init: the `k` vectors with the lowest
    * `md5(id || ":km")` (reproducible pseudo-random sample — the
    * [[Similarity.codebook]] discipline), indexed 0..k-1 in id order.
    * A bounded TakeOrdered: k·dim longs to the driver. */
  def initCentroids(df: DataFrame, idCol: String, vecCol: String, k: Int,
                    scale: Long = DefaultScale): Seq[Array[Long]] =
    df.select(col(idCol).cast("long").as("kmid"),
        quantize(col(vecCol), scale).as("q"))
      .filter(col("q").isNotNull)
      .withColumn("hk", md5(concat(col("kmid").cast("string"), lit(":km"))))
      .orderBy("hk").limit(k)
      .select("kmid", "q").collect().toSeq
      .sortBy(_.getLong(0))
      .map(_.getSeq[Long](1).toArray)

  /** One assignment pass: adds `cluster` (long, 0-based centroid index)
    * and `dist` (long, exact squared L2) as a pure projection. */
  def assign(df: DataFrame, vecCol: String, centroids: Seq[Array[Long]],
             scale: Long = DefaultScale): DataFrame =
    assignQ(df, quantize(col(vecCol), scale), centroids)

  /** Assignment against an ALREADY-QUANTIZED long-vector column. */
  private[graft] def assignQ(df: DataFrame, q: Column,
                             centroids: Seq[Array[Long]]): DataFrame = {
    require(centroids.nonEmpty,
      "no centroids — fit/init on an empty corpus cannot seed k-means")
    val cd = graft.functions.VectorExpressions.nearest_centroid_l2(
      q, centroids.map(_.toSeq))
    df.withColumn("kmcd", cd)
      .withColumn("cluster", element_at(col("kmcd"), 1))
      .withColumn("dist", element_at(col("kmcd"), 2))
      .drop("kmcd")
  }

  /** Long-vector element-wise sum: the update-step aggregator. Exact
    * integer adds are associative and commutative, so map-side partials
    * merge in any order to the identical result — each partition ships
    * ONE k·dim partial per cluster, never a per-(vector, dimension)
    * row (the posexplode alternative multiplies the corpus by dim
    * before the combine — the wrong slope for high-dim embeddings). */
  private case class LongVecSum(dim: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Seq[Long], Array[Long], Seq[Long]] {
    def zero: Array[Long] = new Array[Long](dim)
    def reduce(b: Array[Long], a: Seq[Long]): Array[Long] = {
      var i = 0; while (i < dim && i < a.length) { b(i) += a(i); i += 1 }; b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0; while (i < dim) { a(i) += b(i); i += 1 }; a
    }
    def finish(r: Array[Long]): Seq[Long] = r.toSeq
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.Encoders.kryo
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** The update-step aggregation: per-cluster element-wise vector sum +
    * count over an assigned frame — k·dim longs per partition cross
    * the shuffle (package-visible so PlanSpec pins the exact plan fit
    * runs). */
  private[graft] def updateSums(assigned: DataFrame, dim: Int): DataFrame =
    assigned.groupBy(col("cluster"))
      .agg(udaf(LongVecSum(dim)).apply(col("q")).as("s"),
        count(lit(1)).as("n"))

  /** `iters` Lloyd rounds from the deterministic init; returns the final
    * centroids. Each round: the shuffle-free assignment projection,
    * then one [[LongVecSum]]-aggregated per-cluster vector sum (k·dim
    * longs per partition cross the shuffle), then the truncating
    * integer mean on the driver (a k·dim bounded artifact). The
    * quantized corpus is persisted across rounds in a [[Pins]] scope —
    * without it every iteration re-scans the source (linear-in-iters
    * I/O, the pageRankInt lesson). */
  def fit(df: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int,
          scale: Long = DefaultScale): Seq[Array[Long]] = {
    require(k >= 1 && iters >= 0, "need k >= 1 and iters >= 0")
    var cents = initCentroids(df, idCol, vecCol, k, scale)
    val dim = cents.headOption.map(_.length).getOrElse(0)
    // NULL vectors are skipped deterministically: a null q would reach
    // LongVecSum as a null Seq (executor NPE, not a clear error).
    // assign() on the fitted centroids still emits such rows — with
    // null cluster/dist, the null-safe expression contract.
    val q = df.select(quantize(col(vecCol), scale).as("q"))
      .filter(col("q").isNotNull)
    Pins() { pins =>
      val qp = if (iters > 1) pins.persist(q) else q
      for (_ <- 1 to iters) {
        val sums = updateSums(assignQ(qp, col("q"), cents), dim).collect()
        val next = cents.map(_.clone).toArray
        sums.foreach { r =>
          val c = r.getLong(0).toInt
          val s = r.getSeq[Long](1)
          val n = r.getLong(2)
          if (c < k) {
            var d = 0
            while (d < dim && d < s.length) {
              next(c)(d) = s(d) / n // truncates toward zero, like DuckDB //
              d += 1
            }
          }
        }
        cents = next.toSeq
      }
      cents
    }
  }

  /** fit + final assignment: (id, cluster, dist) for every row — the
    * operator a curation pipeline calls. */
  def fitAssign(df: DataFrame, idCol: String, vecCol: String, k: Int,
                iters: Int, scale: Long = DefaultScale): DataFrame = {
    val cents = fit(df, idCol, vecCol, k, iters, scale)
    assign(df, vecCol, cents, scale).select(col(idCol), col("cluster"), col("dist"))
  }

  /** SSL-prototype pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws"): within each k-means cluster keep the `m` HARDEST
    * examples — the farthest from their centroid. Prototypical
    * examples near a centroid are the redundant ones in large corpora;
    * keeping the hard margin is the paper's data-pruning metric.
    * Emits (id, cluster, hard_rank 1..m).
    *
    * Scale: per-cluster selection through the bounded
    * [[graft.functions.Aggregators.TopKByScore]] aggregator (map-side
    * partials of ≤ m rows per (partition, cluster) — never a window
    * over a cluster's full population). dist < 2⁵³ at the default
    * quantization (64-dim unit vectors), so the double score is exact
    * and the (dist desc, id asc) order is engine-replayable.
    */
  def pruneHard(df: DataFrame, idCol: String, vecCol: String, k: Int,
                iters: Int, m: Int,
                scale: Long = DefaultScale): DataFrame = {
    require(m >= 1, "need m >= 1 kept rows per cluster")
    fitAssign(df, idCol, vecCol, k, iters, scale)
      .groupBy(col("cluster"))
      .agg(graft.functions.Aggregators.topKByScore(
        col("dist").cast("double"), col(idCol).cast("long"), m).as("ids"))
      .select(col("cluster"), posexplode(col("ids")).as(Seq("pos", idCol)))
      .select(col(idCol), col("cluster"),
        (col("pos") + 1).cast("long").as("hard_rank"))
  }

  /** SemDeDup (Abbas et al. 2023), the cluster-then-prune shape: k-means
    * the embeddings, then WITHIN each cluster mark every vector that has
    * a lower-id cluster-mate with cosine ≥ `threshold` as a duplicate
    * (keep-first — deterministic, engine-replayable). Returns
    * (id, cluster, keep 0/1).
    *
    * Scale: the pair join is an equi-join ON CLUSTER — candidate pairs
    * are Σ|cluster|², the whole point of clustering first (vs the
    * all-pairs join the LSH lane in [[Similarity.cosinePairsLsh]] also
    * avoids). Size k ~ n/targetClusterSize so clusters stay bounded; for
    * skew-prone corpora cap candidates per cluster the way
    * [[Buckets.cap]] does.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String, k: Int,
               iters: Int, threshold: Double,
               scale: Long = DefaultScale): DataFrame = {
    val cents = fit(df, idCol, vecCol, k, iters, scale)
    // persisted: the assignment feeds BOTH pair-join sides and the
    // final keep join — unpinned lineage would scan the source and
    // re-run the centroid projection three times per action (released
    // by the enclosing Pins scope, or by the session's clearCache
    // outside one, as with the dedup queries' shared intermediates)
    val a = Pins.persist(assign(df, vecCol, cents, scale)
      .select(col(idCol).cast("long").as("kmid"), col(vecCol).as("kv"),
        col("cluster")))
    val dup = a.select(col("kmid").as("ka"), col("kv").as("xa"), col("cluster"))
      .join(a.select(col("kmid").as("kb"), col("kv").as("xb"), col("cluster")),
        Seq("cluster"))
      .filter(col("kb") < col("ka") &&
        Similarity.cosine(col("xa"), col("xb")) >= threshold)
      .select(col("ka")).distinct()
    a.join(dup, a("kmid") === dup("ka"), "left")
      .select(col("kmid").as(idCol), col("cluster"),
        col("ka").isNull.cast("long").as("keep"))
  }
}
