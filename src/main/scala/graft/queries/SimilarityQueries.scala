package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Pins, Similarity}

/** ANN over the `embeddings` table. Query set = every 50th vector; the
  * oracle replays the identical double-precision sequential dot product
  * (see Similarity scaladoc), so ranks agree exactly; only (q, n, rank)
  * triples are emitted — similarity doubles stay internal.
  */
object SimilarityQueries extends QueryModule {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_cosine_topk" -> ((s, dir) => {
      val base = emb(s, dir)
      val queries = base.filter(col("vec_id") % 50 === 0)
      Similarity.bruteForceTopK(base, queries, "vec_id", "embedding", k = 5)
    }),
    // IVF path, oracle-checked END TO END since the codebook moved to
    // the integer k-means trainer (Similarity.kmeansCodebook): seed
    // selection, the two Lloyd rounds, centroid normalization, the
    // rep=4 cell assignment, probe-cell ranking and the final cosine
    // top-k are all bit-reproducible in SQL, so DuckDB replays the
    // whole approximate index — approximate does not mean unreplayable.
    // Each emitted neighbor still carries `hit` = 1 iff the pair is
    // also in the brute-force top-k, keeping the recall-vs-ground-truth
    // invariant VISIBLE in the row output (avg(hit) >= 0.9 asserted in
    // OperatorSpec on this exact query); the brute-force pass exists
    // only for this instrumentation — a production caller runs the
    // index path alone.
    "ann_ivf_topk" -> ((s, dir) => {
      val base = emb(s, dir)
      val queries = base.filter(col("vec_id") % 50 === 0)
      val cb = Similarity.kmeansCodebook(base, "vec_id", "embedding",
        nCells = 16, iters = 2)
      val assigned = Similarity.assignCells(
        base.select(col("vec_id").cast("long").as("n_id"),
          col("embedding").as("nv")), "n_id", "nv", cb, rep = 4)
      val ivf = Similarity.probeIvf(cb, assigned, queries,
        "vec_id", "embedding", k = 5, nProbe = 4)
      val bf = Similarity.bruteForceTopK(base, queries, "vec_id", "embedding", k = 5)
        .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
      ivf.join(bf, Seq("q_id", "n_id"), "left")
        .withColumn("hit", coalesce(col("hit"), lit(0L)))
    }),
    // Hard-negative mining (contrastive-training data): per query
    // vector, the 5 most-similar WRONG-label vectors among its IVF
    // candidates — the near-miss negatives a contrastive/reranker
    // trainer pairs with each anchor. The SCALE shape: candidates come
    // from the same kmeansCodebook index ann_ivf_topk probes (labels
    // ride the assignment rows and the probe list, so the guard is a
    // row-local filter — no label join, no corpus-sized broadcast, no
    // all-pairs scan), and the whole approximate pipeline replays in
    // SQL like the IVF lane does. Equals the brute-force tail exactly
    // at full probing (OperatorSpec law).
    "hard_negatives" -> ((s, dir) => {
      val base = emb(s, dir)
      val cb = Similarity.kmeansCodebook(base, "vec_id", "embedding",
        nCells = 16, iters = 2)
      val assigned = Similarity.assignCells(
        base.select(col("vec_id").cast("long").as("n_id"),
          col("embedding").as("nv"), col("label").as("n_lab")),
        "n_id", "nv", cb, rep = 4)
      val queries = base.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id"), col("embedding"), col("label").as("q_lab"))
      Similarity.hardNegativesFromCandidates(
        Similarity.ivfCandidates(cb, assigned, queries,
          "vec_id", "embedding", nProbe = 4), k = 5)
    }),

    // k-NN label vote (weak supervision / embedding-quality eval):
    // every 5th vector is "held out" and takes the majority label of
    // its 5 cosine-nearest IVF candidates; `correct` rides each row, so
    // the k-NN agreement rate — the standard embedding-quality probe —
    // is one avg away. The query side is a CORPUS FRACTION, so nothing
    // may broadcast it: candidates come from the IVF index via a plain
    // cell equi-join (broadcastProbes = false), and the vote replays in
    // SQL (integer counts, count-desc/label-asc tie rule) on top of the
    // replayed index.
    "knn_classify" -> ((s, dir) => {
      val base = emb(s, dir)
      val cb = Similarity.kmeansCodebook(base, "vec_id", "embedding",
        nCells = 16, iters = 2)
      val assigned = Similarity.assignCells(
        base.select(col("vec_id").cast("long").as("n_id"),
          col("embedding").as("nv")), "n_id", "nv", cb, rep = 4)
      val queries = base.filter(col("vec_id") % 5 === 0)
      val topk = Similarity.topKFromCandidates(
        Similarity.ivfCandidates(cb, assigned,
          queries.select("vec_id", "embedding"), "vec_id", "embedding",
          nProbe = 4, broadcastProbes = false), k = 5)
      Similarity.knnVote(topk,
        base.select(col("vec_id").cast("long").as("n_id"),
          col("label").cast("long").as("n_lab")),
        queries.select(col("vec_id").cast("long").as("q_id"),
          col("label").cast("long").as("label")))
    }),

    // Bitext mining (multilingual parallel-data curation): the
    // even-vec_id half plays "source language", the odd half "target";
    // each source aligns to its best target by the Artetxe-Schwenk
    // margin (cosine normalized by both neighborhoods' top-4 averages,
    // accept at >= 1.05). BOTH sides are web-scale in the real
    // workload, so candidates come from bitextMineLsh's deterministic
    // sign-hyperplane blocking — assignment is a pure O(n·bits·dim)
    // projection (no codebook to train, collect, or scan: a
    // flat-codebook index costs n·cells = Θ(n²/32) to assign when cells
    // grow ∝ n) and the (t, cell) equi-join emits linear candidate
    // volume. bits/tables are PINNED (3/4) rather than count-derived
    // so the static oracle SQL replays the identical plane grid at
    // every sf; a production caller omits `bits` and gets the
    // miningBits(n) = ceil(log2(n/32)) auto-sizing. The margin
    // arithmetic is a fixed IEEE expression tree over rank-ordered
    // sims and the blocking is md5-parity planes + fixed-order sums,
    // so DuckDB replays the mined pairs bit-for-bit.
    "bitext_mine" -> ((s, dir) => {
      val base = emb(s, dir)
      val src = base.filter(col("vec_id") % 2 === 0)
      val tgt = base.filter(col("vec_id") % 2 === 1)
      Similarity.bitextMineLsh(src, tgt, "vec_id", "embedding",
        k = 4, threshold = 1.05, bits = 3, tables = 4)
    }),

    // Embedding-cosine near-dup (scale extension): the fixture has no
    // planted vector dups, so the demo is top-20 most-similar pairs
    // over a deterministic subset; thresholded pairs via
    // Similarity.cosinePairs share the same code path.
    "dedup_embedding" -> ((s, dir) => {
      Similarity.topCosinePairs(
        emb(s, dir).filter(col("vec_id") % 10 === 0), "vec_id", "embedding", 20)
    }),
    // The SCALE path, oracle-checked end-to-end: multi-table LSH cell
    // blocking over the FULL table (6 salted seed codebooks, top-2 cells
    // each — deterministic, so DuckDB replays the identical blocking).
    // Every join is an equi-join on (table, cell); no all-pairs join
    // anywhere in the plan (asserted in PlanSpec). Recall vs the exact
    // all-pairs ground truth is spec'd >= 0.9 (OperatorSpec).
    // persisted: semantic_dedup persists the identical pair plan, so a
    // session running both computes the LSH join once (cache-manager
    // plan matching, the jaccard/minhash shingle-table pattern)
    "dedup_embedding_blocked" -> ((s, dir) =>
      Pins.persist(Similarity.cosinePairsLsh(emb(s, dir),
        "vec_id", "embedding", threshold = 0.3, nCells = 32, rep = 2, tables = 6))),

    // k-NN SELF-join, oracle-checked end-to-end: every vector's top-5
    // cosine neighbors among its multi-table-LSH candidates (same
    // deterministic blocking as dedup_embedding_blocked, so DuckDB
    // replays it exactly; neighbor lists are exact within the candidate
    // set, and recall vs brute force is spec'd in CleanSpec). The
    // per-doc-neighbor-list primitive of semantic clustering. Cell
    // count auto-scales as max(32, n/64) from an exact count, so
    // per-vector candidate work stays constant as the table grows —
    // the oracle replays the same formula from COUNT(*).
    "knn_join" -> ((s, dir) =>
      Similarity.knnJoinLsh(emb(s, dir), "vec_id", "embedding",
        k = 5, rep = 2, tables = 6)),

    // SemDeDup-style semantic dedup, end-to-end and oracle-checked:
    // blocked near-dup pairs over the FULL embedding table (the
    // dedup_embedding_blocked recipe) -> connected components (the
    // dedup_clusters engine) -> keep the min-id representative of every
    // semantic cluster (singletons keep themselves). The composition a
    // training pipeline actually ships for embedding-space dedup; every
    // stage is an equi-join or a bounded aggregation — no all-pairs
    // anywhere (inherited plan shape, asserted for the parts in
    // PlanSpec).
    "semantic_dedup" -> ((s, dir) => {
      val base = emb(s, dir)
      // persisted: connectedComponents unions the pair table with its
      // own flip, so unpersisted the full LSH join would execute TWICE
      // inside the first edge checkpoint (exchange reuse dedupes the
      // shuffles, not the probe) — and the plan is byte-identical to
      // dedup_embedding_blocked's, so one session running both pays
      // for the LSH join once (cache-manager plan matching)
      val pairs = Pins.persist(Similarity.cosinePairsLsh(base,
        "vec_id", "embedding", threshold = 0.3, nCells = 32, rep = 2, tables = 6))
      val cc = graft.operators.Dedup.connectedComponents(pairs, "vec_a", "vec_b")
        .withColumnRenamed("vec_a", "vec_id")
      base.select(col("vec_id")).join(cc, Seq("vec_id"), "left")
        .filter(coalesce(col("cluster_id"), col("vec_id")) === col("vec_id"))
        .select(col("vec_id"))
    }),

    // topic bucketing: every vector assigned to its nearest of 16
    // deterministic hash-ranked seed centroids (the codebook recipe the
    // IVF/LSH family shares; a trained-k-means codebook uses the same
    // assignment path but float-sum centroids aren't bit-replayable in
    // SQL, so the oracle-checked query pins the seed variant). The
    // assignment is a row-local broadcast projection — no join, no
    // window, no shuffle (same plan family as IVF cell assignment).
    "topic_assign" -> ((s, dir) => {
      val base = emb(s, dir)
      val cb = Similarity.codebook(base, "vec_id", "embedding", nCells = 16)
      Similarity.assignCells(base, "vec_id", "embedding", cb)
        .select(col("vec_id"), col("cell").as("topic_id"))
    }),

    // storage quantization: per-vector symmetric int8 (scale + codes) —
    // row-local, shuffle-free (see Similarity.quantizeInt8). The codes
    // array rides the compare harness as a joined string (the driver's
    // hasher can't digest array cells).
    "quantize_embeddings" -> ((s, dir) =>
      Similarity.quantizeInt8(emb(s, dir), "vec_id", "embedding")
        .select(col("vec_id"), col("scale"),
          concat_ws(",", col("qvec")).as("qcodes"))),

    // Johnson-Lindenstrauss dimension reduction, exact-integer lane:
    // int8 codes x a ±1 md5-parity sign matrix (see
    // Similarity.jlProject) — row-local, shuffle-free (plan-pinned),
    // and every output coordinate an exact integer the oracle resums.
    "jl_project" -> ((s, dir) =>
      Similarity.jlProject(emb(s, dir), "vec_id", "embedding", outDim = 8)),

    // Distributed k-means in fixed-point integer arithmetic (see
    // operators/Kmeans): deterministic seedless init, 2 Lloyd rounds,
    // final (cluster, squared-L2) assignment — every step
    // order-independent, so the DuckDB oracle replays the full
    // iteration history and hash-matches exactly. Assignment is a
    // shuffle-free codegen'd projection; each update shuffles only
    // k·dim partial sums.
    "kmeans_clusters" -> ((s, dir) =>
      graft.operators.Kmeans.fitAssign(emb(s, dir), "vec_id", "embedding",
        k = 8, iters = 2)),

    // SemDeDup (cluster-then-prune): within each k-means cluster, mark
    // vectors with a lower-id cluster-mate at cosine >= 0.3 as
    // duplicates. The pair join is an equi-join ON CLUSTER — the
    // candidate-bounding that makes embedding dedup feasible at scale;
    // complements the LSH lane (dedup_embedding_blocked) with the
    // partition-based blocking the SemDeDup paper uses.
    "kmeans_semdedup" -> ((s, dir) =>
      graft.operators.Kmeans.semDedup(emb(s, dir), "vec_id", "embedding",
        k = 8, iters = 2, threshold = 0.3)),

    // SSL-prototype pruning: the 20 hardest (farthest-from-centroid)
    // vectors per k-means cluster via the bounded top-k aggregator —
    // no window over a cluster's population. The oracle replays the
    // same (dist desc, id asc) order with row_number.
    "kmeans_prune_hard" -> ((s, dir) =>
      graft.operators.Kmeans.pruneHard(emb(s, dir), "vec_id", "embedding",
        k = 8, iters = 2, m = 20)),

    // Embedding-health monitoring (Similarity.dimStats): per-dimension
    // exact-integer distribution stats — row-local explode, one
    // map-side-combined aggregation shuffling 64 partial rows.
    "embedding_stats" -> ((s, dir) =>
      Similarity.dimStats(emb(s, dir), "embedding")),

    // Top principal component (operators/Pca): exact-integer moment
    // sums in one distributed pass, 30-step power iteration on the
    // 64x64 covariance driver-side (bounded artifact, k-means-codebook
    // style). The oracle replays the full iteration bit-for-bit — see
    // Pca scaladoc for the determinism argument.
    "embedding_pca" -> ((s, dir) =>
      graft.operators.Pca.topComponent(emb(s, dir), "embedding", dim = 64)),

    // Quantization-error audit: the int8 codes' reconstruction error
    // per vector, with the round-to-nearest bound |x - s·q| <= s/2
    // carried as an in-row law flag (bound_e6 gets +1 for the one-ulp
    // double noise of s·q). The check run before shipping int8 codes
    // into an ANN index: a violated bound means a broken scale. Pure
    // row-local arithmetic, identical op order both engines.
    "quantize_error_eval" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"),
          transform(col("embedding"), c => c.cast("double")).as("v"))
        .withColumn("scale",
          array_max(transform(col("v"), a => abs(a))) / 127.0)
        .withColumn("q",
          when(col("scale") === 0.0,
            transform(col("v"), _ => lit(0.0)))
            .otherwise(transform(col("v"), a => round(a / col("scale")))))
        .withColumn("err",
          zip_with(col("v"), col("q"), (a, qq) => abs(a - col("scale") * qq)))
      e.select(col("vec_id"), col("scale"),
          round(array_max(col("err")) * 1000000).cast("long").as("max_err_e6"),
          (round(col("scale") * 500000).cast("long") + 1L).as("bound_e6"))
        .withColumn("law_ok",
          (col("max_err_e6") <= col("bound_e6")).cast("long"))
    }),

    // ...and the APPLY step (Pca.removeTop): fit the component (64
    // doubles — a bounded artifact, collected once like a codebook),
    // then stream every vector through the row-local x - (v.x)v
    // projection. Fit/apply split mirrors the IVF index/probe lanes.
    "embedding_abtt" -> ((s, dir) => {
      val e = emb(s, dir)
      val comp = graft.operators.Pca.topComponent(e, "embedding", dim = 64)
        .orderBy("dim").collect().map(_.getDouble(2)).toSeq
      graft.operators.Pca.removeTop(e, "vec_id", "embedding", comp)
    })
  )

  // The deterministic multi-table LSH blocking + thresholded cosine
  // pairs over the full embedding table, as a reusable CTE chain ending
  // in `p(vec_a, vec_b)` — shared by dedup_embedding_blocked (emits the
  // pairs) and semantic_dedup (clusters them). No leading WITH so the
  // consumer can choose WITH vs WITH RECURSIVE.
  private val blockedPairsCte: String =
    """e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |), seeds AS (
      |  SELECT t, vec_id AS cell, v,
      |         row_number() OVER (PARTITION BY t
      |           ORDER BY md5(CAST(vec_id AS VARCHAR) || ':' || CAST(t AS VARCHAR))) AS rk
      |  FROM e, (SELECT unnest(range(1, 7)) AS t)
      |), cb AS (
      |  SELECT t, cell,
      |         list_transform(v, x -> x / sqrt(list_inner_product(v, v))) AS cv
      |  FROM seeds WHERE rk <= 32
      |), scored AS (
      |  SELECT e.vec_id, cb.t, cb.cell, list_inner_product(e.v, cb.cv) AS s
      |  FROM e, cb
      |), assigned AS (
      |  SELECT vec_id, t, cell FROM (
      |    SELECT vec_id, t, cell,
      |           row_number() OVER (PARTITION BY vec_id, t ORDER BY s DESC, cell ASC) AS rnk
      |    FROM scored)
      |  WHERE rnk <= 2
      |), cand AS (
      |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM assigned a JOIN assigned b
      |    ON a.t = b.t AND a.cell = b.cell AND a.vec_id < b.vec_id
      |), p AS (
      |  SELECT vec_a, vec_b
      |  FROM cand
      |  JOIN e ea ON ea.vec_id = vec_a
      |  JOIN e eb ON eb.vec_id = vec_b
      |  WHERE list_inner_product(ea.v, eb.v) /
      |        (sqrt(list_inner_product(ea.v, ea.v)) * sqrt(list_inner_product(eb.v, eb.v))) >= 0.3
      |)""".stripMargin

  // Integer k-means replay (Kmeans.fitAssign, k=8, iters=2): quantize,
  // seedless md5-ranked init, two full Lloyd rounds (assign d/a, update
  // u/c — `//` truncates toward zero exactly like Scala Long division,
  // empty clusters COALESCE to the previous centroid), then the final
  // assignment `af(vec_id, cluster, dist)`. No leading WITH so
  // consumers can extend the chain.
  private val kmeansCte: String =
    """kq AS (
      |  SELECT vec_id, list_transform(embedding::DOUBLE[], x -> CAST(round(x*1000000) AS BIGINT)) AS q
      |  FROM embeddings
      |), seed AS (
      |  SELECT vec_id, q FROM kq ORDER BY md5(CAST(vec_id AS VARCHAR) || ':km') LIMIT 8
      |), c0 AS (
      |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS j, q AS v FROM seed
      |), d1 AS (
      |  SELECT kq.vec_id, c.j,
      |         CAST(list_sum(list_transform(range(1, len(kq.q)+1), i -> (kq.q[i]-c.v[i])*(kq.q[i]-c.v[i]))) AS BIGINT) AS dist
      |  FROM kq, c0 c
      |), a1 AS (
      |  SELECT vec_id, (array_agg(j ORDER BY dist, j))[1] AS cl FROM d1 GROUP BY vec_id
      |), u1 AS (
      |  SELECT a.cl AS j, t.i, CAST(SUM(kq.q[t.i]) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM kq JOIN a1 a USING (vec_id), UNNEST(range(1, len(kq.q)+1)) AS t(i)
      |  GROUP BY a.cl, t.i
      |), c1 AS (
      |  SELECT c0.j, COALESCE(u.v, c0.v) AS v
      |  FROM c0 LEFT JOIN (
      |    SELECT j, list(s // n ORDER BY i) AS v FROM u1 GROUP BY j
      |  ) u USING (j)
      |), d2 AS (
      |  SELECT kq.vec_id, c.j,
      |         CAST(list_sum(list_transform(range(1, len(kq.q)+1), i -> (kq.q[i]-c.v[i])*(kq.q[i]-c.v[i]))) AS BIGINT) AS dist
      |  FROM kq, c1 c
      |), a2 AS (
      |  SELECT vec_id, (array_agg(j ORDER BY dist, j))[1] AS cl FROM d2 GROUP BY vec_id
      |), u2 AS (
      |  SELECT a.cl AS j, t.i, CAST(SUM(kq.q[t.i]) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM kq JOIN a2 a USING (vec_id), UNNEST(range(1, len(kq.q)+1)) AS t(i)
      |  GROUP BY a.cl, t.i
      |), c2 AS (
      |  SELECT c1.j, COALESCE(u.v, c1.v) AS v
      |  FROM c1 LEFT JOIN (
      |    SELECT j, list(s // n ORDER BY i) AS v FROM u2 GROUP BY j
      |  ) u USING (j)
      |), d3 AS (
      |  SELECT kq.vec_id, c.j,
      |         CAST(list_sum(list_transform(range(1, len(kq.q)+1), i -> (kq.q[i]-c.v[i])*(kq.q[i]-c.v[i]))) AS BIGINT) AS dist
      |  FROM kq, c2 c
      |), af AS (
      |  SELECT vec_id,
      |         (array_agg(j ORDER BY dist, j))[1] AS cluster,
      |         (array_agg(dist ORDER BY dist, j))[1] AS dist
      |  FROM d3 GROUP BY vec_id
      |)""".stripMargin

  // One integer-Lloyd round over the normalized-quantized table
  // `${p}kq` (the kmeansCte pattern): distances from `cPrev`, argmin
  // assignment, exact integer sums, truncating mean, empty cells keep
  // the previous centroid. All CTE names carry the index prefix `p`,
  // so several independent indexes compose in one statement (the
  // bitext_mine two-index replay).
  private def ivfLloydRound(p: String, n: Int, cPrev: String): String =
    s"""${p}d$n AS (
       |  SELECT kq.vec_id, c.j,
       |         CAST(list_sum(list_transform(range(1, len(kq.q)+1), i -> (kq.q[i]-c.v[i])*(kq.q[i]-c.v[i]))) AS BIGINT) AS dist
       |  FROM ${p}kq kq, $cPrev c
       |), ${p}a$n AS (
       |  SELECT vec_id, (array_agg(j ORDER BY dist, j))[1] AS cl FROM ${p}d$n GROUP BY vec_id
       |), ${p}u$n AS (
       |  SELECT a.cl AS j, t.i, CAST(SUM(kq.q[t.i]) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM ${p}kq kq JOIN ${p}a$n a USING (vec_id), UNNEST(range(1, len(kq.q)+1)) AS t(i)
       |  GROUP BY a.cl, t.i
       |), ${p}c$n AS (
       |  SELECT cp.j, COALESCE(u.v, cp.v) AS v
       |  FROM $cPrev cp LEFT JOIN (
       |    SELECT j, list(s // n ORDER BY i) AS v FROM ${p}u$n GROUP BY j
       |  ) u USING (j)
       |)""".stripMargin

  // Replay of Similarity.kmeansCodebook(nCells, iters = 2) +
  // assignCells(rep) over the (vec_id, v) table `src`: L2-normalize,
  // quantize at 1e6, md5-seeded init in id order, two integer Lloyd
  // rounds, exact-integer-norm unit centroids, dot-ranked rep-cell
  // assignment (score desc, cell asc — the insertion-sort tie rule).
  // Ends at `${p}cbv(j, cv)` and `${p}asg(n_id, cell)`.
  private def ivfIndexCte(p: String, src: String, nCells: Int, rep: Int): String =
    s"""${p}un AS (
       |  SELECT vec_id, list_transform(v, x -> x / sqrt(list_inner_product(v, v))) AS nv FROM $src
       |), ${p}kq AS (
       |  SELECT vec_id, list_transform(nv, x -> CAST(round(x*1000000) AS BIGINT)) AS q FROM ${p}un
       |), ${p}seed AS (
       |  SELECT vec_id, q FROM ${p}kq ORDER BY md5(CAST(vec_id AS VARCHAR) || ':km') LIMIT $nCells
       |), ${p}c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS j, q AS v FROM ${p}seed
       |), ${ivfLloydRound(p, 1, s"${p}c0")}, ${ivfLloydRound(p, 2, s"${p}c1")}, ${p}cbv AS (
       |  SELECT j, list_transform(v, x -> CAST(x AS DOUBLE) /
       |           sqrt(list_sum(list_transform(v, y -> CAST(y AS DOUBLE)*CAST(y AS DOUBLE))))) AS cv
       |  FROM ${p}c2
       |), ${p}bs AS (
       |  SELECT b.vec_id AS n_id, cb.j AS cell, list_inner_product(b.v, cb.cv) AS s FROM $src b, ${p}cbv cb
       |), ${p}asg AS (
       |  SELECT n_id, cell FROM (
       |    SELECT n_id, cell, row_number() OVER (PARTITION BY n_id ORDER BY s DESC, cell ASC) AS rk FROM ${p}bs)
       |  WHERE rk <= $rep
       |)""".stripMargin

  // Replay of Similarity.ivfCandidates: probe the `${p}` index with the
  // (q_id, qv) table `qs` — dot-ranked probe cells, candidate matches
  // from the cell equi-join, self-matches removed, DISTINCT pairs (the
  // bounded aggregator's per-id dedup). Ends at `${p}cand(q_id, n_id)`.
  private def ivfProbeCte(p: String, qs: String, nProbe: Int): String =
    s"""${p}ps AS (
       |  SELECT q.q_id, cb.j AS cell, list_inner_product(q.qv, cb.cv) AS s FROM $qs q, ${p}cbv cb
       |), ${p}pr AS (
       |  SELECT q_id, cell FROM (
       |    SELECT q_id, cell, row_number() OVER (PARTITION BY q_id ORDER BY s DESC, cell ASC) AS rk FROM ${p}ps)
       |  WHERE rk <= $nProbe
       |), ${p}cand AS (
       |  SELECT DISTINCT pp.q_id, a.n_id FROM ${p}pr pp JOIN ${p}asg a USING (cell) WHERE a.n_id <> pp.q_id
       |)""".stripMargin

  // Replay of Similarity.signLshCells(bits, tables) over the
  // (vec_id, v) table `src`: plane p = t*bits + j, sign(p, i) = +1 iff
  // the first hex digit of md5('p:i') is even (the jlSign law shared
  // with jl_project), each plane projection a fixed ascending-order
  // list_reduce — bit-equal to the codegen'd DotProduct loop, since
  // multiplying by ±1.0 is exact and both engines sum in index order —
  // and the bucket id an integer bit sum (order-free). Ends at
  // `${p}cell(vec_id, t, cell)`.
  private def signLshCte(p: String, src: String, bits: Int, tables: Int): String =
    s"""${p}sb AS (
       |  SELECT e.vec_id, g.t, g.j,
       |         list_reduce(list_prepend(0.0, list_transform(range(1, len(e.v)+1),
       |           i -> e.v[i] * (CASE WHEN substr(md5(CAST(g.t*$bits+g.j AS VARCHAR) || ':' || CAST(i-1 AS VARCHAR)),1,1) IN ('0','2','4','6','8','a','c','e') THEN 1.0 ELSE -1.0 END))),
       |           (x,y) -> x+y) AS s
       |  FROM $src e, (SELECT g1.t, g2.j FROM range(0, $tables) g1(t), range(0, $bits) g2(j)) g
       |), ${p}cell AS (
       |  SELECT vec_id, t, CAST(SUM(CASE WHEN s >= 0 THEN 1<<j ELSE 0 END) AS BIGINT) AS cell
       |  FROM ${p}sb GROUP BY vec_id, t
       |)""".stripMargin

  // The exact-cosine rerank over a candidate table — the
  // topKFromCandidates tail: `${p}sc(q_id, n_id, sim)` from
  // `${p}cand`, vectors rejoined from `src`.
  private def candScoreCte(p: String, src: String): String =
    s"""${p}sc AS (
       |  SELECT c.q_id, c.n_id,
       |         list_inner_product(eq.v, en.v) /
       |           (sqrt(list_inner_product(eq.v, eq.v)) * sqrt(list_inner_product(en.v, en.v))) AS sim
       |  FROM ${p}cand c JOIN $src eq ON eq.vec_id = c.q_id JOIN $src en ON en.vec_id = c.n_id
       |)""".stripMargin

  // Full replay of the ann_ivf_topk pipeline (kmeansCodebook nCells=16
  // iters=2, rep=4 assignment, nProbe=4, cosine top-5), assembled from
  // the factored index/probe/rerank builders, plus the brute-force
  // recall reference `bf` — ends at `ivf(q_id, n_id, rnk)` and
  // `bf(q_id, n_id)`.
  private[queries] val ivfCte: String =
    s"""e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |), ${ivfIndexCte("", "e", nCells = 16, rep = 4)}, qs AS (
       |  SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 50 = 0
       |), ${ivfProbeCte("", "qs", nProbe = 4)}, ${candScoreCte("", "e")}, ivf AS (
       |  SELECT q_id, n_id,
       |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS INTEGER) AS rnk
       |  FROM sc
       |), bf0 AS (
       |  SELECT q.q_id, b.vec_id AS n_id,
       |         list_inner_product(q.qv, b.v) /
       |           (sqrt(list_inner_product(q.qv, q.qv)) * sqrt(list_inner_product(b.v, b.v))) AS sim
       |  FROM e b, qs q WHERE q.q_id <> b.vec_id
       |), bf AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rk FROM bf0)
       |  WHERE rk <= 5
       |)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "ann_ivf_topk" ->
      s"""WITH $ivfCte
         |SELECT i.q_id, i.n_id, i.rnk,
         |       CASE WHEN b.n_id IS NOT NULL THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS hit
         |FROM ivf i LEFT JOIN bf b ON i.q_id = b.q_id AND i.n_id = b.n_id
         |WHERE i.rnk <= 5""".stripMargin,

    // the replayed IVF index (same builders as ann_ivf_topk) feeds the
    // candidate rerank, then the integer vote tail
    "knn_classify" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |), ${ivfIndexCte("", "e", nCells = 16, rep = 4)}, qs AS (
         |  SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 5 = 0
         |), ${ivfProbeCte("", "qs", nProbe = 4)}, ${candScoreCte("", "e")}, nn AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rnk
         |    FROM sc)
         |  WHERE rnk <= 5
         |), votes AS (
         |  SELECT nn.q_id, b.label AS n_lab, COUNT(*) AS cnt
         |  FROM nn JOIN embeddings b ON b.vec_id = nn.n_id
         |  GROUP BY nn.q_id, b.label
         |), pred AS (
         |  SELECT q_id, n_lab AS pred_label FROM (
         |    SELECT q_id, n_lab,
         |           row_number() OVER (PARTITION BY q_id ORDER BY cnt DESC, n_lab ASC) AS rk
         |    FROM votes)
         |  WHERE rk = 1
         |)
         |SELECT p.q_id, CAST(p.pred_label AS BIGINT) AS pred_label,
         |       CAST(q.label AS BIGINT) AS label,
         |       CASE WHEN p.pred_label = q.label THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS correct
         |FROM pred p JOIN embeddings q ON q.vec_id = p.q_id""".stripMargin,

    // the replayed sign-LSH blocking (shared md5-parity plane grid,
    // bits=3 tables=4 — the lane's pinned sizing) on both language
    // sides; candidates from the (t, cell) equi-join; the margin tail
    // runs over the DISTINCT candidate sims, exactly like
    // Similarity.bitextMineFromCandidates
    "bitext_mine" ->
      s"""WITH es AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 2 = 0
        |), et AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 2 = 1
        |), ${signLshCte("s", "es", bits = 3, tables = 4)}, ${signLshCte("t", "et", bits = 3, tables = 4)}, pairs AS (
        |  SELECT DISTINCT sc.vec_id AS src_id, tc.vec_id AS tgt_id
        |  FROM scell sc JOIN tcell tc ON sc.t = tc.t AND sc.cell = tc.cell
        |), sims AS (
        |  SELECT p.src_id, p.tgt_id,
        |         list_inner_product(ea.v, eb.v) /
        |           (sqrt(list_inner_product(ea.v, ea.v)) * sqrt(list_inner_product(eb.v, eb.v))) AS sim
        |  FROM pairs p JOIN es ea ON ea.vec_id = p.src_id JOIN et eb ON eb.vec_id = p.tgt_id
        |), nns AS (
        |  SELECT src_id, tgt_id, sim,
        |         row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, tgt_id ASC) AS rnk
        |  FROM sims
        |), ax AS (
        |  SELECT src_id,
        |         (MAX(CASE WHEN rnk=1 THEN sim END) + MAX(CASE WHEN rnk=2 THEN sim END)
        |          + MAX(CASE WHEN rnk=3 THEN sim END) + MAX(CASE WHEN rnk=4 THEN sim END)) / 8.0 AS ax
        |  FROM nns WHERE rnk <= 4 GROUP BY src_id
        |), nnt AS (
        |  SELECT src_id, tgt_id, sim,
        |         row_number() OVER (PARTITION BY tgt_id ORDER BY sim DESC, src_id ASC) AS rnk
        |  FROM sims
        |), ay AS (
        |  SELECT tgt_id,
        |         (MAX(CASE WHEN rnk=1 THEN sim END) + MAX(CASE WHEN rnk=2 THEN sim END)
        |          + MAX(CASE WHEN rnk=3 THEN sim END) + MAX(CASE WHEN rnk=4 THEN sim END)) / 8.0 AS ay
        |  FROM nnt WHERE rnk <= 4 GROUP BY tgt_id
        |), m AS (
        |  -- a side with < 4 candidate neighbors yields a NULL avg ->
        |  -- NULL margin; Spark's marginTail filters those rows out
        |  SELECT si.src_id, si.tgt_id, si.sim / (ax.ax + ay.ay) AS margin
        |  FROM sims si JOIN ax USING (src_id) JOIN ay USING (tgt_id)
        |  WHERE ax.ax IS NOT NULL AND ay.ay IS NOT NULL
        |), best AS (
        |  SELECT src_id, tgt_id, margin,
        |         row_number() OVER (PARTITION BY src_id ORDER BY margin DESC, tgt_id ASC) AS rnk
        |  FROM m
        |)
        |SELECT src_id, tgt_id FROM best WHERE rnk = 1 AND margin >= 1.05""".stripMargin,

    // the replayed IVF index feeds the candidates; the label guard is a
    // join-filter over candidate rows, then the exact-cosine top-5
    "hard_negatives" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |), ${ivfIndexCte("", "e", nCells = 16, rep = 4)}, qs AS (
         |  SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 50 = 0
         |), ${ivfProbeCte("", "qs", nProbe = 4)}, scored AS (
         |  SELECT c.q_id, c.n_id,
         |         list_inner_product(eq.v, en.v) /
         |           (sqrt(list_inner_product(eq.v, eq.v)) * sqrt(list_inner_product(en.v, en.v))) AS sim
         |  FROM cand c
         |  JOIN e eq ON eq.vec_id = c.q_id JOIN e en ON en.vec_id = c.n_id
         |  JOIN embeddings lq ON lq.vec_id = c.q_id
         |  JOIN embeddings lb ON lb.vec_id = c.n_id
         |  WHERE lq.label <> lb.label
         |), ranked AS (
         |  SELECT q_id, n_id,
         |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS INTEGER) AS rnk
         |  FROM scored
         |)
         |SELECT q_id, n_id, rnk FROM ranked WHERE rnk <= 5""".stripMargin,

    "ann_cosine_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % 50 = 0
        |), b AS (
        |  SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings
        |), scored AS (
        |  SELECT q_id, n_id,
        |         list_inner_product(qv, nv) /
        |           (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(nv, nv))) AS sim
        |  FROM b, q WHERE q_id <> n_id
        |), ranked AS (
        |  SELECT q_id, n_id,
        |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS INTEGER) AS rnk
        |  FROM scored
        |)
        |SELECT q_id, n_id, rnk FROM ranked WHERE rnk <= 5""".stripMargin,
    "dedup_embedding" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 10 = 0
        |), p AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |         list_inner_product(a.v, b.v) /
        |           (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) AS sim
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |)
        |SELECT vec_a, vec_b FROM p ORDER BY sim DESC, vec_a, vec_b LIMIT 20""".stripMargin,
    "dedup_embedding_blocked" ->
      s"""WITH $blockedPairsCte
        |SELECT vec_a, vec_b FROM p""".stripMargin,
    "kmeans_clusters" ->
      s"""WITH $kmeansCte
        |SELECT vec_id, cluster, dist FROM af""".stripMargin,
    "kmeans_prune_hard" ->
      s"""WITH $kmeansCte
        |SELECT vec_id, cluster, CAST(rnk AS BIGINT) AS hard_rank
        |FROM (
        |  SELECT vec_id, cluster,
        |         row_number() OVER (PARTITION BY cluster ORDER BY dist DESC, vec_id ASC) AS rnk
        |  FROM af)
        |WHERE rnk <= 20""".stripMargin,
    "kmeans_semdedup" ->
      s"""WITH $kmeansCte, ev AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |), av AS (
        |  SELECT a.vec_id, a.cluster, ev.v FROM af a JOIN ev USING (vec_id)
        |), dup AS (
        |  SELECT DISTINCT x.vec_id
        |  FROM av x JOIN av y ON x.cluster = y.cluster AND y.vec_id < x.vec_id
        |  WHERE list_inner_product(x.v, y.v) /
        |        (sqrt(list_inner_product(x.v, x.v)) * sqrt(list_inner_product(y.v, y.v))) >= 0.3
        |)
        |SELECT a.vec_id, a.cluster,
        |       CAST(d.vec_id IS NULL AS BIGINT) AS keep
        |FROM af a LEFT JOIN dup d USING (vec_id)""".stripMargin,
    // the blocked pairs feed the SAME transitive-closure + min-label
    // recursion the dedup_clusters oracle uses; keep = own min label
    "semantic_dedup" ->
      s"""WITH RECURSIVE $blockedPairsCte, edges AS (
        |  SELECT vec_a AS src, vec_b AS dst FROM p
        |  UNION ALL
        |  SELECT vec_b, vec_a FROM p
        |), reach AS (
        |  SELECT src AS id, dst AS r FROM edges
        |  UNION
        |  SELECT g.src, reach.r FROM edges g JOIN reach ON reach.id = g.dst
        |)
        |SELECT v.vec_id
        |FROM e v LEFT JOIN reach ON reach.id = v.vec_id
        |GROUP BY v.vec_id
        |HAVING CAST(COALESCE(LEAST(MIN(reach.r), v.vec_id), v.vec_id) AS BIGINT) = v.vec_id""".stripMargin,
    "knn_join" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |), seeds AS (
        |  SELECT t, vec_id AS cell, v,
        |         row_number() OVER (PARTITION BY t
        |           ORDER BY md5(CAST(vec_id AS VARCHAR) || ':' || CAST(t AS VARCHAR))) AS rk
        |  FROM e, (SELECT unnest(range(1, 7)) AS t)
        |), cb AS (
        |  SELECT t, cell,
        |         list_transform(v, x -> x / sqrt(list_inner_product(v, v))) AS cv
        |  FROM seeds WHERE rk <= (SELECT GREATEST(32, COUNT(*) // 64) FROM e)
        |), scored AS (
        |  SELECT e.vec_id, cb.t, cb.cell, list_inner_product(e.v, cb.cv) AS s
        |  FROM e, cb
        |), assigned AS (
        |  SELECT vec_id, t, cell FROM (
        |    SELECT vec_id, t, cell,
        |           row_number() OVER (PARTITION BY vec_id, t ORDER BY s DESC, cell ASC) AS rnk
        |    FROM scored)
        |  WHERE rnk <= 2
        |), cand AS (
        |  SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS n_id
        |  FROM assigned a JOIN assigned b
        |    ON a.t = b.t AND a.cell = b.cell AND a.vec_id <> b.vec_id
        |), sim AS (
        |  SELECT q_id, n_id,
        |         list_inner_product(ea.v, eb.v) /
        |           (sqrt(list_inner_product(ea.v, ea.v)) * sqrt(list_inner_product(eb.v, eb.v))) AS sim
        |  FROM cand
        |  JOIN e ea ON ea.vec_id = q_id
        |  JOIN e eb ON eb.vec_id = n_id
        |), ranked AS (
        |  SELECT q_id, n_id,
        |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS INTEGER) AS rnk
        |  FROM sim
        |)
        |SELECT q_id, n_id, rnk FROM ranked WHERE rnk <= 5""".stripMargin,
    "topic_assign" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |), seeds AS (
        |  SELECT vec_id AS cell, v,
        |         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS rk
        |  FROM e
        |), cb AS (
        |  SELECT cell, list_transform(v, x -> x / sqrt(list_inner_product(v, v))) AS cv
        |  FROM seeds WHERE rk <= 16
        |), scored AS (
        |  SELECT e.vec_id, cb.cell, list_inner_product(e.v, cb.cv) AS s
        |  FROM e, cb
        |)
        |SELECT vec_id, CAST(cell AS BIGINT) AS topic_id FROM (
        |  SELECT vec_id, cell,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rnk
        |  FROM scored)
        |WHERE rnk = 1""".stripMargin,
    "jl_project" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |), s AS (
        |  SELECT vec_id, v,
        |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |  FROM e
        |), q AS (
        |  SELECT vec_id,
        |         CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
        |              ELSE list_transform(v, x -> CAST(round(x / scale) AS INT)) END AS q
        |  FROM s
        |), js AS (SELECT unnest(range(0, 8)) AS j)
        |SELECT vec_id, CAST(j AS BIGINT) AS j,
        |       CAST(list_sum(list_transform(range(0, len(q)), i ->
        |         q[i + 1] * (CASE WHEN ('0x' || substring(md5(j || ':' || i), 1, 1))::INT % 2 = 0
        |                          THEN 1 ELSE -1 END))) AS BIGINT) AS p
        |FROM q CROSS JOIN js""".stripMargin,
    "quantize_embeddings" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |), s AS (
        |  SELECT vec_id, v,
        |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |  FROM e
        |)
        |SELECT vec_id, scale,
        |       array_to_string(CASE WHEN scale = 0
        |            THEN list_transform(v, x -> 0)
        |            ELSE list_transform(v, x -> CAST(round(x / scale) AS INT)) END, ',') AS qcodes
        |FROM s""".stripMargin,
    "embedding_stats" ->
      """WITH q AS (
        |  SELECT list_transform(embedding::DOUBLE[], x -> CAST(round(x*1000000) AS BIGINT)) AS q
        |  FROM embeddings
        |), x AS (
        |  SELECT unnest(q) AS qv, unnest(range(0, len(q))) AS dim FROM q
        |)
        |SELECT CAST(dim AS BIGINT) AS dim,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(qv) AS BIGINT) AS sum_q,
        |       CAST(MIN(qv) AS BIGINT) AS min_q,
        |       CAST(MAX(qv) AS BIGINT) AS max_q,
        |       CAST(SUM(CASE WHEN qv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |       CAST(CAST(SUM(CAST(qv AS HUGEINT)*CAST(qv AS HUGEINT)) AS DECIMAL(38,0)) AS VARCHAR) AS sum_sq
        |FROM x GROUP BY dim""".stripMargin,
    "quantize_error_eval" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |), s AS (
        |  SELECT vec_id, v,
        |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |  FROM e
        |), q AS (
        |  SELECT vec_id, v, scale,
        |         CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
        |              ELSE list_transform(v, x -> round(x / scale)) END AS q
        |  FROM s
        |), er AS (
        |  SELECT vec_id, scale,
        |         list_max(list_transform(range(0, len(v)), i ->
        |           abs(v[CAST(i AS INT)+1] - scale * q[CAST(i AS INT)+1]))) AS maxerr
        |  FROM q
        |)
        |SELECT vec_id, scale,
        |       CAST(round(maxerr * 1000000) AS BIGINT) AS max_err_e6,
        |       CAST(round(scale * 500000) AS BIGINT) + 1 AS bound_e6,
        |       CAST(CAST(round(maxerr * 1000000) AS BIGINT)
        |            <= CAST(round(scale * 500000) AS BIGINT) + 1 AS BIGINT) AS law_ok
        |FROM er""".stripMargin,
    // full bit-replay of Pca.topComponent: exact-integer moments, the
    // identical double covariance expression, and the same 30
    // sequential-dot power-iteration steps (list_inner_product IS the
    // ascending-index loop — the bitext_mine precedent)
    "embedding_pca" ->
      s"""WITH RECURSIVE $pcaCte
         |SELECT CAST(d.i AS BIGINT) AS dim,
         |       CAST(d.s AS DOUBLE)/CAST(d.n AS DOUBLE) AS mean_q,
         |       it.v[CAST(d.i AS INT)+1] AS loading,
         |       it.lambda AS lambda
         |FROM it, dims d WHERE it.t = 30""".stripMargin,
    // fitted component from the same replayed iteration; apply = the
    // identical sequential dot + per-element subtract/round sequence
    "embedding_abtt" ->
      s"""WITH RECURSIVE $pcaCte, vv AS (
         |  SELECT v FROM it WHERE t = 30
         |), ex AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
         |), pj AS (
         |  SELECT vec_id, x, list_inner_product(x, vv.v) AS proj FROM ex, vv
         |)
         |SELECT vec_id, proj,
         |       array_to_string(list_transform(range(0,64), i ->
         |         CAST(round((x[CAST(i AS INT)+1] - proj*vv.v[CAST(i AS INT)+1])*1000000) AS BIGINT)), ',') AS resid_q
         |FROM pj, vv""".stripMargin
  )

  // Pca.topComponent's full replay, ending at `it(t, v, lambda)` with
  // `dims(i, s, n)` available; prepend WITH RECURSIVE.
  private val pcaCte: String =
      """q AS (
        |  SELECT list_transform(embedding::DOUBLE[], x -> CAST(round(x*1000000) AS BIGINT)) AS q FROM embeddings
        |), dims AS (
        |  SELECT ii.i AS i, CAST(SUM(q.q[ii.i+1]) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM q, (SELECT unnest(range(0,64)) AS i) ii GROUP BY ii.i
        |), pr AS (
        |  -- exact HUGEINT co-moments (the Spark side sums decimal(38,0));
        |  -- the -> DOUBLE cast below is the one correctly-rounded step
        |  SELECT ii.i AS i, jj.j AS j, SUM(CAST(q.q[ii.i+1] AS HUGEINT) * q.q[jj.j+1]) AS p
        |  FROM q, (SELECT unnest(range(0,64)) AS i) ii, (SELECT unnest(range(0,64)) AS j) jj
        |  WHERE jj.j >= ii.i GROUP BY ii.i, jj.j
        |), cd0 AS (
        |  SELECT pr.i AS i, pr.j AS j,
        |         CAST(p AS DOUBLE)/CAST(di.n AS DOUBLE)
        |         - (CAST(di.s AS DOUBLE)/CAST(di.n AS DOUBLE))*(CAST(dj.s AS DOUBLE)/CAST(dj.n AS DOUBLE)) AS c
        |  FROM pr JOIN dims di ON di.i = pr.i JOIN dims dj ON dj.i = pr.j
        |), cdall AS (
        |  SELECT i, j, c FROM cd0
        |  UNION ALL
        |  SELECT j AS i, i AS j, c FROM cd0 WHERE i < j
        |), cm AS (
        |  SELECT i, list(c ORDER BY j) AS r FROM cdall GROUP BY i
        |), mat AS (
        |  SELECT list(r ORDER BY i) AS m FROM cm
        |), it AS (
        |  SELECT 0 AS t, list_transform(range(0,64), x -> 1.0/sqrt(64.0)) AS v, CAST(0.0 AS DOUBLE) AS lambda
        |  UNION ALL
        |  SELECT t+1, list_transform(w, x -> x/l) AS v, l AS lambda FROM (
        |    SELECT t, w, sqrt(list_inner_product(w, w)) AS l FROM (
        |      SELECT t, list_transform(range(0,64), i -> list_inner_product(m[CAST(i AS INT)+1], v)) AS w
        |      FROM it, mat WHERE t < 30))
        |)""".stripMargin
}
