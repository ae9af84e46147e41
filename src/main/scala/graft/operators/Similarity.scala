package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]) — scale extension (SURVEY §7.5).
  *
  * Numeric discipline: elements are upcast to double BEFORE multiplying
  * and accumulated left-to-right (`aggregate` fold), which is bit-equal
  * to the oracle's DOUBLE[] inner product — so ranks (and ties) agree.
  */
object Similarity {

  /** Double-precision dot product: the codegen'd DotProduct expression
    * (graft.functions.VectorExpressions) — bit-equal to [[dotFold]] and
    * to the oracle's sequential DOUBLE[] inner product, but a primitive
    * loop instead of a per-element lambda.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot_product(a, b)

  /** Reference implementation via higher-order functions (interpreted;
    * kept for environments without GraftExtensions registered).
    */
  def dotFold(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** (q_id, n_id, sim) -> (q_id, n_id, rnk): per-query top-k through the
    * bounded [[graft.functions.Aggregators.TopKByScore]] aggregator. The
    * map-side partial keeps ≤k candidates per (partition, query), so the
    * one shuffle carries k·numPartitions rows per query — never a
    * query's full candidate list on one task (the `row_number` window
    * straggler this replaces).
    */
  private def topKRank(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("q_id")
      .agg(graft.functions.Aggregators.topKByScore(
        col("sim").cast("double"), col("n_id").cast("long"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "n_id")))
      .select(col("q_id"), col("n_id"), (col("pos") + 1).cast("int").as("rnk"))

  /** Brute-force top-k cosine neighbors for each query vector.
    *
    * The query side is broadcast (it is the small side by construction),
    * so the base table streams once with no shuffle; the only shuffle is
    * the bounded top-k merge. At 100 TB the base scan is embarrassingly
    * parallel; for sublinear scans see [[ivfTopK]].
    */
  def bruteForceTopK(base: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"))
    val b = base.select(col(idCol).as("n_id"), col(vecCol).as("nv"))
    val scored = b.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("sim", cosine(col("qv"), col("nv")))
    topKRank(scored, k)
  }

  /** Embedding-cosine near-dup pairs: all (a < b) pairs with cosine
    * above `threshold` (or the global top-k most similar when the data
    * has no near-dups). Brute-force pair enumeration — at scale, block
    * first with [[ivfTopK]]-style cells and compare within cells.
    */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
                  threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("vec_a"), col(vecCol).as("va"))
    val b = df.select(col(idCol).as("vec_b"), col(vecCol).as("vb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("sim", cosine(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select("vec_a", "vec_b")
  }

  def topCosinePairs(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val a = df.select(col(idCol).as("vec_a"), col(vecCol).as("va"))
    val b = df.select(col(idCol).as("vec_b"), col(vecCol).as("vb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("sim", cosine(col("va"), col("vb")))
      .orderBy(col("sim").desc, col("vec_a").asc, col("vec_b").asc)
      .limit(k)
      .select("vec_a", "vec_b")
  }

  /** Deterministic coarse codebook: the `nCells` vectors whose id-hash
    * is lowest (seedless, reproducible), L2-normalized and collected to
    * the driver — O(nCells · dim) doubles, kilobytes, rides to executors
    * as a reference object. Sorted by id so codebook index order == id
    * order (stable tie-breaks). A production deployment would train this
    * with k-means; the Spark-side plumbing is identical.
    *
    * `salt` derives independent codebooks from the same table (the
    * multi-table LSH of [[cosinePairsLsh]]); salt 0 hashes the bare id,
    * keeping the historical codebook unchanged.
    */
  def codebook(base: DataFrame, idCol: String, vecCol: String,
               nCells: Int, salt: Int = 0): Seq[(Long, Array[Double])] =
    base.select(col(idCol).cast("long").as("a_id"), col(vecCol).as("av"))
      .withColumn("hk", md5(
        if (salt == 0) col("a_id").cast("string")
        else concat(col("a_id").cast("string"), lit(s":$salt"))))
      .orderBy("hk").limit(nCells)
      .select("a_id", "av").collect().toSeq
      .map { r =>
        val v = r.getSeq[Any](1).map {
          case f: Float  => f.toDouble
          case d: Double => d
        }.toArray
        val n = math.sqrt(v.map(x => x * x).sum)
        (r.getLong(0), v.map(_ / n))
      }.sortBy(_._1)

  /** IVF codebook trained with the INTEGER k-means lane ([[Kmeans.fit]])
    * instead of the float spherical [[trainCodebook]]: vectors are
    * L2-normalized first (plain L2 Lloyd on the unit sphere ranks like
    * cosine — |a-b|² = 2-2·cos on unit vectors), quantized to
    * fixed-point longs, clustered in exact integer arithmetic, and the
    * fitted centroids come back as unit-norm doubles computed from
    * exact-integer norms (components ≤ scale, so every square and the
    * 64-dim sum stay below 2⁵³ — the norm's input is exact and the
    * sqrt + per-element division are single correctly-rounded IEEE
    * ops). Every step is therefore bit-reproducible across
    * partitionings AND engines, which is what lets an IVF lane carry a
    * full SQL oracle — [[trainCodebook]]'s float centroid sums are
    * reduction-order-dependent, so a lane built on it can only be
    * rows-checked. Zero vectors are the caller's contract to exclude
    * (normalization is undefined on them). Returned cell ids are the
    * codebook indices 0..nCells-1, [[assignCells]]/[[probeIvf]]
    * compatible.
    */
  def kmeansCodebook(base: DataFrame, idCol: String, vecCol: String,
                     nCells: Int, iters: Int = 2,
                     scale: Long = Kmeans.DefaultScale): Seq[(Long, Array[Double])] = {
    val n = l2norm(col(vecCol))
    val unit = base.select(col(idCol).as("kc_id"),
      transform(col(vecCol).cast("array<double>"), x => x / n).as("kc_nv"))
    Kmeans.fit(unit, "kc_id", "kc_nv", nCells, iters, scale)
      .zipWithIndex.map { case (c, i) =>
        val norm = math.sqrt(c.map(x => x.toDouble * x.toDouble).sum)
        (i.toLong, if (norm > 0) c.map(_ / norm) else c.map(_.toDouble))
      }
  }

  /** A few Lloyd iterations over the seed codebook — each iteration is
    * one shuffle-free assignment pass + one partial-aggregated vector
    * sum per cell (map-side combine; only nCells·dim doubles cross the
    * shuffle per partition). Returned cell ids are the codebook indices
    * 0..nCells-1. Centroids are L2-normalized (spherical k-means, the
    * right variant for cosine).
    */
  def trainCodebook(base: DataFrame, idCol: String, vecCol: String,
                    nCells: Int, iters: Int = 2): Seq[(Long, Array[Double])] = {
    var cb: Seq[(Long, Array[Double])] =
      codebook(base, idCol, vecCol, nCells).zipWithIndex
        .map { case ((_, v), i) => (i.toLong, v) }
    val dim = cb.head._2.length
    // persisted across Lloyd rounds (the Kmeans.fit discipline): each
    // iteration is one cached-block pass, not a re-scan of the source
    val vecs0 = base.select(col(vecCol).cast("array<double>").as("v"))
    Pins() { pins =>
      val vecs = if (iters > 1) pins.persist(vecs0) else vecs0
      for (_ <- 1 to iters) {
        val assigned = vecs.withColumn("cell",
          element_at(graft.functions.VectorExpressions.nearest_cells(
            col("v"), cb.map(_._2.toSeq), 1), 1))
        val sums = assigned.groupBy("cell")
          .agg(udaf(VecSum(dim)).apply(col("v")).as("s"), count(lit(1)).as("n"))
          .collect()
        val next = cb.toArray
        sums.foreach { r =>
          val cell = r.getInt(0)
          val s = r.getSeq[Double](1)
          val norm = math.sqrt(s.map(x => x * x).sum)
          if (norm > 0) next(cell) = (cell.toLong, s.map(_ / norm).toArray)
        }
        cb = next.toSeq                     // empty cells keep their centroid
      }
      cb
    }
  }

  private case class VecSum(dim: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Seq[Double], Array[Double], Seq[Double]] {
    def zero: Array[Double] = new Array[Double](dim)
    def reduce(b: Array[Double], a: Seq[Double]): Array[Double] = {
      var i = 0; while (i < dim && i < a.length) { b(i) += a(i); i += 1 }; b
    }
    def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      var i = 0; while (i < dim) { a(i) += b(i); i += 1 }; a
    }
    def finish(r: Array[Double]): Seq[Double] = r.toSeq
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
      org.apache.spark.sql.Encoders.kryo
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }

  /** Cell ids per row as a PURE PROJECTION: the codegen'd NearestCells
    * expression computes the top-`rep` cells against the broadcast
    * codebook row-locally — no join, no window, no shuffle between the
    * scan and the assignment (vs. the base × nCells window-argmax
    * anti-pattern, which shuffles nCells× the base table). `rep` > 1 is
    * standard IVF replication: a vector is findable from its `rep`
    * nearest cells, trading rep× candidate storage for recall.
    */
  def assignCells(df: DataFrame, idCol: String, vecCol: String,
                  cb: Seq[(Long, Array[Double])], rep: Int = 1): DataFrame = {
    // fused id mapping (nearest_cell_ids), not transform(nearest_cells):
    // the HOF lambda would drop the whole projection out of codegen
    val cellIds = graft.functions.VectorExpressions.nearest_cell_ids(
      col(vecCol), cb.map(_._2.toSeq), cb.map(_._1), rep)
    if (rep == 1)
      df.withColumn("cell", element_at(cellIds, 1))
    else
      df.withColumn("cell", explode(cellIds))
  }

  private[graft] def autoCells(n: Long): Int =
    math.max(16, math.min(256, math.round(math.sqrt(n / 64.0)).toInt))

  /** Documented ceiling for the brute-force mining forms' BROADCAST
    * side ([[bitextMine]]'s target corpus, [[hardNegatives]]' /
    * [[knnClassify]]'s query batch). Past it the broadcast itself is
    * the scale hazard and total work is quadratic — the candidate-fed
    * forms over [[ivfCandidates]] are the intended path. The guard
    * reads OPTIMIZER statistics ([[estimateRows]] — no extra scan), so
    * it is deliberately coarse: it exists to stop "brute-forced the
    * whole corpus" mistakes loudly at plan time, not to meter memory.
    */
  val BruteForceMaxRows = 2000000L

  /** Session override for the brute-force guard:
    * `spark.graft.bruteForce.maxRows` replaces [[BruteForceMaxRows]];
    * any value <= 0 disables the guard entirely. The escape hatch
    * exists because [[estimateRows]] falls back to the optimizer's
    * sizeInBytes when no rowCount statistic is available (no CBO), and
    * a Filter does NOT reduce sizeInBytes — so a legitimately small
    * query batch obtained by filtering a large table can estimate at
    * the full table size and spuriously trip the guard. A caller who
    * knows the side is bounded sets the conf (or filters into a
    * localCheckpoint / fresh DataFrame, which re-derives statistics).
    */
  val BruteForceMaxRowsConf = "spark.graft.bruteForce.maxRows"

  private def requireSmallSide(df: DataFrame, op: String, alt: String): Unit = {
    val cap = df.sparkSession.conf
      .get(BruteForceMaxRowsConf, BruteForceMaxRows.toString).toLong
    if (cap > 0) {
      val est = estimateRows(df)
      require(est <= cap,
        s"$op: broadcast side estimated at $est rows (> max = $cap) — this " +
          s"form is quadratic and broadcasts that side whole; use $alt at " +
          s"this scale, or set $BruteForceMaxRowsConf (<= 0 disables) if " +
          s"the estimate is a sizeInBytes artifact of filtering a large table")
    }
  }

  /** Row-count estimate WITHOUT running a job: catalog/plan statistics
    * when available (CBO, cached plans), else the optimizer's sizeInBytes
    * over the schema's estimated row width. Feeds [[autoCells]]'
    * √(n/64) — clamped to [16,256], so a coarse estimate is plenty; the
    * old `df.count()` here was a full extra pass over the base table
    * before any real work (at 100 TB, a wasted scan).
    */
  private[graft] def estimateRows(df: DataFrame): Long = {
    val stats = df.queryExecution.optimizedPlan.stats
    stats.rowCount.map(_.toLong).getOrElse {
      val width = math.max(1,
        df.schema.map(_.dataType.defaultSize).sum)
      math.max(1L, (stats.sizeInBytes / width).toLong)
    }
  }

  /** IVF-style ANN: assign every vector to its nearest codebook cell,
    * then search only each query's `nProbe` closest cells — a
    * nProbe/nCells scan reduction, the 100 TB path.
    *
    * Plan shape: base-side cell assignment is shuffle-free (see
    * [[assignCells]]); probe selection sorts a per-query score ARRAY
    * (shuffle-free, |queries| × nProbe rows out); candidate matching is
    * a broadcast equi-join on cell; the only shuffle in the whole plan
    * is the bounded top-k merge. `nCells`/`nProbe` ≤ 0 → sized from the
    * base row count (≈ sqrt(n/64) cells, nCells/4 probes).
    */
  def ivfTopK(base: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, nCells: Int = 0, nProbe: Int = 0, rep: Int = 3,
              iters: Int = 3): DataFrame = {
    // default nProbe derives from the REQUESTED cell count (pre-split
    // behavior), not cb.size — the codebook can train smaller than
    // requested on tiny bases
    val cellCount = if (nCells > 0) nCells else autoCells(estimateRows(base))
    val (cb, assigned) = buildIvfIndex(base, idCol, vecCol, cellCount, rep, iters)
    probeIvf(cb, assigned, queries, idCol, vecCol, k,
      if (nProbe > 0) nProbe else math.max(2, cellCount / 4))
  }

  /** The IVF index as a PERSISTENT artifact: the trained codebook (a
    * bounded driver-side list — cells × dim doubles) plus the
    * replicated cell-assignment table, (cell, n_id, nv)-shaped. The
    * incremental-ANN discipline of [[Dedup.buildIndex]]: a serving
    * pipeline trains/assigns ONCE over the base corpus, persists the
    * assignment table (parquet partitioned by cell at scale), and runs
    * every subsequent query batch through [[probeIvf]] — which touches
    * the index only via one equi-join, never re-clustering or
    * re-scanning the base vectors.
    */
  def buildIvfIndex(base: DataFrame, idCol: String, vecCol: String,
                    nCells: Int = 0, rep: Int = 3, iters: Int = 3
                   ): (Seq[(Long, Array[Double])], DataFrame) = {
    val cellCount = if (nCells > 0) nCells else autoCells(estimateRows(base))
    val cb = trainCodebook(base, idCol, vecCol, cellCount, iters)
    val assigned = assignCells(
      base.select(col(idCol).cast("long").as("n_id"), col(vecCol).as("nv")),
      "n_id", "nv", cb, rep)
    (cb, assigned)
  }

  /** Save an IVF index through [[IndexStore]] as two tables of one
    * commit: `codebook` (cells × dim, a bounded artifact) and `assigned`
    * (the replicated cell-assignment table). [[loadIvfIndex]] restores
    * both for [[probeIvf]]; new vectors are assigned with
    * [[assignCells]] against the loaded codebook — training never
    * re-runs.
    */
  def saveIvfIndex(cb: Seq[(Long, Array[Double])], assigned: DataFrame,
                   path: String): Unit = {
    val spark = assigned.sparkSession
    import spark.implicits._
    IndexStore.save(path, Map.empty,
      ("codebook", cb.map { case (cell, v) => (cell, v.toSeq) }.toDF("cell", "centroid"), Nil),
      ("assigned", assigned, Nil))
  }

  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String
                  ): (Seq[(Long, Array[Double])], DataFrame) = {
    val ix = IndexStore.load(spark, path)
    val cb = ix.tables("codebook").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).toSeq
    (cb, ix.tables("assigned"))
  }

  /** Probe a prebuilt IVF index ([[buildIvfIndex]]): rank the codebook
    * row-locally per query, broadcast the (query, cell) probe list onto
    * the assignment table, verify by exact cosine, keep top-k. Same
    * result as [[ivfTopK]] with the index's parameters (training and
    * assignment are deterministic).
    */
  def probeIvf(cb: Seq[(Long, Array[Double])], assigned: DataFrame,
               queries: DataFrame, idCol: String, vecCol: String,
               k: Int, nProbe: Int = 0): DataFrame =
    topKFromCandidates(
      ivfCandidates(cb, assigned, queries, idCol, vecCol, nProbe), k)

  /** IVF candidate generation WITHOUT the scoring tail — the
    * candidate-pair feed for every neighbor-search-shaped operator
    * ([[topKFromCandidates]], [[hardNegativesFromCandidates]],
    * [[knnVote]], [[bitextMineFromCandidates]]): rank the codebook
    * row-locally per query, join the (query, cell) probe list onto the
    * assignment table. Emits one row per (probed cell ∩ assignment)
    * match carrying (q_id, qv, n_id, nv) plus any EXTRA columns riding
    * the query frame (e.g. a label) and the assignment table — a pair
    * met in several probed cells appears once per cell, which the
    * bounded per-id top-k aggregator downstream dedupes for free.
    *
    * `broadcastProbes = true` (the serving default) broadcasts the
    * probe list onto the index scan — right when the query batch is
    * bounded. Pass `false` when the query side GROWS with the corpus
    * (mining lanes: k-NN eval over a fixed fraction, bitext over a full
    * second corpus): the cell equi-join then plans as a shuffle join —
    * no unbounded broadcast — and AQE still converts it back to a
    * broadcast at runtime whenever the probe side is actually small.
    */
  def ivfCandidates(cb: Seq[(Long, Array[Double])], assigned: DataFrame,
                    queries: DataFrame, idCol: String, vecCol: String,
                    nProbe: Int = 0, broadcastProbes: Boolean = true): DataFrame = {
    val probeCount = if (nProbe > 0) nProbe else math.max(2, cb.size / 4)
    val extras = queries.columns.filterNot(c => c == idCol || c == vecCol)
    val q = queries.select(col(idCol).cast("long").as("q_id") +:
      col(vecCol).as("qv") +: extras.map(col).toSeq: _*)
    val cellScores = array(cb.map { case (id, av) =>
      struct(dot(col("qv"), typedLit(av.toSeq)).as("s"), lit(id).as("cell"))
    }: _*)
    val byScoreDescCellAsc = (l: Column, r: Column) =>
      when(l.getField("s") > r.getField("s"), -1)
        .when(l.getField("s") < r.getField("s"), 1)
        .when(l.getField("cell") < r.getField("cell"), -1)
        .when(l.getField("cell") > r.getField("cell"), 1)
        .otherwise(0)
    val probes = q
      .withColumn("pc", explode(slice(array_sort(cellScores, byScoreDescCellAsc), 1, probeCount)))
      .withColumn("cell", col("pc.cell")).drop("pc")
    // a shared column name (other than the join key) would survive the
    // join as an ambiguous duplicate and break the first downstream
    // col() silently-late — fail loudly here instead
    val clash = probes.columns.toSet.intersect(assigned.columns.toSet) - "cell"
    require(clash.isEmpty,
      s"ivfCandidates: query and index sides share column(s) " +
        s"${clash.mkString(", ")} — rename them before probing")

    // batch: broadcast the (small) probe set onto the index scan.
    // streaming: a stream cannot be broadcast — drive the stream-static
    // equi-join from the probe stream instead (the index side is read
    // per micro-batch; a production server persists it via
    // saveIvfIndex). Candidates, scores and ranks are identical either
    // way, so batch ≡ stream bit-for-bit.
    val joined =
      if (queries.isStreaming) probes.join(assigned, "cell")
      else if (broadcastProbes) assigned.join(broadcast(probes), "cell")
      else assigned.join(probes, "cell")
    // Self-pairs (q_id == n_id) are NOT removed here: equal ids only
    // mean "same vector" when query and index share one id space, and
    // cross-corpus feeds ([[bitextMineFromCandidates]] — src and tgt
    // each 0-indexed in the common case) must keep id-colliding pairs.
    // The same-corpus scoring tails ([[topKFromCandidates]],
    // [[hardNegativesFromCandidates]]) filter them row-locally.
    joined.drop("cell")
  }

  /** Exact-cosine top-k over a candidate-pair frame (q_id, qv, n_id,
    * nv) — the scoring tail [[probeIvf]], [[hardNegativesFromCandidates]]
    * and the mining lanes share. Scoring is row-local; the only shuffle
    * is the bounded top-k merge, and duplicate candidate rows (a pair
    * met in several probe cells) collapse inside the per-id aggregator.
    */
  def topKFromCandidates(cands: DataFrame, k: Int): DataFrame =
    topKRank(cands.filter(col("q_id") =!= col("n_id"))
      .withColumn("sim", cosine(col("qv"), col("nv"))), k)

  /** Hard-negative mining for contrastive training: per query vector,
    * the `k` most-cosine-similar candidates carrying a DIFFERENT label
    * — the near-miss wrong-class examples a contrastive or reranker
    * trainer wants as negatives (easy random negatives teach nothing).
    * Same plan as [[bruteForceTopK]] with the label guard fused into
    * the broadcast join condition: the base streams once, no shuffle
    * but the bounded top-k merge. Right for a genuinely small curated
    * anchor set; when the query side grows with the corpus, feed
    * [[ivfCandidates]] into [[hardNegativesFromCandidates]] instead —
    * the scoring tail is identical.
    */
  def hardNegatives(base: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    requireSmallSide(queries, "hardNegatives", "hardNegativesFromCandidates over ivfCandidates")
    val q = queries.select(col(idCol).cast("long").as("q_id"),
      col(vecCol).as("qv"), col(labelCol).as("q_lab"))
    val b = base.select(col(idCol).cast("long").as("n_id"),
      col(vecCol).as("nv"), col(labelCol).as("n_lab"))
    val scored = b.join(broadcast(q),
        col("q_id") =!= col("n_id") && col("q_lab") =!= col("n_lab"))
      .withColumn("sim", cosine(col("qv"), col("nv")))
    topKRank(scored, k)
  }

  /** Candidate-fed hard negatives — the scale path: `cands` comes from
    * [[ivfCandidates]] with the labels riding both sides (put `q_lab`
    * on the query frame and `n_lab` on the assignment table; extra
    * columns pass through candidate generation untouched). The label
    * guard and scoring are row-local over the candidate rows; the only
    * shuffle is the bounded top-k merge — no broadcast or scan grows
    * with the corpus. With nProbe = nCells the candidate set is total
    * and the result equals [[hardNegatives]] exactly (spec-pinned).
    */
  def hardNegativesFromCandidates(cands: DataFrame, k: Int): DataFrame =
    topKRank(cands
      .filter(col("q_id") =!= col("n_id") && col("q_lab") =!= col("n_lab"))
      .withColumn("sim", cosine(col("qv"), col("nv"))), k)

  /** k-NN label vote: each query vector takes the majority label of its
    * `k` cosine-nearest base vectors (ties: higher count wins, then the
    * SMALLER label — the bounded aggregator's id-asc rule). The
    * weak-supervision primitive: pseudo-label unlabeled data from a
    * labeled seed set, or — run over held-out labeled vectors, as the
    * declared query does — measure embedding quality as k-NN agreement
    * (`correct` rides every row). Plan: the [[bruteForceTopK]]
    * broadcast scan + bounded top-k, one narrow label join, one
    * bounded vote aggregation; swap the scan for [[probeIvf]]
    * candidates at index scale.
    */
  def knnClassify(base: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, labelCol: String, k: Int): DataFrame = {
    requireSmallSide(queries, "knnClassify", "knnVote over topKFromCandidates")
    knnVote(bruteForceTopK(base, queries, idCol, vecCol, k),
      base.select(col(idCol).cast("long").as("n_id"),
        col(labelCol).cast("long").as("n_lab")),
      queries.select(col(idCol).cast("long").as("q_id"),
        col(labelCol).cast("long").as("label")))
  }

  /** The k-NN vote tail, decoupled from how the neighbor lists were
    * produced: `topk` is any (q_id, n_id, rnk) frame — [[bruteForceTopK]]
    * for a bounded query batch, [[topKFromCandidates]] over
    * [[ivfCandidates]] for the scale path where the query side is a
    * corpus fraction. One narrow label equi-join, one bounded vote
    * aggregation (count desc, label asc — the aggregator's id-asc tie
    * rule), one narrow truth join; nothing scales past the (k-bounded)
    * neighbor-list size.
    */
  def knnVote(topk: DataFrame, baseLabels: DataFrame,
              queryLabels: DataFrame): DataFrame = {
    val votes = topk
      .join(baseLabels, "n_id")
      .groupBy(col("q_id"), col("n_lab")).agg(count(lit(1)).as("cnt"))
    val pred = votes.groupBy(col("q_id"))
      .agg(graft.functions.Aggregators.topKByScore(
        col("cnt").cast("double"), col("n_lab"), 1).as("top"))
      .select(col("q_id"), explode(col("top")).as("pred_label"))
    pred.join(queryLabels, "q_id")
      .withColumn("correct",
        when(col("pred_label") === col("label"), 1L).otherwise(0L))
      .select("q_id", "pred_label", "label", "correct")
  }

  /** Margin-based bitext mining (Artetxe & Schwenk, ACL 2019 — the
    * criterion behind the big mined parallel corpora): for each source
    * vector, the best target by
    * `margin(x,y) = cos(x,y) / (avgNNk(x) / 2k + avgNNk(y) / 2k)`
    * — raw cosine normalized by both sides' neighborhood density, so a
    * hub vector that is "close to everything" doesn't win every
    * alignment — kept when the margin clears `threshold` (>= ~1.05
    * means the pair stands out from both neighborhoods). Output:
    * (src_id, tgt_id), one best target per accepted source.
    *
    * Determinism (what lets a SQL oracle replay it): the k
    * neighborhood sims enter the average in RANK order through a fixed
    * left-associated sum (pivot-by-rank, not a float aggregation), and
    * every rank tie breaks id-asc in the bounded aggregator.
    *
    * THIS variant scores all src × tgt pairs (broadcast nested loop) —
    * right only when one side is a bounded batch; a mined-parallel-
    * corpus workload (both sides web-scale) goes through
    * [[bitextMineFromCandidates]] with IVF candidates from both
    * directions — the margin tail is shared and identical. The sim
    * cache this builds is scoped: the result is materialized eagerly
    * (localCheckpoint, bounded — one best pair per accepted source) and
    * the quadratic sim table unpersisted before returning.
    */
  def bitextMine(src: DataFrame, tgt: DataFrame, idCol: String, vecCol: String,
                 k: Int = 4, threshold: Double = 1.05): DataFrame = {
    requireSmallSide(tgt, "bitextMine", "bitextMineIvf / bitextMineFromCandidates")
    val a = src.select(col(idCol).cast("long").as("src_id"), col(vecCol).as("av"))
    val b = tgt.select(col(idCol).cast("long").as("tgt_id"), col(vecCol).as("bv"))
    // persisted: the sim table feeds both neighborhood averages, the
    // margin join and the best-pair rejoin (four consumers)
    Pins() { pins =>
      val sims = pins.persist(a.crossJoin(broadcast(b))
        .withColumn("sim", cosine(col("av"), col("bv")))
        .select("src_id", "tgt_id", "sim"))
      pins.keep(pins.pin(marginTail(sims, k, threshold)))
    }
  }

  /** Candidate-fed bitext mining — the scale path: `candidates` is a
    * (src_id, tgt_id) pair frame, normally the union of
    * [[ivfCandidates]] probed in BOTH directions (src queries against a
    * tgt-side index and vice versa, so both neighborhood averages see
    * each side's near-neighbors). Pairs are deduped on ids, vectors
    * rejoin through two hash equi-joins, and the identical margin tail
    * runs over candidate sims only — no operator in the plan is
    * quadratic in either corpus, and nothing unbounded broadcasts.
    * Neighborhood averages use each id's top-k sims WITHIN the
    * candidate set; with full probing the candidate set is total and
    * the result equals [[bitextMine]] exactly (spec-pinned).
    */
  /** MINING-shape cell sizing for the flat-codebook IVF wrapper:
    * nCells = max(16, n/32), CLAMPED at [[MiningCellsCap]]. Below the
    * cap cells grow ∝ n, so expected cell population (and with it
    * per-query candidate work) stays constant as the corpus grows —
    * but a FLAT codebook's assignment pass then costs n·cells =
    * Θ(n²/32) distance evaluations, and the codebook itself is an
    * O(n) driver artifact embedded as a literal expression tree, so
    * the shape only holds to ~10⁵ rows per side. The cap makes that
    * bound explicit: past n = 32·cap (~131k rows/side) candidate
    * volume degrades toward quadratic and [[bitextMineIvf]] is the
    * WRONG operator — [[bitextMineLsh]] (sign-hyperplane buckets:
    * O(n·log n) assignment, O(log n)-sized plane artifact, linear
    * candidate volume at any scale) is the growing-corpus mining path.
    * Distinct from the serving-shape [[autoCells]] √(n/64): there the
    * QUERY batch is bounded, so √n cell growth is fine.
    */
  val MiningCellsCap = 4096

  private[graft] def miningCells(n: Long): Int =
    math.min(MiningCellsCap.toLong, math.max(16L, n / 32L)).toInt

  /** End-to-end IVF bitext mining with SAFE cell sizing for BOUNDED
    * corpora (hard bound: ~32·[[MiningCellsCap]] ≈ 131k rows per side,
    * where [[miningCells]] saturates — past it, use [[bitextMineLsh]],
    * the genuinely linear growing-corpus path): builds one
    * [[kmeansCodebook]] index per side with cells ∝ n ([[miningCells]]
    * of an exact per-side count — pass `srcCount`/`tgtCount` if the
    * caller already knows the sizes, else one column-pruned count pass
    * per side), probes BOTH directions, and feeds
    * [[bitextMineFromCandidates]]. Hand-rolling the two indexes with a
    * fixed cellCount silently degrades per-cell candidate work toward
    * quadratic as the corpora grow; this wrapper makes the safe sizing
    * the default. With nProbe >= nCells it probes fully and equals
    * [[bitextMine]] exactly (spec-pinned).
    */
  def bitextMineIvf(src: DataFrame, tgt: DataFrame, idCol: String,
                    vecCol: String, k: Int = 4, threshold: Double = 1.05,
                    nProbe: Int = 4, rep: Int = 4, iters: Int = 2,
                    srcCount: Long = -1L, tgtCount: Long = -1L): DataFrame = {
    def index(half: DataFrame, known: Long): (Seq[(Long, Array[Double])], DataFrame) = {
      val n = if (known >= 0L) known else half.select(col(idCol)).count()
      val cb = kmeansCodebook(half, idCol, vecCol,
        nCells = miningCells(n), iters = iters)
      (cb, assignCells(
        half.select(col(idCol).cast("long").as("n_id"), col(vecCol).as("nv")),
        "n_id", "nv", cb, rep = rep))
    }
    val (cbT, asgT) = index(tgt, tgtCount)
    val (cbS, asgS) = index(src, srcCount)
    val c1 = ivfCandidates(cbT, asgT, src.select(col(idCol), col(vecCol)),
        idCol, vecCol, nProbe, broadcastProbes = false)
      .select(col("q_id").as("src_id"), col("n_id").as("tgt_id"))
    val c2 = ivfCandidates(cbS, asgS, tgt.select(col(idCol), col(vecCol)),
        idCol, vecCol, nProbe, broadcastProbes = false)
      .select(col("n_id").as("src_id"), col("q_id").as("tgt_id"))
    bitextMineFromCandidates(src, tgt, idCol, vecCol, c1.union(c2), k, threshold)
  }

  /** Sign-LSH bit count for a mining corpus of `n` rows per side:
    * ceil(log2(n/32)) clamped to [0, 30] — buckets (2^bits per table)
    * double as the corpus doubles, holding expected bucket population
    * ≈ 32 constant. Per-table candidate volume is then Σ_cell
    * |srcBucket|·|tgtBucket| ≈ n·32 — LINEAR in n — while the
    * assignment pass costs n·tables·bits·dim = O(n log n) flops and
    * the plane artifact is tables·bits·dim signs = O(log n) bytes.
    * This is the sizing law that fixes the flat-codebook wrapper's
    * quadratic assign term (n·cells with cells ∝ n): hyperplane cuts
    * refine the partition without ever scanning a codebook.
    */
  private[graft] def miningBits(n: Long): Int =
    if (n <= 32L) 0
    else math.min(30, math.ceil(math.log(n / 32.0) / math.log(2.0)).toInt)

  /** Sign-LSH cell ids, one per table, as a PURE PROJECTION (no join,
    * no shuffle, no trained state): cell_t = Σ_j 2^j · [plane(t·bits+j)
    * · v >= 0]. Planes are the deterministic [[jlSign]] md5-parity ±1
    * vectors — sign(p, i) = +1 iff the first hex digit of md5("p:i")
    * is even — so the whole blocking replays in any SQL engine with
    * md5, exactly like [[jlProject]]. Each plane projection is ONE
    * codegen'd [[graft.functions.DotProduct]] whose ascending
    * fixed-order sum an oracle replays with an ordered list_reduce
    * (multiplication by ±1.0 is exact, so no float-order hazard
    * beyond the pinned sum order). bits = 0 degenerates to a single
    * bucket per table — every cross pair becomes a candidate, the
    * brute-force-equality limit the spec pins.
    *
    * Scale: the plane matrix is a tables·bits × dim literal — KBs,
    * growing with log n when sized by [[miningBits]], never with n —
    * vs the flat codebook's n/32 × dim driver collect. Random
    * hyperplane LSH (Charikar, STOC 2002): P[same bit] =
    * 1 − θ/π per plane, recall across `tables` OR-ed tables =
    * 1 − (1 − p^bits)^tables.
    */
  def signLshCells(vec: Column, dim: Int, bits: Int, tables: Int): Column = {
    require(bits >= 0 && bits <= 30, s"signLshCells: bits out of [0,30]: $bits")
    require(tables >= 1, s"signLshCells: tables must be positive: $tables")
    val cells = (0 until tables).map { t =>
      (0 until bits).map { j =>
        val plane = (0 until dim).map(i => jlSign(t * bits + j, i).toDouble)
        when(graft.functions.VectorExpressions.dot_product(
          vec, typedLit(plane)) >= 0, lit(1L << j)).otherwise(lit(0L))
      }.reduceOption[Column](_ + _).getOrElse(lit(0L))
    }
    array(cells: _*)
  }

  /** (t, cell, id) assignment table for one side of a sign-LSH
    * blocking — one projection + explode, then an explicit hash
    * exchange on the join keys (the [[lshAssignments]] small-fixture
    * discipline: without it a one-split parquet read would run all
    * candidate scoring on one core, while at cluster scale the
    * (t, cell) exchange is the plan the non-broadcastable equi-join
    * takes anyway).
    */
  private def signLshAssignments(df: DataFrame, idCol: String, vecCol: String,
                                 dim: Int, bits: Int, tables: Int,
                                 keepVec: Boolean = false): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val assigned =
      if (keepVec)
        // `v`/`nrm` ride the assignment rows for the scoring tails
        // (one dot per candidate, the lshAssignments discipline)
        df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
          .withColumn("nrm", l2norm(col("v")))
          .select(col("id"), col("v"), col("nrm"),
            posexplode(signLshCells(col("v"), dim, bits, tables))
              .as(Seq("t", "cell")))
          .select(col("t"), col("cell"), col("id"), col("v"), col("nrm"))
      else
        df.select(col(idCol).cast("long").as("id"),
          posexplode(signLshCells(col(vecCol), dim, bits, tables))
            .as(Seq("t", "cell")))
    assigned.repartition(parts, col("t"), col("cell"))
  }

  /** Sign-LSH bit count for a SELF-join candidate corpus of `n` rows:
    * ceil(log2(n/64)) — bucket population ≈ 64, the [[knnJoinLsh]]
    * sizing law, clamped to [0, 30].
    */
  private[graft] def pairBits(n: Long): Int =
    if (n <= 64L) 0
    else math.min(30, math.ceil(math.log(n / 64.0) / math.log(2.0)).toInt)

  /** [[cosinePairsLsh]] with sign-hyperplane blocking — the beyond-10⁵
    * variant: same deterministic SQL replayability (md5-parity planes,
    * fixed-order sums), same (t, cell) equi-join + one-dot exact-cosine
    * verify + threshold + [[Buckets.cap]] hot-bucket contract, but
    * assignment is the O(n·bits·dim) [[signLshCells]] projection with
    * an O(log n) plane artifact instead of the codebook scan whose
    * n·cells cost and O(n) driver artifact cap the codebook variant at
    * ~10⁵ rows. bits <= 0 sizes by [[pairBits]] (exact count, so an
    * oracle replays the sizing). Recall follows the hyperplane law
    * (P[pair candidates] = 1 − (1 − p^bits)^tables, p = 1 − θ/π):
    * strong for genuinely near vectors, weaker at low thresholds —
    * raise `tables` for recall; bits = 0 with tables = 1 degenerates
    * to the exact all-pairs join (spec-pinned).
    */
  def cosinePairsSignLsh(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, bits: Int = -1, tables: Int = 6,
                         maxBucket: Int = 0): DataFrame = {
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    val b = if (bits >= 0) bits else pairBits(df.count())
    boundedCandidates(
      signLshAssignments(df, idCol, vecCol, dim, b, tables, keepVec = true),
      maxBucket)(pairScoreTail(_, threshold))
  }

  /** [[knnJoinLsh]] with sign-hyperplane blocking — same scoring tail,
    * same bounded top-k, same recall trade as [[cosinePairsSignLsh]];
    * the per-doc neighbor-list primitive at corpus sizes where the
    * codebook blocking's n·cells assignment and O(n) driver artifact
    * stop scaling.
    */
  def knnJoinSignLsh(df: DataFrame, idCol: String, vecCol: String, k: Int,
                     bits: Int = -1, tables: Int = 6,
                     maxBucket: Int = 0): DataFrame = {
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    val b = if (bits >= 0) bits else pairBits(df.count())
    boundedCandidates(
      signLshAssignments(df, idCol, vecCol, dim, b, tables, keepVec = true),
      maxBucket)(knnScoreTail(_, k))
  }

  /** Bitext mining over deterministic sign-LSH blocking — the
    * GROWING-CORPUS scale path (both sides web-scale, the mined-
    * parallel-corpus shape): assign both sides to 2^bits hyperplane
    * buckets per table with the SHARED [[jlSign]] plane matrix,
    * candidates from the per-table (t, cell) equi-join, then the
    * identical [[bitextMineFromCandidates]] margin tail. With `bits`
    * sized by [[miningBits]] (the default: ceil(log2(max-side/32)))
    * every term is linear-or-better in corpus size:
    *   - assignment: n·tables·bits·dim flops = O(n log n), a pure
    *     projection — no codebook scan, no training, no driver collect;
    *   - candidate volume: expected bucket population stays ≈ 32, so
    *     ≈ 32·tables·n pairs total;
    *   - driver artifact: the tables·bits·dim ±1 plane literal — KBs.
    * This is what the flat-codebook [[bitextMineIvf]] cannot do past
    * ~131k rows/side (its n·cells assign term is Θ(n²/32) when cells
    * grow ∝ n).
    *
    * Recall: a true pair lands in the same bucket of ≥ 1 table with
    * probability 1 − (1 − p^bits)^tables, p = 1 − θ/π — raise
    * `tables` for recall, `bits` for precision/volume. bits = 0 with
    * tables = 1 makes every cross pair a candidate and the result
    * equals [[bitextMine]] exactly (spec-pinned).
    *
    * Pass `srcCount`/`tgtCount` when the caller already knows the sizes
    * to skip the two sizing count passes.
    */
  def bitextMineLsh(src: DataFrame, tgt: DataFrame, idCol: String,
                    vecCol: String, k: Int = 4, threshold: Double = 1.05,
                    bits: Int = -1, tables: Int = 4,
                    srcCount: Long = -1L, tgtCount: Long = -1L): DataFrame = {
    val dim = src.select(size(col(vecCol))).head().getInt(0)
    val b =
      if (bits >= 0) bits
      else miningBits(math.max(
        if (srcCount >= 0L) srcCount else src.select(col(idCol)).count(),
        if (tgtCount >= 0L) tgtCount else tgt.select(col(idCol)).count()))
    def side(half: DataFrame, idAs: String): DataFrame =
      signLshAssignments(half, idCol, vecCol, dim, b, tables)
        .select(col("t"), col("cell"), col("id").as(idAs))
    val cands = side(src, "src_id").join(side(tgt, "tgt_id"), Seq("t", "cell"))
      .select("src_id", "tgt_id")
    bitextMineFromCandidates(src, tgt, idCol, vecCol, cands, k, threshold)
  }

  def bitextMineFromCandidates(src: DataFrame, tgt: DataFrame,
                               idCol: String, vecCol: String,
                               candidates: DataFrame,
                               k: Int = 4, threshold: Double = 1.05): DataFrame = {
    val a = src.select(col(idCol).cast("long").as("src_id"), col(vecCol).as("av"))
    val b = tgt.select(col(idCol).cast("long").as("tgt_id"), col(vecCol).as("bv"))
    // persisted: candidate-bounded (not quadratic), and the margin tail
    // consumes it four times — released by the session's cache
    // discipline, the dedup_embedding_blocked pattern
    val sims = Pins.persist(candidates.select(col("src_id").cast("long"), col("tgt_id").cast("long"))
      .distinct()
      .join(a, "src_id").join(b, "tgt_id")
      .withColumn("sim", cosine(col("av"), col("bv")))
      .select("src_id", "tgt_id", "sim"))
    marginTail(sims, k, threshold)
  }

  /** The Artetxe-Schwenk margin tail over a (src_id, tgt_id, sim)
    * table: both neighborhood top-k averages (rank-ordered fixed sums —
    * engine-replayable), the margin, and the accepted best pair per
    * source. Shared verbatim by the brute-force and candidate-fed
    * variants: the criterion never changes, only candidate generation.
    */
  private def marginTail(sims: DataFrame, k: Int, threshold: Double): DataFrame = {
    // avg of the k best sims for each `keyCol`, summed in rank order
    // (rank i rides the posexplode position; ties are id-asc in the
    // aggregator, so the pivot is single-valued per position)
    def nnAvg(keyCol: String, otherCol: String, as: String): DataFrame = {
      val terms = (0 until k).map(i => max(when(col("pos") === i, col("sim"))))
      sims.groupBy(col(keyCol))
        .agg(graft.functions.Aggregators.topKByScore(col("sim"), col(otherCol), k).as("top"))
        .select(col(keyCol), posexplode(col("top")).as(Seq("pos", otherCol)))
        .join(sims, Seq(keyCol, otherCol))
        .groupBy(col(keyCol))
        .agg((terms.reduceLeft(_ + _) / lit(2.0 * k)).as(as))
    }
    val m = sims
      .join(nnAvg("src_id", "tgt_id", "ax"), "src_id")
      .join(nnAvg("tgt_id", "src_id", "ay"), "tgt_id")
      .withColumn("margin", col("sim") / (col("ax") + col("ay")))
      .filter(col("margin").isNotNull)
    m.groupBy(col("src_id"))
      .agg(graft.functions.Aggregators.topKByScore(col("margin"), col("tgt_id"), 1).as("top"))
      .select(col("src_id"), explode(col("top")).as("tgt_id"))
      .join(m.select("src_id", "tgt_id", "margin"), Seq("src_id", "tgt_id"))
      .filter(col("margin") >= threshold)
      .select("src_id", "tgt_id")
  }

  /** Near-dup pairs with IVF-cell blocking: only same-cell pairs are
    * compared — the scale path for [[cosinePairs]]' all-pairs join
    * (O(n²) -> O(Σ cell²)). Near-identical vectors share a nearest cell
    * unless they straddle a cell boundary, so recall is high but not 1;
    * the exact variant remains for oracle-checked workloads.
    */
  def cosinePairsBlocked(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, nCells: Int = 0, rep: Int = 2,
                         iters: Int = 2): DataFrame = {
    val cellCount = if (nCells > 0) nCells else autoCells(estimateRows(df))
    val cb = trainCodebook(df, idCol, vecCol, cellCount, iters)
    val assigned = assignCells(
      df.select(col(idCol).as("id"), col(vecCol).as("v")), "id", "v", cb, rep)
    val a = assigned.select(col("cell"), col("id").as("vec_a"), col("v").as("va"))
    val b = assigned.select(col("cell"), col("id").as("vec_b"), col("v").as("vb"))
    a.join(b, "cell")
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("sim", cosine(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select("vec_a", "vec_b")
      .distinct()                            // rep>1 can pair twice
  }

  /** Symmetric per-vector int8 quantization — the standard 4× embedding
    * storage/serving reduction: scale = max|v_i| / 127, q_i =
    * round(v_i / scale) ∈ [-127, 127]; reconstruction v̂_i = q_i·scale
    * has per-element error ≤ scale/2. A pure row-local projection
    * (shuffle-free at any size); the all-zero vector quantizes to zeros
    * with scale 0. Deterministic and SQL-replayable (same double
    * arithmetic, round-half-away-from-zero on both engines).
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    require(!Set("v", "scale", "qvec").contains(idCol),
      s"id column '$idCol' collides with a quantizeInt8 working column")
    df.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))) / 127.0)
      .select(col(idCol), col("scale"),
        when(col("scale") === 0.0,
          transform(col("v"), _ => lit(0)))
          .otherwise(transform(col("v"), x => round(x / col("scale")).cast("int")))
          .as("qvec"))
  }

  /** Deterministic Johnson-Lindenstrauss projection over INT8-quantized
    * embeddings — the cheap-ANN / sketch-the-embedding dimension
    * reducer, made ENGINE-PORTABLE by keeping every arithmetic step
    * exact: codes from [[quantizeInt8]], a ±1 Rademacher sign matrix
    * derived from an md5 parity law (sign(j,i) = +1 iff the first hex
    * digit of md5("j:i") is even — replayable in any SQL engine with
    * md5), and integer dot products (|p| <= 127·inDim, no float sums
    * whose association order could differ between engines). The JL
    * guarantee needs only sign randomness quality, not floats; the
    * 1/sqrt(outDim) scaling is left to the (float) consumer.
    *
    * Scale: the sign matrix is an outDim x inDim literal (driver
    * artifact, bytes); projection is a ROW-LOCAL map — the whole
    * operator is shuffle-free (plan-pinned), long format
    * (id, j, p) per output coordinate.
    */
  def jlProject(df: DataFrame, idCol: String, vecCol: String,
                outDim: Int): DataFrame = {
    require(outDim >= 1, s"outDim must be positive: $outDim")
    val inDim = df.select(size(col(vecCol))).head().getInt(0)
    val signs: Seq[Seq[Int]] =
      (0 until outDim).map(j => (0 until inDim).map(i => jlSign(j, i)))
    val q = quantizeInt8(df, idCol, vecCol)
    q.select(col(idCol), col("qvec"),
        posexplode(typedLit(signs)).as(Seq("j", "srow")))
      .select(col(idCol), col("j").cast("long").as("j"),
        aggregate(zip_with(col("qvec"), col("srow"), (x, s) => x * s),
          lit(0L), (acc, x) => acc + x).as("p"))
  }

  /** The sign law, shared with the SQL oracle:
    * +1 iff the first hex digit of md5("j:i") is even.
    */
  private[graft] def jlSign(j: Int, i: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$j:$i".getBytes("UTF-8"))
    if (((d(0) >> 4) & 0xF) % 2 == 0) 1 else -1
  }

  /** All `salts.size` seed codebooks in ONE pass over the base: every
    * row fans out to (salt, md5(id:salt), id, vec) and a bounded
    * bottom-k aggregator keeps the `nCells` lowest-hash rows per salt —
    * map-side partials carry ≤ nCells rows per (partition, salt), so
    * the single scan replaces `salts.size` separate TakeOrdered jobs.
    * Per-salt results match [[codebook]] exactly (same ranking key,
    * same normalization, same id-sorted order).
    */
  def codebooks(base: DataFrame, idCol: String, vecCol: String, nCells: Int,
                salts: Seq[Int]): Map[Int, Seq[(Long, Array[Double])]] = {
    import org.apache.spark.sql.Row
    val e = base.select(col(idCol).cast("long").as("a_id"),
      col(vecCol).cast("array<double>").as("av"))
    val salted = e.select(explode(array(salts.map(t =>
        struct(lit(t).as("t"),
          md5(concat(col("a_id").cast("string"), lit(s":$t"))).as("hk"),
          col("a_id"), col("av"))): _*)).as("s"))
      .select(col("s.t").as("t"), col("s.hk").as("hk"),
        col("s.a_id").as("a_id"), col("s.av").as("av"))
    salted.groupBy("t")
      .agg(udaf(BottomKByKey(nCells)).apply(col("hk"), col("a_id"), col("av")).as("top"))
      .collect()
      .map { r =>
        val top = r.getSeq[Row](1).map { s =>
          val v = s.getSeq[Double](2).toArray
          val n = math.sqrt(v.map(x => x * x).sum)
          (s.getLong(1), v.map(_ / n))
        }.sortBy(_._1)
        r.getInt(0) -> top.toSeq
      }.toMap
  }

  /** Bounded bottom-k by string key: keeps the k smallest (key, id, vec)
    * rows, map-side combinable (the codebook-seed analog of
    * Aggregators.TopKByScore).
    */
  private case class BottomKByKey(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (String, Long, Seq[Double]),
        Vector[(String, Long, Seq[Double])],
        Seq[(String, Long, Seq[Double])]] {
    private def lt(a: (String, Long, Seq[Double]), b: (String, Long, Seq[Double])): Boolean =
      a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)
    def zero: Vector[(String, Long, Seq[Double])] = Vector.empty
    def reduce(b: Vector[(String, Long, Seq[Double])],
               a: (String, Long, Seq[Double])): Vector[(String, Long, Seq[Double])] =
      if (b.length >= k && lt(b.last, a)) b          // O(1) reject path
      else (b :+ a).sortWith(lt).take(k)
    def merge(a: Vector[(String, Long, Seq[Double])],
              b: Vector[(String, Long, Seq[Double])]): Vector[(String, Long, Seq[Double])] =
      (a ++ b).sortWith(lt).take(k)
    def finish(r: Vector[(String, Long, Seq[Double])]): Seq[(String, Long, Seq[Double])] = r
    def bufferEncoder: org.apache.spark.sql.Encoder[Vector[(String, Long, Seq[Double])]] =
      org.apache.spark.sql.Encoders.kryo
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[(String, Long, Seq[Double])]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(String, Long, Seq[Double])]]()
  }

  /** Near-dup pairs via multi-table LSH blocking — `tables` independent
    * seeded codebooks (salted id-hash seeds, NO training, so the whole
    * blocking is deterministic and replayable by a SQL oracle), each
    * vector in its top-`rep` cells per table, candidates from the
    * per-table (table, cell) equi-join, verified by exact cosine.
    *
    * Sizing bound: with `nCells` ∝ n (the constant-bucket-population
    * sizing) the codebook scoring pass costs n·cells dot products and
    * the codebooks are O(n) driver artifacts — fine to ~10⁵ rows,
    * past which the [[signLshCells]] hyperplane blocking (O(n·log n)
    * assignment, O(log n) artifact — the [[bitextMineLsh]] recipe) is
    * the scale path for candidate generation.
    *
    * Union-of-tables recall: a pair is kept if the two vectors share a
    * cell in ANY table — 1-(1-p)^L against a single codebook's p, the
    * standard multi-hash-table ANN trade (candidate volume grows ~L×,
    * recall approaches 1). Every join is an equi-join; nothing in the
    * plan is quadratic in the table size.
    *
    * Scan discipline: the seed rankings for ALL tables come from one
    * aggregation pass ([[codebooks]]), and cell assignment is ONE
    * projection — each row scores itself against all `tables` broadcast
    * codebooks and explodes its (t, cell) pairs — so the executed
    * candidate plan scans the base once per join side (≤2 scans,
    * plan-asserted), not once per table per side.
    */
  def cosinePairsLsh(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, nCells: Int, rep: Int = 2,
                     tables: Int = 6, maxBucket: Int = 0): DataFrame = {
    boundedCandidates(
      lshAssignments(df, idCol, vecCol, nCells, rep, tables),
      maxBucket)(pairScoreTail(_, threshold))
  }

  /** The thresholded-pair scoring tail shared by the codebook
    * ([[cosinePairsLsh]]) and sign-hyperplane ([[cosinePairsSignLsh]])
    * blockings, over any (t, cell, id, v, nrm) assignment table: score
    * IN PLACE on the candidate join (a pair met in several (t, cell)
    * buckets recomputes an identical codegen'd dot — a few map-local
    * flops), then dedupe only the thresholded 16-byte id pairs. A
    * pre-scoring distinct would shuffle BOTH vectors per candidate row
    * — the one non-narrow shuffle, the part that could not survive a
    * 100x scale-up. Norms ride the assignment rows (computed once per
    * vector), so each candidate costs ONE dot product, not three.
    */
  private def pairScoreTail(assigned: DataFrame, threshold: Double): DataFrame = {
    val a = assigned.select(col("t"), col("cell"),
      col("id").as("vec_a"), col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("t"), col("cell"),
      col("id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("t", "cell"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("sim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("sim") >= threshold)
      .select("vec_a", "vec_b")
      .distinct()
  }

  /** Run `consume` over the assignment table with (t, cell) buckets
    * larger than `maxBucket` dropped ([[Buckets.cap]]: one vector
    * repeated 100k× puts every copy in the same cells). The cap
    * persists the assignments — its bucket-count aggregation AND both
    * sides of the downstream self-join read them, so unpersisted the
    * base scan + codebook aggregation + cell-scoring projection would
    * run three times instead of once — and the (small) result is then
    * pinned eagerly so the persist is released before returning: the
    * dedup family's `materialize` discipline, here mandatory because
    * the operator owns the persist.
    */
  private def boundedCandidates(assigned: DataFrame, maxBucket: Int)
                               (consume: DataFrame => DataFrame): DataFrame =
    if (maxBucket <= 0) consume(assigned)
    else Pins() { pins =>
      pins.keep(pins.pin(consume(
        Buckets.cap(pins.persist(assigned), Seq("t", "cell"), maxBucket))))
    }

  /** The deterministic multi-table LSH assignment shared by
    * [[cosinePairsLsh]] and [[knnJoinLsh]]: every row fans out to its
    * top-`rep` cells in each of `tables` salted seed codebooks. Seed
    * rankings come from ONE aggregation pass ([[codebooks]]) and
    * assignment is ONE projection (each row scores itself against all
    * broadcast codebooks and explodes its (t, cell) pairs) — ≤2 scans
    * of the base in any consumer's executed plan, not 2·tables.
    */
  private def lshAssignments(df: DataFrame, idCol: String, vecCol: String,
                             nCells: Int, rep: Int, tables: Int): DataFrame = {
    // `nrm` rides the assignment row so candidate scoring divides by it
    // instead of re-deriving both norms per candidate pair: the norm is
    // computed once per vector (before the (t, cell) fan-out), cutting
    // the candidate-join hot loop from 3 dot products to 1. Bit-equal to
    // cosine(): same dot, same sqrt, same multiply/divide order.
    val e = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", l2norm(col("v")))
    // salts 1..tables: uniformly salted, so a SQL oracle replays every
    // table's seed ranking with ONE expression (md5(id || ':' || t)).
    // nearest_cell_ids (NOT transform(nearest_cells, ...)): ArrayTransform
    // is a higher-order function, which disables whole-stage codegen for
    // the enclosing projection — the fused expression keeps the whole
    // assignment (scoring + id mapping + both explodes) inside codegen.
    val cbs = codebooks(df, idCol, vecCol, nCells, 1 to tables)
    val perTable = array((1 to tables).map { t =>
      val cb = cbs(t)
      struct(lit(t).as("t"),
        graft.functions.VectorExpressions.nearest_cell_ids(
          col("v"), cb.map(_._2.toSeq), cb.map(_._1), rep).as("cs"))
    }: _*)
    // explicit hash shuffle on the join keys: the candidate self-join is
    // a narrow pipeline over the scan otherwise, and a small fixture (one
    // parquet row group = one split) would run ALL candidate scoring on
    // one core — while at cluster scale a (t, cell) exchange is exactly
    // the plan a non-broadcastable self-join takes anyway. The explicit
    // count (the session's shuffle parallelism) keeps AQE from size-
    // coalescing compute-heavy-but-byte-small partitions back to one.
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    e.select(col("id"), col("v"), col("nrm"), explode(perTable).as("tc"))
      .select(col("tc.t").as("t"), col("id"), col("v"), col("nrm"),
        explode(col("tc.cs")).as("cell"))
      .select(col("t"), col("cell"), col("id"), col("v"), col("nrm"))
      .repartition(parts, col("t"), col("cell"))
  }

  /** k-nearest-neighbor SELF-join: every vector's top-k cosine
    * neighbors among its multi-table-LSH candidates — the semantic-
    * clustering / near-dup-audit primitive (per-doc neighbor lists,
    * where [[cosinePairsLsh]] emits thresholded pairs). The blocking is
    * the same deterministic seeded recipe, so a SQL oracle replays it
    * exactly; candidates join on (t, cell) equi-keys only, and the
    * only shuffle after candidate generation is the bounded top-k
    * merge (≤ k rows per (partition, query) map-side). Neighbor lists
    * are exact WITHIN the candidate set; end-to-end recall vs brute
    * force is a spec'd property, as with the dedup LSH family.
    */
  def knnJoinLsh(df: DataFrame, idCol: String, vecCol: String, k: Int,
                 nCells: Int = 0, rep: Int = 2, tables: Int = 6,
                 maxBucket: Int = 0): DataFrame = {
    // candidate volume per vector is ~tables·rep²·(base/cells): scale
    // cells with an EXACT count (parquet metadata job; exact so a SQL
    // oracle replays GREATEST(32, n // 64) identically) to hold per-cell
    // population ≈ 64 — constant per-vector candidate work at any size.
    // Same flat-codebook bound as cosinePairsLsh: the n·cells scoring
    // pass and the O(n) codebook artifacts hold to ~10⁵ rows; past
    // that, block with signLshCells (the bitextMineLsh recipe) and
    // keep this scoring tail
    val cells =
      if (nCells > 0) nCells
      else math.max(32, (df.count() / 64).toInt)
    boundedCandidates(
      lshAssignments(df, idCol, vecCol, cells, rep, tables),
      maxBucket)(knnScoreTail(_, k))
  }

  /** The k-NN scoring tail shared by the codebook ([[knnJoinLsh]]) and
    * sign-hyperplane ([[knnJoinSignLsh]]) blockings, over any
    * (t, cell, id, v, nrm) assignment table. No candidate distinct: a
    * (q, n) pair met in several buckets scores the identical cosine
    * each time, and TopKByScore keeps one entry per n_id (best score)
    * — so duplicates cost a few map-local flops instead of a
    * full-width shuffle of both vectors per candidate row. Norms ride
    * the assignment rows (once per vector), so each candidate costs
    * ONE dot product, not three — and only the q < n half of the
    * symmetric self-join computes it: the scored row explodes into
    * both directions in the same stage (dot and norms commute bitwise,
    * so the mirrored sim is bit-equal to scoring (n, q) directly).
    * Halves the hot loop again.
    */
  private def knnScoreTail(assigned: DataFrame, k: Int): DataFrame = {
    val a = assigned.select(col("t"), col("cell"),
      col("id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val b = assigned.select(col("t"), col("cell"),
      col("id").as("n_id"), col("v").as("nv"), col("nrm").as("nn"))
    val scored = a.join(b, Seq("t", "cell"))
      .filter(col("q_id") < col("n_id"))
      .withColumn("sim", dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
      .select(explode(array(
        struct(col("q_id"), col("n_id"), col("sim")),
        struct(col("n_id").as("q_id"), col("q_id").as("n_id"), col("sim")))).as("p"))
      .select(col("p.q_id").as("q_id"), col("p.n_id").as("n_id"),
        col("p.sim").as("sim"))
    topKRank(scored, k)
  }

  /** Per-dimension distribution stats over 1e-6-quantized embedding
    * components — the drift/collapse monitor an embedding pipeline runs
    * at corpus scale (a dimension whose spread collapses to a point or
    * whose mean drifts flags a broken encoder shard before it poisons
    * dedup/ANN downstream). posexplode is row-local; ONE map-side-
    * combined aggregation shuffles dim-many (dim, partials) rows total.
    * Every emitted quantity is an exact integer (BIGINT sums,
    * decimal(38,0) for the squares — components quantize to ≤ ~1e6·|x|,
    * so squares stay ≤ 1e12·x² and even 10¹² rows fit 38 digits), hence
    * order-independent and bit-replayable by a SQL oracle; sum_sq rides
    * as a string, the representation-stable carrier for decimal(38,0).
    */
  def dimStats(df: DataFrame, vecCol: String): DataFrame = {
    val q = df.select(
      posexplode(transform(col(vecCol),
        x => round(x.cast("double") * 1000000).cast("long")))
        .as(Seq("dim", "q")))
    val dec = col("q").cast("decimal(38,0)")
    q.groupBy(col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("q")).as("sum_q"),
        min(col("q")).as("min_q"),
        max(col("q")).as("max_q"),
        sum(when(col("q") === 0L, 1L).otherwise(0L)).as("n_zero"),
        sum(dec * dec).cast("decimal(38,0)").cast("string").as("sum_sq"))
  }
}
