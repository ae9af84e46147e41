package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Document deduplication for training-data pipelines: exact, word-shingle
  * Jaccard, and MinHash-LSH near-dup detection (scale extensions; SURVEY
  * §7.5 — not reference parity, but first-class engine surface).
  *
  * Portability-by-construction: every hash is md5-as-hex-string so the
  * DuckDB oracle can replay the exact pipeline; every similarity is an
  * integer ratio. Scale design: shingling is one narrow projection
  * (no shuffle); the minhash index signs each document inside its row
  * (the `minhash_signature` kernel, no shuffle), and the self-join paths,
  * which keep a shingle-hash table for exact Jaccard anyway, aggregate
  * it with `numPerm` codegen'd `min` columns (map-side partial agg, state
  * O(1) per doc — never an exploded doc×perm shuffle); LSH banding turns
  * the quadratic all-pairs problem into an equi-join on (band, bandHash).
  */
object Dedup {

  /** Whitespace tokens, empty tokens dropped. Routed through the
    * codegen'd [[graft.functions.WordTokens]] kernel — the declarative
    * `filter(split(text, "\\s+"), _ =!= "")` is an ArrayFilter HOF,
    * which evaluates interpreted; same result, same null contract.
    */
  def tokens(text: Column): Column =
    graft.functions.TextExpressions.word_tokens(text)

  /** Local mirror of [[tokens]] (same split, same empty-drop) for
    * driver/executor-side code that tokenizes outside a Column plan. */
  def tokensLocal(s: String): Seq[String] =
    s.split("\\s+").toIndexedSeq.filter(_.nonEmpty)

  /** Exact dedup: group by content hash, keep the smallest id
    * (the distinct/identity-reducer pattern, mapred/lib/IdentityReducer.java,
    * upgraded with a content digest so only the 16-byte hash shuffles,
    * not the document body).
    */
  def exact(df: DataFrame, id: String, text: String): DataFrame =
    df.groupBy(md5(col(text)).as("h"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Word k-gram shingles straight from a text column: [[tokens]]
    * joined k at a time with single spaces, in token order, inside the
    * row (the codegen'd [[graft.functions.WordShingles]] kernel). Empty
    * when the text has fewer than k tokens or is null. */
  def textShingles(text: Column, k: Int): Column =
    graft.functions.TextExpressions.word_shingles(text, k)

  /** Distinct (id, shingle) pairs. */
  def shingleTable(df: DataFrame, id: String, text: String, k: Int): DataFrame =
    df.select(col(id), explode(textShingles(col(text), k)).as("sh"))
      .distinct()

  /** The 60-bit hash halves of a shingle — THE hash recipe every
    * consumer (shingleHashes, contamRatio, the DuckDB oracles) must
    * share; a divergent copy would silently empty every intersection.
    */
  def h1(sh: Column): Column =
    conv(substring(md5(sh), 1, 15), 16, 10).cast("long")
  def h2(sh: Column): Column =
    conv(substring(md5(sh), 17, 15), 16, 10).cast("long")

  /** Shingles reduced to their Carter-Wegman hash halves: ONE md5 per
    * (doc, shingle) yields h1/h2 (60-bit hex halves). Downstream
    * self-joins and frequency counts key on `h1` — a long, not the
    * shingle string — so the shuffle carries 8 bytes per shingle instead
    * of the text. h2 feeds the minhash permutations. Identical-by-
    * construction in the DuckDB oracle ('0x'||substr(md5(sh),...)).
    */
  def shingleHashes(shingles: DataFrame, id: String): DataFrame =
    shingles.select(col(id), h1(col("sh")).as("h1"), h2(col("sh")).as("h2"))

  /** [[shingleTable]]∘[[shingleHashes]] for the hot path the
    * dedup/decontamination queries share: the grams come from
    * [[gramRows]] (shingling and md5 run inside each row), and the
    * distinct dedups AFTER hashing, so its one shuffle carries 24-byte
    * (id, h1, h2) rows, never shingle strings. That shuffle clusters on
    * the id alone, so the consumers' per-doc aggregations and id joins
    * (signatures, sizes, n_grams) reuse its partitioning instead of
    * shuffling again. distinct-on-string == distinct-on-(h1,h2) up to
    * 120-bit md5 collisions; downstream joins key on the hash either way.
    */
  def shingleHashTable(df: DataFrame, id: String, text: String, k: Int): DataFrame =
    shingleHashes(gramRows(df, id, text, k).select(col(id), col("sh")), id)
      .repartition(col(id)).distinct()

  /** (id, pos, sh): the word k-gram starting at each token position of
    * each row — [[textShingles]] exploded with its positions, so `pos`
    * is the gram's first token index. One row-local projection, no
    * token shuffle, sort or window, and a row yields its own grams even
    * when ids repeat. Every per-gram consumer reads it:
    * [[shingleHashTable]], [[repetitionStats]], the span and substring
    * passes, and [[fingerprints]].
    */
  private[graft] def gramRows(df: DataFrame, id: String, text: String, k: Int): DataFrame = {
    require(k >= 1, "shingle size must be >= 1")
    df.select(col(id), posexplode(textShingles(col(text), k)).as(Seq("pos", "sh")))
  }

  /** Exact Jaccard-similar pairs >= threshold, candidate generation by
    * shared shingle. `maxDf` > 0 drops stop-shingles (document frequency
    * above the cap, [[Buckets.cap]]) BEFORE the self-join: "the quick
    * brown" in 1M docs is 10¹² candidates and no near-dup evidence.
    * Jaccard is then computed over the capped shingle universe on both
    * sides of the ratio (standard stop-shingle practice).
    */
  def jaccardPairs(shingles: DataFrame, id: String, threshold: Double,
                   maxDf: Int = 0): DataFrame = {
    val kept = Buckets.cap(shingles, Seq("sh"), maxDf)
    val sizes = kept.groupBy(col(id)).agg(count(lit(1)).as("n"))
    // EXPLICIT partition count on the self-join key: the join's input
    // bytes are small but its output EXPLODES (pairs per shared
    // shingle), and AQE's bytes-based coalescing, which only sees the
    // input, would run the expansion plus the pair count on 1-2
    // partitions. An explicit count is exempt from AQE coalescing; the
    // configured shuffle parallelism is exactly the cluster-sized
    // value at scale. The downstream pair aggregation re-sizes from
    // the REAL post-explosion bytes, so only this exchange is pinned.
    val par = kept.sparkSession.sessionState.conf.numShufflePartitions
    val keyed = kept.repartition(par, col("sh"))
    val a = keyed.select(col(id).as("doc_a"), col("sh").as("sh_a"))
    val b = keyed.select(col(id).as("doc_b"), col("sh").as("sh_b"))
    val inter = a.join(b, col("sh_a") === col("sh_b") && col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    val jac = col("n_inter").cast("double") /
      (col("na") + col("nb") - col("n_inter"))
    inter
      .join(sizes.select(col(id).as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col(id).as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_inter"), jac.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash signature as `numPerm` min-aggregated hash columns s0..sN-1.
    *
    * Carter-Wegman construction: ONE md5 per shingle yields two 60-bit
    * values h1, h2 (hex halves); permutation i is (h1 + i*h2) mod p.
    * 16x fewer digest computations than salting the shingle per
    * permutation, still seedless/portable (the oracle replays the same
    * arithmetic), aggregated in a single groupBy pass with numPerm
    * codegen'd `min` columns.
    */
  def minhashSignatures(shingles: DataFrame, id: String, numPerm: Int): DataFrame =
    minhashSignaturesFromHashes(shingleHashes(shingles, id), id, numPerm)

  /** Signature aggregation over a pre-hashed shingle table (h1, h2):
    * for [[nearDuplicates]] and [[fuzzyDecontaminate]], which keep that
    * table to verify exact Jaccard. A path that needs only signatures
    * signs each row with [[minhashSignatureArray]] instead, with equal
    * values and no shuffle.
    */
  def minhashSignaturesFromHashes(hashes: DataFrame, id: String, numPerm: Int): DataFrame = {
    val p = 1000000007L
    val mins = (0 until numPerm).map { i =>
      min((col("h1") % p + lit(i.toLong) * (col("h2") % p)) % p).as(s"s$i")
    }
    hashes.groupBy(col(id)).agg(mins.head, mins.tail: _*)
  }

  /** LSH banding: hash each run of `rowsPerBand` signature slots; docs
    * colliding in any band become candidate pairs (equi-join, no
    * quadratic blowup). `maxBucket` > 0 caps per-(band, hash) bucket
    * membership ([[Buckets.cap]]): an exact-dup-heavy corpus puts
    * identical signatures in one bucket.
    */
  def minhashCandidates(shingles: DataFrame, id: String,
                        numPerm: Int, rowsPerBand: Int,
                        maxBucket: Int = 0): DataFrame =
    minhashCandidatesFromHashes(minhashSignatures(shingles, id, numPerm),
      id, numPerm, rowsPerBand, maxBucket)

  /** (id, band, bh) band table over a signature table s0..sN-1, with the
    * per-(band, hash) bucket cap applied. Shared by the self-join
    * candidates ([[minhashCandidatesFromHashes]]), the incremental index
    * and the cross-corpus join ([[fuzzyDecontaminate]]).
    */
  private def bandTable(sig: DataFrame, id: String,
                        numPerm: Int, rowsPerBand: Int,
                        maxBucket: Int): DataFrame = {
    val nBands = numPerm / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      val slots = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => col(s"s$i").cast("string"))
      struct(lit(b).as("band"), md5(concat_ws(",", slots: _*)).as("bh"))
    }
    Buckets.cap(
      sig.select(col(id), explode(array(bandStructs: _*)).as("bb"))
        .select(col(id), col("bb.band").as("band"), col("bb.bh").as("bh")),
      Seq("band", "bh"), maxBucket)
  }

  /** LSH banding over a precomputed signature table s0..sN-1. */
  def minhashCandidatesFromHashes(sig: DataFrame, id: String,
                                  numPerm: Int, rowsPerBand: Int,
                                  maxBucket: Int = 0): DataFrame =
    // uncapped bands: pairs applies the cap
    Buckets.pairs(bandTable(sig, id, numPerm, rowsPerBand, maxBucket = 0), id,
        Seq("band", "bh"), maxBucket)
      .select(col(s"${id}_a").as("doc_a"), col(s"${id}_b").as("doc_b")).distinct()

  /** The corpus-side artifact of INCREMENTAL near-dup detection: minhash
    * signatures plus their banded buckets, built once over the existing
    * corpus and persisted ([[saveMinhashIndex]]; the parameters and the
    * build-time bucket cap travel in the case class so a probe can never
    * silently run with mismatched shingle/band settings against a stored
    * index).
    *
    * Why signatures and not shingle sets: the index must stay FIXED-WIDTH
    * per document (numPerm longs + nBands bucket keys ≈ 300 bytes at
    * 16/4) so a 100 TB corpus indexes into low terabytes — storing
    * shingle sets would be a second copy of the corpus. The price is
    * that probe verification uses the signature-AGREEMENT estimator of
    * Jaccard (unbiased, matching slots / numPerm) instead of the exact
    * shingle ratio; pairs a pipeline wants exact evidence for can be
    * re-verified with [[fuzzyDecontaminate]] over just the flagged docs.
    */
  final case class MinhashIndex(signatures: DataFrame, bands: DataFrame,
                                k: Int, numPerm: Int, rowsPerBand: Int,
                                maxBucket: Int = 0)

  /** `df` with its minhash signature ([[minhashSignatureArray]]) as a
    * last column `sig`, rows with fewer than k tokens dropped. The kernel
    * runs inside a one-element explode, so it signs each row once: a
    * null filter over a projected signature would be pushed below the
    * projection and sign every row twice.
    */
  def withSignature(df: DataFrame, text: String, k: Int, numPerm: Int): DataFrame =
    df.select(col("*"), explode(array(minhashSignatureArray(col(text), k, numPerm))).as("sig"))
      .filter(col("sig").isNotNull)

  /** (id, s0..sN-1): the minhash signature of every document with at
    * least k tokens, computed inside its row ([[withSignature]]) and
    * spread into slot columns — map-only, no token shuffle, sort or
    * window. Equal to `minhashSignaturesFromHashes(shingleHashTable(df,
    * id, text, k), id, numPerm)` when ids are unique per input row; each
    * row yields its own signature row, so a repeated id yields one row
    * per copy.
    */
  private def signatureTable(df: DataFrame, id: String, text: String,
                             k: Int, numPerm: Int): DataFrame =
    withSignature(df.select(col(id), col(text)), text, k, numPerm)
      .select(col(id) +: (0 until numPerm).map(i => col("sig")(i).as(s"s$i")): _*)

  /** Build the [[MinhashIndex]] for a corpus: one row-local signature
    * projection ([[signatureTable]]), one band projection (the banding of
    * [[nearDuplicates]] — `maxBucket` caps degenerate buckets at build
    * time so they never reach any probe's join). Ids must be unique per
    * input row.
    */
  def buildMinhashIndex(df: DataFrame, id: String, text: String, k: Int,
                        numPerm: Int, rowsPerBand: Int,
                        maxBucket: Int = 0): MinhashIndex = {
    val sig = signatureTable(df, id, text, k, numPerm)
    MinhashIndex(sig, bandTable(sig, id, numPerm, rowsPerBand, maxBucket),
      k, numPerm, rowsPerBand, math.max(maxBucket, 0))
  }

  /** Dedup an incoming batch against an existing corpus WITHOUT touching
    * the corpus again — the incremental form of [[nearDuplicates]], the
    * shape that matters operationally: a crawl lands daily, the corpus
    * is petabytes, and re-running the self-join over corpus∪batch would
    * re-pay the full corpus cost per batch. Here the batch (small side)
    * is signed row-locally ([[signatureTable]]) and banded fresh;
    * candidates come from the band equi-join against the PRE-BUILT
    * index buckets (AQE broadcasts the batch side); verification is the
    * signature-agreement estimate n_agree/numPerm — row-local once the
    * two fixed-width signature rows meet. Batch ids must be unique per
    * row.
    * Returns (new_id, corpus_id, n_agree, est_jaccard) for every
    * batch doc whose estimated Jaccard against a corpus doc meets
    * `threshold`; a pipeline drops or flags those new_ids, then appends
    * the survivors' signatures to the index ([[appendMinhashIndex]]).
    */
  def probeMinhashIndex(batch: DataFrame, id: String, text: String,
                        index: MinhashIndex, threshold: Double,
                        maxBucket: Int = 0,
                        @deprecated("the batch signatures are a row-local " +
                          "projection; the flag is ignored", "0.1.0")
                        materialize: Boolean = false): DataFrame = {
    val n = index.numPerm
    val bsig = signatureTable(batch, id, text, index.k, n)
    val bands = bandTable(bsig, id, n, index.rowsPerBand, maxBucket)
    val cand = bands.select(col(id).as("new_id"), col("band"), col("bh"))
      .join(index.bands.select(col(id).as("corpus_id"), col("band"), col("bh")),
        Seq("band", "bh"))
      .select("new_id", "corpus_id").distinct()
    val a = bsig.select(col(id).as("new_id") +:
      (0 until n).map(i => col(s"s$i").as(s"a$i")): _*)
    val b = index.signatures.select(col(id).as("corpus_id") +:
      (0 until n).map(i => col(s"s$i").as(s"b$i")): _*)
    val agree = (0 until n)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    cand.join(a, "new_id").join(b, "corpus_id")
      .withColumn("n_agree", agree)
      .withColumn("est_jaccard", col("n_agree").cast("double") / n)
      .filter(col("est_jaccard") >= threshold)
      .select("new_id", "corpus_id", "n_agree", "est_jaccard")
  }

  /** Save a [[MinhashIndex]] through [[IndexStore]]: ONE table,
    * `signatures`, keyed on the id. The band table is a pure projection
    * of the signatures, so [[loadMinhashIndex]] re-derives it (lazy
    * lineage — the probe's band join evaluates it exactly once, the
    * same scan cost as reading a second persisted table). The manifest
    * records the minhash parameters, the index's own BUILD-time bucket
    * cap and the id column name; a `maxBucket` given here must equal
    * that cap (negative: not given).
    */
  def saveMinhashIndex(index: MinhashIndex, path: String, id: String,
                       maxBucket: Int = -1): Unit = {
    require(index.signatures.columns.contains(id),
      s"id column '$id' not in index signatures " +
        s"(${index.signatures.columns.mkString(", ")})")
    require(maxBucket < 0 || math.max(maxBucket, 0) == index.maxBucket,
      s"maxBucket $maxBucket disagrees with the index's build-time cap ${index.maxBucket}")
    IndexStore.save(path, Map("k" -> index.k.toString,
        "num_perm" -> index.numPerm.toString, "rows_per_band" -> index.rowsPerBand.toString,
        "max_bucket" -> index.maxBucket.toString, "id_col" -> id),
      ("signatures", index.signatures, Seq(id)))
  }

  /** Restore the index: signatures deduped on the id (a crashed append
    * retried is thereby IDEMPOTENT — duplicate signature rows collapse
    * before any probe sees them), bands derived with the saved
    * parameters and cap.
    */
  def loadMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String): MinhashIndex = {
    val ix = IndexStore.load(spark, path)
    val p = ix.params
    val (n, rpb, cap) = (p("num_perm").toInt, p("rows_per_band").toInt, p("max_bucket").toInt)
    val sig = ix.tables("signatures")
    MinhashIndex(sig, bandTable(sig, p("id_col"), n, rpb, cap), p("k").toInt, n, rpb, cap)
  }

  /** The daily-crawl APPEND: sign `docs` with the saved index's own
    * parameters and append them to the ONE signatures table — the index
    * never rebuilds and the corpus is never rescanned. A retry after a
    * crash is safe (load dedups on id); a mismatched id column realigns
    * to the saved name, and a differently-typed one fails the store's
    * schema check. Callers append the batch's SURVIVORS (after
    * [[probeMinhashIndex]] + anti-join of flagged near-dups), so
    * appended content is novel by construction.
    */
  def appendMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String, docs: DataFrame, id: String,
                         text: String): Unit =
    IndexStore.append(spark, path, "signatures") { p =>
      signatureTable(docs, id, text, p("k").toInt, p("num_perm").toInt)
        .withColumnRenamed(id, p("id_col"))
    }

  /** ROW-LOCAL minhash signature as an array<long> of length `numPerm` —
    * the same Carter-Wegman values [[minhashSignaturesFromHashes]]
    * aggregates over [[shingleHashTable]], computed inside one row by the
    * codegen'd `minhash_signature` kernel
    * ([[graft.functions.MinhashKernel]]: one MD5 per shingle, fed the
    * tokens' UTF-8 bytes, and one pass over the numPerm running mins).
    * NULL when the document has fewer than k tokens; min over the
    * multiset equals min over the distinct set, so no per-doc dedup is
    * needed and parity with the grouped form is exact.
    *
    * Every signature path that needs no shingle table runs on it: the
    * index build, probe and append ([[signatureTable]]) and the streaming
    * gate (StreamingOps.streamDedupGate), where an append-mode stream
    * could not run the grouped form without watermark state.
    */
  def minhashSignatureArray(text: Column, k: Int, numPerm: Int): Column =
    graft.functions.TextExpressions.minhash_signature(text, k, numPerm)

  /** The band-b bucket hash of a signature ARRAY — byte-identical to
    * [[bandTable]]'s md5(concat_ws(",", slots)) over signature columns,
    * so row-local (streaming) banding collides with index buckets built
    * by the batch lane. `rowsPerBand` slots starting at b*rowsPerBand.
    */
  def bandHashOfArray(sig: Column, b: Int, rowsPerBand: Int): Column =
    md5(array_join(
      transform(slice(sig, b * rowsPerBand + 1, rowsPerBand),
        s => s.cast("string")), ","))

  /** FUZZY eval-set decontamination: near-duplicate (not just
    * n-gram-overlap) matches between a training corpus and an eval set.
    * [[evalOverlap]] catches verbatim contamination; an eval answer
    * that was lightly paraphrased or reformatted slips past exact
    * n-gram membership but still collides in MinHash bands. This is
    * the cross-corpus variant of [[nearDuplicates]]: band EQUI-join
    * corpus×eval (never a self-join, never all-pairs), candidates
    * verified by exact Jaccard over the shingle-hash sets.
    *
    * Scale shape: both sides reduce to 8-byte shingle hashes; the band
    * join's eval side is small (eval suites are thousands of docs, the
    * corpus is billions) so AQE broadcasts it; `maxBucket` caps
    * degenerate buckets on BOTH sides (boilerplate shared by corpus
    * and eval would otherwise make the cross join a dups_a×dups_b
    * blowup). Output: (doc_id, eval_id, n_inter, jaccard) per match
    * >= threshold; a pipeline drops or flags matched doc_ids.
    */
  def fuzzyDecontaminate(corpus: DataFrame, eval: DataFrame,
                         id: String, text: String, k: Int,
                         numPerm: Int, rowsPerBand: Int, threshold: Double,
                         maxBucket: Int = 0): DataFrame =
    fuzzyDecontaminateFromHashes(
      Pins.persist(shingleHashTable(corpus, id, text, k)),
      Pins.persist(shingleHashTable(eval, id, text, k)),
      id, numPerm, rowsPerBand, threshold, maxBucket)

  /** The hash-level form of [[fuzzyDecontaminate]]: when the eval set
    * IS a slice of the corpus (the common leakage audit), derive both
    * sides by filtering ONE persisted shingle-hash table instead of
    * shingling from two source scans — the [[evalOverlapFromHashes]]
    * discipline. Callers own persistence of `ch`/`eh` (each feeds the
    * signature build, the size count, and the verify join).
    */
  def fuzzyDecontaminateFromHashes(ch: DataFrame, eh: DataFrame,
                                   id: String, numPerm: Int,
                                   rowsPerBand: Int, threshold: Double,
                                   maxBucket: Int = 0): DataFrame = {
    val cBands = bandTable(minhashSignaturesFromHashes(ch, id, numPerm), id,
      numPerm, rowsPerBand, maxBucket)
    val eBands = bandTable(minhashSignaturesFromHashes(eh, id, numPerm), id,
      numPerm, rowsPerBand, maxBucket)
    val cand = cBands.select(col(id).as("doc_id"), col("band"), col("bh"))
      .join(eBands.select(col(id).as("eval_id"), col("band"), col("bh")),
        Seq("band", "bh"))
      .select("doc_id", "eval_id").distinct()
    val cSizes = ch.groupBy(col(id).as("doc_id")).agg(count(lit(1)).as("na"))
    val eSizes = eh.groupBy(col(id).as("eval_id")).agg(count(lit(1)).as("nb"))
    val inter = cand
      .join(ch.select(col(id).as("doc_id"), col("h1")), "doc_id")
      .join(eh.select(col(id).as("eval_id"), col("h1").as("h1b")), "eval_id")
      .filter(col("h1") === col("h1b"))
      .groupBy("doc_id", "eval_id").agg(count(lit(1)).as("n_inter"))
    val jac = col("n_inter").cast("double") /
      (col("na") + col("nb") - col("n_inter"))
    inter
      .join(cSizes, "doc_id")
      .join(eSizes, "eval_id")
      .select(col("doc_id"), col("eval_id"), col("n_inter"), jac.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Full near-dup pipeline: LSH candidates verified by exact Jaccard.
    * `materialize` persists the shingle table, which feeds four plan
    * branches (signatures, sizes, both verify-join sides) — without it
    * the explode+distinct runs once per branch. At scale this
    * intermediate would be a checkpoint.
    */
  def nearDuplicates(df: DataFrame, id: String, text: String, k: Int,
                     numPerm: Int, rowsPerBand: Int, threshold: Double,
                     materialize: Boolean = false,
                     maxBucket: Int = 0): DataFrame = {
    val hs0 = shingleHashTable(df, id, text, k)
    // the hashed table (id, h1, h2) feeds four branches; 8-byte keys
    // cross every shuffle instead of shingle strings
    val hs = if (materialize) Pins.persist(hs0) else hs0
    val cand = minhashCandidatesFromHashes(
      minhashSignaturesFromHashes(hs, id, numPerm), id, numPerm, rowsPerBand,
      maxBucket)
    val sizes = hs.groupBy(col(id)).agg(count(lit(1)).as("n"))
    val inter = cand
      .join(hs.select(col(id).as("doc_a"), col("h1")), "doc_a")
      .join(hs.select(col(id).as("doc_b"), col("h1").as("h1b")), "doc_b")
      .filter(col("h1") === col("h1b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    val jac = col("n_inter").cast("double") /
      (col("na") + col("nb") - col("n_inter"))
    inter
      .join(sizes.select(col(id).as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col(id).as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_inter"), jac.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Eval-set decontamination: per-document count of word n-grams that
    * appear anywhere in an evaluation corpus — the membership test a
    * training pipeline runs before shipping data (contaminated docs are
    * dropped or flagged). The eval side reduces to DISTINCT 60-bit
    * n-gram hashes and is BROADCAST (eval suites are tiny next to the
    * training corpus); the corpus side is the one [[shingleHashes]]
    * projection, so the test is a broadcast semi-join — the corpus is
    * never shuffled, the quality-filter shape at 100 TB. Callers with
    * both branches hot should persist the hashed shingle table (it
    * feeds the total-count and the hit-count branches).
    */
  def evalOverlap(docs: DataFrame, eval: DataFrame, id: String, text: String,
                  n: Int, threshold: Double): DataFrame =
    evalOverlapFromHashes(
      shingleHashes(shingleTable(docs, id, text, n), id),
      shingleHashes(shingleTable(eval, id, text, n), id).select(col("h1")),
      id, threshold)

  /** The hash-level form: when the eval set IS a slice of the corpus,
    * derive `evalHashes` by filtering the (persisted) corpus hash table
    * instead of re-shingling from a second scan — the corpus is read
    * once for the whole test.
    */
  def evalOverlapFromHashes(hashes: DataFrame, evalHashes: DataFrame,
                            id: String, threshold: Double): DataFrame = {
    val e = evalHashes.select(col("h1")).distinct()
    val tot = hashes.groupBy(col(id)).agg(count(lit(1)).as("n_grams"))
    val hit = hashes.join(broadcast(e), Seq("h1"), "left_semi")
      .groupBy(col(id)).agg(count(lit(1)).as("n_hit"))
    tot.join(hit, Seq(id), "left")
      .select(col(id), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("contam_ratio", col("n_hit").cast("double") / col("n_grams"))
      .withColumn("contaminated", col("contam_ratio") >= threshold)
  }

  /** Per-eval-SET contamination report — the "which benchmark leaked"
    * accounting a release checklist needs: overlap ratios for EVERY
    * eval suite in one corpus pass. `evalSets` is a tagged hash table
    * (eval_set, h1) — the union of per-suite [[shingleHashTable]]
    * outputs with a literal suite name. Plan: `hashes` feeds two
    * branches (the n_grams totals and the broadcast hit join) — PERSIST
    * it, exactly as with [[evalOverlapFromHashes]], or the shingle+hash
    * pipeline runs twice; the tagged set BROADCASTS (suites are small
    * by definition; a suite too big to broadcast belongs in
    * [[evalOverlapBloom]] as its own gate) and per-(doc, suite) hit
    * counts aggregate on the narrow join output.
    * Emits one row per (doc, suite) WITH at least one hit — the report
    * form; the gate form anti-joins the flagged ids.
    */
  def evalOverlapBySet(hashes: DataFrame, evalSets: DataFrame,
                       id: String, threshold: Double): DataFrame = {
    val e = evalSets.select(col("eval_set"), col("h1")).distinct()
    val tot = hashes.groupBy(col(id)).agg(count(lit(1)).as("n_grams"))
    val hit = hashes.join(broadcast(e), Seq("h1"))
      .groupBy(col(id), col("eval_set")).agg(count(lit(1)).as("n_hit"))
    hit.join(tot, Seq(id))
      .withColumn("contam_ratio", col("n_hit").cast("double") / col("n_grams"))
      .withColumn("contaminated", col("contam_ratio") >= threshold)
      .select(col(id), col("eval_set"), col("n_grams"), col("n_hit"),
        col("contam_ratio"), col("contaminated"))
  }

  /** The 100 TB form of [[evalOverlapFromHashes]]: when the eval-suite
    * n-gram set outgrows an exact broadcast set (billions of hashes),
    * ship a Bloom filter instead. Built distributed
    * (`stat.bloomFilter` aggregates partition sketches), broadcast
    * once, tested row-locally — same plan shape as the exact path, and
    * NO false negatives: every truly contaminated n-gram still hits.
    * False positives only ever INCREASE n_hit, so the gate over-drops
    * with probability bounded by `fpp` — the conservative direction for
    * decontamination. Not oracle-expressible (the FP set depends on the
    * sketch), hence spec-checked: zero false negatives, FP rate within
    * budget.
    */
  def evalOverlapBloom(hashes: DataFrame, evalHashes: DataFrame,
                       id: String, threshold: Double,
                       expectedItems: Long, fpp: Double): DataFrame = {
    val bloom = evalHashes.select(col("h1"))
      .stat.bloomFilter("h1", expectedItems, fpp)
    val b = hashes.sparkSession.sparkContext.broadcast(bloom)
    val hitUdf = udf { h: Long => b.value.mightContainLong(h) }
    val tot = hashes.groupBy(col(id)).agg(
      count(lit(1)).as("n_grams"),
      sum(when(hitUdf(col("h1")), 1L).otherwise(0L)).as("n_hit"))
    tot.select(col(id), col("n_grams"), col("n_hit"))
      .withColumn("contam_ratio", col("n_hit").cast("double") / col("n_grams"))
      .withColumn("contaminated", col("contam_ratio") >= threshold)
  }

  /** Per-row contamination ratio against an eval hash set — the
    * row-local form of [[evalOverlap]]: |h1(shingles) ∩ eval| /
    * |h1(shingles)|, and 0.0 for a doc too short to shingle (no
    * n-grams = no contamination evidence = clean, matching the batch
    * path, which never flags such docs). No aggregation, so it drops
    * straight into a STREAMING filter. Membership tests run against ONE
    * shared Set in the task closure — O(doc shingles) per row with O(1)
    * lookups, independent of eval-set size (an array-intersect literal
    * would rebuild an |eval|-sized set per row). For batch corpora
    * prefer [[evalOverlapFromHashes]], which shares the persisted
    * corpus hash table.
    */
  def contamRatio(text: Column, k: Int, evalH1: Seq[Long]): Column = {
    val eval = evalH1.toSet
    val score = udf { shingles: Seq[Long] =>
      if (shingles == null || shingles.isEmpty) 0.0
      else {
        val u = shingles.distinct
        u.count(eval.contains).toDouble / u.size
      }
    }
    score(transform(textShingles(text, k), s => h1(s)))
  }

  /** The lossless form of the [[Buckets.cap]] guard for exact-dup-heavy
    * corpora: collapse exact duplicates to their representative FIRST
    * ([[exact]] — identical text means identical shingles, signatures
    * and LSH evidence), then run near-dup detection over representatives
    * only. The band join sees each distinct document once, so a page
    * duplicated 100k× contributes ONE banded row instead of a 10¹⁰-pair
    * bucket; pairs inside a duplicate group never needed LSH evidence
    * (they're exact, already enumerated by [[exact]]'s keep_id/n_dups).
    * Output is representative-granularity near-dup pairs.
    */
  def nearDuplicatesExactFirst(df: DataFrame, id: String, text: String, k: Int,
                               numPerm: Int, rowsPerBand: Int, threshold: Double,
                               materialize: Boolean = false,
                               maxBucket: Int = 0): DataFrame = {
    val reps = exact(df, id, text).select(col("keep_id").as(id))
    val repDocs = df.join(reps, Seq(id), "left_semi")
    nearDuplicates(repDocs, id, text, k, numPerm, rowsPerBand, threshold,
      materialize, maxBucket)
  }

  /** 64-bit SimHash over the token multiset, as a '0'/'1' string.
    * Bit j comes from hex nibble j/4 of each token's md5; the per-doc
    * aggregation is 64 codegen'd conditional sums in one pass (map-side
    * combinable), not a doc×64 explosion.
    */
  def simhash(df: DataFrame, id: String, text: String): DataFrame = {
    // the token's first 64 md5 bits as two codegen'd 32-bit halves
    // (one md5 per token, subexpression-eliminated): bit j of the hex
    // string = bit (31 - j) of the j<32 half — identical bits to the
    // nibble-indexed oracle, but a tight primitive pipeline instead of
    // an interpreted per-nibble transform() lambda (16 interpreted
    // conv+substring calls per token, ~3× the query's cost).
    // The input is not fanned out with Par.fanOut: the signature pass
    // is map-side-parallel only up to the scan's split count, but at
    // sf0.1 the md5+sum work is too small for the extra round-robin
    // text shuffle to pay (dedup_clusters min 2.81 → 3.01 with it).
    val tok = df.select(col(id), explode(tokens(col(text))).as("w"))
      .withColumn("hhi", expr("cast(conv(substring(md5(w), 1, 8), 16, 10) as bigint)"))
      .withColumn("hlo", expr("cast(conv(substring(md5(w), 9, 8), 16, 10) as bigint)"))
    val sums = (0 until 64).map { j =>
      val bit =
        if (j < 32) shiftright(col("hhi"), 31 - j).bitwiseAND(lit(1L))
        else shiftright(col("hlo"), 63 - j).bitwiseAND(lit(1L))
      sum(bit * 2 - 1).as(s"b$j")
    }
    val agg = tok.groupBy(col(id)).agg(sums.head, sums.tail: _*)
    val bits = (0 until 64).map(j => when(col(s"b$j") > 0, "1").otherwise("0"))
    agg.select(col(id), concat(bits: _*).as("simhash"))
  }

  /** Directed edge rows (both directions of every pair) below which
    * [[connectedComponents]] finishes on the driver: 2^20 rows, so the
    * collected (src, dst) longs stay under 16 MiB.
    */
  private[graft] val DriverFinishEdges: Long = 1L << 20

  /** Connected components over a near-dup pair graph: every node is
    * labelled with the smallest id in its component — the clustering
    * step that turns pairwise near-dup evidence into dedup groups (keep
    * one representative per cluster). Pairs with a null endpoint are
    * ignored; a node exists only through a pair with both ends set.
    *
    * The narrowed pair frame is pinned once, and the pin's job counts
    * its rows (an `observe` metric, no extra job); the directed edges
    * are the pin unioned with its flip, two rows per pair. Then:
    *  - Driver finish, below [[DriverFinishEdges]] edge rows: one job
    *    collects the pinned pairs into primitive arrays, and
    *    union-find over sorted ids labels every node. The labels return
    *    as a local relation with exact stats (downstream joins
    *    broadcast it) holding no pin. Two jobs per call.
    *  - Distributed rounds, at or above the cap: each round is one
    *    edge join + one min-aggregation plus a pointer-doubling
    *    self-join on the label frame (label := label(label)), pinned so
    *    round N doesn't replay rounds 1..N-1. Doubling makes rounds scale with LOG of
    *    the component diameter — a 300-node chain converges in ~8
    *    rounds, not 300 — and an unchanged label sum stops the loop, so
    *    typical data stops after 2-3. Not converging within `maxIter`
    *    logs a WARN: labels may then be non-minimal.
    * Both paths give the same labels, columns and types. One INFO line
    * per call says which path ran, the edge count, the rounds and
    * whether they converged.
    *
    * Pins: the pair pin and each round are eager [[Pins]] pins in the
    * enclosing scope's checkpoint mode — `localCheckpoint` outside any
    * scope, which stores blocks on executors: fast, but an executor
    * loss mid-iteration loses blocks AND the truncated lineage, killing
    * the job. For a 100 TB cluster run, pass `checkpointDir` (HDFS/S3),
    * or call inside a reliable scope: each pin is written to reliable
    * storage so iteration survives executor failure. Superseded pins'
    * files stay on disk for the app lifetime unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (or the
    * dir is cleaned post-job) — enable it for long-running clusters.
    * Every pin is released when the call fails; the distributed path's
    * labels go to the enclosing scope, or to the caller outside any
    * scope.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20,
                          checkpointDir: Option[String] = None): DataFrame =
    connectedComponents(pairs, aCol, bCol, maxIter, checkpointDir, DriverFinishEdges)

  /** [[connectedComponents]] with the driver-finish cap as a parameter:
    * `driverFinishEdges` 0 forces the distributed rounds.
    */
  private[graft] def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                                         maxIter: Int, checkpointDir: Option[String],
                                         driverFinishEdges: Long): DataFrame =
    Pins(checkpointDir) { pins =>
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    // pin the narrowed pair frame once, so an expensive candidate
    // generator upstream (an LSH join) runs once; the directed edges are
    // the lazy union of the pin and its flip, two directed rows per pair
    val obsE = Observation()
    val pIn = pins.pin(pairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .observe(obsE, count(lit(1)).as("n")))
    val nEdges = 2 * obsE.get("n").asInstanceOf[Long]
    val edges = pIn.union(pIn.select(col("dst").as("src"), col("src").as("dst")))
    // init = round one for free: the node inventory needs one agg over
    // the edges anyway, and min(id, min neighbor) on that same shuffle
    // is the first propagation round — one fewer join+checkpoint cycle
    // than starting from self-labels (per-round cost is the scheduling
    // floor on a near-dup graph's tiny frames)
    val init = edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("nbr"))
      .select(col("id"), least(col("id"), col("nbr")).as("label"))
    // each node adopts the min of its own and its neighbors' labels —
    // the MESSAGE-UNION form: neighbor labels become (src, label)
    // messages and the self rows ride the same min-aggregation
    // (`labels`' id set never changes, so every node keeps a row even
    // with no messages). One join + one agg per round.
    def propagate(labels: DataFrame): DataFrame =
      edges.join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("label"))
        .union(labels)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
    // pointer doubling: label := label(label). Every label value IS a
    // node id (labels are mins over ids), so the self-join always
    // resolves and label(y) <= y keeps the decrease monotone. Each
    // round covers 2x the path distance of plain propagation — rounds
    // scale with log(diameter), not diameter, which is what a
    // chain-shaped dup cluster (crawl mirror sprawl) hits at scale.
    def double(prop: DataFrame): DataFrame =
      prop.join(prop.select(col("id").as("label"), col("label").as("ll")),
          Seq("label"), "left")
        .select(col("id"), coalesce(col("ll"), col("label")).as("label"))
    val found = if (nEdges < driverFinishEdges) {
      // the rounds' output schema (nullability included), analysed only
      val schema = (if (maxIter > 0) double(propagate(init)) else init).schema
      val out = unionFindLabels(pIn, schema)
      pins.release(pIn)
      log.info(s"connectedComponents: driver finish, $nEdges edge rows, 0 rounds, converged")
      out
    } else {
      // labels only ever DECREASE, so an unchanged label sum is an exact
      // fixpoint test. The sum rides each pin's own job as an `observe`
      // metric — ONE job per round, not a materialization plus a
      // separate aggregate action. Decimal sum: overflow-proof for
      // 64-bit ids; an empty graph's NULL sum reads as zero.
      val sumExpr = sum(col("label").cast("decimal(38,0)")).as("s")
      def observedSum(o: Observation): java.math.BigDecimal =
        Option(o.get("s").asInstanceOf[java.math.BigDecimal])
          .getOrElse(java.math.BigDecimal.ZERO)
      val obs0 = Observation()
      var labels = pins.pin(init.observe(obs0, sumExpr))
      var curSum = observedSum(obs0)
      var i = 0
      var converged = false
      while (i < maxIter && !converged) {
        // persisted: the doubling self-join references prop on BOTH
        // sides — unpersisted, the edge-join + min-agg subplan would
        // execute twice per round (exchange reuse dedupes the shuffles,
        // not the probe)
        val prop = pins.persist(propagate(labels))
        val obsI = Observation()
        val next = pins.pin(double(prop).observe(obsI, sumExpr))
        val nextSum = observedSum(obsI)
        // a superseded round is released the moment the next one exists:
        // clearCache() never touches RDD-level pins, so an iterative
        // session would otherwise pile dead label frames into storage
        pins.release(prop)
        pins.release(labels)
        converged = nextSum.compareTo(curSum) == 0
        curSum = nextSum
        labels = next
        i += 1
      }
      log.info(s"connectedComponents: distributed, $nEdges edge rows, $i rounds, " +
        (if (converged) "converged" else "not converged"))
      if (!converged)
        log.warn(s"connectedComponents: not converged after $maxIter rounds " +
          "(component diameter exceeds maxIter); labels may be non-minimal")
      pins.keep(labels)
    }
    found.select(col("id").as(aCol), col("label").as("cluster_id"))
  }

  /** Min-id labels of the pinned (src, dst) `pairs` by union-find on
    * the driver, as a local (id, label) relation of `schema`. One job
    * collects the pairs (self-loops kept) packed into a `long[]` per
    * partition; ids are sorted and deduplicated into a
    * `long[]`, and an `int[]` parent links each index to a smaller one,
    * so a root is its set's least index, i.e. its least id.
    */
  private def unionFindLabels(pairs: DataFrame, schema: StructType): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val ends = pairs.as[(Long, Long)]
      .mapPartitions { it =>
        val b = Array.newBuilder[Long]
        it.foreach { case (s, d) => b += s; b += d }
        Iterator.single(b.result())
      }.collect().flatten
    val ids = ends.clone()
    java.util.Arrays.sort(ids)
    var n = 0
    for (i <- ids.indices) if (n == 0 || ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 }
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var i = x
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, 0, n, id)
    var e = 0
    while (e < ends.length) {
      val a = find(index(ends(e)))
      val b = find(index(ends(e + 1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      e += 2
    }
    val rows = new java.util.ArrayList[Row](n)
    for (i <- 0 until n) rows.add(Row(ids(i), ids(find(i))))
    spark.createDataFrame(rows, schema)
  }

  /** Edit-distance-1 string similarity join over a vocabulary — the
    * typo/variant-spelling pair miner (normalization candidates ahead
    * of token-level dedup), via FastSS/SymSpell deletion-neighborhood
    * blocking: a word's block keys are itself plus each single-char
    * deletion. Two words at distance <= 1 ALWAYS share a key
    * (substitution: both drop the differing position; insert/delete:
    * the shorter word IS a deletion of the longer), so the equi-join
    * on keys is a complete candidate generator, and the exact
    * `levenshtein` verify keeps precision — the LSH band discipline
    * with a guaranteed-recall blocking scheme.
    *
    * Scale: keys per word = length + 1, so the join input is
    * vocabulary-sized times mean word length — vocabulary scale, never
    * corpus scale; the verify is a row-local codegen'd filter. Empty
    * strings are excluded (a zero-length word has no deletions and
    * `sequence(1, 0)` would flip direction). `maxBucket` > 0 drops
    * block keys shared by more than that many words ([[Buckets.cap]]:
    * the "" key over every 1-char word, hot deletions of short
    * frequent words), trading recall on degenerate keys for a bounded
    * join fan-out.
    */
  def editDistance1Pairs(vocab: DataFrame, w: String,
                         maxBucket: Int = 0): DataFrame = {
    val c = col(w)
    val variants = concat(
      array(c),
      transform(sequence(lit(1), length(c)),
        i => concat(c.substr(lit(1), i - 1), c.substr(i + 1, length(c) - i))))
    // withColumn, not a same-select alias: explode(variants) references
    // the input column `w`, and aliasing `w` in the same select list
    // trips Catalyst's lateral-column-alias resolution
    val vs = vocab.filter(length(c) >= 1)
      .withColumn("v", explode(variants))
      .select(c.as("w"), col("v"))
    Buckets.pairs(vs, "w", Seq("v"), maxBucket)
      .select("w_a", "w_b")
      .distinct()
      .filter(levenshtein(col("w_a"), col("w_b")) <= 1)
  }

  /** SimHash near-dup PAIRS by banding: any two signatures within
    * hamming distance `maxDist` < nBands must agree exactly on at least
    * one of the nBands bit-bands (pigeonhole), so candidates come from
    * an equi-join on (band, bits) — never an all-pairs comparison — and
    * are then verified by the exact hamming distance (xor + bit_count
    * per 16-bit chunk, all codegen'd built-ins).
    *
    * Takes the signature table (from [[simhash]]) so callers can
    * materialize it across the plan's branches.
    */
  def simhashPairs(sig: DataFrame, id: String, maxDist: Int = 3,
                   nBands: Int = 4, maxBucket: Int = 0): DataFrame = {
    require(maxDist < nBands, "banding is only complete for maxDist < nBands")
    require(nBands >= 2 && 64 % nBands == 0,
      "need nBands >= 2 dividing 64: a band must be <= 32 bits, because " +
        "conv(bits,2,10).cast(long) corrupts a 64-bit chunk whose top bit is set")
    val width = 64 / nBands
    // each band's bits pre-parsed to a LONG once, before banding: the
    // band join carries nBands longs per side instead of both 64-char
    // signature strings (~4× fewer shuffled bytes), and the post-join
    // hamming verify is pure xor+bit_count on those longs — no
    // conv/substring work after the shuffle
    val chunkCols = (0 until nBands).map(c =>
      conv(substring(col("simhash"), 1 + width * c, width), 2, 10)
        .cast("long").as(s"c$c"))
    val chunked = sig.select(col(id) +: chunkCols: _*)
    val bandStructs = (0 until nBands).map { b =>
      struct(lit(b).as("band"), col(s"c$b").as("bits"))
    }
    val chunks = (0 until nBands).map(c => col(s"c$c"))
    val banded = chunked
      .select(col(id) +: chunks :+ explode(array(bandStructs: _*)).as("bb"): _*)
      .select(col(id) +: chunks :+ col("bb.band").as("band") :+ col("bb.bits").as("bits"): _*)
    val hamming = (0 until nBands).map { c =>
      bit_count(col(s"c${c}_a").bitwiseXOR(col(s"c${c}_b")))
    }.reduce(_ + _)
    Buckets.pairs(banded, id, Seq("band", "bits"), maxBucket)
      .select(col(s"${id}_a").as("doc_a") +: col(s"${id}_b").as("doc_b") +:
        (0 until nBands).flatMap(c => Seq(col(s"c${c}_a"), col(s"c${c}_b"))): _*)
      .distinct()
      .withColumn("hamming", hamming.cast("long"))
      .filter(col("hamming") <= maxDist)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Gopher-style intra-document repetition metrics (Rae et al. 2021,
    * "Scaling Language Models", Table A1): per doc, the fraction of
    * n-gram occurrences that are repeats of an earlier occurrence
    * (`dup_gram_frac`) and the fraction covered by the single most
    * frequent n-gram (`top_gram_frac`) — the standard filters for
    * degenerate/looping text in web-scale training corpora. Every gram
    * OCCURRENCE counts (not distinct: repetition needs multiplicity), and
    * only its 60-bit [[h1]] hash leaves the row: one exchange clusters
    * the 16-byte (id, h) rows on the id, and both aggregations run over
    * that partitioning, so the cost at 100 TB is the token scan. Docs
    * with fewer than n tokens emit no grams and are absent (nothing to
    * measure); [[repetitionGate]] is the row-local keep/drop form.
    */
  def repetitionStats(df: DataFrame, id: String, text: String, n: Int): DataFrame =
    gramRows(df, id, text, n).select(col(id), h1(col("sh")).as("h"))
      .repartition(col(id))
      .groupBy(col(id), col("h")).agg(count(lit(1)).as("c"))
      .groupBy(col(id))
      .agg(sum(col("c")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_count"))
      .select(col(id), col("n_grams"), col("n_distinct"), col("top_count"),
        ((col("n_grams") - col("n_distinct")).cast("double") / col("n_grams"))
          .as("dup_gram_frac"),
        (col("top_count").cast("double") / col("n_grams")).as("top_gram_frac"))

  /** The row-local form of the [[repetitionStats]] gate: true when the
    * text's `dup_gram_frac` over its word n-grams is at most `maxFrac`,
    * or when it has fewer than n tokens (no grams, nothing to measure).
    * A repeat count is n_grams − n_distinct, so it is array_distinct
    * arithmetic over the [[textShingles]] kernel — the
    * [[TextOps.lineRepetition]] idiom, with no explode, shuffle or
    * anti-join, so it rides a map-only filter.
    */
  def repetitionGate(text: Column, n: Int, maxFrac: Double): Column = {
    val g = textShingles(text, n)
    val c = size(g)
    c === 0 || (c - size(array_distinct(g))).cast("double") /
      greatest(c, lit(1)).cast("double") <= maxFrac
  }

  /** (id, pos, h): the document's non-overlapping w-token spans — THE
    * span contract [[spanStats]] and [[spanDedupApply]] share (the
    * accounting must see exactly the spans the apply step keeps or
    * drops; two hand-kept copies would silently desynchronize).
    */
  private def spanTable(df: DataFrame, id: String, text: String, w: Int): DataFrame =
    gramRows(df, id, text, w)
      .filter(pmod(col("pos"), lit(w)) === 0)
      .select(col(id), col("pos"), h1(col("sh")).as("h"))

  /** First occurrence per span hash, ordered by (doc id, position) —
    * the deterministic anchor of C4's remove-all-but-first rule.
    */
  private def firstSpan(spans: DataFrame, id: String): DataFrame =
    spans.groupBy(col("h"))
      .agg(min(struct(col(id).as("d"), col("pos").as("p"))).as("fr"))

  private def isDupSpan(id: String): Column =
    col("fr.d") < col(id) || (col("fr.d") === col(id) && col("fr.p") < col("pos"))

  /** C4-style cross-document span-dedup accounting (Raffel et al. 2020
    * §2.2 dedup of repeated spans): documents split into NON-overlapping
    * w-token spans; a span occurrence is a duplicate unless it is the
    * globally FIRST occurrence, ordered by (doc id, position) — C4's
    * remove-all-but-first, covering intra-document repeats too (a page
    * of looping boilerplate is mostly duplicate spans of itself).
    * Returns per doc (n_spans, n_dup_spans, dup_span_frac). The global
    * first-occurrence pass and the rejoin both key on the 60-bit span
    * hash: shuffles carry (h, id, pos) rows, never span text, and a
    * boilerplate span repeated 100k× costs one group row plus its own
    * occurrences — nothing quadratic. Trailing partial spans (< w
    * tokens) are dropped, as in C4.
    */
  def spanStats(df: DataFrame, id: String, text: String, w: Int): DataFrame = {
    val spans = spanTable(df, id, text, w)
    spans.join(firstSpan(spans, id), Seq("h"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(isDupSpan(id), 1L).otherwise(0L)).as("n_dup_spans"))
      .select(col(id), col("n_spans"), col("n_dup_spans"),
        (col("n_dup_spans").cast("double") / col("n_spans")).as("dup_span_frac"))
  }

  /** The apply step of [[spanStats]]: emit each document rebuilt from
    * only the span occurrences that are globally FIRST, ordered by
    * (doc id, position) — C4's remove-all-but-first span dedup, which
    * also collapses a span repeated WITHIN one document to its first
    * occurrence. Two-phase to keep text off the wide shuffles: the
    * first-occurrence pass and the keep-decision join move (h, id, pos)
    * rows only; kept POSITIONS aggregate to one array per doc; the
    * single text-bearing operation is the final doc-keyed join that
    * re-slices the original token stream — the same emit-the-output
    * cost class as chunking. Trailing sub-w tokens are outside any span
    * and are dropped with it (documented contract — the accounting
    * query [[spanStats]] sees exactly the same spans). Documents whose
    * every span is owned elsewhere vanish entirely.
    */
  def spanDedupApply(df: DataFrame, id: String, text: String, w: Int): DataFrame = {
    val spans = spanTable(df, id, text, w)
    val kept = spans.join(firstSpan(spans, id), Seq("h"))
      .filter(col("fr.d") === col(id) && col("fr.p") === col("pos"))
      .groupBy(col(id)).agg(sort_array(collect_list(col("pos"))).as("keep_pos"))
    df.join(kept, Seq(id))
      .select(col(id),
        array_join(
          flatten(transform(col("keep_pos"),
            p => slice(tokens(col(text)), p + 1, lit(w)))), " ").as("clean_text"),
        size(col("keep_pos")).cast("long").as("n_kept"))
  }

  /** (id, pos) of every NON-FIRST duplicated w-gram occurrence — the
    * exact-substring dedup core (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): the rolling w-token
    * fingerprint at EVERY token position (vs [[spanTable]]'s
    * non-overlapping C4 grid), so a repeated substring of >= w tokens
    * at ANY alignment shows up as a run of duplicated gram positions
    * and "remove all but the first occurrence" falls out of the same
    * (doc id, position) owner election [[spanStats]] uses. Sort-based,
    * never an in-memory suffix array: the first-occurrence pass and
    * the rejoin are hash equi-joins on the 60-bit gram hash carrying
    * (h, id, pos) rows only — a boilerplate gram repeated 100k× costs
    * one group row plus its own occurrences, nothing quadratic, and
    * text never rides a shuffle.
    */
  private def dupGramPositions(df: DataFrame, id: String, text: String,
                               w: Int): DataFrame = {
    val grams = gramRows(df, id, text, w)
      .select(col(id), col("pos"), h1(col("sh")).as("h"))
    grams.join(firstSpan(grams, id), Seq("h"))
      .filter(isDupSpan(id))
      .select(col(id), col("pos"))
  }

  /** Interval-union ACCOUNTING over a marked-gram frame: `marks` is
    * any (id, pos) set of w-gram positions (non-first duplicates for
    * [[substringStats]], eval-suite-shared grams for
    * [[substringDecontamStats]]); per doc this returns the token
    * count, the mark count, and the union length of the marks'
    * [pos, pos+w) coverage intervals with its fraction — the tokens a
    * [[stripCoveredTokens]] pass removes. The union length needs NO w×
    * coverage expansion: mark positions sort per doc, so interval ends
    * pos+w are sorted too and each row's new coverage is
    * max(0, (pos+w) − max(pos, running max end over earlier rows)) —
    * one window over the (already bounded) mark rows.
    */
  private def gramCoverageStats(df: DataFrame, id: String, text: String,
                                w: Int, marks: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy(col(id)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val contrib = marks
      .withColumn("prev_end", max(col("pos") + lit(w)).over(win))
      .withColumn("cov", greatest(lit(0), (col("pos") + lit(w)) -
        greatest(col("pos"), coalesce(col("prev_end"), col("pos")))))
    val perDoc = contrib.groupBy(col(id))
      .agg(count(lit(1)).as("nd"), sum(col("cov")).as("nr"))
    df.select(col(id), size(tokens(col(text))).cast("long").as("n_tokens"))
      .join(perDoc, Seq(id), "left")
      .select(col(id), col("n_tokens"),
        coalesce(col("nd"), lit(0L)).cast("long").as("n_marked_grams"),
        coalesce(col("nr"), lit(0L)).cast("long").as("n_covered_tokens"))
      .withColumn("covered_frac",
        when(col("n_tokens") > 0,
          col("n_covered_tokens").cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)))
  }

  /** Exact-substring dedup ACCOUNTING: per doc, the duplicated
    * (non-first) rolling w-gram occurrences and the tokens a
    * [[substringDedupApply]] pass would remove (interval-union
    * arithmetic in [[gramCoverageStats]]). Spec law:
    * n_removed_tokens == n_tokens − n_kept of the apply lane, per doc.
    */
  def substringStats(df: DataFrame, id: String, text: String, w: Int): DataFrame =
    gramCoverageStats(df, id, text, w, dupGramPositions(df, id, text, w))
      .select(col(id), col("n_tokens"),
        col("n_marked_grams").as("n_dup_grams"),
        col("n_covered_tokens").as("n_removed_tokens"),
        col("covered_frac").as("removed_frac"))

  /** The apply step of [[substringStats]] — Lee-et-al exact-substring
    * dedup: every token covered by a duplicated (non-first) rolling
    * w-gram occurrence is removed; each doc is rebuilt from the
    * surviving tokens. The globally first occurrence of a repeated
    * substring keeps its text (its grams ARE the first occurrences);
    * later occurrences lose exactly the repeated tokens, at any
    * alignment — the capability [[spanDedupApply]]'s fixed grid cannot
    * express. Docs whose every token is covered vanish (the
    * [[spanDedupApply]] contract).
    *
    * Scale shape: dup positions per doc aggregate to ONE sorted int
    * array (bounded by doc length, like [[spanDedupApply]]'s keep_pos);
    * the single text-bearing operation is the final doc-keyed join
    * whose kept-segment slicing is row-local and O(tokens + dups):
    * with dp sorted, coverage-interval ends dp_i + w are sorted too,
    * so the kept segments are exactly the gaps
    * (starts = [0] ++ (dp+w), ends = dp ++ [n_tokens], keep where
    * end > start) — no per-token membership scan.
    */
  def substringDedupApply(df: DataFrame, id: String, text: String, w: Int): DataFrame =
    stripCoveredTokens(df, id, text, w, dupGramPositions(df, id, text, w))

  /** Rebuild each doc minus the tokens covered by any marked w-gram —
    * the apply tail [[substringDedupApply]] and
    * [[substringDecontamApply]] share. Marked positions per doc
    * aggregate to ONE sorted int array (bounded by doc length); the
    * single text-bearing operation is the final doc-keyed join whose
    * kept-segment slicing is row-local and O(tokens + marks): with dp
    * sorted, coverage-interval ends dp_i + w are sorted too, so the
    * kept segments are exactly the gaps (starts = [0] ++ (dp+w),
    * ends = dp ++ [n_tokens], keep where end > start) — no per-token
    * membership scan. Docs whose every token is covered vanish.
    */
  private def stripCoveredTokens(df: DataFrame, id: String, text: String,
                                 w: Int, marks: DataFrame): DataFrame = {
    val dp = marks
      .groupBy(col(id)).agg(sort_array(collect_list(col("pos"))).as("dp"))
    val t = tokens(col(text))
    val dpc = coalesce(col("dp"), array().cast("array<int>"))
    val starts = concat(array(lit(0)), transform(dpc, p => p + lit(w)))
    val ends = concat(dpc, array(size(t)))
    val kept = flatten(zip_with(starts, ends, (s, e) =>
      when(e > s, slice(t, s + 1, e - s))
        .otherwise(array().cast("array<string>"))))
    df.join(dp, Seq(id), "left")
      .select(col(id), array_join(kept, " ").as("clean_text"),
        size(kept).cast("long").as("n_kept"))
      .filter(col("n_kept") > 0)
  }

  /** Positions of corpus w-grams that appear ANYWHERE in the eval
    * suite — the mark generator for exact-substring DECONTAMINATION
    * (the Lee-et-al/GPT-3 discipline: any >= w-token span shared with
    * a benchmark is contamination, whatever its alignment — the
    * n-gram-ratio and bloom gates flag documents, THIS finds the exact
    * spans). One hash equi-join of the corpus gram table against the
    * suite's DISTINCT gram hashes (AQE broadcasts the suite side when
    * it is small — benchmarks usually are; nothing unbounded
    * broadcasts when it is not).
    */
  private def contamGramPositions(df: DataFrame, id: String, text: String,
                                  evalDf: DataFrame, evalText: String,
                                  w: Int): DataFrame = {
    val evalHashes = evalDf.select(explode(textShingles(col(evalText), w)).as("sh"))
      .select(h1(col("sh")).as("h")).distinct()
    gramRows(df, id, text, w)
      .select(col(id), col("pos"), h1(col("sh")).as("h"))
      .join(evalHashes, "h")
      .select(col(id), col("pos"))
  }

  /** Exact-substring decontamination ACCOUNTING: per corpus doc, the
    * eval-shared w-gram occurrences and the tokens a
    * [[substringDecontamApply]] pass would strip (the coverage union).
    * Spec law: n_contam_tokens == n_tokens − n_kept of the apply lane.
    */
  def substringDecontamStats(df: DataFrame, id: String, text: String,
                             evalDf: DataFrame, evalText: String,
                             w: Int): DataFrame =
    gramCoverageStats(df, id, text, w,
      contamGramPositions(df, id, text, evalDf, evalText, w))
      .select(col(id), col("n_tokens"),
        col("n_marked_grams").as("n_contam_grams"),
        col("n_covered_tokens").as("n_contam_tokens"),
        col("covered_frac").as("contam_frac"))

  /** The apply step of [[substringDecontamStats]]: every token covered
    * by an eval-shared w-gram is stripped; docs that are wholly
    * benchmark text vanish. Trimming the span (not dropping the doc)
    * is the high-recall decon mode — a long document quoting one
    * benchmark question keeps its unrelated text.
    */
  def substringDecontamApply(df: DataFrame, id: String, text: String,
                             evalDf: DataFrame, evalText: String,
                             w: Int): DataFrame =
    stripCoveredTokens(df, id, text, w,
      contamGramPositions(df, id, text, evalDf, evalText, w))

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken style):
    * per position, the minimum shingle hash in a sliding window of
    * `window` shingles; distinct selected hashes identify the document.
    * One shuffle by doc id; window frame is ROWS-bounded so state is O(w).
    */
  def fingerprints(df: DataFrame, id: String, text: String,
                   k: Int, window: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = gramRows(df, id, text, k).withColumn("h", md5(col("sh")))
    val w = Window.partitionBy(col(id)).orderBy(col("pos"))
      .rowsBetween(0, window - 1)
    sh.select(col(id), min(col("h")).over(w).as("fp")).distinct()
  }
}
