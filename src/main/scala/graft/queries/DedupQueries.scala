package graft.queries

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Pins}

/** Dedup suite over `documents`: exact, n-gram Jaccard, MinHash+LSH,
  * SimHash, winnowing fingerprints. The oracle SQL replays the identical
  * md5-based pipelines in DuckDB (portable hashes — see Dedup scaladoc).
  */
object DedupQueries extends QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** Band-bucket membership cap for the LSH queries (see
    * Dedup.capBuckets): high enough that no honest corpus bucket reaches
    * it (max observed at sf0.1 is 291 for simhash, 7 for minhash), low
    * enough that a boilerplate page duplicated 100k× can't turn the band
    * self-join quadratic. Replayed identically in every oracle query.
    */
  private val MaxBucket = 1000

  // The cluster map is the pipeline's materialization boundary: computed
  // once per (session, sfDir) and reused by dedup_apply, so "apply" is a
  // filter on the materialized map — not a second CC run. The map is
  // an eager checkpoint pin (RDD blocks, not SQL cache), so it survives
  // spark.catalog.clearCache(); dedup_clusters itself always recomputes
  // and refreshes the memo (bench honesty: the clustering cost is always
  // paid inside the clustering query).
  private val ccMemo =
    scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame]()

  // One scope per call: the components' labels and every round pin are
  // released once the map is pinned, or when the call fails; the map
  // itself outlives the scope as the memo.
  private def computeClusters(s: SparkSession, dir: String): DataFrame = {
    val out = Pins() { pins =>
      val d = docs(s, dir)
      val pairs = Dedup.simhashPairs(
        Dedup.simhash(d, "doc_id", "text"), "doc_id", maxDist = 3,
        maxBucket = MaxBucket)
      val cc = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .withColumnRenamed("doc_a", "doc_id")
      pins.keep(pins.pin(d.select(col("doc_id")).join(cc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).cast("long").as("cluster_id"))))
    }
    // release the superseded map's blocks eagerly and EXACTLY (the
    // leaf's own backing RDD, via the ContextCleaner's silent path)
    ccMemo.put((s, dir), out).foreach { old =>
      try Pins.unpin(old)
      catch { case NonFatal(_) => () }
    }
    out
  }

  /** `Murmur3_x86_32.hashLong(v, seed)` as a chain of staged-select
    * SQL expressions over columns `low`/`high` (the value's unsigned
    * 32-bit halves): mixK1(low) → mixH1 → mixK1(high) → mixH1 →
    * fmix(len=8), each 32-bit op emulated in BIGINT (rotations via
    * shift-or-mask; the four 32-bit × 32-bit multiplies go through
    * HUGEINT mod 2^32 because their products overflow INT64).
    */
  private def murmurStages(seed: String, pre: String,
                           out: String): Seq[(String, String)] = {
    val M = "4294967295"
    def mul(op: String, c: Long) =
      s"CAST((CAST($op AS HUGEINT) * $c) % 4294967296 AS BIGINT)"
    Seq(
      s"${pre}s" -> seed,
      s"${pre}ka1" -> mul("low", 3432918353L),
      s"${pre}kc1" -> mul(s"(((${pre}ka1 << 15) & $M) | (${pre}ka1 >> 17))", 461845907L),
      s"${pre}hx1" -> s"xor(${pre}s, ${pre}kc1)",
      s"${pre}hc1" -> s"((((${pre}hx1 << 13) & $M) | (${pre}hx1 >> 19)) * 5 + 3864292196) & $M",
      s"${pre}ka2" -> mul("high", 3432918353L),
      s"${pre}kc2" -> mul(s"(((${pre}ka2 << 15) & $M) | (${pre}ka2 >> 17))", 461845907L),
      s"${pre}hx2" -> s"xor(${pre}hc1, ${pre}kc2)",
      s"${pre}hc2" -> s"((((${pre}hx2 << 13) & $M) | (${pre}hx2 >> 19)) * 5 + 3864292196) & $M",
      s"${pre}fa" -> s"xor(${pre}hc2, 8)",
      s"${pre}fb" -> s"xor(${pre}fa, ${pre}fa >> 16)",
      s"${pre}fc" -> mul(s"${pre}fb", 2246822507L),
      s"${pre}fd" -> s"xor(${pre}fc, ${pre}fc >> 13)",
      s"${pre}fe" -> mul(s"${pre}fd", 3266489909L),
      out -> s"xor(${pre}fe, ${pre}fe >> 16)")
  }

  /** The bloom oracle's hash table: ha = hashLong(h1, 0) and
    * hb = hashLong(h1, ha) for every distinct value in `hv` — the two
    * base hashes of Spark's BloomFilterImpl double hashing. One long
    * nested-select line (no newlines, so stripMargin never sees the
    * bitwise `|`s inside).
    */
  private val murmurInner: String =
    (murmurStages("0", "a_", "ha") ++ murmurStages("ha", "b_", "hb"))
      .foldLeft("(SELECT h1, h1 & 4294967295 AS low, (h1 >> 32) & 4294967295 AS high FROM hv)") {
        case (inner, (n, e)) => s"(SELECT *, $e AS $n FROM $inner)"
      }

  // Shared oracle CTE: distinct word-3-gram shingles per doc.
  private[queries] val shingleCte =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
      |  FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id, unnest(CASE WHEN len(t) >= 3
      |    THEN list_transform(range(1, len(t)-1), i -> array_to_string(list_slice(t, i, i+2), ' '))
      |    ELSE [] END) AS sh
      |  FROM toks
      |)""".stripMargin

  // Shared oracle CTE (no WITH prefix — prepend "WITH RECURSIVE"):
  // simhash-banded candidate pairs -> recursive transitive closure ->
  // `clus(doc_id, cluster_id)`, the min-reachable-id cluster map that
  // dedup_clusters / dedup_apply / cluster_split all replay.
  private lazy val clusterCte =
    raw"""tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS w
        |  FROM documents
        |), bsum AS (
        |  SELECT doc_id, j,
        |    SUM((((('0x' || substr(md5(w), j // 4 + 1, 1))::INT) >> (3 - j % 4)) & 1) * 2 - 1) AS s
        |  FROM tok, (SELECT unnest(range(0, 64)) AS j)
        |  GROUP BY doc_id, j
        |), sigs AS (
        |  SELECT doc_id,
        |         string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
        |  FROM bsum GROUP BY doc_id
        |), banded AS (
        |  SELECT doc_id, simhash, b AS band, substring(simhash, 1 + 16*b, 16) AS bits
        |  FROM sigs, (SELECT unnest(range(0, 4)) AS b)
        |), bkept AS (
        |  SELECT x.* FROM banded x
        |  JOIN (SELECT band, bits FROM banded GROUP BY band, bits HAVING COUNT(*) <= $MaxBucket) ok
        |    USING (band, bits)
        |), pairs AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bkept x JOIN bkept y
        |    ON x.band = y.band AND x.bits = y.bits AND x.doc_id < y.doc_id
        |  WHERE bit_count(xor(x.simhash::BIT, y.simhash::BIT)) <= 3
        |), edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL
        |  SELECT doc_b, doc_a FROM pairs
        |), reach AS (
        |  SELECT src AS id, dst AS r FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
        |), clus AS (
        |  SELECT d.doc_id,
        |         CAST(COALESCE(LEAST(MIN(reach.r), d.doc_id), d.doc_id) AS BIGINT) AS cluster_id
        |  FROM documents d LEFT JOIN reach ON reach.id = d.doc_id
        |  GROUP BY d.doc_id
        |)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, dir) => Dedup.exact(docs(s, dir), "doc_id", "text")),

    // Gopher-style intra-doc repetition metrics (2-grams) with the
    // degenerate-text flag a quality gate would filter on
    "repetition_filter" -> ((s, dir) =>
      Dedup.repetitionStats(docs(s, dir), "doc_id", "text", n = 2)
        .withColumn("flagged",
          col("dup_gram_frac") > 0.08 || col("top_gram_frac") > 0.1)),

    // C4-style cross-doc span dedup accounting (8-token spans,
    // keep-first-occurrence); `keep` marks docs a C4 pass would retain
    // outright (less than half their spans already seen elsewhere)
    "span_dedup" -> ((s, dir) =>
      Dedup.spanStats(docs(s, dir), "doc_id", "text", w = 8)
        .withColumn("keep", col("dup_span_frac") < 0.5)),

    // the apply lane: documents rebuilt from only their globally-first
    // spans (C4 remove-all-but-first)
    "span_dedup_apply" -> ((s, dir) =>
      Dedup.spanDedupApply(docs(s, dir), "doc_id", "text", w = 8)),

    // Lee-et-al exact-substring dedup (any repeated substring >= 10
    // tokens, at any alignment — rolling fingerprints at EVERY
    // position, vs span_dedup's fixed 8-token grid): accounting lane
    // with the tokens-removed union length, and the apply lane
    // rebuilding docs minus every non-first repeated occurrence
    "substring_dedup" -> ((s, dir) =>
      Dedup.substringStats(docs(s, dir), "doc_id", "text", w = 10)),
    "substring_dedup_apply" -> ((s, dir) =>
      Dedup.substringDedupApply(docs(s, dir), "doc_id", "text", w = 10)),

    // exact-substring DECONTAMINATION (Lee-et-al/GPT-3 span
    // discipline) against the %97 mock eval suite: the stats lane
    // reports the exact shared-span coverage per doc (the n-gram-ratio
    // and bloom gates flag documents; this finds the spans), and the
    // apply lane strips exactly the covered tokens — the high-recall
    // mode where a doc quoting one benchmark question keeps its
    // unrelated text. Suite docs are themselves wholly covered and
    // vanish from the apply output (flagged 1.0 in stats).
    "decontaminate_substring" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.substringDecontamStats(d, "doc_id", "text",
          d.filter(col("doc_id") % 97 === 0).select(col("text")), "text",
          w = 10)
        .withColumn("flagged", (col("contam_frac") >= 0.5).cast("long"))
    }),
    "decontaminate_substring_apply" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.substringDecontamApply(d, "doc_id", "text",
        d.filter(col("doc_id") % 97 === 0).select(col("text")), "text",
        w = 10)
    }),

    // stop-shingles (document frequency > 100) are dropped before the
    // candidate self-join — see Dedup.jaccardPairs. Shingles are reduced
    // to 60-bit md5 hashes first (8-byte join keys, not strings), and
    // the hashed table feeding four plan branches (df cap, sizes, both
    // join sides) is persisted instead of re-running explode+distinct
    // per branch (at scale this intermediate would be a checkpoint).
    "dedup_jaccard" -> ((s, dir) => {
      // persist the SAME (id, h1, h2) plan dedup_minhash materializes:
      // the cache manager matches plans, so one session running both
      // queries shingles the corpus once
      val hs = Pins.persist(Dedup.shingleHashTable(docs(s, dir), "doc_id", "text", 3))
      Dedup.jaccardPairs(hs.select(col("doc_id"), col("h1").as("sh")),
        "doc_id", 0.5, maxDf = 100)
    }),

    "dedup_minhash" -> ((s, dir) =>
      Dedup.nearDuplicates(docs(s, dir), "doc_id", "text",
        k = 3, numPerm = 16, rowsPerBand = 4, threshold = 0.5,
        materialize = true, maxBucket = MaxBucket)),

    // Detector-quality measurement: the MinHash-LSH near-dup pipeline
    // scored against the exhaustive shingle-Jaccard pair set as ground
    // truth — the recall/precision check run before trusting an
    // approximate dedup at corpus scale (banding trades recall for the
    // bounded candidate join; this lane makes the trade VISIBLE as one
    // confusion row, ppm-exact). tn is structurally 0 over a pair
    // universe, so accuracy_ppm here reads as the set-overlap Jaccard
    // tp/(tp+fp+fn) of the two pair sets. Cost = the two already-green
    // pipelines (shingle table shared via the cache manager) + one
    // full-outer join on pair keys.
    "dedup_pairs_eval" -> ((s, dir) => {
      val d = docs(s, dir)
      val hs = Pins.persist(Dedup.shingleHashTable(d, "doc_id", "text", 3))
      val truth = Dedup.jaccardPairs(hs.select(col("doc_id"), col("h1").as("sh")),
          "doc_id", 0.5, maxDf = 100)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("y"))
      val det = Dedup.nearDuplicates(d, "doc_id", "text",
          k = 3, numPerm = 16, rowsPerBand = 4, threshold = 0.5,
          materialize = true, maxBucket = MaxBucket)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("pred"))
      val lab = truth.join(det, Seq("doc_a", "doc_b"), "full_outer")
        .select(coalesce(col("y"), lit(0L)).as("y"),
          coalesce(col("pred"), lit(0L)).as("pred"))
      graft.operators.Classify.evaluate(lab, col("y"), col("pred"))
    }),

    // the lossless dup-skew guard as a first-class pipeline: exact-dedup
    // to representatives, then near-dup detection over representatives
    // only (see Dedup.nearDuplicatesExactFirst) — the documented shape
    // for boilerplate-heavy web corpora
    "dedup_minhash_rep" -> ((s, dir) =>
      Dedup.nearDuplicatesExactFirst(docs(s, dir), "doc_id", "text",
        k = 3, numPerm = 16, rowsPerBand = 4, threshold = 0.5,
        materialize = true, maxBucket = MaxBucket)),

    // persisted: simhash_pairs persists the identical signature plan, so
    // a session running both computes signatures once (cache-manager
    // plan matching, as with the jaccard/minhash shingle table)
    "simhash" -> ((s, dir) => Pins.persist(Dedup.simhash(docs(s, dir), "doc_id", "text"))),

    // hamming-banded near-dup pairs over the signatures (the pairs side
    // of SimHash dedup — candidates from a band equi-join, verified by
    // exact xor+bit_count hamming)
    "simhash_pairs" -> ((s, dir) => {
      val sig = Pins.persist(Dedup.simhash(docs(s, dir), "doc_id", "text"))
      Dedup.simhashPairs(sig, "doc_id", maxDist = 3, maxBucket = MaxBucket)
    }),

    "fingerprint" -> ((s, dir) =>
      Dedup.fingerprints(docs(s, dir), "doc_id", "text", k = 3, window = 4)),

    // eval-set decontamination: 3-gram overlap of every doc against a
    // deterministic mock eval slice (doc_id % 97). The eval hashes are
    // a FILTER of the corpus hash table (same persisted plan the other
    // dedup queries share) — one corpus scan for the whole test, eval
    // side broadcast, corpus never shuffled (see Dedup.evalOverlap)
    "decontaminate" -> ((s, dir) => {
      val hs = Pins.persist(Dedup.shingleHashTable(docs(s, dir), "doc_id", "text", 3))
      Dedup.evalOverlapFromHashes(hs,
        hs.filter(col("doc_id") % 97 === 0).select(col("h1")),
        "doc_id", threshold = 0.8)
    }),

    // per-eval-SET contamination report: overlap ratios for every
    // suite in one corpus pass (two deterministic mock suites — the
    // doc_id % 97 and % 89 slices); corpus hash table scanned once,
    // tagged suite hashes broadcast, one row per (doc, suite) hit
    "decontaminate_by_set" -> ((s, dir) => {
      val hs = Pins.persist(Dedup.shingleHashTable(docs(s, dir), "doc_id", "text", 3))
      val sets =
        hs.filter(col("doc_id") % 97 === 0)
          .select(lit("suite_a").as("eval_set"), col("h1"))
          .unionByName(hs.filter(col("doc_id") % 89 === 0)
            .select(lit("suite_b").as("eval_set"), col("h1")))
      Dedup.evalOverlapBySet(hs, sets, "doc_id", threshold = 0.8)
    }),

    // FUZZY decontamination: near-dup (MinHash-banded) matches between
    // the training slice and the eval slice — catches paraphrased
    // contamination that exact n-gram membership (decontaminate) misses.
    // Cross-corpus equi-join only; both sides bucket-capped. The mock
    // eval slice is doc_id % 20 (not decontaminate's % 97): sized so
    // near-dup pairs straddle the corpus/eval split at every fixture
    // scale — % 97 splits zero pairs at sf0.01 and the check goes
    // vacuous.
    "decontaminate_fuzzy" -> ((s, dir) => {
      // one shingle scan for both sides: corpus/eval are filters of the
      // same persisted hash table (the evalOverlapFromHashes discipline)
      val hs = Pins.persist(Dedup.shingleHashTable(docs(s, dir), "doc_id", "text", 3))
      Dedup.fuzzyDecontaminateFromHashes(
        hs.filter(col("doc_id") % 20 =!= 0),
        hs.filter(col("doc_id") % 20 === 0),
        "doc_id", numPerm = 16, rowsPerBand = 4,
        threshold = 0.5, maxBucket = MaxBucket)
    }),

    // the sketch lane of decontamination: same corpus/eval derivation
    // through a Bloom filter instead of an exact broadcast set.
    // Deterministic (fixed-hash sketch, order-independent bit-array
    // merge) and APPROXIMATE — and since r9 FULLY oracle-checked
    // anyway, false positives included: Spark's BloomFilter over longs
    // is Murmur3_x86_32.hashLong double hashing (h1 + i·h2, i=1..k)
    // into a 64-bit-word-rounded bit array, every step 32-bit integer
    // arithmetic the oracle replays exactly (see the oracle's murmur
    // stage chain). The one-sided-error LAW still rides IN each
    // recorded row: no_false_neg_ok = the bloom hit count dominates
    // the exact hit count AND the bloom flag covers the exact flag.
    // The FP-budget property stays spec'd (statistical).
    "decontaminate_bloom" -> ((s, dir) => {
      val hs = Pins.persist(Dedup.shingleHashTable(docs(s, dir), "doc_id", "text", 3))
      val ev = hs.filter(col("doc_id") % 97 === 0).select(col("h1"))
      val exact = Dedup.evalOverlapFromHashes(hs, ev, "doc_id", 0.8)
        .select(col("doc_id"), col("n_hit").as("n_hit_exact"),
          col("contaminated").as("contaminated_exact"))
      Dedup.evalOverlapBloom(hs, ev,
          "doc_id", threshold = 0.8, expectedItems = 100000L, fpp = 0.01)
        .join(exact, Seq("doc_id"))
        .withColumn("no_false_neg_ok",
          col("n_hit") >= col("n_hit_exact") &&
            (!col("contaminated_exact") || col("contaminated")))
        .drop("contaminated_exact")
    }),

    // INCREMENTAL dedup: the corpus slice (doc_id % 3 != 0) is indexed
    // once (signatures + banded buckets — the persisted artifact); the
    // "incoming batch" slice (doc_id % 3 = 0) is probed against that
    // index with equi-joins only and verified by the signature-agreement
    // Jaccard estimate. The daily-crawl shape: the corpus is never
    // rescanned per batch (see Dedup.probeMinhashIndex).
    "incremental_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      val idx = Dedup.buildMinhashIndex(d.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", k = 3, numPerm = 16, rowsPerBand = 4,
        maxBucket = MaxBucket)
      Dedup.probeMinhashIndex(d.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", idx, threshold = 0.5, maxBucket = MaxBucket,
        materialize = true)
    }),

    // pairwise near-dup evidence -> dedup GROUPS: connected components
    // over the simhash pair graph by min-label propagation (each doc's
    // cluster = smallest doc_id transitively reachable); docs in no
    // pair are their own cluster. The oracle computes the same closure
    // with a recursive CTE — an independent algorithm agreeing exactly.
    "dedup_clusters" -> ((s, dir) => computeClusters(s, dir)),

    // ...and the APPLY step a pipeline actually ships: keep one
    // representative per cluster (the min-id doc IS its own cluster
    // label, so the filter is doc_id == cluster_id). Reuses the
    // session's materialized cluster map when present — apply is a
    // filter on a checkpointed frame, never a second CC run.
    "dedup_apply" -> ((s, dir) =>
      ccMemo.getOrElse((s, dir), computeClusters(s, dir))
        .filter(col("doc_id") === col("cluster_id"))
        .select(col("doc_id"))),

    // Leakage-proof train/val/test split at NEAR-DUP-CLUSTER
    // granularity: a per-doc hash split (split_assign) lets two
    // near-duplicates straddle train and test — the eval-contamination
    // a naive split bakes in. Assigning by the cluster representative's
    // hash keeps every near-dup family on ONE side by construction
    // (split is a pure function of cluster_id), which a spec asserts
    // and the composed oracle replays. Cost = the CC map (reused from
    // the session memo when already materialized) + a row-local hash
    // projection: no new shuffle at any corpus size.
    "cluster_split" -> ((s, dir) =>
      graft.operators.Sampling.hashSplit(
        ccMemo.getOrElse((s, dir), computeClusters(s, dir)),
        "cluster_id", Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))),

    // Curation triage dashboard: WHICH sources produce the duplicates
    // (a mirror-heavy domain shows up as a dup_ppm spike long before it
    // skews the mixture). A doc is a dup iff it is not the min-id
    // keeper of its content-digest group — Dedup.exact's rule, joined
    // back per doc. Narrow (digest, id) rows only; integer-ppm rates.
    "dedup_rate_by_source" -> ((s, dir) => {
      val h = docs(s, dir).select(col("source"), col("doc_id"),
        md5(col("text")).as("h"))
      val keep = h.groupBy("h").agg(min("doc_id").as("keep_id"))
      h.join(keep, Seq("h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L))
            .as("n_dups"))
        .selectExpr("source", "n_docs", "n_dups",
          "(n_dups*1000000) DIV n_docs AS dup_ppm")
    }),

    // Edit-distance-1 string similarity join (typo/variant mining) via
    // deletion-neighborhood blocking + exact levenshtein verify. Typos
    // are injected on id strides (insertion, deletion, substitution,
    // and a 1-char word exercising the empty-deletion block key); the
    // oracle is the naive all-pairs levenshtein join — affordable over
    // a vocabulary, which is exactly why the ENGINE must not do it
    // (blocking keeps the join vocabulary-scale at any corpus size).
    "typo_pairs" -> ((s, dir) => {
      val damaged = concat(col("text"),
        when(col("doc_id") % 13 === 0, lit(" sparkk")).otherwise(lit("")),
        when(col("doc_id") % 17 === 0, lit(" qury")).otherwise(lit("")),
        when(col("doc_id") % 19 === 0, lit(" juin")).otherwise(lit("")),
        when(col("doc_id") % 23 === 0, lit(" i")).otherwise(lit("")))
      val vocab = docs(s, dir)
        .select(explode(Dedup.tokens(damaged)).as("w")).distinct()
      Dedup.editDistance1Pairs(vocab, "w")
    })
  )

  // the full minhash near-dup oracle (shared by the plain and the
  // representative-first queries; the latter re-roots it on `repd`)
  private val minhashSql: String = shingleCte +
    s""", hh AS (
      |  SELECT doc_id,
      |         ('0x' || substring(md5(sh), 1, 15))::BIGINT AS h1,
      |         ('0x' || substring(md5(sh), 17, 15))::BIGINT AS h2
      |  FROM sh
      |), m AS (
      |  SELECT doc_id, i,
      |         min((h1 % 1000000007 + i * (h2 % 1000000007)) % 1000000007) AS s
      |  FROM hh, (SELECT unnest(range(0, 16)) AS i)
      |  GROUP BY doc_id, i
      |), bands AS (
      |  SELECT doc_id, i // 4 AS band,
      |         md5(string_agg(CAST(s AS VARCHAR), ',' ORDER BY i)) AS bh
      |  FROM m GROUP BY doc_id, i // 4
      |), bkept AS (
      |  SELECT b.* FROM bands b
      |  JOIN (SELECT band, bh FROM bands GROUP BY band, bh HAVING COUNT(*) <= $MaxBucket) ok
      |    USING (band, bh)
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bkept a JOIN bkept b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
      |), sizes AS (
      |  SELECT doc_id, COUNT(*) AS n FROM hh GROUP BY doc_id
      |), inter AS (
      |  SELECT c.doc_a, c.doc_b, COUNT(*) AS ni
      |  FROM cand c
      |  JOIN hh x ON x.doc_id = c.doc_a
      |  JOIN hh y ON y.doc_id = c.doc_b AND y.h1 = x.h1
      |  GROUP BY c.doc_a, c.doc_b
      |)
      |SELECT doc_a, doc_b, CAST(ni AS BIGINT) AS n_inter,
      |       CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.5""".stripMargin

  private val repCte: String =
    """WITH repd AS (
      |  SELECT d.doc_id, d.text FROM documents d
      |  JOIN (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)) r
      |    USING (doc_id)
      |)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(text) AS h, CAST(MIN(doc_id) AS BIGINT) AS keep_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_dups
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "repetition_filter" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 2
        |    THEN list_transform(range(1, len(t)), i -> array_to_string(list_slice(t, i, i+1), ' '))
        |    ELSE [] END) AS sh
        |  FROM toks
        |), h AS (
        |  SELECT doc_id, ('0x' || substring(md5(sh), 1, 15))::BIGINT AS h FROM g
        |), c AS (
        |  SELECT doc_id, h, COUNT(*) AS c FROM h GROUP BY doc_id, h
        |), d AS (
        |  SELECT doc_id, SUM(c) AS n_grams, COUNT(*) AS n_distinct, MAX(c) AS top_count
        |  FROM c GROUP BY doc_id
        |)
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        |       CAST(n_distinct AS BIGINT) AS n_distinct,
        |       CAST(top_count AS BIGINT) AS top_count,
        |       CAST(n_grams - n_distinct AS DOUBLE) / n_grams AS dup_gram_frac,
        |       CAST(top_count AS DOUBLE) / n_grams AS top_gram_frac,
        |       (CAST(n_grams - n_distinct AS DOUBLE) / n_grams > 0.08
        |        OR CAST(top_count AS DOUBLE) / n_grams > 0.1) AS flagged
        |FROM d""".stripMargin,
    "span_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents
        |), st AS (
        |  SELECT doc_id, t, unnest(list_filter(range(1, len(t) - 6), i -> (i-1) % 8 = 0)) AS i
        |  FROM toks
        |), h AS (
        |  SELECT doc_id, i,
        |         ('0x' || substring(md5(array_to_string(list_slice(t, i, i + 7), ' ')), 1, 15))::BIGINT AS h
        |  FROM st
        |), f AS (
        |  SELECT h, MIN(struct_pack(d := doc_id, p := i)) AS fr FROM h GROUP BY h
        |), a AS (
        |  SELECT doc_id, COUNT(*) AS ns,
        |         SUM(CASE WHEN fr.d < doc_id OR (fr.d = doc_id AND fr.p < i)
        |             THEN 1 ELSE 0 END) AS nd
        |  FROM h JOIN f USING (h) GROUP BY doc_id
        |)
        |SELECT doc_id, CAST(ns AS BIGINT) AS n_spans, CAST(nd AS BIGINT) AS n_dup_spans,
        |       CAST(nd AS DOUBLE) / ns AS dup_span_frac,
        |       (CAST(nd AS DOUBLE) / ns < 0.5) AS keep
        |FROM a""".stripMargin,
    "span_dedup_apply" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents
        |), st AS (
        |  SELECT doc_id, t, unnest(list_filter(range(1, len(t) - 6), i -> (i-1) % 8 = 0)) AS i
        |  FROM toks
        |), sp AS (
        |  SELECT doc_id, i, array_to_string(list_slice(t, i, i + 7), ' ') AS sh FROM st
        |), h AS (
        |  SELECT doc_id, i, sh, ('0x' || substring(md5(sh), 1, 15))::BIGINT AS h FROM sp
        |), f AS (
        |  SELECT h, MIN(struct_pack(d := doc_id, p := i)) AS fr FROM h GROUP BY h
        |)
        |SELECT doc_id, string_agg(sh, ' ' ORDER BY i) AS clean_text,
        |       CAST(COUNT(*) AS BIGINT) AS n_kept
        |FROM h JOIN f USING (h) WHERE fr.d = doc_id AND fr.p = i GROUP BY doc_id""".stripMargin,
    // Replay of Dedup.substringStats / substringDedupApply: rolling
    // 10-gram md5 h1 hashes at every (1-based) position, (doc, pos)
    // owner election, then — for stats — the same
    // running-max-end window union-length arithmetic (shift-invariant,
    // so 1-based replays 0-based exactly), and — for apply — the dup
    // coverage expanded to distinct token positions and anti-joined.
    "substring_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(range(1, len(t) - 8)) AS i, t FROM toks
        |), h AS (
        |  SELECT doc_id, i,
        |         ('0x' || substring(md5(array_to_string(list_slice(t, i, i + 9), ' ')), 1, 15))::BIGINT AS h
        |  FROM g
        |), f AS (
        |  SELECT h, MIN(struct_pack(d := doc_id, p := i)) AS fr FROM h GROUP BY h
        |), dup AS (
        |  SELECT doc_id, i FROM h JOIN f USING (h)
        |  WHERE fr.d < doc_id OR (fr.d = doc_id AND fr.p < i)
        |), contrib AS (
        |  SELECT doc_id, i,
        |         GREATEST(0, (i + 10) - GREATEST(i, COALESCE(
        |           MAX(i + 10) OVER (PARTITION BY doc_id ORDER BY i
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), i))) AS cov
        |  FROM dup
        |), perdoc AS (
        |  SELECT doc_id, COUNT(*) AS nd, SUM(cov) AS nr FROM contrib GROUP BY doc_id
        |)
        |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
        |       CAST(COALESCE(p.nd, 0) AS BIGINT) AS n_dup_grams,
        |       CAST(COALESCE(p.nr, 0) AS BIGINT) AS n_removed_tokens,
        |       CASE WHEN len(t.t) > 0
        |            THEN CAST(COALESCE(p.nr, 0) AS DOUBLE) / len(t.t)
        |            ELSE 0.0 END AS removed_frac
        |FROM toks t LEFT JOIN perdoc p USING (doc_id)""".stripMargin,
    "substring_dedup_apply" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(range(1, len(t) - 8)) AS i, t FROM toks
        |), h AS (
        |  SELECT doc_id, i,
        |         ('0x' || substring(md5(array_to_string(list_slice(t, i, i + 9), ' ')), 1, 15))::BIGINT AS h
        |  FROM g
        |), f AS (
        |  SELECT h, MIN(struct_pack(d := doc_id, p := i)) AS fr FROM h GROUP BY h
        |), dup AS (
        |  SELECT doc_id, i FROM h JOIN f USING (h)
        |  WHERE fr.d < doc_id OR (fr.d = doc_id AND fr.p < i)
        |), cov AS (
        |  SELECT DISTINCT doc_id, ti FROM (
        |    SELECT doc_id, unnest(list_transform(range(0, 10), u -> i + u)) AS ti FROM dup)
        |), tok AS (
        |  SELECT doc_id, unnest(range(1, len(t) + 1)) AS ti, t FROM toks
        |), kept AS (
        |  SELECT k.doc_id, k.ti, k.t[k.ti] AS w
        |  FROM tok k LEFT JOIN cov c ON c.doc_id = k.doc_id AND c.ti = k.ti
        |  WHERE c.ti IS NULL
        |)
        |SELECT doc_id, string_agg(w, ' ' ORDER BY ti) AS clean_text,
        |       CAST(COUNT(*) AS BIGINT) AS n_kept
        |FROM kept GROUP BY doc_id""".stripMargin,
    // Replay of Dedup.substringDecontamStats / -Apply: the same rolling
    // 10-gram chain, marks = membership in the suite's DISTINCT gram
    // hashes (vs substring_dedup's first-occurrence election), then the
    // identical window union-length / coverage-strip replays.
    "decontaminate_substring" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(range(1, len(t) - 8)) AS i, t FROM toks
        |), h AS (
        |  SELECT doc_id, i,
        |         ('0x' || substring(md5(array_to_string(list_slice(t, i, i + 9), ' ')), 1, 15))::BIGINT AS h
        |  FROM g
        |), eh AS (
        |  SELECT DISTINCT h FROM h WHERE doc_id % 97 = 0
        |), mark AS (
        |  SELECT doc_id, i FROM h JOIN eh USING (h)
        |), contrib AS (
        |  SELECT doc_id, i,
        |         GREATEST(0, (i + 10) - GREATEST(i, COALESCE(
        |           MAX(i + 10) OVER (PARTITION BY doc_id ORDER BY i
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), i))) AS cov
        |  FROM mark
        |), perdoc AS (
        |  SELECT doc_id, COUNT(*) AS nd, SUM(cov) AS nr FROM contrib GROUP BY doc_id
        |)
        |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
        |       CAST(COALESCE(p.nd, 0) AS BIGINT) AS n_contam_grams,
        |       CAST(COALESCE(p.nr, 0) AS BIGINT) AS n_contam_tokens,
        |       CASE WHEN len(t.t) > 0
        |            THEN CAST(COALESCE(p.nr, 0) AS DOUBLE) / len(t.t)
        |            ELSE 0.0 END AS contam_frac,
        |       CAST(CASE WHEN len(t.t) > 0
        |                 AND CAST(COALESCE(p.nr, 0) AS DOUBLE) / len(t.t) >= 0.5
        |            THEN 1 ELSE 0 END AS BIGINT) AS flagged
        |FROM toks t LEFT JOIN perdoc p USING (doc_id)""".stripMargin,
    "decontaminate_substring_apply" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(range(1, len(t) - 8)) AS i, t FROM toks
        |), h AS (
        |  SELECT doc_id, i,
        |         ('0x' || substring(md5(array_to_string(list_slice(t, i, i + 9), ' ')), 1, 15))::BIGINT AS h
        |  FROM g
        |), eh AS (
        |  SELECT DISTINCT h FROM h WHERE doc_id % 97 = 0
        |), mark AS (
        |  SELECT doc_id, i FROM h JOIN eh USING (h)
        |), cov AS (
        |  SELECT DISTINCT doc_id, ti FROM (
        |    SELECT doc_id, unnest(list_transform(range(0, 10), u -> i + u)) AS ti FROM mark)
        |), tok AS (
        |  SELECT doc_id, unnest(range(1, len(t) + 1)) AS ti, t FROM toks
        |), kept AS (
        |  SELECT k.doc_id, k.ti, k.t[k.ti] AS w
        |  FROM tok k LEFT JOIN cov c ON c.doc_id = k.doc_id AND c.ti = k.ti
        |  WHERE c.ti IS NULL
        |)
        |SELECT doc_id, string_agg(w, ' ' ORDER BY ti) AS clean_text,
        |       CAST(COUNT(*) AS BIGINT) AS n_kept
        |FROM kept GROUP BY doc_id""".stripMargin,
    "dedup_jaccard" -> (shingleCte +
      """, hsh AS (
        |  SELECT doc_id, ('0x' || substring(md5(sh), 1, 15))::BIGINT AS sh FROM sh
        |), kept AS (
        |  SELECT s.* FROM hsh s
        |  JOIN (SELECT sh FROM hsh GROUP BY sh HAVING COUNT(*) <= 100) ok USING (sh)
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id
        |), inter AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS ni
        |  FROM kept x JOIN kept y ON x.sh = y.sh AND x.doc_id < y.doc_id
        |  GROUP BY x.doc_id, y.doc_id
        |)
        |SELECT doc_a, doc_b, CAST(ni AS BIGINT) AS n_inter,
        |       CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.5""".stripMargin),
    "dedup_minhash" -> minhashSql,
    "dedup_rate_by_source" ->
      """WITH h AS (
        |  SELECT source, doc_id, md5(text) AS h FROM documents
        |), k AS (
        |  SELECT h, MIN(doc_id) AS keep_id FROM h GROUP BY h
        |), j AS (
        |  SELECT source,
        |         CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dups
        |  FROM h JOIN k USING (h) GROUP BY source
        |)
        |SELECT source, n_docs, n_dups, (n_dups*1000000)//n_docs AS dup_ppm FROM j""".stripMargin,
    // truth = the dedup_jaccard pipeline (df-capped shingles, exhaustive
    // co-shingle join); detector = the dedup_minhash pipeline (banded
    // candidates, exact verify). CTEs renamed j*/m* to compose both over
    // ONE shared shingle scan; the final row replays Classify.evaluate's
    // integer-ppm arithmetic.
    "dedup_pairs_eval" -> (shingleCte +
      s""", jh AS (
        |  SELECT doc_id, ('0x' || substring(md5(sh), 1, 15))::BIGINT AS sh FROM sh
        |), jkept AS (
        |  SELECT s.* FROM jh s
        |  JOIN (SELECT sh FROM jh GROUP BY sh HAVING COUNT(*) <= 100) ok USING (sh)
        |), jsz AS (
        |  SELECT doc_id, COUNT(*) AS n FROM jkept GROUP BY doc_id
        |), jint AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS ni
        |  FROM jkept x JOIN jkept y ON x.sh = y.sh AND x.doc_id < y.doc_id
        |  GROUP BY x.doc_id, y.doc_id
        |), truth AS (
        |  SELECT doc_a, doc_b FROM jint
        |  JOIN jsz sa ON sa.doc_id = doc_a
        |  JOIN jsz sb ON sb.doc_id = doc_b
        |  WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.5
        |), hh AS (
        |  SELECT doc_id,
        |         ('0x' || substring(md5(sh), 1, 15))::BIGINT AS h1,
        |         ('0x' || substring(md5(sh), 17, 15))::BIGINT AS h2
        |  FROM sh
        |), m AS (
        |  SELECT doc_id, i,
        |         min((h1 % 1000000007 + i * (h2 % 1000000007)) % 1000000007) AS s
        |  FROM hh, (SELECT unnest(range(0, 16)) AS i)
        |  GROUP BY doc_id, i
        |), bands AS (
        |  SELECT doc_id, i // 4 AS band,
        |         md5(string_agg(CAST(s AS VARCHAR), ',' ORDER BY i)) AS bh
        |  FROM m GROUP BY doc_id, i // 4
        |), bkept AS (
        |  SELECT b.* FROM bands b
        |  JOIN (SELECT band, bh FROM bands GROUP BY band, bh HAVING COUNT(*) <= $MaxBucket) ok
        |    USING (band, bh)
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bkept a JOIN bkept b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
        |), msz AS (
        |  SELECT doc_id, COUNT(*) AS n FROM hh GROUP BY doc_id
        |), mint AS (
        |  SELECT c.doc_a, c.doc_b, COUNT(*) AS ni
        |  FROM cand c
        |  JOIN hh x ON x.doc_id = c.doc_a
        |  JOIN hh y ON y.doc_id = c.doc_b AND y.h1 = x.h1
        |  GROUP BY c.doc_a, c.doc_b
        |), det AS (
        |  SELECT doc_a, doc_b FROM mint
        |  JOIN msz sa ON sa.doc_id = doc_a
        |  JOIN msz sb ON sb.doc_id = doc_b
        |  WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.5
        |), lab AS (
        |  SELECT COALESCE(t.y, 0) AS y, COALESCE(d.pred, 0) AS pred
        |  FROM (SELECT doc_a, doc_b, 1 AS y FROM truth) t
        |  FULL OUTER JOIN (SELECT doc_a, doc_b, 1 AS pred FROM det) d USING (doc_a, doc_b)
        |), cm AS (
        |  SELECT CAST(SUM(CASE WHEN y = 1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |         CAST(SUM(CASE WHEN y = 0 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |         CAST(SUM(CASE WHEN y = 1 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |         CAST(SUM(CASE WHEN y = 0 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM lab
        |)
        |SELECT tp, fp, fn, tn,
        |       CASE WHEN tp+fp = 0 THEN NULL ELSE (tp*1000000)//(tp+fp) END AS precision_ppm,
        |       CASE WHEN tp+fn = 0 THEN NULL ELSE (tp*1000000)//(tp+fn) END AS recall_ppm,
        |       CASE WHEN 2*tp+fp+fn = 0 THEN NULL ELSE (2*tp*1000000)//(2*tp+fp+fn) END AS f1_ppm,
        |       ((tp+tn)*1000000)//(tp+fp+fn+tn) AS accuracy_ppm
        |FROM cm""".stripMargin),
    // same signature/band CTEs as minhashSql, split corpus/batch at the
    // banding step (signatures are side-independent), buckets capped PER
    // SIDE as build/probe each cap their own band table; verification is
    // the slot-agreement count over the 16-slot signature lists
    "incremental_dedup" -> (shingleCte +
      s""", hh AS (
        |  SELECT doc_id,
        |         ('0x' || substring(md5(sh), 1, 15))::BIGINT AS h1,
        |         ('0x' || substring(md5(sh), 17, 15))::BIGINT AS h2
        |  FROM sh
        |), m AS (
        |  SELECT doc_id, i,
        |         min((h1 % 1000000007 + i * (h2 % 1000000007)) % 1000000007) AS s
        |  FROM hh, (SELECT unnest(range(0, 16)) AS i)
        |  GROUP BY doc_id, i
        |), sigs AS (
        |  SELECT doc_id, list(s ORDER BY i) AS sig FROM m GROUP BY doc_id
        |), bands AS (
        |  SELECT doc_id, i // 4 AS band,
        |         md5(string_agg(CAST(s AS VARCHAR), ',' ORDER BY i)) AS bh
        |  FROM m GROUP BY doc_id, i // 4
        |), bc AS (SELECT * FROM bands WHERE doc_id % 3 <> 0),
        |bb AS (SELECT * FROM bands WHERE doc_id % 3 = 0),
        |bkc AS (
        |  SELECT b.* FROM bc b
        |  JOIN (SELECT band, bh FROM bc GROUP BY band, bh HAVING COUNT(*) <= $MaxBucket) ok
        |    USING (band, bh)
        |), bkb AS (
        |  SELECT b.* FROM bb b
        |  JOIN (SELECT band, bh FROM bb GROUP BY band, bh HAVING COUNT(*) <= $MaxBucket) ok
        |    USING (band, bh)
        |), cand AS (
        |  SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS corpus_id
        |  FROM bkb b JOIN bkc c USING (band, bh)
        |), ag AS (
        |  SELECT cand.new_id, cand.corpus_id,
        |         len(list_filter(range(1, 17), i -> x.sig[i] = y.sig[i])) AS n_agree
        |  FROM cand
        |  JOIN sigs x ON x.doc_id = cand.new_id
        |  JOIN sigs y ON y.doc_id = cand.corpus_id
        |)
        |SELECT new_id, corpus_id, CAST(n_agree AS BIGINT) AS n_agree,
        |       CAST(n_agree AS DOUBLE) / 16 AS est_jaccard
        |FROM ag WHERE CAST(n_agree AS DOUBLE) / 16 >= 0.5""".stripMargin),
    // representatives first (exact-dup groups collapse to MIN(doc_id)),
    // then the identical minhash pipeline over the representative docs
    "dedup_minhash_rep" -> (repCte + ", " +
      minhashSql.stripPrefix("WITH ").replace("FROM documents", "FROM repd")),
    // same minhash pipeline as dedup_minhash, split corpus/eval at the
    // banding step (signatures are per-doc, side-independent); buckets
    // capped PER SIDE, exactly as Dedup.fuzzyDecontaminate caps each
    // bandTable before the cross join
    "decontaminate_fuzzy" -> (shingleCte +
      s""", hh AS (
        |  SELECT doc_id,
        |         ('0x' || substring(md5(sh), 1, 15))::BIGINT AS h1,
        |         ('0x' || substring(md5(sh), 17, 15))::BIGINT AS h2
        |  FROM sh
        |), m AS (
        |  SELECT doc_id, i,
        |         min((h1 % 1000000007 + i * (h2 % 1000000007)) % 1000000007) AS s
        |  FROM hh, (SELECT unnest(range(0, 16)) AS i)
        |  GROUP BY doc_id, i
        |), bands AS (
        |  SELECT doc_id, i // 4 AS band,
        |         md5(string_agg(CAST(s AS VARCHAR), ',' ORDER BY i)) AS bh
        |  FROM m GROUP BY doc_id, i // 4
        |), bc AS (SELECT * FROM bands WHERE doc_id % 20 <> 0),
        |be AS (SELECT * FROM bands WHERE doc_id % 20 = 0),
        |bkc AS (
        |  SELECT b.* FROM bc b
        |  JOIN (SELECT band, bh FROM bc GROUP BY band, bh HAVING COUNT(*) <= $MaxBucket) ok
        |    USING (band, bh)
        |), bke AS (
        |  SELECT b.* FROM be b
        |  JOIN (SELECT band, bh FROM be GROUP BY band, bh HAVING COUNT(*) <= $MaxBucket) ok
        |    USING (band, bh)
        |), cand AS (
        |  SELECT DISTINCT c.doc_id AS doc_id, e.doc_id AS eval_id
        |  FROM bkc c JOIN bke e ON c.band = e.band AND c.bh = e.bh
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS n FROM hh GROUP BY doc_id
        |), inter AS (
        |  SELECT c.doc_id, c.eval_id, COUNT(*) AS ni
        |  FROM cand c
        |  JOIN hh x ON x.doc_id = c.doc_id
        |  JOIN hh y ON y.doc_id = c.eval_id AND y.h1 = x.h1
        |  GROUP BY c.doc_id, c.eval_id
        |)
        |SELECT i.doc_id, i.eval_id, CAST(ni AS BIGINT) AS n_inter,
        |       CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) AS jaccard
        |FROM inter i
        |JOIN sizes sa ON sa.doc_id = i.doc_id
        |JOIN sizes sb ON sb.doc_id = i.eval_id
        |WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.5""".stripMargin),
    // FULL replay of the Bloom-gated lane, false positives included
    // (graduated from rows-only in r9): bp replays
    // BloomFilter.create(100000, 0.01)'s parameter derivation
    // (optimalNumOfBits truncation, optimalNumOfHashFunctions
    // rounding, the bit array's 64-bit-word size rounding); mm replays
    // Murmur3_x86_32.hashLong for each distinct 60-bit shingle hash at
    // seed 0 (ha) and seed ha (hb) — 32-bit arithmetic emulated in
    // BIGINT with HUGEINT mod-2^32 multiplies (a 32-bit × 32-bit
    // product overflows INT64); pos replays the h1 + i·h2 double
    // hashing with Java's negative-int bit-flip; membership = ALL k
    // probe positions present in the eval-set bit positions.
    "decontaminate_bloom" -> (shingleCte +
      s""", hsh AS (
        |  SELECT doc_id, ('0x' || substring(md5(sh), 1, 15))::BIGINT AS h1 FROM sh
        |), ev AS (
        |  SELECT DISTINCT h1 FROM hsh WHERE doc_id % 97 = 0
        |), bp AS (
        |  SELECT nb, GREATEST(1, CAST(round(CAST(nb AS DOUBLE) / 100000.0 * ln(2)) AS BIGINT)) AS k,
        |         ((nb + 63) // 64) * 64 AS bitsize
        |  FROM (SELECT CAST(-100000.0 * ln(0.01) / (ln(2) * ln(2)) AS BIGINT) AS nb)
        |), hv AS (
        |  SELECT DISTINCT h1 FROM hsh
        |), mm AS (
        |  SELECT h1, ha, hb FROM $murmurInner
        |), pos AS (
        |  SELECT mm.h1, g.i,
        |         (CASE WHEN c >= 2147483648 THEN xor(c, 4294967295) ELSE c END) % bp.bitsize AS p
        |  FROM mm, bp,
        |       LATERAL (SELECT unnest(range(1, bp.k + 1)) AS i) g,
        |       LATERAL (SELECT ((mm.ha + g.i * mm.hb) & 4294967295) AS c) cc
        |), evpos AS (
        |  SELECT DISTINCT p FROM pos JOIN ev USING (h1)
        |), bloomhit AS (
        |  SELECT h1 FROM pos LEFT JOIN evpos e ON e.p = pos.p
        |  GROUP BY h1 HAVING COUNT(*) = COUNT(e.p)
        |), tot AS (
        |  SELECT doc_id, COUNT(*) AS n_grams FROM hsh GROUP BY doc_id
        |), bh AS (
        |  SELECT doc_id, COUNT(*) AS n_hit FROM hsh JOIN bloomhit USING (h1) GROUP BY doc_id
        |), eh AS (
        |  SELECT doc_id, COUNT(*) AS n_hit_exact FROM hsh JOIN ev USING (h1) GROUP BY doc_id
        |)
        |SELECT t.doc_id, CAST(t.n_grams AS BIGINT) AS n_grams,
        |       CAST(COALESCE(b.n_hit, 0) AS BIGINT) AS n_hit,
        |       CAST(COALESCE(b.n_hit, 0) AS DOUBLE) / t.n_grams AS contam_ratio,
        |       (CAST(COALESCE(b.n_hit, 0) AS DOUBLE) / t.n_grams) >= 0.8 AS contaminated,
        |       CAST(COALESCE(x.n_hit_exact, 0) AS BIGINT) AS n_hit_exact,
        |       (COALESCE(b.n_hit, 0) >= COALESCE(x.n_hit_exact, 0) AND
        |        (NOT ((CAST(COALESCE(x.n_hit_exact, 0) AS DOUBLE) / t.n_grams) >= 0.8)
        |         OR (CAST(COALESCE(b.n_hit, 0) AS DOUBLE) / t.n_grams) >= 0.8)) AS no_false_neg_ok
        |FROM tot t LEFT JOIN bh b ON b.doc_id = t.doc_id
        |LEFT JOIN eh x ON x.doc_id = t.doc_id""".stripMargin),
    "decontaminate" -> (shingleCte +
      """, hsh AS (
        |  SELECT doc_id, ('0x' || substring(md5(sh), 1, 15))::BIGINT AS h1 FROM sh
        |), ev AS (
        |  SELECT DISTINCT h1 FROM hsh WHERE doc_id % 97 = 0
        |), tot AS (
        |  SELECT doc_id, COUNT(*) AS n_grams FROM hsh GROUP BY doc_id
        |), hit AS (
        |  SELECT doc_id, COUNT(*) AS n_hit FROM hsh JOIN ev USING (h1) GROUP BY doc_id
        |)
        |SELECT t.doc_id, CAST(t.n_grams AS BIGINT) AS n_grams,
        |       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
        |       CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_grams AS contam_ratio,
        |       (CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_grams) >= 0.8 AS contaminated
        |FROM tot t LEFT JOIN hit h ON h.doc_id = t.doc_id""".stripMargin),
    "decontaminate_by_set" -> (shingleCte +
      """, hsh AS (
        |  SELECT doc_id, ('0x' || substring(md5(sh), 1, 15))::BIGINT AS h1 FROM sh
        |), ev AS (
        |  SELECT DISTINCT 'suite_a' AS eval_set, h1 FROM hsh WHERE doc_id % 97 = 0
        |  UNION
        |  SELECT DISTINCT 'suite_b' AS eval_set, h1 FROM hsh WHERE doc_id % 89 = 0
        |), tot AS (
        |  SELECT doc_id, COUNT(*) AS n_grams FROM hsh GROUP BY doc_id
        |), hit AS (
        |  SELECT doc_id, eval_set, COUNT(*) AS n_hit
        |  FROM hsh JOIN ev USING (h1) GROUP BY doc_id, eval_set
        |)
        |SELECT h.doc_id, h.eval_set,
        |       CAST(t.n_grams AS BIGINT) AS n_grams,
        |       CAST(h.n_hit AS BIGINT) AS n_hit,
        |       CAST(h.n_hit AS DOUBLE) / t.n_grams AS contam_ratio,
        |       (CAST(h.n_hit AS DOUBLE) / t.n_grams) >= 0.8 AS contaminated
        |FROM hit h JOIN tot t ON h.doc_id = t.doc_id""".stripMargin),
    "simhash_pairs" ->
      raw"""WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS w
        |  FROM documents
        |), bsum AS (
        |  SELECT doc_id, j,
        |    SUM((((('0x' || substr(md5(w), j // 4 + 1, 1))::INT) >> (3 - j % 4)) & 1) * 2 - 1) AS s
        |  FROM tok, (SELECT unnest(range(0, 64)) AS j)
        |  GROUP BY doc_id, j
        |), sigs AS (
        |  SELECT doc_id,
        |         string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
        |  FROM bsum GROUP BY doc_id
        |), banded AS (
        |  SELECT doc_id, simhash, b AS band, substring(simhash, 1 + 16*b, 16) AS bits
        |  FROM sigs, (SELECT unnest(range(0, 4)) AS b)
        |), bkept AS (
        |  SELECT x.* FROM banded x
        |  JOIN (SELECT band, bits FROM banded GROUP BY band, bits HAVING COUNT(*) <= $MaxBucket) ok
        |    USING (band, bits)
        |), cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |                  x.simhash AS sig_a, y.simhash AS sig_b
        |  FROM bkept x JOIN bkept y
        |    ON x.band = y.band AND x.bits = y.bits AND x.doc_id < y.doc_id
        |)
        |SELECT doc_a, doc_b,
        |       CAST(bit_count(xor(sig_a::BIT, sig_b::BIT)) AS BIGINT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(sig_a::BIT, sig_b::BIT)) <= 3""".stripMargin,
    "simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS w
        |  FROM documents
        |), b AS (
        |  SELECT doc_id, j,
        |    SUM((((('0x' || substr(md5(w), j // 4 + 1, 1))::INT) >> (3 - j % 4)) & 1) * 2 - 1) AS s
        |  FROM tok, (SELECT unnest(range(0, 64)) AS j)
        |  GROUP BY doc_id, j
        |)
        |SELECT doc_id,
        |       string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
        |FROM b GROUP BY doc_id""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE $clusterCte
         |SELECT doc_id, cluster_id FROM clus""".stripMargin,

    "cluster_split" ->
      s"""WITH RECURSIVE $clusterCte, h AS (
         |  SELECT doc_id, cluster_id,
         |         CAST(('0x' || substring(md5(CAST(cluster_id AS VARCHAR)), 1, 13))::BIGINT AS DOUBLE) AS hk
         |  FROM clus
         |)
         |SELECT doc_id, cluster_id,
         |       CASE WHEN hk < CAST(0.9 AS DOUBLE) * 4503599627370496.0 THEN 'train'
         |            WHEN hk < (CAST(0.9 AS DOUBLE) + CAST(0.05 AS DOUBLE))
         |                      * 4503599627370496.0 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM h""".stripMargin,

    "dedup_apply" ->
      s"""WITH RECURSIVE $clusterCte
         |SELECT doc_id FROM clus WHERE doc_id = cluster_id""".stripMargin,
    "fingerprint" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents
        |), pos AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 3
        |    THEN list_transform(range(1, len(t)-1),
        |                        i -> {'pos': i, 'sh': array_to_string(list_slice(t, i, i+2), ' ')})
        |    ELSE [] END) AS u
        |  FROM toks
        |), ph AS (
        |  SELECT doc_id, u.pos AS pos, md5(u.sh) AS h FROM pos
        |), wmin AS (
        |  SELECT doc_id, MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |  FROM ph
        |)
        |SELECT DISTINCT doc_id, fp FROM wmin""".stripMargin,
    "typo_pairs" ->
      raw"""WITH d AS (
        |  SELECT text
        |    || CASE WHEN doc_id % 13 = 0 THEN ' sparkk' ELSE '' END
        |    || CASE WHEN doc_id % 17 = 0 THEN ' qury' ELSE '' END
        |    || CASE WHEN doc_id % 19 = 0 THEN ' juin' ELSE '' END
        |    || CASE WHEN doc_id % 23 = 0 THEN ' i' ELSE '' END AS t
        |  FROM documents
        |), v AS (
        |  SELECT DISTINCT unnest(list_filter(string_split_regex(t, '\s+'), x -> x <> '')) AS w
        |  FROM d
        |)
        |SELECT a.w AS w_a, b.w AS w_b
        |FROM v a JOIN v b ON a.w < b.w AND levenshtein(a.w, b.w) <= 1""".stripMargin
  )
}
