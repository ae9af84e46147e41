package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Redact, Sampling}

/** Dataset-shaping queries a large-scale training pipeline runs between
  * ingestion and tokenization: deterministic stratified sampling,
  * pattern redaction, and sequence packing. All three are pure
  * functions of the data (hash-ranked / hash-sharded), so the DuckDB
  * oracle replays them exactly.
  */
object PipelineQueries extends QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** THE END-TO-END COMPOSITION, oracle-checked as one row set: the
    * default TrainingPipeline chain — normalize → language/length gate
    * → exact dedup → simhash near-dup apply → eval decontamination
    * (the doc_id % 97 mock suite) → rate mixture → 64/16 chunking →
    * 256-token packing — run through jobs/TrainingPipeline.run itself
    * (the same code a production pipeline calls, persists and all).
    * Every stage is individually green elsewhere; this row proves the
    * COMPOSITION: the oracle replays the whole chain as one stack of
    * the stage oracles' CTEs, so any inter-stage contract drift
    * (wrong frame feeding a stage, a gate applied out of order)
    * hash-mismatches here even though each part passes alone.
    */
  private[graft] def pipelineE2e(s: SparkSession, dir: String)
      : (DataFrame, graft.jobs.TrainingPipeline.Report) = {
    graft.jobs.TrainingPipeline.run(s, dir,
      evalDocs = Some(docs(s, dir).filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"), col("text"))),
      rates = Map("src0" -> 2.5, "src1" -> 0.5, "src2" -> 0.0),
      normalize = true)
  }

  /** THE FULL-OPTIONS COMPOSITION: every optional stage the default
    * chain skips, enabled at once and oracle-checked as one row set —
    * HTML ingestion (docs wrapped in the html_extract fixture page,
    * stripped back by Html.extractLines), corpus-wide template-line
    * strip (minDf 5), the Gopher 2-gram repetition gate (> 0.08),
    * SemDeDup semantic dedup over the embeddings table (LSH cells
    * pinned to 32 so the index replays), DSIR target-affinity
    * selection against the en slice, and per-source token budgets —
    * stacked on the default normalize → gate → exact → simhash chain
    * and run through TrainingPipeline.run itself. The stack also
    * includes BOTH decontamination modes against the %97 mock
    * suite: the doc-level overlap gate (stage 4, threshold 0.8) and
    * the exact-substring span strip (stage 4c, w = 10 — the
    * decontaminate_substring_apply law applied INSIDE the chain, with
    * the stripped token counts feeding DSIR and the token budgets).
    * It also includes stage 3c, end-to-end MEDIA
    * dedup (the media_dedup_e2e composition wired into the one-call
    * pipeline): every %10 doc carries a genuine WAV of its waveform
    * law, every %40 doc's recording is re-uploaded byte-identically
    * under doc_id+3, and every %30 doc's recording reappears as a
    * mid-stream extract (64 samples in) under doc_id+5 — so docs
    * id+3 / id+5 (when they exist in the corpus) lose the cluster
    * election to the lower-id holder of the content and are dropped;
    * docs without media are untouched. Stage 3c also runs the IMAGE
    * modality (image_dedup_e2e wired in): every %10=1 doc
    * carries a genuine still of the quadratic pixel law, every %40=1
    * doc's image is re-uploaded byte-identically under doc_id+7, and
    * every %30=1 doc's image reappears as a lossless BMP re-encode
    * (byte-distinct, pixel-identical) under doc_id+9 — docs id+7 /
    * id+9 lose the image cluster election and are dropped too.
    * pipeline_e2e proves the default chain composes; THIS row proves
    * the optional stages compose with it and each other (stage order,
    * frame handoffs, carried n_toks) — any drift hash-mismatches here
    * even though every stage is green standalone.
    */
  private[graft] def pipelineFull(s: SparkSession, dir: String)
      : (DataFrame, graft.jobs.TrainingPipeline.Report) = {
    import graft.multimodal.Multimodal
    val d = docs(s, dir)
    val wavs = Multimodal.fabricateAudio(d.filter(col("doc_id") % 10 === 0))
      .unionByName(Multimodal.fabricateAudio(
        d.filter(col("doc_id") % 40 === 0), idOffset = 3))
      .unionByName(Multimodal.fabricateAudio(
        d.filter(col("doc_id") % 30 === 0), idOffset = 5, startFrame = 64))
    val stills = Multimodal.fabricateStillImages(d.filter(col("doc_id") % 10 === 1))
      .unionByName(Multimodal.fabricateStillImages(
        d.filter(col("doc_id") % 40 === 1), idOffset = 7))
      .unionByName(Multimodal.fabricateStillImages(
        d.filter(col("doc_id") % 30 === 1), idOffset = 9, fmt = "bmp"))
    val ids = col("doc_id").cast("string")
    val esc = regexp_replace(regexp_replace(regexp_replace(col("text"),
      "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    val page = concat(
      lit("<html><head><title>Doc "), ids, lit(" - "), col("source"),
      lit("</title><style>p{margin:0}</style></head><body><script>var d="),
      ids, lit(";</script><h1>Doc "), ids, lit("</h1><p>"), esc,
      lit("</p><div class=\"nav\"><a href=\"/s/1\">more from "),
      col("source"),
      lit("</a>&nbsp;&amp; <a href=\"/a\">archive</a></div>" +
        "<!-- footer --></body></html>"))
    graft.jobs.TrainingPipeline.run(s, dir,
      input = Some(d.select(col("doc_id"), col("source"), page.as("text"))),
      ingestHtml = true,
      templateMinDf = Some(5L),
      maxRepetition = Some(0.08),
      // 0.38, not the standalone lane's 0.3: on this fixture 0.3
      // collapses nearly everything into one giant semantic
      // component (semantic_dedup keeps 20 of 500 — its documented
      // behavior), which would starve every later stage; 0.38 keeps
      // a real population so the DSIR mean and the token budgets
      // both actually bind
      semanticThreshold = 0.38,
      embeddings = Some(Tables(s, dir, "embeddings")
        .select(col("vec_id").as("doc_id"), col("embedding"))),
      semanticCells = 32,
      audioMedia = Some(wavs),
      imageMedia = Some(stills),
      evalDocs = Some(d.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"), col("text"))),
      decontamSubstringW = Some(10),
      dsirTarget = Some(d.filter(col("lang") === "en").select(col("text"))),
      tokenBudgets = Map("src0" -> 400L, "src1" -> 200L),
      budgetShards = 2,
      normalize = true)
  }

  /** A pipeline's packs as the composition lanes' row set. */
  private def packRows(packed: DataFrame): DataFrame =
    packed.select(col("source"), col("shard").cast("long").as("shard"),
      col("pack_id").cast("long").as("pack_id"),
      col("n_docs").cast("long").as("n_units"),
      col("tok_sum").cast("long").as("tok_sum"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // k lowest-hash docs per source: fixed-size per-stratum sample,
    // reproducible on any cluster. Plan: bounded top-k aggregator, NO
    // per-stratum window (PlanSpec).
    "stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedSample(docs(s, dir), "source", "doc_id", k = 5)),

    // the default chain, end to end ([[pipelineE2e]])
    "pipeline_e2e" -> ((s, dir) => packRows(pipelineE2e(s, dir)._1)),

    // every optional stage at once ([[pipelineFull]])
    "pipeline_full" -> ((s, dir) => packRows(pipelineFull(s, dir)._1)),

    // THE DAILY-CRAWL composition: yesterday's corpus + a CDC change
    // stream → Cdc.applyChanges (the MERGE INTO) builds today's corpus,
    // then TrainingPipeline.run with previousSnapshot = yesterday pays
    // only for the DELTA (the Snapshots.diff-shaped added/changed
    // gate) — never a full re-clean. Fixture law: yesterday lacks the
    // %13 docs (today's inserts) and holds stale text for the %11 docs
    // (today's updates); %19 docs (minus those) are deleted. The net
    // processed delta is therefore exactly the %11 ∪ %13 docs at
    // today's text — the oracle replays that law through the
    // normalize → gate → dedup → chunk → pack chain. A delta gate
    // that leaked unchanged docs, or an applyChanges that lost an
    // update (stale text ⇒ hash equals yesterday ⇒ doc vanishes from
    // the delta), breaks the row set.
    "pipeline_incremental" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
      val yesterday = d.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" archived")))
            .otherwise(col("text")))
      val inserts = d.filter(col("doc_id") % 13 === 0)
        .select(col("doc_id"), col("source"), col("text"),
          lit(1L).as("seq"), lit("I").as("op"))
      val updates = d.filter(col("doc_id") % 11 === 0 && col("doc_id") % 13 =!= 0)
        .select(col("doc_id"), col("source"), col("text"),
          lit(2L).as("seq"), lit("U").as("op"))
      val deletes = d.filter(col("doc_id") % 19 === 0 &&
          col("doc_id") % 11 =!= 0 && col("doc_id") % 13 =!= 0)
        .select(col("doc_id"), col("source"), col("text"),
          lit(3L).as("seq"), lit("D").as("op"))
      val today = graft.operators.Cdc.applyChanges(yesterday,
        inserts.unionByName(updates).unionByName(deletes),
        "doc_id", "seq", "op")
      packRows(graft.jobs.TrainingPipeline.run(s, dir,
        input = Some(today),
        previousSnapshot = Some(yesterday.select(col("doc_id"), col("text"))),
        normalize = true)._1)
    }),

    // scrub-and-count: redact entity-ish terms, report per-doc
    // redaction count + a content hash of the cleaned text (the hash
    // keeps the verified payload small while pinning every byte)
    "redact_terms" -> ((s, dir) => {
      val pat = "\\b(customer|user)\\b"
      docs(s, dir).select(
        col("doc_id"),
        Redact.matchCount(col("text"), pat).as("n_redacted"),
        md5(Redact.redact(col("text"), pat, "<ENTITY>")).as("clean_hash"))
    }),

    // sequence packing: per (source, 2 hash-shards), docs in doc_id
    // order accumulate into <=300-token packs; one row per pack
    "pack_docs" -> ((s, dir) => {
      val toks = size(filter(split(col("text"), "\\s+"), t => t =!= ""))
      Sampling.packBySize(docs(s, dir), "source", "doc_id", toks,
        budget = 300, shards = 2)
    }),

    // context-window chunking: 64-token chunks with 16 shared tokens
    // between consecutive chunks — map-only, no shuffle
    "chunk_docs" -> ((s, dir) =>
      Sampling.chunkDocs(docs(s, dir), "doc_id", "text",
        maxTokens = 64, overlap = 16)),

    // training-mixture weighting: 2.5x src0 (epoch upsampling with a
    // hash-selected half-epoch), half of src1, drop src2, keep the rest
    // — deterministic, shuffle-free, SQL-replayable
    "mixture_sample" -> ((s, dir) =>
      Sampling.mixtureSample(docs(s, dir).select(col("doc_id"), col("source")),
        "source", "doc_id",
        rates = Map("src0" -> 2.5, "src1" -> 0.5, "src2" -> 0.0))),

    // temperature mixture at α = 1/2: √size-proportional rebalancing
    // with the exact integer-threshold law (see Sampling
    // .temperatureMixture) — small sources upsample, the head
    // downsamples, and the kept multiset replays bit-for-bit in SQL
    "temperature_mixture" -> ((s, dir) =>
      Sampling.temperatureMixture(
        docs(s, dir).select(col("doc_id"), col("source")),
        "source", "doc_id")),

    // token-budget sampling: mixtures are specified in TOKENS per
    // source — keep each (source, shard)'s hash-ordered document
    // prefix until the shard's share of the budget is spent; sources
    // without a budget pass through. Sharded cumulative sums, never a
    // single-task global prefix scan (the packBySize discipline).
    "token_budget_sample" -> ((s, dir) => {
      val toks = size(filter(split(col("text"), "\\s+"), t => t =!= ""))
        .cast("long")
      Sampling.tokenBudgetSample(
        docs(s, dir).select(col("doc_id"), col("source"), toks.as("n_tokens")),
        "source", "doc_id", col("n_tokens"),
        budgets = Map("src0" -> 400L, "src1" -> 200L), shards = 2)
    }),

    // fixed-length sequence-packing manifest (see
    // Sampling.packSequences): documents concatenated per hash shard
    // and cut into 256-token training windows, boundary-spanning docs
    // split across consecutive windows — span rows, not token rows.
    // The oracle replays shard assignment, sharded running offsets,
    // and the window interval arithmetic exactly.
    "pack_sequences" -> ((s, dir) => {
      val toks = size(filter(split(col("text"), "\\s+"), t => t =!= ""))
        .cast("long")
      Sampling.packSequences(
        docs(s, dir).select(col("doc_id"), toks.as("n_tokens")),
        "doc_id", col("n_tokens"), seqLen = 256, shards = 4)
    }),

    // Packing-efficiency audit: fill ppm per shard over the
    // pack_sequences manifest plus the exactness law (every sequence
    // but each shard's trailing partial is exactly seqLen tokens —
    // wasted pad tokens are wasted training compute, and this is the
    // number a dataloader owner actually watches). Narrow manifest
    // rows only; two bounded aggregations.
    "pack_fill_eval" -> ((s, dir) => {
      val toks = size(filter(split(col("text"), "\\s+"), t => t =!= ""))
        .cast("long")
      val manifest = Sampling.packSequences(
        docs(s, dir).select(col("doc_id"), toks.as("n_tokens")),
        "doc_id", col("n_tokens"), seqLen = 256, shards = 4)
      manifest.groupBy("shard", "seq_id")
        .agg(sum("n_toks").as("seq_toks"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_seqs"),
          sum("seq_toks").as("n_toks"),
          sum(when(col("seq_toks") === 256L, 1L).otherwise(0L)).as("full_seqs"))
        .selectExpr("shard", "n_seqs", "n_toks", "full_seqs",
          "(n_toks*1000000) DIV (n_seqs*256) AS fill_ppm",
          "CAST(full_seqs >= n_seqs - 1 AS BIGINT) AS law_ok")
    }),

    // TOKENIZER-AT-SCALE composition: the trained BPE merges applied
    // corpus-wide, with the REAL subword counts (not whitespace words)
    // feeding the token-budget gate and then the packing manifest —
    // the composition a production dataloader actually consumes
    // (budgets and sequence lengths are meaningful in tokenizer units
    // only). bpe_tokenize proves the tokenizer; token_budget_sample /
    // pack_sequences prove the samplers on word counts; THIS row
    // proves the three compose: the oracle stacks the full
    // recursive-CTE BPE replay (CleanQueries.bpeChainCte) under the
    // budget-prefix and packing-interval replays, so any handoff drift
    // (which count feeds which stage, budget-before-pack order)
    // hash-mismatches. merges_md5 rides every row — the tokenizer
    // checksum a manifest consumer pins.
    "pipeline_tokenized" -> ((s, dir) => {
      val d = docs(s, dir)
      val merges = graft.operators.Bpe.train(d, "text", nMerges = 40)
      val counted = graft.operators.Bpe.tokenize(d, "text", merges)
        .select(col("doc_id"), col("source"),
          size(col("bpe_tokens")).cast("long").as("n_tokens"))
      val kept = Sampling.tokenBudgetSample(counted, "source", "doc_id",
        col("n_tokens"), budgets = Map("src0" -> 400L, "src1" -> 200L),
        shards = 2)
      Sampling.packSequences(kept.select(col("doc_id"), col("n_tokens")),
        "doc_id", col("n_tokens"), seqLen = 256, shards = 4)
        .withColumn("merges_md5",
          lit(graft.operators.Bpe.mergesChecksum(merges)))
    }),

    // deterministic global training-order shuffle: hash shard +
    // within-shard sort key, a pure row-local projection (the write
    // side repartitions by shard and sorts within partitions — never a
    // global sort)
    "shuffle_order" -> ((s, dir) =>
      Sampling.shuffleOrder(docs(s, dir).select(col("doc_id")), "doc_id",
        shards = 8)),

    // deterministic 90/5/5 train/val/test assignment — row-local, zero
    // shuffles, leakage-proof (membership is a pure function of doc_id)
    "split_assign" -> ((s, dir) =>
      Sampling.hashSplit(docs(s, dir).select(col("doc_id"), col("source")),
        "doc_id", Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))),

    // the corpus "data card": per (source, lang) doc counts and token
    // distribution moments from exact integer sums (mean/stddev derived
    // identically on both engines, word_stats-style). Overflow
    // discipline for 100 TB groups: the per-row square is computed in
    // decimal(38,0) too (a LONG multiply overflows past ~3e9 tokens in
    // ONE doc), and the squared-sum accumulates in decimal(38,0)
    // (Spark) / HUGEINT (DuckDB) — both exact — and both
    // engines convert the SAME exact integer to double at the same
    // point, so the derived stddev stays bit-equal; total² is computed
    // in doubles on both sides (a long multiply would overflow past
    // ~3e9 total tokens per group)
    "corpus_stats" -> ((s, dir) => {
      val toks = size(filter(split(col("text"), "\\s+"), t => t =!= "")).cast("long")
      docs(s, dir).select(col("source"), col("lang"), toks.as("toks"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("total_tokens"),
          sum(col("toks").cast("decimal(38,0)") *
              col("toks").cast("decimal(38,0)"))
            .cast("double").as("sum_sq"),
          median(col("toks")).as("median_tokens"),
          min(col("toks")).as("min_tokens"),
          max(col("toks")).as("max_tokens"))
        .select(col("source"), col("lang"), col("n_docs"), col("total_tokens"),
          col("median_tokens"), col("min_tokens"), col("max_tokens"),
          (col("total_tokens") / col("n_docs")).as("mean_tokens"),
          sqrt((col("sum_sq") -
            col("total_tokens").cast("double") * col("total_tokens") / col("n_docs"))
            / col("n_docs")).as("stddev_tokens"))
    })
  )

  // Shared replay of Sampling.packSequences(seqLen=256, shards=4) over
  // `documents`, ending at `pk(shard, seq_id, doc_id, doc_tok_start,
  // n_toks, seq_pos)`; prepend WITH.
  private val packCte: String =
    """t AS (
      |  SELECT doc_id,
      |         CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS toks,
      |         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT % 4 AS shard
      |  FROM documents
      |), o AS (
      |  SELECT doc_id, toks, shard,
      |         CAST(COALESCE(SUM(toks) OVER (
      |           PARTITION BY shard ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prior
      |  FROM t WHERE toks > 0
      |), pk AS (
      |  SELECT CAST(shard AS BIGINT) AS shard, CAST(g.seq AS BIGINT) AS seq_id, doc_id,
      |         CAST(GREATEST(prior, g.seq * 256) - prior AS BIGINT) AS doc_tok_start,
      |         CAST(LEAST(prior + toks, (g.seq + 1) * 256)
      |              - GREATEST(prior, g.seq * 256) AS BIGINT) AS n_toks,
      |         CAST(GREATEST(prior, g.seq * 256) - g.seq * 256 AS BIGINT) AS seq_pos
      |  FROM o, LATERAL (SELECT unnest(range(prior // 256, (prior + toks - 1) // 256 + 1)) AS seq) g
      |)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // the full default-chain replay, each stage's verified oracle CTE
    // stacked in pipeline order: normalize → en/length gate → exact
    // dedup (min-id per md5) → simhash 4×16 banding + recursive-CTE
    // connected components → %97 eval-suite decontamination at 0.8 →
    // rate mixture (52-bit-hash law) → 64/16 chunk grid → per-(source,
    // md5-shard) 256-token packing
    "pipeline_e2e" ->
      raw"""WITH RECURSIVE norm AS (
        |  SELECT doc_id, source,
        |         trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')) AS text
        |  FROM documents
        |), tok AS (
        |  SELECT doc_id, source, text,
        |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM norm
        |), gated AS (
        |  SELECT doc_id, source, text, t FROM (
        |    SELECT *,
        |      len(list_filter(t, x -> x IN ('the','a','is','of','and'))) AS s_en,
        |      len(list_filter(t, x -> x IN ('der','die','das','und','ein'))) AS s_de,
        |      len(list_filter(t, x -> x IN ('le','la','les','des','une'))) AS s_fr,
        |      len(list_filter(t, x -> x IN ('el','los','las','una','y'))) AS s_es
        |    FROM tok) g
        |  WHERE len(t) >= 10
        |    AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr
        |), exact AS (
        |  SELECT doc_id, source, text, t FROM (
        |    SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
        |    FROM gated) e
        |  WHERE doc_id = keep_id
        |), bsum AS (
        |  SELECT doc_id, j,
        |    SUM((((('0x' || substr(md5(w), j // 4 + 1, 1))::INT) >> (3 - j % 4)) & 1) * 2 - 1) AS s
        |  FROM (SELECT doc_id, unnest(t) AS w FROM exact) wt,
        |       (SELECT unnest(range(0, 64)) AS j)
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
        |  JOIN (SELECT band, bits FROM banded GROUP BY band, bits HAVING COUNT(*) <= 1000) ok
        |    USING (band, bits)
        |), prs AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bkept x JOIN bkept y
        |    ON x.band = y.band AND x.bits = y.bits AND x.doc_id < y.doc_id
        |  WHERE bit_count(xor(x.simhash::BIT, y.simhash::BIT)) <= 3
        |), edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM prs
        |  UNION ALL SELECT doc_b, doc_a FROM prs
        |), reach AS (
        |  SELECT src AS id, dst AS r FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
        |), clustered AS (
        |  SELECT d.doc_id,
        |         COALESCE(LEAST(MIN(reach.r), d.doc_id), d.doc_id) AS cluster_id
        |  FROM exact d LEFT JOIN reach ON reach.id = d.doc_id
        |  GROUP BY d.doc_id
        |), neark AS (
        |  SELECT e.* FROM exact e JOIN clustered c USING (doc_id)
        |  WHERE c.doc_id = c.cluster_id
        |), evh AS (
        |  SELECT DISTINCT ('0x' || substring(md5(sh), 1, 15))::BIGINT AS h1 FROM (
        |    SELECT DISTINCT doc_id, unnest(CASE WHEN len(t) >= 3
        |      THEN list_transform(range(1, len(t)-1), i -> array_to_string(list_slice(t, i, i+2), ' '))
        |      ELSE [] END) AS sh
        |    FROM tok WHERE doc_id % 97 = 0) evs
        |), csh AS (
        |  SELECT DISTINCT doc_id, ('0x' || substring(md5(sh), 1, 15))::BIGINT AS h1 FROM (
        |    SELECT DISTINCT doc_id, unnest(CASE WHEN len(t) >= 3
        |      THEN list_transform(range(1, len(t)-1), i -> array_to_string(list_slice(t, i, i+2), ' '))
        |      ELSE [] END) AS sh
        |    FROM neark) cs
        |), contam AS (
        |  SELECT doc_id FROM (
        |    SELECT c.doc_id, COUNT(*) AS n_grams,
        |           SUM(CASE WHEN e.h1 IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
        |    FROM csh c LEFT JOIN evh e USING (h1) GROUP BY c.doc_id) x
        |  WHERE CAST(n_hit AS DOUBLE) / n_grams >= 0.8
        |), wk AS (
        |  SELECT * FROM (
        |    SELECT doc_id, source, t,
        |           CAST(FLOOR(rate) AS BIGINT) +
        |             (CASE WHEN CAST(hk AS DOUBLE) < (rate - FLOOR(rate)) * 4503599627370496.0
        |                   THEN 1 ELSE 0 END) AS n_copies
        |    FROM (
        |      SELECT *,
        |             CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.5
        |                         WHEN 'src2' THEN 0.0 ELSE 1.0 END AS rate,
        |             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS hk
        |      FROM neark
        |      WHERE doc_id NOT IN (SELECT doc_id FROM contam)) r) w
        |  WHERE n_copies > 0
        |), chunks AS (
        |  SELECT doc_id, source, n_copies,
        |         CAST((s - 1) // 48 AS BIGINT) AS chunk_id,
        |         CAST(least(64, n - s + 1) AS BIGINT) AS n_tokens
        |  FROM (
        |    SELECT doc_id, source, n_copies, len(t) AS n,
        |           unnest(range(1, greatest(len(t) - 16, 1) + 1, 48)) AS s
        |    FROM wk WHERE len(t) > 0) st
        |), units AS (
        |  SELECT source, n_tokens,
        |         CAST(doc_id AS VARCHAR) || '#' || CAST(g.copy_id AS VARCHAR)
        |           || '#' || CAST(chunk_id AS VARCHAR) AS unit
        |  FROM chunks, LATERAL (SELECT unnest(range(0, n_copies)) AS copy_id) g
        |), packs AS (
        |  SELECT source, n_tokens,
        |         ('0x' || substring(md5(unit), 1, 13))::BIGINT % 2 AS shard,
        |         COALESCE(SUM(n_tokens) OVER (
        |           PARTITION BY source, ('0x' || substring(md5(unit), 1, 13))::BIGINT % 2
        |           ORDER BY unit
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |  FROM units
        |)
        |SELECT source, CAST(shard AS BIGINT) AS shard,
        |       CAST(FLOOR(prior / 256) AS BIGINT) AS pack_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_units,
        |       CAST(SUM(n_tokens) AS BIGINT) AS tok_sum
        |FROM packs GROUP BY source, shard, FLOOR(prior / 256)""".stripMargin,
    // the full-options replay: html_extract's page wrap + the
    // extractLines strip, template_strip's hot-line law (minDf 5),
    // pipeline_e2e's normalize/gate/exact/simhash stack,
    // repetition_filter's 2-gram law as a gate (> 0.08),
    // dedup_embedding_blocked's LSH recipe over the survivors'
    // embeddings (cells pinned 32) + semantic_dedup's recursion,
    // pipeline_e2e's %97 doc-level decontamination at 0.8 PLUS the
    // decontaminate_substring_apply 10-gram span-strip replay (the
    // stripped token lists feed everything downstream),
    // dsir_weights' λ/selection law with the normalized en target, and
    // token_budget_sample's per-(source, shard) prefix law — then the
    // shared chunk/pack tail at n_copies = 1. The stack also
    // carries the media_dedup_e2e replay between the semantic and
    // decontamination stages: the audio-law fingerprint chain over the
    // %10 originals + %40 byte-copies (id+3) + %30 mid-stream extracts
    // (id+5), set collapse on the full ordered (win, subfp) sequence,
    // offset-vote pairs among representatives, exact-group edges,
    // recursive closure, and the min-reachable election — docs that
    // lose it (mdrops) leave the chain exactly where stage 3c drops
    // them in TrainingPipeline.run. The same slot also
    // carries the image_dedup_e2e replay (idrops): the still-image
    // phash chain over the %10=1 originals + %40=1 byte-copies (id+7)
    // + %30=1 BMP re-encodes (id+9), exact groups by the
    // (src mod 768, container) byte-identity class, the literal
    // 4×16-band + hot-cap + hamming<=3 pair replay among
    // representatives, exact-group edges, closure, and the keeper
    // election — mediak excludes both drop sets
    "pipeline_full" ->
      raw"""WITH RECURSIVE p0 AS MATERIALIZED (
        |  SELECT doc_id, source,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || ' - ' || source
        |    || '</title><style>p{margin:0}</style></head><body><script>var d='
        |    || CAST(doc_id AS VARCHAR) || ';</script><h1>Doc ' || CAST(doc_id AS VARCHAR)
        |    || '</h1><p>'
        |    || replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
        |    || '</p><div class="nav"><a href="/s/1">more from ' || source
        |    || '</a>&nbsp;&amp; <a href="/a">archive</a></div><!-- footer --></body></html>' AS html
        |  FROM documents
        |), s0 AS (
        |  SELECT doc_id, source,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(html,
        |      '(?is)<head\b[^>]*>.*?</head>', '', 'g'),
        |      '(?is)<script\b[^>]*>.*?</script>', '', 'g'),
        |      '(?is)<style\b[^>]*>.*?</style>', '', 'g'),
        |      '(?is)<noscript\b[^>]*>.*?</noscript>', '', 'g'),
        |      '(?is)<template\b[^>]*>.*?</template>', '', 'g'),
        |      '(?s)<!--.*?-->', '', 'g') AS dropped
        |  FROM p0
        |), u0 AS (
        |  SELECT doc_id, source,
        |    regexp_replace(regexp_replace(dropped,
        |      '(?i)</?(?:br|p|div|h[1-6]|li|tr|td|th|dt|dd|table|ul|ol|blockquote|section|article|header|footer|pre)\b[^>]*>', chr(10), 'g'),
        |      '(?s)<[^>]*>', '', 'g') AS untagged
        |  FROM s0
        |), x0 AS MATERIALIZED (
        |  SELECT doc_id, source,
        |    regexp_replace(regexp_replace(regexp_replace(
        |      replace(replace(replace(replace(replace(replace(untagged,
        |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |        '&nbsp;', ' '), '&amp;', '&'),
        |      '[^\S\n]+', ' ', 'g'),
        |      ' ?\n[ \n]*', chr(10), 'g'),
        |      '^\s+|\s+$$', '', 'g') AS text
        |  FROM u0
        |), ldf AS (
        |  SELECT line, COUNT(DISTINCT doc_id) AS df
        |  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM x0) l
        |  WHERE trim(line) <> '' GROUP BY line
        |), lhot AS (
        |  SELECT COALESCE(list(line ORDER BY line), []::VARCHAR[]) AS hl
        |  FROM ldf WHERE df >= 5
        |), strp AS (
        |  SELECT doc_id, source,
        |    array_to_string(list_filter(string_split(text, chr(10)),
        |      x -> NOT list_contains(hl, x)), chr(10)) AS text
        |  FROM x0 CROSS JOIN lhot
        |), norm AS (
        |  SELECT doc_id, source,
        |         trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')) AS text
        |  FROM strp
        |), tok AS MATERIALIZED (
        |  SELECT doc_id, source, text,
        |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM norm
        |), gated AS MATERIALIZED (
        |  SELECT doc_id, source, text, t FROM (
        |    SELECT *,
        |      len(list_filter(t, x -> x IN ('the','a','is','of','and'))) AS s_en,
        |      len(list_filter(t, x -> x IN ('der','die','das','und','ein'))) AS s_de,
        |      len(list_filter(t, x -> x IN ('le','la','les','des','une'))) AS s_fr,
        |      len(list_filter(t, x -> x IN ('el','los','las','una','y'))) AS s_es
        |    FROM tok) g
        |  WHERE len(t) >= 10
        |    AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr
        |), rgc AS (
        |  SELECT doc_id, h, COUNT(*) AS c FROM (
        |    SELECT doc_id, ('0x' || substring(md5(sh), 1, 15))::BIGINT AS h FROM (
        |      SELECT doc_id, unnest(CASE WHEN len(t) >= 2
        |        THEN list_transform(range(1, len(t)), i -> array_to_string(list_slice(t, i, i+1), ' '))
        |        ELSE [] END) AS sh
        |      FROM gated) g2) h2
        |  GROUP BY doc_id, h
        |), rflag AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, SUM(c) AS n_grams, COUNT(*) AS n_distinct
        |    FROM rgc GROUP BY doc_id) d2
        |  WHERE CAST(n_grams - n_distinct AS DOUBLE) / n_grams > 0.08
        |), rept AS (
        |  SELECT * FROM gated WHERE doc_id NOT IN (SELECT doc_id FROM rflag)
        |), exact AS MATERIALIZED (
        |  SELECT doc_id, source, text, t FROM (
        |    SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
        |    FROM rept) e
        |  WHERE doc_id = keep_id
        |), bsum AS (
        |  SELECT doc_id, j,
        |    SUM((((('0x' || substr(md5(w), j // 4 + 1, 1))::INT) >> (3 - j % 4)) & 1) * 2 - 1) AS s
        |  FROM (SELECT doc_id, unnest(t) AS w FROM exact) wt,
        |       (SELECT unnest(range(0, 64)) AS j)
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
        |  JOIN (SELECT band, bits FROM banded GROUP BY band, bits HAVING COUNT(*) <= 1000) ok
        |    USING (band, bits)
        |), prs AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bkept x JOIN bkept y
        |    ON x.band = y.band AND x.bits = y.bits AND x.doc_id < y.doc_id
        |  WHERE bit_count(xor(x.simhash::BIT, y.simhash::BIT)) <= 3
        |), edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM prs
        |  UNION ALL SELECT doc_b, doc_a FROM prs
        |), reach AS (
        |  SELECT src AS id, dst AS r FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
        |), clustered AS (
        |  SELECT d.doc_id,
        |         COALESCE(LEAST(MIN(reach.r), d.doc_id), d.doc_id) AS cluster_id
        |  FROM exact d LEFT JOIN reach ON reach.id = d.doc_id
        |  GROUP BY d.doc_id
        |), neark AS MATERIALIZED (
        |  SELECT e.* FROM exact e JOIN clustered c USING (doc_id)
        |  WHERE c.doc_id = c.cluster_id
        |), semb AS MATERIALIZED (
        |  SELECT e2.vec_id AS doc_id, e2.embedding::DOUBLE[] AS v
        |  FROM embeddings e2 JOIN neark n2 ON n2.doc_id = e2.vec_id
        |), sseeds AS (
        |  SELECT t2.t, semb.doc_id AS cell, semb.v,
        |         row_number() OVER (PARTITION BY t2.t
        |           ORDER BY md5(CAST(semb.doc_id AS VARCHAR) || ':' || CAST(t2.t AS VARCHAR))) AS rk
        |  FROM semb, (SELECT unnest(range(1, 7)) AS t) t2
        |), scb AS (
        |  SELECT t, cell,
        |         list_transform(v, x -> x / sqrt(list_inner_product(v, v))) AS cv
        |  FROM sseeds WHERE rk <= 32
        |), sassigned AS (
        |  SELECT doc_id, t, cell FROM (
        |    SELECT sc.doc_id, sc.t, sc.cell,
        |           row_number() OVER (PARTITION BY sc.doc_id, sc.t ORDER BY sc.s DESC, sc.cell ASC) AS rnk
        |    FROM (SELECT semb.doc_id, cb.t, cb.cell, list_inner_product(semb.v, cb.cv) AS s
        |          FROM semb, scb cb) sc)
        |  WHERE rnk <= 2
        |), scapped AS (
        |  SELECT a.* FROM sassigned a
        |  JOIN (SELECT t, cell FROM sassigned GROUP BY t, cell HAVING COUNT(*) <= 1000) ok2
        |    USING (t, cell)
        |), sp AS (
        |  SELECT vec_a, vec_b FROM (
        |    SELECT DISTINCT a.doc_id AS vec_a, b.doc_id AS vec_b
        |    FROM scapped a JOIN scapped b
        |      ON a.t = b.t AND a.cell = b.cell AND a.doc_id < b.doc_id) cnd
        |  JOIN semb ea ON ea.doc_id = vec_a
        |  JOIN semb eb ON eb.doc_id = vec_b
        |  WHERE list_inner_product(ea.v, eb.v) /
        |        (sqrt(list_inner_product(ea.v, ea.v)) * sqrt(list_inner_product(eb.v, eb.v))) >= 0.38
        |), sedges AS (
        |  SELECT vec_a AS src, vec_b AS dst FROM sp
        |  UNION ALL SELECT vec_b, vec_a FROM sp
        |), sreach AS (
        |  SELECT src AS id, dst AS r FROM sedges
        |  UNION
        |  SELECT g3.src, sreach.r FROM sedges g3 JOIN sreach ON sreach.id = g3.dst
        |), semk AS MATERIALIZED (
        |  SELECT n3.* FROM neark n3 LEFT JOIN (
        |    SELECT id, MIN(r) AS mn FROM sreach GROUP BY id) rr3 ON rr3.id = n3.doc_id
        |  WHERE rr3.id IS NULL OR LEAST(rr3.mn, n3.doc_id) = n3.doc_id
        |), base AS (
        |  SELECT doc_id, doc_id AS src, CAST(256 + doc_id % 512 AS BIGINT) AS n,
        |         3 + doc_id % 5 AS m, 0 AS off
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 3, doc_id, CAST(256 + doc_id % 512 AS BIGINT),
        |         3 + doc_id % 5, 0
        |  FROM documents WHERE doc_id % 40 = 0
        |  UNION ALL
        |  SELECT doc_id + 5, doc_id, CAST(256 + doc_id % 512 - 64 AS BIGINT),
        |         3 + doc_id % 5, 64
        |  FROM documents WHERE doc_id % 30 = 0
        |), ${MultimodalQueries.subfpChain}, msig AS (
        |  SELECT doc_id,
        |         string_agg(win_idx || ':' || subfp, ',' ORDER BY win_idx) AS fset
        |  FROM fp GROUP BY doc_id
        |), mgrp AS (
        |  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fset) AS rep FROM msig
        |), mkept AS (
        |  SELECT fp.* FROM fp JOIN mgrp ON fp.doc_id = mgrp.doc_id
        |  WHERE mgrp.doc_id = mgrp.rep
        |), mok AS (
        |  SELECT subfp FROM mkept GROUP BY subfp HAVING COUNT(*) <= 1000
        |), mkk AS (
        |  SELECT mkept.* FROM mkept JOIN mok USING (subfp)
        |), mprs AS (
        |  SELECT a, b FROM (
        |    SELECT x.doc_id AS a, y.doc_id AS b,
        |           x.win_idx - y.win_idx AS off, COUNT(*) AS support
        |    FROM mkk x JOIN mkk y ON x.subfp = y.subfp AND x.doc_id < y.doc_id
        |    GROUP BY 1, 2, 3)
        |  GROUP BY a, b HAVING MAX(support) >= 2
        |), malledges AS (
        |  SELECT a, b FROM mprs
        |  UNION ALL
        |  SELECT doc_id, rep FROM mgrp WHERE doc_id != rep
        |), medges AS (
        |  SELECT a AS mi, b AS mj FROM malledges
        |  UNION ALL
        |  SELECT b, a FROM malledges
        |), mreach AS (
        |  SELECT mi AS id, mj AS r FROM medges
        |  UNION
        |  SELECT g5.mi, mreach.r FROM medges g5 JOIN mreach ON mreach.id = g5.mj
        |), mdrops AS (
        |  SELECT mu.doc_id
        |  FROM (SELECT DISTINCT doc_id FROM base) mu
        |  LEFT JOIN mreach ON mreach.id = mu.doc_id
        |  GROUP BY mu.doc_id
        |  HAVING CAST(COALESCE(LEAST(MIN(mreach.r), mu.doc_id), mu.doc_id) AS BIGINT) != mu.doc_id
        |), imgs AS (
        |  SELECT doc_id, doc_id AS src, 0 AS bmp FROM documents WHERE doc_id % 10 = 1
        |  UNION ALL
        |  SELECT doc_id + 7, doc_id, 0 FROM documents WHERE doc_id % 40 = 1
        |  UNION ALL
        |  SELECT doc_id + 9, doc_id, 1 FROM documents WHERE doc_id % 30 = 1
        |), ${MultimodalQueries.stillSigChain}, igrp AS (
        |  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY src % 768, bmp) AS rep
        |  FROM imgs
        |), irep AS (
        |  SELECT iah.doc_id, iah.sig AS phash
        |  FROM iah JOIN igrp ON iah.doc_id = igrp.doc_id
        |  WHERE igrp.doc_id = igrp.rep
        |), ibnd AS (
        |  SELECT doc_id, phash, b AS band, substring(phash, 1 + 16*b, 16) AS bits
        |  FROM irep, (SELECT unnest(range(0, 4)) AS b)
        |), ibk AS (
        |  SELECT x.* FROM ibnd x
        |  JOIN (SELECT band, bits FROM ibnd GROUP BY band, bits HAVING COUNT(*) <= 1000) iok
        |    USING (band, bits)
        |), iprs AS (
        |  SELECT DISTINCT c9.ia, c9.ib FROM (
        |    SELECT x.doc_id AS ia, y.doc_id AS ib
        |    FROM ibk x JOIN ibk y
        |      ON x.band = y.band AND x.bits = y.bits AND x.doc_id < y.doc_id
        |    WHERE bit_count(xor(x.phash::BIT, y.phash::BIT)) <= 3) c9
        |  JOIN idh ida ON ida.doc_id = c9.ia
        |  JOIN idh idb ON idb.doc_id = c9.ib
        |  WHERE bit_count(xor(ida.sig::BIT, idb.sig::BIT)) <= 3
        |), ialledges AS (
        |  SELECT ia, ib FROM iprs
        |  UNION ALL
        |  SELECT doc_id, rep FROM igrp WHERE doc_id != rep
        |), iedges AS (
        |  SELECT ia AS isrc, ib AS idst FROM ialledges
        |  UNION ALL
        |  SELECT ib, ia FROM ialledges
        |), ireach AS (
        |  SELECT isrc AS id, idst AS r FROM iedges
        |  UNION
        |  SELECT g7.isrc, ireach.r FROM iedges g7 JOIN ireach ON ireach.id = g7.idst
        |), idrops AS (
        |  SELECT iu.doc_id
        |  FROM (SELECT DISTINCT doc_id FROM imgs) iu
        |  LEFT JOIN ireach ON ireach.id = iu.doc_id
        |  GROUP BY iu.doc_id
        |  HAVING CAST(COALESCE(LEAST(MIN(ireach.r), iu.doc_id), iu.doc_id) AS BIGINT) != iu.doc_id
        |), mediak AS MATERIALIZED (
        |  SELECT * FROM semk WHERE doc_id NOT IN (SELECT doc_id FROM mdrops)
        |    AND doc_id NOT IN (SELECT doc_id FROM idrops)
        |), evt AS MATERIALIZED (
        |  SELECT doc_id, list_filter(string_split_regex(
        |           trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')),
        |           '\s+'), x -> x <> '') AS t
        |  FROM documents WHERE doc_id % 97 = 0
        |), evh AS (
        |  SELECT DISTINCT ('0x' || substring(md5(sh), 1, 15))::BIGINT AS h1 FROM (
        |    SELECT unnest(CASE WHEN len(t) >= 3
        |      THEN list_transform(range(1, len(t)-1), i -> array_to_string(list_slice(t, i, i+2), ' '))
        |      ELSE [] END) AS sh
        |    FROM evt) e9
        |), csh AS (
        |  SELECT DISTINCT doc_id, ('0x' || substring(md5(sh), 1, 15))::BIGINT AS h1 FROM (
        |    SELECT DISTINCT doc_id, unnest(CASE WHEN len(t) >= 3
        |      THEN list_transform(range(1, len(t)-1), i -> array_to_string(list_slice(t, i, i+2), ' '))
        |      ELSE [] END) AS sh
        |    FROM mediak) c9
        |), contam AS (
        |  SELECT doc_id FROM (
        |    SELECT c.doc_id, COUNT(*) AS n_grams,
        |           SUM(CASE WHEN e.h1 IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
        |    FROM csh c LEFT JOIN evh e USING (h1) GROUP BY c.doc_id) x9
        |  WHERE CAST(n_hit AS DOUBLE) / n_grams >= 0.8
        |), cln AS MATERIALIZED (
        |  SELECT * FROM mediak WHERE doc_id NOT IN (SELECT doc_id FROM contam)
        |), eh10 AS (
        |  SELECT DISTINCT ('0x' || substring(md5(array_to_string(list_slice(t, i, i + 9), ' ')), 1, 15))::BIGINT AS h
        |  FROM (SELECT t, unnest(range(1, len(t) - 8)) AS i FROM evt) z9
        |), mk10 AS (
        |  SELECT doc_id, i FROM (
        |    SELECT doc_id, i,
        |           ('0x' || substring(md5(array_to_string(list_slice(t, i, i + 9), ' ')), 1, 15))::BIGINT AS h
        |    FROM (SELECT doc_id, t, unnest(range(1, len(t) - 8)) AS i FROM cln) g9) h9
        |  JOIN eh10 USING (h)
        |), cv10 AS (
        |  SELECT DISTINCT doc_id, ti FROM (
        |    SELECT doc_id, unnest(list_transform(range(0, 10), u -> i + u)) AS ti FROM mk10) u9
        |), tk10 AS (
        |  SELECT doc_id, source, unnest(range(1, len(t) + 1)) AS ti, t FROM cln
        |), kp10 AS (
        |  SELECT k.doc_id, k.source, k.ti, k.t[k.ti] AS w
        |  FROM tk10 k LEFT JOIN cv10 c10 ON c10.doc_id = k.doc_id AND c10.ti = k.ti
        |  WHERE c10.ti IS NULL
        |), strip AS MATERIALIZED (
        |  SELECT doc_id, source, list(w ORDER BY ti) AS t
        |  FROM kp10 GROUP BY doc_id, source
        |), tbt AS (
        |  SELECT (('0x' || substring(md5(tt), 1, 15))::BIGINT % 1024) AS f FROM (
        |    SELECT unnest(list_filter(string_split_regex(
        |      trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')),
        |      '\s+'), x -> x <> '')) AS tt
        |    FROM documents WHERE lang = 'en') tx
        |), rbt AS (
        |  SELECT doc_id, (('0x' || substring(md5(tt), 1, 15))::BIGINT % 1024) AS f
        |  FROM (SELECT doc_id, unnest(t) AS tt FROM strip) rx
        |), rc AS (
        |  SELECT f, CAST(COUNT(*) AS BIGINT) AS r FROM rbt GROUP BY f
        |), tc AS (
        |  SELECT f, CAST(COUNT(*) AS BIGINT) AS c FROM tbt GROUP BY f
        |), tot AS (
        |  SELECT (SELECT COUNT(*) FROM tbt) AS tt, (SELECT COUNT(*) FROM rbt) AS rr
        |), lam AS (
        |  SELECT b4.f,
        |         CAST(round(1000000.0 * (ln((COALESCE(tc.c, 0) + 1) / CAST(tot.tt + 1024 AS DOUBLE))
        |                               - ln((COALESCE(rc.r, 0) + 1) / CAST(tot.rr + 1024 AS DOUBLE)))) AS BIGINT) AS lam
        |  FROM (SELECT unnest(range(0, 1024)) AS f) b4
        |  CROSS JOIN tot
        |  LEFT JOIN tc ON tc.f = b4.f
        |  LEFT JOIN rc ON rc.f = b4.f
        |), dsc AS (
        |  SELECT rbt.doc_id, CAST(SUM(lam.lam) AS BIGINT) AS logw, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM rbt JOIN lam ON lam.f = rbt.f GROUP BY rbt.doc_id
        |), dw AS (
        |  SELECT s4.doc_id,
        |         CAST(COALESCE(dsc.n, 0) AS BIGINT) AS n_toks,
        |         CAST(COALESCE(dsc.logw, 0) AS BIGINT) AS logw_fp
        |  FROM strip s4 LEFT JOIN dsc USING (doc_id)
        |), dtot AS (
        |  SELECT CAST(SUM(logw_fp) AS HUGEINT) AS sl, CAST(SUM(n_toks) AS HUGEINT) AS sn FROM dw
        |), dsel AS MATERIALIZED (
        |  SELECT s5.* FROM strip s5 JOIN dw ON dw.doc_id = s5.doc_id CROSS JOIN dtot
        |  WHERE CAST(dw.logw_fp AS HUGEINT) * dtot.sn > dtot.sl * CAST(dw.n_toks AS HUGEINT)
        |), buds AS (
        |  SELECT doc_id, source, t,
        |         COALESCE(SUM(len(t)) OVER (
        |           PARTITION BY source, hk % 2 ORDER BY hk, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior_toks
        |  FROM (SELECT *, ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS hk
        |        FROM dsel) b5
        |), kept AS (
        |  SELECT doc_id, source, t FROM buds
        |  WHERE CASE source WHEN 'src0' THEN prior_toks < 200
        |                    WHEN 'src1' THEN prior_toks < 100
        |                    ELSE TRUE END
        |), chunks AS (
        |  SELECT doc_id, source,
        |         CAST((s6 - 1) // 48 AS BIGINT) AS chunk_id,
        |         CAST(least(64, n - s6 + 1) AS BIGINT) AS n_tokens
        |  FROM (
        |    SELECT doc_id, source, len(t) AS n,
        |           unnest(range(1, greatest(len(t) - 16, 1) + 1, 48)) AS s6
        |    FROM kept WHERE len(t) > 0) st
        |), units AS (
        |  SELECT source, n_tokens,
        |         CAST(doc_id AS VARCHAR) || '#0#' || CAST(chunk_id AS VARCHAR) AS unit
        |  FROM chunks
        |), packs AS (
        |  SELECT source, n_tokens,
        |         ('0x' || substring(md5(unit), 1, 13))::BIGINT % 2 AS shard,
        |         COALESCE(SUM(n_tokens) OVER (
        |           PARTITION BY source, ('0x' || substring(md5(unit), 1, 13))::BIGINT % 2
        |           ORDER BY unit
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |  FROM units
        |)
        |SELECT source, CAST(shard AS BIGINT) AS shard,
        |       CAST(FLOOR(prior / 256) AS BIGINT) AS pack_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_units,
        |       CAST(SUM(n_tokens) AS BIGINT) AS tok_sum
        |FROM packs GROUP BY source, shard, FLOOR(prior / 256)""".stripMargin,

    // the incremental chain's NET law: the processed delta is the
    // %11 ∪ %13 docs at today's text (inserts + updates; deletes and
    // unchanged rows never reach the pipeline), then the same
    // normalize → gate → exact → near-dup → chunk → pack stack with
    // n_copies ≡ 1 (no mixture stage in the daily run)
    "pipeline_incremental" ->
      raw"""WITH RECURSIVE delta AS (
        |  SELECT doc_id, source, text FROM documents
        |  WHERE doc_id % 11 = 0 OR doc_id % 13 = 0
        |), norm AS (
        |  SELECT doc_id, source,
        |         trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')) AS text
        |  FROM delta
        |), tok AS (
        |  SELECT doc_id, source, text,
        |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM norm
        |), gated AS (
        |  SELECT doc_id, source, text, t FROM (
        |    SELECT *,
        |      len(list_filter(t, x -> x IN ('the','a','is','of','and'))) AS s_en,
        |      len(list_filter(t, x -> x IN ('der','die','das','und','ein'))) AS s_de,
        |      len(list_filter(t, x -> x IN ('le','la','les','des','une'))) AS s_fr,
        |      len(list_filter(t, x -> x IN ('el','los','las','una','y'))) AS s_es
        |    FROM tok) g
        |  WHERE len(t) >= 10
        |    AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr
        |), exact AS (
        |  SELECT doc_id, source, text, t FROM (
        |    SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
        |    FROM gated) e
        |  WHERE doc_id = keep_id
        |), bsum AS (
        |  SELECT doc_id, j,
        |    SUM((((('0x' || substr(md5(w), j // 4 + 1, 1))::INT) >> (3 - j % 4)) & 1) * 2 - 1) AS s
        |  FROM (SELECT doc_id, unnest(t) AS w FROM exact) wt,
        |       (SELECT unnest(range(0, 64)) AS j)
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
        |  JOIN (SELECT band, bits FROM banded GROUP BY band, bits HAVING COUNT(*) <= 1000) ok
        |    USING (band, bits)
        |), prs AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bkept x JOIN bkept y
        |    ON x.band = y.band AND x.bits = y.bits AND x.doc_id < y.doc_id
        |  WHERE bit_count(xor(x.simhash::BIT, y.simhash::BIT)) <= 3
        |), edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM prs
        |  UNION ALL SELECT doc_b, doc_a FROM prs
        |), reach AS (
        |  SELECT src AS id, dst AS r FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
        |), clustered AS (
        |  SELECT d.doc_id,
        |         COALESCE(LEAST(MIN(reach.r), d.doc_id), d.doc_id) AS cluster_id
        |  FROM exact d LEFT JOIN reach ON reach.id = d.doc_id
        |  GROUP BY d.doc_id
        |), neark AS (
        |  SELECT e.* FROM exact e JOIN clustered c USING (doc_id)
        |  WHERE c.doc_id = c.cluster_id
        |), chunks AS (
        |  SELECT doc_id, source,
        |         CAST((s - 1) // 48 AS BIGINT) AS chunk_id,
        |         CAST(least(64, n - s + 1) AS BIGINT) AS n_tokens
        |  FROM (
        |    SELECT doc_id, source, len(t) AS n,
        |           unnest(range(1, greatest(len(t) - 16, 1) + 1, 48)) AS s
        |    FROM neark WHERE len(t) > 0) st
        |), units AS (
        |  SELECT source, n_tokens,
        |         CAST(doc_id AS VARCHAR) || '#0#' || CAST(chunk_id AS VARCHAR) AS unit
        |  FROM chunks
        |), packs AS (
        |  SELECT source, n_tokens,
        |         ('0x' || substring(md5(unit), 1, 13))::BIGINT % 2 AS shard,
        |         COALESCE(SUM(n_tokens) OVER (
        |           PARTITION BY source, ('0x' || substring(md5(unit), 1, 13))::BIGINT % 2
        |           ORDER BY unit
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |  FROM units
        |)
        |SELECT source, CAST(shard AS BIGINT) AS shard,
        |       CAST(FLOOR(prior / 256) AS BIGINT) AS pack_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_units,
        |       CAST(SUM(n_tokens) AS BIGINT) AS tok_sum
        |FROM packs GROUP BY source, shard, FLOOR(prior / 256)""".stripMargin,
    "stratified_sample" ->
      """WITH h AS (
        |  SELECT source, doc_id,
        |         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS hk
        |  FROM documents
        |), r AS (
        |  SELECT source, doc_id,
        |         row_number() OVER (PARTITION BY source ORDER BY hk ASC, doc_id ASC) AS rn
        |  FROM h
        |)
        |SELECT source, doc_id FROM r WHERE rn <= 5""".stripMargin,
    "redact_terms" ->
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '\b(customer|user)\b')) AS BIGINT) AS n_redacted,
        |       md5(regexp_replace(text, '\b(customer|user)\b', '<ENTITY>', 'g')) AS clean_hash
        |FROM documents""".stripMargin,
    "pack_docs" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |         CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS toks,
        |         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT % 2 AS shard
        |  FROM documents
        |), p AS (
        |  SELECT source, shard, toks,
        |         COALESCE(SUM(toks) OVER (PARTITION BY source, shard ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |  FROM d
        |)
        |SELECT source, CAST(shard AS BIGINT) AS shard,
        |       CAST(FLOOR(prior / 300) AS BIGINT) AS pack_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(toks) AS BIGINT) AS tok_sum
        |FROM p GROUP BY source, shard, FLOOR(prior / 300)""".stripMargin,
    "chunk_docs" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents
        |), nn AS (
        |  SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0
        |), st AS (
        |  SELECT doc_id, t, n, unnest(range(1, greatest(n - 16, 1) + 1, 48)) AS s
        |  FROM nn
        |)
        |SELECT doc_id, CAST((s - 1) // 48 AS BIGINT) AS chunk_id,
        |       array_to_string(list_slice(t, s, s + 63), ' ') AS chunk_text,
        |       CAST(least(64, n - s + 1) AS BIGINT) AS n_tokens
        |FROM st""".stripMargin,
    "mixture_sample" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |         CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.5
        |                     WHEN 'src2' THEN 0.0 ELSE 1.0 END AS rate,
        |         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS hk
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, source,
        |         CAST(FLOOR(rate) AS BIGINT) +
        |           (CASE WHEN CAST(hk AS DOUBLE) < (rate - FLOOR(rate)) * 4503599627370496.0
        |                 THEN 1 ELSE 0 END) AS n_copies
        |  FROM r
        |)
        |SELECT doc_id, source, unnest(range(0, n_copies)) AS copy_id
        |FROM c WHERE n_copies > 0""".stripMargin,
    // the integer temperature law: w = floor(sqrt(n)), base = num//den,
    // threshold = ((num mod den) * 2^52) // den, keep iff hk < threshold
    "temperature_mixture" ->
      """WITH c AS (
        |  SELECT source, COUNT(*) AS n FROM documents GROUP BY source
        |), t AS (
        |  SELECT CAST(SUM(n) AS HUGEINT) AS total,
        |         CAST(SUM(CAST(floor(sqrt(n)) AS BIGINT)) AS HUGEINT) AS sw
        |  FROM c
        |), p AS (
        |  SELECT source,
        |         CAST(floor(sqrt(n)) AS HUGEINT) * total AS num,
        |         sw * CAST(n AS HUGEINT) AS den
        |  FROM c, t
        |), q AS (
        |  SELECT source, CAST(num // den AS BIGINT) AS base,
        |         CAST(((num % den) * 4503599627370496) // den AS BIGINT) AS thr
        |  FROM p
        |), d AS (
        |  SELECT doc_id, source,
        |         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS hk
        |  FROM documents
        |), k AS (
        |  SELECT doc_id, d.source,
        |         base + (CASE WHEN hk < thr THEN 1 ELSE 0 END) AS n_copies
        |  FROM d JOIN q ON d.source = q.source
        |)
        |SELECT doc_id, source, unnest(range(0, n_copies)) AS copy_id
        |FROM k WHERE n_copies > 0""".stripMargin,
    "token_budget_sample" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
        |         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS hk
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, source, n_tokens,
        |         COALESCE(SUM(n_tokens) OVER (
        |           PARTITION BY source, hk % 2 ORDER BY hk, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior_toks
        |  FROM t
        |)
        |SELECT doc_id, source, n_tokens
        |FROM s
        |WHERE CASE source WHEN 'src0' THEN prior_toks < 200
        |                  WHEN 'src1' THEN prior_toks < 100
        |                  ELSE TRUE END""".stripMargin,
    "pack_sequences" ->
      s"""WITH $packCte
         |SELECT shard, seq_id, doc_id, doc_tok_start, n_toks, seq_pos FROM pk""".stripMargin,
    // the tokenizer-fed composition: the full BPE trainer+encoder
    // replay (per-doc n_sub) feeds the budget-prefix replay
    // (token_budget_sample's law, per-shard budgets 200/100), and the
    // surviving docs' SUBWORD counts feed the packing-interval replay
    // (pack_sequences' law). Reading dagg/md from the recursions in
    // plain CTEs is the safe consumption pattern (only a RECURSIVE
    // TERM may not reference recursion-derived CTEs — see the
    // bpe_tokenize comment).
    "pipeline_tokenized" ->
      raw"""WITH RECURSIVE ${CleanQueries.bpeChainCte}, bt AS (
        |  SELECT d.doc_id, d.source,
        |         CAST(COALESCE(a.n_sub, 0) AS BIGINT) AS n_tokens,
        |         ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 13))::BIGINT AS hk
        |  FROM documents d LEFT JOIN dagg a USING (doc_id)
        |), bs AS (
        |  SELECT doc_id, source, n_tokens, hk,
        |         COALESCE(SUM(n_tokens) OVER (
        |           PARTITION BY source, hk % 2 ORDER BY hk, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior_toks
        |  FROM bt
        |), kept AS (
        |  SELECT doc_id, n_tokens FROM bs
        |  WHERE CASE source WHEN 'src0' THEN prior_toks < 200
        |                    WHEN 'src1' THEN prior_toks < 100
        |                    ELSE TRUE END
        |), p0 AS (
        |  SELECT doc_id, n_tokens AS toks,
        |         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT % 4 AS shard
        |  FROM kept WHERE n_tokens > 0
        |), o2 AS (
        |  SELECT doc_id, toks, shard,
        |         CAST(COALESCE(SUM(toks) OVER (
        |           PARTITION BY shard ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prior
        |  FROM p0
        |), pk2 AS (
        |  SELECT CAST(shard AS BIGINT) AS shard, CAST(g.seq AS BIGINT) AS seq_id, doc_id,
        |         CAST(GREATEST(prior, g.seq * 256) - prior AS BIGINT) AS doc_tok_start,
        |         CAST(LEAST(prior + toks, (g.seq + 1) * 256)
        |              - GREATEST(prior, g.seq * 256) AS BIGINT) AS n_toks,
        |         CAST(GREATEST(prior, g.seq * 256) - g.seq * 256 AS BIGINT) AS seq_pos
        |  FROM o2, LATERAL (SELECT unnest(range(prior // 256, (prior + toks - 1) // 256 + 1)) AS seq) g
        |)
        |SELECT pk2.shard, pk2.seq_id, pk2.doc_id, pk2.doc_tok_start,
        |       pk2.n_toks, pk2.seq_pos, md.merges_md5
        |FROM pk2 CROSS JOIN md""".stripMargin,
    // packing-efficiency audit over the same manifest: fill ppm per
    // shard plus the exactness law — every sequence except each
    // shard's trailing partial is EXACTLY seqLen tokens (running
    // offsets leave no internal gaps)
    "pack_fill_eval" ->
      s"""WITH $packCte, ps AS (
         |  SELECT shard, seq_id, CAST(SUM(n_toks) AS BIGINT) AS seq_toks
         |  FROM pk GROUP BY shard, seq_id
         |), agg AS (
         |  SELECT shard,
         |         CAST(COUNT(*) AS BIGINT) AS n_seqs,
         |         CAST(SUM(seq_toks) AS BIGINT) AS n_toks,
         |         CAST(SUM(CASE WHEN seq_toks = 256 THEN 1 ELSE 0 END) AS BIGINT) AS full_seqs
         |  FROM ps GROUP BY shard
         |)
         |SELECT shard, n_seqs, n_toks, full_seqs,
         |       (n_toks*1000000)//(n_seqs*256) AS fill_ppm,
         |       CAST(full_seqs >= n_seqs - 1 AS BIGINT) AS law_ok
         |FROM agg""".stripMargin,
    "shuffle_order" ->
      """WITH h AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':ord') AS ord FROM documents
        |)
        |SELECT doc_id,
        |       ('0x' || substring(ord, 1, 13))::BIGINT % 8 AS shard,
        |       ord AS sort_key
        |FROM h""".stripMargin,
    "split_assign" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS DOUBLE) AS hk
        |  FROM documents
        |)
        |SELECT doc_id, source,
        |       CASE WHEN hk < CAST(0.9 AS DOUBLE) * 4503599627370496.0 THEN 'train'
        |            WHEN hk < (CAST(0.9 AS DOUBLE) + CAST(0.05 AS DOUBLE))
        |                      * 4503599627370496.0 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM h""".stripMargin,
    "corpus_stats" ->
      """WITH d AS (
        |  SELECT source, lang,
        |         CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS toks
        |  FROM documents
        |), agg AS (
        |  SELECT source, lang,
        |         CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(toks) AS BIGINT) AS total_tokens,
        |         CAST(SUM(toks*toks) AS DOUBLE) AS sum_sq,
        |         median(toks) AS median_tokens,
        |         CAST(MIN(toks) AS BIGINT) AS min_tokens,
        |         CAST(MAX(toks) AS BIGINT) AS max_tokens
        |  FROM d GROUP BY source, lang
        |)
        |SELECT source, lang, n_docs, total_tokens, median_tokens, min_tokens, max_tokens,
        |       total_tokens / n_docs AS mean_tokens,
        |       sqrt((sum_sq - CAST(total_tokens AS DOUBLE) * total_tokens / n_docs) / n_docs) AS stddev_tokens
        |FROM agg""".stripMargin
  )
}
