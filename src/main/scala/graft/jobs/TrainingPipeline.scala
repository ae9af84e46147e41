package graft.jobs

import org.apache.spark.GraftCoreShim
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Html, Pins, Redact, Sampling, Similarity, TextOps}

/** The end-to-end training-data preparation pipeline, assembled from the
  * library's verified stages — the workload this engine exists for, and
  * the integration proof that the operators compose:
  *
  *   corpus → language/quality filter → exact dedup (representatives)
  *   → near-dup clustering (SimHash + connected components) → apply
  *   → eval-set decontamination → optional DSIR target-affinity
  *   selection → token budgeting → mixture weighting
  *   → context-window chunking → sequence packing
  *   (→ optional sharded landing in deterministic shuffle order)
  *
  * Every stage is the same operator the oracle-checked queries run;
  * intermediate frames that feed multiple stages are persisted once.
  * Shuffle budget at scale: filters and chunking are map-only; exact
  * dedup shuffles 16-byte digests; clustering shuffles the tiny pair
  * graph; decontamination broadcasts the eval hash set; packing windows
  * within (source, shard) over (unit, token-count) rows only. In the
  * default pipeline document text never rides a shuffle: mixture
  * weighting computes copy counts map-side and replicas explode only
  * after chunking. One OPTIONAL stage is the exception: the
  * token-budget stage's kept-id semi-join shuffles the surviving text
  * on doc_id when the kept set exceeds the broadcast threshold.
  *
  * Returns the packed output and a per-stage row accounting Report —
  * the numbers a pipeline dashboard would publish. Each count is an
  * `observe` metric on its stage frame, filled by the job that
  * materializes the frame anyway, so the Report costs no job:
  *  - `afterFilter`, `afterExact`, `afterNearDup`, `afterSemantic`,
  *    `afterMedia` and `afterSubstring` by their stage pins;
  *  - `packs` by the pin of the packed output;
  *  - `input`, `afterDecontam`, `afterDsir`, `mixtureRows` (the sum of
  *    `n_copies`) and `chunks` by the next pin, persist or landing
  *    write that runs their frame in full.
  * A skipped stage repeats the previous stage's count.
  */
object TrainingPipeline {

  case class Report(input: Long, afterFilter: Long, afterExact: Long,
                    afterNearDup: Long, afterSemantic: Long, afterMedia: Long,
                    afterDecontam: Long,
                    afterSubstring: Long, afterDsir: Long, mixtureRows: Long,
                    chunks: Long, packs: Long)

  /** `input`: the corpus frame — (doc_id, source, text)-shaped; None
    * reads the `documents` table from `dir` (a crawl pipeline passes
    * its own landing frame here).
    *
    * `ingestHtml` treats the text column as raw HTML and strips it to
    * line-structured prose first ([[Html.extractLines]] — head/script/
    * style dropped, block breaks preserved as newlines). `c4MinWords`
    * then enables the C4 line gate ([[TextOps.c4LineClean]]) at that
    * minimum word count. Both are row-local map passes — the crawl
    * ingestion stages, ahead of every other stage.
    *
    * `evalDocs`: the held-out evaluation corpus to decontaminate
    * against — (id, text)-shaped. None skips the decontamination stage
    * (a real pipeline should always pass its eval suites; the spec
    * passes a slice of the corpus as a stand-in).
    *
    * `decontamSubstringW`: enables stage 4c, exact-substring
    * decontamination (the Lee-et-al/GPT-3 span discipline), at that
    * w-gram width — every >= w-token span a SURVIVING doc shares with
    * the eval suite is stripped in place
    * ([[graft.operators.Dedup.substringDecontamApply]]): the
    * high-recall complement of the doc-level gate above, which drops
    * whole docs past `contamThreshold` but leaves sub-threshold quoted
    * benchmark spans in the keepers. Requires `evalDocs` (the same
    * canonicalized suite feeds both decon stages). Wholly-covered docs
    * vanish (the apply contract); `n_toks` is refreshed to the
    * post-strip count so the token-budget stage sees real lengths.
    * None skips the stage.
    *
    * `dsirTarget`: optional curated-reference corpus (text column)
    * enabling the DSIR selection stage (4b) — documents whose hashed-
    * unigram affinity to the target clears the corpus mean survive.
    * The target gets the same normalize/scrubPii canonicalization as
    * the corpus (model inputs must agree). None skips the stage.
    *
    * `embeddings`: optional (doc_id, embedding) frame enabling the
    * SemDeDup semantic-dedup stage (3b) — embedding-space clustering
    * over the near-dup survivors at cosine >= `semanticThreshold`;
    * None skips the stage. Docs without an embedding row are kept.
    * `semanticCells` pins the stage's LSH cell count explicitly (what a
    * bit-reproducible / oracle-replayable run wants); 0 auto-sizes from
    * plan statistics.
    *
    * `audioMedia` / `videoMedia` / `imageMedia`: optional media frames
    * — (doc_id, content, meta)-shaped ([[graft.multimodal.Multimodal
    * .mediaSchema]], enforced on all three top-level columns so a
    * malformed frame fails HERE with a clear message, not stages
    * later), doc_id keyed to the corpus — enabling stage 3c,
    * end-to-end media dedup: a doc whose audio recording / video
    * stream / still image loses its duplicate-cluster election (exact
    * re-uploads, arbitrary-offset clip extracts, and — for images —
    * lossless re-encodes cluster with the lowest-id holder of the
    * content) is dropped. Docs without a media row are always kept;
    * undecodable media keeps itself. None skips the stage.
    * `mediaMinSupport` / `mediaMaxBucket` are the clip-vote and
    * hot-key-cap knobs of the underlying audioDedup/videoDedup;
    * `mediaHamming` is imageDedup's banded-hamming near-dup radius.
    *
    * `previousSnapshot`: the PREVIOUS crawl's raw corpus frame —
    * (doc_id, text)-shaped, same raw form as `input`. When present,
    * stage 0a keeps only documents whose content is `added` or
    * `changed` relative to it — one hash-narrow anti-join on
    * (id, content hash) ahead of every transform (the join form of
    * [[graft.operators.Snapshots.diff]]'s added+changed slice), so a
    * recurring pipeline pays for its delta, not the whole crawl.
    * `Report.input` counts the post-delta rows. None processes the
    * full corpus.
    *
    * `templateMinDf`: when set, stage 0c strips corpus-wide template
    * lines (exact lines appearing in >= that many distinct documents —
    * subscribe banners, footers) after HTML extraction and before the
    * C4 line gate: one narrow (doc, line)-distinct detection pass, hot
    * set bounded+collected, strip map-only
    * ([[TextOps.templateHotLines]]/[[TextOps.stripLinesIn]]).
    *
    * `dedupParagraphs`: stage 0d — keep-first paragraph dedup
    * ([[TextOps.dedupParagraphsIn]], the RefinedWeb rule): a paragraph
    * repeated anywhere in the (post-strip) corpus survives only at its
    * first (doc, position) occurrence. One narrow hash shuffle, map-only
    * rewrite; runs after the line-level stages since their cuts change
    * paragraph boundaries.
    *
    * `fixEncoding`: stage 0b — repair Latin-1/cp1252 mojibake
    * ([[TextOps.fixMojibake]], the guarded sloppy-cp1252 recode kernel)
    * right after HTML extraction, BEFORE template detection, dedup and
    * tokenization: encoding damage otherwise splits identical content
    * into distinct digests and garbles the token stream. Row-local,
    * never throws, unrepairable text passes through.
    *
    * `classifierWeights`: optional trained token-weight table
    * ([[graft.operators.Classify.trainTokenWeights]] output — the
    * persisted model artifact) enabling stage 1c, the model-based
    * quality gate: only documents the classifier scores POSITIVE
    * survive (fastText-filter shape: broadcast weights, row-local
    * features, one aggregation). `Report.afterFilter` counts
    * post-classifier survivors. None skips the stage.
    *
    * `normalize` canonicalizes text FIRST (NFC + lower + whitespace
    * collapse): byte-unequal spellings of identical text must converge
    * before any digest-based dedup sees them. `scrubPii` redacts
    * email/phone/IPv4 spans after normalization (tokens like <EMAIL>
    * then dedup/chunk like any other token). Both are row-local
    * projections — free at any scale.
    */
  def run(spark: SparkSession, dir: String,
          input: Option[DataFrame] = None,
          previousSnapshot: Option[DataFrame] = None,
          ingestHtml: Boolean = false,
          fixEncoding: Boolean = false,
          templateMinDf: Option[Long] = None,
          c4MinWords: Option[Int] = None,
          dedupParagraphs: Boolean = false,
          lang: String = "en", minTokens: Int = 10,
          classifierWeights: Option[DataFrame] = None,
          minQuality: Option[Double] = None,
          compRatioBounds: Option[(Double, Double)] = None,
          maxRepetition: Option[Double] = None,
          rates: Map[String, Double] = Map.empty,
          tokenBudgets: Map[String, Long] = Map.empty,
          budgetShards: Int = 8,
          evalDocs: Option[DataFrame] = None,
          contamThreshold: Double = 0.8,
          decontamSubstringW: Option[Int] = None,
          dsirTarget: Option[DataFrame] = None,
          dsirBuckets: Int = 1024,
          embeddings: Option[DataFrame] = None,
          semanticThreshold: Double = 0.3,
          semanticCells: Int = 0,
          audioMedia: Option[DataFrame] = None,
          videoMedia: Option[DataFrame] = None,
          imageMedia: Option[DataFrame] = None,
          mediaMinSupport: Int = 2,
          mediaMaxBucket: Int = 1000,
          mediaHamming: Int = 3,
          normalize: Boolean = false,
          scrubPii: Boolean = false,
          shardsOut: Option[String] = None,
          outShards: Int = 8,
          @deprecated("the Report is always filled from observed counts; " +
            "the flag is ignored", "0.1.0")
          report: Boolean = true): (DataFrame, Report) =
    Pins(pinDir(spark)) { pins =>
    // the frame with its row count (or `n`) observed as metric "n"
    def counted(df: DataFrame, n: Column = count(lit(1))): (DataFrame, Observation) = {
      val o = Observation()
      (df.observe(o, n.as("n")), o)
    }
    // Stage-boundary pin = EAGER checkpoint, not bare persist: a
    // persist memoizes EXECUTION but not ANALYSIS — every downstream
    // action re-analyzes the whole stacked logical plan before cache
    // substitution, and by the packing stage that plan carries every
    // gate, join and CC of the chain several times over (measured:
    // pipeline_full spent 13.7 s of 35 s in driver gaps with no job
    // running). Checkpointing truncates the plan to a leaf at each stage
    // boundary, at the same materialization count. Every pin and persist
    // of the run, the media elections' and CC calls' included, registers
    // in `pins`, released when the run returns or throws.
    // AQE-sized pin (hash exchange on doc_id, no explicit count): an
    // explicit defaultParallelism pin was measured WORSE across all four
    // pipeline lanes (pipeline_full 23.2 -> 35.1 s), and at 100 TB the
    // producing SortMergeJoins are ALREADY hash-partitioned on doc_id, so
    // EnsureRequirements drops the stacked REPARTITION_BY_COL
    // (plans/r15/repartition_on_join_key.txt). The stage name is the
    // job description, so per-stage pin cost is attributable (guide §1.5).
    // The pin's job also counts the stage's rows.
    val sc = spark.sparkContext
    def pinL(label: String)(df: DataFrame): (DataFrame, Observation) = {
      val (c, n) = counted(df)
      sc.setJobDescription(s"pipeline pin: $label")
      try (pins.pin(c.repartition(col("doc_id"))), n) finally sc.setJobDescription(null)
    }
    // the corpus canonicalization; the eval suite and the DSIR target
    // get the same, so every comparison sees the same bytes
    def canon(d: DataFrame): DataFrame = {
      val n = if (normalize) d.withColumn("text", TextOps.normalizeText(col("text"))) else d
      if (scrubPii) n.withColumn("text", Redact.scrubPii(col("text"))) else n
    }
    // keep each cluster's representative (the doc whose id labels it);
    // docs in no cluster are kept
    def keepReps(kept: DataFrame, labels: DataFrame, id: String): DataFrame =
      kept.join(labels.withColumnRenamed(id, "doc_id"), Seq("doc_id"), "left")
        .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
        .drop("cluster_id")

    // Stage 3c's media-duplicate elections launch HERE, before the text
    // chain runs: each election is an independent eager job chain
    // (fingerprint → digest → align → connected components) over its
    // own caller-supplied media frame, touching no pipeline frame —
    // running them on pool threads overlaps their driver/scheduling
    // floors with the text stages' (guide §2.6), and stage 3c just
    // awaits the drop sets. Schema validation stays synchronous so a
    // malformed frame still fails fast with its name. Each election
    // joins the run's `pins` scope, which waits for it before releasing.
    def checkMedia(m: DataFrame, name: String): DataFrame = {
      val want = graft.multimodal.Multimodal.mediaSchema.fieldNames
      want.foreach(c => require(m.columns.contains(c),
        s"$name needs the mediaSchema columns ${want.mkString("(", ", ", ")")}; missing '$c'"))
      m
    }
    def dropsOf(m: DataFrame, keep: DataFrame): DataFrame =
      m.select(col("doc_id")).distinct()
        .join(keep, Seq("doc_id"), "left_anti")
    implicit val mediaEc: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val mediaDropFutures: Seq[scala.concurrent.Future[DataFrame]] =
      (audioMedia.map { m0 =>
        val m = checkMedia(m0, "audioMedia")
        scala.concurrent.Future(pins.ambient(dropsOf(m,
          graft.multimodal.Multimodal.audioDedup(m,
            minSupport = mediaMinSupport, maxBucket = mediaMaxBucket))))
      } ++ videoMedia.map { m0 =>
        val m = checkMedia(m0, "videoMedia")
        scala.concurrent.Future(pins.ambient(dropsOf(m,
          graft.multimodal.Multimodal.videoDedup(m,
            minSupport = mediaMinSupport, maxBucket = mediaMaxBucket))))
      } ++ imageMedia.map { m0 =>
        val m = checkMedia(m0, "imageMedia")
        scala.concurrent.Future(pins.ambient(dropsOf(m,
          graft.multimodal.Multimodal.imageDedup(m,
            maxDist = mediaHamming, maxBucket = mediaMaxBucket))))
      }).toSeq
    // 0. optional crawl ingestion: HTML -> line-structured prose, then
    // the C4 line gate — both pure projections riding the first scan
    val raw = {
      // minimum-parallelism guard: the whole ingestion + gate
      // chain (HTML strip, mojibake, template detect, tokenize, langID)
      // is row-local and runs at the SCAN's parallelism — a sub-128 MB
      // single-row-group parquet corpus is ONE split, serializing the
      // chain onto one core no matter the box (measured: the stage-1
      // pin alone was 7.5 s of pipeline_full, largely one task).
      // Par.fanOut is identity whenever the input already has >= cores
      // partitions — at scale no shuffle is added (guide §2).
      val rAll = graft.operators.Par.fanOut(
        input.getOrElse(Tables(spark, dir, "documents")))
      // 0a. optional delta gate: only docs added/changed vs the previous
      // crawl proceed (runs on RAW text — both snapshots pre-transform)
      // one anti-join on (id, content-hash) keeps exactly the
      // added+changed docs — a single pass over the new crawl (the
      // full-outer diff + semi-join-back shape scans it twice);
      // null-safe <=> so a present-but-null-text doc compares as a
      // content state
      val r0 = previousSnapshot.map { prev =>
        val prevH = prev.select(col("doc_id").as("p_id"),
          md5(col("text")).as("p_h"))
        rAll.join(prevH,
          col("doc_id") === col("p_id") && md5(col("text")) <=> col("p_h"),
          "left_anti")
      }.getOrElse(rAll)
      // 0b. optional mojibake repair rides the same scan — BEFORE
      // template detection and every digest: encoding damage otherwise
      // splits identical content into distinct hashes
      val extract = (d: DataFrame) => {
        val h = if (ingestHtml)
          d.withColumn("text", Html.extractLines(col("text"))) else d
        if (fixEncoding)
          h.withColumn("text", TextOps.fixMojibake(col("text"))) else h
      }
      val r1 = extract(r0)
      // 0c. optional template-line strip: detection is the one
      // corpus-wide pass in the ingestion stages (narrow shuffle of
      // (doc, line) distinct pairs); the strip itself rides the scan.
      // Detection runs on the FULL crawl (pre-delta) even when the
      // delta gate is on: line document-frequency counted over only
      // added/changed docs would make a fixed minDf calibrated for the
      // whole crawl silently under-detect on small deltas (a banner on
      // every page stays below minDf). The strip still applies to the
      // delta only.
      val r1b = templateMinDf.map { m =>
        val detectOn = if (previousSnapshot.isDefined) extract(rAll) else r1
        val hot = TextOps.templateHotLines(detectOn, "doc_id", "text", m)
        r1.withColumn("text", TextOps.stripLinesIn(col("text"), hot))
      }.getOrElse(r1)
      val r1c = c4MinWords.map(m =>
        r1b.withColumn("text", TextOps.c4LineClean(col("text"), m)._1))
        .getOrElse(r1b)
      // 0d. optional keep-first paragraph dedup (RefinedWeb rule):
      // every repeated paragraph survives only at its first (doc, pos)
      // occurrence — the body-prose complement of the template strip's
      // threshold rule. One narrow (id, pos, hash) shuffle; the rewrite
      // is map-only. Runs AFTER template strip and line cleaning (their
      // cuts change paragraph boundaries) and, under the delta gate,
      // over the delta only — cross-snapshot paragraph history needs a
      // persisted index, the minhash-index pattern, out of scope here.
      if (dedupParagraphs)
        TextOps.dedupParagraphsIn(r1c, "doc_id", "text") else r1c
    }
    val (docs, nInput) = counted(canon(raw))

    // 1. language + length (+ optional quality) gate (map-only) — the
    // DETECTED language, not the table's label column: the pipeline
    // must work on unlabeled text
    val stops = TextOps.stopsFor.getOrElse(lang, TextOps.stopEn)
    val qualGate = minQuality
      .map(q => TextOps.quality(col("t"), stops) >= q).getOrElse(lit(true))
    // optional compression-ratio gate: drop BOTH tails — ratio below lo
    // is boilerplate/looping text, above hi is near-random noise. A
    // row-local codegen'd expression, so it rides the same map-only
    // filter as language/length/quality.
    val compGate = compRatioBounds.map { case (lo, hi) =>
      require(lo <= hi, s"compRatioBounds lo ($lo) must be <= hi ($hi)")
      val r = TextOps.compressionRatio(col("text"))
      r.isNotNull && r >= lo && r <= hi
    }.getOrElse(lit(true))
    // optional Gopher repetition gate: drop degenerate/looping text
    // (2-gram dup_gram_frac above the cap) before any dedup work, in the
    // same map-only filter; docs too short to emit a gram pass
    val repGate = maxRepetition
      .map(r => Dedup.repetitionGate(col("text"), 2, r)).getOrElse(lit(true))
    // n_toks rides the surviving frames as one long column so the
    // token-budget stage never re-tokenizes the corpus
    val ruleGated0 = docs
      .withColumn("t", Dedup.tokens(col("text")))
      .filter(TextOps.langPred(col("t")) === lang &&
        size(col("t")) >= minTokens && qualGate && compGate && repGate)
      .withColumn("n_toks", size(col("t")).cast("long"))
      .drop("t")
    // 1c. optional model-based quality gate: broadcast the trained
    // weight table, score row-locally, keep positive-class docs — the
    // fastText-filter stage between the rule gates and dedup.
    // ruleGated feeds BOTH the scorer and the semi-join's left side, so
    // it is pinned for the gate's lifetime — unpinned lineage would
    // re-run the corpus scan + tokenize + langID twice
    val ruleGated =
      if (classifierWeights.isDefined) pins.persist(ruleGated0) else ruleGated0
    // eager pin BEFORE the release below: releasing the gate pin first
    // would hand the checkpoint an unpersisted lineage (the exact
    // re-run the gate pin exists to avoid)
    val (filtered, nFilter) = pinL("filtered")(classifierWeights.map { w =>
      val keep = graft.operators.Classify
        .scoreDocs(ruleGated, "doc_id", "text", w)
        .filter(col("pred") === 1).select("doc_id")
      ruleGated.join(keep, Seq("doc_id"), "left_semi")
    }.getOrElse(ruleGated))
    pins.release(ruleGated) // no-op for a gate that is off

    // 2. exact dedup to representatives (16-byte digests shuffle)
    val reps = Dedup.exact(filtered, "doc_id", "text").select(col("keep_id").as("doc_id"))
    val (exactKept, nExact) =
      pinL("exactKept")(filtered.join(reps, Seq("doc_id"), "left_semi"))

    // 3. near-dup clusters over the survivors; keep cluster representatives
    val pairs = Dedup.simhashPairs(
      Dedup.simhash(exactKept, "doc_id", "text"), "doc_id",
      maxDist = 3, maxBucket = 1000)
    val cc = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
    val (nearKept, nNearDup) = pinL("nearKept")(keepReps(exactKept, cc, "doc_a"))

    // 3b. optional SEMANTIC dedup (SemDeDup): embedding-space near-dup
    // clustering over the survivors — catches paraphrases/translations
    // that text shingles cannot see. Blocked multi-table LSH pairs
    // (equi-joins only, hot-cell capped) -> connected components ->
    // keep each semantic cluster's min-id representative. Docs WITHOUT
    // an embedding row never pair, so they are always kept — the stage
    // only ever removes evidenced near-dups.
    val (semKept, nSemantic) = embeddings match {
      case Some(embRaw) =>
        require(embRaw.columns.contains("doc_id") && embRaw.columns.contains("embedding"),
          "embeddings needs (doc_id, embedding) columns")
        val emb = embRaw.select(col("doc_id"), col("embedding"))
          .join(nearKept.select(col("doc_id")), Seq("doc_id"), "left_semi")
        // linear cell scaling (population ~64): `semanticCells` pins an
        // explicit count (what a bit-reproducible / oracle-replayable
        // run wants); 0 sizes from plan stats — no extra counting pass
        // over the embedding table either way
        val cells =
          if (semanticCells > 0) semanticCells
          else math.max(32, (Similarity.estimateRows(emb) / 64).toInt)
        val pairsE = Similarity.cosinePairsLsh(emb, "doc_id", "embedding",
          threshold = semanticThreshold, nCells = cells, maxBucket = 1000)
        val ccE = Dedup.connectedComponents(pairsE, "vec_a", "vec_b")
        pinL("semKept")(keepReps(nearKept, ccE, "vec_a"))
      case None => (nearKept, nNearDup)
    }

    // 3c. optional MEDIA dedup — the media_dedup_e2e composition wired
    // into the one-call pipeline, so a multimodal corpus gets the same
    // treatment text does: run the keeper election (fingerprint once
    // → exact-dup collapse → offset-voting
    // clip pairs among representatives → exact-group edges →
    // connected components → min-id keeper; [[graft.multimodal
    // .Multimodal.audioDedup]] / [[graft.multimodal.Multimodal
    // .videoDedup]]) over the caller's media frames, and drop every
    // doc whose media LOST its cluster election. Docs without a media
    // row never enter the media universe and are always kept — like
    // the embeddings stage, media dedup only ever removes evidenced
    // duplicates; undecodable media keeps itself (the audioDedup
    // contract). Scale shape: fingerprints are narrow pinned rows,
    // candidate joins are hot-key-capped among exact-collapse
    // representatives, components finish on the driver below their
    // edge cap, and the drop set is universe ∖ keepers — one narrow
    // doc_id anti-join; media bytes never ride a shuffle here.
    val mediaOn =
      audioMedia.isDefined || videoMedia.isDefined || imageMedia.isDefined
    val (mediaKept, nMedia) = if (!mediaOn) (semKept, nSemantic) else {
      // the modality elections are INDEPENDENT jobs (each eager —
      // fingerprint, digest, align, connected components — over its own
      // media frame, touching no pipeline frame), so they run
      // concurrently from a small thread pool (guide §2.6: overlap
      // independent jobs so one election's scheduling tail back-fills
      // with the next one's tasks). The drops union and the anti-join
      // below are unchanged — identical rows, identical plan.
      val drops = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(mediaDropFutures),
        scala.concurrent.duration.Duration.Inf).reduce(_.unionByName(_))
      pinL("mediaKept")(semKept.join(drops.distinct(), Seq("doc_id"), "left_anti"))
    }

    // 4. eval-set decontamination (eval hashes broadcast; the corpus
    // hash table is computed once and feeds both count branches);
    // skipped when no eval corpus is supplied. The EVAL side gets the
    // same canonicalization as the corpus (computed ONCE — both decon
    // stages must see the same bytes): hashing normalized training
    // text against raw eval text would let byte-unequal spellings of
    // eval content slip through — exactly the mismatch `normalize`
    // exists to close.
    // stage 4c strips spans shared with the eval suite — configured
    // without the suite it would silently no-op and ship
    // uncontaminated-LOOKING output, so the misconfiguration fails fast
    require(decontamSubstringW.isEmpty || evalDocs.isDefined,
      "decontamSubstringW requires evalDocs (stage 4c strips the spans " +
        "shared with the eval suite; without the suite there is nothing to strip)")
    val evCanon = evalDocs.map { evRaw =>
      require(evRaw.columns.contains("doc_id") && evRaw.columns.contains("text"),
        "evalDocs needs (doc_id, text) columns")
      canon(evRaw)
    }
    val (clean, nDecontam) = evCanon match {
      case Some(ev) =>
        val h = pins.persist(Dedup.shingleHashTable(mediaKept, "doc_id", "text", 3))
        val overlap = Dedup.evalOverlapFromHashes(h,
          Dedup.shingleHashTable(ev, "doc_id", "text", 3).select(col("h1")),
          "doc_id", contamThreshold)
        counted(mediaKept.join(
          overlap.filter(col("contaminated")).select(col("doc_id")),
          Seq("doc_id"), "left_anti"))
      case None => (mediaKept, nMedia)
    }

    // 4c. optional exact-substring decontamination: strip every >= w
    // token span the SURVIVORS share with the eval suite (stage 4
    // dropped whole docs past the overlap threshold; this trims the
    // sub-threshold quoted spans the doc gate deliberately keeps).
    // Scale shape: one (hash, id, pos) equi-join of the corpus gram
    // table against the suite's DISTINCT gram hashes, a bounded
    // per-doc mark aggregation, and a row-local gap-slice rebuild —
    // the stripped text re-attaches to the narrow (doc_id, source)
    // side in one doc_id join (the stage's text-shuffle exception,
    // like the budget stage's). `clean` feeds both the apply and the
    // rejoin's left side, so it is pinned for the stage's lifetime
    // (the stage-1c discipline). Wholly-covered docs vanish (the
    // substringDecontamApply contract); n_toks is refreshed to the
    // post-strip count so the token-budget stage sees real lengths.
    val substringOn = evCanon.isDefined && decontamSubstringW.isDefined
    val cleanP = if (substringOn) pins.persist(clean) else clean
    val (stripped, nSubstring) = (evCanon, decontamSubstringW) match {
      case (Some(ev), Some(w)) =>
        val appl = Dedup.substringDecontamApply(
          cleanP, "doc_id", "text", ev, "text", w)
        // a stage pin, not a bare persist: the stripped frame replaces
        // `clean` for EVERY downstream consumer, and the downstream
        // stages (DSIR trains + scores + semi-joins, then budget/
        // mixture/chunk/pack) each layer the frame's LOGICAL plan into
        // their own several times over — stacking the substring
        // machinery (two windows + three joins) under that
        // multiplication pushed Catalyst analysis over a cliff
        // (pipeline_full measured ~95 s at sf0.01 AND sf0.1 —
        // scale-INDEPENDENT, pure driver plan work; a cache pin does
        // not help because analysis runs before cache substitution).
        // Checkpointing truncates the lineage to a leaf at the stage
        // boundary, the packedOut discipline; the one materialization
        // is work every downstream action needs anyway. Deliberately
        // NOT pinL — routing this boundary through the doc_id
        // repartition was measured to SERIALIZE the whole downstream tail (AQE coalesces the tiny local frame to
        // one partition, and every later stage over `stripped` then
        // runs single-task: pipeline_full 18.8 → 24.2 s, taskTime
        // 48 → 81 s), while the checkpoint of the join output at its
        // own partitioning keeps the tail parallel.
        val (out, n) = counted(cleanP.drop("text", "n_toks").join(
          appl.select(col("doc_id"), col("clean_text").as("text"),
            col("n_kept").as("n_toks")), Seq("doc_id")))
        val pinned = pins.pin(out)
        pins.release(cleanP)
        (pinned, n)
      case _ => (cleanP, nDecontam)
    }

    // 4b. optional DSIR target-affinity selection (operators/Dsir):
    // train the hashed-unigram log-ratio model with the CLEANED corpus
    // as raw and the caller's curated reference as target, keep
    // documents whose per-token affinity clears the corpus mean. Two
    // bounded (bucket, count) aggregations + one broadcast λ array;
    // scoring is row-local — nothing here shuffles text (the keep-set
    // semi-join is narrow doc_ids).
    val (selected, nDsir) = dsirTarget match {
      case Some(tgtRaw) =>
        require(tgtRaw.columns.contains("text"), "dsirTarget needs a text column")
        val lam = graft.operators.Dsir.logRatios(stripped, canon(tgtRaw), "text", dsirBuckets)
        // the scored frame persists as NARROW (id, n_toks, logw) rows:
        // selectAboveMean consumes it TWICE (the global-mean aggregate
        // and the crossJoin side), so an unpersisted plan tokenizes the
        // cleaned corpus twice — one full extra tokenize pass at any
        // scale
        val scored = pins.persist(graft.operators.Dsir.importanceWeights(
          stripped, "doc_id", "text", lam, dsirBuckets))
        // the keep set pins as a NARROW doc_id frame: without it every
        // downstream action re-tokenizes the cleaned corpus through
        // importanceWeights plus the global-mean aggregate
        val keep = pins.persist(graft.operators.Dsir.selectAboveMean(scored)
          .filter(col("keep") === 1L).select(col("doc_id")))
        counted(stripped.join(keep, Seq("doc_id"), "left_semi"))
      case None => (stripped, nSubstring)
    }

    // 5. dataset shaping. 5a: optional per-source TOKEN budgets (the
    // unit mixtures are really specified in) — hash-prefix sampling
    // over narrow (id, source, n_toks) rows (carried from stage 1, no
    // re-tokenization), one bounded window shuffle. The kept-id
    // semi-join back is the budget stage's text-shuffle exception:
    // beyond the broadcast threshold the surviving text rides a doc_id
    // shuffle once. The budgeted
    // frame feeds the packing and the optional landing, so it is
    // persisted when budgets apply. 5b: rate-based mixture
    // weighting (map-only, deterministic) — copy COUNTS only; the
    // replica explosion is deferred until after chunking, so each
    // unique doc chunks once and the replication happens on the
    // narrow chunk rows (no distinct, no rejoin, no text shuffle)
    val budgeted =
      if (tokenBudgets.isEmpty) selected
      else pins.persist(selected.join(
        Sampling.tokenBudgetSample(
          selected.select(col("doc_id"), col("source"), col("n_toks")),
          "source", "doc_id", col("n_toks"), tokenBudgets, budgetShards)
          .select(col("doc_id")),
        Seq("doc_id"), "left_semi"))
    val (weighted, nMixture) = counted(
      if (rates.isEmpty) budgeted.withColumn("n_copies", lit(1L))
      else Sampling.mixtureWeights(budgeted, "source", "doc_id", rates),
      coalesce(sum(col("n_copies")), lit(0L)))

    // 6. context-window chunking (map-only; doc_ids are unique in
    // `clean` by construction), carrying (source, n_copies) through to
    // emit copy_id per chunk row
    val (chunked, nChunks) = counted(Sampling.chunkDocs(
        weighted, "doc_id", "text", 64, 16, carry = Seq("source", "n_copies"))
      .withColumn("copy_id", explode(sequence(lit(0L), col("n_copies") - 1)))
      .drop("n_copies"))

    // 7. sequence packing per (source, shard) into 256-token packs
    val chunkedU = chunked.withColumn("unit",
      concat_ws("#", col("doc_id"), col("copy_id"), col("chunk_id")))
    val (packed, nPacks) = counted(Sampling.packBySize(
      chunkedU, "source", "unit", col("n_tokens"), budget = 256, shards = 2))

    // 7b. optional sharded landing: the chunk rows, in deterministic
    // global shuffle order, as in-order shard files — the dataloader
    // handoff. Chunking is a map-only pass off the pinned upstream
    // frames, so the landing costs one narrow recompute plus the one
    // shard exchange inside writeShards.
    shardsOut.foreach(out => Sampling.writeShards(chunkedU, "unit", outShards, out))
    // the pack summary is small: pin it locally and hand it to the
    // caller; closing `pins` then releases the corpus-sized
    // intermediates (repeated runs in one session would otherwise pin
    // four full-corpus frames each, forever)
    val packedOut = pins.pin(packed, local = true)

    // Every observed frame lies under this pin or an earlier
    // materialization, and observations complete on the listener bus:
    // once it drains, an unfilled count is a bug, not a wait.
    GraftCoreShim.drainListenerBus(sc)
    // (an empty row: no task ran over the frame, so it had no rows)
    def rows(o: Observation): Long = o.future.value match {
      case Some(scala.util.Success(r)) => if (r.length == 0) 0L else r.getLong(0)
      case _ => throw new IllegalStateException(
        "a pipeline stage count was not observed by the jobs that ran its frame")
    }
    val counts = Report(rows(nInput), rows(nFilter), rows(nExact),
      rows(nNearDup), rows(nSemantic), rows(nMedia), rows(nDecontam),
      rows(nSubstring), rows(nDsir), rows(nMixture), rows(nChunks), rows(nPacks))
    (pins.keep(packedOut), counts)
  }

  /** The run's reliable checkpoint directory, or None to pin locally
    * (the default). Stage pins are the ONLY copy of the gated corpus
    * mid-run, and a local checkpoint dies with its executor — fine on
    * one box, an unrecoverable failure on a cluster. `reliable` makes
    * every pin of the run durable, CC rounds included, at one extra
    * write+read per pinned frame (see [[Pins]] for file cleanup).
    * Set by conf `spark.graft.pipeline.pin` / `.pinDir` (`--conf` or
    * SPARK_GRAFT_EXTRA_CONF at deploy time); the dir defaults to the
    * session checkpoint dir, else java.io.tmpdir/graft-pins-<pid>.
    */
  private def pinDir(spark: SparkSession): Option[String] =
    if (!spark.conf.getOption("spark.graft.pipeline.pin").contains("reliable")) None
    else Some(spark.conf.getOption("spark.graft.pipeline.pinDir")
      .orElse(spark.sparkContext.getCheckpointDir)
      .getOrElse(s"${System.getProperty("java.io.tmpdir", "/tmp")}" +
        s"/graft-pins-${ProcessHandle.current().pid()}"))
}
