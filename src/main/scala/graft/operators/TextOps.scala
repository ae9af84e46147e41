package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators as COLUMN functions (scale extensions;
  * SURVEY §7.5): language ID by stopword voting and linear quality
  * scoring. Column-level so they compose into any projection — the
  * declared lang_id / quality_score queries and the TrainingPipeline
  * filter are the same expressions. All deterministic, all replayable
  * in SQL (fixed stopword lists, fixed tie order, division-last).
  */
object TextOps {

  val stopEn = Seq("the", "a", "is", "of", "and")
  val stopDe = Seq("der", "die", "das", "und", "ein")
  val stopFr = Seq("le", "la", "les", "des", "une")
  val stopEs = Seq("el", "los", "las", "una", "y")

  /** Stopword list per language code (quality scoring must use the
    * TARGET language's stopwords — the English list would make every
    * non-English corpus score near zero on stop density).
    */
  val stopsFor: Map[String, Seq[String]] =
    Map("en" -> stopEn, "de" -> stopDe, "fr" -> stopFr, "es" -> stopEs)

  /** Count of tokens drawn from a fixed word list. */
  def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, w => w.isin(words.map(lit(_)): _*))).cast("long")

  /** Stopword-vote language prediction over a token array; ties resolve
    * by fixed priority en > de > es > fr (the oracle's CASE cascade).
    */
  def langPred(toks: Column): Column = {
    val (en, de, fr, es) = (countIn(toks, stopEn), countIn(toks, stopDe),
      countIn(toks, stopFr), countIn(toks, stopEs))
    when(en >= de && en >= es && en >= fr, "en")
      .when(de >= es && de >= fr, "de")
      .when(es >= fr, "es")
      .otherwise("fr")
  }

  /** Linear quality score: 0.5·stop_ratio + 0.05·avg_token_length.
    * Higher ≈ natural running text; boilerplate/code-ish content scores
    * low on stopword density. NULL for a tokenless document (rather
    * than a divide-by-zero error under ANSI mode).
    */
  def quality(toks: Column, stops: Seq[String] = stopEn): Column = {
    val n = size(toks).cast("long")
    val sumLen = aggregate(transform(toks, w => length(w).cast("long")),
      lit(0L), (acc, x) => acc + x)
    when(n === 0L, lit(null).cast("double"))
      .otherwise(lit(0.5) * (countIn(toks, stops) / n) + lit(0.05) * (sumLen / n))
  }

  /** C4-style line keep rule (the line-level cleaning stage between
    * HTML extraction and document scoring): a line survives iff it ends
    * in terminal punctuation, has at least `minWords` whitespace words,
    * and carries none of the boilerplate markers — "lorem ipsum",
    * "javascript" (cookie/JS-warning chrome), or a '{' (leaked code).
    * Pure row-local predicate, SQL-replayable.
    */
  def c4KeepLine(line: Column, minWords: Int = 3): Column =
    line.rlike("[.!?\"']\\s*$") &&
      size(filter(split(trim(line), "\\s+"), w => length(w) > 0)) >= minWords &&
      !lower(line).contains("lorem ipsum") &&
      !lower(line).contains("javascript") &&
      !line.contains("{")

  /** Apply [[c4KeepLine]] per document: the text rebuilt from surviving
    * lines plus the line accounting a curation report needs. One
    * projection — no explode, no shuffle, no re-join; a 100 TB crawl
    * cleans in a single map pass.
    */
  def c4LineClean(text: Column, minWords: Int = 3): (Column, Column, Column) = {
    val lines = split(text, "\n")
    val kept = filter(lines, l => c4KeepLine(l, minWords))
    (array_join(kept, "\n"), size(lines).cast("long"), size(kept).cast("long"))
  }

  /** Gopher line-level repetition metrics (Rae et al. 2021 Table A1 —
    * the duplicate-line complement to the n-gram metrics in
    * [[Dedup.repetitionStats]]): fraction of non-empty lines that are
    * repeats of an identical earlier line, and the fraction of line
    * characters those repeats carry. A repeat count is just
    * n − n_distinct (each value's first occurrence is the non-repeat),
    * so both metrics are array_distinct arithmetic — row-local, no
    * explode, no shuffle, and replayable in SQL list functions.
    * Returns (n_lines, dup_line_frac, dup_line_char_frac).
    */
  def lineRepetition(text: Column): (Column, Column, Column) = {
    val lines = filter(split(text, "\n"), l => length(l) > 0)
    val uniq = array_distinct(lines)
    def chars(a: Column): Column =
      aggregate(transform(a, l => length(l).cast("long")),
        lit(0L), (x, y) => x + y)
    val n = size(lines).cast("long")
    val cAll = chars(lines)
    (n,
      (n - size(uniq).cast("long")).cast("double") /
        greatest(n, lit(1L)).cast("double"),
      (cAll - chars(uniq)).cast("double") /
        greatest(cAll, lit(1L)).cast("double"))
  }

  /** Canonical text normalization: Unicode NFC composition (the
    * codegen'd [[graft.functions.NfcNormalize]] expression), lowercase,
    * whitespace runs collapsed to single spaces, ends trimmed. Pure
    * row-local projection. This MUST precede any digest-based dedup:
    * byte-unequal spellings of identical text (decomposed accents,
    * doubled spaces, case variants) otherwise defeat exact and
    * near-dup hashing alike.
    */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(lower(graft.functions.TextExpressions.nfc_normalize(c)),
      "\\s+", " "))

  /** Mojibake REPAIR (the fix half of the mojibake_scan screen): text
    * whose UTF-8 bytes were once mis-decoded as Latin-1 ("\u00C3\u00A9"
    * for \u00E9) OR as windows-1252 ("\u00E2\u20AC\u2122" with a real
    * \u20AC for \u2019) is recoded back via the "sloppy cp1252" byte map
    * and a strict UTF-8 re-decode — the codegen'd
    * [[graft.functions.FixMojibake]] kernel. Guarantees:
    *  - only strings showing an artifact lead pair (\u00C2/\u00C3/\u00E2
    *    followed by a high sloppy-cp1252 char — the C2/C3/E2 UTF-8 lead
    *    bytes) are candidates; pure-ASCII and ordinary accented text
    *    pass through untouched.
    *  - the recode is kept only when the WHOLE string maps to bytes
    *    (chars <= U+00FF or cp1252 specials) that re-decode as
    *    well-formed UTF-8; otherwise — mixed genuine non-Latin text, or
    *    "artifacts" that were genuine Latin-1 — the original survives.
    *    The kernel never throws and never substitutes '?'/U+FFFD
    *    (Spark's own encode/decode do one or the other on Spark 4,
    *    which is why this is a custom expression, not a composition).
    * Known tradeoff of every mojibake heuristic: genuine text that
    * legitimately contains one of the lead chars immediately followed
    * by a high cp1252 char is indistinguishable from damage; the guard
    * keeps it only when the recode also fails. Row-local; not
    * SQL-replayable (no charset recode in SQL), so the contract is
    * law-checked: fix(damage(s)) == s for BOTH damage decoders,
    * fix(clean) == clean, and mixed damage+non-Latin text falls back
    * unchanged (LawsSpec).
    */
  def fixMojibake(c: Column): Column =
    graft.functions.TextExpressions.fix_mojibake(c)

  /** Unicode script composition per document — the script-filter
    * signal of multilingual pipelines (keep pages whose dominant
    * script matches the target language; drop mixed-script spam).
    * Counts are single-character regex matches over explicit code
    * ranges, so a SQL oracle with the same RE2 classes replays them
    * exactly; the whole profile is a row-local codegen'd projection.
    * `other` = everything outside the counted classes and whitespace.
    */
  def scriptProfile(df: org.apache.spark.sql.DataFrame, id: String,
                    text: String): org.apache.spark.sql.DataFrame = {
    def cnt(pat: String) = graft.operators.Redact.matchCount(col(text), pat)
    df.select(col(id),
      cnt("[A-Za-z]").as("n_latin"),
      cnt("[0-9]").as("n_digit"),
      cnt("[\u0400-\u04FF]").as("n_cyrillic"),
      cnt("[\u4E00-\u9FFF]").as("n_cjk"),
      cnt("\\s").as("n_space"),
      length(col(text)).cast("long").as("n_chars"))
      .withColumn("n_other",
        col("n_chars") - col("n_latin") - col("n_digit") -
          col("n_cyrillic") - col("n_cjk") - col("n_space"))
  }

  /** Compression-ratio quality signal: DEFLATE-compressed bytes /
    * original bytes (the codegen'd [[graft.functions.DeflatedSize]]
    * expression over the UTF-8 encoding). Web-pipeline staple: heavily
    * repetitive boilerplate (menus, listings, SEO spam) compresses far
    * below natural prose and near-random noise compresses above it, so
    * thresholding BOTH tails drops junk row-locally — no vocabulary, no
    * model, no shuffle. NULL for the empty string (no bytes, no signal)
    * rather than a divide-by-zero. Not SQL-replayable (DuckDB exposes no
    * zlib), so this lane is spec-verified; the declared query gets the
    * driver's rows-only check.
    */
  def compressionRatio(c: Column): Column = {
    val bytes = octet_length(c).cast("double")
    when(bytes > 0,
      graft.functions.CompressExpressions.deflated_size(c) / bytes)
  }

  /** Adjacent-token bigram structs from a token array — a row-local
    * zip of the array against itself shifted by one (no window, no
    * shuffle; the per-doc array is the locality unit).
    */
  def bigrams(toks: Column): Column = {
    val n = size(toks)
    zip_with(
      slice(toks, lit(1), greatest(n - 1, lit(0))),
      slice(toks, lit(2), greatest(n - 1, lit(0))),
      (a, b) => struct(a.as("w1"), b.as("w2")))
  }

  /** Corpus bigram count table: (w1, w2, c12). The language-model
    * foundation — vocabulary² is small relative to any corpus worth
    * modeling, so downstream joins broadcast it (beyond-broadcast
    * vocabularies take the [[dfSketch]] lane, same as unigram df).
    */
  def bigramCounts(df: org.apache.spark.sql.DataFrame, text: String
                  ): org.apache.spark.sql.DataFrame =
    df.select(explode(bigrams(graft.operators.Dedup.tokens(col(text)))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))

  /** Corpus-wide template-line document frequency: for every non-blank
    * line (exact string), the number of DISTINCT documents containing
    * it. Lines repeated across many documents are boilerplate
    * (subscribe banners, copyright footers, nav chrome) — the
    * line-level complement of the span/shingle dedup lanes, and the
    * detection half of the CCNet/Dolma "strip lines shared by many
    * pages" rule. One narrow shuffle: (id, line) distinct pairs.
    */
  def templateLineDf(df: org.apache.spark.sql.DataFrame, id: String,
                     text: String): org.apache.spark.sql.DataFrame =
    df.select(col(id), explode(split(col(text), "\n")).as("line"))
      .filter(trim(col("line")) =!= "")
      .distinct()
      .groupBy("line").agg(count(lit(1)).as("df"))

  /** Strip template lines (df >= minDf over [[templateLineDf]] computed
    * per DISTINCT doc) and report per-doc accounting. Two phases:
    *  1. the df pass — (doc, line) distinct pairs, one narrow shuffle;
    *     the hot set collects to the driver as a BOUNDED artifact
    *     (template lines are few by nature; `maxLines` enforces it,
    *     the codebook/BPE-merges discipline).
    *  2. the strip — a MAP-ONLY projection: every line filter runs
    *     row-locally against the broadcast hot array; document text
    *     never rides a shuffle.
    * Output: (id, n_lines, n_template, text_clean). Lines compare
    * EXACTLY (no trim) for membership; blank lines are never hot.
    */
  def stripTemplateLines(df: org.apache.spark.sql.DataFrame, id: String,
                         text: String, minDf: Long,
                         maxLines: Int = 10000
                        ): org.apache.spark.sql.DataFrame = {
    val hotArr = typedLit(templateHotLines(df, id, text, minDf, maxLines))
    val lines = split(col(text), "\n")
    df.select(col(id),
      size(lines).cast("long").as("n_lines"),
      size(filter(lines, l => array_contains(hotArr, l))).cast("long")
        .as("n_template"),
      array_join(filter(lines, l => !array_contains(hotArr, l)), "\n")
        .as("text_clean"))
  }

  /** The detection half as a driver artifact: the sorted hot-line list
    * (bounded by `maxLines`). Callers compose their own strip — e.g.
    * [[stripLinesIn]] to rewrite a text column IN PLACE, keeping every
    * other column (the TrainingPipeline form).
    */
  def templateHotLines(df: org.apache.spark.sql.DataFrame, id: String,
                       text: String, minDf: Long,
                       maxLines: Int = 10000): Seq[String] = {
    // limit(maxLines + 1) bounds the driver transfer BEFORE the guard:
    // a mis-set minDf on a huge corpus must fail with the require
    // message below, not a driver OOM fetching the unbounded hot set.
    val hot = templateLineDf(df, id, text).filter(col("df") >= minDf)
      .select("line").limit(maxLines + 1).collect().map(_.getString(0)).sorted
    require(hot.length <= maxLines,
      s"${hot.length} template lines exceed maxLines=$maxLines — raise " +
        "minDf (a corpus whose hot-line set is unbounded is telling you " +
        "the lines are content, not template)")
    hot.toSeq
  }

  /** Map-only strip of the listed lines from a text column. */
  def stripLinesIn(text: Column, hot: Seq[String]): Column = {
    val hotArr = typedLit(hot)
    array_join(filter(split(text, "\n"), l => !array_contains(hotArr, l)), "\n")
  }

  /** Collocation (multi-word-expression) mining by pointwise mutual
    * information, division-free: a bigram is a collocation when its
    * observed count beats `lift`× the independence expectation,
    * c12/N >= lift · (c1/N)(c2/N)  ⇔  c12·N >= lift·c1·c2 — the
    * cross-multiplied form stays in exact integer arithmetic (DECIMAL
    * products, no float logs, no division), so any engine replays it
    * bit-for-bit. The emitted (c12, c1, c2, n) give the consumer the
    * exact lift ratio to rank by.
    *
    * Scale shape: everything derives from ONE bigram-count aggregation
    * — head counts, tail counts and the total are re-aggregations of
    * the (w1, w2, c12) table (vocab²-bounded), never second passes
    * over the corpus; the enrich joins broadcast the vocab-sized count
    * tables. `minCount` drops the hapax tail before the joins.
    */
  def collocations(df: org.apache.spark.sql.DataFrame, text: String,
                   minCount: Long, lift: Long = 8L
                  ): org.apache.spark.sql.DataFrame = {
    val c12 = Pins.persist(bigramCounts(df, text))
    val heads = c12.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val tails = c12.groupBy("w2").agg(sum(col("c12")).as("c2"))
    val total = c12.agg(sum(col("c12")).as("n"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    c12.filter(col("c12") >= minCount)
      .join(broadcast(heads), "w1")
      .join(broadcast(tails), "w2")
      .crossJoin(broadcast(total))
      .filter(dec(col("c12")) * col("n") >= lit(lift) * dec(col("c1")) * col("c2"))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"), col("n"))
  }

  /** Per-document bigram-frequency statistics against the corpus bigram
    * table — the fluency/quality signal of an n-gram LM filter reduced
    * to exact integer aggregates (SQL-replayable; the float-log
    * perplexity lane is [[perplexity]]). Documents with fewer than two
    * tokens emit no bigrams and are absent from the output.
    */
  def lmScore(df: org.apache.spark.sql.DataFrame, id: String, text: String,
              rareCap: Long = 5L): org.apache.spark.sql.DataFrame = {
    val bg = df.select(col(id),
        explode(bigrams(graft.operators.Dedup.tokens(col(text)))).as("b"))
      .select(col(id), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val counts = bigramCounts(df, text)
    bg.join(broadcast(counts), Seq("w1", "w2"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c12") <= rareCap, 1L).otherwise(0L)).as("n_rare"),
        sum(col("c12")).as("c12_sum"))
      .select(col(id), col("n_bigrams"), col("n_rare"),
        (col("c12_sum").cast("double") / col("n_bigrams")).as("mean_c12"))
  }

  /** Add-one-smoothed bigram-LM perplexity per document:
    * exp(-1/N · Σ ln((c12+1)/(c1+V))) with c1 = occurrences of w1 as a
    * bigram head and V the head vocabulary size. Float-log accumulation
    * is partition-order-dependent in the last ulps, so this lane is
    * spec-verified against a local reference rather than hash-compared
    * to a SQL oracle ([[lmScore]] is the oracle-checked lane). The
    * count tables broadcast; the token stream never shuffles.
    */
  def perplexity(df: org.apache.spark.sql.DataFrame, id: String, text: String
                ): org.apache.spark.sql.DataFrame = {
    val bg = df.select(col(id),
        explode(bigrams(graft.operators.Dedup.tokens(col(text)))).as("b"))
      .select(col(id), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c12 = bigramCounts(df, text)
    val c1 = c12.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val v = c1.count()
    bg.join(broadcast(c12), Seq("w1", "w2"))
      .join(broadcast(c1), Seq("w1"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n"),
        sum(log((col("c12") + 1).cast("double") / (col("c1") + v))).as("ll"))
      .select(col(id), exp(-col("ll") / col("n")).as("ppl"))
  }

  /** Token document-frequency Count-Min sketch — the 100 TB lane of
    * corpus-frequency scoring: the exact path (rare_token_score)
    * broadcast-joins the full vocabulary df table, which stops fitting
    * when the vocabulary reaches billions of tokens; the sketch is a
    * fixed `O(1/eps · ln(1/confidence))`-cell array built distributed
    * (partition sketches merge associatively) and broadcast once.
    */
  def dfSketch(df: org.apache.spark.sql.DataFrame, id: String, text: String,
               eps: Double, confidence: Double
              ): org.apache.spark.util.sketch.CountMinSketch =
    df.select(col(id), explode(graft.operators.Dedup.tokens(col(text))).as("w"))
      .distinct()
      .stat.countMinSketch(col("w"), eps, confidence, seed = 42)

  /** Corpus-wide exact paragraph dedup, KEEP-FIRST (the RefinedWeb /
    * MassiveText rule: a paragraph repeated anywhere in the corpus
    * survives only at its first occurrence — ordered by (doc id,
    * position) — and every later occurrence is cut, including repeats
    * INSIDE one document). The keep-first semantics are what
    * distinguish this from [[stripTemplateLines]]: template stripping
    * removes a hot line from EVERY document once its df crosses a
    * threshold, while paragraph dedup always preserves exactly one
    * copy of the content, so no text is lost from the corpus — the
    * dedup rule for body prose, where the template rule is for chrome.
    *
    * Scale shape (the span/exact-dedup discipline): document text
    * never rides the dedup shuffle. Phase 1 explodes to NARROW
    * (id, pos, h1, h2) rows — 128-bit md5 halves of the paragraph, the
    * [[graft.operators.Dedup]] portable-hash convention — and finds
    * each hash's winner with one min-aggregation. Phase 2 reduces the
    * losers to a per-doc drop-position list (doc-count-scale, narrow)
    * and rewrites the text MAP-ONLY with an index-aware array filter
    * against that list, joined back on id. Whitespace-only paragraphs
    * are separators, not content — never hashed, never dropped.
    *
    * Output: (id, n_paras, n_dropped, text_clean), text_clean joining
    * kept paragraphs with `sep`.
    */
  def paragraphDedup(df: org.apache.spark.sql.DataFrame, id: String,
                     text: String, sep: String = "\n\n"
                    ): org.apache.spark.sql.DataFrame = {
    val paras = split(col(text), java.util.regex.Pattern.quote(sep))
    df.join(paragraphDropLists(df, id, text, sep), Seq(id), "left")
      .select(col(id),
        size(paras).cast("long").as("n_paras"),
        coalesce(size(col("drop_pos")), lit(0)).cast("long").as("n_dropped"),
        cutParagraphs(paras, sep).as("text_clean"))
  }

  /** [[paragraphDedup]] rewriting the text column IN PLACE, every other
    * column untouched — the TrainingPipeline form (the stripLinesIn
    * analog for the keep-first rule).
    */
  def dedupParagraphsIn(df: org.apache.spark.sql.DataFrame, id: String,
                        text: String, sep: String = "\n\n"
                       ): org.apache.spark.sql.DataFrame =
    df.join(paragraphDropLists(df, id, text, sep), Seq(id), "left")
      .withColumn(text,
        cutParagraphs(split(col(text), java.util.regex.Pattern.quote(sep)), sep))
      .drop("drop_pos")

  /** The dedup decision as a per-doc drop-position list (doc-count-
    * scale, narrow): phase 1 of the keep-first rule. Only (id, pos,
    * 128-bit hash) rows ever shuffle.
    */
  private def paragraphDropLists(df: org.apache.spark.sql.DataFrame,
                                 id: String, text: String, sep: String
                                ): org.apache.spark.sql.DataFrame = {
    val paras = split(col(text), java.util.regex.Pattern.quote(sep))
    val hashed = df
      .select(col(id), posexplode(paras).as(Seq("pos", "para")))
      .filter(trim(col("para")) =!= "")
      .select(col(id), col("pos"),
        graft.operators.Dedup.h1(col("para")).as("h1"),
        graft.operators.Dedup.h2(col("para")).as("h2"))
    // first occurrence per 128-bit hash: min over the (id, pos) struct
    // (lexicographic = corpus order)
    val winners = hashed.groupBy(col("h1"), col("h2"))
      .agg(min(struct(col(id), col("pos"))).as("w"))
    // every non-winning occurrence, folded to one drop-list per doc
    hashed.join(winners, Seq("h1", "h2"))
      .filter(struct(col(id), col("pos")) =!= col("w"))
      .groupBy(col(id)).agg(collect_set(col("pos")).as("drop_pos"))
  }

  /** Map-only phase 2: re-split row-locally, cut the dropped indexes. */
  private def cutParagraphs(paras: Column, sep: String): Column =
    array_join(
      filter(paras, (p, i) =>
        !array_contains(coalesce(col("drop_pos"), array().cast("array<int>")), i)),
      sep)

  /** Sketch-estimated rare-token scoring, same output shape as the
    * exact rare_token_score query. CMS error is ONE-SIDED (estimate >=
    * true count), so a token can only look more common than it is: the
    * gate may miss rare tokens with probability bounded by `confidence`
    * /`eps`, but never invents rarity — the conservative direction for
    * a rarity-driven quality filter. Probing is a row-local broadcast
    * lookup; the only shuffle is the per-doc aggregation of longs.
    */
  def rareTokenScoreSketch(df: org.apache.spark.sql.DataFrame, id: String,
                           text: String,
                           sketch: org.apache.spark.util.sketch.CountMinSketch,
                           rareCap: Long): org.apache.spark.sql.DataFrame = {
    val b = df.sparkSession.sparkContext.broadcast(sketch)
    val est = udf { w: String => b.value.estimateCount(w) }
    df.select(col(id), explode(graft.operators.Dedup.tokens(col(text))).as("w"))
      .withColumn("df", est(col("w")))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("df") <= rareCap, 1L).otherwise(0L)).as("n_rare"),
        sum(col("df")).as("df_sum"))
      .select(col(id), col("n_tokens"), col("n_rare"),
        (col("df_sum").cast("double") / col("n_tokens")).as("mean_df"))
  }
}
