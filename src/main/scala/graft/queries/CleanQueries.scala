package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Classify, Dedup, Redact, Sampling, TextOps}

/** Text-cleaning / curation queries over `documents`: PII scrubbing,
  * canonical normalization, bigram-LM fluency scoring, and quantile
  * curriculum binning — the cleaning half of a training-data pipeline
  * (the dedup half lives in DedupQueries).
  *
  * The fixture corpus is synthetic word-salad with no natural PII or
  * unicode damage, so the PII and normalization queries first DAMAGE
  * the text deterministically (injected emails/phones/IPs, decomposed
  * accents, doubled spaces, stray caps) with expressions the oracle
  * replays verbatim — the operators then have real spans to find, and
  * the driver hash-checks the full repair round-trip.
  */
object CleanQueries extends QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  // the canonical tokenizer — NOT a local re-implementation, so the
  // n_words/quality columns can never drift from the operators they
  // mirror if the tokenization ever changes
  private def toks(c: Column): Column = Dedup.tokens(c)

  /** Deterministic PII injection: docs get an email (id%3=0), a phone
    * (id%5=0), and/or an IPv4 (id%7=0) appended — value derived from
    * doc_id, so both engines synthesize identical spans.
    */
  private def injectPii(id: Column, text: Column): Column = concat(
    text,
    when(id % 3 === 0,
      concat(lit(" contact user"), id.cast("string"), lit("@example.com")))
      .otherwise(lit("")),
    when(id % 5 === 0,
      concat(lit(" call 555-"), lpad((id % 1000).cast("string"), 3, "0"),
        lit("-"), lpad((id % 10000).cast("string"), 4, "0")))
      .otherwise(lit("")),
    when(id % 7 === 0,
      concat(lit(" from 10."), (id % 256).cast("string"), lit("."),
        (id % 100).cast("string"), lit(".1")))
      .otherwise(lit("")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // PII scrub: per-doc span counts by type + the redacted text.
    // Detection and redaction are chained codegen'd regex projections —
    // row-local at any corpus size (see operators/Redact).
    "pii_scan" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), injectPii(col("doc_id"), col("text")).as("p"))
        .select(col("doc_id"),
          Redact.matchCount(col("p"), Redact.EmailPattern).as("n_email"),
          Redact.matchCount(col("p"), Redact.PhonePattern).as("n_phone"),
          Redact.matchCount(col("p"), Redact.Ipv4Pattern).as("n_ip"),
          Redact.scrubPii(col("p")).as("clean"))
    }),

    // Canonical normalization round-trip: deterministically damage the
    // text (decomposed e+U+0301, doubled spaces, upper-cased a/o), then
    // repair with NFC + lower + whitespace collapse + trim — the
    // codegen'd NfcNormalize expression (functions/TextExpressions)
    // under a projection-only plan.
    "normalize_text" -> ((s, dir) => {
      val messy = regexp_replace(
        regexp_replace(translate(col("text"), "ao", "AO"), "e", "e\u0301"),
        " ", "  ")
      docs(s, dir)
        .select(col("doc_id"), messy.as("messy"))
        .select(col("doc_id"), TextOps.normalizeText(col("messy")).as("norm"),
          length(col("messy")).cast("long").as("n_before"))
        .withColumn("n_after", length(col("norm")).cast("long"))
    }),

    // Bigram-LM fluency scoring: every adjacent token pair joined to
    // its corpus bigram frequency (bigram table broadcast — the token
    // stream never shuffles), then per-doc rarity stats from exact
    // integer sums. The n-gram-LM quality-filter shape (the float-log
    // perplexity lane is spec-verified; see TextOps.perplexity).
    "lm_score" -> ((s, dir) => TextOps.lmScore(docs(s, dir), "doc_id", "text")),

    // Mojibake screen: UTF-8-bytes-decoded-as-Latin-1/cp1252 artifacts
    // ("Ã©" for é, "â€™" for ', U+FFFD replacement chars) — the
    // encoding-damage gate of crawl cleaning. Counting is the
    // Aho-Corasick dictionary expression (one codegen'd text pass,
    // string_split-replayable); artifacts are injected
    // deterministically since the fixture is clean ASCII.
    "mojibake_scan" -> ((s, dir) => {
      val id = col("doc_id")
      val damaged = concat(col("text"),
        when(id % 4 === 0, lit(" caffÃ© latte")).otherwise(lit("")),
        when(id % 6 === 0, lit(" weâ€™re done")).otherwise(lit("")),
        when(id % 9 === 0, lit(" bad�char")).otherwise(lit("")))
      docs(s, dir)
        .select(id, graft.functions.MatchExpressions.multi_match_counts(
          damaged, Seq("Ã", "â€", "�")).as("mc"))
        .select(id,
          element_at(col("mc"), 1).as("n_latin1"),
          element_at(col("mc"), 2).as("n_cp1252"),
          element_at(col("mc"), 3).as("n_replacement"))
        .withColumn("flagged",
          (col("n_latin1") + col("n_cp1252") + col("n_replacement") > 0)
            .cast("long"))
    }),

    // Template-line strip: the CCNet/Dolma "drop lines shared by many
    // pages" rule — line-df pass on (doc, line) distinct pairs, hot set
    // collected (bounded artifact), strip is a MAP-ONLY projection so
    // document text never rides a shuffle. Boilerplate lines are
    // injected deterministically (the pii_scan damage discipline).
    "template_strip" -> ((s, dir) => {
      val id = col("doc_id")
      val damaged = concat(col("text"),
        when(id % 2 === 0, lit("\nSUBSCRIBE NOW for updates"))
          .otherwise(lit("")),
        when(id % 3 === 0, lit("\n(c) example.com all rights reserved"))
          .otherwise(lit("")))
      TextOps.stripTemplateLines(
        docs(s, dir).select(id, damaged.as("text")), "doc_id", "text",
        minDf = 5L)
    }),

    // Paragraph dedup, keep-first (RefinedWeb/MassiveText): a
    // paragraph repeated anywhere in the corpus survives only at its
    // first (doc, position) occurrence — the body-prose complement of
    // template_strip's threshold rule. Paragraph structure is injected
    // deterministically (shared boilerplate paragraphs on id strides
    // plus a self-repeat stride), since the fixture is single-line;
    // the fixture's natural full-text duplicates then exercise the
    // cross-doc keep-first path on the body paragraphs too.
    "paragraph_dedup" -> ((s, dir) => {
      val id = col("doc_id")
      val damaged = concat(
        when(id % 2 === 0, lit("JOIN OUR NEWSLETTER TODAY\n\n"))
          .otherwise(lit("")),
        col("text"),
        when(id % 3 === 0, lit("\n\n(c) Example Corp - all rights reserved"))
          .otherwise(lit("")),
        when(id % 7 === 0, concat(lit("\n\n"), col("text")))
          .otherwise(lit("")))
      TextOps.paragraphDedup(
        docs(s, dir).select(id, damaged.as("text")), "doc_id", "text")
    }),

    // BPE subword tokenization: merges trained on the corpus word-
    // frequency table (vocabulary-scale, one (word,count) shuffle +
    // bounded collect; see operators/Bpe), applied as a map-only
    // broadcast encode. The output carries its own
    // invariants: `round_trip_ok` = 1 iff stripping the end-of-word
    // marks from the concatenated subwords reconstructs the exact word
    // sequence (all rows must be 1; spec'd on this query), and
    // `merges_md5` = checksum of the trained merge list (constant per
    // corpus; retrain determinism spec'd against an independent train).
    // FULLY oracle-checked: the DuckDB oracle retrains the
    // merge list and re-encodes every word via two recursive CTEs (see
    // the oracle's comment), so the checksum and every per-doc subword
    // count hash-match an independent SQL replay.
    "bpe_tokenize" -> ((s, dir) => {
      val d = docs(s, dir)
      val merges = graft.operators.Bpe.train(d, "text", nMerges = 40)
      graft.operators.Bpe.tokenize(d, "text", merges)
        .select(col("doc_id"),
          size(toks(col("text"))).cast("long").as("n_words"),
          size(col("bpe_tokens")).cast("long").as("n_sub"),
          (rtrim(regexp_replace(array_join(col("bpe_tokens"), ""),
            graft.operators.Bpe.EndMark, " ")) ===
            array_join(toks(col("text")), " ")).cast("long").as("round_trip_ok"),
          lit(graft.operators.Bpe.mergesChecksum(merges)).as("merges_md5"))
    }),

    // Script composition: the multilingual script-filter signal. The
    // fixture is pure ASCII, so Cyrillic/CJK spans are injected
    // deterministically (the pii_scan damage discipline) before the
    // row-local regex counters profile each document.
    "script_profile" -> ((s, dir) => {
      val damaged = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          lit(" \u043f\u0440\u0438\u0432\u0435\u0442")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          lit(" \u4f60\u597d\u4e16\u754c")).otherwise(lit("")))
      TextOps.scriptProfile(
        docs(s, dir).select(col("doc_id"), damaged.as("text")),
        "doc_id", "text")
    }),

    // URL canonicalization + dedup-by-URL: inject messy URL variants
    // (case-shifted authority, default ports, tracking params,
    // fragments) deterministically, then extract, canonicalize, and
    // count per canonical form — variants of one page collapse to one
    // group. All regex/string projections + one count aggregation.
    "url_canon" -> ((s, dir) => {
      import graft.operators.Urls
      val id = col("doc_id")
      val damaged = concat(col("text"),
        lit(" visit HTTP://Example.COM:80/page/"), (id % 20).cast("string"),
        lit("?utm_source=mail&ref="), (id % 3).cast("string"),
        when(id % 2 === 0,
          concat(lit(" also https://Cdn.Example.COM:443/asset/"),
            (id % 10).cast("string"), lit("#sec")))
          .otherwise(lit("")))
      docs(s, dir)
        .select(explode(Urls.extract(damaged)).as("u"))
        .select(Urls.canonicalize(col("u")).as("url"))
        .groupBy("url").agg(count(lit(1)).as("n"))
    }),

    // Compression-ratio quality signal: DEFLATE bytes / original bytes
    // via the codegen'd deflated_size expression — the model-free
    // repetitiveness/noise filter of web-corpus pipelines, row-local at
    // any scale. DuckDB exposes no zlib, so the driver records a
    // rows-only check — but the rows WITNESS the kernel themselves (the
    // multimodal_entropy sentinel pattern): three sentinel documents
    // with known compressibility classes (doc_id < 0: repetitive,
    // English prose, pseudorandom printable noise) ride every run, and
    // every recorded row carries law_ok = that run's sentinel ratios
    // obey repetitive < prose < noise. The same ordering is asserted in
    // ScalaTest; here the driver-recorded output itself carries it.
    "comp_ratio" -> ((s, dir) => {
      import s.implicits._
      val rng = new scala.util.Random(42)
      val noise = Array.fill(400)((33 + rng.nextInt(94)).toChar).mkString
      val prose =
        ("The quick brown fox jumps over the lazy dog while the patient " +
          "reader considers how ordinary English prose compresses: common " +
          "words repeat, letter frequencies are skewed, and grammar " +
          "constrains what follows what, so DEFLATE finds structure that " +
          "pure noise lacks yet far less than a string of one repeated " +
          "syllable offers. Measured against both extremes, natural text " +
          "settles in the middle of the ratio scale.")
      val sent = Seq(
        (-1L, "ab" * 200), // repetitive
        (-2L, prose),      // natural prose
        (-3L, noise))      // high-entropy printable noise
        .toDF("doc_id", "text")
      val rated = docs(s, dir).select(col("doc_id"), col("text"))
        .unionByName(sent)
        .select(col("doc_id"),
          TextOps.compressionRatio(col("text")).as("comp_ratio"),
          octet_length(col("text")).cast("long").as("n_bytes"))
      val law = sent
        .select(TextOps.compressionRatio(col("text")).as("r"), col("doc_id"))
        .agg((max(when(col("doc_id") === -1L, col("r"))) <
          max(when(col("doc_id") === -2L, col("r"))) &&
          max(when(col("doc_id") === -2L, col("r"))) <
          max(when(col("doc_id") === -3L, col("r")))).as("law_ok"))
      rated.crossJoin(broadcast(law))
    }),

    // DSIR importance weights (operators/Dsir): raw corpus = all
    // documents, target = the en slice (the curated-reference proxy);
    // hashed-unigram log-ratio λ table trained once (bounded, 1024
    // longs), per-doc scores are exact fixed-point integer sums, and
    // keep = per-token affinity above the exact corpus mean
    // (cross-multiplied — no division, no floats). The oracle replays
    // counts, λ (same ln→round discipline), scores, and the selection.
    "dsir_weights" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.operators.Dsir.weights(d, d.filter(col("lang") === "en"),
        "doc_id", "text", b = 1024)
    }),

    // Model-based quality filtering: the contrastive token classifier
    // (operators/Classify — fastText-lite, integer-exact). Trained here
    // on the corpus's own language labels (en = positive class) and
    // applied back to every document: one training aggregation, then a
    // broadcast-weights map-side score. The oracle replays the
    // cross-multiplied df arithmetic in HUGEINT.
    "classifier_score" -> ((s, dir) => {
      val d = docs(s, dir)
      val w = Classify.trainTokenWeights(d, "doc_id", "text",
        col("lang") === "en")
      Classify.scoreDocs(d, "doc_id", "text", w)
    }),

    // Held-out evaluation of the quality classifier — the step every
    // curation pipeline runs before trusting a filter at corpus scale:
    // train on the even-doc_id half, score the odd half, compare
    // predictions to the true labels. Emits the confusion matrix plus
    // precision/recall/F1/accuracy in exact parts-per-million (integer
    // DIV of non-negative longs — no float ever enters the row, so the
    // oracle replays it bit-for-bit). Cost shape: two classifier passes
    // (each one agg + one broadcast-scored map) and ONE 4-long
    // reduction — nothing here grows with corpus size except the
    // already-bounded weight table.
    "classifier_eval" -> ((s, dir) => {
      val d = docs(s, dir)
      val train = d.filter(col("doc_id") % 2 === 0)
      val test = d.filter(col("doc_id") % 2 =!= 0)
      val w = Classify.trainTokenWeights(train, "doc_id", "text",
        col("lang") === "en")
      val lab = Classify.scoreDocs(test, "doc_id", "text", w)
        .join(test.select(col("doc_id"),
          (col("lang") === "en").cast("long").as("y")), Seq("doc_id"))
      Classify.evaluate(lab, col("y"), col("pred"))
    }),

    // HTML -> text extraction: the web-crawl ingestion stage. The
    // fixture corpus is plain text, so each doc is first wrapped in a
    // deterministic page (head/title, script, entity-escaped prose
    // paragraph, link-dense nav footer, comment) that the oracle
    // replays verbatim — then operators/Html strips it back down and
    // computes the boilerplate signals (anchor chars, link density,
    // text ratio). Pure regexp projections: row-local, codegen'd,
    // zero shuffle at any crawl size.
    "html_extract" -> ((s, dir) => {
      import graft.operators.Html
      val id = col("doc_id").cast("string")
      val esc = regexp_replace(regexp_replace(regexp_replace(col("text"),
        "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
      val page = concat(
        lit("<html><head><title>Doc "), id, lit(" - "), col("source"),
        lit("</title><style>p{margin:0}</style></head><body><script>var d="),
        id, lit(";</script><h1>Doc "), id, lit("</h1><p>"), esc,
        lit("</p><div class=\"nav\"><a href=\"/s/1\">more from "),
        col("source"),
        lit("</a>&nbsp;&amp; <a href=\"/a\">archive</a></div>" +
          "<!-- footer --></body></html>"))
      docs(s, dir)
        .select(col("doc_id"), page.as("html"))
        .select(col("doc_id"),
          Html.title(col("html")).as("title"),
          Html.extractText(col("html")).as("text"),
          Html.anchorChars(col("html")).as("n_anchor"),
          Html.linkDensity(col("html")).as("link_density"),
          Html.textRatio(col("html")).as("text_ratio"))
    }),

    // Gopher duplicate-LINE repetition metrics — the line-level
    // complement to repetition_filter's n-gram lane. A promo line is
    // injected 1-3 times by doc_id so repeats exist at every fixture
    // scale; metrics are array_distinct arithmetic, map-only.
    "repetition_lines" -> ((s, dir) => {
      val id = col("doc_id")
      val damaged = concat(col("text"), lit(".\n"),
        lit("Repeated promo line here.\n"),
        when(id % 2 === 0, lit("Repeated promo line here.\n"))
          .otherwise(lit("")),
        when(id % 3 === 0, lit("Repeated promo line here.\n"))
          .otherwise(lit("")),
        lit("Unique closing line."))
      val (n, dupFrac, dupCharFrac) = TextOps.lineRepetition(col("t"))
      docs(s, dir)
        .select(id, damaged.as("t"))
        .select(id, n.as("n_lines"), dupFrac.as("dup_line_frac"),
          dupCharFrac.as("dup_line_char_frac"))
        .withColumn("flagged", (col("dup_line_frac") > 0.3).cast("bigint"))
    }),

    // Gopher document-level quality rules (the published rule set:
    // word-count bounds, mean word length window, alphabetic-word
    // fraction, bullet/ellipsis line fractions, stopword presence).
    // Bullet and ellipsis lines are injected deterministically since
    // the fixture has none. All row-local array expressions over one
    // scan; the keep decision is the conjunction both engines replay.
    "gopher_filter" -> ((s, dir) => {
      val id = col("doc_id")
      val damaged = concat(col("text"),
        when(id % 5 === 0, lit("\n• bullet item listed")).otherwise(lit("")),
        when(id % 7 === 0, lit("\nread the teaser more...")).otherwise(lit("")))
      val t = toks(col("t"))
      val lines = split(col("t"), "\n")
      val nw = greatest(size(t), lit(1)).cast("long")
      docs(s, dir)
        .select(id, damaged.as("t"))
        .select(id,
          size(t).cast("long").as("n_words"),
          (aggregate(transform(t, w => length(w).cast("long")),
            lit(0L), (a, x) => a + x).cast("double") / nw).as("mean_word_len"),
          (size(filter(t, w => w.rlike("[A-Za-z]"))).cast("double") / nw)
            .as("frac_alpha"),
          size(lines).cast("long").as("n_lines"),
          size(filter(lines, l => l.rlike("^\\s*[•*-] "))).cast("long")
            .as("n_bullet_lines"),
          size(filter(lines, l => l.rlike("(\\.\\.\\.|…)\\s*$"))).cast("long")
            .as("n_ellipsis_lines"),
          TextOps.countIn(t, TextOps.stopEn).as("n_stops"))
        .withColumn("keep",
          (col("n_words") >= 10L && col("n_words") <= 100000L &&
            col("mean_word_len") >= 2.0 && col("mean_word_len") <= 12.0 &&
            col("frac_alpha") >= 0.7 &&
            col("n_bullet_lines") * 10L <= col("n_lines") * 9L &&
            col("n_ellipsis_lines") * 10L <= col("n_lines") * 3L &&
            col("n_stops") >= 1L).cast("bigint"))
    }),

    // Word-blocklist (badwords) page filter: the C4/Dolma-style drop
    // rule — a page containing ANY blocklisted token is excluded
    // outright; the fraction rides along for threshold-based variants.
    // The fixture corpus is clean, so blocklisted tokens are injected
    // deterministically (the pii_scan damage discipline: id%4 adds one
    // hit, id%6 adds two more). Counting reuses the same countIn
    // expression the quality score uses — row-local, zero shuffle.
    "badwords_filter" -> ((s, dir) => {
      val id = col("doc_id")
      val block = Seq("blockedone", "blockedtwo")
      val damaged = concat(col("text"),
        when(id % 4 === 0, lit(" blockedone")).otherwise(lit("")),
        when(id % 6 === 0, lit(" blockedtwo and blockedone"))
          .otherwise(lit("")))
      docs(s, dir)
        .select(id, toks(damaged).as("t"))
        .select(id,
          size(col("t")).cast("long").as("n_toks"),
          TextOps.countIn(col("t"), block).as("n_bad"))
        .withColumn("kept", (col("n_bad") === 0L).cast("bigint"))
    }),

    // C4 line-level cleaning: the stage between HTML extraction and
    // doc scoring. Fixture docs are single-line prose, so boilerplate
    // lines (fragment, code/JS chrome, lorem ipsum) are appended
    // deterministically; the filter must keep exactly the two real
    // sentences. One map pass — no explode/shuffle/rejoin.
    "c4_line_filter" -> ((s, dir) => {
      val id = col("doc_id")
      val page = concat(col("text"), lit(".\ntoo short\n"),
        when(id % 2 === 0,
          lit("function f() { return 1; } // javascript\n"))
          .otherwise(lit("")),
        lit("lorem ipsum dolor sit amet consectetur.\n" +
          "This closing sentence has six proper words."))
      val (clean, nLines, nKept) = TextOps.c4LineClean(page)
      docs(s, dir).select(col("doc_id"), clean.as("clean"),
        nLines.as("n_lines"), nKept.as("n_kept"))
    }),

    // Curriculum binning: quality deciles via exact percentile cutoffs
    // (ONE bounded 9-double collect), then row-local bin assignment —
    // no ntile window, no global sort (see Sampling.binByCutoffs).
    "quality_bins" -> ((s, dir) => {
      val q = docs(s, dir)
        .select(col("doc_id"), TextOps.quality(toks(col("text"))).as("quality"))
      val cuts = Sampling.quantileCutoffs(q, col("quality"), 10)
      q.withColumn("bin", Sampling.binByCutoffs(col("quality"), cuts))
    })
  )

  // single-line (it is interpolated into templates that stripMargin
  // AFTER interpolation — embedded margin chars would be re-stripped)
  private val piiText =
    "text" +
      " || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END" +
      " || CASE WHEN doc_id % 5 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END" +
      " || CASE WHEN doc_id % 7 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) || '.1' ELSE '' END"

  // The full BPE trainer + encoder replay chain (see the
  // bpe_tokenize oracle comment above): ends at
  // `dagg(doc_id, n_words, n_sub, joined)`, with `md(merges_md5)`
  // and the base `dt(doc_id, toks)` alongside — shared with
  // PipelineQueries' pipeline_tokenized composition, which stacks
  // the token-budget and packing replays on top of n_sub.
  // Prepend WITH RECURSIVE.
  private[queries] val bpeChainCte: String =
    raw"""wf AS MATERIALIZED (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
        |    SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS w
        |    FROM documents)
        |  GROUP BY w ORDER BY f DESC, w ASC LIMIT 50000
        |), v0 AS (
        |  SELECT w, list_append(list_transform(range(1, len(w)+1), i -> w[i:i]), '</w>') AS syms, f
        |  FROM wf
        |), bpe AS (
        |  SELECT 0 AS m, w, syms, f,
        |         CAST(NULL AS VARCHAR) AS p1, CAST(NULL AS VARCHAR) AS p2
        |  FROM v0
        |  UNION ALL
        |  SELECT m + 1, w,
        |         list_transform(
        |           string_split(
        |             trim(replace(
        |               chr(1) || array_to_string(syms, chr(1)||chr(1)) || chr(1),
        |               chr(1) || bp.p1 || chr(1) || chr(1) || bp.p2 || chr(1),
        |               chr(1) || bp.p1 || bp.p2 || chr(1)), chr(1)),
        |             chr(1)||chr(1)),
        |           x -> x),
        |         f, bp.p1, bp.p2
        |  FROM bpe, (
        |    SELECT pr[1] AS p1, pr[2] AS p2 FROM (
        |      SELECT [a, b] AS pr,
        |             row_number() OVER (ORDER BY SUM(f) DESC, a ASC, b ASC) AS rk
        |      FROM (
        |        SELECT syms[CAST(i AS INT)] AS a, syms[CAST(i AS INT)+1] AS b, f
        |        FROM bpe, LATERAL (SELECT unnest(range(1, len(syms))) AS i) g)
        |      GROUP BY a, b
        |      HAVING SUM(f) >= 2) x
        |    WHERE rk = 1
        |  ) bp
        |  WHERE m < 40
        |), md AS (
        |  SELECT md5(string_agg(p1 || chr(1) || p2, chr(2) ORDER BY m)) AS merges_md5
        |  FROM (SELECT m, any_value(p1) AS p1, any_value(p2) AS p2
        |        FROM bpe WHERE m > 0 GROUP BY m) mm
        |), dt AS MATERIALIZED (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |), v0e AS (
        |  SELECT DISTINCT w FROM (SELECT unnest(toks) AS w FROM dt)
        |), enc AS (
        |  SELECT 0 AS s, w,
        |         list_append(list_transform(range(1, len(w)+1), i -> w[i:i]), '</w>') AS syms,
        |         (SELECT list(struct_pack(rk := m, p1 := p1, p2 := p2) ORDER BY m)
        |          FROM (SELECT m, any_value(p1) AS p1, any_value(p2) AS p2
        |                FROM bpe WHERE m > 0 GROUP BY m) mm) AS rks
        |  FROM v0e
        |  UNION ALL
        |  SELECT s + 1, w,
        |         list_concat(list_concat(
        |           list_slice(syms, 1, bi - 1),
        |           [syms[CAST(bi AS INT)] || syms[CAST(bi AS INT) + 1]]),
        |           list_slice(syms, bi + 2, len(syms))),
        |         rks
        |  FROM (
        |    SELECT e.s, e.w, e.syms, e.rks, g.i AS bi,
        |           row_number() OVER (PARTITION BY e.w ORDER BY g.prk ASC, g.i ASC) AS pick
        |    FROM enc e, LATERAL (
        |      SELECT i, list_min(list_transform(
        |               list_filter(e.rks, x -> x.p1 = e.syms[CAST(i AS INT)]
        |                                   AND x.p2 = e.syms[CAST(i AS INT)+1]),
        |               x -> x.rk)) AS prk
        |      FROM (SELECT unnest(range(1, len(e.syms))) AS i)
        |    ) g
        |    WHERE g.prk IS NOT NULL
        |  ) b WHERE pick = 1
        |), encf AS MATERIALIZED (
        |  SELECT w, syms FROM (
        |    SELECT w, syms, row_number() OVER (PARTITION BY w ORDER BY s DESC) AS rk
        |    FROM enc) WHERE rk = 1
        |), dw AS (
        |  SELECT doc_id, g.i AS pos, toks[CAST(g.i AS INT)] AS w
        |  FROM dt, LATERAL (SELECT unnest(range(1, len(toks)+1)) AS i) g
        |), dagg AS (
        |  SELECT dw.doc_id,
        |         CAST(COUNT(*) AS BIGINT) AS n_words,
        |         CAST(SUM(len(e.syms)) AS BIGINT) AS n_sub,
        |         string_agg(array_to_string(e.syms, ''), '' ORDER BY dw.pos) AS joined
        |  FROM dw JOIN encf e USING (w) GROUP BY dw.doc_id
        |)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // FULL replay of the BPE trainer + tokenizer. Two recursions:
    // (1) the merge LOOP — per-word symbol rows
    // carry the vocabulary state; each step aggregates adjacent-pair
    // frequencies ACROSS the working table (DuckDB allows aggregation
    // over the recursive reference), picks max-count/lex-smallest, and
    // applies the merge as a delimiter-wrapped replace() — each symbol
    // wrapped in its own chr(1) pair, so the pattern matches FULL
    // tokens only and left-to-right non-overlapping replace() is
    // exactly Bpe.mergeOnce (a merged token can never re-match: p1+p2
    // equals neither p1 nor p2). (2) the ENCODER — per distinct word,
    // repeatedly merge the leftmost lowest-rank adjacent pair
    // (Bpe.encodeWord's scan order = ORDER BY rk, i LIMIT-1 via
    // row_number) until no trained pair applies; the final state is
    // each word's last emitted row. HARD-WON STRUCTURE: the encoder's
    // RECURSIVE TERM must not reference ANY CTE derived from the
    // trainer recursion — such a bridge CTE can materialize BEFORE the
    // first recursion populates (observed empty on DuckDB 1.x), and
    // the planner's materialize-vs-inline choice depends on accumulated
    // CONNECTION state (the same SQL read correctly on a fresh
    // connection and stalled after ~170 prior oracle queries; explicit
    // NOT MATERIALIZED did not survive the fully-warmed connection
    // either). So the trained ranks enter the encoder ONCE, in its
    // NON-recursive initial member (a scalar-subquery list over the
    // trainer output — initial members evaluate after the first
    // recursion completes, like `md`, which never mis-ordered), ride
    // every row as a 40-struct `rks` list, and the recursive term is
    // fully self-contained (rank lookup = list_filter over the carried
    // list).
    "bpe_tokenize" ->
      raw"""WITH RECURSIVE $bpeChainCte
        |SELECT d.doc_id,
        |       COALESCE(a.n_words, 0) AS n_words,
        |       COALESCE(a.n_sub, 0) AS n_sub,
        |       CAST(rtrim(replace(COALESCE(a.joined, ''), '</w>', ' '))
        |            = array_to_string(d.toks, ' ') AS BIGINT) AS round_trip_ok,
        |       md.merges_md5
        |FROM dt d LEFT JOIN dagg a USING (doc_id) CROSS JOIN md""".stripMargin,
    "dsir_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS t
        |  FROM documents
        |), bt AS (
        |  SELECT doc_id, (('0x' || substring(md5(t), 1, 15))::BIGINT % 1024) AS f FROM toks
        |), rc AS (
        |  SELECT f, CAST(COUNT(*) AS BIGINT) AS r FROM bt GROUP BY f
        |), tc AS (
        |  SELECT f, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM bt JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY f
        |), tot AS (
        |  SELECT (SELECT COUNT(*) FROM bt JOIN documents USING (doc_id) WHERE lang = 'en') AS tt,
        |         (SELECT COUNT(*) FROM bt) AS rr
        |), lam AS (
        |  SELECT b.f,
        |         CAST(round(1000000.0 * (ln((COALESCE(tc.c, 0) + 1) / CAST(tot.tt + 1024 AS DOUBLE))
        |                               - ln((COALESCE(rc.r, 0) + 1) / CAST(tot.rr + 1024 AS DOUBLE)))) AS BIGINT) AS lam
        |  FROM (SELECT unnest(range(0, 1024)) AS f) b
        |  CROSS JOIN tot
        |  LEFT JOIN tc ON tc.f = b.f
        |  LEFT JOIN rc ON rc.f = b.f
        |), s AS (
        |  SELECT bt.doc_id, CAST(SUM(lam.lam) AS BIGINT) AS logw, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM bt JOIN lam ON lam.f = bt.f GROUP BY bt.doc_id
        |), w AS (
        |  SELECT d.doc_id,
        |         CAST(COALESCE(s.n, 0) AS BIGINT) AS n_toks,
        |         CAST(COALESCE(s.logw, 0) AS BIGINT) AS logw_fp
        |  FROM documents d LEFT JOIN s USING (doc_id)
        |), tot2 AS (
        |  SELECT CAST(SUM(logw_fp) AS HUGEINT) AS sl, CAST(SUM(n_toks) AS HUGEINT) AS sn FROM w
        |)
        |SELECT w.doc_id, w.n_toks, w.logw_fp,
        |       CAST(CAST(w.logw_fp AS HUGEINT) * tot2.sn > tot2.sl * CAST(w.n_toks AS HUGEINT) AS BIGINT) AS keep
        |FROM w CROSS JOIN tot2""".stripMargin,
    "classifier_score" ->
      """WITH feats AS (
        |  SELECT doc_id, lang = 'en' AS y,
        |         unnest(list_distinct(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS feature
        |  FROM documents
        |), counts AS (
        |  SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_pos,
        |         SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS n_neg
        |  FROM documents
        |), w AS (
        |  SELECT feature,
        |         CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS HUGEINT) * CAST(n_neg AS HUGEINT)
        |         - CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS HUGEINT) * CAST(n_pos AS HUGEINT) AS w
        |  FROM feats, counts
        |  GROUP BY feature, n_pos, n_neg
        |)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
        |       CAST(CAST(SUM(w) AS DECIMAL(38,0)) AS VARCHAR) AS score,
        |       CAST(SUM(w) > 0 AS BIGINT) AS pred
        |FROM feats JOIN w USING (feature)
        |GROUP BY doc_id""".stripMargin,
    "classifier_eval" ->
      """WITH tr AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 0),
        |te AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 <> 0),
        |ftr AS (
        |  SELECT doc_id, lang = 'en' AS y,
        |         unnest(list_distinct(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS feature
        |  FROM tr
        |), counts AS (
        |  SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_pos,
        |         SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS n_neg
        |  FROM tr
        |), w AS (
        |  SELECT feature,
        |         CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS HUGEINT) * CAST(n_neg AS HUGEINT)
        |         - CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS HUGEINT) * CAST(n_pos AS HUGEINT) AS w
        |  FROM ftr, counts
        |  GROUP BY feature, n_pos, n_neg
        |), fte AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS feature
        |  FROM te
        |), scored AS (
        |  SELECT f.doc_id, CAST(COALESCE(SUM(w.w), 0) > 0 AS BIGINT) AS pred
        |  FROM fte f LEFT JOIN w USING (feature) GROUP BY f.doc_id
        |), lab AS (
        |  SELECT s.pred, CAST(te.lang = 'en' AS BIGINT) AS y FROM scored s JOIN te USING (doc_id)
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
        |FROM cm""".stripMargin,
    "pii_scan" ->
      s"""WITH p AS (
         |  SELECT doc_id, $piiText AS p FROM documents
         |)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(p, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(p, '\\b[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}\\b')) AS BIGINT) AS n_phone,
         |  CAST(len(regexp_extract_all(p, '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b')) AS BIGINT) AS n_ip,
         |  regexp_replace(regexp_replace(regexp_replace(p,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |    '\\b[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}\\b', '<PHONE>', 'g'),
         |    '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g') AS clean
         |FROM p""".stripMargin,
    "normalize_text" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         replace(replace(translate(text, 'ao', 'AO'), 'e', 'e' || chr(769)), ' ', '  ') AS messy
        |  FROM documents
        |), n AS (
        |  SELECT doc_id, messy,
        |         trim(regexp_replace(lower(nfc_normalize(messy)), '\s+', ' ', 'g')) AS norm
        |  FROM m
        |)
        |SELECT doc_id, norm,
        |       CAST(length(messy) AS BIGINT) AS n_before,
        |       CAST(length(norm) AS BIGINT) AS n_after
        |FROM n""".stripMargin,
    "mojibake_scan" ->
      s"""WITH d AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 4 = 0 THEN ' caffÃ© latte' ELSE '' END
        |    || CASE WHEN doc_id % 6 = 0 THEN ' weâ€™re done' ELSE '' END
        |    || CASE WHEN doc_id % 9 = 0 THEN ' bad�char' ELSE '' END AS t
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(string_split(t, 'Ã')) - 1 AS BIGINT) AS n_latin1,
        |  CAST(len(string_split(t, 'â€')) - 1 AS BIGINT) AS n_cp1252,
        |  CAST(len(string_split(t, '�')) - 1 AS BIGINT) AS n_replacement,
        |  CAST((len(string_split(t, 'Ã')) - 1)
        |     + (len(string_split(t, 'â€')) - 1)
        |     + (len(string_split(t, '�')) - 1) > 0 AS BIGINT) AS flagged
        |FROM d""".stripMargin,
    "template_strip" ->
      """WITH d AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'SUBSCRIBE NOW for updates' ELSE '' END
        |    || CASE WHEN doc_id % 3 = 0 THEN chr(10) || '(c) example.com all rights reserved' ELSE '' END AS t
        |  FROM documents
        |), l AS (
        |  SELECT doc_id, unnest(string_split(t, chr(10))) AS line FROM d
        |), ldf AS (
        |  SELECT line, COUNT(DISTINCT doc_id) AS df
        |  FROM l WHERE trim(line) <> '' GROUP BY line
        |), hot AS (
        |  SELECT COALESCE(list(line ORDER BY line), []::VARCHAR[]) AS hl
        |  FROM ldf WHERE df >= 5
        |)
        |SELECT doc_id,
        |  CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines,
        |  CAST(len(list_filter(string_split(t, chr(10)), x -> list_contains(hl, x))) AS BIGINT) AS n_template,
        |  array_to_string(list_filter(string_split(t, chr(10)), x -> NOT list_contains(hl, x)), chr(10)) AS text_clean
        |FROM d CROSS JOIN hot""".stripMargin,
    "paragraph_dedup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'JOIN OUR NEWSLETTER TODAY' || chr(10) || chr(10) ELSE '' END
        |    || text
        |    || CASE WHEN doc_id % 3 = 0 THEN chr(10) || chr(10) || '(c) Example Corp - all rights reserved' ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN chr(10) || chr(10) || text ELSE '' END AS t
        |  FROM documents
        |), sp AS (
        |  SELECT doc_id, string_split(t, chr(10) || chr(10)) AS ps FROM d
        |), p AS (
        |  SELECT doc_id, i AS pos, ps[i] AS para, len(ps) AS n
        |  FROM sp, LATERAL (SELECT unnest(range(1, len(ps) + 1)) AS i) r
        |), ranked AS (
        |  SELECT doc_id, pos,
        |         row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
        |  FROM p WHERE trim(para) <> ''
        |), drops AS (
        |  SELECT doc_id, pos FROM ranked WHERE rn > 1
        |)
        |SELECT p.doc_id,
        |       CAST(MAX(p.n) AS BIGINT) AS n_paras,
        |       CAST(COUNT(drops.pos) AS BIGINT) AS n_dropped,
        |       COALESCE(string_agg(p.para, chr(10) || chr(10) ORDER BY p.pos)
        |                FILTER (WHERE drops.pos IS NULL), '') AS text_clean
        |FROM p LEFT JOIN drops USING (doc_id, pos)
        |GROUP BY p.doc_id""".stripMargin,
    "lm_score" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        |  FROM t, LATERAL (SELECT unnest(range(1, len(t))) AS i) r
        |), c AS (
        |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2
        |)
        |SELECT doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |       CAST(SUM(CASE WHEN c12 <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |       CAST(SUM(c12) AS DOUBLE) / COUNT(*) AS mean_c12
        |FROM bg JOIN c USING (w1, w2)
        |GROUP BY doc_id""".stripMargin,
    "script_profile" ->
      s"""WITH d AS (
         |  SELECT doc_id, text
         |    || CASE WHEN doc_id % 3 = 0 THEN ' \u043f\u0440\u0438\u0432\u0435\u0442' ELSE '' END
         |    || CASE WHEN doc_id % 4 = 0 THEN ' \u4f60\u597d\u4e16\u754c' ELSE '' END AS t
         |  FROM documents
         |)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '[A-Za-z]')) AS BIGINT) AS n_latin,
         |  CAST(len(regexp_extract_all(t, '[0-9]')) AS BIGINT) AS n_digit,
         |  CAST(len(regexp_extract_all(t, '[\u0400-\u04ff]')) AS BIGINT) AS n_cyrillic,
         |  CAST(len(regexp_extract_all(t, '[\u4e00-\u9fff]')) AS BIGINT) AS n_cjk,
         |  CAST(len(regexp_extract_all(t, '\\s')) AS BIGINT) AS n_space,
         |  CAST(length(t) AS BIGINT) AS n_chars,
         |  CAST(length(t)
         |       - len(regexp_extract_all(t, '[A-Za-z]'))
         |       - len(regexp_extract_all(t, '[0-9]'))
         |       - len(regexp_extract_all(t, '[\u0400-\u04ff]'))
         |       - len(regexp_extract_all(t, '[\u4e00-\u9fff]'))
         |       - len(regexp_extract_all(t, '\\s')) AS BIGINT) AS n_other
         |FROM d""".stripMargin,
    "url_canon" ->
      """WITH d AS (
        |  SELECT text
        |    || ' visit HTTP://Example.COM:80/page/' || CAST(doc_id % 20 AS VARCHAR)
        |    || '?utm_source=mail&ref=' || CAST(doc_id % 3 AS VARCHAR)
        |    || CASE WHEN doc_id % 2 = 0
        |            THEN ' also https://Cdn.Example.COM:443/asset/' || CAST(doc_id % 10 AS VARCHAR) || '#sec'
        |            ELSE '' END AS t
        |  FROM documents
        |), u AS (
        |  SELECT unnest(regexp_extract_all(t, '(?i:https?)://[^\s]+')) AS u FROM d
        |), c AS (
        |  SELECT regexp_replace(regexp_replace(regexp_replace(regexp_replace(u,
        |           '#.*$', '', 'g'),
        |           '([?&])(?:utm_[A-Za-z]+|fbclid|gclid)=[^&#]*', '\1', 'g'),
        |           '([?&])&+', '\1', 'g'),
        |           '[?&]+$', '', 'g') AS cleaned
        |  FROM u
        |), s AS (
        |  SELECT cleaned, regexp_extract(cleaned, '^((?i:https?)://[^/?#]+)', 1) AS head
        |  FROM c
        |)
        |SELECT regexp_replace(regexp_replace(lower(head),
        |         '^(http://[^/:]+):80$', '\1'),
        |         '^(https://[^/:]+):443$', '\1')
        |       || substring(cleaned, length(head) + 1) AS url,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM s
        |GROUP BY 1""".stripMargin,
    "repetition_lines" ->
      """WITH p AS (
        |  SELECT doc_id, text || '.' || chr(10)
        |    || 'Repeated promo line here.' || chr(10)
        |    || CASE WHEN doc_id % 2 = 0 THEN 'Repeated promo line here.' || chr(10) ELSE '' END
        |    || CASE WHEN doc_id % 3 = 0 THEN 'Repeated promo line here.' || chr(10) ELSE '' END
        |    || 'Unique closing line.' AS t
        |  FROM documents
        |), l AS (
        |  SELECT doc_id, list_filter(string_split(t, chr(10)), x -> x <> '') AS lines
        |  FROM p
        |), m AS (
        |  SELECT doc_id, lines, list_distinct(lines) AS uniq,
        |    CAST(coalesce(list_sum(list_transform(lines, x -> length(x))), 0) AS BIGINT) AS c_all,
        |    CAST(coalesce(list_sum(list_transform(list_distinct(lines), x -> length(x))), 0) AS BIGINT) AS c_uniq
        |  FROM l
        |)
        |SELECT doc_id,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(len(lines) - len(uniq) AS DOUBLE) / CAST(greatest(len(lines), 1) AS BIGINT) AS dup_line_frac,
        |  CAST(c_all - c_uniq AS DOUBLE) / CAST(greatest(c_all, 1) AS BIGINT) AS dup_line_char_frac,
        |  CAST(CAST(len(lines) - len(uniq) AS DOUBLE) / CAST(greatest(len(lines), 1) AS BIGINT) > 0.3 AS BIGINT) AS flagged
        |FROM m""".stripMargin,
    "gopher_filter" ->
      """WITH d AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 5 = 0 THEN chr(10) || '• bullet item listed' ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'read the teaser more...' ELSE '' END AS t
        |  FROM documents
        |), x AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(t, '\s+'), w -> w <> '') AS toks,
        |    string_split(t, chr(10)) AS lines
        |  FROM d
        |), m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(coalesce(list_sum(list_transform(toks, w -> length(w))), 0) AS DOUBLE)
        |      / CAST(greatest(len(toks), 1) AS BIGINT) AS mean_word_len,
        |    CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
        |      / CAST(greatest(len(toks), 1) AS BIGINT) AS frac_alpha,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(lines, l -> regexp_matches(l, '^\s*[•*-] '))) AS BIGINT) AS n_bullet_lines,
        |    CAST(len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS BIGINT) AS n_ellipsis_lines,
        |    CAST(len(list_filter(toks, w -> w IN ('the','a','is','of','and'))) AS BIGINT) AS n_stops
        |  FROM x
        |)
        |SELECT doc_id, n_words, mean_word_len, frac_alpha, n_lines,
        |  n_bullet_lines, n_ellipsis_lines, n_stops,
        |  CAST(n_words >= 10 AND n_words <= 100000
        |   AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
        |   AND frac_alpha >= 0.7
        |   AND n_bullet_lines * 10 <= n_lines * 9
        |   AND n_ellipsis_lines * 10 <= n_lines * 3
        |   AND n_stops >= 1 AS BIGINT) AS keep
        |FROM m""".stripMargin,
    "badwords_filter" ->
      """WITH d AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 4 = 0 THEN ' blockedone' ELSE '' END
        |    || CASE WHEN doc_id % 6 = 0 THEN ' blockedtwo and blockedone' ELSE '' END AS t
        |  FROM documents
        |), tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(t, '\s+'), x -> x <> '') AS toks
        |  FROM d
        |)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_toks,
        |  CAST(len(list_filter(toks, x -> x IN ('blockedone', 'blockedtwo'))) AS BIGINT) AS n_bad,
        |  CAST(len(list_filter(toks, x -> x IN ('blockedone', 'blockedtwo'))) = 0 AS BIGINT) AS kept
        |FROM tk""".stripMargin,
    "c4_line_filter" ->
      """WITH p AS (
        |  SELECT doc_id, text || '.' || chr(10) || 'too short' || chr(10)
        |    || CASE WHEN doc_id % 2 = 0
        |            THEN 'function f() { return 1; } // javascript' || chr(10)
        |            ELSE '' END
        |    || 'lorem ipsum dolor sit amet consectetur.' || chr(10)
        |    || 'This closing sentence has six proper words.' AS raw
        |  FROM documents
        |), k AS (
        |  SELECT doc_id, string_split(raw, chr(10)) AS lines,
        |    list_filter(string_split(raw, chr(10)), x ->
        |      regexp_matches(x, '[.!?"'']\s*$')
        |      AND len(list_filter(string_split_regex(trim(x), '\s+'), w -> w <> '')) >= 3
        |      AND NOT contains(lower(x), 'lorem ipsum')
        |      AND NOT contains(lower(x), 'javascript')
        |      AND NOT contains(x, '{')) AS kept
        |  FROM p
        |)
        |SELECT doc_id, array_to_string(kept, chr(10)) AS clean,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept
        |FROM k""".stripMargin,
    "html_extract" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || ' - ' || source
        |    || '</title><style>p{margin:0}</style></head><body><script>var d='
        |    || CAST(doc_id AS VARCHAR) || ';</script><h1>Doc ' || CAST(doc_id AS VARCHAR)
        |    || '</h1><p>'
        |    || replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
        |    || '</p><div class="nav"><a href="/s/1">more from ' || source
        |    || '</a>&nbsp;&amp; <a href="/a">archive</a></div><!-- footer --></body></html>' AS html
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, html,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(html,
        |      '(?is)<head\b[^>]*>.*?</head>', '', 'g'),
        |      '(?is)<script\b[^>]*>.*?</script>', '', 'g'),
        |      '(?is)<style\b[^>]*>.*?</style>', '', 'g'),
        |      '(?is)<noscript\b[^>]*>.*?</noscript>', '', 'g'),
        |      '(?is)<template\b[^>]*>.*?</template>', '', 'g'),
        |      '(?s)<!--.*?-->', '', 'g') AS dropped
        |  FROM p
        |), u AS (
        |  SELECT doc_id, html, dropped,
        |    regexp_replace(regexp_replace(dropped,
        |      '(?i)</?(?:br|p|div|h[1-6]|li|tr|td|th|dt|dd|table|ul|ol|blockquote|section|article|header|footer|pre)\b[^>]*>', chr(10), 'g'),
        |      '(?s)<[^>]*>', '', 'g') AS untagged
        |  FROM s
        |), x AS (
        |  SELECT doc_id, html,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(replace(untagged,
        |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |        '&nbsp;', ' '), '&amp;', '&'),
        |      '\s+', ' ', 'g')) AS txt,
        |    CAST(coalesce(list_sum(list_transform(
        |      regexp_extract_all(dropped, '(?is)<a\b[^>]*>(.*?)</a>', 1),
        |      a -> length(trim(regexp_replace(
        |             replace(replace(replace(replace(replace(replace(
        |               regexp_replace(a, '(?s)<[^>]*>', '', 'g'),
        |               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |               '&nbsp;', ' '), '&amp;', '&'),
        |             '\s+', ' ', 'g'))))), 0) AS BIGINT) AS n_anchor
        |  FROM u
        |)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&nbsp;', ' '), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS title,
        |  txt AS text,
        |  n_anchor,
        |  CAST(n_anchor AS DOUBLE) / CAST(greatest(length(txt), 1) AS DOUBLE) AS link_density,
        |  CAST(length(txt) AS DOUBLE) / CAST(greatest(length(html), 1) AS DOUBLE) AS text_ratio
        |FROM x""".stripMargin,
    "quality_bins" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents
        |), f AS (
        |  SELECT doc_id,
        |         CASE WHEN len(t) = 0 THEN NULL
        |              ELSE 0.5 * (CAST(len(list_filter(t, x -> x IN ('the','a','is','of','and'))) AS BIGINT) / CAST(len(t) AS BIGINT))
        |                 + 0.05 * (CAST(list_sum(list_transform(t, x -> len(x))) AS BIGINT) / CAST(len(t) AS BIGINT))
        |         END AS quality
        |  FROM t
        |), c AS (
        |  SELECT quantile_cont(quality, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS cuts FROM f
        |)
        |SELECT doc_id, quality,
        |       CASE WHEN quality IS NULL THEN NULL
        |            ELSE CAST(1 + len(list_filter(c.cuts, x -> quality > x)) AS INTEGER)
        |       END AS bin
        |FROM f, c""".stripMargin
  )
}
