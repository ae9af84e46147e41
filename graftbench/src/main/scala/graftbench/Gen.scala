package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generators. Every input is a pure function of
  * (seed, workload): the same pair always yields the same rows, and a
  * different seed yields a different corpus of the same size and
  * near-dup rate.
  *
  * The corpora reproduce the shape of the engine's `sf0.1` testdata
  * `documents` table, so the generated inputs exercise the same code
  * paths as the oracle-checked lanes:
  *   - a 30-word vocabulary, documents of 10 to 100 words drawn
  *     uniformly from it;
  *   - 20 sources, assigned round-robin by id (`src<id % 20>`);
  *   - a 41/15/15/15/14 % en/zh/es/fr/de language mix;
  *   - 5 % near-duplicates, each another document's text plus the
  *     token `dup`.
  * The `embeddings` table is likewise 64-d unit vectors with a 10-way
  * label.
  */
object Gen {

  val Vocab: Array[String] = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  private val Langs = Array("en", "zh", "es", "fr", "de")
  private val LangCdf = Array(0.412, 0.562, 0.711, 0.859, 1.0)

  final case class Doc(doc_id: Long, text: String, lang: String,
                       source: String, n_chars: Long)

  final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

  /** Workload salts keep two workloads run with one seed independent. */
  def rng(seed: Long, salt: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt.hashCode.toLong)

  def words(r: SplittableRandom, k: Int): Array[String] =
    Array.fill(k)(Vocab(r.nextInt(Vocab.length)))

  /** Document lengths in words, uniform on [lo, hi]. They come from a
    * stream of their own that no seed changes, so every seed yields a
    * corpus of the same size.
    */
  def lengths(n: Int, lo: Int, hi: Int): Array[Int] = {
    val r = new SplittableRandom(0x6c656e67L)
    Array.fill(n)(r.nextInt(lo, hi + 1))
  }

  private def lang(r: SplittableRandom): String = {
    val u = r.nextDouble()
    Langs(LangCdf.indexWhere(u < _))
  }

  def source(id: Long): String = s"src${id % 20}"

  def doc(id: Long, text: String, lang: String): Doc =
    Doc(id, text, lang, source(id), text.length.toLong)

  /** The `sf0.1`-shaped corpus: `n` documents, a `dupRate` share of
    * them near-duplicates (`<other text> dup`) of another document.
    */
  def documents(seed: Long, n: Int, dupRate: Double = 0.05): Array[Doc] = {
    val r = rng(seed, "documents")
    val base = lengths(n, 10, 100).map(k => words(r, k).mkString(" "))
    Array.tabulate(n) { i =>
      val text =
        if (r.nextDouble() < dupRate) {
          var j = r.nextInt(n)
          if (j == i) j = (j + 1) % n
          base(j) + " dup"
        } else base(i)
      doc(i.toLong, text, lang(r))
    }
  }

  def embeddings(seed: Long, n: Int, dim: Int = 64): Array[Embedding] = {
    val r = rng(seed, "embeddings")
    Array.tabulate(n) { i =>
      val v = Array.fill(dim)(gaussian(r))
      val norm = math.sqrt(v.map(x => x * x).sum)
      Embedding(i.toLong, v.map(x => (x / norm).toFloat), r.nextInt(10))
    }
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller over SplittableRandom, whose sequence is specified and
    // so identical on every JVM (java.util.Random#nextGaussian is too,
    // but would need a second generator)
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** A copy of `ws` with `edits` word substitutions at random positions:
    * a near-duplicate whose 3-shingle Jaccard to the original is about
    * (n - 3e) / (n + 3e) for an n-word text.
    */
  def edited(r: SplittableRandom, ws: Array[String], edits: Int): Array[String] = {
    val out = ws.clone()
    (0 until edits).foreach { _ =>
      out(r.nextInt(out.length)) = Vocab(r.nextInt(Vocab.length))
    }
    out
  }

  /** The incremental-dedup corpus: a base corpus and a run of incoming
    * batches. Each document is, with probability `nearDupRate`, a copy
    * with one or two word edits of an earlier document (base or an
    * earlier batch), and otherwise fresh text. Base ids are
    * `0 until baseDocs`; batch `b` continues the id sequence.
    */
  final case class Crawl(base: Array[Doc], batches: Array[Array[Doc]])

  def crawl(seed: Long, baseDocs: Int, batches: Int, batchDocs: Int,
            nearDupRate: Double): Crawl = {
    val r = rng(seed, "crawl")
    val all = new Array[Array[String]](baseDocs + batches * batchDocs)
    val len = lengths(all.length, 30, 100)
    def next(i: Int): Doc = {
      val ws =
        if (i > 0 && r.nextDouble() < nearDupRate)
          edited(r, all(r.nextInt(i)), 1 + r.nextInt(2))
        else words(r, len(i))
      all(i) = ws
      doc(i.toLong, ws.mkString(" "), lang(r))
    }
    val base = Array.tabulate(baseDocs)(next)
    val bs = Array.tabulate(batches) { b =>
      Array.tabulate(batchDocs)(k => next(baseDocs + b * batchDocs + k))
    }
    Crawl(base, bs)
  }

  /** SHA-256 over the rows' canonical text form, in order. */
  def digest(rows: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { s => md.update(s.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def docRow(d: Doc): String = s"${d.doc_id}\t${d.source}\t${d.lang}\t${d.text}"

  def embeddingRow(e: Embedding): String =
    s"${e.vec_id}\t${e.label}\t${e.embedding.mkString(",")}"
}
