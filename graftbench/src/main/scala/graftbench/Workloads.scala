package graftbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.{TeraSort, TrainingPipeline}
import graft.operators.Dedup
import graft.sources.TeraIO

/** What a workload's set-up generated: enough to show that two sides of
  * an A/B ran the same inputs.
  */
final case class InputInfo(rows: Long, bytes: Long, digest: String)

/** What one pass of a workload returns besides its output: per-batch
  * latencies and the counts a traced pass reports.
  */
final case class RunStats(batches: Seq[Double] = Nil,
                          counts: Map[String, Double] = Map.empty)

/** One benchmark workload. `setup` generates the inputs for a seed and
  * may be repeated; `run` is one timed pass from input to a complete,
  * validated result; `check` verifies that result and returns its
  * failures (empty when correct). Every call into the engine inside
  * `run` sits in a span of the given tracer.
  */
trait Workload {
  type In
  type Out
  def name: String
  def setup(spark: SparkSession, seed: Long, dir: Path): (In, InputInfo)
  def run(spark: SparkSession, in: In, tr: Tracer): (Out, RunStats)
  def check(spark: SparkSession, in: In, out: Out): Seq[String]
  /** A digest of the output that must repeat across runs over one input. */
  def outputDigest(out: Out): Option[String] = None
  /** Removes what a run wrote, so the next run starts clean. */
  def cleanup(spark: SparkSession, in: In): Unit = ()
}

object Workloads {
  /** `terasort` runs on request but is not in `BENCHMARK.json`: the
    * gate's time budget holds two workloads of one cold pass each.
    */
  val all: Seq[Workload] = Seq(CrawlPipeline, DedupIncremental, TeraSortFlow)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Span names the runner opens, across all workloads. */
  val spanNames: Seq[String] = Seq(
    "pipeline.run", "pipeline.collect",
    "dedup.build", "dedup.save", "dedup.batch", "dedup.load", "dedup.probe",
    "dedup.append", "dedup.cc", "dedup.apply",
    "tera.write_input", "tera.sort_write", "tera.validate")

  /** Spans that wrap exactly one `sources` write call
    * (`TeraIO.write`, `Dedup.saveMinhashIndex`, `Dedup.appendMinhashIndex`).
    */
  val writeSpans: Set[String] =
    Set("dedup.save", "dedup.append", "tera.write_input", "tera.sort_write")
}

/** `TrainingPipeline.run` with every optional stage, in the shape of the
  * engine's `pipeline_full` lane: HTML ingest, template strip and
  * repetition gate; exact, simhash and semantic dedup; audio and image
  * media elections; n-gram and substring decontamination, DSIR and
  * token budgets — over a 5,000-document crawl.
  *
  * The eval suite is the crawl's `doc_id % 97 == 0` pages, which come
  * from their own source, `eval`. The packed output keeps only
  * (source, shard) granularity, so the source is what lets the check
  * see that no eval page survived decontamination.
  */
object CrawlPipeline extends Workload {
  final case class In(dir: Path, docs: Array[Gen.Doc])
  type Out = Array[(String, Long, Long, Long, Long)]

  val name = "crawl_pipeline"
  val Docs = 1000
  val Vectors = 400
  val EvalSource = "eval"
  val Budgets: Map[String, Long] = Map("src0" -> 400L, "src1" -> 200L)
  val BudgetShards = 2
  val PackBudget = 256L
  val ChunkTokens = 64L

  def setup(spark: SparkSession, seed: Long, dir: Path): (In, InputInfo) = {
    import spark.implicits._
    val docs = Gen.documents(seed, Docs).map { d =>
      if (d.doc_id % 97 == 0) d.copy(source = EvalSource) else d
    }
    val vecs = Gen.embeddings(seed, Vectors)
    docs.toSeq.toDF().write.mode("overwrite").parquet(s"$dir/documents.parquet")
    vecs.toSeq.toDF().write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val bytes = docs.map(_.text.length.toLong).sum + vecs.length * 64L * 4
    (In(dir, docs), InputInfo(docs.length + vecs.length.toLong, bytes,
      Gen.digest(docs.iterator.map(Gen.docRow) ++ vecs.iterator.map(Gen.embeddingRow))))
  }

  // The composition is the `pipeline_full` lane's, copied rather than
  // called so that an edit to the lane cannot move the benchmark.
  def run(spark: SparkSession, in: In, tr: Tracer): (Out, RunStats) = {
    import graft.multimodal.Multimodal
    val dir = in.dir.toString
    val d = graft.Tables(spark, dir, "documents")
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
    val packed = tr.span("pipeline.run") {
      TrainingPipeline.run(spark, dir,
        input = Some(d.select(col("doc_id"), col("source"), page.as("text"))),
        ingestHtml = true,
        templateMinDf = Some(5L),
        maxRepetition = Some(0.08),
        semanticThreshold = 0.38,
        embeddings = Some(graft.Tables(spark, dir, "embeddings")
          .select(col("vec_id").as("doc_id"), col("embedding"))),
        semanticCells = 32,
        audioMedia = Some(wavs),
        imageMedia = Some(stills),
        evalDocs = Some(d.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id"), col("text"))),
        decontamSubstringW = Some(10),
        dsirTarget = Some(d.filter(col("lang") === "en").select(col("text"))),
        tokenBudgets = Budgets,
        budgetShards = BudgetShards,
        normalize = true, report = false)._1
    }
    val rows = tr.span("pipeline.collect") {
      packed.select(col("source"), col("shard").cast("long"),
          col("pack_id").cast("long"), col("n_docs").cast("long"),
          col("tok_sum").cast("long"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    }
    (rows, RunStats())
  }

  /** The packed rows in a canonical order. */
  override def outputDigest(out: Out): Option[String] =
    Some(Gen.digest(out.sortBy(r => (r._1, r._2, r._3))
      .iterator.map(_.productIterator.mkString("\t"))))

  def check(spark: SparkSession, in: In, out: Out): Seq[String] = {
    // a document's chunks carry at most twice its tokens (64-token
    // windows overlapping by 16), and a document's tokens are its words
    // plus the page's surviving `Doc <id>` heading
    val docToks = (d: Gen.Doc) => d.text.count(_ == ' ') + 1 + 8L
    val inputToks = in.docs.groupBy(_.source).view.mapValues(_.map(docToks).sum).toMap
    val maxDoc = in.docs.map(docToks).max
    val bySource = out.groupBy(_._1).view.mapValues(_.map(_._5).sum).toMap
    val fails = Seq.newBuilder[String]
    if (out.isEmpty) fails += "no packs"
    if (bySource.contains(EvalSource))
      fails += s"eval pages survived decontamination: ${bySource(EvalSource)} tokens"
    // a pack opens while its running total is under the budget, so it
    // overshoots by less than one chunk
    out.filter(r => r._4 < 1 || r._5 < 1 || r._5 >= PackBudget + ChunkTokens).take(3)
      .foreach(r => fails += s"pack outside (0, ${PackBudget + ChunkTokens}) tokens: $r")
    bySource.foreach { case (s, t) =>
      inputToks.get(s) match {
        case None => fails += s"output source $s is not an input source"
        case Some(cap) if t > 2 * cap =>
          fails += s"source $s emits $t tokens from at most $cap input tokens"
        case _ => ()
      }
    }
    Budgets.foreach { case (s, b) =>
      val cap = 2 * (b + BudgetShards * maxDoc)
      if (bySource.getOrElse(s, 0L) > cap)
        fails += s"source $s over its token budget: ${bySource(s)} > $cap"
    }
    fails.result()
  }
}

/** The daily-crawl near-dup loop through the public `Dedup` calls: build
  * and save a minhash index over a base corpus; for each incoming batch,
  * load the index, probe the batch and append its survivors; finally
  * connected components over every flagged pair and the keep-min-id
  * apply over the whole crawl.
  */
object DedupIncremental extends Workload {
  final case class In(dir: Path, crawl: Gen.Crawl) {
    def batches: Int = crawl.batches.length
    def index: String = s"$dir/index"
    def base: String = s"$dir/base.parquet"
    def batch(b: Int): String = s"$dir/batch_$b.parquet"
  }
  final case class Out(pairs: Array[(Long, Long)], labels: Array[(Long, Long)],
                       kept: Long, flagged: Set[Long])

  val name = "dedup_incremental"
  val BaseDocs = 4000
  val Batches = 3
  val BatchDocs = 400
  val NearDupRate = 0.2
  val K = 3
  val NumPerm = 16
  val RowsPerBand = 4
  val Threshold = 0.5
  val MaxBucket = 1000

  def setup(spark: SparkSession, seed: Long, dir: Path): (In, InputInfo) = {
    import spark.implicits._
    val c = Gen.crawl(seed, BaseDocs, Batches, BatchDocs, NearDupRate)
    val in = In(dir, c)
    c.base.toSeq.toDF().write.mode("overwrite").parquet(in.base)
    c.batches.zipWithIndex.foreach { case (b, i) =>
      b.toSeq.toDF().write.mode("overwrite").parquet(in.batch(i))
    }
    val docs = c.base ++ c.batches.flatten
    (in, InputInfo(docs.length.toLong, docs.map(_.text.length.toLong).sum,
      Gen.digest(docs.iterator.map(Gen.docRow))))
  }

  private def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(col("doc_id"), col("text"))

  def run(spark: SparkSession, in: In, tr: Tracer): (Out, RunStats) = {
    import spark.implicits._
    tr.span("dedup.build") {
      val idx = Dedup.buildMinhashIndex(read(spark, in.base), "doc_id", "text",
        K, NumPerm, RowsPerBand, MaxBucket)
      tr.span("dedup.save") { Dedup.saveMinhashIndex(idx, in.index, "doc_id", MaxBucket) }
    }
    val lat = Seq.newBuilder[Double]
    val pairs = (0 until in.batches).flatMap { b =>
      val t0 = System.nanoTime()
      val found = tr.span("dedup.batch") {
        val batch = read(spark, in.batch(b))
        val idx = tr.span("dedup.load") { Dedup.loadMinhashIndex(spark, in.index) }
        val found = tr.span("dedup.probe") {
          Dedup.probeMinhashIndex(batch, "doc_id", "text", idx, Threshold,
              MaxBucket, materialize = true)
            .select(col("new_id"), col("corpus_id")).as[(Long, Long)].collect()
        }
        val survivors = batch.join(found.map(_._1).distinct.toSeq.toDF("doc_id"),
          Seq("doc_id"), "left_anti")
        tr.span("dedup.append") {
          Dedup.appendMinhashIndex(spark, in.index, survivors, "doc_id", "text")
        }
        found
      }
      lat += (System.nanoTime() - t0) / 1e9
      found
    }.toArray
    val labels = tr.span("dedup.cc") {
      Dedup.connectedComponents(pairs.toSeq.toDF("a", "b"), "a", "b")
        .select(col("a"), col("cluster_id")).as[(Long, Long)].collect()
    }
    val kept = tr.span("dedup.apply") {
      val all = (read(spark, in.base) +: (0 until in.batches).map(b => read(spark, in.batch(b))))
        .reduce(_ union _)
      all.join(labels.toSeq.toDF("doc_id", "cluster_id"), Seq("doc_id"), "left")
        .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
        .count()
    }
    (Out(pairs, labels, kept, pairs.map(_._1).toSet),
      RunStats(lat.result(), Map(
        "dedup.pairs" -> pairs.length.toDouble,
        "dedup.components" -> labels.map(_._2).distinct.length.toDouble)))
  }

  /** Min-id labels by union-find over the pair list. */
  def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  /** (rows, order-independent hash) of an index's signature table. */
  private def fingerprint(sig: DataFrame): (Long, java.math.BigDecimal) = {
    val r = sig.select(xxhash64(sig.columns.sorted.toSeq.map(col): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    (r.getLong(0), r.getDecimal(1))
  }

  def check(spark: SparkSession, in: In, out: Out): Seq[String] = {
    import spark.implicits._
    val fails = Seq.newBuilder[String]
    val expect = unionFind(out.pairs.toSeq)
    val got = out.labels.toMap
    if (got != expect) {
      val diff = (expect.keySet ++ got.keySet).filter(k => got.get(k) != expect.get(k))
      fails += s"CC labels differ from union-find on ${diff.size} nodes, e.g. " +
        diff.take(3).map(k => s"$k: ${got.get(k)} vs ${expect.get(k)}").mkString(", ")
    }
    val nDocs = in.crawl.base.length + in.crawl.batches.map(_.length).sum
    val keepExpect = nDocs - expect.count { case (x, l) => x != l }
    if (out.kept != keepExpect) fails += s"kept ${out.kept} docs, expected $keepExpect"
    val survivors = in.crawl.batches.flatten.filterNot(d => out.flagged(d.doc_id))
    val fresh = Dedup.buildMinhashIndex(
      (in.crawl.base ++ survivors).toSeq.toDF().select(col("doc_id"), col("text")),
      "doc_id", "text", K, NumPerm, RowsPerBand, MaxBucket)
    val (a, b) = (fingerprint(Dedup.loadMinhashIndex(spark, in.index).signatures),
      fingerprint(fresh.signatures))
    if (a != b) fails += s"appended index $a differs from a fresh build over base and survivors $b"
    fails.result()
  }

  override def cleanup(spark: SparkSession, in: In): Unit =
    TeraIO.delete(spark, in.index)
}

/** The reference's own benchmark: seeded TeraGen of 100-byte records,
  * then `TeraIO.write` -> `TeraIO.read` -> `TeraSort.teraSort` ->
  * `TeraIO.write` -> `teraValidateChecksum` over the re-read output.
  */
object TeraSortFlow extends Workload {
  final case class In(rows: Long, parts: Int, gen: DataFrame, checksum: Long,
                      input: Path, output: Path)
  type Out = (Boolean, Long, Long, Long, Long)

  val name = "terasort"
  val Rows = 1200000L

  /** TeraGen with a seed: `TeraSort.teraGen`'s per-row md5 records with
    * the seed mixed into every hash.
    */
  def teraGen(spark: SparkSession, seed: Long, rows: Long, parts: Int): DataFrame =
    spark.range(0, rows, 1, parts).select(
      expr(s"substring(unhex(md5(concat('$seed:', cast(id as string)))), 1, 10)").as("key"),
      expr(s"unhex(substring(repeat(md5(concat('$seed:v:', cast(id as string))), 6), 1, 180))")
        .as("value"))

  def setup(spark: SparkSession, seed: Long, dir: Path): (In, InputInfo) = {
    val rows = Rows
    val parts = 2 * spark.sparkContext.defaultParallelism
    val gen = teraGen(spark, seed, rows, parts)
    val cs = TeraSort.teraChecksum(gen)
    (In(rows, parts, gen, cs, dir.resolve("input"), dir.resolve("output")),
      InputInfo(rows, rows * TeraIO.RecordLength, Gen.digest(Iterator(s"$rows\t$cs"))))
  }

  def run(spark: SparkSession, in: In, tr: Tracer): (Out, RunStats) = {
    tr.span("tera.write_input") { TeraIO.write(in.gen, in.input.toString) }
    tr.span("tera.sort_write") {
      TeraIO.write(TeraSort.teraSort(TeraIO.read(spark, in.input.toString), in.parts),
        in.output.toString)
    }
    val (ok, n, cs) = tr.span("tera.validate") {
      TeraSort.teraValidateChecksum(TeraIO.read(spark, in.output.toString))
    }
    ((ok, n, cs, TeraIO.dataBytes(spark, in.input.toString),
      TeraIO.dataBytes(spark, in.output.toString)), RunStats())
  }

  def check(spark: SparkSession, in: In, out: Out): Seq[String] = {
    val (ok, n, cs, inBytes, outBytes) = out
    val want = in.rows * TeraIO.RecordLength
    Seq(
      (!ok, "output is not globally sorted"),
      (n != in.rows, s"validated $n rows, generated ${in.rows}"),
      (cs != in.checksum, f"checksum $cs%016x differs from the input's ${in.checksum}%016x"),
      (inBytes != want, s"input holds $inBytes bytes, expected $want"),
      (outBytes != want, s"output holds $outBytes bytes, expected $want"),
    ).collect { case (true, msg) => msg }
  }

  override def cleanup(spark: SparkSession, in: In): Unit = {
    TeraIO.delete(spark, in.input.toString)
    TeraIO.delete(spark, in.output.toString)
  }
}
