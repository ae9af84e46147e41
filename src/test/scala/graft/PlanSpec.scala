package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.Count
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions: the properties that make these
  * queries survive a 100x scale-up — filter pushdown to the parquet
  * scan, column pruning, broadcast joins for small dims, and two-phase
  * (partial+final) aggregation — verified against the executed plan, not
  * assumed.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.build("4")
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("suite-wide plan hygiene: no declared query ever plans a CartesianProduct") {
    // every crossJoin in the engine is against a broadcast one-row /
    // dimension frame (renders as BroadcastNestedLoopJoin); a true
    // CartesianProduct in ANY of the ~140 declared queries is a
    // scale bug by definition — pinned here as a suite invariant over
    // the EXECUTED (post-AQE) plans
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      df.foreach(_ => ())  // finalize AQE without collecting rows
      val p = df.queryExecution.executedPlan.toString
      if (p.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian plans in: ${offenders.mkString(", ")}")
  }

  test("join_anti pushes the price filter into the parquet scan") {
    val p = plan("join_anti")
    assert(p.contains("PushedFilters:") && p.contains("GreaterThan(o_totalprice,400000.0)"),
      s"filter not pushed:\n$p")
  }

  test("q1_agg prunes to the 6 referenced lineitem columns") {
    val p = plan("q1_agg")
    assert(!p.contains("l_shipdate") && !p.contains("l_partkey"),
      s"scan reads unreferenced columns:\n$p")
    assert(p.contains("l_returnflag"))
  }

  test("q5_join_agg broadcasts the small dimensions") {
    val p = plan("q5_join_agg")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
  }

  test("broadcast_join uses a broadcast hash join, not a shuffle join") {
    val p = plan("broadcast_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
  }

  test("q1_agg aggregates in two phases (map-side combine)") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum") || "HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation:\n$p")
  }

  test("q1_agg stays inside whole-stage codegen") {
    // AQE renders the final (codegen'd) plan only after execution
    val df = SparkEntry.queries("q1_agg")(spark, dir)
    df.collect()
    // codegen'd operators render with a "*(stageId)" prefix
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(") || p.contains("WholeStageCodegen"), s"no codegen spans:\n$p")
  }

  test("kmeans assignment is a shuffle-free codegen'd projection") {
    // the per-iteration Lloyd assignment: scan -> nearest_centroid_l2
    // with NO exchange — the property that keeps an iteration at one
    // corpus scan at any size
    val emb = Tables(spark, dir, "embeddings")
    val cents = Seq(Array(1L, 2L), Array(3L, 4L))
    val p = operators.Kmeans.assign(emb, "embedding", cents)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"assignment shuffles:\n$p")
    // the expression prettyName renders as the lowercased class name
    assert(p.contains("nearestcentroidl2"), s"expression not in plan:\n$p")
  }

  test("kmeans update aggregates in two phases (map-side combine)") {
    // the centroid update must combine map-side: each partition ships
    // one k·dim partial per cluster across the shuffle, never a row
    // per vector — mirror of fit()'s per-iteration plan
    val emb = Tables(spark, dir, "embeddings")
    import org.apache.spark.sql.functions._
    val p = operators.Kmeans.updateSums(
        operators.Kmeans.assignQ(
          emb.select(operators.Kmeans.quantize(col("embedding")).as("q")),
          col("q"), Seq(Array.fill(4)(0L), Array.fill(4)(1000000L))),
        dim = 4)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_longvecsum") || p.contains("partial_count"),
      s"no map-side combine:\n$p")
  }

  test("DSIR scoring is a shuffle-free projection over the corpus scan") {
    // λ rides as a literal array: hash + index + sum happen row-locally,
    // so scoring a 100 TB corpus is one embarrassingly-parallel scan
    val d = Tables(spark, dir, "documents")
    val p = operators.Dsir.importanceWeights(
        d, "doc_id", "text", Array.fill(64)(1L), 64)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"DSIR scoring shuffles:\n$p")
  }

  test("kmeans semDedup candidate pairs come from a cluster equi-join, never all-pairs") {
    val emb = Tables(spark, dir, "embeddings")
    val df = operators.Kmeans.semDedup(emb, "vec_id", "embedding",
      k = 4, iters = 1, threshold = 0.3)
    df.collect() // AQE renders the final plan after execution
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in semDedup plan:\n$p")
  }

  test("ANN-family mining lanes: candidate generation stays equi-join — no cartesian, no nested loop") {
    // hard_negatives / knn_classify ride the IVF index (ivfCandidates):
    // candidates come from the cell equi-join, so NOTHING in these
    // plans may be quadratic in the corpus — no CartesianProduct, no
    // BroadcastNestedLoopJoin, whatever the query-side size
    for (name <- Seq("hard_negatives", "knn_classify")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.foreach(_ => ())
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(!p.contains("CartesianProduct"), s"$name: cartesian plan:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name: nested-loop join:\n$p")
    }
    // hybrid_rrf's dense run is bruteForceTopK over a THREE-vector
    // query batch: its broadcast non-equi join legitimately plans as a
    // BroadcastNestedLoopJoin (bounded side broadcast) — pin only that
    // nothing plans a cartesian
    assert(!plan("hybrid_rrf").contains("CartesianProduct"),
      "hybrid_rrf: cartesian plan")
    // hard_negatives serves a bounded anchor batch: its probe list must
    // still broadcast onto the index scan (the probeIvf serving shape)
    val hn = plan("hard_negatives")
    assert(hn.contains("BroadcastExchange"),
      s"hard_negatives: probe list not broadcast:\n$hn")
    // hybrid_rrf-specific bound (not the old vacuous disjunct): the
    // ONLY sort-merge joins allowed are the k-bounded full-outer run
    // fusion — a corpus-sized side sorted into an SMJ would show as any
    // other join type here
    val rrf = SparkEntry.queries("hybrid_rrf")(spark, dir)
    rrf.foreach(_ => ())
    val rp = rrf.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val smj = rp.linesIterator.filter(_.contains("SortMergeJoin")).toSeq
    assert(smj.forall(_.contains("FullOuter")),
      s"non-fusion SortMergeJoin in hybrid_rrf:\n${smj.mkString("\n")}")
  }

  test("multimodal_entropy is a shuffle-free byte_hist projection") {
    // the oracle twin must not pay for its replayability: histogram,
    // integer core and fixed-order estimator are all row-local
    val df = SparkEntry.queries("multimodal_entropy")(spark, dir)
    df.foreach(_ => ())
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"entropy lane shuffles:\n$p")
    assert(p.toLowerCase.contains("bytehist"), s"byte_hist not in plan:\n$p")
  }

  test("substring dedup: owner election and rejoin stay hash equi-joins") {
    // the Lee-et-al lanes' only joins are the gram-hash equi-join
    // (first-occurrence rejoin) and the doc-keyed apply join — nothing
    // all-pairs, whatever the corpus size
    for (name <- Seq("substring_dedup", "substring_dedup_apply",
        "decontaminate_substring", "decontaminate_substring_apply")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.foreach(_ => ())
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(!p.contains("CartesianProduct"), s"$name: cartesian plan:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name: nested-loop join:\n$p")
    }
  }

  test("bitext_mine: equi-join candidates; margin stats reuse the persisted candidate sims") {
    val df = SparkEntry.queries("bitext_mine")(spark, dir)
    df.foreach(_ => ())
    val p = df.queryExecution.executedPlan.toString
    // candidate pairs come from the sign-LSH (t, cell) equi-join
    // (never a cross join — and never a codebook scan: assignment is a
    // pure projection), the candidate sim table is persisted once
    // (InMemoryTableScan) and feeds all four margin-tail consumers
    assert(!p.contains("CartesianProduct"), s"cartesian sims:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"all-pairs scoring:\n$p")
    assert(p.contains("InMemoryTableScan"), s"sim table not persisted/reused:\n$p")
  }

  test("embedding_abtt applies row-locally: the fitted component enters as a literal") {
    // fit runs driver-side on bounded collected moments BEFORE this
    // plan exists; the declared query's own plan is the apply — scan ->
    // project with the 64-double component inlined. Any Exchange here
    // would mean the projection shuffles the corpus at serving time.
    val p = plan("embedding_abtt")
    assert(!p.contains("Exchange"), s"apply plan shuffles:\n$p")
  }

  test("embedding_stats aggregates the exploded dims in two phases, one exchange") {
    val p = plan("embedding_stats")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no map-side combine:\n$p")
    assert("Exchange".r.findAllIn(p).size == 1, s"expected exactly one exchange:\n$p")
  }

  test("tfidf_topk windows per DOCUMENT, never a corpus-scale partition") {
    val p = plan("tfidf_topk")
    assert(p.contains("windowspecdefinition(doc_id"),
      s"ranking window not partitioned by doc:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"tf/df aggregations lost map-side combine:\n$p")
  }

  test("wordcount pre-aggregates before the shuffle") {
    val p = plan("wordcount")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no map-side combine:\n$p")
  }

  test("IVF cell assignment is a pure projection — no exchange between scan and cells") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val emb = Tables(spark, dir, "embeddings")
    val cb = Similarity.codebook(emb, "vec_id", "embedding", 16)
    for (rep <- Seq(1, 2)) {
      val assigned = Similarity.assignCells(
        emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding", cb, rep)
      assigned.collect()
      val p = assigned.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"cell assignment (rep=$rep) shuffles:\n$p")
      assert(!p.contains("Window"), s"window crept back in:\n$p")
    }
  }

  test("ANN top-k ranks through the bounded aggregator, not a per-query window") {
    val df = SparkEntry.queries("ann_cosine_topk")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"row_number window in ANN plan:\n$p")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"no aggregator-based ranking:\n$p")
    // partial + final: the map-side partial bounds what crosses the wire
    assert("partial_topkbyscore".r.findAllIn(p.toLowerCase).nonEmpty ||
      "ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation in top-k:\n$p")
  }

  test("bm25_topk scores row-locally: no join or window, bounded top-k aggregation") {
    val df = SparkEntry.queries("bm25_topk")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // stats ride in as literals; scoring must not join the corpus
    assert(!p.contains("Join"), s"join in the bm25 scoring plan:\n$p")
    assert(!p.contains("Window"), s"per-query window in bm25 plan:\n$p")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"no aggregator-based top-k:\n$p")
  }

  test("inverted_index postings stay bounded: aggregator, no collect_list or window") {
    val df = SparkEntry.queries("inverted_index")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("collect_list") && !p.contains("Window"),
      s"unbounded postings build:\n$p")
  }

  test("decontaminate_fuzzy stays equi-join: no cartesian or nested-loop anywhere") {
    val df = SparkEntry.queries("decontaminate_fuzzy")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"all-pairs in fuzzy decon:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"non-equi join:\n$p")
  }

  test("dedup_embedding_blocked joins only on (table, cell) — no all-pairs join") {
    val df = SparkEntry.queries("dedup_embedding_blocked")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"all-pairs join in blocked dedup:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in blocked dedup:\n$p")
    // the fused single-pass assignment: one base scan per join side —
    // not the 6-table union's scan-per-table-per-side (12 scans).
    // (AQE's toString repeats the tree under "== Initial Plan ==" —
    // count only the final section.)
    val finalP = p.split("== Initial Plan ==")(0)
    val scans = "Scan parquet".r.findAllIn(finalP).size
    assert(scans <= 2, s"blocked dedup should scan embeddings at most twice, got $scans:\n$finalP")
  }

  test("stratified_sample and topk_by_group rank through the bounded aggregator, not a window") {
    for (name <- Seq("stratified_sample", "topk_by_group")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Window"), s"$name: per-group window in plan:\n$p")
      assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
        s"$name: no aggregator-based ranking:\n$p")
    }
  }

  test("range_join_sessions plans as an equi-join on (key, bin), not a nested loop") {
    val df = SparkEntry.queries("range_join_sessions")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"naive inequality join in range-join plan:\n$p")
  }

  test("repetition_filter clusters its gram hashes on the doc id once: one exchange") {
    val df = SparkEntry.queries("repetition_filter")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the (id, h) rows shuffle once on doc_id; both downstream
    // aggregations cluster on (doc_id, …) supersets, so HashPartitioning
    // (doc_id) satisfies them and nothing reshuffles
    val n = "Exchange".r.findAllIn(p).length
    assert(n == 1, s"expected exactly 1 exchange, got $n:\n$p")
  }

  test("word-gram lanes build their grams inside the row: no lead() window in any plan") {
    val lanes = Seq("repetition_filter", "span_dedup", "span_dedup_apply", "substring_dedup",
      "substring_dedup_apply", "decontaminate_substring", "decontaminate_substring_apply",
      "dedup_minhash", "decontaminate", "fingerprint")
    for (name <- lanes) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.foreach(_ => ())
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("lead("), s"$name: a lead() token window in the plan:\n$p")
      if (name == "fingerprint") {
        val windows = PlanSpec.flat(df.queryExecution.executedPlan)
          .count(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec])
        assert(windows == 1, s"fingerprint should keep exactly its winnowing window:\n$p")
      }
    }
  }

  test("the row-local repetition gate filters inside the scan's stage: no Exchange, Window or Sort") {
    import org.apache.spark.sql.functions.col
    import graft.functions.WordShingles
    import graft.operators.Dedup
    val df = Tables(spark, dir, "documents")
      .filter(Dedup.repetitionGate(col("text"), 2, 0.08))
    df.foreach(_ => ())
    val p = df.queryExecution.executedPlan
    val nodes = PlanSpec.flat(p)
    assert(nodes.exists(n => n.isInstanceOf[FilterExec] &&
      n.expressions.exists(_.exists(_.isInstanceOf[WordShingles]))), s"no gate filter:\n$p")
    val shown = p.toString
    assert(!shown.contains("Exchange") && !shown.contains("Window") && !shown.contains("Sort"),
      s"the gate shuffles, windows or sorts:\n$shown")
  }

  test("span_dedup joins spans on the 60-bit hash only — equi-join, no text shuffle") {
    val df = SparkEntry.queries("span_dedup")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"span join must stay an equi-join:\n$p")
    // every exchange keys on doc_id or the 60-bit hash — never the span
    // string (the frequency pass and rejoin both key on `h`)
    val shuffles = "Exchange [^\\n]*".r.findAllIn(p).toSeq
    assert(shuffles.nonEmpty && shuffles.forall(!_.contains("sh#")),
      s"a shuffle partitions on span text:\n${shuffles.mkString("\n")}")
  }

  test("paragraph_dedup shuffles 128-bit hashes and doc ids — never paragraph text") {
    val df = SparkEntry.queries("paragraph_dedup")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"paragraph dedup must stay an equi-join:\n$p")
    // winner agg and loser rejoin key on (h1, h2); the rewrite join keys
    // on doc_id — no exchange may partition on the paragraph string
    val shuffles = "Exchange [^\\n]*".r.findAllIn(p).toSeq
    assert(shuffles.nonEmpty && shuffles.forall(!_.contains("para#")),
      s"a shuffle partitions on paragraph text:\n${shuffles.mkString("\n")}")
  }

  test("rolling_7d pays exactly one shuffle: the user partition feeds the range window") {
    val df = SparkEntry.queries("rolling_7d")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Exchange".r.findAllIn(p).size == 1,
      s"rolling_7d should shuffle once (by user_id):\n$p")
    assert(p.contains("Window"), s"rolling_7d lost its window:\n$p")
  }

  test("bloom_semi_join filters under the exchange: the shuffle carries survivors only") {
    val df = SparkEntry.queries("bloom_semi_join")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("LeftSemi"), s"missing semi join:\n$p")
    // the bloom predicate must reach the SCAN itself — ahead of any
    // exchange or join, whatever join strategy AQE picks at this
    // scale: the scan's DataFilters carry the UDF
    assert(p.linesIterator.exists(l =>
      l.contains("FileScan") && l.contains("DataFilters") && l.contains("UDF(")),
      s"bloom filter did not reach the scan's DataFilters:\n$p")
  }

  test("zorder_key is map-only: the interleave never shuffles") {
    // bounds ride in as literals (driver-collected artifact), so the
    // key projection itself must be one codegen'd scan pass
    val df = SparkEntry.queries("zorder_key")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("Exchange"), s"zorder_key shuffles:\n$p")
    // "*(n)" is the whole-stage-codegen stage marker in this rendering
    assert(p.contains("*(1) Project"), s"zorder_key left codegen:\n$p")
  }

  test("q3/q10 top-k rides TakeOrderedAndProject, never a global sort") {
    for (name <- Seq("q3_shipping", "q10_returns")) {
      val p = plan(name)
      assert(p.contains("TakeOrderedAndProject"),
        s"$name should TakeOrderedAndProject:\n$p")
      assert(!p.contains("Sort [revenue"), s"$name global-sorts:\n$p")
    }
  }

  test("q6_revenue pushes every predicate to the scan; no join anywhere") {
    val p = plan("q6_revenue")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"ship-date filter not pushed:\n$p")
    assert(!p.contains("Join"), s"q6 must be scan+filter+agg only:\n$p")
    assert(p.contains("partial"), s"no map-side combine:\n$p")
  }

  test("q10_returns broadcasts nation") {
    val p = plan("q10_returns")
    assert(p.contains("BroadcastHashJoin"), s"nation should broadcast:\n$p")
  }

  test("q18_large broadcasts the aggregated survivor set and top-ks without a global sort") {
    val p = plan("q18_large")
    assert(p.contains("BroadcastHashJoin"),
      s"the >200-qty order set should broadcast back:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"q18 should top-k:\n$p")
    assert(p.contains("partial"), s"quantity sum needs map-side combine:\n$p")
  }

  test("q14_promo pushes the shipdate month to the scan; conditional sum in one agg") {
    val p = plan("q14_promo")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"month filter not pushed:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"q14 must stay an equi-join:\n$p")
  }

  test("q7_volume broadcasts nation on both legs and stays equi-join") {
    val p = plan("q7_volume")
    assert(p.contains("BroadcastHashJoin"), s"nation should broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"q7 must stay an equi-join:\n$p")
  }

  test("snapshot_diff joins hash-narrow: no text column crosses an exchange") {
    val df = SparkEntry.queries("snapshot_diff")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"snapshot diff must stay an equi-join:\n$p")
    // both sides reduce to (id, md5, presence) BEFORE the full-outer
    // join — a shuffle carrying `text` would ship the whole crawl twice
    val shuffles = "Exchange [^\\n]*".r.findAllIn(p).toSeq
    assert(shuffles.nonEmpty && shuffles.forall(!_.contains("text#")),
      s"a shuffle carries document text:\n${shuffles.mkString("\n")}")
  }

  test("media dedup compositions shuffle hash-narrow: media bytes never cross an exchange") {
    // the scaladoc claim on audioDedup/videoDedup/imageDedup — the
    // decode kernels consume `content` per partition and emit narrow
    // fingerprint/digest rows, so no exchange in any of the three
    // compositions may carry the binary column (at 100 TB a content
    // shuffle IS the job cost)
    for (name <- Seq("media_dedup_e2e", "video_dedup_e2e", "image_dedup_e2e")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val shuffles = "Exchange [^\\n]*".r.findAllIn(p).toSeq
      assert(shuffles.nonEmpty && shuffles.forall(!_.contains("content#")),
        s"$name: a shuffle carries media bytes:\n${shuffles.mkString("\n")}")
      spark.catalog.clearCache()
    }
  }

  test("chunk_docs, mixture_sample, topic_assign, split_assign, multimodal_meta, jl_project are map-only: zero shuffles") {
    for (name <- Seq("chunk_docs", "mixture_sample", "topic_assign", "split_assign",
                     "multimodal_meta", "jl_project")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(!p.contains("Exchange"), s"$name should not shuffle:\n$p")
    }
  }

  test("scans prune to the projected columns (chunk_docs reads 2 of 5)") {
    val df = SparkEntry.queries("chunk_docs")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the documents table has (doc_id, text, lang, source, n_chars);
    // a 2-column projection must reach the parquet ReadSchema
    val schemas = "ReadSchema: [^\\n]*".r.findAllIn(p).toSeq
    assert(schemas.nonEmpty && schemas.forall(s =>
      s.contains("doc_id") && s.contains("text") &&
        !s.contains("lang") && !s.contains("n_chars")),
      s"scan not pruned to the projection:\n${schemas.mkString("\n")}")
  }

  test("decontaminate broadcasts the eval hashes; the corpus side never shuffles pre-agg") {
    val df = SparkEntry.queries("decontaminate")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"eval side should broadcast:\n$p")
  }

  test("rare_token_score broadcasts the vocabulary to the token stream") {
    val df = SparkEntry.queries("rare_token_score")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"df join not broadcast:\n$p")
  }

  test("asof_join is union-sort-carry: no join operator, bounded exchanges") {
    val df = SparkEntry.queries("asof_join")(spark, dir)
    df.collect()
    // AQE's toString prints final + initial plans; audit the final only
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("Join"), s"asof must not plan a join operator:\n$p")
    // one exchange for the right side's (key, ts) collapse + one for the
    // per-key window — nothing proportional to candidate pairs
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"too many shuffles in asof plan:\n$p")
  }

  test("pii_scan and normalize_text are map-only: zero shuffles, codegen'd") {
    for (name <- Seq("pii_scan", "normalize_text")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(!p.contains("Exchange"), s"$name should not shuffle:\n$p")
      assert(p.contains("*(") || p.contains("WholeStageCodegen"),
        s"$name fell out of codegen:\n$p")
    }
  }

  test("token_budget_sample shuffles once on (source, shard); no global sort") {
    val df = SparkEntry.queries("token_budget_sample")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Exchange".r.findAllIn(p).size == 1,
      s"expected exactly the window's partition exchange:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"budget prefix must not global-sort:\n$p")
  }

  test("writeShards' pre-write plan shuffles once; the shard sort is in-partition") {
    val df = graft.operators.Sampling
      .shardLanding(Tables(spark, dir, "documents"), "doc_id", shards = 4)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Exchange".r.findAllIn(p).size == 1,
      s"expected exactly the shard repartition exchange:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"shard landing must not global-sort:\n$p")
  }

  test("script_profile is map-only: zero shuffles, regex counters codegen'd") {
    val df = SparkEntry.queries("script_profile")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("Exchange"), s"script_profile should not shuffle:\n$p")
    assert(p.contains("*(") || p.contains("WholeStageCodegen"),
      s"script_profile fell out of codegen:\n$p")
  }

  test("url_canon aggregates in two phases after a map-only extract/canonicalize") {
    val df = SparkEntry.queries("url_canon")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Exchange".r.findAllIn(p).size == 1,
      s"expected only the count aggregation's exchange:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"URL counting must combine map-side:\n$p")
  }

  test("html_extract is map-only: zero shuffles at any crawl size") {
    val df = SparkEntry.queries("html_extract")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("Exchange"), s"html_extract should not shuffle:\n$p")
  }

  test("repetition_lines is map-only: distinct arithmetic inside the array") {
    val df = SparkEntry.queries("repetition_lines")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("Exchange"), s"repetition_lines should not shuffle:\n$p")
    assert(!p.contains("Generate"), s"line metrics must not explode:\n$p")
  }

  test("gopher_filter is map-only: all rule metrics ride one scan") {
    val df = SparkEntry.queries("gopher_filter")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("Exchange"), s"gopher_filter should not shuffle:\n$p")
  }

  test("badwords_filter is map-only: blocklist membership rides the scan") {
    val df = SparkEntry.queries("badwords_filter")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("Exchange"), s"badwords_filter should not shuffle:\n$p")
  }

  test("c4_line_filter is map-only: no explode, no shuffle, no rejoin") {
    val df = SparkEntry.queries("c4_line_filter")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("Exchange"), s"c4_line_filter should not shuffle:\n$p")
    assert(!p.contains("Generate"), s"line split must not explode:\n$p")
  }

  test("comp_ratio document path is map-only; law row rides a broadcast") {
    val df = SparkEntry.queries("comp_ratio")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the document lane must never shuffle; the only exchanges allowed
    // are the 3-sentinel law aggregate's SinglePartition collapse and
    // the broadcast that attaches its one law_ok row to every document
    assert(!p.contains("Exchange hashpartitioning"),
      s"comp_ratio document path should not shuffle:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"law row should attach via broadcast:\n$p")
    assert(p.contains("*(") || p.contains("WholeStageCodegen"),
      s"comp_ratio fell out of codegen:\n$p")
  }

  test("uniq_hll aggregates sketches in two phases at both rollup levels") {
    val df = SparkEntry.queries("uniq_hll")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // per-(type, day) sketch build and the per-type union each get
    // map-side partials: 4 ObjectHashAggregate operators for the
    // merged lane, plus 2 more for the direct (merge_exact_ok) lane
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 6,
      s"sketch aggregation not two-phase:\n$p")
    // three bounded lanes (merged, direct, exact countDistinct) + two
    // per-type joins: shuffle count stays a small constant — per-type
    // rows are ≤ |event_type| so every post-sketch exchange is tiny
    assert("Exchange".r.findAllIn(
      p.split("== Initial Plan ==")(0)).size <= 8,
      s"unexpected exchange growth:\n$p")
  }

  test("lm_score broadcasts the bigram table to the bigram stream") {
    val df = SparkEntry.queries("lm_score")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"bigram join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"token stream shuffled for the bigram join:\n$p")
  }

  test("quality_bins bins row-locally: no window, no join, single exchange for the cutoffs") {
    val df = SparkEntry.queries("quality_bins")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("Window"), s"ntile-style window in binning plan:\n$p")
    assert(!p.contains("Join"), s"cutoffs should ride as literals, not join:\n$p")
    // binning itself is a projection over the scan — no exchange at all
    // (the cutoff aggregation ran separately, as a bounded collect)
    assert(!p.contains("Exchange"), s"binning projection shuffles:\n$p")
  }

  test("knn_join joins only on (table, cell); ranks via bounded aggregator") {
    val df = SparkEntry.queries("knn_join")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in knn plan:\n$p")
    assert(!p.contains("Window"), s"per-query window in knn plan:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 2, s"knn should scan embeddings at most twice, got $scans:\n$p")
  }

  test("bpe_tokenize applies map-only: no exchange after the scan") {
    val df = SparkEntry.queries("bpe_tokenize")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("Exchange"), s"BPE apply should be map-only:\n$p")
  }

  test("pagerank_domains materializes edge invariants once: no source re-scan per round") {
    // e/nodes/deg are localCheckpointed before the iteration loop, so
    // the unrolled per-round plan joins executor-resident blocks — a
    // plan that still reads parquet would re-scan the raw table once
    // per round (linear-in-iters source I/O at 100 TB).
    val p = plan("pagerank_domains")
    assert(!p.toLowerCase.contains("parquet"),
      s"iteration plan re-scans the source table:\n${p.take(4000)}")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"expected checkpointed invariants in plan:\n${p.take(4000)}")
  }

  test("AQE splits a skewed sort-merge join at runtime (no manual salting)") {
    import org.apache.spark.sql.functions._
    val c = spark.conf
    val keys = Seq("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> c.getOption(k))
    try {
      // thresholds scaled to a test-sized fixture; the production path
      // is the same rule with production defaults
      c.set(keys(0), "128KB"); c.set(keys(1), "2")
      c.set(keys(2), "64KB"); c.set(keys(3), "-1")
      // high-entropy per-row padding: skew detection reads COMPRESSED
      // shuffle sizes, so constant padding would deflate below the
      // threshold and get coalesced instead
      def pad(salt: String) =
        concat(sha2(concat(col("id").cast("string"), lit(salt)), 256),
          sha2(concat(lit(salt), col("id").cast("string")), 256))
      // one hot key holding ~25% of all rows
      val left = spark.range(200000).select(
        when(col("id") % 4 === 0, 0L).otherwise(col("id") % 997).as("k"),
        pad("l").as("p"))
      val right = spark.range(0, 997).select(col("id").as("k"), pad("r").as("q"))
      // execute and inspect the SAME QueryExecution; the aggregate must
      // CONSUME the payload columns or pruning strips them and the
      // shuffle partitions are too small to register as skewed
      val joined = left.join(right, "k")
        .agg(count(lit(1)).as("n"),
          sum(length(col("p")) + length(col("q"))).as("bytes"))
      assert(joined.collect().head.getLong(0) == 200000L)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not split the skewed partition:\n${p.take(4000)}")
    } finally saved.foreach {
      case (k, Some(v)) => c.set(k, v)
      case (k, None) => c.unset(k)
    }
  }

  test("bucketed tables join without a shuffle (CompositeInputFormat analog)") {
    // The reference's map-side join needs co-partitioned, sorted inputs
    // (CompositeInputFormat.java:59-96); the Spark analog is bucketed
    // tables, which sort-merge join with NO Exchange on either side.
    import org.apache.spark.sql.functions._
    // default warehouse (./spark-warehouse, gitignored): warehouse.dir
    // is a static conf and the suite session already exists. The dir
    // outlives the metastore (fresh per JVM), so clear both.
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lines")
    for (t <- Seq("b_orders", "b_lines"))
      org.apache.hadoop.fs.FileUtil.fullyDelete(
        new java.io.File(s"spark-warehouse/$t"))
    Tables(spark, dir, "orders")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lines")
    val joined = spark.table("b_lines")
      .join(spark.table("b_orders").hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
    assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
  }

  test("quantile_stats windows over the value-count table, never raw rows") {
    val p = plan("quantile_stats")
    // printed top-down: the percentile fan-out (Generate) and the
    // cumulative Window must sit ABOVE the value-count HashAggregate —
    // per-group window input is #distinct-values rows, not #docs
    assert(p.contains("Window"), s"no window:\n$p")
    assert(p.indexOf("Window") < p.indexOf("HashAggregate"),
      s"window runs below the value-count aggregate:\n$p")
    assert(p.indexOf("Generate") < p.indexOf("HashAggregate"),
      s"percentile fan-out below the aggregate (explodes raw rows):\n$p")
    // two-phase value-count: partial rides the token scan (sum(1) since
    // the weighted generalization; count(1) before it)
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"no map-side combine:\n$p")
  }

  test("quantile_sketch windows over the bounded bucket histogram, never raw rows") {
    val p = plan("quantile_sketch")
    // same discipline as quantile_stats, with the log-bucket projection
    // riding the scan: the window input is <= ~976 buckets per group
    assert(p.contains("Window"), s"no window:\n$p")
    assert(p.indexOf("Window") < p.indexOf("HashAggregate"),
      s"window runs below the bucket-count aggregate:\n$p")
    assert(p.indexOf("Generate") < p.indexOf("HashAggregate"),
      s"percentile fan-out below the aggregate (explodes raw rows):\n$p")
    assert(p.contains("partial_count"), s"no map-side combine:\n$p")
  }

  test("heavy_hitters verify pass: candidate filter before one count shuffle") {
    val p = plan("heavy_hitters")
    // the exact pass shuffles only candidate occurrences: the IN filter
    // sits below the partial aggregate, and the single Exchange carries
    // <= k distinct keys
    // >10 candidates optimize to the hash-set form, rendered INSET
    assert(p.contains(" INSET "), s"no candidate filter:\n$p")
    assert(p.indexOf("HashAggregate") < p.indexOf(" INSET "),
      s"filter above the aggregate:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$p")
    assert(p.contains("partial_count"), s"no map-side combine:\n$p")
  }

  test("multi_match is map-only: one automaton pass, zero shuffles") {
    val p = plan("multi_match")
    assert(!p.contains("Exchange"), s"multi_match shuffles:\n$p")
    assert(p.contains("multimatchcounts"), s"expression not in plan:\n$p")
  }

  test("template_strip strips map-only: hot lines ride as a broadcast literal") {
    // the df pass collects the bounded hot set at plan-build time; the
    // RETURNED plan is the strip itself — one projection over the scan,
    // document text never shuffles
    val p = plan("template_strip")
    assert(!p.contains("Exchange"), s"strip shuffles:\n$p")
  }

  test("heavy_hitters_by_source aggregates the token stream once") {
    // tallies and candidate explode both derive from the persisted
    // grouped-MG summaries: the token-stream UDAF aggregation must hit
    // the cache in both branches, never re-run
    val df = SparkEntry.queries("heavy_hitters_by_source")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val cacheHits = "InMemoryTableScan".r.findAllIn(p).size
    assert(cacheHits >= 2, s"only $cacheHits summary-cache reads:\n$p")
    assert(p.contains("partial_count"), s"verify pass lacks map-side combine:\n$p")
  }

  test("collocations derives all counts from one persisted bigram table") {
    // heads/tails/total re-aggregate the (w1,w2,c12) cache and broadcast
    // back onto it: the corpus bigram explode (Generate) happens in the
    // ONE plan branch that builds the cache, never per count table
    val df = SparkEntry.queries("collocations")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // all four consumers (filtered pairs, heads, tails, total) read the
    // cache — the explode executes once inside the single materialization
    // (each branch PRINTS the cached subtree, so count cache hits, not
    // Generate occurrences)
    val cacheHits = "InMemoryTableScan".r.findAllIn(p).size
    assert(cacheHits >= 4, s"only $cacheHits branches read the bigram cache:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"count tables not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"vocab-sized join shuffled:\n$p")
  }

  test("minhash index build, append and probe sign each row once: no Window, Sort or Exchange under the kernel") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.functions.MinhashSignature
    import graft.operators.Dedup
    import spark.implicits._
    // parquet inputs, as in a real build: a local relation would let the
    // optimizer fold the kernel away before any plan runs it
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-minhash").toString
    try {
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2L, "completely different text about another subject entirely unrelated here"),
        (3L, "one more unrelated corpus document body with its own words inside")
      ).toDF("doc_id", "text").write.parquet(s"$dir/corpus")
      Seq((10L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        (11L, "fresh never seen content sharing nothing with the existing corpus")
      ).toDF("doc_id", "text").write.parquet(s"$dir/batch")
      val (corpus, batch, index) =
        (spark.read.parquet(s"$dir/corpus"), spark.read.parquet(s"$dir/batch"), s"$dir/index")
      val actions = Seq[(String, () => Unit)](
        "build and save" -> (() => Dedup.saveMinhashIndex(
          Dedup.buildMinhashIndex(corpus, "doc_id", "text", 3, 16, 4), index, "doc_id")),
        "probe" -> (() => Dedup.probeMinhashIndex(batch, "doc_id", "text",
          Dedup.loadMinhashIndex(spark, index), threshold = 0.5).collect()),
        "append" -> (() => Dedup.appendMinhashIndex(spark, index, batch, "doc_id", "text")))
      for ((name, run) <- actions) {
        val plans = PlanSpec.actionPlans(spark)(run()).map(_._2)
        val shown = plans.map(_.head.treeString).mkString("\n")
        val signing = plans.flatten.filter(_.expressions.exists(_.exists(_.isInstanceOf[MinhashSignature])))
        assert(signing.nonEmpty, s"$name: no minhash_signature projection:\n$shown")
        assert(!signing.exists(_.isInstanceOf[FilterExec]), s"$name: a filter signs rows twice:\n$shown")
        signing.foreach { p =>
          val below = p.children.flatMap(PlanSpec.flat)
          assert(!below.exists(n => n.isInstanceOf[WindowExec] || n.isInstanceOf[SortExec] ||
            n.isInstanceOf[Exchange]), s"$name: a window, sort or exchange under the kernel:\n$shown")
        }
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  /** The key census under a join side: a count-only aggregate, reached
    * through unary nodes with a filter on its count on the way.
    */
  private def census(side: SparkPlan, filtered: Boolean = false): Option[SparkPlan] =
    side match {
      case a: AdaptiveSparkPlanExec => census(a.executedPlan, filtered)
      case q: QueryStageExec        => census(q.plan, filtered)
      case r: ReusedExchangeExec    => census(r.child, filtered)
      case f: FilterExec            => census(f.child, filtered = true)
      case a: BaseAggregateExec =>
        Some(a).filter(_ => filtered && a.aggregateExpressions.nonEmpty &&
          a.aggregateExpressions.forall(_.aggregateFunction.isInstanceOf[Count]))
      case u: UnaryExecNode => census(u.child, filtered)
      case _                => None
    }

  test("hot-bucket caps: one broadcast anti-join against the hot list per capped table; equi-join candidates") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    // every fixture plants a group past the cap beside groups under it,
    // so the hot list and the capped table are both non-empty and AQE
    // keeps the anti-join and the candidate join in the final plan
    val docs = ((1 to 3).map(i =>
        (100L + i, "the same boilerplate navigation footer page body repeated across mirrors")) ++
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        (3L, "completely different text about another subject entirely unrelated here")))
      .toDF("doc_id", "text")
    val media = Seq((200L, "x"), (9L, "x"), (309L, "x")).toDF("doc_id", "text")
    // three byte-identical uploads of doc 200 and an extract of doc 309
    val audio = (1 to 3).map(i => Multimodal.fabricateAudio(
        media.filter($"doc_id" === 200L), idOffset = i * 1000L))
      .foldLeft(Multimodal.fabricateAudio(media))(_ unionByName _)
      .unionByName(Multimodal.fabricateAudio(media.filter($"doc_id" === 309L),
        idOffset = 10000L, startFrame = 128))
    // a still catalog holding three byte-identical uploads of doc 1
    val catalog = Seq((1L, "x"), (2L, "x"), (3L, "x")).toDF("doc_id", "text")
    val stills = Multimodal.buildImageSigIndex((1 to 3).map(i =>
        Multimodal.fabricateStillImages(catalog.filter($"doc_id" === 1L), idOffset = i * 1000L))
      .foldLeft(Multimodal.fabricateStillImages(catalog))(_ unionByName _))
    val query = Multimodal.fabricateStillImages(
      Seq((2L, "x")).toDF("doc_id", "text"), idOffset = 10000L, fmt = "bmp")
    val vecs = ((0 until 20).map(i => (i.toLong, Seq.fill(8)(1.0f))) ++
      (0 until 40).map(i => (100L + i, (0 until 8).map(d => math.sin(i * 8 + d).toFloat))))
      .toDF("vec_id", "embedding")
    val families = Seq[(String, () => Unit)](
      "minhashCandidates" -> (() => operators.Dedup.minhashCandidates(
        operators.Dedup.shingleTable(docs, "doc_id", "text", 3), "doc_id", 16, 4,
        maxBucket = 2).collect()),
      "simhashPairs" -> (() => operators.Dedup.simhashPairs(
        operators.Dedup.simhash(docs, "doc_id", "text"), "doc_id", maxBucket = 2).collect()),
      "audioClipAlign" -> (() =>
        Multimodal.audioClipAlign(audio, minSupport = 2, maxBucket = 2).collect()),
      "probeImageSigIndex" -> (() =>
        Multimodal.probeImageSigIndex(stills, query, maxBucket = 2).collect()),
      "cosinePairsLsh" -> (() => operators.Similarity.cosinePairsLsh(vecs, "vec_id",
        "embedding", threshold = 0.99, nCells = 16, rep = 2, tables = 3,
        maxBucket = 10).collect()))
    for ((name, run) <- families) {
      val plans = PlanSpec.actionPlans(spark)(run()).map(_._2)
      spark.catalog.clearCache()
      val joins = plans.flatten.collect { case j: BaseJoinExec => j }
      val shown = plans.map(_.head.treeString).mkString("\n")
      val fed = joins.filter(j => census(j.left).isDefined || census(j.right).isDefined)
      assert(fed.nonEmpty, s"$name: no hot-list anti-join:\n$shown")
      fed.foreach { j =>
        assert(j.joinType == LeftAnti && census(j.left).isEmpty, s"$name: " +
          s"a ${j.joinType} join takes a key census as a side:\n$shown")
        assert(j.isInstanceOf[BroadcastHashJoinExec] &&
            j.asInstanceOf[BroadcastHashJoinExec].buildSide == BuildRight,
          s"$name: the hot list is not broadcast:\n$shown")
      }
      // both sides of a self-join may compute one table's census; AQE
      // wraps each reference to a cached table in its own stage, so
      // compare the censuses with the stages unwrapped
      val censuses = fed.flatMap(j => census(j.right)).map(_.transformDown {
        case q: QueryStageExec     => q.plan
        case r: ReusedExchangeExec => r.child
      }.canonicalized).distinct
      assert(censuses.size == 1, s"$name: ${censuses.size} hot-key censuses:\n$shown")
      assert(joins.exists(j => j.joinType == Inner &&
          (j.isInstanceOf[HashJoin] || j.isInstanceOf[SortMergeJoinExec])),
        s"$name: no equi-join candidates:\n$shown")
      assert(!joins.exists(j => j.isInstanceOf[BroadcastNestedLoopJoinExec] ||
        j.isInstanceOf[CartesianProductExec]), s"$name: a non-equi join:\n$shown")
    }
  }
}

object PlanSpec {
  /** Every SQL action `body` runs, eager pins included, as (action
    * name, final executed plan flattened through AQE stages and reused
    * exchanges).
    */
  def actionPlans(spark: SparkSession)(body: => Unit): Seq[(String, Seq[SparkPlan])] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add((f, qe.executedPlan))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; org.apache.spark.GraftCoreShim.drainListenerBus(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    plans.asScala.toSeq.map { case (f, p) => (f, flat(p)) }
  }

  def flat(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flat(a.executedPlan)
    case q: QueryStageExec        => flat(q.plan)
    case r: ReusedExchangeExec    => flat(r.child)
    case _                        => p +: p.children.flatMap(flat)
  }
}
