package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.functions.Aggregators

/** Unit specs for the operator library (layer-1 of SURVEY §5's test
  * strategy) on in-memory fixtures — the DuckDB oracle covers layer 3.
  */
class OperatorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.build("4")
  import spark.implicits._

  test("SparkEntry contract: every oracle key names a declared query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"stale oracle keys (typo'd key silently " +
      s"downgrades its query to rows-only): ${o.diff(q)}")
    // the intentional no-oracle rows — terasort self-validates, DuckDB
    // exposes no zlib for comp_ratio, HLL estimates are
    // implementation-specific (Spark's DataSketches lane; merge/error
    // properties spec'd; the uniq_hll_portable twin IS fully oracled)
    // — and ONLY those. Graduations: ann_ivf_topk in r8 (integer
    // k-means trainer), bpe_tokenize in r9 (the merge loop and the
    // encoder replay as recursive CTEs), decontaminate_bloom in r9
    // (Spark's BloomFilter is Murmur3_x86_32 double hashing — 32-bit
    // arithmetic the oracle emulates exactly, false positives
    // included), multimodal_entropy in r10 (relational histogram +
    // fixed-order log2 estimator, the uniq_hll_portable discipline).
    assert(q.diff(o) == Set("terasort", "comp_ratio", "uniq_hll"),
      s"rows-only query set drifted: ${q.diff(o)}")
    // no duplicate keys across modules (flatMap(...).toMap is
    // last-wins: a name collision would silently shadow a query)
    val allQ = SparkEntry.modules.flatMap(_.queries.keys)
    val allO = SparkEntry.modules.flatMap(_.oracleSql.keys)
    assert(allQ.size == q.size,
      s"duplicate query keys: ${allQ.groupBy(identity).collect { case (k, v) if v.size > 1 => k }}")
    assert(allO.size == o.size,
      s"duplicate oracle keys: ${allO.groupBy(identity).collect { case (k, v) if v.size > 1 => k }}")
  }

  test("FieldSelection parses singles, ranges and open ranges") {
    val (k, v) = FieldSelection.parseSpec("4,3,0,1:6,5,1-3,7-")
    assert(k == Seq(FieldSelection.Single(4), FieldSelection.Single(3),
      FieldSelection.Single(0), FieldSelection.Single(1)))
    assert(v == Seq(FieldSelection.Single(6), FieldSelection.Single(5),
      FieldSelection.Range(1, Some(3)), FieldSelection.Range(7, None)))
  }

  test("FieldSelection projects and skips missing fields") {
    val df = Seq("a-b-c-d-e", "x-y").toDF("line")
    val out = FieldSelection(df, col("line"), "1,0:2-", "-")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(("b-a", "c-d-e"), ("y-x", "")))
  }

  test("CompositeJoin.overrideJoin takes the rightmost source per key") {
    val s1 = Seq((1, "a1"), (2, "a2")).toDF("k", "v")
    val s2 = Seq((2, "b2"), (3, "b3")).toDF("k", "v")
    val s3 = Seq((3, "c3")).toDF("k", "v")
    val out = CompositeJoin.overrideJoin("k", Seq("v"), Seq(s1, s2, s3))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(out == Set((1, "a1"), (2, "b2"), (3, "c3")))
  }

  test("CompositeJoin.multiFilter emits one value per composite tuple") {
    val s1 = Seq((1, "a1"), (2, "a2")).toDF("k", "v")
    val s2 = Seq((2, "b2"), (3, "b3")).toDF("k", "v")
    // OverrideRecordReader's emit — prefer the rightmost written slot
    val out = CompositeJoin.multiFilter("k", Seq(s1, s2),
      ts => coalesce(ts.reverse.map(_.getField("v")): _*))
      .as[(Int, String)].collect().toSet
    assert(out == Set((1, "a1"), (2, "b2"), (3, "b3")))
    // a custom emit sees every slot (NULL where the source lacks the key)
    val n = CompositeJoin.multiFilter("k", Seq(s1, s2),
      ts => ts.map(t => when(t.isNull, 0).otherwise(1)).reduce(_ + _))
      .as[(Int, Int)].collect().toMap
    assert(n == Map(1 -> 1, 2 -> 2, 3 -> 1))
  }

  test("KeyFieldSpec.partitionKey co-locates rows with equal subkeys") {
    val df = spark.range(2000).select(
      concat(col("id").cast("string"), lit(" "),
        (col("id") % 13).cast("string"), lit(" tail")).as("line"))
    val arr = split(col("line"), " ")
    val parted = df.repartition(7, KeyFieldSpec.partitionKey(arr, "-k2,2", " "))
    val spread = parted
      .select(element_at(split(col("line"), " "), 2).as("sub"),
        org.apache.spark.sql.functions.spark_partition_id().as("pid"))
      .groupBy("sub").agg(countDistinct(col("pid")).as("nparts"))
      .agg(max(col("nparts"))).head().getLong(0)
    assert(spread == 1L, "equal subkeys landed in different partitions")
  }

  test("CompositeJoin inner requires all sources, outer keeps any") {
    val s1 = Seq((1, "a"), (2, "a")).toDF("k", "v1")
    val s2 = Seq((2, "b"), (3, "b")).toDF("k", "v2")
    assert(CompositeJoin.inner("k", Seq(s1, s2)).select("k").as[Int].collect().toSet == Set(2))
    assert(CompositeJoin.outer("k", Seq(s1, s2)).select("k").as[Int].collect().toSet == Set(1, 2, 3))
  }

  test("TotalOrderSort.withRank assigns contiguous global ranks") {
    val df = spark.range(1000).select((col("id") * 37 % 1000).as("x"))
    val ranked = TotalOrderSort.withRank(df, 8, "rnk", col("x"))
    val rows = ranked.orderBy("rnk").collect()
    assert(rows.map(_.getLong(1)).toSeq == (1L to 1000L))
    val xs = rows.map(_.getLong(0))
    assert(xs.zip(xs.tail).forall { case (a, b) => a <= b })
  }

  test("SecondarySort.clustered groups contiguously in secondary order") {
    val df = Seq((1, 3), (2, 1), (1, 1), (2, 2), (1, 2)).toDF("k", "v")
    val parts = SecondarySort.clustered(df, 2, Seq(col("k")), Seq(col("v")))
      .select("k", "v").as[(Int, Int)]
      .mapPartitions(it => Iterator(it.toSeq)).collect()
    for (p <- parts; grp <- p.groupBy(_._1).values) {
      val vs = grp.map(_._2)
      assert(vs == vs.sorted)
    }
    // each key appears in exactly one partition
    val keysPerPart = parts.map(_.map(_._1).toSet)
    assert(keysPerPart.flatten.length == keysPerPart.map(_.size).sum)
  }

  test("CappedDistinct reports min(distinct, cap)") {
    val df = spark.range(100).select((col("id") % 30).as("v"), lit(1).as("g"))
    val out = df.groupBy("g").agg(
      Aggregators.cappedDistinct(col("v"), 10).as("c10"),
      Aggregators.cappedDistinct(col("v"), 50).as("c50"))
      .collect().head
    assert(out.getLong(1) == 10L)
    assert(out.getLong(2) == 30L)
  }

  test("Sketches: HLL rollup is deterministic and within the lgK error bound") {
    import graft.operators.Sketches
    // 5000 values across 4 groups, sharded 8 ways. Union is NOT
    // register-identical to a single pass (DataSketches sparse-mode
    // promotion differs under merge), so both lanes are held to the
    // same error bound and to agreement with each other within it.
    val df = spark.range(5000).select(
      (col("id") % 4).as("g"), (col("id") % 8).as("shard"),
      (col("id") % 1234).as("v"))
    val oneLevel = Sketches.distinctEstimate(df, col("v"), lgK = 12, "g")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def rollup() = Sketches.mergeEstimate(
      Sketches.distinctSketch(df, col("v"), lgK = 12, "g", "shard"), "g")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val twoLevel = rollup()
    assert(twoLevel == rollup(), "sketch rollup must be deterministic")
    // error bound: ~1.04/sqrt(2^12) ≈ 1.6%; allow 5% slack
    val exact = df.groupBy("g").agg(countDistinct(col("v")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    exact.foreach { case (g, n) =>
      assert(math.abs(twoLevel(g) - n).toDouble / n < 0.05,
        s"rollup group $g: est ${twoLevel(g)} vs exact $n")
      assert(math.abs(oneLevel(g) - n).toDouble / n < 0.05,
        s"one-pass group $g: est ${oneLevel(g)} vs exact $n")
      assert(math.abs(oneLevel(g) - twoLevel(g)).toDouble / n < 0.05,
        s"lanes disagree for $g: ${oneLevel(g)} vs ${twoLevel(g)}")
    }
  }

  test("Dedup.jaccardPairs stop-shingle cap bounds candidates on skewed data") {
    // 200 docs all sharing one hot phrase (a boilerplate header) + one
    // planted near-dup pair with distinctive content
    val boiler = "terms of service apply to all users of this site"
    val docs = ((0 until 200).map { i =>
      (i.toLong, s"$boiler document number $i body ${"x" + i} ${"y" + i} ${"z" + i}")
    } ++ Seq(
      (900L, s"unique alpha beta gamma delta epsilon zeta eta theta"),
      (901L, s"unique alpha beta gamma delta epsilon zeta eta iota")))
      .toDF("doc_id", "text")
    val sh = Dedup.shingleTable(docs, "doc_id", "text", 3)
    // unbounded: every boilerplate shingle pairs all 200 docs
    val unbounded = Dedup.jaccardPairs(sh, "doc_id", 0.0).count()
    // capped: hot shingles (df > 20) never reach the self-join
    val capped = Dedup.jaccardPairs(sh, "doc_id", 0.0, maxDf = 20)
    assert(unbounded > 19000, s"skew fixture should explode unbounded: $unbounded")
    assert(capped.count() < 100, s"cap failed to bound candidates: ${capped.count()}")
    // the planted near-dup survives the cap with high jaccard
    val dup = Dedup.jaccardPairs(sh, "doc_id", 0.5, maxDf = 20)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(dup.contains((900L, 901L)), s"planted dup lost: $dup")
  }

  test("Dedup.simhashPairs banding finds every pair within maxDist (pigeonhole)") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val sig = Dedup.simhash(docs, "doc_id", "text")
    val banded = Dedup.simhashPairs(sig, "doc_id", maxDist = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // brute force over all signature pairs
    val sigs = sig.as[(Long, String)].collect()
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      if sa.zip(sb).count { case (x, y) => x != y } <= 3
    } yield (a, b)).toSet
    assert(banded == brute, s"banding missed ${brute.diff(banded)} / invented ${banded.diff(brute)}")
    assert(brute.nonEmpty, "fixture should contain simhash near-dups")
    // a single 64-bit band would overflow conv(...,2,10).cast(long) for
    // signatures with the top bit set — rejected up front
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(sig, "doc_id", maxDist = 0, nBands = 1)
    }
  }

  test("Dedup.minhash candidates cover all high-jaccard pairs (recall)") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val sh = Dedup.shingleTable(docs, "doc_id", "text", 3)
    val exact = Dedup.jaccardPairs(sh, "doc_id", 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val cand = Dedup.minhashCandidates(sh, "doc_id", 16, 4)
      .as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    val recall = exact.intersect(cand).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall too low; missed ${exact.diff(cand)}")
  }

  test("Dedup LSH band joins: maxBucket bounds candidates on an exact-dup-heavy corpus") {
    // the web-corpus norm the cap guards against: one boilerplate page
    // duplicated en masse puts identical signatures in one band bucket,
    // and the band self-join would emit O(dups²) candidates
    val boiler = (1 to 10000).map(i =>
      (100000L + i, "the same boilerplate navigation footer page body repeated across mirrors"))
    val planted = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "completely different text about another subject entirely unrelated here"))
    val df = (boiler ++ planted).toDF("doc_id", "text")

    // minhash lane: capped candidates exclude the boilerplate cross
    // product but keep the planted near-dup pair
    val sh = Dedup.shingleTable(df, "doc_id", "text", 3)
    val capped = Dedup.minhashCandidates(sh, "doc_id", 16, 4, maxBucket = 100)
      .as[(Long, Long)].collect().toSet
    assert(capped.contains((1L, 2L)), s"planted near-dup lost under cap: $capped")
    assert(capped.size < 100, s"cap failed to bound candidates: ${capped.size}")
    assert(!capped.exists { case (a, b) => a > 100000L && b > 100000L },
      "boilerplate dup pairs should be capped out (handled by exact dedup)")

    // simhash lane: same bound (identical sigs share every band bucket)
    val sig = Dedup.simhash(df, "doc_id", "text")
    val sp = Dedup.simhashPairs(sig, "doc_id", maxDist = 3, maxBucket = 100)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(sp.size < 100, s"simhash cap failed to bound candidates: ${sp.size}")
    assert(!sp.exists { case (a, b) => a > 100000L && b > 100000L },
      "boilerplate dup pairs should be capped out of the simhash band join")

    // contrast at a size where the uncapped join is still runnable:
    // 500 copies -> the uncapped band join emits the full dup cross
    // product (124,750 pairs), the capped one none of it
    val small = ((1 to 500).map(i =>
      (200000L + i, "another boilerplate body shared verbatim by many pages")) ++ planted)
      .toDF("doc_id", "text")
    val shS = Dedup.shingleTable(small, "doc_id", "text", 3)
    val un = Dedup.minhashCandidates(shS, "doc_id", 16, 4).count()
    val cp = Dedup.minhashCandidates(shS, "doc_id", 16, 4, maxBucket = 100).count()
    assert(un > 124000L, s"uncapped join should emit the dup cross product: $un")
    assert(cp < 100L, s"capped join should exclude it: $cp")
  }

  test("Dedup.nearDuplicatesExactFirst collapses dup groups before banding (lossless guard)") {
    val boiler = (1 to 500).map(i =>
      (200000L + i, "another boilerplate body shared verbatim by many pages"))
    val planted = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "completely different text about another subject entirely unrelated here"))
    val df = (boiler ++ planted).toDF("doc_id", "text")
    val out = Dedup.nearDuplicatesExactFirst(df, "doc_id", "text",
      k = 3, numPerm = 16, rowsPerBand = 4, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // the 500-copy group contributes ONE representative, so no dup-group
    // pairs ride the band join; the planted near-dup pair survives
    assert(out == Set((1L, 2L)), s"expected only the planted pair: $out")
    // the dup group's own pairs are exact's business: keep_id + n_dups
    val groups = Dedup.exact(df, "doc_id", "text")
      .filter(col("n_dups") > 1).select("keep_id", "n_dups")
      .as[(Long, Long)].collect().toSeq
    assert(groups == Seq((200001L, 500L)))
  }

  test("Dedup.probeMinhashIndex flags batch near-dups against a persisted index") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (20L, "completely different text about another subject entirely unrelated here"),
      (30L, "one more unrelated corpus document body with its own words inside")
    ).toDF("doc_id", "text")
    val batch = Seq(
      // exact copy of corpus doc 10 -> all 16 slots agree
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // near-dup of corpus doc 10 (one token changed)
      (102L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      // novel document -> no candidate
      (103L, "fresh never seen content sharing nothing with the existing corpus")
    ).toDF("doc_id", "text")
    val idx = Dedup.buildMinhashIndex(corpus, "doc_id", "text",
      k = 3, numPerm = 16, rowsPerBand = 4)

    // the index is a persistable ARTIFACT: save/load round trip, then
    // probe the restored index — the operational contract (build once,
    // probe every future batch)
    val dir = java.nio.file.Files.createTempDirectory("mhidx").toString
    try {
      Dedup.saveMinhashIndex(idx, dir, "doc_id")
      val restored = Dedup.loadMinhashIndex(spark, dir)
      assert(restored.k == idx.k && restored.numPerm == idx.numPerm &&
        restored.rowsPerBand == idx.rowsPerBand)

      for (ix <- Seq(idx, restored)) {
        val hits = Dedup.probeMinhashIndex(batch, "doc_id", "text", ix,
            threshold = 0.5, materialize = true)
          .select("new_id", "corpus_id", "n_agree")
          .as[(Long, Long, Long)].collect().toSet
        assert(hits.contains((101L, 10L, 16L)),
          s"exact copy should agree on all 16 slots: $hits")
        assert(hits.exists { case (n, c, a) => n == 102L && c == 10L && a >= 8L },
          s"near-dup should clear the 0.5 agreement threshold: $hits")
        assert(!hits.exists(_._1 == 103L), s"novel doc must not match: $hits")
        assert(!hits.exists(h => h._2 == 20L || h._2 == 30L),
          s"unrelated corpus docs must not match: $hits")
      }

      // the daily-crawl APPEND: accepted batch docs join the saved index
      // without a rebuild, and the extended index equals a fresh build
      // over the union (signatures/banding are deterministic)
      Dedup.appendMinhashIndex(spark, dir, batch.filter(col("doc_id") === 103L),
        "doc_id", "text")
      val extended = Dedup.loadMinhashIndex(spark, dir)
      val probe2 = Seq((201L,
        "fresh never seen content sharing nothing with the existing corpus"))
        .toDF("doc_id", "text")
      val hits2 = Dedup.probeMinhashIndex(probe2, "doc_id", "text", extended,
          threshold = 0.5)
        .select("new_id", "corpus_id", "n_agree")
        .as[(Long, Long, Long)].collect().toSet
      assert(hits2.contains((201L, 103L, 16L)),
        s"re-crawl of an appended doc must flag against it: $hits2")
      val fresh = Dedup.buildMinhashIndex(
        corpus.unionByName(batch.filter(col("doc_id") === 103L)),
        "doc_id", "text", k = 3, numPerm = 16, rowsPerBand = 4)
      assert(extended.signatures.orderBy("doc_id").collect().toSeq ==
        fresh.signatures.orderBy("doc_id").collect().toSeq,
        "appended index must equal the fresh union build")

      // a crashed-append RETRY re-appends the same batch: load must dedup
      // so the probe neither duplicates hits nor changes the result
      Dedup.appendMinhashIndex(spark, dir, batch.filter(col("doc_id") === 103L),
        "doc_id", "text")
      val retried = Dedup.loadMinhashIndex(spark, dir)
      assert(retried.signatures.count() == fresh.signatures.count(),
        "retried append must collapse to one signature row per doc")
      val hits3 = Dedup.probeMinhashIndex(probe2, "doc_id", "text", retried,
          threshold = 0.5)
        .select("new_id", "corpus_id", "n_agree")
        .as[(Long, Long, Long)].collect().toSeq
      assert(hits3.size == hits3.distinct.size && hits3.toSet == hits2,
        s"retry must not duplicate or change hits: $hits3")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("Similarity IVF index save/load round trip probes identically") {
    import graft.operators.Similarity
    val base = (0L until 60L).toSeq.map(i =>
      (i, Array.tabulate(8)(d => ((i * 7 + d * 3) % 13).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = (100L until 104L).toSeq.map(i =>
      (i, Array.tabulate(8)(d => ((i + d) % 11).toFloat)))
      .toDF("vec_id", "embedding")
    val (cb, assigned) = Similarity.buildIvfIndex(base, "vec_id", "embedding",
      nCells = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    try {
      Similarity.saveIvfIndex(cb, assigned, dir)
      val (cb2, assigned2) = Similarity.loadIvfIndex(spark, dir)
      assert(cb2.map { case (c, v) => (c, v.toSeq) } ==
        cb.sortBy(_._1).map { case (c, v) => (c, v.toSeq) })
      def run(c: Seq[(Long, Array[Double])],
              a: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        Similarity.probeIvf(c, a, queries, "vec_id", "embedding", k = 3)
          .select(col("q_id"), col("n_id"))
          .as[(Long, Long)].collect().toSet
      assert(run(cb2, assigned2) == run(cb, assigned),
        "restored index must probe identically")
      // a re-save at the same path with another cell count replaces the
      // codebook and the assignment rows together
      val (cb3, assigned3) = Similarity.buildIvfIndex(
        base.filter(col("vec_id") < 30L), "vec_id", "embedding", nCells = 2)
      Similarity.saveIvfIndex(cb3, assigned3, dir)
      val (cb4, assigned4) = Similarity.loadIvfIndex(spark, dir)
      assert(cb4.map { case (c, v) => (c, v.toSeq) } ==
        cb3.sortBy(_._1).map { case (c, v) => (c, v.toSeq) })
      assert(cb4.size == 2, s"re-saved codebook: ${cb4.size} cells")
      assert(assigned4.exceptAll(assigned3).isEmpty &&
        assigned3.exceptAll(assigned4).isEmpty,
        "re-saved index must hold exactly the new assignment rows")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("Graphs.pageRankInt matches hand-computed rounds; deterministic; dangling mass drops") {
    import graft.operators.Graphs
    // a -> {b, c}, b -> a; c is a rank sink (dangling: its mass drops)
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "a")).toDF("src", "dst")
    // round 1: contribs a->b,c: 500000 each; b->a: 1000000
    //   a = 150000 + 85*1000000//100 = 1000000
    //   b = c = 150000 + 85*500000//100 = 575000
    // round 2: a->: 500000 each; b->a: 575000
    //   a = 150000 + 85*575000//100 = 638750 ; b = c = 575000
    val pr2 = Graphs.pageRankInt(edges, "src", "dst", iters = 2)
      .as[(String, Long)].collect().toMap
    assert(pr2 == Map("a" -> 638750L, "b" -> 575000L, "c" -> 575000L))
    // bit-identical across runs (integer sums are order-independent)
    val again = Graphs.pageRankInt(edges, "src", "dst", iters = 2)
      .as[(String, Long)].collect().toMap
    assert(again == pr2)
    // lineage-truncated long run agrees with the unrolled plan
    val deep = Graphs.pageRankInt(edges, "src", "dst", iters = 6,
      checkpointEvery = 2).as[(String, Long)].collect().toMap
    val deepUnrolled = Graphs.pageRankInt(edges, "src", "dst", iters = 6)
      .as[(String, Long)].collect().toMap
    assert(deep == deepUnrolled)
    // total mass shrinks (truncation + the dangling sink c) — ordinal
    // scores, not a distribution: the documented contract
    assert(pr2.values.sum < 3L * 1000000L)
  }

  test("Sampling.chunkDocs slices token windows with overlap, no covered trailing chunk") {
    val df = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),   // 10 tokens
      (2L, "a b c"),                              // shorter than one window
      (3L, "   ")                                 // tokenless -> dropped
    ).toDF("doc_id", "text")
    val out = Sampling.chunkDocs(df, "doc_id", "text", maxTokens = 8, overlap = 2)
      .as[(Long, Long, String, Long)].collect().toSet
    assert(out == Set(
      (1L, 0L, "t1 t2 t3 t4 t5 t6 t7 t8", 8L),
      (1L, 1L, "t7 t8 t9 t10", 4L),
      (2L, 0L, "a b c", 3L)))
    // an exact-window doc emits ONE chunk (no fully-covered trailer)
    val one = Sampling.chunkDocs(
      Seq((9L, "x1 x2 x3 x4 x5 x6 x7 x8")).toDF("doc_id", "text"),
      "doc_id", "text", 8, 2).count()
    assert(one == 1L)
  }

  test("Sampling.mixtureSample applies per-stratum rates deterministically") {
    val df = spark.range(0, 1000).select(col("id").as("doc_id"),
      concat(lit("s"), (col("id") % 4).cast("string")).as("source"))
    val out = Sampling.mixtureSample(df, "source", "doc_id",
      rates = Map("s0" -> 2.0, "s1" -> 0.5, "s2" -> 0.0))
      .groupBy("source").agg(
        countDistinct(col("doc_id")).as("docs"),
        count(lit(1)).as("rows"),
        max(col("copy_id")).as("max_copy"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("s0") == ((250L, 500L, 1L)), s"rate 2.0 should double every row: $out")
    assert(!out.contains("s2"), "rate 0.0 should drop the stratum")
    assert(out("s3") == ((250L, 250L, 0L)), "default rate keeps rows exactly once")
    val (s1docs, s1rows, _) = out("s1")
    assert(s1docs == s1rows && s1docs > 75 && s1docs < 175,
      s"rate 0.5 should keep roughly half, once each: $out")
    // determinism: a second run yields the identical multiset
    val again = Sampling.mixtureSample(df, "source", "doc_id",
      rates = Map("s0" -> 2.0, "s1" -> 0.5, "s2" -> 0.0))
      .as[(Long, String, Long)].collect().toSet
    val first = Sampling.mixtureSample(df, "source", "doc_id",
      rates = Map("s0" -> 2.0, "s1" -> 0.5, "s2" -> 0.0))
      .as[(Long, String, Long)].collect().toSet
    assert(again == first)
  }

  test("AHash64: analytic patterns, empty content, and damage locality") {
    import graft.multimodal.Multimodal
    val rows = Seq(
      (1L, Array.fill(128)(7.toByte)),                 // constant: no byte above mean
      (2L, Array.empty[Byte]),                         // empty: all-zeros sentinel
      // 64 bytes: value 200 at even positions, 0 at odd — samples hit
      // every position exactly once, mean 100 -> alternating bits
      (3L, Array.tabulate(64)(i => if (i % 2 == 0) 200.toByte else 0.toByte)))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, b) =>
        org.apache.spark.sql.Row(id, b,
          org.apache.spark.sql.Row("application/octet-stream", b.length.toLong))
      }), Multimodal.mediaSchema)
    val h = Multimodal.aHash(media).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(h(1L) == "0" * 64, "constant bytes: nothing strictly above mean")
    assert(h(2L) == "0" * 64, "empty content is the all-zeros sentinel")
    assert(h(3L) == "10" * 32, s"alternating pattern: ${h(3L)}")
    // damage locality: a length-preserving 3-byte overwrite flips at
    // most 3 sampled bits plus any mean-boundary flips — planted
    // near-dups stay within the banding threshold (the property the
    // multimodal_ahash_pairs fixture damage relies on)
    val base = Array.tabulate(640)(i => ((i * 37) % 251).toByte)
    val dam = base.clone(); dam(100) = 0; dam(101) = 0; dam(102) = 0
    val m2 = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq((10L, base), (11L, dam)).map { case (id, b) =>
        org.apache.spark.sql.Row(id, b,
          org.apache.spark.sql.Row("application/octet-stream", b.length.toLong))
      }), Multimodal.mediaSchema)
    val hd = Multimodal.aHash(m2).collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val hamming = hd(10L).zip(hd(11L)).count { case (a, b) => a != b }
    assert(hamming <= 3, s"3-byte damage flipped $hamming bits")
  }

  test("ByteHist: exact counts, negative-byte cells, empty content, eval == codegen") {
    val rows = Seq(
      (1L, Array.tabulate[Byte](512)(i => (i % 256).toByte)), // uniform: every cell 2
      (2L, Array.fill[Byte](100)(0xFF.toByte)),               // signed -1 lands in cell 255
      (3L, Array.empty[Byte]))
    val df = rows.toDF("doc_id", "content")
    val h = df.select(col("doc_id"),
        graft.functions.MediaExpressions.byte_hist(col("content")).as("h"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(h(1L).length == 256 && h(1L).forall(_ == 2L), s"uniform: ${h(1L).take(5)}")
    assert(h(2L)(255) == 100L && h(2L).sum == 100L, "0xFF must count unsigned")
    assert(h(3L).length == 256 && h(3L).forall(_ == 0L))
    // the interpreted eval path agrees with the codegen'd run above
    val g = graft.functions.ByteHist(
        org.apache.spark.sql.catalyst.expressions.Literal(rows(1)._2))
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray()
    assert(g(255) == 100L && g.sum == 100L)
  }

  test("Multimodal.byteEntropy exact on known patterns; non-image content passes resize with NULL dims") {
    import graft.multimodal.Multimodal
    val rows = Seq(
      (1L, Array.tabulate(256 * 4)(i => (i % 256).toByte)),          // uniform -> 8 bits
      (2L, Array.fill(100)(7.toByte)),                               // constant -> 0
      (3L, Array.tabulate(64)(i => (i % 2).toByte)),                 // two symbols -> 1
      (4L, Array.empty[Byte]))                                       // truncated file
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, b) =>
        org.apache.spark.sql.Row(id, b,
          org.apache.spark.sql.Row("application/octet-stream", b.length.toLong))
      }), Multimodal.mediaSchema)
    val ent = Multimodal.byteEntropy(media).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(ent(1L) - 8.0) < 1e-12, s"uniform bytes: ${ent(1L)}")
    assert(ent(2L) == 0.0)
    assert(math.abs(ent(3L) - 1.0) < 1e-12)
    assert(ent(4L) == 0.0, "empty content must not divide by zero")
    // none of these byte patterns is an image: resize must pass every
    // item through UNCHANGED with NULL dims (no throw, no drop)
    val resized = Multimodal.resize(media, targetW = 32, targetH = 32).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Array[Byte]](1).toSeq, r.getStruct(2).isNullAt(2),
          r.getStruct(2).isNullAt(3)))).toMap
    rows.foreach { case (id, b) =>
      val (content, wNull, hNull) = resized(id)
      assert(wNull && hNull, s"non-image $id must report NULL dims")
      assert(content == b.toSeq, s"non-image $id content must pass through")
    }
  }

  test("Multimodal.byteEntropyRelational == byteEntropy kernel within float-sum-order slack") {
    import graft.multimodal.Multimodal
    // the relational twin is the ORACLE form (exact-integer histogram
    // core + fixed-order estimator); the mapPartitions kernel is the
    // zero-shuffle production form — same histogram, float sum in
    // bucket order on both, differing only in accumulation grouping
    val media = Multimodal.fabricate(
      Tables(spark, "/root/testdata/sf0.001", "documents"))
      .select("doc_id", "content")
    val rel = Multimodal.byteEntropyRelational(media).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    val kern = Multimodal.byteEntropy(media).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rel.keySet == kern.keySet)
    rel.foreach { case (id, (nb, nd, mc, h)) =>
      val (nbK, hK) = kern(id)
      assert(nb == nbK, s"doc $id: n_bytes $nb != $nbK")
      assert(nd >= 1 && nd <= 256 && mc >= 1 && mc <= nb,
        s"doc $id: histogram core out of range ($nd, $mc)")
      assert(math.abs(h - hK) < 1e-9, s"doc $id: entropy $h vs kernel $hK")
    }
  }

  test("Multimodal: real codec round trip — decode recovers exact dims and pixel sums; resize is exact nearest-neighbor") {
    import graft.multimodal.Multimodal
    // format law coverage in one fixture: 0/40 png (1-band gray),
    // 5 gif (indexed palette), 9 bmp (3-band rgb), 23 jpeg (lossy,
    // dims-only), 17 non-image text bytes
    val docs = Seq(
      (0L, "ignored"), (5L, "ignored"), (9L, "ignored"),
      (17L, "this row is NOT an image"),
      (23L, "ignored"), (40L, "ignored")).toDF("doc_id", "text")
    val imgs = Multimodal.fabricateImages(docs)
    // each image row carries its format's REAL container signature
    imgs.collect().foreach { r =>
      val b = r.getAs[Array[Byte]]("content")
      val id = r.getLong(0)
      if (Multimodal.fixtureIsImage(id)) {
        val sig = Multimodal.fixtureFormat(id) match {
          case "png"  => (b(0) & 0xff) == 0x89 && b(1) == 'P'.toByte
          case "gif"  => b(0) == 'G'.toByte && b(1) == 'I'.toByte && b(2) == 'F'.toByte
          case "bmp"  => b(0) == 'B'.toByte && b(1) == 'M'.toByte
          case "jpeg" => (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8
        }
        assert(b.length > 8 && sig,
          s"doc $id lacks its ${Multimodal.fixtureFormat(id)} signature")
      }
    }
    def law(id: Long): (Int, Int, Long) = {
      val (w, h) = Multimodal.fixtureDims(id)
      val sum = (for { x <- 0 until w; y <- 0 until h } yield (x + y + id) % 256).sum
      (w, h, sum)
    }
    val dec = Multimodal.decodeFeatures(imgs).collect()
      .map(r => r.getLong(0) -> r).toMap
    Seq(0L, 5L, 9L, 23L, 40L).foreach { id =>
      val (w, h, sum) = law(id)
      val r = dec(id)
      assert(r.getInt(2) == w && r.getInt(3) == h,
        s"doc $id: got ${r.getInt(2)}x${r.getInt(3)}, law says ${w}x$h")
      if (Multimodal.fixtureIsLossless(id))
        assert(r.getLong(4) == sum, s"doc $id: sum_luma ${r.getLong(4)} != $sum")
      else assert(!r.isNullAt(4), s"jpeg doc $id must still truly decode")
    }
    assert(dec(17L).isNullAt(2) && dec(17L).isNullAt(4),
      "non-image doc must decode to NULL features")
    // resize law: out(x,y) = in((x*w) div 16, (y*h) div 12) — exact on
    // the lossless formats regardless of container
    val res = Multimodal.decodeFeatures(Multimodal.resize(imgs, 16, 12))
      .collect().map(r => r.getLong(0) -> r).toMap
    Seq(0L, 5L, 9L, 40L).foreach { id =>
      val (w, h) = Multimodal.fixtureDims(id)
      val expect = (for { x <- 0 until 16; y <- 0 until 12 }
        yield (x * w / 16 + y * h / 12 + id) % 256).sum
      val r = res(id)
      assert(r.getInt(2) == 16 && r.getInt(3) == 12)
      assert(r.getLong(4) == expect,
        s"doc $id resized sum_luma ${r.getLong(4)} != $expect")
    }
    assert(res(17L).isNullAt(2), "non-image passthrough re-decodes as NULL")
    // luma plane: raw row-major pixel bytes, exact per position on
    // every lossless container (1-band, indexed, 3-band alike)
    val lp = Multimodal.lumaPlane(imgs).collect().map(r => r.getLong(0) -> r).toMap
    assert(lp(23L).getInt(1) == Multimodal.fixtureDims(23L)._1,
      "jpeg row still decodes to a real plane")
    Seq(0L, 5L, 9L).foreach { id =>
      val (w, h) = Multimodal.fixtureDims(id)
      val bytes = lp(id).getAs[Array[Byte]]("luma")
      assert(lp(id).getInt(1) == w && bytes.length == w * h)
      for { x <- 0 until w; y <- 0 until h }
        assert((bytes(y * w + x) & 0xff) == ((x + y + id) % 256).toInt,
          s"doc $id pixel ($x,$y)")
    }
    assert(lp(17L).isNullAt(3), "non-image has no luma plane")
  }

  test("Multimodal audio: real WAV round trip recovers exact PCM16 amplitude stats") {
    import graft.multimodal.Multimodal
    val docs = Seq((0L, "x"), (9L, "x"), (17L, "this one is NOT audio"))
      .toDF("doc_id", "text")
    val wavs = Multimodal.fabricateAudio(docs)
    // genuinely RIFF/WAVE containers on every audio row
    wavs.collect().foreach { r =>
      val (id, b) = (r.getLong(0), r.getAs[Array[Byte]]("content"))
      if (Multimodal.fixtureIsImage(id))
        assert(b.length > 12 && new String(b.take(4), "US-ASCII") == "RIFF" &&
          new String(b.slice(8, 12), "US-ASCII") == "WAVE", s"doc $id not WAV")
    }
    val got = Multimodal.decodeAudioFeatures(wavs).collect()
      .map(r => r.getLong(0) -> r).toMap
    Seq(0L, 9L).foreach { id =>
      val n = Multimodal.audioFrames(id)
      val samples = (0 until n).map(i => math.abs(Multimodal.audioSample(id, i).toLong))
      val r = got(id)
      assert(r.getInt(1) == 8000 && r.getInt(2) == 1 && r.getLong(3) == n.toLong)
      assert(r.getLong(4) == samples.sum, s"doc $id sum_abs")
      assert(r.getLong(5) == samples.max, s"doc $id max_abs")
    }
    assert(got(17L).isNullAt(1) && got(17L).isNullAt(4),
      "non-audio content must decode to NULL features, never throw")
  }

  test("Multimodal audio subfingerprints: exact differential bits; clips match their original's windows") {
    import graft.multimodal.Multimodal
    val docs = Seq((0L, "x"), (9L, "x"), (17L, "NOT audio")).toDF("doc_id", "text")
    val fp = Multimodal.audioSubfingerprints(Multimodal.fabricateAudio(docs))
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1 else r.getInt(1)) ->
        (if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toMap
    // the exact-bit law, recomputed independently from the waveform
    def expected(id: Long): Map[Int, Long] = {
      val n = (Multimodal.audioFrames(id) / 64) * 64
      val e = Array.tabulate(n / 64, 8)((t, b) =>
        (0 until 8).map(j => math.abs(
          Multimodal.audioSample(id, t * 64 + b * 8 + j).toLong)).sum)
      val dd = e.map(row => (0 until 7).map(b => row(b) - row(b + 1)))
      (1 until n / 64).map { t =>
        t -> (0 until 7).map { b =>
          (if (dd(t)(b) > 0) 1L << b else 0L) |
            (if (dd(t)(b) > dd(t - 1)(b)) 1L << (7 + b) else 0L)
        }.reduce(_ | _)
      }.toMap
    }
    Seq(0L, 9L).foreach { id =>
      val exp = expected(id)
      exp.foreach { case (t, s) =>
        assert(fp((id, t)) == s, s"doc $id window $t: ${fp((id, t))} != $s") }
      assert(!fp.contains((id, 0)), "window 0 has no temporal diff")
    }
    assert(fp((17L, -1)) == -1L, "non-audio must emit the visible NULL row")
    // a clipped re-encode fingerprints identically on common windows —
    // the law audio_neardup_pairs matches on
    val clip = Multimodal.audioSubfingerprints(
      Multimodal.fabricateAudio(docs.filter($"doc_id" === 0L), maxFrames = 256))
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(clip.keySet == Set(1, 2, 3), s"256-frame clip windows: ${clip.keySet}")
    clip.foreach { case (t, s) =>
      assert(fp((0L, t)) == s, s"clip window $t diverged from original") }
  }

  test("Multimodal framePlanes + videoNearDupPairs: head-clipped streams pair with their originals") {
    import graft.multimodal.Multimodal
    val docs = Seq((1L, "x"), (9L, "x"), (17L, "NOT video")).toDF("doc_id", "text")
    // plane law: real PNG decode + nearest-neighbor resample of the
    // videoPixel pattern, per frame
    val planes = Multimodal.framePlanes(
        Multimodal.fabricateFrameStream(docs), 8, 8)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r).toMap
    Seq(1L, 9L).foreach { id =>
      val (w, h) = Multimodal.fixtureDims(id)
      (0 until Multimodal.videoFrames(id)).foreach { f =>
        val bytes = planes((id, f)).getAs[Array[Byte]]("luma")
        assert(bytes.length == 64, s"doc $id frame $f plane size")
        for { y <- 0 until 8; x <- 0 until 8 }
          assert((bytes(y * 8 + x) & 0xff) ==
            Multimodal.videoPixel(id, f, x * w / 8, y * h / 8),
            s"doc $id frame $f pixel ($x,$y)")
      }
    }
    assert(planes((17L, 0)).isNullAt(2), "non-video emits the visible NULL row")
    // a head-clipped variant shares exactly nf-1 frame hashes with its
    // original and nothing with anything else
    val streams = Multimodal.fabricateFrameStream(docs).unionByName(
      Multimodal.fabricateFrameStream(docs.filter($"doc_id" === 1L),
        idOffset = 1000L, frameShift = 1))
    val pairs = Multimodal.videoNearDupPairs(streams, minShared = 2, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 1001L, (Multimodal.videoFrames(1L) - 1).toLong)),
      s"pairs: ${pairs.toSeq}")
    // the hot-key cap: every shared hash here lives in 2 items, so
    // maxBucket = 1 drops them all and NO pair survives — a black
    // frame shared by millions of videos generates candidates from
    // nobody
    assert(Multimodal.videoNearDupPairs(streams, minShared = 2, maxBucket = 1)
      .isEmpty, "hot frame hashes past the cap must generate no candidates")
    // offset voting: the head-clipped variant aligns to its original at
    // frame offset +1 with every shared frame voting
    val aligned = Multimodal.videoClipAlign(streams, minSupport = 2, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(aligned.toSeq ==
      Seq((1L, 1001L, 1L, (Multimodal.videoFrames(1L) - 1).toLong)),
      s"aligned: ${aligned.toSeq}")
  }

  test("Multimodal audioClipAlign: a mid-stream extract aligns to its original at the extraction offset") {
    import graft.multimodal.Multimodal
    val docs = Seq((200L, "x"), (9L, "x")).toDF("doc_id", "text")
    // variant = doc 200's stream starting 128 samples (2 windows) in:
    // aligned-index matching sees a DIFFERENT subfingerprint at every
    // window index; offset voting recovers offset +2 with every common
    // fingerprint window voting. doc 200: n = 456 -> 7 windows, fp at
    // t = 1..6; variant: 328 samples -> 5 windows, fp at t' = 1..4,
    // each equal to the original's t' + 2 -> support 4.
    val wavs = Multimodal.fabricateAudio(docs).unionByName(
      Multimodal.fabricateAudio(docs.filter($"doc_id" === 200L),
        idOffset = 1000L, startFrame = 128))
    val got = Multimodal.audioClipAlign(wavs, minSupport = 2, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((200L, 1200L, 2L, 4L)), s"aligned: ${got.toSeq}")
    // distinct extraction offsets in ONE pass, each recovered exactly
    // with every common fingerprint window voting (support = nw' − 1
    // where nw' = (n − start) / 64): offsets 1, 2, 3 from three docs
    val multi = Seq((200L, "x"), (309L, "x"), (449L, "x")).toDF("doc_id", "text")
    val streams = Multimodal.fabricateAudio(multi)
      .unionByName(Multimodal.fabricateAudio(
        multi.filter($"doc_id" === 200L), idOffset = 1000L, startFrame = 64))
      .unionByName(Multimodal.fabricateAudio(
        multi.filter($"doc_id" === 309L), idOffset = 1000L, startFrame = 128))
      .unionByName(Multimodal.fabricateAudio(
        multi.filter($"doc_id" === 449L), idOffset = 1000L, startFrame = 192))
    val planted = Multimodal.audioClipAlign(streams, minSupport = 2, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    def law(id: Long, start: Int) = {
      val nwClip = (Multimodal.audioFrames(id) - start) / 64
      (start / 64L, (nwClip - 1).toLong)
    }
    assert(planted((200L, 1200L)) == law(200L, 64), s"doc 200: $planted")
    assert(planted((309L, 1309L)) == law(309L, 128), s"doc 309: $planted")
    assert(planted((449L, 1449L)) == law(449L, 192), s"doc 449: $planted")
  }

  test("Multimodal clip index: append == fresh union build, crashed retry idempotent, probe serves both days") {
    import graft.multimodal.Multimodal
    val day1 = Seq((200L, "x"), (9L, "x")).toDF("doc_id", "text")
    val day2 = Seq((449L, "x"), (309L, "x")).toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("graft-clip-idx-spec").toString
    try {
      Multimodal.saveClipIndex(
        Multimodal.buildClipIndex(Multimodal.fabricateAudio(day1)), path)
      Multimodal.appendClipIndex(spark, path, Multimodal.fabricateAudio(day2))
      def fpSet(ix: Multimodal.ClipIndex) = ix.fps
        .select("doc_id", "win_idx", "subfp").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val appended = fpSet(Multimodal.loadClipIndex(spark, path))
      val fresh = fpSet(Multimodal.buildClipIndex(
        Multimodal.fabricateAudio(day1.unionByName(day2))))
      assert(appended == fresh, "appended index != fresh union build")
      // a crashed append retried must change nothing after load
      Multimodal.appendClipIndex(spark, path, Multimodal.fabricateAudio(day2))
      assert(fpSet(Multimodal.loadClipIndex(spark, path)) == fresh,
        "append retry not idempotent under load's dedup")
      // the loaded index serves a day-2 extract at its exact offset
      val probe = Multimodal.probeClipIndex(
        Multimodal.loadClipIndex(spark, path),
        Multimodal.fabricateAudio(day2.filter($"doc_id" === 449L),
          idOffset = 1000L, startFrame = 192),
        minSupport = 2, maxBucket = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val nwClip = (Multimodal.audioFrames(449L) - 192) / 64
      assert(probe.toSeq == Seq((1449L, 449L, 3L, (nwClip - 1).toLong)),
        s"probe: ${probe.toSeq}")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    }
  }

  test("Multimodal video clip index: append == fresh union build, retry idempotent, probe aligns head-clipped re-encodes") {
    import graft.multimodal.Multimodal
    val day1 = Seq((1L, "x"), (9L, "x")).toDF("doc_id", "text")
    val day2 = Seq((13L, "x"), (17L, "NOT video")).toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("graft-vclip-idx-spec").toString
    try {
      Multimodal.saveVideoClipIndex(
        Multimodal.buildVideoClipIndex(
          Multimodal.fabricateFrameStream(day1)), path)
      Multimodal.appendVideoClipIndex(spark, path,
        Multimodal.fabricateFrameStream(day2))
      def fpSet(ix: Multimodal.VideoClipIndex) = ix.fps
        .select("doc_id", "frame_idx", "fhash").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      val appended = fpSet(Multimodal.loadVideoClipIndex(spark, path))
      val fresh = fpSet(Multimodal.buildVideoClipIndex(
        Multimodal.fabricateFrameStream(day1.unionByName(day2))))
      assert(appended == fresh, "appended video index != fresh union build")
      // the non-video doc contributes no rows (an index of undecodable
      // bytes detects nothing)
      assert(!appended.exists(_._1 == 17L), "non-video doc leaked rows")
      // a crashed append retried must change nothing after load
      Multimodal.appendVideoClipIndex(spark, path,
        Multimodal.fabricateFrameStream(day2))
      assert(fpSet(Multimodal.loadVideoClipIndex(spark, path)) == fresh,
        "video append retry not idempotent under load's dedup")
      // the loaded index aligns a day-2 head-clipped re-encode at frame
      // offset +1 with every shared frame voting
      val probe = Multimodal.probeVideoClipIndex(
        Multimodal.loadVideoClipIndex(spark, path),
        Multimodal.fabricateFrameStream(day2.filter($"doc_id" === 13L),
          idOffset = 1000L, frameShift = 1),
        minSupport = 2, maxBucket = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(probe.toSeq ==
        Seq((1013L, 13L, 1L, (Multimodal.videoFrames(13L) - 1).toLong)),
        s"video probe: ${probe.toSeq}")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    }
  }

  test("Multimodal audioDedup: copies and mid-stream extracts collapse to one keeper; undecodables keep themselves") {
    import graft.multimodal.Multimodal
    val docs = Seq((200L, "x"), (9L, "x"), (17L, "NOT media")).toDF("doc_id", "text")
    val wavs = Multimodal.fabricateAudio(docs)
      // a byte-identical re-upload of doc 200 (collapses exactly) ...
      .unionByName(Multimodal.fabricateAudio(docs.filter($"doc_id" === 200L),
        idOffset = 10000L))
      // ... and a mid-stream extract (clusters via the clip-align vote)
      .unionByName(Multimodal.fabricateAudio(docs.filter($"doc_id" === 200L),
        idOffset = 1000L, startFrame = 128))
    val keep = Multimodal.audioDedup(wavs, minSupport = 2, maxBucket = 10)
      .collect().map(_.getLong(0)).toSet
    // 10200 (exact copy) and 1200 (extract) fold into keeper 200; doc 9
    // is untouched; doc 17 never decodes and keeps itself
    assert(keep == Set(9L, 17L, 200L), s"keepers: $keep")
  }

  test("Multimodal videoDedup: re-uploaded and head-clipped streams fold into one keeper") {
    import graft.multimodal.Multimodal
    val docs = Seq((1L, "x"), (9L, "x"), (17L, "NOT video")).toDF("doc_id", "text")
    val streams = Multimodal.fabricateFrameStream(docs)
      .unionByName(Multimodal.fabricateFrameStream(docs.filter($"doc_id" === 1L),
        idOffset = 10000L))
      .unionByName(Multimodal.fabricateFrameStream(docs.filter($"doc_id" === 1L),
        idOffset = 1000L, frameShift = 1))
    val keep = Multimodal.videoDedup(streams, minSupport = 2, maxBucket = 10)
      .collect().map(_.getLong(0)).toSet
    assert(keep == Set(1L, 9L, 17L), s"keepers: $keep")
  }

  test("Multimodal still images: encode determinism, 768-law twins, and both signature laws replay") {
    import graft.multimodal.Multimodal
    // encode determinism underpins the exact-dup collapse: the same
    // raster written twice must be byte-identical (the JDK PNG/BMP
    // writers carry no timestamps or nondeterministic chunks)
    val one = Seq((1L, "x")).toDF("doc_id", "text")
    def bytesOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("content")).toMap
    val b1 = bytesOf(Multimodal.fabricateStillImages(one))(1L)
    val b2 = bytesOf(Multimodal.fabricateStillImages(one))(1L)
    assert(java.util.Arrays.equals(b1, b2), "PNG encode not deterministic")
    // the deliberate byte-identity class: ids 768 apart share dims
    // (768 ≡ 0 mod 24 and mod 16) and pixels (mod 256) → same bytes
    val twins = Seq((1L, "x"), (769L, "x")).toDF("doc_id", "text")
    val tb = bytesOf(Multimodal.fabricateStillImages(twins))
    assert(java.util.Arrays.equals(tb(1L), tb(769L)), "768-law twins not byte-identical")
    // a BMP re-encode is byte-distinct but signature-identical (both
    // kinds), and the signatures replay the analytic law exactly
    val png = Multimodal.fabricateStillImages(one)
    val bmp = Multimodal.fabricateStillImages(one, fmt = "bmp")
    def sigsOf(m: org.apache.spark.sql.DataFrame) = {
      val r = Multimodal.imageFeatures(m).collect().head
      (r.getAs[String]("asig"), r.getAs[String]("dsig"))
    }
    val (aP, dP) = sigsOf(png)
    val (aB, dB) = sigsOf(bmp)
    assert(!java.util.Arrays.equals(bytesOf(bmp)(1L), b1), "bmp == png bytes?")
    assert(aP == aB && dP == dB, s"re-encode signatures differ: $aP/$aB $dP/$dB")
    // analytic replay of both signature laws from imagePixel
    val (w, h) = Multimodal.fixtureDims(1L)
    def plane(gw: Int, gh: Int) = Array.tabulate(gw * gh) { i =>
      val (x, y) = (i % gw, i / gw)
      Multimodal.imagePixel(1L, (x.toLong * w / gw).toInt, (y.toLong * h / gh).toInt)
    }
    val a8 = plane(8, 8)
    val tot = a8.map(_.toLong).sum
    val wantA = a8.map(v => if (v.toLong * 64 > tot) '1' else '0').mkString
    val p9 = plane(9, 8)
    val wantD = (0 until 64).map { i =>
      val (x, y) = (i % 8, i / 8)
      if (p9(y * 9 + x + 1) > p9(y * 9 + x)) '1' else '0'
    }.mkString
    assert(aP == wantA, s"ahash law: $aP != $wantA")
    assert(dP == wantD, s"dhash law: $dP != $wantD")
    // the kernel's ahash equals the independent resize→lumaPlane→
    // ahash64 chain (the multimodal_phash path) bit for bit
    val chain = graft.multimodal.Multimodal.lumaPlane(
        Multimodal.resize(png, 8, 8))
      .select($"doc_id", graft.functions.MediaExpressions.ahash64($"luma"))
      .collect().head.getString(1)
    assert(chain == aP, s"kernel ahash != phash chain: $aP vs $chain")
    // undecodable content: visible NULL-signature row, digest present
    val txt = Seq((7L, "NOT an image")).toDF("doc_id", "text")
    val ftxt = Multimodal.imageFeatures(Multimodal.fabricateStillImages(txt))
      .collect().head
    assert(ftxt.isNullAt(3) && ftxt.isNullAt(4) && ftxt.getString(2).nonEmpty)
    val sigRows = Multimodal.imageSignatures(
      Multimodal.fabricateStillImages(txt)).collect()
    assert(sigRows.length == 1 && sigRows.head.isNullAt(1) && sigRows.head.isNullAt(2),
      "undecodable must emit one visible NULL row")
  }

  test("Multimodal.imageDedup: byte copies collapse, lossless re-encodes cluster, undecodables keep themselves") {
    import graft.multimodal.Multimodal
    val docs = Seq((1L, "x"), (2L, "x"), (3L, "x"), (7L, "NOT an image"))
      .toDF("doc_id", "text")
    val imgs = Multimodal.fabricateStillImages(docs)
      // byte-identical re-upload of doc 1 (exact-group edge) ...
      .unionByName(Multimodal.fabricateStillImages(
        docs.filter($"doc_id" === 1L), idOffset = 1000L))
      // ... and a BMP re-encode of doc 2 (hamming-0 perceptual pair)
      .unionByName(Multimodal.fabricateStillImages(
        docs.filter($"doc_id" === 2L), idOffset = 2000L, fmt = "bmp"))
    val keep = Multimodal.imageDedup(imgs, maxDist = 3, maxBucket = 10)
      .collect().map(_.getLong(0)).toSet
    assert(keep == Set(1L, 2L, 3L, 7L), s"keepers: $keep")
  }

  test("Multimodal image signature index: append == fresh union, retry idempotent, probe needs both signatures") {
    import graft.multimodal.Multimodal
    val day1 = Seq((1L, "x"), (2L, "x")).toDF("doc_id", "text")
    val day2 = Seq((3L, "x"), (17L, "NOT an image")).toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("graft-img-idx-spec").toString
    try {
      Multimodal.saveImageSigIndex(
        Multimodal.buildImageSigIndex(Multimodal.fabricateStillImages(day1)), path)
      Multimodal.appendImageSigIndex(spark, path,
        Multimodal.fabricateStillImages(day2))
      def sigSet(ix: Multimodal.ImageSigIndex) = ix.sigs
        .select("doc_id", "kind", "sig").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      val appended = sigSet(Multimodal.loadImageSigIndex(spark, path))
      val fresh = sigSet(Multimodal.buildImageSigIndex(
        Multimodal.fabricateStillImages(day1.unionByName(day2))))
      assert(appended == fresh, "appended image index != fresh union build")
      assert(!appended.exists(_._1 == 17L), "undecodable doc leaked index rows")
      Multimodal.appendImageSigIndex(spark, path,
        Multimodal.fabricateStillImages(day2))
      assert(sigSet(Multimodal.loadImageSigIndex(spark, path)) == fresh,
        "image append retry not idempotent under load's dedup")
      // a day-2 lossless re-encode matches on BOTH kinds (support 2)
      val probe = Multimodal.probeImageSigIndex(
        Multimodal.loadImageSigIndex(spark, path),
        Multimodal.fabricateStillImages(day2.filter($"doc_id" === 3L),
          idOffset = 1000L, fmt = "bmp"),
        minSupport = 2, maxBucket = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(probe.toSeq == Seq((1003L, 3L, 2L)), s"image probe: ${probe.toSeq}")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    }
  }

  test("Multimodal collapseExact: a flood of exact re-uploads past maxBucket cannot evict the genuine match") {
    import graft.multimodal.Multimodal
    // 2×maxBucket byte-identical re-uploads of doc 200's recording +
    // one genuine mid-stream extract. Without collapse every shared
    // subfingerprint bucket holds 21 > maxBucket = 10 items, the cap
    // drops them all, and the true pair vanishes — the spam evicted
    // the match. With collapseExact the copies collapse to ONE
    // representative before the census, buckets hold 2, and the
    // extract aligns to the representative (the lowest id) exactly as
    // it would against a clean corpus.
    val base = Seq((200L, "x")).toDF("doc_id", "text")
    val uploads = (0 until 20).map(i =>
        Multimodal.fabricateAudio(base, idOffset = 10000L + i * 1000L))
      .reduce(_ unionByName _)
    val corpus = Multimodal.fabricateAudio(base).unionByName(uploads)
      .unionByName(Multimodal.fabricateAudio(base,
        idOffset = 1000L, startFrame = 128))
    val capped = Multimodal.audioClipAlign(corpus,
      minSupport = 2, maxBucket = 10)
    assert(capped.isEmpty,
      "without collapse the re-upload flood must blow the cap (the failure this law exists for)")
    val got = Multimodal.audioClipAlign(corpus,
        minSupport = 2, maxBucket = 10, collapseExact = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((200L, 1200L, 2L, 4L)),
      s"collapsed align: ${got.toSeq}")
    // same law through the shared-key (near-dup) path: prefix clips of
    // one recording pair with the original only once collapsed
    val prefixDup = Multimodal.fabricateAudio(base).unionByName(uploads)
    assert(Multimodal.audioNearDupPairs(prefixDup,
      minShared = 2, maxBucket = 10).isEmpty, "cap must drop the flood")
    val ndp = Multimodal.audioNearDupPairs(prefixDup,
        minShared = 2, maxBucket = 10, collapseExact = true)
      .collect()
    // all 21 items are byte-identical -> ONE representative, and a
    // single item pairs with nobody: collapse must not fabricate pairs
    assert(ndp.isEmpty, s"identical-only corpus must collapse to no pairs: ${ndp.toSeq}")
    // the groups table names every member's representative
    val fp = Multimodal.audioSubfingerprints(prefixDup)
      .filter($"subfp".isNotNull)
    val groups = Multimodal.exactFingerprintGroups(
        fp.select($"doc_id", $"win_idx".as("idx"), $"subfp".as("key")),
        Seq("idx", "key"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups.size == 21 && groups.values.toSet == Set(200L),
      s"groups: $groups")
  }

  test("Multimodal videoNearDupPairs collapseExact is POSITIONAL: reordered frames still pair, only byte-identical streams collapse") {
    import graft.multimodal.Multimodal
    def png(pix: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for { x <- 0 until 8; y <- 0 until 8 }
        img.getRaster.setSample(x, y, 0, pix(x, y))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val fa = png((x, _) => if (x >= 4) 255 else 0) // right half bright
    val fb = png((_, y) => if (y >= 4) 255 else 0) // bottom half bright
    val rows = Seq(1L -> (fa ++ fb), 2L -> (fb ++ fa), 3L -> (fa ++ fb))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, bytes) =>
        org.apache.spark.sql.Row(id, bytes,
          org.apache.spark.sql.Row("video/x-png-stream", bytes.length.toLong))
      }), Multimodal.mediaSchema)
    // doc 2 holds the SAME distinct frame hashes as doc 1 in reversed
    // order — a re-cut, not a re-upload: the positioned (frame_idx,
    // fhash) collapse keeps it a separate item and the set match still
    // pairs it with the representative. Doc 3 is byte-identical to doc
    // 1 and folds away. (The r12-advised failure: a set-identity
    // digest collapsed all three to doc 1 and the re-cut silently
    // vanished from the pair output.)
    val got = Multimodal.videoNearDupPairs(media, minShared = 2,
        maxBucket = 10, collapseExact = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 2L)), s"pairs: ${got.toSeq}")
  }

  test("Multimodal decode handles gray+alpha and indexed-color without throwing; palette permutations hash alike") {
    import graft.multimodal.Multimodal
    import java.awt.image.{BufferedImage, ComponentColorModel, DataBuffer, IndexColorModel}
    def png(img: BufferedImage): Array[Byte] = {
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    // gray+alpha (PNG color type 4): decodes to a 2-band raster — the
    // crash case the never-throws contract forbids
    val cs = java.awt.color.ColorSpace.getInstance(java.awt.color.ColorSpace.CS_GRAY)
    val cm = new ComponentColorModel(cs, true, false,
      java.awt.Transparency.TRANSLUCENT, DataBuffer.TYPE_BYTE)
    val gaRaster = cm.createCompatibleWritableRaster(4, 3)
    val ga = new BufferedImage(cm, gaRaster, false, null)
    for { x <- 0 until 4; y <- 0 until 3 } {
      gaRaster.setSample(x, y, 0, (10 * x + y) % 256)
      gaRaster.setSample(x, y, 1, 255)
    }
    // indexed color with two PERMUTED palettes over the same visual
    // image: identical pixels must give identical luma sums
    def indexed(palette: Array[Int], pix: (Int, Int) => Int): BufferedImage = {
      val (r, g, b) = (palette.map(v => v.toByte), palette.map(v => v.toByte),
        palette.map(v => v.toByte))
      val icm = new IndexColorModel(8, palette.length, r, g, b)
      val img = new BufferedImage(4, 3, BufferedImage.TYPE_BYTE_INDEXED, icm)
      for { x <- 0 until 4; y <- 0 until 3 }
        img.getRaster.setSample(x, y, 0, pix(x, y))
      img
    }
    val palA = Array(17, 99, 200) // index i -> gray palA(i)
    val palB = Array(200, 17, 99) // same grays, permuted slots
    val imgA = indexed(palA, (x, y) => (x + y) % 3)
    // pick B's indices so the VISUAL gray matches A's at every pixel
    val bIndexOfGray = palB.zipWithIndex.map { case (v, i) => v -> i }.toMap
    val imgB = indexed(palB, (x, y) => bIndexOfGray(palA((x + y) % 3)))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        (1L, png(ga)), (2L, png(imgA)), (3L, png(imgB))).map { case (id, b) =>
        org.apache.spark.sql.Row(id, b, org.apache.spark.sql.Row("image/png", b.length.toLong))
      }), Multimodal.mediaSchema)
    val feats = Multimodal.decodeFeatures(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    val gaSum = (for { x <- 0 until 4; y <- 0 until 3 } yield (10 * x + y) % 256).sum
    assert(feats(1L).getLong(4) == gaSum,
      s"gray+alpha luma: ${feats(1L).getLong(4)} != $gaSum")
    assert(feats(2L).getLong(4) == feats(3L).getLong(4),
      "permuted palettes must decode to identical luma sums")
    val expIndexed = (for { x <- 0 until 4; y <- 0 until 3 } yield palA((x + y) % 3)).sum
    assert(feats(2L).getLong(4) == expIndexed,
      s"indexed luma must resolve through the palette: ${feats(2L).getLong(4)} != $expIndexed")
  }

  test("exactWeightedPercentiles rejects negative and fractional weights loudly") {
    import graft.operators.Quantiles
    def run(w: Double): Unit =
      Quantiles.exactWeightedPercentiles(
        Seq(("g", 5L, w), ("g", 7L, 1.0)).toDF("g", "v", "w"),
        "g", col("v"), col("w"), Seq(50)).collect()
    run(2.0) // integral doubles are fine
    val eNeg = intercept[Exception] { run(-0.5) } // cast-first would pass it as 0
    assert(eNeg.getMessage.contains("non-negative integer"), eNeg.getMessage)
    val eFrac = intercept[Exception] { run(2.7) } // cast-first would truncate to 2
    assert(eFrac.getMessage.contains("non-negative integer"), eFrac.getMessage)
  }

  test("Sampling.temperatureMixture rebalances toward sqrt shares by the exact integer law") {
    import graft.operators.Sampling
    // heavily skewed corpus: head 3600 docs, tail 100 docs
    val docs = ((0L until 3600L).map(i => (i, "head")) ++
      (10000L until 10100L).map(i => (i, "tail"))).toDF("doc_id", "source")
    val out = Sampling.temperatureMixture(docs, "source", "doc_id")
    val got = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // independent recompute of the law: w = isqrt(n), rate = wN/(Σw·n),
    // base + [hk < ((num mod den)·2^52) div den] per doc, hk = the
    // md5-prefix hash key
    def hk(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(7).map(b => f"$b%02x").mkString.take(13), 16)
    val counts = Map("head" -> 3600L, "tail" -> 100L)
    val ids = Map("head" -> (0L until 3600L), "tail" -> (10000L until 10100L))
    val total = BigInt(3700)
    val sw = BigInt(60 + 10)
    val expect = counts.map { case (s, n) =>
      val num = BigInt(math.sqrt(n.toDouble).toLong) * total
      val den = sw * BigInt(n)
      val base = (num / den).toLong
      val thr = ((num % den) * (BigInt(1) << 52) / den).toLong
      s -> (n * base + ids(s).count(hk(_) < thr))
    }
    assert(got == expect, s"got $got, law says $expect")
    // direction: the tail upsamples (sqrt share 10/70 of 3700 ≈ 529 >
    // 100), the head downsamples (60/70 of 3700 ≈ 3171 < 3600) —
    // deterministic for these fixed ids since got equals the law
    assert(got("tail") > 100L && got("head") < 3600L, got.toString)
    // non-string strata work (the plan table carries the input type)
    val intStrata = Seq((1L, 7), (2L, 7), (3L, 9)).toDF("doc_id", "topic")
    assert(Sampling.temperatureMixture(intStrata, "topic", "doc_id")
      .columns.contains("copy_id"))
    // guards fail fast: re-weighting a mixture output would clobber
    // copy_id; a NULL stratum would be counted but silently dropped
    intercept[IllegalArgumentException] {
      Sampling.temperatureMixture(out, "source", "doc_id")
    }
    intercept[IllegalArgumentException] {
      Sampling.temperatureMixture(
        Seq((1L, "a"), (2L, null.asInstanceOf[String])).toDF("doc_id", "source"),
        "source", "doc_id")
    }
  }

  test("Sampling.tokenBudgetSample keeps hash-prefix documents within per-shard budgets") {
    val df = spark.range(0, 1000).select(col("id").as("doc_id"),
      concat(lit("s"), (col("id") % 2).cast("string")).as("source"),
      (col("id") % 17 + 5).as("toks"))
    val shards = 4
    val out = Sampling.tokenBudgetSample(df, "source", "doc_id", col("toks"),
      budgets = Map("s0" -> 2000L), shards = shards)
    // budgeted stratum: kept tokens land in [budget - shards*maxDoc,
    // budget + shards*maxDoc] (each shard overshoots by < one doc and
    // stops short by < one doc); unbudgeted stratum passes through
    val kept = out.groupBy("source").agg(sum(col("toks")).as("t"),
      count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val maxDoc = 21L
    assert(kept("s0")._1 > 2000L - shards * maxDoc &&
      kept("s0")._1 < 2000L + shards * maxDoc,
      s"budgeted stratum off target: $kept")
    assert(kept("s1")._2 == 500L, s"unbudgeted stratum must pass through: $kept")
    // prefix property: halving the budget keeps a subset
    val half = Sampling.tokenBudgetSample(df, "source", "doc_id", col("toks"),
      budgets = Map("s0" -> 1000L), shards = shards)
      .filter(col("source") === "s0").select("doc_id").as[Long].collect().toSet
    val full = out.filter(col("source") === "s0")
      .select("doc_id").as[Long].collect().toSet
    assert(half.subsetOf(full) && half.size < full.size,
      "smaller budget must keep a strict hash-prefix subset")
    // determinism
    assert(out.select("doc_id").as[Long].collect().toSet ==
      Sampling.tokenBudgetSample(df, "source", "doc_id", col("toks"),
        budgets = Map("s0" -> 2000L), shards = shards)
        .select("doc_id").as[Long].collect().toSet)
    // a budget below the shard count still keeps ~one doc per shard
    // (ceiling split), not zero (floor would silently drop the stratum)
    val tiny = Sampling.tokenBudgetSample(df, "source", "doc_id", col("toks"),
      budgets = Map("s0" -> 2L), shards = shards)
      .filter(col("source") === "s0").count()
    assert(tiny >= 1 && tiny <= shards, s"tiny budget kept $tiny docs")
    // a caller column colliding with a working column fails loudly
    intercept[IllegalArgumentException] {
      Sampling.tokenBudgetSample(df.withColumn("shard", lit(1)),
        "source", "doc_id", col("toks"), budgets = Map("s0" -> 10L))
    }
  }

  test("Sampling.writeShards lands sorted shard files matching shuffleOrder") {
    val dir = java.nio.file.Files.createTempDirectory("graft-shards").toString + "/out"
    val df = spark.range(0, 2000).select(col("id").as("doc_id"),
      concat(lit("d"), col("id")).as("payload"))
    assert(Sampling.writeShards(df, "doc_id", shards = 4, dir) == 4)
    // one directory per shard; each file's rows already in sort_key
    // order (the dataloader reads them with NO read-time sort)
    val back = spark.read.parquet(dir)
    assert(back.count() == 2000)
    (0 until 4).foreach { s =>
      val rows = spark.read.parquet(s"$dir/shard=$s")
        .select("sort_key", "doc_id").collect()
      val keys = rows.map(_.getString(0)).toSeq
      assert(keys == keys.sorted, s"shard $s not stored in sort order")
      // membership matches the row-local hash assignment (replayed
      // locally: first 13 hex chars of md5(id || ":ord") mod shards)
      rows.map(_.getLong(1)).foreach { id =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$id:ord".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(13)
        val expect = java.lang.Long.parseLong(hex, 16) % 4
        assert(expect == s, s"doc $id landed in shard $s, expected $expect")
      }
    }
  }

  test("Sampling.hashSplit assigns stable fraction-sized splits, remainder to last") {
    val df = spark.range(0, 10000).select(col("id").as("doc_id"))
    val fr = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    val counts = Sampling.hashSplit(df, "doc_id", fr)
      .groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > 8700 && counts("train") < 9300, s"train off: $counts")
    assert(counts("val") > 300 && counts("val") < 700, s"val off: $counts")
    assert(counts.values.sum == 10000L)
    // stability: the same doc lands in the same split on a disjoint run
    val a = Sampling.hashSplit(df.filter(col("doc_id") < 5000), "doc_id", fr)
      .as[(Long, String)].collect().toMap
    val b = Sampling.hashSplit(df, "doc_id", fr)
      .filter(col("doc_id") < 5000).as[(Long, String)].collect().toMap
    assert(a == b, "split membership must be a pure function of the id")
    intercept[IllegalArgumentException] {
      Sampling.hashSplit(df, "doc_id", Seq("a" -> 0.9, "b" -> 0.2))
    }
  }

  test("Sampling.shuffleOrder: balanced shards, total order, independent of sampling hash") {
    val df = spark.range(0, 8000).select(col("id").as("doc_id"))
    val out = Sampling.shuffleOrder(df, "doc_id", shards = 8)
      .as[(Long, Long, String)].collect()
    // every shard populated, roughly balanced (8000 over 8)
    val sizes = out.groupBy(_._2).view.mapValues(_.size)
    assert(sizes.keySet == (0L to 7L).toSet)
    assert(sizes.values.forall(s => s > 800 && s < 1200), s"skewed: ${sizes.toMap}")
    // (shard, sort_key, doc_id) is a total order: no duplicate keys
    assert(out.map(r => (r._2, r._3)).distinct.length == out.length)
    // domain separation: shuffle shard is NOT the sampling hash's bucket
    val sampleBucket = df.select(col("doc_id"),
        pmod(Sampling.hashKey(col("doc_id")), lit(8L)).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(out.exists(r => sampleBucket(r._1) != r._2),
      "shuffle order must not reuse the sampling hash domain")
    intercept[IllegalArgumentException] {
      Sampling.shuffleOrder(df, "doc_id", 0)
    }
  }

  test("Sampling.mixtureSample rejects negative rates loudly") {
    val df = Seq((1L, "s0")).toDF("doc_id", "source")
    val e = intercept[IllegalArgumentException] {
      Sampling.mixtureSample(df, "source", "doc_id", rates = Map("s0" -> -0.5))
    }
    assert(e.getMessage.contains(">= 0"))
    intercept[IllegalArgumentException] {
      Sampling.mixtureWeights(df, "source", "doc_id", Map.empty, defaultRate = -1.0)
    }
  }

  test("Sampling.mixtureWeights + deferred explode equals mixtureSample's multiset") {
    val df = spark.range(0, 500).select(col("id").as("doc_id"),
      concat(lit("s"), (col("id") % 3).cast("string")).as("source"))
    val rates = Map("s0" -> 2.5, "s1" -> 0.25)
    val direct = Sampling.mixtureSample(df, "source", "doc_id", rates)
      .select("doc_id", "source", "copy_id")
      .as[(Long, String, Long)].collect().toSet
    val deferred = Sampling.mixtureWeights(df, "source", "doc_id", rates)
      .withColumn("copy_id", explode(sequence(lit(0L), col("n_copies") - 1)))
      .select("doc_id", "source", "copy_id")
      .as[(Long, String, Long)].collect().toSet
    assert(direct == deferred)
  }

  test("Dedup.repetitionStats measures intra-doc n-gram repetition (Gopher filters)") {
    val df = Seq(
      (1L, "a a a b"),        // 2-grams: "a a","a a","a b" -> dup 1/3, top 2/3
      (2L, "x y z w"),        // all distinct -> dup 0, top 1/3
      (3L, "solo")            // < 2 tokens -> no grams, absent
    ).toDF("doc_id", "text")
    val out = Dedup.repetitionStats(df, "doc_id", "text", n = 2)
      .select("doc_id", "n_grams", "n_distinct", "top_count", "dup_gram_frac", "top_gram_frac")
      .as[(Long, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == ((1L, 3L, 2L, 2L, 1.0 / 3, 2.0 / 3)))
    assert(out(2L) == ((2L, 3L, 3L, 1L, 0.0, 1.0 / 3)))
  }

  test("Dedup.spanStats counts duplicate spans cross- AND intra-doc, keep-first (C4)") {
    val df = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8"),          // spans [t1-4],[t5-8]
      (2L, "t1 t2 t3 t4 q1 q2 q3 q4 q5"),       // [t1-4] dup of doc 1; trailing q5 dropped
      (3L, "u1 u2 u3 u4 u1 u2 u3 u4")           // intra-doc repeat: second copy is a dup
    ).toDF("doc_id", "text")
    val out = Dedup.spanStats(df, "doc_id", "text", w = 4)
      .select("doc_id", "n_spans", "n_dup_spans", "dup_span_frac")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 2L, 0L, 0.0)), "first occurrences are never dups")
    assert(out(2L) == ((2L, 2L, 1L, 0.5)), s"doc 2 shares [t1-4] with doc 1: $out")
    assert(out(3L) == ((3L, 2L, 1L, 0.5)), s"intra-doc repeat must count as dup: $out")
  }

  test("Dedup.spanDedupApply rebuilds docs from globally-first span occurrences") {
    val df = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8"),          // both spans first here
      (2L, "t1 t2 t3 t4 q1 q2 q3 q4 tail"),     // loses [t1-4], keeps [q1-4], drops tail
      (3L, "t1 t2 t3 t4 t5 t6 t7 t8"),          // every span owned by doc 1 -> vanishes
      (4L, "x1 x2 x3 x4 x1 x2 x3 x4")           // intra-doc repeat collapses to one copy
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedupApply(df, "doc_id", "text", w = 4)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out == Map(
      1L -> (("t1 t2 t3 t4 t5 t6 t7 t8", 2L)),
      2L -> (("q1 q2 q3 q4", 1L)),
      4L -> (("x1 x2 x3 x4", 1L))))
  }

  test("Sampling.chunkDocs carries passthrough columns onto every chunk row") {
    val df = Seq((1L, "wiki", 3L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"))
      .toDF("doc_id", "source", "n_copies", "text")
    val out = Sampling.chunkDocs(df, "doc_id", "text", 8, 2,
      carry = Seq("source", "n_copies"))
      .select("doc_id", "source", "n_copies", "chunk_id")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(out == Set((1L, "wiki", 3L, 0L), (1L, "wiki", 3L, 1L)))
    intercept[IllegalArgumentException] {
      Sampling.chunkDocs(df, "doc_id", "text", 8, 2, carry = Seq("chunk_text"))
    }
  }

  test("Dedup.evalOverlap counts eval-set n-gram hits per document") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),     // in eval -> ratio 1.0
      (2L, "alpha beta gamma zeta eta theta"),    // shares 1 of 4 shingles
      (3L, "totally unrelated words only here")   // no overlap
    ).toDF("doc_id", "text")
    val eval = docs.filter(col("doc_id") === 1L)
    val out = Dedup.evalOverlap(docs, eval, "doc_id", "text", n = 3, threshold = 0.8)
      .select("doc_id", "n_grams", "n_hit", "contaminated")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((3L, 3L, true)))
    assert(out(2L) == ((4L, 1L, false)))
    assert(out(3L) == ((3L, 0L, false)))
  }

  test("Dedup.evalOverlapBloom: no false negatives, FP rate within budget") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val hashes = Dedup.shingleHashTable(docs, "doc_id", "text", 3)
      .persist()
    val evalH = hashes.filter(col("doc_id") % 97 === 0).select(col("h1"))
    val exact = Dedup.evalOverlapFromHashes(hashes, evalH, "doc_id", 0.8)
      .select("doc_id", "n_grams", "n_hit")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val fpp = 0.01
    val bloom = Dedup.evalOverlapBloom(hashes, evalH, "doc_id", 0.8,
      expectedItems = 10000L, fpp = fpp)
      .select("doc_id", "n_grams", "n_hit")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    hashes.unpersist()
    assert(bloom.keySet == exact.keySet)
    // every true hit survives (Bloom filters have no false negatives)
    exact.foreach { case (id, (ng, nh)) =>
      assert(bloom(id)._1 == ng && bloom(id)._2 >= nh,
        s"doc $id lost hits: exact=$nh bloom=${bloom(id)._2}")
    }
    // false positives bounded: extra hits over all true-negative tests
    val extra = exact.keys.map(id => bloom(id)._2 - exact(id)._2).sum.toDouble
    val negatives = exact.values.map { case (ng, nh) => ng - nh }.sum.toDouble
    assert(extra / negatives <= 5 * fpp,
      s"FP rate ${extra / negatives} exceeds budget (fpp=$fpp)")
  }

  test("TextOps df sketch: one-sided estimates; tight sketch reproduces exact scoring") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val exactDf = docs
      .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("w"))
      .distinct().groupBy("w").agg(count(lit(1)).as("df"))
      .as[(String, Long)].collect().toMap
    // tight sketch: wide enough that the fixture vocabulary never collides
    val tight = TextOps.dfSketch(docs, "doc_id", "text", eps = 0.0001, confidence = 0.99)
    exactDf.foreach { case (w, c) =>
      assert(tight.estimateCount(w) == c, s"tight sketch off for '$w'")
    }
    val viaSketch = TextOps
      .rareTokenScoreSketch(docs, "doc_id", "text", tight, rareCap = 200L)
      .as[(Long, Long, Long, Double)].collect().toSet
    val exact = SparkEntry.queries("rare_token_score")(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(viaSketch == exact, "tight-sketch scoring must equal the exact query")
    // a deliberately tiny sketch collides, but CMS error is one-sided:
    // estimates never undercount, so rarity is never invented
    val loose = TextOps.dfSketch(docs, "doc_id", "text", eps = 0.5, confidence = 0.5)
    exactDf.foreach { case (w, c) =>
      assert(loose.estimateCount(w) >= c, s"CMS undercounted '$w'")
    }
  }

  test("Dedup.contamRatio (row-local) agrees with evalOverlap (aggregated)") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val evalSet = docs.filter(col("doc_id") % 7 === 0)
    val evalH1 = Dedup.shingleHashTable(evalSet, "doc_id", "text", 3)
      .select("h1").distinct().as[Long].collect().toSeq
    val rowLocal = docs.select(col("doc_id"),
      Dedup.contamRatio(col("text"), 3, evalH1).as("r"))
      .as[(Long, Double)].collect().toMap
    val agg = Dedup.evalOverlap(docs, evalSet, "doc_id", "text", 3, 0.8)
      .select(col("doc_id"), col("contam_ratio")).as[(Long, Double)].collect().toMap
    assert(agg.nonEmpty)
    // the aggregated path omits shingle-less docs; every doc it DOES
    // score must agree bit-for-bit with the row-local form
    agg.foreach { case (id, r) =>
      assert(math.abs(rowLocal(id) - r) < 1e-12, s"doc $id: ${rowLocal(id)} vs $r")
    }
    // eval members self-overlap fully
    assert(rowLocal.filter(_._1 % 7 == 0).values.forall(_ == 1.0))
    // a doc too short to shingle scores 0.0 (clean — no n-gram
    // evidence), so a `< threshold` stream gate KEEPS it, matching the
    // batch path, which never flags such docs
    val short = Seq((99L, "hi there")).toDF("doc_id", "text")
      .select(Dedup.contamRatio(col("text"), 3, evalH1)).head().getDouble(0)
    assert(short == 0.0)
  }

  test("Dedup.connectedComponents on an empty pair graph returns empty (no NPE)") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(empty, "doc_a", "doc_b").count() == 0L)
  }

  test("Dedup.connectedComponents with a reliable checkpoint dir agrees") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    try {
      // the driver finish (default cap) and the distributed rounds (cap 0)
      for (cap <- Seq(Dedup.DriverFinishEdges, 0L)) {
        val out = Dedup.connectedComponents(pairs, "doc_a", "doc_b", 20, Some(dir), cap)
          .as[(Long, Long)].collect().toSet
        assert(out == Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)), s"cap $cap")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("Similarity.quantizeInt8: codes in [-127,127], reconstruction within scale/2") {
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    val joined = q.join(
      emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v")), "vec_id")
    val bad = joined.select(
      exists(col("qvec"), c => abs(c) > 127).as("oob"),
      exists(zip_with(col("v"), col("qvec"),
        (x, c) => abs(x - c * col("scale")) > col("scale") / 2 + 1e-12), b => b).as("err"))
      .filter(col("oob") || col("err")).count()
    assert(bad == 0L, "quantization out of bounds or reconstruction error > scale/2")
    // all-zero vector: scale 0, all-zero codes
    val z = Similarity.quantizeInt8(
      Seq((1L, Array(0f, 0f, 0f))).toDF("vec_id", "embedding"), "vec_id", "embedding")
      .select("scale", "qvec").as[(Double, Seq[Int])].head()
    assert(z == ((0.0, Seq(0, 0, 0))))
  }

  test("Similarity.ivfTopK approximates brute-force top-k") {
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = emb.filter(col("vec_id") % 50 === 0)
    val bf = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5, 16, 4, rep = 4)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = bf.intersect(ivf).size.toDouble / bf.size
    assert(recall >= 0.9, s"IVF recall $recall too low at nProbe=4: " +
      s"missed ${bf.diff(ivf)}")
  }

  test("Similarity.hardNegatives excludes self and same-label candidates") {
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = emb.filter(col("vec_id") % 50 === 0)
    val hn = Similarity.hardNegatives(emb, q, "vec_id", "embedding", "label", k = 5)
    val labels = emb.select(col("vec_id").cast("long"), col("label"))
      .as[(Long, Int)].collect().toMap
    val rows = hn.select("q_id", "n_id", "rnk").as[(Long, Long, Int)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (qid, nid, _) =>
      assert(qid != nid, s"self pair $qid")
      assert(labels(qid) != labels(nid), s"same-label negative ($qid, $nid)")
    }
    // every query with >= 5 other-label candidates gets exactly 5
    val perQ = rows.groupBy(_._1).view.mapValues(_.length)
    perQ.foreach { case (qid, n) => assert(n == 5, s"query $qid got $n negatives") }
  }

  test("Similarity.knnClassify votes the majority label; 2-2 ties take the smaller label") {
    // base = 5 vectors, so every query sees exactly these as neighbors:
    // two label-0 near e1, two label-1 near e2, one label-7 off-axis
    val base = Seq(
      (10L, Array(1f, 0f, 0f), 0),
      (11L, Array(0.9f, 0.1f, 0f), 0),
      (12L, Array(0f, 1f, 0f), 1),
      (13L, Array(0.1f, 0.9f, 0f), 1),
      (14L, Array(0f, 0f, 1f), 7)
    ).toDF("vec_id", "embedding", "label")
    // q20 sits in cluster 0 -> majority 0; q21 is equidistant from both
    // clusters -> 2-2-1 vote, smaller label (0) wins the tie
    val q = Seq(
      (20L, Array(1f, 0.05f, 0f), 0),
      (21L, Array(1f, 1f, 0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnClassify(base, q, "vec_id", "embedding", "label", k = 5)
      .select("q_id", "pred_label", "correct").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(20L) == ((0L, 1L)), s"cluster-0 query: ${out(20L)}")
    assert(out(21L) == ((0L, 0L)), s"tie query should take label 0: ${out(21L)}")
  }

  test("Similarity.dimStats: exact per-dimension integer stats") {
    // dim 0: q = (1000000, -500000) ; dim 1: q = (0, 250000)
    val df = Seq(
      (1L, Array(1f, 0f)),
      (2L, Array(-0.5f, 0.25f))
    ).toDF("vec_id", "embedding")
    val rows = Similarity.dimStats(df, "embedding").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(6)))).toMap
    assert(rows(0L) == ((2L, 500000L, -500000L, 1000000L, 0L,
      "1250000000000")), s"dim 0: ${rows(0L)}")
    assert(rows(1L) == ((2L, 250000L, 0L, 250000L, 1L,
      "62500000000")), s"dim 1: ${rows(1L)}")
  }

  test("Similarity.bitextMine aligns a planted translation and drops ambiguous sources") {
    // four sources are exact copies of distinct targets — true
    // "translations" the margin surfaces at 1/(1/8 + 1.5/8) = 3.2; the
    // fifth is a hub equidistant from every target, whose margin
    // .5/(.25 + .1875) ≈ 1.14 stays under the bar and is dropped
    val src = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)),
      (4L, Array(0f, 0f, 1f, 0f)),
      (6L, Array(0f, 0f, 0f, 1f)),
      (8L, Array(0.5f, 0.5f, 0.5f, 0.5f))
    ).toDF("vec_id", "embedding")
    val tgt = Seq(
      (101L, Array(1f, 0f, 0f, 0f)),
      (103L, Array(0f, 1f, 0f, 0f)),
      (105L, Array(0f, 0f, 1f, 0f)),
      (107L, Array(0f, 0f, 0f, 1f))
    ).toDF("vec_id", "embedding")
    val mined = Similarity.bitextMine(src, tgt, "vec_id", "embedding",
        k = 4, threshold = 1.3)
      .as[(Long, Long)].collect().toSet
    assert(mined == Set((0L, 101L), (2L, 103L), (4L, 105L), (6L, 107L)),
      s"mined $mined")
  }

  test("Similarity.kmeansCodebook: unit-norm centroids, stable across partitionings") {
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val cb = Similarity.kmeansCodebook(emb, "vec_id", "embedding", nCells = 16, iters = 2)
    assert(cb.size == 16 && cb.map(_._1) == (0L until 16L))
    cb.foreach { case (_, v) =>
      val n = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-12, s"centroid norm $n not unit")
    }
    // the bit-reproducibility the oracle depends on: a different
    // partitioning must yield the IDENTICAL doubles (integer sums are
    // order-free; float VecSum training would fail this)
    val cb2 = Similarity.kmeansCodebook(emb.repartition(7), "vec_id", "embedding",
      nCells = 16, iters = 2)
    assert(cb.map(_._2.toSeq) == cb2.map(_._2.toSeq),
      "centroids drifted across partitionings")
  }

  test("Similarity: a persisted IVF index probes to the one-shot ivfTopK result") {
    // index/probe split (the serving shape): train+assign once, then a
    // query batch touches the index via one equi-join only — results
    // must be identical to the fused call with the same parameters
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = emb.filter(col("vec_id") % 50 === 0)
    val fused = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5, 16, 4, rep = 4)
      .select("q_id", "n_id", "rnk").as[(Long, Long, Int)].collect().toSet
    val (cb, assigned) = Similarity.buildIvfIndex(emb, "vec_id", "embedding",
      nCells = 16, rep = 4)
    val idx = assigned.persist()
    try {
      val probed = Similarity.probeIvf(cb, idx, q, "vec_id", "embedding", 5,
        nProbe = 4)
        .select("q_id", "n_id", "rnk").as[(Long, Long, Int)].collect().toSet
      assert(probed == fused,
        s"probe diverged from fused: ${probed.diff(fused)} / ${fused.diff(probed)}")
    } finally idx.unpersist(false)
  }

  test("Similarity candidate-fed lanes == brute force at full probing (algebraic identity)") {
    // with nProbe = nCells every cell is probed, so every assigned
    // vector is a candidate for every query — the candidate-fed tails
    // must then equal their brute-force counterparts EXACTLY (same
    // sims, same aggregator tie rules), which pins that switching the
    // declared lanes to IVF candidates changed the candidate generator
    // and nothing else
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val cb = Similarity.kmeansCodebook(emb, "vec_id", "embedding", nCells = 16, iters = 2)
    val assigned = Similarity.assignCells(
      emb.select(col("vec_id").cast("long").as("n_id"),
        col("embedding").as("nv"), col("label").as("n_lab")),
      "n_id", "nv", cb, rep = 4)
    val q50 = emb.filter(col("vec_id") % 50 === 0)

    // 1. exact top-k
    val candTopK = Similarity.topKFromCandidates(
      Similarity.ivfCandidates(cb, assigned,
        q50.select("vec_id", "embedding"), "vec_id", "embedding",
        nProbe = 16, broadcastProbes = false), k = 5)
      .select("q_id", "n_id", "rnk").as[(Long, Long, Int)].collect().toSet
    val bfTopK = Similarity.bruteForceTopK(emb, q50, "vec_id", "embedding", 5)
      .select("q_id", "n_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(candTopK == bfTopK, s"top-k diverged: ${candTopK.diff(bfTopK)}")

    // 2. hard negatives (labels ride the candidate rows)
    val candHn = Similarity.hardNegativesFromCandidates(
      Similarity.ivfCandidates(cb, assigned,
        q50.select(col("vec_id"), col("embedding"), col("label").as("q_lab")),
        "vec_id", "embedding", nProbe = 16), k = 5)
      .select("q_id", "n_id", "rnk").as[(Long, Long, Int)].collect().toSet
    val bfHn = Similarity.hardNegatives(emb, q50, "vec_id", "embedding", "label", k = 5)
      .select("q_id", "n_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(candHn == bfHn, s"hard negatives diverged: ${candHn.diff(bfHn)}")

    // 3. k-NN vote
    val q5 = emb.filter(col("vec_id") % 5 === 0)
    val candVote = Similarity.knnVote(
      Similarity.topKFromCandidates(
        Similarity.ivfCandidates(cb, assigned,
          q5.select("vec_id", "embedding"), "vec_id", "embedding",
          nProbe = 16, broadcastProbes = false), k = 5),
      emb.select(col("vec_id").cast("long").as("n_id"),
        col("label").cast("long").as("n_lab")),
      q5.select(col("vec_id").cast("long").as("q_id"),
        col("label").cast("long").as("label")))
      .as[(Long, Long, Long, Long)].collect().toSet
    val bfVote = Similarity.knnClassify(emb, q5, "vec_id", "embedding", "label", k = 5)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(candVote == bfVote, s"knn vote diverged: ${candVote.diff(bfVote)}")

    // 4. bitext margin (full-probe candidates from BOTH directions)
    val src = emb.filter(col("vec_id") % 2 === 0)
    val tgt = emb.filter(col("vec_id") % 2 === 1)
    def halfIndex(h: DataFrame) = {
      val c = Similarity.kmeansCodebook(h, "vec_id", "embedding", nCells = 16, iters = 2)
      (c, Similarity.assignCells(
        h.select(col("vec_id").cast("long").as("n_id"), col("embedding").as("nv")),
        "n_id", "nv", c, rep = 4))
    }
    val (cbT, asgT) = halfIndex(tgt)
    val (cbS, asgS) = halfIndex(src)
    val c1 = Similarity.ivfCandidates(cbT, asgT, src.select("vec_id", "embedding"),
        "vec_id", "embedding", nProbe = 16, broadcastProbes = false)
      .select(col("q_id").as("src_id"), col("n_id").as("tgt_id"))
    val c2 = Similarity.ivfCandidates(cbS, asgS, tgt.select("vec_id", "embedding"),
        "vec_id", "embedding", nProbe = 16, broadcastProbes = false)
      .select(col("n_id").as("src_id"), col("q_id").as("tgt_id"))
    val candMine = Similarity.bitextMineFromCandidates(src, tgt, "vec_id", "embedding",
        c1.union(c2), k = 4, threshold = 1.05)
      .as[(Long, Long)].collect().toSet
    val bfMine = Similarity.bitextMine(src, tgt, "vec_id", "embedding",
        k = 4, threshold = 1.05)
      .as[(Long, Long)].collect().toSet
    assert(candMine == bfMine, s"bitext diverged: ${candMine.diff(bfMine)}")
  }

  test("Similarity.bitextMineIvf defaults to mining cell sizing; equals bitextMine at full probe") {
    // the sizing law: cells ∝ n (max(16, n/32)) — constant expected
    // cell population as both corpora grow, CAPPED at MiningCellsCap:
    // past ~32·cap rows/side the flat-codebook shape is the wrong
    // operator (its n·cells assign term is quadratic when cells ∝ n)
    // and bitextMineLsh is the scale path. The cap also keeps the
    // Int conversion overflow-safe at any corpus size.
    assert(Similarity.miningCells(100L) == 16)
    assert(Similarity.miningCells(512L) == 16)
    assert(Similarity.miningCells(3200L) == 100)
    assert(Similarity.miningCells(64000L) == 2000)
    assert(Similarity.miningCells(10000000L) == Similarity.MiningCellsCap)
    assert(Similarity.miningCells(Long.MaxValue) == Similarity.MiningCellsCap)
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val src = emb.filter(col("vec_id") % 2 === 0)
    val tgt = emb.filter(col("vec_id") % 2 === 1)
    // 125 rows/side -> miningCells = 16 cells; nProbe = 16 probes them
    // all, so the wrapper must equal brute force exactly
    val ivf = Similarity.bitextMineIvf(src, tgt, "vec_id", "embedding",
        k = 4, threshold = 1.05, nProbe = 16)
      .as[(Long, Long)].collect().toSet
    val bf = Similarity.bitextMine(src, tgt, "vec_id", "embedding",
        k = 4, threshold = 1.05)
      .as[(Long, Long)].collect().toSet
    assert(ivf == bf, s"bitextMineIvf diverged: ${ivf.diff(bf)} / ${bf.diff(ivf)}")
  }

  test("Similarity.bitextMineLsh: miningBits law, brute-force limit, deterministic blocking") {
    // the sizing law: bits = ceil(log2(n/32)) — buckets double as the
    // corpus doubles, holding expected bucket population ≈ 32, so
    // candidate volume is linear while assignment stays a pure
    // O(n·bits·dim) projection (no codebook, no n·cells scan — the
    // fix for the r10 flat-codebook quadratic assign term)
    assert(Similarity.miningBits(32L) == 0)
    assert(Similarity.miningBits(64L) == 1)
    assert(Similarity.miningBits(1024L) == 5)
    assert(Similarity.miningBits(1025L) == 6)
    assert(Similarity.miningBits(1000000L) == 15)
    assert(Similarity.miningBits(Long.MaxValue) == 30)
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val src = emb.filter(col("vec_id") % 2 === 0)
    val tgt = emb.filter(col("vec_id") % 2 === 1)
    // bits = 0, tables = 1: a single shared bucket — every cross pair
    // is a candidate, so the result must equal bitextMine EXACTLY
    // (same sims, same rank-pivoted neighborhood averages, same tie
    // rules) — pinning that the LSH path changed candidate generation
    // and nothing else
    val lsh0 = Similarity.bitextMineLsh(src, tgt, "vec_id", "embedding",
        k = 4, threshold = 1.05, bits = 0, tables = 1)
      .as[(Long, Long)].collect().toSet
    val bf = Similarity.bitextMine(src, tgt, "vec_id", "embedding",
        k = 4, threshold = 1.05)
      .as[(Long, Long)].collect().toSet
    assert(lsh0 == bf, s"bitextMineLsh diverged at the brute-force " +
      s"limit: ${lsh0.diff(bf)} / ${bf.diff(lsh0)}")
    // the declared lane's pinned shape: deterministic across
    // partitionings (md5-parity planes + fixed-order sums — the
    // property the DuckDB oracle depends on), and aligned src->tgt
    val lsh = Similarity.bitextMineLsh(src, tgt, "vec_id", "embedding",
        k = 4, threshold = 1.05, bits = 3, tables = 4)
      .as[(Long, Long)].collect().toSet
    val lsh2 = Similarity.bitextMineLsh(src.repartition(7), tgt.repartition(5),
        "vec_id", "embedding", k = 4, threshold = 1.05, bits = 3, tables = 4)
      .as[(Long, Long)].collect().toSet
    assert(lsh == lsh2, "sign-LSH mining drifted across partitionings")
    assert(lsh.nonEmpty && lsh.forall { case (s, t) => s % 2 == 0 && t % 2 == 1 })
    val cells = emb.select(col("vec_id"),
        Similarity.signLshCells(col("embedding"), 64, 8, 2).as("c"))
      .as[(Long, Seq[Long])].collect()
    assert(cells.forall(_._2.length == 2))
    assert(cells.forall(_._2.forall(c => c >= 0 && c < 256)))
  }

  test("Similarity sign-LSH pair/knn variants: brute-force limit, subset law, recall") {
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    // bits = 0, tables = 1: one shared bucket — candidates are ALL
    // pairs, so both variants must equal their exact counterparts
    // (pins that the sign blocking changed candidate generation and
    // nothing else — the bitextMineLsh law, for this family)
    val thr = 0.3
    val exactPairs = Similarity.cosinePairs(emb, "vec_id", "embedding", thr)
      .as[(Long, Long)].collect().toSet
    val sign0 = Similarity.cosinePairsSignLsh(emb, "vec_id", "embedding", thr,
        bits = 0, tables = 1)
      .as[(Long, Long)].collect().toSet
    assert(sign0 == exactPairs,
      s"sign-LSH pairs diverged at the all-pairs limit: ${sign0.size} vs ${exactPairs.size}")
    val knnSign0 = Similarity.knnJoinSignLsh(emb, "vec_id", "embedding", k = 5,
        bits = 0, tables = 1)
      .select("q_id", "n_id", "rnk").as[(Long, Long, Int)].collect().toSet
    val knnBf = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", 5)
      .select("q_id", "n_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(knnSign0 == knnBf,
      s"sign-LSH knn diverged at the all-pairs limit: ${knnSign0.diff(knnBf)}")
    // working shape on the fixture's top-40 pair threshold: candidates
    // verify by EXACT cosine, so blocked ⊆ exact always; recall follows
    // the hyperplane law 1 − (1 − p^bits)^tables, p = 1 − θ/π
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val thr40 = a.join(b, col("ia") < col("ib"))
      .select(Similarity.cosine(col("va"), col("vb")).as("sim"))
      .orderBy(desc("sim")).limit(40)
      .agg(min(col("sim"))).head().getDouble(0)
    val exact40 = Similarity.cosinePairs(emb, "vec_id", "embedding", thr40)
      .as[(Long, Long)].collect().toSet
    val signed = Similarity.cosinePairsSignLsh(emb, "vec_id", "embedding", thr40,
        bits = 4, tables = 8)
      .as[(Long, Long)].collect().toSet
    assert(signed.subsetOf(exact40), "sign blocking must not invent pairs")
    val recall = signed.size.toDouble / exact40.size
    assert(recall >= 0.6, s"sign-LSH recall $recall too low (${exact40.size} exact)")
    // determinism across partitionings (the md5-parity plane law)
    val signed2 = Similarity.cosinePairsSignLsh(emb.repartition(7),
        "vec_id", "embedding", thr40, bits = 4, tables = 8)
      .as[(Long, Long)].collect().toSet
    assert(signed == signed2, "sign blocking drifted across partitionings")
    // sizing law
    assert(Similarity.pairBits(64L) == 0)
    assert(Similarity.pairBits(2000L) == 5)
    assert(Similarity.pairBits(Long.MaxValue) == 30)
  }

  test("requireSmallSide escape hatch: spark.graft.bruteForce.maxRows <= 0 disables the guard") {
    // the guard reads sizeInBytes when no rowCount statistic exists, and
    // a Filter does not reduce sizeInBytes — so a legitimately bounded
    // filtered batch can estimate at full-table size; the conf is the
    // documented way out (plan-time only: nothing executes here)
    val big = spark.range(50000000L)
      .select(col("id").as("vec_id"),
        array(lit(1.0), lit(0.0)).as("embedding"),
        (col("id") % 2).as("label"))
    val small = big.limit(4)
    intercept[IllegalArgumentException] {
      Similarity.hardNegatives(small, big, "vec_id", "embedding", "label", 3)
    }
    spark.conf.set(Similarity.BruteForceMaxRowsConf, "0")
    try {
      // guard off: planning succeeds (the quadratic plan is the
      // caller's informed choice); nothing is executed
      Similarity.hardNegatives(small, big, "vec_id", "embedding", "label", 3)
    } finally spark.conf.unset(Similarity.BruteForceMaxRowsConf)
    // and back on after unset
    intercept[IllegalArgumentException] {
      Similarity.knnClassify(small, big, "vec_id", "embedding", "label", 3)
    }
  }

  test("expression-backed Column wrappers work without GraftExtensions registration") {
    // ieee_ln / byte_hist / dot_product build their Columns from the
    // Catalyst expressions directly, so library entry points
    // (Sketches.portableEstimate, Multimodal.byteEntropyRelational,
    // the whole Similarity family) do not depend on the SQL-name
    // registry — proven by dropping the registrations and using the
    // Column API anyway
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val reg = spark.sessionState.functionRegistry
    val dropped = Seq("ieee_ln", "byte_hist", "dot_product")
    dropped.foreach(f => reg.dropFunction(FunctionIdentifier(f)))
    try {
      val r = spark.range(1).select(
        graft.functions.MathExpressions.ieee_ln(lit(3.0)).as("ln"),
        graft.functions.MediaExpressions.byte_hist(
          lit(Array[Byte](1, 1, 2))).as("bh"),
        graft.functions.VectorExpressions.dot_product(
          array(lit(1.0), lit(2.0)), array(lit(3.0), lit(4.0))).as("dp"))
        .head()
      assert(r.getDouble(0) == java.lang.Math.log(3.0))
      assert(r.getSeq[Long](1)(1) == 2L && r.getSeq[Long](1)(2) == 1L)
      assert(r.getDouble(2) == 11.0)
    } finally {
      // restore for any later spec that goes through spark.sql(...)
      Seq(graft.functions.MathExpressions.ieeeLnFunction,
          graft.functions.MediaExpressions.byteHistFunction,
          graft.functions.VectorExpressions.dotProductFunction)
        .foreach { case (id, info, builder) =>
          reg.registerFunction(id, info, builder)
        }
    }
  }

  test("ivfCandidates keeps cross-corpus pairs whose numeric ids collide") {
    // src and tgt each 0-indexed (the common real-world case): an
    // id-colliding (q_id == n_id) pair is a GENUINE cross-corpus
    // candidate and must survive candidate generation; only the
    // same-corpus scoring tails drop self-pairs
    val vecs = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.9, 0.1)))
      .toDF("vec_id", "embedding")
    val cb = Seq((0L, Array(1.0, 0.0)))
    val assigned = Similarity.assignCells(
      vecs.select(col("vec_id").as("n_id"), col("embedding").as("nv")),
      "n_id", "nv", cb, rep = 1)
    val cands = Similarity.ivfCandidates(cb, assigned,
      vecs.select("vec_id", "embedding"), "vec_id", "embedding", nProbe = 1)
    // both corpora carry ids {0, 1}: all 4 (q, n) pairs survive,
    // including the colliding (0,0) and (1,1)
    assert(cands.select("q_id", "n_id").as[(Long, Long)].collect().toSet ==
      Set((0L, 0L), (0L, 1L), (1L, 0L), (1L, 1L)))
    // and the same-corpus tail still drops self-pairs row-locally
    val topk = Similarity.topKFromCandidates(cands, 2)
      .select("q_id", "n_id").as[(Long, Long)].collect()
    assert(topk.nonEmpty && !topk.exists { case (q, n) => q == n })
  }

  test("Dedup.substringStats / substringDedupApply: Lee-et-al exact-substring laws") {
    val rep = (1 to 12).map(i => s"r$i").mkString(" ")   // 12-token block
    val rq = (1 to 12).map(i => s"q$i").mkString(" ")    // disjoint vocab
    val docs = Seq(
      (1L, s"a1 a2 a3 $rep b1 b2"),  // global first occurrence of rep
      (2L, s"c1 $rep d1 d2 d3"),     // later occurrence, MISALIGNED offset
      (3L, rep),                     // doc that is nothing but the dup
      (4L, s"$rep e1 $rep"),         // both copies non-first (doc 1 owns)
      (5L, "x1 x2 x3 x4 x5"),        // < w tokens: no grams, untouched
      (6L, s"$rq f1 $rq")            // INTRA-doc repeat: keep the first
    ).toDF("doc_id", "text")
    val kept = Dedup.substringDedupApply(docs, "doc_id", "text", w = 10)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // the owner keeps its text; a later occurrence loses EXACTLY the
    // repeated tokens at any alignment (span_dedup's fixed grid can't)
    assert(kept(1L)._1 == s"a1 a2 a3 $rep b1 b2")
    assert(kept(2L)._1 == "c1 d1 d2 d3")
    assert(!kept.contains(3L), "fully-duplicate doc must vanish")
    assert(kept(4L)._1 == "e1", "both copies are non-first: only the glue survives")
    assert(kept(5L)._1 == "x1 x2 x3 x4 x5")
    // remove-all-but-FIRST holds within one document too
    assert(kept(6L)._1 == s"$rq f1")
    // accounting ≡ apply: n_removed_tokens == n_tokens − n_kept per doc
    val stats = Dedup.substringStats(docs, "doc_id", "text", w = 10).collect()
    assert(stats.length == 6)
    stats.foreach { r =>
      val (id, nTok, nRem) = (r.getLong(0), r.getLong(1), r.getLong(3))
      val nKept = kept.get(id).map(_._2).getOrElse(0L)
      assert(nRem == nTok - nKept, s"doc $id: removed $nRem != $nTok - $nKept")
    }
  }

  test("Dedup.substringDecontamStats / -Apply: exact shared-span decontamination laws") {
    val bench = (1 to 12).map(i => s"b$i").mkString(" ")  // a "benchmark question"
    val evalDf = Seq(Tuple1(bench)).toDF("text")
    val docs = Seq(
      (1L, s"intro words here $bench and unrelated analysis a1 a2 a3"), // quotes it
      (2L, bench),                                                      // IS the benchmark
      (3L, "clean c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11")                  // untouched
    ).toDF("doc_id", "text")
    val kept = Dedup.substringDecontamApply(docs, "doc_id", "text",
        evalDf, "text", w = 10)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // the quoting doc loses EXACTLY the benchmark span, keeps the rest
    assert(kept(1L)._1 == "intro words here and unrelated analysis a1 a2 a3")
    assert(!kept.contains(2L), "a doc that IS benchmark text must vanish")
    assert(kept(3L)._1 == "clean c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11")
    // accounting ≡ apply, per doc
    val stats = Dedup.substringDecontamStats(docs, "doc_id", "text",
      evalDf, "text", w = 10).collect()
    stats.foreach { r =>
      val (id, nTok, nCov) = (r.getLong(0), r.getLong(1), r.getLong(3))
      val nKept = kept.get(id).map(_._2).getOrElse(0L)
      assert(nCov == nTok - nKept, s"doc $id: covered $nCov != $nTok - $nKept")
    }
  }

  test("brute-force mining forms refuse a corpus-sized broadcast side") {
    // the guard reads optimizer stats — no job runs, the require fires
    // at plan time (50M-row range: nothing materializes)
    val big = spark.range(50000000L)
      .select(col("id").as("vec_id"),
        array(lit(1.0), lit(0.0)).as("embedding"),
        (col("id") % 2).as("label"))
    val small = big.limit(4)
    val e1 = intercept[IllegalArgumentException] {
      Similarity.bitextMine(small, big, "vec_id", "embedding")
    }
    assert(e1.getMessage.contains("bitextMineIvf"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.hardNegatives(small, big, "vec_id", "embedding", "label", 3)
    }
    assert(e2.getMessage.contains("hardNegativesFromCandidates"))
    val e3 = intercept[IllegalArgumentException] {
      Similarity.knnClassify(small, big, "vec_id", "embedding", "label", 3)
    }
    assert(e3.getMessage.contains("topKFromCandidates"))
  }

  test("Similarity.cosinePairsBlocked finds near-dup pairs without the all-pairs join") {
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    // the fixture has no planted vector dups: use the sim of the 40th
    // most-similar pair as the "near-dup" threshold
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val thr = a.join(b, col("ia") < col("ib"))
      .select(Similarity.cosine(col("va"), col("vb")).as("sim"))
      .orderBy(desc("sim")).limit(40)
      .agg(min(col("sim"))).head().getDouble(0)
    val exact = Similarity.cosinePairs(emb, "vec_id", "embedding", thr)
      .as[(Long, Long)].collect().toSet
    val blocked = Similarity.cosinePairsBlocked(emb, "vec_id", "embedding", thr, 16, rep = 4)
      .as[(Long, Long)].collect().toSet
    assert(blocked.subsetOf(exact), "blocking must not invent pairs")
    assert(exact.size >= 40, "threshold must yield pairs for a meaningful test")
    val recall = blocked.size.toDouble / exact.size
    assert(recall >= 0.8, s"cell-blocked recall $recall too low (${exact.size} exact)")
  }

  test("Similarity.cosinePairsLsh: declared-query config has recall >= 0.9 vs exact") {
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val exact = Similarity.cosinePairs(emb, "vec_id", "embedding", 0.3)
      .as[(Long, Long)].collect().toSet
    val lsh = Similarity.cosinePairsLsh(emb, "vec_id", "embedding", 0.3,
      nCells = 32, rep = 2, tables = 6)
      .as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "threshold must yield pairs for a meaningful test")
    assert(lsh.subsetOf(exact), "blocking must not invent pairs")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH-blocked recall $recall too low (${exact.size} exact)")
  }

  test("Similarity.cosinePairsLsh blocks planted near-dups tightly") {
    // true near-dups (cosine ~1, the production near-dup regime, which
    // the driver fixture lacks): a light blocking config suffices —
    // near-identical vectors land in the same top cell almost surely,
    // so recall stays high at a small candidate fraction (unlike the
    // sim~0.3 pairs above, which need the heavy multi-table union)
    val base = (0L until 200L).map { i =>
      val r = new scala.util.Random(i)
      (i, Array.fill(64)(r.nextGaussian().toFloat))
    }
    val dups = base.map { case (i, v) =>
      (i + 1000L, v.map(x => x * 1.01f + 0.001f))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val expected = base.map { case (i, _) => (i, i + 1000L) }.toSet
    val pairs = Similarity.cosinePairsLsh(df, "vec_id", "embedding", 0.99,
      nCells = 16, rep = 1, tables = 2)
      .as[(Long, Long)].collect().toSet
    // 64-dim gaussians are near-orthogonal: nothing but the planted
    // pairs can clear cosine 0.99
    assert(pairs.subsetOf(expected), s"invented pairs: ${pairs.diff(expected)}")
    val recall = pairs.size.toDouble / expected.size
    assert(recall >= 0.95, s"planted-dup recall $recall too low")
  }

  test("Similarity.estimateRows sizes the codebook without running a job") {
    // a plan whose EXECUTION would throw: if sizing ever regresses to
    // an action (the old base.count()), this test fails loudly
    val boom = udf((id: Long) => {
      if (id > Long.MinValue) throw new IllegalStateException("estimateRows ran a job")
      true
    })
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(boom(col("vec_id")))
    val n = Similarity.estimateRows(emb)
    assert(n > 0, s"estimate must be positive, got $n")
  }

  test("CappedDistinct caps string values (UniqValueCount's actual shape)") {
    val df = spark.range(120).select(
      (col("id") % 2).as("k"), concat(lit("u"), col("id")).as("s"))
    val out = df.groupBy("k")
      .agg(Aggregators.cappedDistinctString(col("s"), 10).as("c"))
      .as[(Long, Long)].collect().toMap
    assert(out == Map(0L -> 10L, 1L -> 10L), s"cap must bite: $out")
    // below the cap the count is exact
    val small = spark.range(6).select(
      lit(0L).as("k"), concat(lit("u"), col("id") % 3).as("s"))
    val o2 = small.groupBy("k")
      .agg(Aggregators.cappedDistinctString(col("s"), 10).as("c"))
      .as[(Long, Long)].collect().toMap
    assert(o2 == Map(0L -> 3L))
  }

  test("TopKByScore keeps the max score for a duplicate id") {
    val agg = Aggregators.TopKByScore(2)
    val b = Seq((0.1, 10L), (0.9, 10L), (0.5, 20L), (0.2, 30L))
      .foldLeft(agg.zero)(agg.reduce)
    // id 10 must rank by its BEST score (0.9), not its first-seen 0.1
    assert(agg.finish(b) == Seq(10L, 20L))
  }

  test("Sampling.stratifiedSample is deterministic, fixed-size, and partition-independent") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val a = Sampling.stratifiedSample(docs, "source", "doc_id", 5)
      .as[(String, Long)].collect().toSet
    val b = Sampling.stratifiedSample(docs.repartition(13), "source", "doc_id", 5)
      .as[(String, Long)].collect().toSet
    assert(a == b, "sample must not depend on partitioning")
    val perStratum = a.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perStratum.values.forall(_ == 5), s"per-stratum sizes: $perStratum")
  }

  test("Sampling.packBySize: packs respect order, budget boundaries, and totals") {
    val df = Seq.tabulate(20)(i => ("s", i.toLong, 100L))
      .toDF("src", "id", "toks")
    val packs = Sampling.packBySize(df, "src", "id", col("toks"),
      budget = 300, shards = 1)
      .select("pack_id", "n_docs", "tok_sum")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // 20 docs x 100 tokens, 300-token budget: packs of 3 (prior sums
    // 0,100,200 -> pack 0; 300,400,500 -> pack 1; ...), 2 left over
    assert(packs.map(_._2).toSeq == Seq.fill(6)(3L) :+ 2L, packs.mkString(","))
    assert(packs.map(_._3).sum == 2000L, "no tokens lost")
  }

  test("AsofJoin matches each left row to the latest at-or-before right row") {
    val left = Seq((1L, 10L, 100L), (1L, 20L, 101L), (2L, 5L, 102L))
      .toDF("k", "ts", "lid")
    val right = Seq((1L, 10L, 7L), (1L, 15L, 8L), (2L, 9L, 9L))
      .toDF("k", "ts", "rid")
    val out = AsofJoin.asof(left, right, "k", "ts", "ts", "rid")
      .select("lid", "asof_rid").as[(Long, Option[Long])].collect().toMap
    // equal-ts right row IS visible (<=); the latest prior wins; a left
    // row before any right row gets null
    assert(out == Map(100L -> Some(7L), 101L -> Some(8L), 102L -> None))
  }

  test("RangeJoin.pointInInterval: boundary containment, intervals spanning bins") {
    val pts = Seq((1L, 5L, 100L), (1L, 10L, 101L), (1L, 25L, 102L), (2L, 7L, 103L))
      .toDF("k", "p", "pid")
    val iv = Seq((1L, 5L, 10L, 1000L), (1L, 20L, 40L, 1001L), (2L, 8L, 9L, 1002L))
      .toDF("k", "lo", "hi", "iid")
    val out = RangeJoin.pointInInterval(pts, iv, "k", "p", "lo", "hi", binSize = 4)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    // lo and hi boundaries are inclusive; the [20,40] interval spans
    // multiple bins yet matches once; key 2's point is outside [8,9]
    assert(out == Set((100L, 1000L), (101L, 1000L), (102L, 1001L)))
  }

  test("Dedup.connectedComponents labels every node with its component minimum") {
    val pairs = Seq((2L, 1L), (2L, 3L), (7L, 8L), (10L, 9L)).toDF("doc_a", "doc_b")
    val out = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L,
      9L -> 9L, 10L -> 9L))
    // a path graph is the worst case for plain propagation
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val c2 = Dedup.connectedComponents(chain, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(c2.keySet == (1L to 6L).toSet && c2.values.toSet == Set(1L), c2.toString)
    // pointer doubling: a 300-node path converges inside the default 20
    // rounds (plain min-propagation needs diameter ≈ 300 rounds) — the
    // chain-shaped dup cluster a crawl's mirror sprawl produces
    val longChain = (1L until 300L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val c3 = Dedup.connectedComponents(longChain, "doc_a", "doc_b")
      .as[(Long, Long)].collect()
    assert(c3.length == 300 && c3.forall(_._2 == 1L),
      s"long chain not fully labeled: ${c3.filter(_._2 != 1L).take(5).toSeq}")
  }

  test("Pca.topComponent recovers a planted single-variance direction exactly") {
    // variance lives ONLY in dim 2 (q = ±1e6, mean 0): the covariance
    // matrix is c22 = 1e12 with zeros elsewhere, so the iteration lands
    // on e_2 exactly (no rounding — every intermediate is a clean
    // power-of-structure double) and lambda = c22
    val d = Seq(
      Tuple1(Array(0f, 0f, 1f, 0f)), Tuple1(Array(0f, 0f, -1f, 0f)),
      Tuple1(Array(0f, 0f, 1f, 0f)), Tuple1(Array(0f, 0f, -1f, 0f))
    ).toDF("embedding")
    val rows = Pca.topComponent(d, "embedding", dim = 4).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    (0 until 4).foreach { i =>
      assert(rows(i.toLong)._1 == 0.0, s"mean dim $i: ${rows(i.toLong)}")
    }
    assert(rows(2L)._2 == 1.0 && rows(0L)._2 == 0.0 && rows(1L)._2 == 0.0 &&
      rows(3L)._2 == 0.0, rows.toString)
    assert(rows(0L)._3 == 1.0e12, s"lambda: ${rows(0L)._3}")
  }

  test("Pca guards: short vectors and an empty component fail fast") {
    val short = Seq(Tuple1(Array(1f, 2f))).toDF("embedding")
    val e1 = intercept[IllegalArgumentException] {
      Pca.topComponent(short, "embedding", dim = 4)
    }
    assert(e1.getMessage.contains("shorter than dim"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Pca.removeTop(short, "vec_id", "embedding", Seq.empty)
    }
    assert(e2.getMessage.contains("empty component"), e2.getMessage)
  }

  test("Pca.removeTop zeroes the fitted direction, leaves the rest exact") {
    val d = Seq(
      (1L, Array(0f, 0f, 1f, 0f)), (2L, Array(0f, 0f, -1f, 0f)),
      (3L, Array(0.25f, 0f, 1f, 0f)), (4L, Array(0f, 0f, -1f, 0.5f))
    ).toDF("vec_id", "embedding")
    val out = Pca.removeTop(d, "vec_id", "embedding", Seq(0.0, 0.0, 1.0, 0.0))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getString(2)))).toMap
    // proj = x_2 exactly; the e_2 coordinate vanishes, others untouched
    assert(out(1L) == ((1.0, "0,0,0,0")), out(1L).toString)
    assert(out(2L) == ((-1.0, "0,0,0,0")), out(2L).toString)
    assert(out(3L) == ((1.0, "250000,0,0,0")), out(3L).toString)
    assert(out(4L) == ((-1.0, "0,0,0,500000")), out(4L).toString)
  }

  test("Retrieval.tfidfTopK ranks rare-but-frequent terms first, term-asc ties") {
    // "the" appears in all 3 docs (df=3); each doc also has a unique
    // term (df=1). doc 1: unique tf=2 -> 2e6/1 beats the's 2e6/3.
    // doc 3 has two df=1 terms with equal tf -> term-ascending ties.
    val d = Seq(
      (1L, "the alpha alpha the"),
      (2L, "the beta"),
      (3L, "zeta yak the")
    ).toDF("doc_id", "text")
    val out = Retrieval.tfidfTopK(d, "doc_id", "text", k = 2)
      .select("doc_id", "term", "score_fp", "rnk")
      .as[(Long, String, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(r => (r._2, r._3)).toSeq).toMap
    assert(out(1L) == Seq(("alpha", 2000000L), ("the", 666666L)), out(1L).toString)
    assert(out(2L) == Seq(("beta", 1000000L), ("the", 333333L)), out(2L).toString)
    assert(out(3L) == Seq(("yak", 1000000L), ("zeta", 1000000L)), out(3L).toString)
  }

  test("cluster_split is leakage-free: every near-dup cluster lands in ONE split") {
    val out = SparkEntry.queries("cluster_split")(spark, "/root/testdata/sf0.001")
    out.persist()
    // the defining law a per-doc split (split_assign) violates: no
    // cluster may straddle train/val/test
    val straddling = out.groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") > 1).count()
    assert(straddling == 0L, s"$straddling clusters straddle splits")
    // split must be the hash of the CLUSTER id, not the doc id — two
    // docs of one cluster with different doc-id hashes still agree
    val bySplit = out.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")), bySplit.toString)
    assert(bySplit.getOrElse("train", 0L) > bySplit.getOrElse("test", 0L),
      s"degenerate split distribution: $bySplit")
    // multi-doc clusters exist in the fixture, so the law is non-vacuous
    val multi = out.groupBy("cluster_id").count().filter(col("count") > 1).count()
    assert(multi > 0, "fixture has no multi-doc cluster; law is vacuous")
    out.unpersist()
  }

  test("ValueHistogram aggregator matches the composed two-level query") {
    val ev = Tables(spark, "/root/testdata/sf0.001", "events")
    val viaAgg = ev.groupBy("event_type")
      .agg(Aggregators.valueHistogram(col("user_id")).as("h"))
      .select(col("event_type"), col("h.uniqueCount"), col("h.minCount"),
        col("h.medianCount"), col("h.maxCount"), col("h.meanCount"), col("h.stddevCount"))
      .as[(String, Long, Long, Double, Long, Double, Double)].collect().toSet
    val composed = SparkEntry.queries("value_histogram")(spark, "/root/testdata/sf0.001")
      .select("event_type", "uniq_vals", "min_cnt", "median_cnt", "max_cnt",
        "mean_cnt", "stddev_cnt")
      .as[(String, Long, Long, Double, Long, Double, Double)].collect().toSet
    assert(viaAgg == composed)
  }

  test("Groups.withReiterableGroups allows multiple passes (MarkableIterator)") {
    val ds = Seq((1, 4), (1, 6), (2, 10)).toDF("k", "v").as[(Int, Int)]
    // two passes over each group: mean on pass 1, deviations on pass 2
    val out = Groups.withReiterableGroups(ds.groupByKey(_._1)) { (k, vs) =>
      val mean = vs.map(_._2).sum.toDouble / vs.size
      vs.map { case (_, v) => (k, v - mean) }
    }.collect().toSet
    assert(out == Set((1, -1.0), (1, 1.0), (2, 0.0)))
  }

  test("DotProduct expression is bit-equal to the fold and SQL-callable") {
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val both = emb.limit(100).select(
      Similarity.dot(col("embedding"), col("embedding")).as("fast"),
      Similarity.dotFold(col("embedding"), col("embedding")).as("fold"))
    assert(both.filter(col("fast") =!= col("fold")).count() == 0)
    emb.createOrReplaceTempView("emb_v")
    val sql = spark.sql(
      "SELECT dot_product(embedding, embedding) AS d FROM emb_v LIMIT 5")
    assert(sql.collect().forall(_.getDouble(0) > 0))
  }

  test("Skew.saltedJoin matches the plain join") {
    val big = spark.range(10000)
      .select((col("id") % 5).as("k"), col("id").as("v"))  // heavy skew: 5 keys
    val small = Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (4L, "e")).toDF("k", "tag")
    val salted = Skew.saltedJoin(big, small, "k", 8)
      .select("k", "v", "tag").as[(Long, Long, String)].collect().toSet
    val plain = big.join(small, "k")
      .select("k", "v", "tag").as[(Long, Long, String)].collect().toSet
    assert(salted == plain)
  }

  test("no-oracle queries carry their invariants in the row output") {
    val dir = "/root/testdata/sf0.001"
    // ann_ivf_topk: every row's `hit` flags membership in the
    // brute-force top-k; aggregate recall must clear the declared bound
    val ivf = SparkEntry.queries("ann_ivf_topk")(spark, dir)
      .agg(avg(col("hit")).as("recall"), count(lit(1)).as("n"))
      .as[(Double, Long)].head()
    assert(ivf._2 > 0 && ivf._1 >= 0.9,
      s"declared-query IVF recall ${ivf._1} below 0.9 over ${ivf._2} rows")
    // bpe_tokenize: reconstruction must hold on EVERY row, and the
    // merges checksum must be the constant an independent train yields
    val bpe = SparkEntry.queries("bpe_tokenize")(spark, dir)
    assert(bpe.filter(col("round_trip_ok") =!= 1L).isEmpty,
      "BPE round-trip failed on some document")
    val expectMd5 = Bpe.mergesChecksum(
      Bpe.train(Tables(spark, dir, "documents"), "text", nMerges = 40))
    val got = bpe.select("merges_md5").distinct().as[String].collect()
    assert(got.toSeq == Seq(expectMd5),
      s"merges checksum drifted: $got vs $expectMd5")
    // multimodal_entropy: the sentinel rows' entropies are analytic
    val ent = SparkEntry.queries("multimodal_entropy")(spark, dir)
      .filter(col("doc_id") < 0)
      .select("doc_id", "entropy_bits").as[(Long, Double)].collect().toMap
    assert(ent(-1L) == 0.0, s"constant bytes: ${ent(-1L)}")
    assert(math.abs(ent(-2L) - 1.0) < 1e-12, s"two-symbol: ${ent(-2L)}")
    assert(math.abs(ent(-3L) - 8.0) < 1e-12, s"uniform bytes: ${ent(-3L)}")
  }

  test("Cdc.applyChanges: latest seq wins, deletes drop, inserts land, rest pass through") {
    import graft.operators.Cdc
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (1L, 1L, "U", "a1"), (1L, 2L, "U", "a2"), // two updates: seq 2 wins
      (2L, 1L, "D", "x"),                       // delete
      (4L, 1L, "I", "d"),                       // insert under a fresh key
      (5L, 3L, "U", "e")                        // upsert on an absent key inserts
    ).toDF("k", "__seq", "__op", "v")
    val got = Cdc.applyChanges(base, changes, "k", "__seq", "__op")
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a2"), (3L, "c"), (4L, "d"), (5L, "e")), got.toString)
    // idempotence of the fold: re-applying the same changes to the
    // result only re-deletes the already-absent key
    val again = Cdc.applyChanges(got.toSeq.toDF("k", "v"), changes,
      "k", "__seq", "__op").as[(Long, String)].collect().toSet
    assert(again == got, again.toString)
    // unknown ops fail loud at resolution, not silently pass
    val bad = Seq((3L, 1L, "Z", "z")).toDF("k", "__seq", "__op", "v")
    val e = intercept[Exception] {
      Cdc.applyChanges(base, bad, "k", "__seq", "__op").collect()
    }
    assert(e.getMessage.contains("unknown op") ||
      Option(e.getCause).exists(_.getMessage.contains("unknown op")), e.getMessage)
  }

  test("Checks.report counts every injected violation class exactly") {
    import graft.operators.Checks._
    val dim = Seq(1L, 2L, 3L).toDF("k")
    val rows = Seq(
      (1L, Some(1L), 5.0),    // clean
      (1L, Some(2L), 5.0),    // duplicate id (1 surplus row)
      (2L, None, 5.0),        // null fk
      (3L, Some(99L), 5.0),   // orphan fk (99 not in dim)
      (4L, Some(1L), -2.0),   // below range
      (5L, Some(2L), 12.5)    // above range
    ).toDF("id", "fk", "v")
    val got = report(rows, Seq(
        NotNull("fk"), Unique(Seq("id")), InRange("v", 0, 10),
        RefIntegrity("fk", dim, "k"),
        Satisfies("v_not_half", col("v") =!= 12.5)))
      .as[(String, Long)].collect().toMap
    assert(got == Map(
      "not_null:fk" -> 1L, "unique:id" -> 1L, "in_range:v" -> 2L,
      "ref_integrity:fk" -> 1L, "satisfies:v_not_half" -> 1L), got.toString)
    // a clean table reports zeros, not missing rows
    val clean = report(dim, Seq(NotNull("k"), Unique(Seq("k"))))
      .as[(String, Long)].collect().toMap
    assert(clean == Map("not_null:k" -> 0L, "unique:k" -> 0L))
  }

  test("pngHeaderDims agrees with the real decoder on every row, PNG or not") {
    val dir = "/root/testdata/sf0.001"
    val media = graft.multimodal.Multimodal.fabricateImages(
      Tables(spark, dir, "documents"))
    val header = media.select(col("doc_id"),
        graft.multimodal.Multimodal.pngHeaderDims(col("content")).as("d"))
      .select(col("doc_id"), col("d.width"), col("d.height"))
      .as[(Long, Option[Long], Option[Long])].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    val decoded = graft.multimodal.Multimodal.decodeFeatures(media)
      .select(col("doc_id"), col("width").cast("long"), col("height").cast("long"))
      .as[(Long, Option[Long], Option[Long])].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(header.keySet == decoded.keySet)
    header.foreach { case (id, dims) =>
      if (graft.multimodal.Multimodal.fixtureIsImage(id) &&
          graft.multimodal.Multimodal.fixtureFormat(id) == "png")
        assert(dims == decoded(id), s"doc $id: header $dims vs decode ${decoded(id)}")
      else {
        // non-PNG containers: the header fast path must yield NULL (no
        // garbage dims), while the real decoder still finds image rows
        assert(dims == ((None, None)), s"doc $id: header lane leaked $dims")
        if (graft.multimodal.Multimodal.fixtureIsImage(id))
          assert(decoded(id)._1.isDefined, s"doc $id: real decode lost dims")
      }
    }
  }

  test("cohort_retention: period 0 is the cohort census and dominates every later period") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("cohort_retention")(spark, dir)
      .as[(String, Long, Long)].collect()
    assert(rows.nonEmpty && rows.forall(_._2 >= 0))
    val byCohort = rows.groupBy(_._1)
    // every user is active in their own first week, so period 0 exists
    // and equals the cohort size — an upper bound on every later period
    byCohort.foreach { case (c, rs) =>
      val p0 = rs.find(_._2 == 0L)
      assert(p0.isDefined, s"cohort $c missing period 0")
      rs.foreach(r => assert(r._3 <= p0.get._3,
        s"cohort $c period ${r._2} count ${r._3} exceeds census ${p0.get._3}"))
    }
    // conservation: matrix total = distinct (user, week) pairs
    val totalPairs = Tables(spark, dir, "events")
      .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
      .distinct().count()
    assert(rows.map(_._3).sum == totalPairs,
      s"matrix total ${rows.map(_._3).sum} != distinct pairs $totalPairs")
  }

  test("zorderBy clusters every dimension: partition bboxes beat a single-column sort") {
    import graft.operators.Layout
    // a 64x64 grid — under an x-only range sort each partition spans
    // the FULL y range; under z-order both spans shrink together
    val grid = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y))
      .toDF("x", "y").repartition(8)
    val parts = 16
    def meanYSpan(df: org.apache.spark.sql.DataFrame): Double = {
      val spans = df.select(col("y"), spark_partition_id().as("p"))
        .groupBy("p").agg((max("y") - min("y")).as("s"))
        .as[(Int, Long)].collect()
      assert(spans.length == parts, s"expected $parts partitions: ${spans.length}")
      spans.map(_._2).sum.toDouble / spans.length
    }
    val zed = Layout.zorderBy(grid, parts, bits = 6, col("x"), col("y"))
    val xSorted = grid.repartitionByRange(parts, col("x"))
    val (zy, xy) = (meanYSpan(zed), meanYSpan(xSorted))
    // x-sorted partitions see ~the full 63-wide y span; z-ordered ones
    // must cut it at least in half (actual: ~15 of 63)
    assert(xy > 50.0, s"x-sort baseline unexpectedly clustered y: $xy")
    assert(zy < xy / 2, s"z-order y-span $zy not beating x-sort $xy")
    // and the layout loses no rows
    assert(zed.count() == 64L * 64L)
  }

  test("multi_match_counts rejects null/empty dictionary terms at analysis time") {
    // the dictionary is foldable: a bad term must fail planning with a
    // clear message, not NPE per task on every executor
    val df = Seq("some text").toDF("t")
    val eNull = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(org.apache.spark.sql.functions.call_function(
        "multi_match_counts", col("t"),
        array(lit("ok"), lit(null).cast("string")))).collect()
    }
    assert(eNull.getMessage.contains("non-null"), eNull.getMessage)
    val eEmpty = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(org.apache.spark.sql.functions.call_function(
        "multi_match_counts", col("t"), array(lit("")))).collect()
    }
    assert(eEmpty.getMessage.contains("non-null and non-empty"), eEmpty.getMessage)
  }

  test("Dedup.simhash: near-dup pairs have small hamming distance") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val sig = Dedup.simhash(docs, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    val pairs = Dedup.jaccardPairs(
      Dedup.shingleTable(docs, "doc_id", "text", 3), "doc_id", 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    for ((a, b) <- pairs) {
      val ham = sig(a).zip(sig(b)).count { case (x, y) => x != y }
      assert(ham <= 16, s"hamming($a,$b)=$ham for jaccard>=0.8 pair")
    }
  }

  test("every injected function returns the same rows interpreted as compiled, nulls included") {
    import org.apache.spark.sql.{GraftCodegenShim, Row}
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("a", ArrayType(DoubleType)),
      StructField("f", ArrayType(FloatType)), StructField("l", ArrayType(LongType)),
      StructField("s", StringType), StructField("bin", BinaryType),
      StructField("x", DoubleType)))
    val rows = Seq(
      Row(1L, Seq(0.5, -1.0, 2.0), Seq(1.5f, 0f, -2f), Seq(3L, 4L),
        "The cat sat on the mat, the cat.", Array.tabulate[Byte](64)(i => (i * 37).toByte), 2.5),
      Row(2L, Seq(1.0, 1.0), Seq(0.25f, 4f), Seq(-7L, 9L),
        "Ã©tÃ© cafÃ© na\u0301ive", Array[Byte](1, 2, 3), 0.0),
      Row(3L, null, null, null, null, null, null),
      Row(4L, Seq(2.0, 2.0), Seq(2f, 2f), Seq(5L, 5L), "", Array.emptyByteArray, -1.0))
    // an RDD-backed frame: the optimizer cannot fold the projection into
    // a local relation, so both runs evaluate it in tasks
    val in = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    def q: DataFrame = in.selectExpr("id",
      "dot_product(a, a)", "dot_product(f, a)",
      "nearest_cells(a, array(array(0d, 1d), array(1d, 0d), array(2d, 2d)), 2)",
      "nearest_cell_ids(f, array(array(0d, 1d), array(1d, 0d)), array(10L, 20L), 1)",
      "nearest_centroid_l2(l, array(array(0L, 0L), array(5L, 5L)))",
      "nfc_normalize(s)", "word_tokens(s)", "word_shingles(s, 2)",
      "minhash_signature(s, 2, 16)",
      "fix_mojibake(s)", "deflated_size(s)", "ahash64(bin)", "byte_hist(bin)",
      "multi_match_counts(s, array('the', 'cat'))", "ieee_ln(x)")
    def fused(df: DataFrame): Boolean =
      PlanSpec.flat(df.queryExecution.executedPlan).exists(_.isInstanceOf[WholeStageCodegenExec])
    val compiled = q
    val want = compiled.collect().sortBy(_.getLong(0))
    val interpreted = q
    val got = GraftCodegenShim.interpreted(interpreted)(interpreted.collect()).sortBy(_.getLong(0))
    assert(want.length == rows.size)
    assert(got.toSeq == want.toSeq, s"interpreted ${got.mkString("; ")}\ncompiled ${want.mkString("; ")}")
    assert(fused(compiled) && !fused(interpreted),
      "the two runs did not take the compiled and interpreted paths")
  }
}
