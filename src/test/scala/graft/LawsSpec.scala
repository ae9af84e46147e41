package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

/** Property-based laws for the deterministic row-local operators —
  * the invariants that make the engine's "pure function of the data"
  * claims hold on ARBITRARY inputs, not just the fixture corpus:
  * canonicalization must be idempotent, hash assignments must be total
  * and partitioning-independent, binning must be monotone. Runs on a
  * tiny local session; each property is a Column-expression law checked
  * through the same execution path the queries use.
  */
object LawsSpec extends Properties("graft.laws") {

  private lazy val spark = GraftSession.build("2")
  import spark.implicits._

  // --- URL canonicalization ------------------------------------------

  private val genUrl: Gen[String] = for {
    scheme <- Gen.oneOf("http", "HTTP", "https", "Https")
    host <- Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(10).mkString)
    tld <- Gen.oneOf("com", "ORG", "net")
    port <- Gen.oneOf("", ":80", ":443", ":8080")
    path <- Gen.listOf(Gen.alphaNumChar).map(cs => "/" + cs.take(8).mkString)
    params <- Gen.someOf(Seq("utm_source=a", "q=1", "fbclid=xy", "id=9", "gclid=z"))
    frag <- Gen.oneOf("", "#top", "#s2")
  } yield s"$scheme://$host.$tld$port$path" +
    (if (params.isEmpty) "" else params.mkString("?", "&", "")) + frag

  property("canonicalize is idempotent") = forAll(Gen.listOfN(20, genUrl)) { urls =>
    val once = urls.toDF("u")
      .select(graft.operators.Urls.canonicalize(col("u")).as("c"))
      .as[String].collect().toSeq
    val twice = once.toDF("u")
      .select(graft.operators.Urls.canonicalize(col("u")).as("c"))
      .as[String].collect().toSeq
    once == twice
  }

  property("canonicalize never emits tracking params or fragments") =
    forAll(Gen.listOfN(20, genUrl)) { urls =>
      urls.toDF("u")
        .select(graft.operators.Urls.canonicalize(col("u")).as("c"))
        .as[String].collect()
        .forall(c => !c.contains("#") && !c.contains("utm_") &&
          !c.contains("fbclid") && !c.contains("gclid"))
    }

  // --- hash assignments -----------------------------------------------

  property("hashSplit is total and partitioning-independent") =
    forAll(Gen.listOfN(60, Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2))) { ids =>
      val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
      def assign(parts: Int) = graft.operators.Sampling.hashSplit(
        ids.distinct.toDF("doc_id").repartition(parts), "doc_id", fr)
        .select("doc_id", "split").as[(Long, String)].collect().toMap
      val a = assign(1)
      a.size == ids.distinct.size &&
        a.values.forall(Set("train", "val", "test")) && a == assign(7)
    }

  property("mixtureWeights keeps an identical multiset under repartition") =
    forAll(Gen.listOfN(50, Gen.chooseNum(0L, 100000L))) { ids =>
      val rates = Map("s0" -> 2.5, "s1" -> 0.5)
      def kept(parts: Int) = graft.operators.Sampling.mixtureWeights(
        ids.distinct.map(i => (i, s"s${i % 3}")).toDF("doc_id", "source")
          .repartition(parts),
        "source", "doc_id", rates)
        .select("doc_id", "n_copies").as[(Long, Long)].collect().toSet
      kept(1) == kept(5)
    }

  // --- binning ----------------------------------------------------------

  property("binByCutoffs is monotone and lands in [1, cuts+1]") =
    forAll(Gen.listOfN(5, Gen.chooseNum(-1e6, 1e6)),
      Gen.listOfN(30, Gen.chooseNum(-1e6, 1e6))) { (cutsRaw, vals) =>
      val cuts = cutsRaw.distinct.sorted
      val binned = vals.sorted.toDF("v")
        .select(col("v"),
          graft.operators.Sampling.binByCutoffs(col("v"), cuts).as("b"))
        .orderBy("v").as[(Double, Int)].collect().toSeq
      val bins = binned.map(_._2)
      bins.forall(b => b >= 1 && b <= cuts.size + 1) &&
        bins.sliding(2).forall { case Seq(x, y) => x <= y; case _ => true }
    }

  // --- normalization / PII scrub -----------------------------------------

  private val genMessy: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.oneOf("Foo", "BAR", "baz", "Émile", "étude", "ﬁn", "x²"),
    Gen.oneOf(" ", "  ", "\t", "\n", "   "),
    Gen.oneOf("a@b.com", "Jo.Smith+x@mail.co", "555-123-4567",
      "10.0.0.255", "999.1.2.3"))).map(_.take(25).mkString)

  property("normalizeText is idempotent") = forAll(Gen.listOfN(15, genMessy)) { texts =>
    texts.toDF("x")
      .select(graft.operators.TextOps.normalizeText(col("x")).as("once"))
      .select(col("once"),
        graft.operators.TextOps.normalizeText(col("once")).as("twice"))
      .collect().forall(r => r.getString(0) == r.getString(1))
  }

  property("scrubPii is idempotent and leaves nothing matchable") =
    forAll(Gen.listOfN(15, genMessy)) { texts =>
      import graft.operators.Redact
      val rows = texts.toDF("x")
        .select(Redact.scrubPii(col("x")).as("once"))
        .select(col("once"), Redact.scrubPii(col("once")).as("twice"),
          (Redact.matchCount(col("once"), Redact.EmailPattern) +
            Redact.matchCount(col("once"), Redact.PhonePattern) +
            Redact.matchCount(col("once"), Redact.Ipv4Pattern)).as("residual"))
        .collect()
      rows.forall(r => r.getString(0) == r.getString(1) && r.getLong(2) == 0L)
    }

  // --- context-window chunking -------------------------------------------

  private val genDoc: Gen[(Long, String)] = for {
    id <- Gen.chooseNum(0L, 1000000L)
    words <- Gen.nonEmptyListOf(Gen.oneOf("alpha", "b", "gamma2", "Δδ", "x"))
    seps <- Gen.listOfN(words.size, Gen.oneOf(" ", "  ", "\t"))
  } yield (id, words.take(40).zip(seps).map { case (w, s) => w + s }.mkString)

  property("chunkDocs reassembles, bounds sizes, and overlaps exactly") =
    forAll(Gen.listOfN(4, genDoc),
      Gen.chooseNum(2, 7), Gen.chooseNum(0, 1)) { (docsRaw, max, overlap) =>
      val docs = docsRaw.distinctBy(_._1)
      val stride = max - overlap
      val out = graft.operators.Sampling
        .chunkDocs(docs.toDF("doc_id", "text"), "doc_id", "text", max, overlap)
        .select("doc_id", "chunk_id", "chunk_text", "n_tokens")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
      docs.forall { case (id, text) =>
        val toks = graft.operators.Dedup.tokensLocal(text)
        val chunks = out.getOrElse(id, Seq.empty)
        chunks.map(_._2) == chunks.indices.map(_.toLong) &&
          chunks.forall(c => c._4 <= max &&
            c._3.split(" ").length.toLong == c._4) &&
          // every chunk is the declared slice of the token stream, so
          // consecutive chunks share exactly `overlap` tokens and
          // stride-0 reassembly is the identity
          chunks.forall { case (_, i, txt, _) =>
            txt.split(" ").toSeq == toks.slice(i.toInt * stride,
              i.toInt * stride + max) }
      }
    }

  // --- sequence packing ---------------------------------------------------

  property("packBySize conserves docs, bounds packs, keeps ids contiguous") =
    forAll(Gen.listOfN(40, Gen.zip(Gen.chooseNum(0L, 100000L),
      Gen.chooseNum(1, 50)))) { docsRaw =>
      val docs = docsRaw.distinctBy(_._1)
      val budget = 50
      val packs = graft.operators.Sampling.packBySize(
        docs.map { case (id, t) => (s"s${id % 2}", id, t) }
          .toDF("source", "doc_id", "toks"),
        "source", "doc_id", col("toks"), budget, shards = 3)
        .select("source", "shard", "pack_id", "n_docs", "tok_sum")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      val maxTok = docs.map(_._2).max
      packs.map(_._4).sum == docs.size &&
        // a doc straddling the budget boundary stays in the pack where
        // its prefix sum fell, so a pack never exceeds budget + maxTok
        packs.forall(p => p._5 >= 1 && p._5 < budget + maxTok) &&
        packs.groupBy(p => (p._1, p._2)).values.forall { ps =>
          ps.map(_._3).sorted.toSeq == (0L until ps.size.toLong)
        }
    }

  // --- winnowing fingerprints ---------------------------------------------

  property("fingerprints equal the local winnowing oracle") =
    forAll(Gen.listOfN(3, Gen.zip(Gen.chooseNum(0L, 100000L),
      Gen.listOf(Gen.oneOf("a", "b", "c", "dd", "e2"))))) { docsRaw =>
      val (k, w) = (3, 4)
      val docs = docsRaw.distinctBy(_._1)
        .map { case (id, toks) => (id, toks.take(30).mkString(" ")) }
      val got = graft.operators.Dedup
        .fingerprints(docs.toDF("doc_id", "text"), "doc_id", "text", k, w)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val want = docs.flatMap { case (id, text) =>
        val h = graft.operators.Dedup.tokensLocal(text)
          .sliding(k).filter(_.size == k).map(g => md5hex(g.mkString(" ")))
          .toIndexedSeq
        // min of each forward window of w shingle hashes (short tails
        // shrink the window) -- the winnowing selection rule
        h.indices.map(p => id -> h.slice(p, math.min(p + w, h.size)).min)
      }.toSet
      got == want
    }

  // --- row-local minhash signatures ----------------------------------------

  // tokens with repeats, non-ASCII letters, an emoji (a surrogate pair), a
  // lone surrogate and the non-breaking and em spaces (not `\s` in Java,
  // so they stay inside tokens); separators mix every ASCII whitespace
  private val genSigText: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.const(Some("")),
    8 -> (for {
      n <- Gen.chooseNum(0, 12)
      toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "a", "dd", "é", "日本", "\uD83D\uDE00",
        "\uD800", "x\u00A0y", "z\u2003", "naïve"))
      seps <- Gen.listOfN(n + 1, Gen.oneOf(" ", " ", "  ", "\t", "\n", "\r\n", "\u000B", "\f", ""))
    } yield Some(seps.zipAll(toks, "", "").map { case (s, t) => s + t }.mkString)))

  // 20 corpora, each signed at numPerm 16 and 128: every case runs both
  // paths' jobs twice
  property("minhash_signature rows equal the grouped shingle-hash signatures") = {
    import graft.operators.Dedup
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(20),
      forAll(Gen.listOf(genSigText).map(_.take(10)), Gen.chooseNum(1, 5)) { (texts, k) =>
        val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        Seq(16, 128).forall { n =>
          def rows(df: org.apache.spark.sql.DataFrame) =
            df.collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
          val kernel = Dedup.buildMinhashIndex(docs, "doc_id", "text", k, n, n).signatures
          val grouped = Dedup.minhashSignaturesFromHashes(
            Dedup.shingleHashTable(docs, "doc_id", "text", k), "doc_id", n)
          kernel.columns.toSeq == grouped.columns.toSeq && rows(kernel) == rows(grouped)
        }
      })
    Prop(r.passed) :| r.status.toString
  }

  // --- row-local word grams ------------------------------------------------

  // (id, text) corpora over genSigText with ids drawn from a small range,
  // so rows often share an id
  private val genGramDocs: Gen[Seq[(Long, Option[String])]] =
    Gen.listOf(Gen.zip(Gen.chooseNum(0L, 3L), genSigText)).map(_.take(8))

  property("gram rows equal the local sliding-window grams with positions, per row") = {
    import graft.operators.Dedup
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(20),
      forAll(genGramDocs, Gen.chooseNum(1, 10)) { (raw, k) =>
        val docs = raw.toDF("doc_id", "text")
        // the oracle reads the texts back, as Spark stores them
        val grams = docs.collect().toSeq.flatMap { row =>
          Option(row.getString(1)).toSeq.flatMap(t =>
            Dedup.tokensLocal(t).sliding(k).filter(_.size == k).zipWithIndex
              .map { case (g, pos) => (row.getLong(0), pos, g.mkString(" ")) })
        }
        def hex(s: String) = java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val hashes = grams.map { case (id, _, sh) =>
          val h = hex(sh)
          (id, java.lang.Long.parseLong(h.substring(0, 15), 16),
            java.lang.Long.parseLong(h.substring(16, 31), 16))
        }.toSet
        val rows = Dedup.gramRows(docs, "doc_id", "text", k)
          .as[(Long, Int, String)].collect().toSeq
        val table = Dedup.shingleHashTable(docs, "doc_id", "text", k)
          .as[(Long, Long, Long)].collect().toSeq
        Prop(rows.sorted == grams.sorted) :| s"rows $rows != $grams" &&
          Prop(table.size == hashes.size && table.toSet == hashes) :| s"hashes $table != $hashes"
      })
    Prop(r.passed) :| r.status.toString
  }

  property("the row-local repetition gate keeps exactly the ids repetitionStats and the anti-join keep") = {
    import graft.operators.Dedup
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(20),
      forAll(Gen.listOf(genSigText).map(_.take(12)), Gen.chooseNum(1, 4),
        Gen.oneOf(0.0, 0.08, 0.2, 0.5, 1.0)) { (texts, n, maxFrac) =>
        val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val gate = docs.filter(Dedup.repetitionGate(col("text"), n, maxFrac))
          .select("doc_id").as[Long].collect().toSet
        val antiJoin = docs.join(
            Dedup.repetitionStats(docs, "doc_id", "text", n)
              .filter(col("dup_gram_frac") > maxFrac).select("doc_id"),
            Seq("doc_id"), "left_anti")
          .select("doc_id").as[Long].collect().toSet
        Prop(gate == antiJoin) :| s"gate $gate != anti-join $antiJoin"
      })
    Prop(r.passed) :| r.status.toString
  }

  // --- as-of join ---------------------------------------------------------

  property("asof matches the naive latest-at-or-before oracle") =
    forAll(
      Gen.listOfN(20, Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 20L))),
      Gen.listOfN(15, Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 20L)))) {
      (leftRaw, rightRaw) =>
        val left = leftRaw.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        val right = rightRaw.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        val got = graft.operators.AsofJoin.asof(
          left.toDF("l_id", "k", "lts"),
          right.toDF("r_id", "k", "rts"),
          "k", "lts", "rts", "r_id")
          .select("l_id", "asof_r_id").collect()
          .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
          .toMap
        left.forall { case (lid, k, lts) =>
          val want = right.filter(r => r._2 == k && r._3 <= lts)
            .sortBy(r => (r._3, r._1)).lastOption.map(_._1)
          got(lid) == want
        }
    }

  // --- HTML extraction / C4 line cleaning --------------------------------

  private val genWord: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.take(8).mkString)
  private val genProse: Gen[String] =
    Gen.nonEmptyListOf(genWord).map(_.take(20).mkString(" "))

  property("html extractText recovers escaped prose from page chrome") =
    forAll(Gen.listOfN(10, genProse)) { proses =>
      val pages = proses.map { p =>
        val esc = p.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        s"<html><head><title>t</title><style>p{}</style></head><body>" +
          s"<script>var x=1;</script><p>$esc</p><!--c--></body></html>"
      }
      val got = pages.toDF("h")
        .select(graft.operators.Html.extractText(col("h")).as("t"))
        .as[String].collect().toSeq
      got == proses
    }

  property("html extractLines preserves block structure as lines") =
    forAll(Gen.listOfN(6, genProse)) { lines =>
      val page = "<body>" + lines.map(l => s"<p>$l</p>").mkString + "</body>"
      val got = Seq(page).toDF("h")
        .select(graft.operators.Html.extractLines(col("h")).as("t"))
        .as[String].head()
      got == lines.mkString("\n")
    }

  private val genC4Line: Gen[String] = Gen.oneOf(
    Gen.listOfN(5, genWord).map(_.mkString(" ") + "."),   // keepable prose
    Gen.const("too short"),
    Gen.const("var x = {1};"),
    genWord.map(w => s"$w about lorem ipsum filler."),
    Gen.listOfN(4, genWord).map(_.mkString(" ")))          // no terminal punct

  property("c4LineClean is idempotent and emits a subsequence of input lines") =
    forAll(Gen.listOfN(8, genC4Line)) { lines =>
      def clean(doc: String): String = {
        val (c, _, _) = graft.operators.TextOps.c4LineClean(lit(doc))
        spark.range(1).select(c.as("c")).as[String].head()
      }
      val once = clean(lines.mkString("\n"))
      val kept = if (once.isEmpty) Seq.empty[String] else once.split("\n").toSeq
      // subsequence: cleaning only deletes lines, never edits or reorders
      def isSubseq(sub: Seq[String], sup: Seq[String]): Boolean = {
        var i = 0
        for (s <- sup) if (i < sub.length && sub(i) == s) i += 1
        i == sub.length
      }
      clean(once) == once && isSubseq(kept, lines)
    }

  // variable length from a 10-value pool: short draws are often
  // repeat-free, so BOTH branches of the iff are actually exercised
  // (8-from-5 would force a repeat by pigeonhole and leave the
  // no-repeat direction vacuous)
  private val genLines: Gen[List[String]] =
    Gen.chooseNum(0, 8).flatMap(n => Gen.listOfN(n,
      Gen.oneOf((1 to 10).map(i => s"line $i."))))

  property("lineRepetition fractions are in [0,1) and zero iff no repeats") =
    forAll(genLines) { ls =>
      val doc = ls.mkString("\n")
      val (_, f, cf) = graft.operators.TextOps.lineRepetition(lit(doc))
      val r = spark.range(1).select(f.as("f"), cf.as("cf")).head()
      val hasRepeat = ls.distinct.size < ls.size
      r.getDouble(0) >= 0 && r.getDouble(0) < 1 &&
        r.getDouble(1) >= 0 && r.getDouble(1) < 1 &&
        ((r.getDouble(0) > 0) == hasRepeat) &&
        ((r.getDouble(1) > 0) == hasRepeat)
    }

  // --- BPE round-trip ----------------------------------------------------

  property("BPE encode always reconstructs the word") =
    forAll(Gen.nonEmptyListOf(Gen.oneOf("ab", "abc", "banana", "aa", "xyzzy"))
      .map(_.take(30))) { wordsRaw =>
      // shrinking ignores generator constraints and can inject "" —
      // empty words are outside wordFreqs' domain, keep the law's too
      val words = wordsRaw.filter(_.nonEmpty)
      words.isEmpty || {
        val merges = graft.operators.Bpe.trainLocal(
          words.groupBy(identity).map { case (w, g) => w -> g.size.toLong }.toSeq,
          nMerges = 10)
        val ranks = merges.zipWithIndex.toMap
        words.distinct.forall { w =>
          graft.operators.Bpe.encodeWord(w, ranks).mkString
            .stripSuffix(graft.operators.Bpe.EndMark) == w
        }
      }
    }

  // --- integer k-means kernel --------------------------------------------

  private val genVec: Gen[Seq[Float]] =
    Gen.listOfN(6, Gen.chooseNum(-1.0f, 1.0f)).map(_.toSeq)

  property("nearest_centroid_l2 returns the true argmin with lowest-index ties") =
    forAll(Gen.listOfN(8, genVec), Gen.choose(1, 5)) { (vecs, k) =>
      import graft.operators.Kmeans
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v")
      val cents = vecs.take(k).map(_.map(x =>
        BigDecimal(x.toDouble * 1000000L)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toArray)
      val got = Kmeans.assign(df, "v", cents)
        .select(col("id"), col("cluster"), col("dist")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      vecs.zipWithIndex.forall { case (v, i) =>
        val q = v.map(x => BigDecimal(x.toDouble * 1000000L)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
        val dists = cents.map(c => q.zip(c).map { case (a, b) =>
          val d = a - b; d * d }.sum)
        val best = dists.zipWithIndex.minBy { case (d, j) => (d, j) }
        got(i.toLong) == ((best._2.toLong, best._1))
      }
    }

  // --- DSIR bucketing ----------------------------------------------------

  property("DSIR buckets are total and in range on arbitrary tokens") =
    forAll(Gen.nonEmptyListOf(Gen.alphaNumStr.suchThat(_.nonEmpty)).map(_.take(20)),
      Gen.oneOf(2, 16, 64, 1024)) { (toks, b) =>
      val got = toks.toDF("t")
        .select(graft.operators.Dsir.bucket(col("t"), b).as("f"))
        .as[Long].collect()
      got.length == toks.length && got.forall(f => f >= 0 && f < b)
    }

  // --- Misra-Gries heavy hitters -----------------------------------------

  private val genTokenStream: Gen[List[String]] = for {
    vocab <- Gen.chooseNum(1, 8)
    n <- Gen.chooseNum(1, 120)
    toks <- Gen.listOfN(n, Gen.chooseNum(0, vocab).map(i => s"t$i"))
  } yield toks

  property("MG summary keeps every token above n/(k+1) across partition merges") =
    forAll(genTokenStream, Gen.oneOf(2, 4, 8)) { (toks, k) =>
      val exact = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val s = graft.operators.Frequent.mgSummary(
        toks.toDF("token").repartition(4), "token", k)
      s.n == toks.size &&
        exact.forall { case (t, c) =>
          c <= s.n / (k + 1) || s.counts.contains(t)
        } &&
        // MG never overcounts: kept counters are lower bounds
        s.counts.forall { case (t, c) => c <= exact.getOrElse(t, 0L) }
    }

  property("heavyHitters is the exact cnt*k > n set with exact counts") =
    forAll(genTokenStream, Gen.oneOf(2, 4, 8)) { (toks, k) =>
      val n = toks.size.toLong
      val expect = toks.groupBy(identity).view.mapValues(_.size.toLong)
        .filter { case (_, c) => c * k > n }.toMap
      val got = graft.operators.Frequent.heavyHitters(
        toks.toDF("token").repartition(4), "token", k)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      got == expect
    }

  property("heavyHittersPerGroup is the exact per-group cnt*k > n set") =
    forAll(genTokenStream, genTokenStream, Gen.oneOf(2, 4, 8)) { (ta, tb, k) =>
      val rows = ta.map(("ga", _)) ++ tb.map(("gb", _))
      val expect = rows.groupBy(_._1).flatMap { case (g, grp) =>
        val n = grp.size.toLong
        grp.map(_._2).groupBy(identity).view.mapValues(_.size.toLong)
          .collect { case (t, c) if c * k > n => (g, t) -> c }
      }.toMap
      val got = graft.operators.Frequent.heavyHittersPerGroup(
        rows.toDF("g", "token").repartition(4), "g", "token", k)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      got == expect
    }

  // --- Aho-Corasick multi-pattern counts ---------------------------------

  private val genAbText: Gen[String] =
    Gen.listOf(Gen.oneOf('a', 'b', ' ')).map(_.mkString)
  private val genTerms: Gen[List[String]] = Gen.resize(4,
    Gen.nonEmptyListOf(Gen.chooseNum(1, 4).flatMap(l =>
      Gen.listOfN(l, Gen.oneOf('a', 'b', ' ')).map(_.mkString))))

  // the oracle contract: independent leftmost-greedy non-overlapping
  // occurrences per term (len(string_split(text, term)) - 1)
  private def naiveCount(text: String, term: String): Long = {
    var i = 0; var c = 0L
    while ({ i = text.indexOf(term, i); i >= 0 }) { c += 1; i += term.length }
    c
  }

  property("multi_match_counts equals per-term greedy non-overlap counts") =
    forAll(Gen.listOfN(8, genAbText), genTerms) { (texts, terms) =>
      val got = texts.toDF("t")
        .select(graft.functions.MatchExpressions
          .multi_match_counts(col("t"), terms).as("c"))
        .as[Seq[Long]].collect()
      texts.zip(got).forall { case (t, cs) =>
        cs == terms.map(naiveCount(t, _))
      }
    }

  // --- Snapshot diff -----------------------------------------------------

  // null text = a PRESENT doc with a null body (failed fetch): it must
  // compare as a content state, never read as absent
  private val genSnap: Gen[Map[Long, Option[String]]] = Gen.mapOf(for {
    id <- Gen.chooseNum(0L, 15L)
    t <- Gen.option(Gen.oneOf("alpha", "beta", "gamma", "delta"))
  } yield id -> t)

  property("snapshot diff labels every id by the full-outer contract") =
    forAll(genSnap, genSnap) { (o, n) =>
      val got = graft.operators.Snapshots.diff(
        o.toSeq.toDF("id", "text"), n.toSeq.toDF("id", "text"), "id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val ids = o.keySet ++ n.keySet
      got.keySet == ids && ids.forall { i =>
        val e = (o.get(i), n.get(i)) match {
          case (None, Some(_)) => "added"
          case (Some(_), None) => "removed"
          case (Some(a), Some(b)) if a != b => "changed"
          case _ => "unchanged"
        }
        got(i) == e
      }
    }

  // --- Mojibake repair -----------------------------------------------------

  private val genAccented: Gen[String] = Gen.listOf(Gen.frequency(
    8 -> Gen.alphaNumChar,
    1 -> Gen.oneOf(' ', '.', ','),
    3 -> Gen.oneOf('é', 'è', 'ü', 'ñ', 'ç', '€', '’', '“')))
    .map(_.take(40).mkString)

  property("fixMojibake(damage(s)) restores s; clean text is untouched") =
    forAll(Gen.listOfN(6, genAccented)) { texts =>
      // damage = the classic accident: UTF-8 bytes re-read as Latin-1
      val damaged = texts.map(s =>
        new String(s.getBytes("UTF-8"), java.nio.charset.StandardCharsets.ISO_8859_1))
      val gotFixed = damaged.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "t")
        .select(col("id"), graft.operators.TextOps.fixMojibake(col("t")).as("f"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val gotClean = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "t")
        .select(col("id"), graft.operators.TextOps.fixMojibake(col("t")).as("f"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      texts.zipWithIndex.forall { case (s, i) =>
        gotFixed(i.toLong) == s && gotClean(i.toLong) == s
      }
    }

  property("fixMojibake also reverses windows-1252 mis-decodes (euro/quote family)") =
    forAll(Gen.listOfN(6, genAccented)) { texts =>
      // the OTHER classic accident: UTF-8 bytes re-read as cp1252, so
      // '’' becomes "â€™" with a REAL euro sign —
      // not Latin-1-reversible, only the sloppy-cp1252 map repairs it
      val damaged = texts.map(s => new String(s.getBytes("UTF-8"), "windows-1252"))
      val got = damaged.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "t")
        .select(col("id"), graft.operators.TextOps.fixMojibake(col("t")).as("f"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      texts.zipWithIndex.forall { case (s, i) => got(i.toLong) == s }
    }

  property("fixMojibake never throws and falls back on mixed/garbage input") =
    forAll(Gen.listOfN(4, genAccented)) { texts =>
      // mixed damage + genuine non-Latin text, artifact pairs whose
      // Latin-1 bytes are invalid UTF-8, and clean CJK: all must pass
      // through UNCHANGED (pre-Spark-4 encode/decode would throw here)
      val fixed: Seq[String] = Seq(
        "caffÃ© latte ’ done 中文", // damage + curly quote + CJK
        "x ÃÿÃ y", // artifact pair, bytes C3 FF C3: invalid UTF-8
        "Â", // bare lead char, no pair
        "price 5€ ok?") ++ texts.map(_ + " 世界 Ã©")
      val got = fixed.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "t")
        .select(col("id"), graft.operators.TextOps.fixMojibake(col("t")).as("f"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      fixed.zipWithIndex.forall { case (s, i) => got(i.toLong) == s }
    }

  // --- Template-line strip -----------------------------------------------

  private val genLineDocs: Gen[List[String]] = Gen.nonEmptyListOf(
    Gen.listOf(Gen.oneOf("aa bb", "subscribe now", "(c) footer", "", "  "))
      .map(_.take(5).mkString("\n"))).map(_.take(12))

  property("stripTemplateLines drops exactly the >= minDf lines") =
    forAll(genLineDocs, Gen.oneOf(1L, 2L, 3L)) { (texts, minDf) =>
      val linesOf = (t: String) => t.split("\n", -1).toSeq
      val dfCount = texts.zipWithIndex
        .flatMap { case (t, i) =>
          linesOf(t).filter(_.trim.nonEmpty).distinct.map(l => (i, l))
        }
        .groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val hot = dfCount.collect { case (l, c) if c >= minDf => l }.toSet
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = graft.operators.TextOps.stripTemplateLines(
        rows.toDF("id", "text").repartition(3), "id", "text", minDf)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getString(3))).toMap
      rows.forall { case (i, t) =>
        val ls = linesOf(t)
        got(i) == ((ls.size.toLong, ls.count(hot).toLong,
          ls.filterNot(hot).mkString("\n")))
      }
    }

  // --- Collocations (cross-multiplied PMI) -------------------------------

  private val genCorpus: Gen[List[String]] = Gen.nonEmptyListOf(
    Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("x", "y", "z", "w")).map(_.mkString(" "))))
    .map(_.take(15))

  property("collocations returns exactly the pairs beating lift x independence") =
    forAll(genCorpus, Gen.oneOf(1L, 2L), Gen.oneOf(1L, 2L, 4L)) {
      (texts, minCount, lift) =>
        val bigs = texts.flatMap(t =>
          t.split("\\s+").filter(_.nonEmpty).sliding(2).filter(_.length == 2)
            .map(p => (p(0), p(1))).toList)
        val c12 = bigs.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val c1 = bigs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
        val c2 = bigs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
        val n = bigs.size.toLong
        val expect = c12.collect {
          case ((a, b), c) if c >= minCount &&
            (BigInt(c) * n) >= (BigInt(lift) * c1(a) * c2(b)) =>
            (a, b) -> (c, c1(a), c2(b), n)
        }.toMap
        val got = graft.operators.TextOps.collocations(
          texts.toDF("text").repartition(3), "text", minCount, lift)
          .collect().map(r => (r.getString(0), r.getString(1)) ->
            (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
        got == expect
    }

  // --- Exact value-count percentiles -------------------------------------

  private val genGrouped: Gen[List[(String, Long)]] = Gen.nonEmptyListOf(for {
    g <- Gen.oneOf("g1", "g2", "g3")
    v <- Gen.chooseNum(0L, 20L)
  } yield (g, v)).map(_.take(60))

  property("exactWeightedPercentiles equals the expand-by-weight sorted rank") =
    forAll(Gen.nonEmptyListOf(for {
      g <- Gen.oneOf("g1", "g2")
      v <- Gen.chooseNum(0L, 12L)
      w <- Gen.chooseNum(0L, 3L)
    } yield (g, v, w)).map(_.take(40)),
      Gen.someOf(Seq(10, 50, 90, 100)).suchThat(_.nonEmpty)) { (rows, pcts) =>
      val expanded = rows.flatMap { case (g, v, w) => Seq.fill(w.toInt)((g, v)) }
      val got = graft.operators.Quantiles.exactWeightedPercentiles(
        rows.toDF("g", "v", "w").repartition(3), "g", col("v"), col("w"),
        pcts.toSeq)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      expanded.groupBy(_._1).forall { case (g, grp) =>
        val sorted = grp.map(_._2).sorted
        pcts.forall { p =>
          val target = (sorted.size.toLong * p + 99) / 100
          got.get((g, p.toLong)).contains(sorted((target - 1).toInt))
        }
      } && got.keySet.map(_._1) == expanded.map(_._1).toSet
    }

  property("exactPercentiles matches the sorted-rank definition per group") =
    forAll(genGrouped, Gen.someOf(Seq(1, 10, 50, 90, 100)).suchThat(_.nonEmpty)) {
      (rows, pcts) =>
        val got = graft.operators.Quantiles.exactPercentiles(
          rows.toDF("g", "v").repartition(3), "g", col("v"), pcts.toSeq)
          .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
        rows.groupBy(_._1).forall { case (g, grp) =>
          val sorted = grp.map(_._2).sorted
          pcts.forall { p =>
            val target = (sorted.size.toLong * p + 99) / 100
            got((g, p.toLong)) == sorted((target - 1).toInt)
          }
        }
    }

  // --- Log-histogram quantile sketch -------------------------------------

  private val genWide: Gen[List[(String, Long)]] = Gen.nonEmptyListOf(for {
    g <- Gen.oneOf("g1", "g2")
    // span the exact small lane, boundary octaves, and wide magnitudes
    v <- Gen.oneOf(Gen.chooseNum(0L, 20L), Gen.chooseNum(0L, 100000L),
      Gen.oneOf(15L, 16L, 17L, 31L, 32L, 1L << 40, (1L << 40) + 12345L))
  } yield (g, v)).map(_.take(50))

  property("logHistQuantiles: est <= true percentile < est * 17/16 (exact below 16)") =
    forAll(genWide, Gen.someOf(Seq(1, 50, 90, 100)).suchThat(_.nonEmpty)) {
      (rows, pcts) =>
        val got = graft.operators.Quantiles.logHistQuantiles(
          rows.toDF("g", "v").repartition(3), "g", col("v"), pcts.toSeq)
          .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
        rows.groupBy(_._1).forall { case (g, grp) =>
          val sorted = grp.map(_._2).sorted
          pcts.forall { p =>
            val target = (sorted.size.toLong * p + 99) / 100
            val truth = sorted((target - 1).toInt)
            val est = got((g, p.toLong))
            if (truth < 16) est == truth
            else est <= truth && truth < est + (est >> 4) + 1
          }
        }
    }

  property("logBucket is monotone and its histogram merges by count addition") =
    forAll(genWide, genWide) { (a, b) =>
      import graft.operators.Quantiles
      def hist(rows: List[(String, Long)]): Map[(String, Long), Long] =
        rows.toDF("g", "v")
          .groupBy(col("g"), Quantiles.logBucket(col("v")).as("b"))
          .agg(count(lit(1)).as("c"))
          .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val (ha, hb, hu) = (hist(a), hist(b), hist(a ++ b))
      // mergeability: union histogram = bucket-wise sum of the parts
      val merged = (ha.keySet ++ hb.keySet).map(k =>
        k -> (ha.getOrElse(k, 0L) + hb.getOrElse(k, 0L))).toMap
      // monotonicity: bucket ids sort like the values they bin
      val ids = a.map(_._2).sorted.zipWithIndex
        .map { case (v, i) => (i.toLong, v) }
        .toDF("i", "v")
        .select(col("i"), Quantiles.logBucket(col("v")).as("b"))
        .collect().sortBy(_.getLong(0)).map(_.getLong(1)).toSeq
      hu == merged && ids == ids.sorted
    }

  // --- CDC apply -----------------------------------------------------

  private val genCdc: Gen[(List[(Long, String)], List[(Long, Long, String, String)])] =
    for {
      base <- Gen.listOfN(6, Gen.zip(Gen.chooseNum(0L, 9L), Gen.alphaStr.map(_.take(3))))
        .map(_.distinctBy(_._1))
      ops <- Gen.listOfN(8, Gen.zip(Gen.chooseNum(0L, 12L),
        Gen.oneOf("I", "U", "D"), Gen.alphaStr.map(_.take(3))))
    } yield (base,
      // unique seq per key by construction (1-based: history reserves
      // seq 0 for the base version)
      ops.zipWithIndex.map { case ((k, op, v), i) => (k, i + 1L, op, v) })

  property("Cdc.applyChanges equals the replay-in-order reference") = forAll(genCdc) {
    case (base, changes) =>
      val got = graft.operators.Cdc.applyChanges(
          base.toDF("k", "v").repartition(3),
          changes.toDF("k", "__seq", "__op", "v").repartition(2),
          "k", "__seq", "__op")
        .as[(Long, String)].collect().toSet
      // reference: fold the changes in sequence order over a map
      val state = scala.collection.mutable.Map(base: _*)
      changes.sortBy(_._2).foreach {
        case (k, _, "D", _) => state.remove(k)
        case (k, _, _, v)   => state(k) = v
      }
      got == state.toSet
  }

  property("Cdc.history's current slice equals applyChanges; intervals chain gaplessly") =
    forAll(genCdc) { case (base, changes) =>
      val baseDf = base.toDF("k", "v").repartition(3)
      val chDf = changes.toDF("k", "__seq", "__op", "v").repartition(2)
      val hist = graft.operators.Cdc.history(baseDf, chDf, "k", "__seq", "__op")
        .as[(Long, String, Long, Option[Long], Long)].collect()
      val current = hist.collect { case (k, v, _, _, 1L) => (k, v) }.toSet
      val applied = graft.operators.Cdc.applyChanges(baseDf, chDf, "k", "__seq", "__op")
        .as[(Long, String)].collect().toSet
      // per key: at most one live version, and versions tile the
      // sequence axis (each valid_to is the next valid_from)
      val chained = hist.groupBy(_._1).forall { case (_, vs) =>
        val sorted = vs.sortBy(_._3)
        sorted.count(_._5 == 1L) <= 1 &&
          sorted.zip(sorted.tail).forall { case (a, b) =>
            a._4.isEmpty || a._4.get <= b._3 }
      }
      current == applied && chained
    }

  // --- triangle counting ---------------------------------------------

  private val genEdges: Gen[List[(Long, Long)]] =
    Gen.listOfN(25, Gen.zip(Gen.chooseNum(0L, 9L), Gen.chooseNum(0L, 9L)))

  property("triangleCounts (degree-oriented) equals the naive u<v<w enumeration") =
    forAll(genEdges) { es =>
      val got = graft.operators.Graphs.triangleCounts(
          es.toDF("s", "t").repartition(3), "s", "t")
        .as[(Long, Long)].collect().toMap
      val und = es.collect { case (a, b) if a != b =>
        (math.min(a, b), math.max(a, b)) }.toSet
      val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      val counts = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for {
        u <- nodes; v <- nodes if u < v && und((u, v))
        w <- nodes if v < w && und((v, w)) && und((u, w))
      } { counts(u) += 1; counts(v) += 1; counts(w) += 1 }
      got == counts.toMap
    }

  // --- connected components: driver finish ≡ distributed rounds ------

  /** Min-id labels by a plain fixpoint over the pair list. */
  private def ccRef(es: Seq[(Long, Long)]): Set[(Long, Long)] = {
    var lab = es.flatMap(e => Seq(e._1, e._2)).map(v => v -> v).toMap
    var changed = true
    while (changed) {
      val next = es.foldLeft(lab) { case (m, (a, b)) =>
        val l = math.min(m(a), m(b)); m.updated(a, l).updated(b, l) }
      changed = next != lab
      lab = next
    }
    lab.toSet
  }

  /** Both paths over the (a, b) pairs agree with each other — rows,
    * column names, types, nullability — and with `want`.
    */
  private def ccAgrees(pairs: org.apache.spark.sql.DataFrame, want: Set[(Long, Long)]): Boolean =
    graft.operators.Pins() { _ =>
      val df = pairs.repartition(3)
      val driver = graft.operators.Dedup.connectedComponents(df, "a", "b")
      val rounds = graft.operators.Dedup.connectedComponents(df, "a", "b", 20, None, 0L)
      val rows = driver.as[(Long, Long)].collect().toSet
      driver.schema == rounds.schema && driver.columns.toSeq == Seq("a", "cluster_id") &&
        rows == rounds.as[(Long, Long)].collect().toSet && rows == want
    }

  private def ccAgrees(es: Seq[(Long, Long)]): Boolean = ccAgrees(es.toDF("a", "b"), ccRef(es))

  private val genIds: Gen[List[Long]] =
    Gen.chooseNum(2, 30).flatMap(n => Gen.listOfN(n, Gen.chooseNum(0L, 1000000L)))
      .map(_.distinct).suchThat(_.size >= 2)

  // a random, chain (ids in random order) or star graph, decorated with
  // self-loops, duplicated and reversed edges
  private val genShape: Gen[List[(Long, Long)]] = for {
    base <- Gen.oneOf(
      Gen.listOfN(25, Gen.zip(Gen.chooseNum(0L, 20L), Gen.chooseNum(0L, 20L))),
      genIds.map(ids => ids.zip(ids.tail)),
      genIds.map(ids => ids.tail.map(ids.head -> _)))
    loops <- Gen.someOf(base.map(_._1))
    dups <- Gen.someOf(base)
    flips <- Gen.someOf(base)
  } yield base ++ loops.map(v => (v, v)) ++ dups ++ flips.map(_.swap)

  // four shapes on disjoint id ranges per graph: each call pays a fixed
  // job floor, so one graph carries several shapes
  private val genGraph: Gen[List[(Long, Long)]] =
    Gen.listOfN(4, genShape).map(_.zipWithIndex.flatMap { case (es, k) =>
      es.map { case (a, b) => (a + k * 10000000L, b + k * 10000000L) } })

  // 25 graphs (100 shapes): every case runs both paths' jobs
  property("connectedComponents: driver finish equals distributed rounds (random, chain, star)") = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(25),
      forAll(genGraph)(ccAgrees))
    Prop(r.passed) :| r.status.toString
  }

  property("connectedComponents: driver finish equals distributed rounds (fixed shapes)") =
    Seq(
      (1L until 300L).map(i => (i, i + 1)),          // the 300-node chain
      (1L until 300L).map(i => (i + 1, i)).reverse,  // reversed, descending
      (2L to 40L).map(1000L -> _),                    // a star, centre largest
      Seq((5L, 5L), (7L, 7L), (7L, 7L)),              // self-loops only
      Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L)),    // dup, reversed, loop
      Seq.empty[(Long, Long)],                        // the empty graph
    ).forall(ccAgrees) &&
      // a pair with a null endpoint names no node: only 1-2 survives
      ccAgrees(Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)), (None, Some(3L)),
        (Some(4L), None), (None, None)).toDF("a", "b"), Set((1L, 1L), (2L, 1L)))

  // --- edit-distance-1 similarity join -------------------------------

  private def levRef(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  // tiny alphabet, short words: distance-1 collisions are the common
  // case, including the 1-char / empty-deletion-key edge
  private val genWords: Gen[List[String]] =
    Gen.listOfN(12, Gen.chooseNum(1, 5).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString)))

  property("editDistance1Pairs equals the naive all-pairs levenshtein filter") =
    forAll(genWords) { ws =>
      val vocab = ws.distinct
      val got = graft.operators.Dedup.editDistance1Pairs(
          vocab.toDF("w").repartition(3), "w")
        .as[(String, String)].collect().toSet
      val want = (for {
        a <- vocab; b <- vocab
        if a < b && levRef(a, b) <= 1
      } yield (a, b)).toSet
      got == want
    }

  // --- z-order layout kernel -----------------------------------------

  private def zRef(xs: Seq[Long], bits: Int): Long = {
    val k = xs.size
    var z = 0L
    for ((x, ci) <- xs.zipWithIndex; j <- 0 until bits)
      z |= (((x & ((1L << bits) - 1)) >> j) & 1L) << (j * k + ci)
    z
  }

  private val genCoord: Gen[Long] = Gen.chooseNum(0L, 65535L)

  property("zvalue equals the reference Morton interleave (2 and 3 columns)") =
    forAll(Gen.listOfN(12, Gen.zip(genCoord, genCoord, genCoord))) { pts =>
      val df = pts.toDF("x", "y", "w")
      val got2 = df.select(graft.operators.Layout.zvalue(
        Seq(col("x"), col("y")), 16).as("z")).as[Long].collect().toSeq
      val got3 = df.select(graft.operators.Layout.zvalue(
        Seq(col("x"), col("y"), col("w")), 16).as("z")).as[Long].collect().toSeq
      got2 == pts.map(p => zRef(Seq(p._1, p._2), 16)) &&
        got3 == pts.map(p => zRef(Seq(p._1, p._2, p._3), 16))
    }

  property("zvalue is monotone in each coordinate with the others fixed") =
    forAll(genCoord, Gen.listOfN(10, genCoord)) { (fixed, xs) =>
      val sorted = xs.sorted
      val zx = sorted.map(x => zRef(Seq(x, fixed), 16))
      val zy = sorted.map(y => zRef(Seq(fixed, y), 16))
      zx == zx.sorted && zy == zy.sorted
    }

  property("quantizeLinear floors exactly like the oracle's integer division") =
    forAll(Gen.chooseNum(-1000000L, 1000000L), Gen.chooseNum(0L, 3000000L),
           Gen.listOfN(8, Gen.chooseNum(-2000000L, 4000000L))) { (lo, span, vs) =>
      val hi = lo + span
      val got = vs.toDF("v").select(graft.operators.Layout
          .quantizeLinear(col("v"), lo, hi).as("q")).as[Long].collect().toSeq
      val want = vs.map { v =>
        val c = math.max(lo, math.min(hi, v))
        (BigInt(c - lo) * 65535 / BigInt(math.max(span, 1L))).toLong
      }
      got == want && got.forall(q => q >= 0 && q <= 65535)
    }

  // --- paragraph dedup (keep-first) ----------------------------------

  // docs drawn from a SMALL paragraph pool so cross-doc and within-doc
  // repeats are the common case, plus blank paragraphs as separators
  private val genParaDocs: Gen[List[(Long, String)]] = {
    val pool = Vector("alpha beta", "gamma", "delta epsilon zeta", "eta",
      "theta iota kappa", " ", "")
    val genDoc = Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(pool)).map(_.mkString("\n\n")))
    Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, genDoc))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
  }

  private def runParaDedup(rows: List[(Long, String)]
                          ): Map[Long, (Long, Long, String)] =
    graft.operators.TextOps.paragraphDedup(
        rows.toDF("id", "text").repartition(3), "id", "text")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap

  property("paragraphDedup keeps exactly the first occurrence of every distinct paragraph") =
    forAll(genParaDocs) { rows =>
      val out = runParaDedup(rows)
      // reference: scan corpus in (id, pos) order, keep first sighting
      val seen = scala.collection.mutable.HashSet.empty[String]
      val expect = rows.map { case (id, t) =>
        val paras = t.split(java.util.regex.Pattern.quote("\n\n"), -1)
        val keep = paras.map(p => p.trim.isEmpty || seen.add(p))
        id -> (paras.length.toLong, keep.count(!_).toLong,
          paras.zip(keep).collect { case (p, true) => p }.mkString("\n\n"))
      }.toMap
      rows.forall { case (id, _) => out(id) == expect(id) }
    }

  property("paragraphDedup is idempotent: a second pass drops nothing") =
    forAll(genParaDocs) { rows =>
      val cleaned = runParaDedup(rows).toList
        .map { case (id, (_, _, t)) => (id, t) }
      runParaDedup(cleaned).forall { case (_, (_, nDropped, _)) => nDropped == 0L }
    }

  // --- indexed-image decode: palette-permutation invariance -----------

  /** The visual gradient of the image fixture, stored through an
    * ARBITRARY bijective gray palette: palette slot perm(v) holds gray
    * level v and the raster stores index perm(v) — identical pixels on
    * screen for every perm, wildly different raw raster bytes.
    */
  private def permutedGif(w: Int, h: Int, base: Long,
                          perm: Int => Int): Array[Byte] = {
    val (r, g, b) = (new Array[Byte](256), new Array[Byte](256), new Array[Byte](256))
    (0 until 256).foreach { v =>
      val idx = perm(v)
      r(idx) = v.toByte; g(idx) = v.toByte; b(idx) = v.toByte
    }
    val cm = new java.awt.image.IndexColorModel(8, 256, r, g, b)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
    val raster = img.getRaster
    for { y <- 0 until h; x <- 0 until w }
      raster.setSample(x, y, 0, perm(((x + y + base) % 256).toInt))
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "gif", baos)
    baos.toByteArray
  }

  // any odd multiplier is a bijection mod 256
  private val genPerm: Gen[Int => Int] = for {
    a <- Gen.chooseNum(0, 127).map(_ * 2 + 1)
    c <- Gen.chooseNum(0, 255)
  } yield (v: Int) => (v * a + c) % 256

  property("image decode is palette-permutation invariant: permuted-palette GIFs of one image hash alike") =
    forAll(genPerm, Gen.chooseNum(0L, 200L)) { (perm, base) =>
      val (w, h) = graft.multimodal.Multimodal.fixtureDims(base)
      val rows = Seq(
        (0L, permutedGif(w, h, base, identity)),
        (1L, permutedGif(w, h, base, perm)))
        .toDF("doc_id", "content")
        .select(col("doc_id"), col("content"),
          struct(lit("image/gif").as("mime"),
            length(col("content")).cast("long").as("n_bytes")).as("meta"))
      val feats = graft.multimodal.Multimodal.decodeFeatures(rows)
        .select("doc_id", "width", "height", "sum_luma")
        .collect().map(r => r.getLong(0) ->
          ((r.getInt(1), r.getInt(2), r.getLong(3)))).toMap
      // analytic law: the permuted copy decodes to the SAME dims and
      // the SAME exact pixel-sum as the identity-palette copy
      val lawSum = (for { x <- 0 until w; y <- 0 until h }
        yield (x + y + base) % 256).sum
      feats(0L) == ((w, h, lawSum)) && feats(1L) == ((w, h, lawSum))
    }

  // --- hot-bucket cap -------------------------------------------------

  // skewed groups over a small key domain, with null keys: key 0 takes
  // about half the rows, so every table has one large group
  private val genKey: Gen[Option[Int]] = Gen.frequency(
    5 -> Gen.const(Some(0)), 4 -> Gen.chooseNum(1, 3).map(Some(_)), 1 -> Gen.const(None))
  private val genKeyed: Gen[List[(Long, Option[Int], Option[Int])]] =
    Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n, Gen.zip(genKey, genKey)))
      .map(_.zipWithIndex.map { case ((k1, k2), i) => (i.toLong, k1, k2) })

  // 20 tables, each capped on one key and on two: every case pays a
  // census and a join per key set
  property("Buckets.cap keeps the rows of key groups with <= cap rows, every row at cap <= 0") = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(20),
      forAll(genKeyed, Gen.oneOf(Gen.const(0), Gen.const(1), Gen.chooseNum(-1, 8))) {
        (rows, cap) =>
          val df = rows.toDF("id", "k1", "k2")
          Seq(Seq("k1"), Seq("k1", "k2")).forall { keys =>
            def key(r: (Long, Option[Int], Option[Int])) =
              if (keys.size == 1) (r._2, None) else (r._2, r._3)
            val sizes = rows.groupBy(key).map { case (k, g) => k -> g.size }
            val expect = rows.filter(r => cap <= 0 || sizes(key(r)) <= cap)
            val out = graft.operators.Buckets.cap(df, keys, cap)
            out.columns.toSeq == df.columns.toSeq &&
              out.as[(Long, Option[Int], Option[Int])].collect().sortBy(_._1).toList == expect
          }
      })
    Prop(r.passed) :| r.status.toString
  }

  property("media operators at maxBucket = 0 return their uncapped result") = {
    import graft.multimodal.Multimodal
    val docs = Seq((1L, "x"), (2L, "x"), (200L, "x")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    // doc 200's recording and a mid-stream extract of it
    val wavs = Multimodal.fabricateAudio(docs).unionByName(
      Multimodal.fabricateAudio(docs.filter(col("doc_id") === 200L),
        idOffset = 1000L, startFrame = 128))
    // doc 1's frame stream and a head-clipped copy of it
    val streams = Multimodal.fabricateFrameStream(docs).unionByName(
      Multimodal.fabricateFrameStream(docs.filter(col("doc_id") === 1L),
        idOffset = 1000L, frameShift = 1))
    // the still catalog, probed by a lossless re-encode of doc 2
    val index = Multimodal.buildImageSigIndex(Multimodal.fabricateStillImages(docs))
    val query = Multimodal.fabricateStillImages(docs.filter(col("doc_id") === 2L),
      idOffset = 1000L, fmt = "bmp")
    Seq[Int => org.apache.spark.sql.DataFrame](
      c => Multimodal.audioClipAlign(wavs, minSupport = 2, maxBucket = c),
      c => Multimodal.videoNearDupPairs(streams, minShared = 2, maxBucket = c),
      c => Multimodal.probeImageSigIndex(index, query, minSupport = 2, maxBucket = c)
    ).forall { op =>
      val uncapped = rows(op(0))
      uncapped.nonEmpty && uncapped == rows(op(Int.MaxValue))
    }
  }
}
