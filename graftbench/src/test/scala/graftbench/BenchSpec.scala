package graftbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("union length merges overlapping, nested and unsorted intervals") {
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq((0L, 10L))) == 10)
    assert(Stats.unionLength(Seq((5L, 15L), (0L, 10L))) == 15)
    assert(Stats.unionLength(Seq((0L, 100L), (10L, 20L), (30L, 40L))) == 100)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20)
    assert(Stats.unionLength(Seq((0L, 10L), (20L, 30L), (25L, 35L))) == 25)
    assert(Stats.unionLength(Seq((7L, 7L), (9L, 3L))) == 0)
  }

  test("driver gap is the wall the job windows leave uncovered") {
    assert(Stats.driverGap(0, 100, Nil) == 100)
    assert(Stats.driverGap(0, 100, Seq((10L, 30L), (20L, 50L), (70L, 80L))) == 50)
    // a job straddling the window only counts inside it
    assert(Stats.driverGap(100, 200, Seq((50L, 150L), (190L, 400L))) == 40)
    assert(Stats.driverGap(0, 100, Seq((0L, 100L), (10L, 20L))) == 0)
  }

  test("median and nearest-rank percentiles") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(Seq(5.0), 90) == 5.0)
  }

  test("a percentile is reported only with ten samples beyond it") {
    assert(Stats.samplesBeyond(20, 50) == 10)
    assert(Stats.samplesBeyond(19, 50) == 9)
    assert(Stats.samplesBeyond(100, 90) == 10)
    assert(Stats.highestReportable(0).isEmpty)
    assert(Stats.highestReportable(12).isEmpty)
    assert(Stats.highestReportable(19).isEmpty)
    assert(Stats.highestReportable(20).contains(50))
    assert(Stats.highestReportable(99).contains(50))
    assert(Stats.highestReportable(100).contains(90))
    assert(Stats.highestReportable(999).contains(90))
    assert(Stats.highestReportable(1000).contains(99))
  }

  test("metric name and unit syntax") {
    Seq("wall_s", "driver.gap_s", "pipeline.stage.nearKept.job_s", "9lives", "a" * 64)
      .foreach(n => assert(Stats.validName(n), n))
    Seq("", "_x", ".x", "a b", "a/b", "a" * 65, "é")
      .foreach(n => assert(!Stats.validName(n), n))
    Seq("s", "ms", "MB/s", "count", "%", "share", "bytes").foreach(u => assert(Stats.validUnit(u), u))
    Seq("", "a b", "x" * 17).foreach(u => assert(!Stats.validUnit(u), u))
  }

  test("every emitted metric is valid, named once, and declared in BENCHMARK.json") {
    val all = Main.endToEnd ++ Main.perLayer
    all.foreach { m =>
      assert(Stats.validName(m.name), m.name)
      assert(Stats.validUnit(m.unit), m.unit)
      assert(Set("lower", "higher")(m.better), m.better)
    }
    assert(all.map(_.name).distinct.size == all.size)
    assert(Main.endToEnd.exists(m => m.name == "setup_s" && m.unit == "s" && m.better == "lower"))
    val declared = Paths.get("..", "BENCHMARK.json")
    assume(Files.exists(declared), "BENCHMARK.json is at the checkout root")
    val json = new String(Files.readAllBytes(declared), "UTF-8")
    def section(key: String): Seq[String] = {
      val body = json.split("\"" + key + "\"\\s*:\\s*\\[", 2)(1).split("\\]", 2)(0)
      "\\{[^}]*\\}".r.findAllIn(body).toSeq
    }
    def entries(key: String): Seq[(String, String, String)] = section(key).map { e =>
      def field(f: String) = ("\"" + f + "\"\\s*:\\s*\"([^\"]*)\"").r
        .findFirstMatchIn(e).map(_.group(1)).getOrElse("")
      (field("name"), field("unit"), field("better"))
    }
    assert(entries("end_to_end") == Main.endToEnd.map(m => (m.name, m.unit, m.better)))
    assert(entries("per_layer") == Main.perLayer.map(m => (m.name, m.unit, m.better)))
    val gated = section("workloads").map(e => "\"name\"\\s*:\\s*\"([^\"]*)\"".r
      .findFirstMatchIn(e).get.group(1))
    assert(gated.nonEmpty && gated.forall(n => Workloads.byName(n).isDefined), gated)
  }
}

class GenSpec extends AnyFunSuite {

  test("the same seed gives the same corpus; another seed a different one") {
    val a = Gen.documents(7, 500)
    val b = Gen.documents(7, 500)
    val c = Gen.documents(8, 500)
    def dig(ds: Array[Gen.Doc]) = Gen.digest(ds.iterator.map(Gen.docRow))
    assert(dig(a) == dig(b))
    assert(dig(a) != dig(c))
    assert(a.length == c.length)
    val (ba, bc) = (a.map(_.n_chars).sum, c.map(_.n_chars).sum)
    assert(math.abs(ba - bc).toDouble / ba < 0.03, s"$ba vs $bc bytes")
    val e1 = Gen.embeddings(7, 50).map(Gen.embeddingRow).toSeq
    assert(e1 == Gen.embeddings(7, 50).map(Gen.embeddingRow).toSeq)
    assert(e1 != Gen.embeddings(8, 50).map(Gen.embeddingRow).toSeq)
  }

  test("documents keep the sf0.1 shape under every seed") {
    Seq(1L, 2L, 3L).foreach { seed =>
      val ds = Gen.documents(seed, 5000)
      val words = ds.map(_.text.split(" ").length)
      assert(words.min >= 10 && words.max <= 101)
      assert(ds.forall(d => d.n_chars == d.text.length && d.source == s"src${d.doc_id % 20}"))
      val dups = ds.count(_.text.endsWith(" dup")).toDouble / ds.length
      assert(dups > 0.035 && dups < 0.065, s"dup rate $dups")
      val en = ds.count(_.lang == "en").toDouble / ds.length
      assert(en > 0.38 && en < 0.45, s"en share $en")
      assert(ds.flatMap(_.text.split(" ")).toSet.subsetOf(Gen.Vocab.toSet + "dup"))
    }
    val v = Gen.embeddings(1, 20)
    assert(v.forall(e => e.embedding.length == 64 &&
      math.abs(e.embedding.map(x => x * x).sum - 1) < 1e-4))
  }

  test("the incremental crawl is seeded, sized and near-dup-rated by its arguments") {
    val a = Gen.crawl(3, 2000, 4, 300, 0.2)
    val b = Gen.crawl(3, 2000, 4, 300, 0.2)
    val c = Gen.crawl(4, 2000, 4, 300, 0.2)
    def dig(cr: Gen.Crawl) = Gen.digest((cr.base ++ cr.batches.flatten).iterator.map(Gen.docRow))
    assert(dig(a) == dig(b))
    assert(dig(a) != dig(c))
    Seq(a, c).foreach { cr =>
      assert(cr.base.length == 2000 && cr.batches.map(_.length).toSeq == Seq(300, 300, 300, 300))
      val all = cr.base ++ cr.batches.flatten
      assert(all.map(_.doc_id).toSeq == (0L until 3200L))
      // a near-duplicate is a same-length copy of an earlier document
      // with at most two words changed
      val ws = all.map(_.text.split(" "))
      val copies = ws.indices.count { i =>
        (0 until i).exists(j => ws(j).length == ws(i).length &&
          ws(j).indices.count(k => ws(j)(k) != ws(i)(k)) <= 2)
      }
      val rate = copies.toDouble / all.length
      assert(rate > 0.17 && rate < 0.23, s"near-dup rate $rate")
    }
  }

  test("an edit changes at most the requested number of words") {
    val r = Gen.rng(1, "t")
    val ws = Gen.words(r, 50)
    (1 to 50).foreach { _ =>
      val e = Gen.edited(r, ws, 2)
      assert(e.length == ws.length && e.zip(ws).count { case (x, y) => x != y } <= 2)
    }
  }
}

class UnionFindSpec extends AnyFunSuite {
  test("union-find labels every node with its component's minimum id") {
    val uf = DedupIncremental.unionFind(Seq((5L, 3L), (3L, 9L), (10L, 11L), (9L, 1L), (12L, 12L)))
    assert(uf == Map(1L -> 1L, 3L -> 1L, 5L -> 1L, 9L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 12L))
    assert(DedupIncremental.unionFind(Nil).isEmpty)
  }
}
