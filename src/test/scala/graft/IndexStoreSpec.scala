package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.UUID

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal
import graft.operators.{Dedup, IndexStore, Similarity}

/** The durable-index store under crashes, strays, races and re-saves,
  * over three of its families: minhash, the audio clip index and IVF.
  * Every failure is injected from here: a UDF that throws inside the
  * row write, files planted in the index dir, or a re-save from inside
  * an append's row computation.
  */
class IndexStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.build("4")
  import spark.implicits._

  private def withDir(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-store-idx-spec").toFile
    try body(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  /** What an index dir holds, checksum side files aside. */
  private def entries(dir: String): Set[String] =
    new File(dir).list().filterNot(_.startsWith(".")).toSet

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  /** A pass-through of `v` that throws on row `bad`. */
  private def throwOn[T: scala.reflect.runtime.universe.TypeTag](bad: Long) =
    udf((id: Long, v: T) => {
      if (id == bad) throw new IllegalStateException("injected failure")
      v
    })

  // minhash: a 3-doc corpus and a 1-doc batch
  private lazy val corpus = Seq(
    (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (20L, "completely different text about another subject entirely unrelated here"),
    (30L, "one more unrelated corpus document body with its own words inside")
  ).toDF("doc_id", "text")
  private lazy val batch = Seq(
    (103L, "fresh never seen content sharing nothing with the existing corpus")
  ).toDF("doc_id", "text")

  private def minhash(df: DataFrame, k: Int = 3, numPerm: Int = 16): Dedup.MinhashIndex =
    Dedup.buildMinhashIndex(df, "doc_id", "text", k, numPerm, rowsPerBand = 4)

  private def mhState(ix: Dedup.MinhashIndex) =
    (ix.k, ix.numPerm, ix.rowsPerBand, ix.maxBucket, rows(ix.signatures))

  private def mhLoaded(dir: String) = mhState(Dedup.loadMinhashIndex(spark, dir))

  // clip: the OperatorSpec fixture's two days
  private lazy val day1 = Seq((200L, "x"), (9L, "x")).toDF("doc_id", "text")
  private lazy val day2 = Seq((449L, "x"), (309L, "x")).toDF("doc_id", "text")

  private def clipState(ix: Multimodal.ClipIndex) =
    (ix.window, ix.bands, rows(ix.fps.select("doc_id", "win_idx", "subfp")))

  private def clipLoaded(path: String) = clipState(Multimodal.loadClipIndex(spark, path))

  // IVF: 60 8-dim vectors
  private lazy val vectors = (0L until 60L).map(i =>
    (i, Array.tabulate(8)(d => ((i * 7 + d * 3) % 13).toFloat))).toDF("vec_id", "embedding")

  private def ivf(nCells: Int, below: Long = 60L) =
    Similarity.buildIvfIndex(vectors.filter(col("vec_id") < below), "vec_id", "embedding",
      nCells)

  private def ivfState(cb: Seq[(Long, Array[Double])], assigned: DataFrame) =
    (cb.sortBy(_._1).map { case (c, v) => (c, v.toSeq) }, rows(assigned))

  private def ivfLoaded(dir: String) =
    (ivfState _).tupled(Similarity.loadIvfIndex(spark, dir))

  test("a minhash index saved through the grouped signature path loads, probes and appends as one built row-locally") {
    val near = Seq(
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (102L, "short")
    ).toDF("doc_id", "text")
    withDir { grouped =>
      withDir { local =>
        val idx = minhash(corpus)
        Dedup.saveMinhashIndex(idx.copy(signatures = Dedup.minhashSignaturesFromHashes(
          Dedup.shingleHashTable(corpus, "doc_id", "text", 3), "doc_id", 16)), grouped, "doc_id")
        Dedup.saveMinhashIndex(idx, local, "doc_id")
        assert(mhLoaded(grouped) == mhLoaded(local))
        def probe(dir: String) = rows(Dedup.probeMinhashIndex(near.unionByName(batch), "doc_id",
          "text", Dedup.loadMinhashIndex(spark, dir), threshold = 0.5))
        assert(probe(grouped).map(_.getLong(0)) == Seq(101L))
        assert(probe(grouped) == probe(local))
        Seq(grouped, local).foreach(Dedup.appendMinhashIndex(spark, _, batch, "doc_id", "text"))
        assert(mhLoaded(grouped) == mhLoaded(local))
        assert(mhLoaded(grouped)._5.map(_.getLong(0)).sorted == Seq(10L, 20L, 30L, 103L))
      }
    }
  }

  test("a save or append whose row write fails leaves the previous index and no staged dir") {
    withDir { dir =>
      val idx = minhash(corpus)
      Dedup.saveMinhashIndex(idx, dir, "doc_id")
      val (saved, before) = (mhLoaded(dir), entries(dir))
      assert(saved == mhState(idx))
      val resave = minhash(corpus, k = 4)
      intercept[Exception](Dedup.saveMinhashIndex(resave.copy(signatures =
        resave.signatures.withColumn("doc_id", throwOn[Long](20L).apply(col("doc_id"), col("doc_id")))),
        dir, "doc_id"))
      assert(mhLoaded(dir) == saved && entries(dir) == before)
      intercept[Exception](Dedup.appendMinhashIndex(spark, dir,
        batch.withColumn("text", throwOn[String](103L).apply(col("doc_id"), col("text"))),
        "doc_id", "text"))
      assert(mhLoaded(dir) == saved && entries(dir) == before)
    }
    withDir { path =>
      val idx = Multimodal.buildClipIndex(Multimodal.fabricateAudio(day1))
      Multimodal.saveClipIndex(idx, path)
      val (saved, before) = (clipLoaded(path), entries(path))
      assert(saved == clipState(idx))
      val resave = Multimodal.buildClipIndex(Multimodal.fabricateAudio(day1), window = 32)
      intercept[Exception](Multimodal.saveClipIndex(resave.copy(fps =
        resave.fps.withColumn("subfp", throwOn[Long](9L).apply(col("doc_id"), col("subfp")))), path))
      assert(clipLoaded(path) == saved && entries(path) == before)
      intercept[Exception](Multimodal.appendClipIndex(spark, path,
        Multimodal.fabricateAudio(day2)
          .withColumn("content", throwOn[Array[Byte]](449L).apply(col("doc_id"), col("content")))))
      assert(clipLoaded(path) == saved && entries(path) == before)
    }
    withDir { dir =>
      val (cb, assigned) = ivf(4)
      Similarity.saveIvfIndex(cb, assigned, dir)
      val (saved, before) = (ivfLoaded(dir), entries(dir))
      assert(saved == ivfState(cb, assigned))
      val (cb2, assigned2) = ivf(2)
      intercept[Exception](Similarity.saveIvfIndex(cb2,
        assigned2.withColumn("n_id", throwOn[Long](7L).apply(col("n_id"), col("n_id"))), dir))
      assert(ivfLoaded(dir) == saved && entries(dir) == before)
    }
  }

  test("stray row dirs and temp manifests are ignored by load and removed by the next commit") {
    /** Plant a row dir holding `strayRows` and a half-written temp
      * manifest, check `load` is blind to them, run `commit`, and check
      * it removed both, kept a foreign file and left one manifest.
      */
    def planted(dir: String, strayRows: DataFrame, state: => Any)(commit: => Unit): Unit = {
      val before = state
      val (rowDir, tmp) = (s"rows-${UUID.randomUUID}", s"manifest-${UUID.randomUUID}.tmp")
      strayRows.write.parquet(s"$dir/$rowDir")
      Files.write(new File(dir, tmp).toPath, """{"version":2,"params":{"k":"""".getBytes(UTF_8))
      Files.write(new File(dir, "NOTES.txt").toPath, "kept".getBytes(UTF_8))
      assert(state == before, "load read an entry no manifest names")
      commit
      val after = entries(dir)
      assert(!after(rowDir) && !after(tmp), s"strays survived the commit: $after")
      assert(after("NOTES.txt"), "the store deleted a file it does not own")
      assert(after.count(_.startsWith("manifest-")) == 1, s"superseded manifests: $after")
    }
    withDir { dir =>
      Dedup.saveMinhashIndex(minhash(corpus), dir, "doc_id")
      val live = entries(dir)
      planted(dir, minhash(batch.withColumn("doc_id", lit(99L))).signatures, mhLoaded(dir)) {
        Dedup.appendMinhashIndex(spark, dir, batch, "doc_id", "text")
      }
      assert(mhLoaded(dir) == mhState(minhash(corpus.unionByName(batch))))
      assert(entries(dir).count(_.startsWith("rows-")) == 2 &&
        live.filter(_.startsWith("rows-")).subsetOf(entries(dir)),
        s"row dirs after the append: ${entries(dir)}")
    }
    withDir { path =>
      Multimodal.saveClipIndex(Multimodal.buildClipIndex(Multimodal.fabricateAudio(day1)), path)
      planted(path, Multimodal.buildClipIndex(Multimodal.fabricateAudio(day2)).fps
          .select("doc_id", "win_idx", "subfp"), clipLoaded(path)) {
        Multimodal.appendClipIndex(spark, path, Multimodal.fabricateAudio(day2))
      }
      assert(clipLoaded(path) == clipState(Multimodal.buildClipIndex(
        Multimodal.fabricateAudio(day1.unionByName(day2)))))
      assert(entries(path).count(_.startsWith("rows-")) == 2, s"${entries(path)}")
    }
    withDir { dir =>
      val (cb, assigned) = ivf(4)
      Similarity.saveIvfIndex(cb, assigned, dir)
      val (cb2, assigned2) = ivf(2, below = 30L)
      planted(dir, assigned2, ivfLoaded(dir)) { Similarity.saveIvfIndex(cb2, assigned2, dir) }
      assert(ivfLoaded(dir) == ivfState(cb2, assigned2))
      assert(entries(dir).count(_.startsWith("rows-")) == 2, s"${entries(dir)}")
    }
  }

  test("an append whose manifest is superseded while its rows are computed is refused") {
    withDir { dir =>
      Dedup.saveMinhashIndex(minhash(corpus), dir, "doc_id")
      val resave = minhash(corpus, k = 4, numPerm = 8)
      var committed = Set.empty[String]
      val e = intercept[IllegalStateException](
        IndexStore.append(spark, dir, "signatures") { p =>
          // another writer re-saves and appends: two commits, so the
          // version this append would take is free again by then
          Dedup.saveMinhashIndex(resave, dir, "doc_id")
          Dedup.appendMinhashIndex(spark, dir, batch, "doc_id", "text")
          committed = entries(dir)
          minhash(batch, k = p("k").toInt, numPerm = p("num_perm").toInt).signatures
        })
      assert(e.getMessage.contains("refusing to commit"), e.getMessage)
      assert(mhLoaded(dir) == mhState(minhash(corpus.unionByName(batch), k = 4, numPerm = 8)) &&
        entries(dir) == committed)
    }
    withDir { path =>
      Multimodal.saveClipIndex(Multimodal.buildClipIndex(Multimodal.fabricateAudio(day1)), path)
      val resave = Multimodal.buildClipIndex(Multimodal.fabricateAudio(day2), window = 32)
      var committed = Set.empty[String]
      intercept[IllegalStateException](
        IndexStore.append(spark, path, "fingerprints") { p =>
          Multimodal.saveClipIndex(resave, path)
          committed = entries(path)
          Multimodal.buildClipIndex(Multimodal.fabricateAudio(day2), p("window").toInt)
            .fps.select("doc_id", "win_idx", "subfp")
        })
      assert(clipLoaded(path) == clipState(resave) && entries(path) == committed)
    }
  }

  test("a re-save with new parameters loads only the new rows and parameters") {
    withDir { dir =>
      Dedup.saveMinhashIndex(minhash(corpus), dir, "doc_id")
      Dedup.appendMinhashIndex(spark, dir, batch, "doc_id", "text")
      val resave = minhash(corpus.filter(col("doc_id") =!= 20L), k = 4, numPerm = 8)
      Dedup.saveMinhashIndex(resave, dir, "doc_id")
      assert(mhLoaded(dir) == mhState(resave))
    }
    withDir { path =>
      Multimodal.saveClipIndex(Multimodal.buildClipIndex(Multimodal.fabricateAudio(day1)), path)
      Multimodal.appendClipIndex(spark, path, Multimodal.fabricateAudio(day2))
      val resave = Multimodal.buildClipIndex(Multimodal.fabricateAudio(day2), window = 32)
      Multimodal.saveClipIndex(resave, path)
      assert(clipLoaded(path) == clipState(resave))
    }
    withDir { dir =>
      val (cb, assigned) = ivf(4)
      Similarity.saveIvfIndex(cb, assigned, dir)
      val (cb2, assigned2) = ivf(2, below = 30L)
      Similarity.saveIvfIndex(cb2, assigned2, dir)
      assert(ivfLoaded(dir) == ivfState(cb2, assigned2))
    }
  }

  test("loading or appending where nothing was committed fails naming the path") {
    withDir { dir =>
      for (path <- Seq(dir, s"$dir/absent")) {
        val msgs = Seq(
          intercept[java.io.FileNotFoundException](Dedup.loadMinhashIndex(spark, path)),
          intercept[java.io.FileNotFoundException](Multimodal.loadClipIndex(spark, path)),
          intercept[java.io.FileNotFoundException](Similarity.loadIvfIndex(spark, path)),
          intercept[java.io.FileNotFoundException](
            Dedup.appendMinhashIndex(spark, path, batch, "doc_id", "text"))
        ).map(_.getMessage)
        assert(msgs.forall(_.contains(path)), msgs.mkString("; "))
      }
    }
  }

  test("the minhash index's build-time bucket cap is saved with it") {
    // four copies of one text share every band bucket: a cap of 2 drops them
    val hot = (1L to 4L).map(i => (i, "the same text in every hot doc here")) ++
      Seq((5L, "a document of its own with other words"),
        (6L, "and one more document that stands apart"))
    val idx = Dedup.buildMinhashIndex(hot.toDF("doc_id", "text"), "doc_id", "text",
      k = 3, numPerm = 16, rowsPerBand = 4, maxBucket = 2)
    assert(idx.maxBucket == 2)
    assert(idx.bands.filter(col("doc_id") <= 4L).isEmpty, "fixture has no hot bucket")
    withDir { dir =>
      Dedup.saveMinhashIndex(idx, dir, "doc_id")
      val loaded = Dedup.loadMinhashIndex(spark, dir)
      assert(loaded.maxBucket == 2)
      assert(rows(loaded.bands) == rows(idx.bands), "loaded bands differ from the built ones")
      Dedup.saveMinhashIndex(idx, dir, "doc_id", 2)
      val e = intercept[IllegalArgumentException](Dedup.saveMinhashIndex(idx, dir, "doc_id", 0))
      assert(e.getMessage.contains("build-time cap 2"), e.getMessage)
      assert(rows(Dedup.loadMinhashIndex(spark, dir).bands) == rows(idx.bands))
    }
  }
}
