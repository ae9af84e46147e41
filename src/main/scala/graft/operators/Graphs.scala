package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph analytics for corpus curation (scale extension — no
  * reference counterpart, SURVEY §7.5): domain/source authority scoring
  * drives crawl prioritization and per-domain sampling weights in
  * web-scale training pipelines (the role harmonic centrality plays in
  * Common Crawl's domain ranking; Page et al. 1999 for PageRank itself).
  * Near-dup clustering's iterative sibling lives in
  * [[Dedup.connectedComponents]]; this file holds the weighted-walk side.
  */
object Graphs {

  /** FIXED-POINT integer PageRank: every quantity is a long (node mass
    * starts at `scale`; one round does contrib = pr div outdeg per edge,
    * then pr' = (15·scale) div 100 + (85·Σ contrib) div 100). Integer
    * sums are order-independent, so — unlike the float formulation,
    * whose Σ depends on reduction order — results are bit-identical
    * across partitionings, retries, AND engines: the DuckDB oracle
    * replays the rounds with `//` and hash-matches exactly. The price is
    * truncation (up to outdeg units of mass per node per round vanish,
    * as does all mass reaching rank sinks — the standard
    * drop-dangling-mass variant): ranks are ORDINAL authority scores,
    * not a probability distribution, which is all corpus curation uses
    * them for.
    *
    * Scale shape: one equi-join (edges × current ranks, shuffling 8-byte
    * masses) and one map-side-combined sum per round — the CC cost
    * model; `iters` is small and fixed (authority scores converge
    * ordinally in a handful of rounds; 3–10 is the working range). The
    * plan is left UNROLLED for small `iters` so Catalyst sees one
    * declarative tree; for `iters` ≳ 8 pass `checkpointEvery` > 0 to
    * truncate lineage, and on a cluster pass `checkpointDir` to use
    * reliable-storage checkpoints (same trade as connectedComponents).
    * The pins the result reads go to the enclosing [[Pins]] scope, or
    * to the caller outside any scope; superseded rank checkpoints are
    * released when the call returns.
    *
    * Overflow bound: Σ contrib at one node < total mass ≤ |V|·scale, and
    * the update multiplies by 85 — keep |V|·scale·85 < 2⁶³ (at the
    * default scale=10⁶, good to ~10¹¹ nodes).
    */
  def pageRankInt(edges: DataFrame, srcCol: String, dstCol: String,
                  iters: Int, scale: Long = 1000000L,
                  checkpointEvery: Int = 0,
                  checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    require(scale >= 100L, "scale below 100 truncates the damping terms to 0")
    Pins(checkpointDir) { pins =>
    // The three per-round invariants are materialized ONCE (eager
    // checkpoint): without this every iteration re-scans the raw
    // edge table and re-runs its distinct — linear-in-iters source I/O,
    // the wrong slope at 100 TB. After the checkpoint each round joins
    // executor-resident blocks only.
    val e = pins.pin(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct())
    val nodes = pins.pin(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val deg = pins.pin(e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")))
    val baseAdd = (15L * scale) / 100L
    var pr = nodes.withColumn("pr", lit(scale))
    var pinnedPr = pr
    for (i <- 1 to iters) {
      val contrib = e
        .join(pr.withColumnRenamed("node", "src"), "src")
        .join(deg, "src")
        .select(col("dst").as("node"), expr("pr div outdeg").as("c"))
      val inSum = contrib.groupBy(col("node")).agg(sum(col("c")).as("s"))
      pr = nodes.join(inSum, Seq("node"), "left")
        .select(col("node"),
          (lit(baseAdd) + expr("85 * coalesce(s, 0L) div 100")).as("pr"))
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iters) {
        pr = pins.pin(pr)
        pinnedPr = pr
      }
    }
    Seq(e, nodes, deg, pinnedPr).foreach(pins.keep)
    pr
    }
  }

  /** Per-vertex triangle counts over an undirected graph, by
    * DEGREE-ORDERED edge orientation (the MPC-standard trick): each
    * edge points from its lower-(degree, id) endpoint to the higher,
    * so every triangle forms exactly one wedge AT ITS MINIMUM vertex
    * and the wedge-generating self-join fans out as Σ d⁺(v)² with
    * d⁺ <= sqrt(2·|E|) — a star's hub generates NO wedges (all edges
    * point INTO it), where the naive a<b<c orientation would square
    * the hub degree. The closing step is one semi join of wedges
    * against the normalized edge set; counts come from exploding each
    * triangle's three vertices. All equi-joins on ids — no text, no
    * nested loop; the oracle replays the orientation-independent
    * triangle set with the naive u<v<w three-way join.
    *
    * Self-loops are dropped; parallel edges collapse via distinct.
    * Output: (node, n_tri) for nodes in at least one triangle.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val deg = und.select(col("u").as("n")).union(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // orient by (degree, id): a -> b iff (d_a, a) < (d_b, b)
    val withDeg = und
      .join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
      .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
    val oriented = withDeg.select(
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
        struct(col("u").as("a"), col("v").as("b")))
        .otherwise(struct(col("v").as("a"), col("u").as("b"))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.a") === col("y.a") && col("x.b") < col("y.b"))
      .select(col("x.a").as("a"), col("x.b").as("p"), col("y.b").as("q"))
    val triangles = wedges.join(und,
      least(col("p"), col("q")) === col("u") &&
        greatest(col("p"), col("q")) === col("v"), "left_semi")
    triangles.select(explode(array(col("a"), col("p"), col("q"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }
}
