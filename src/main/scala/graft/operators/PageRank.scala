package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PageRank with the FULL standard semantics (Page et al. 1999; the
  * power-iteration form in Langville & Meyer 2006) — the hardened
  * sibling of the registry's fixed-k `q_pagerank`, which documents its
  * simplifications (3 iterations, dangling mass leaks):
  *
  *   - UNTIL-CONVERGENCE: iterate to `max|r' − r| < eps` (L∞, the
  *     standard power-iteration stop), capped at `maxIter`.
  *   - DANGLING-MASS REDISTRIBUTION: nodes with no out-edges donate
  *     their rank uniformly to all nodes each iteration, so total mass
  *     is conserved at exactly 1 (the stochastic-matrix completion):
  *     r'(v) = (1−d)/n + d·(inflow(v) + dm/n),  dm = Σ ranks of
  *     dangling nodes.
  *
  * Scale posture at 100 TB of events: the transition edge table is
  * O(|event types|²) here, but the loop shape is the web-scale one —
  * per iteration ONE edges⋈ranks shuffle on src (ranks is O(|nodes|)
  * and rides the same hash partitioning every round) and one pin of the
  * next ranks. The two scalars the loop reads, the next round's dangling
  * mass and the L∞ delta against the previous generation (carried as
  * `r0`), are observed on that pin's own job, as is `n` on the nodes pin:
  * the loop runs no query of its own. The pin truncates lineage, so plan
  * depth stays O(1) in the iteration count (spec-pinned) instead of
  * growing a join tree per round — the difference between 40 iterations
  * planning in milliseconds vs Catalyst re-analyzing a 40-deep
  * self-referential plan.
  *
  * Determinism (FIXTURES.md recipe): both double folds — per-dst inflow
  * and the dangling-mass sum — run in SORTED key order via the
  * collect_list/array_sort/aggregate HOF fold (the LmScore pattern), so
  * every iteration is bit-reproducible across partitionings; the spec
  * replays the same fold order in plain Scala and matches exactly.
  * In-degree and |dangling| are bounded by |nodes| (event types); the
  * web-scale variant swaps the folds for plain sums and accepts
  * fp-association noise below the rounding cut.
  */
object PageRank {

  final case class Result(ranks: DataFrame, iterations: Int,
      finalDelta: Double)

  /** Sorted-key double fold as an aggregate Column — Σ `v` over the rows
    * where `keep` holds, in ascending `k` order, bit-reproducible across
    * partitionings.
    */
  private def sortedFold(k: Column, v: Column, keep: Column = lit(true)): Column =
    aggregate(array_sort(collect_list(when(keep, struct(k.as("k"), v.as("v"))))),
      lit(0.0), (acc, x) => acc + x.getField("v"))

  /** Run over a weighted edge table (src, dst, w). Returns converged
    * ranks (node, r), the iteration count, and the last L∞ delta.
    */
  def run(spark: SparkSession, edges: DataFrame, damping: Double = 0.85,
      eps: Double = 1e-8, maxIter: Int = 40): Result = {
    val e0 = Pin(edges.groupBy(col("src"), col("dst"))
      .agg(sum(col("w")).as("w")))
    val outw = e0.groupBy(col("src"))
      .agg(sum(col("w")).cast("double").as("ow"))
    val e = Pin(e0.join(outw, "src"))
    // a node is dangling iff it is never a src: min(false, true, …)
    val nodes = Pin(e0.select(col("src").as("node"), lit(false).as("dangling"))
      .union(e0.select(col("dst").as("node"), lit(true).as("dangling")))
      .groupBy(col("node")).agg(min(col("dangling")).as("dangling")),
      "PageRank.run", Seq(count(lit(1)).as("n")))
    val n = nodes.long("n").toDouble
    // each ranks pin observes the dangling mass the next round reads
    val dmFold = sortedFold(col("node"), col("r"), col("dangling")).as("dm")
    var ranks = Pin(nodes.frame.withColumn("r", lit(1.0 / n)),
      "PageRank.run", Seq(dmFold))
    var iter = 0
    var delta = Double.MaxValue
    while (iter < maxIter && delta >= eps) {
      iter += 1
      val dm = ranks.metrics.getAs[Double]("dm")
      val contribs = e.join(ranks.frame, col("src") === col("node"))
        .select(col("dst"), col("src"),
          (col("r") * col("w") / col("ow")).as("c"))
      val inflow = contribs.groupBy(col("dst"))
        .agg(sortedFold(col("src"), col("c")).as("inflow"))
      // L∞ delta (max is fold-order-independent) against `r0`, which the
      // metrics read and the pin does not store
      ranks = Pin(ranks.frame.join(inflow, col("node") === col("dst"), "left")
        .select(col("node"), col("dangling"), col("r").as("r0"),
          (lit((1.0 - damping) / n) + lit(damping) *
            (coalesce(col("inflow"), lit(0.0)) + lit(dm / n))).as("r")),
        "PageRank.run", Seq(dmFold, max(abs(col("r") - col("r0"))).as("d")),
        _.drop("r0"))
      delta = ranks.metrics.getAs[Double]("d")
    }
    Result(ranks.frame.select(col("node"), col("r")), iter, delta)
  }
}
