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
  * and rides the same hash partitioning every round) plus two O(|nodes|)
  * aggregates (dangling mass, convergence delta) that reduce to one
  * driver row each. `localCheckpoint` after every iteration truncates
  * lineage, so plan depth stays O(1) in the iteration count
  * (spec-pinned) instead of growing a join tree per round — the
  * difference between 40 iterations planning in milliseconds vs
  * Catalyst re-analyzing a 40-deep self-referential plan.
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

  /** Sorted-key double fold as an aggregate Column — Σ `v` in ascending
    * `k` order, bit-reproducible across partitionings.
    */
  private def sortedFold(k: Column, v: Column): Column =
    aggregate(array_sort(collect_list(struct(k.as("k"), v.as("v")))),
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
    val nodes = Pin(e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node"))).distinct())
    val n = nodes.count().toDouble // O(|nodes|) driver scalar
    val dangling = Pin(nodes.join(outw.withColumnRenamed("src", "node"),
      Seq("node"), "left_anti"))

    var ranks = Pin(nodes.withColumn("r", lit(1.0 / n)))
    var iter = 0
    var delta = Double.MaxValue
    while (iter < maxIter && delta >= eps) {
      iter += 1
      // dangling mass this round: one-row sorted fold → driver scalar
      val dm = dangling.join(ranks, "node")
        .agg(sortedFold(col("node"), col("r")).as("dm"))
        .collect()(0).getDouble(0)
      val contribs = e.join(ranks, col("src") === col("node"))
        .select(col("dst"), col("src"),
          (col("r") * col("w") / col("ow")).as("c"))
      val inflow = contribs.groupBy(col("dst"))
        .agg(sortedFold(col("src"), col("c")).as("inflow"))
      val next = Pin(nodes.join(inflow, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit((1.0 - damping) / n) + lit(damping) *
            (coalesce(col("inflow"), lit(0.0)) + lit(dm / n))).as("r")))
      // L∞ delta (max is fold-order-independent): one driver scalar
      delta = next.join(ranks.withColumnRenamed("r", "r0"), "node")
        .agg(max(abs(col("r") - col("r0"))).as("d"))
        .collect()(0).getDouble(0)
      ranks = next
    }
    Result(ranks, iter, delta)
  }
}
