package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Until-convergence PageRank with dangling-mass redistribution: exact
  * value parity vs a plain-Scala power iteration replaying the same
  * sorted fold order, mass conservation, convergence behavior, and the
  * O(1) plan-depth guarantee of the per-iteration localCheckpoint.
  */
class PageRankSpec extends SparkSpec {

  private def edgesDf(es: (String, String, Long)*): DataFrame = {
    val s = spark
    import s.implicits._
    es.toDF("src", "dst", "w")
  }

  /** Driver-side reference with IDENTICAL arithmetic and fold order:
    * contributions folded in ascending src order, dangling mass in
    * ascending node order, r' = (1−d)/n + d·(inflow + dm/n) with dm/n
    * formed once — so equality below is exact, not approximate.
    */
  private def reference(es: Seq[(String, String, Long)], d: Double,
      eps: Double, maxIter: Int): (Map[String, Double], Int, Double) = {
    val w = es.groupBy(e => (e._1, e._2)).map { case (k, g) =>
      (k._1, k._2, g.map(_._3).sum) }.toSeq
    val nodes = (w.map(_._1) ++ w.map(_._2)).distinct.sorted
    val n = nodes.size.toDouble
    val ow = w.groupBy(_._1).map { case (s, g) => s -> g.map(_._3).sum.toDouble }
    val dangling = nodes.filterNot(ow.contains)
    var r = nodes.map(_ -> 1.0 / n).toMap
    var iter = 0
    var delta = Double.MaxValue
    while (iter < maxIter && delta >= eps) {
      iter += 1
      val dm = dangling.map(r).foldLeft(0.0)(_ + _)
      val dmOverN = dm / n
      val inflow = w.groupBy(_._2).map { case (dst, g) =>
        dst -> g.sortBy(_._1).foldLeft(0.0)((acc, e) =>
          acc + r(e._1) * e._3 / ow(e._1))
      }
      val next = nodes.map(v =>
        v -> ((1.0 - d) / n + d * (inflow.getOrElse(v, 0.0) + dmOverN))).toMap
      delta = nodes.map(v => math.abs(next(v) - r(v))).max
      r = next
    }
    (r, iter, delta)
  }

  // A → B, A → C(×2), B → C; C dangling (no out-edges)
  private val fixture = Seq[(String, String, Long)](
    ("a", "b", 1L), ("a", "c", 2L), ("b", "c", 1L))

  test("exact parity with the reference power iteration incl. dangling mass") {
    val res = PageRank.run(spark, edgesDf(fixture: _*), damping = 0.85,
      eps = 1e-12, maxIter = 100)
    val (expR, expIter, expDelta) = reference(fixture, 0.85, 1e-12, 100)
    res.iterations shouldBe expIter
    res.finalDelta shouldBe expDelta
    val got = res.ranks.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    got shouldBe expR // exact: same IEEE ops in the same order
  }

  test("mass is conserved at exactly 1 (stochastic completion)") {
    val res = PageRank.run(spark, edgesDf(fixture: _*), eps = 1e-12,
      maxIter = 100)
    val mass = res.ranks.collect().map(_.getDouble(1)).sorted.sum
    mass shouldBe 1.0 +- 1e-9
  }

  test("converges before the cap and the cap bounds a strict eps") {
    val loose = PageRank.run(spark, edgesDf(fixture: _*), eps = 1e-6,
      maxIter = 100)
    loose.iterations should be < 100
    loose.finalDelta should be < 1e-6
    val capped = PageRank.run(spark, edgesDf(fixture: _*), eps = 0.0,
      maxIter = 5)
    capped.iterations shouldBe 5
  }

  test("plan depth is O(1) in iterations (localCheckpoint truncation)") {
    val res = PageRank.run(spark, edgesDf(fixture: _*), eps = 1e-12,
      maxIter = 100)
    res.iterations should be > 20 // enough rounds that lineage WOULD explode
    val planNodes = res.ranks.queryExecution.optimizedPlan
      .collect { case p => p }.size
    planNodes should be < 10
  }

  test("the loop's scalars ride its pins: a converged run records at " +
      "most iterations + 5 query executions") {
    val edges = edgesDf(fixture: _*)
    val (res, qes) = queryExecutionsDuring(
      PageRank.run(spark, edges, eps = 1e-12, maxIter = 100))
    val (_, expIter, expDelta) = reference(fixture, 0.85, 1e-12, 100)
    res.iterations shouldBe expIter
    res.finalDelta shouldBe expDelta
    qes should be <= res.iterations + 5
  }

  test("dangling-node graph: isolated sink still gets (1-d)/n + d*dm/n") {
    // star into a sink: all mass flows to b, then redistributes
    val res = PageRank.run(spark,
      edgesDf(("a", "b", 1L), ("c", "b", 1L)), eps = 1e-12, maxIter = 200)
    val (expR, _, _) = reference(
      Seq(("a", "b", 1L), ("c", "b", 1L)), 0.85, 1e-12, 200)
    val got = res.ranks.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    got shouldBe expR
    // a and c are symmetric sources
    got("a") shouldBe got("c")
  }
}
