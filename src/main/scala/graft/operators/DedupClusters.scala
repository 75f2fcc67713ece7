package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-duplicate cluster formation: fold pairwise matches (from MinHash /
  * SimHash / Jaccard / cosine) into connected components and pick one
  * canonical document per component — the step that turns "pairs" into an
  * actual deduplicated corpus.
  *
  * Algorithm: min-label propagation with pointer jumping — each iteration
  * (a) takes the min over neighbors' labels and (b) shortcuts through the
  * label graph (label := label of label). The shortcut halves path lengths
  * each round, so convergence is O(log diameter) rather than O(diameter):
  * a 1000-doc near-dup chain resolves in ~10 iterations, not 1000. Each
  * iteration is a bounded number of shuffles on doc_id and lineage is
  * truncated per round (a pin). Only the convergence counter touches the
  * driver.
  */
object DedupClusters {

  /** Edge-count ceiling for the single-task union-find fast path (~16 MB
    * of (u,v) longs through one repartition(1) exchange; union-find over
    * 1M edges runs in ~100 ms inside one task). Past it, component
    * labeling runs the distributed pointer-jumping loop — the 100 TB
    * path. The MaxBroadcastDupIds convention: a measured bound, not a
    * scale assumption.
    */
  val MaxLocalEdges: Long = 1L << 20

  /** pairs(id_a, id_b) → (doc_id, cluster_id = min doc_id of component).
    * Only docs appearing in some pair are returned (singletons are their
    * own cluster by definition — callers union them in if needed).
    *
    * Iteration parallelism is carried by explicit `repartition(parts, key)`
    * on each shuffle boundary — never by mutating the session-global
    * `spark.sql.shuffle.partitions` — so concurrent queries planned on the
    * same session are unaffected. Where the repartition key matches the
    * downstream join/group key, the exchange does double duty (the join
    * reuses it instead of planning its own).
    */
  def components(pairs: DataFrame, maxIter: Int = 10,
      localEdgeCap: Long = MaxLocalEdges): DataFrame = {
    // Symmetrize in ONE scan of the pairs input (r19 opt, guide §1.2):
    // the r18 shape eagerly pinned `pairs` (one extra materialization
    // job) purely so the (u,v)/(v,u) UNION's two branches would not
    // re-evaluate the expensive candidates-then-verify kernel feeding
    // this operator. An explode over the two orientations references
    // the input exactly once, so the kernel evaluates once INSIDE the
    // edge materialization itself and the standalone pin job disappears.
    // the edge count rides the materialization job via observe (r20) —
    // the r19 shape ran a separate count() job over the pinned blocks
    val edgePin = Pin(pairs
      .select(explode(array(
        struct(col("id_a").as("u"), col("id_b").as("v")),
        struct(col("id_b").as("u"), col("id_a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct(), "DedupClusters.components", Seq(count(lit(1)).as("n")))
    val edgesRaw = edgePin.frame // materialized once; iterations re-join it
    // Size the ITERATION parallelism to the materialized edge count, not
    // the session default: dup-pair graphs are usually a sliver of the
    // corpus (a 500-doc fixture yields ~50 edges; even 100 TB of text
    // rarely yields more than ~1% dup pairs), and running a handful of
    // rows through 32-partition shuffles × 3 joins × k iterations makes
    // fixed per-shuffle overhead the dominant cost. The count rode the
    // materialization job above.
    val nEdges = edgePin.long("n")
    // SINGLE-TASK union-find fast path (r19 opt, guide §1.2 "the
    // distributed algorithm"): dup-pair graphs are a sliver of the
    // corpus, and below MaxLocalEdges (16 MB of long pairs) the entire
    // component labeling fits one executor task — path-compressed
    // union-find over the materialized edges, ZERO iteration loop,
    // zero per-iteration shuffles/checkpoints (the loop's fixed cost
    // was the #1 wall item of every cluster query at fixture scale,
    // 10 iterations on the chained simhash graph). min-id roots make
    // the labels EXACTLY the loop's fixed point, pinned against the
    // distributed path by DedupClustersSpec. Edges stay on executors
    // (one repartition(1) of ≤ the cap — never a driver collect); past
    // the cap the pointer-jumping loop below is unchanged.
    if (nEdges <= localEdgeCap) {
      val spark = edgesRaw.sparkSession
      import spark.implicits._
      val out = edgesRaw.select(col("u"), col("v")).as[(Long, Long)]
        .repartition(1)
        .mapPartitions { it =>
          val parent = new scala.collection.mutable.LongMap[Long]()
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
            var c = x
            while (parent.getOrElse(c, c) != c) {
              val n = parent.getOrElse(c, c); parent(c) = r; c = n
            }
            r
          }
          it.foreach { case (u, v) =>
            parent.getOrElseUpdate(u, u); parent.getOrElseUpdate(v, v)
            val ru = find(u); val rv = find(v)
            // attach the LARGER root under the smaller: the component's
            // root is always its min id, so labels are min-id exact
            if (ru < rv) parent(rv) = ru
            else if (rv < ru) parent(ru) = rv
          }
          val ks = parent.keys.toArray // find() mutates; freeze keys first
          ks.iterator.map(k => (k, find(k)))
        }
        .toDF("doc_id", "cluster_id")
      return out
    }
    val parts = math.max(1L, math.min(
      edgesRaw.sparkSession.sparkContext.defaultParallelism.toLong,
      nEdges / 50000 + 1)).toInt
    val edges = Pin(edgesRaw.repartition(parts, col("v")))
    // label = current component candidate (min id seen so far).
    // localCheckpoint (eager) per iteration truncates lineage — without it
    // iteration k's plan nests k join plans and planning itself blows up.
    // Each labels generation is checkpointed hash-partitioned on doc_id,
    // so the three per-iteration uses (neighbor join on v2, stepped join,
    // convergence count) all reuse that layout via alias propagation.
    var labels = Pin(edges.repartition(parts, col("u"))
      .groupBy(col("u").as("doc_id"))
      .agg(least(min(col("v")), first(col("u"))).as("label")))
    var converged = false
    var i = 0
    // Convergence check (r19 opt, r20 form): each generation CARRIES its
    // iteration-start label (`prev`, 8 B/row) through the propagate +
    // jump joins, and a `Dataset.observe` metric rides the checkpoint
    // job itself — so "did anything change" costs ZERO extra jobs. The
    // r18 shape re-JOINED the new generation against the old one in a
    // separate count job every second iteration (a full extra shuffle
    // per check); deep chained graphs run 10+ iterations (measured on
    // the simhash fixture graph), so the per-iteration job count is the
    // whole cost model here. r20 (r19 verdict task 5): the r19 counter
    // was an accumulator bumped inside a ScalaUDF — an interpreted
    // per-row black-box call in the distributed path's final projection;
    // observe(count(when(label =!= prev))) is the same zero-extra-job
    // signal as a codegen-native expression. Safety direction unchanged:
    // a retried/speculated task can only OVER-count (extra no-op
    // iteration, labels already a fixed point), never under-count to a
    // false convergence.
    while (!converged && i < maxIter) {
      // (a) propagate: each node takes min(own label, neighbors' labels).
      // edges is checkpointed partitioned on v; the labels side repartitions
      // to the matching key/count so the join plans no session-sized exchange.
      val neighborLabels = edges
        .join(labels.withColumnRenamed("doc_id", "v2").repartition(parts, col("v2")),
          col("v") === col("v2"))
        .repartition(parts, col("u"))
        .groupBy(col("u").as("doc_id"))
        .agg(min(col("label")).as("nlabel"))
      val stepped = labels.join(neighborLabels, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("label").as("prev"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
        .repartition(parts, col("label"))
      // (b) pointer jump: label := label's label (labels only decrease)
      // eager: the observed metric is final once the pin returns; `prev`
      // is read by the metric, not stored
      val next = Pin(stepped.alias("s")
        .join(stepped.select(col("doc_id").as("l2"), col("label").as("ll"))
          .repartition(parts, col("l2")).alias("t"),
          col("s.label") === col("l2"), "left_outer")
        .select(col("s.doc_id").as("doc_id"), col("s.prev").as("prev"),
          least(col("s.label"), coalesce(col("ll"), col("s.label")))
            .as("label")), "DedupClusters.components",
        Seq(count(when(col("label") =!= col("prev"), lit(1))).as("changed")),
        _.select(col("doc_id"), col("label")).repartition(parts, col("doc_id")))
      // labels only decrease, so label == prev everywhere is a fixed
      // point forever
      converged = next.long("changed") == 0L
      labels = next.frame
      i += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"DedupClusters.components did not converge after $maxIter iterations; " +
          "cluster labels may be split — raise maxIter (rounds needed is " +
          "O(log diameter) under pointer jumping)")
    labels.select(col("doc_id"), col("label").as("cluster_id"))
  }

  /** One row per cluster: canonical keeper + member count. The keeper IS
    * the cluster_id (the component min labels itself) — kept as an
    * explicit column because that identity is the API contract the
    * end-to-end spec pins.
    */
  def keepers(pairs: DataFrame, maxIter: Int = 10): DataFrame =
    components(pairs, maxIter)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("cluster_id").as("keeper"), col("n_members"))
      .orderBy(col("cluster_id"))

  /** Keeper by QUALITY: per cluster keep the highest-scoring member,
    * ties to the smallest doc_id — the production curation rule
    * (min-id keeps an arbitrary page; a dedup pass should keep the best
    * one). `scores` is (doc_id, score); only cluster members join it
    * (one equi join on ids — the score table never re-shuffles per
    * cluster), and the argmax is a single `max_by` over a (score,
    * −doc_id) struct, so the whole selection is one partial+final agg.
    */
  def keepersBy(pairs: DataFrame, scores: DataFrame,
      maxIter: Int = 10): DataFrame =
    keepersByLabels(components(pairs, maxIter), scores)

  /** Same selection over PRECOMPUTED component labels (doc_id,
    * cluster_id) — for callers (the pipeline) that already ran
    * [[components]] and must not pay the pointer-jumping loop twice.
    */
  def keepersByLabels(labels: DataFrame, scores: DataFrame): DataFrame =
    labels
      .join(scores, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("n_members"),
        max_by(col("doc_id"),
          struct(col("score"), (-col("doc_id")).as("neg"))).as("keeper"),
        max(col("score")).as("keeper_score"))
      .select(col("cluster_id"), col("keeper"), col("keeper_score"),
        col("n_members"))
      .orderBy(col("cluster_id"))
}
