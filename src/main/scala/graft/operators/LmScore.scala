package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram language-model quality scoring (CCNet-style): train an
  * add-one-smoothed unigram model on the corpus itself, score each doc by
  * its average negative log-likelihood per token. Low = in-distribution
  * fluent text; high = outlier/garbage. The shared implementation behind
  * the declared query (q_lm_score) and PipelineMain's enrichment stage.
  *
  * Determinism contract: per-doc contributions quantize to FIXED-POINT
  * Longs (round(c · 2³⁴)) before the cross-row sum, so the fold is exact
  * integer arithmetic — order-independent across any partitioning, and
  * DuckDB replays it as a plain spillable `sum(CAST(round(c·2³⁴) AS
  * BIGINT))` (the QualityTrainer gradient-fold device). This replaced
  * the original ordered-list fold (`aggregate` over
  * `array_sort(collect_list(...))` mirrored by DuckDB `list(c ORDER BY
  * token)` + `list_reduce`): that device was also deterministic, but
  * per-doc list materialization OOM'd DuckDB's allocator at the sf10
  * gate (500k docs) where the integer sum spills fine, and the Spark
  * side paid a per-doc sort + interpreted HOF fold for ordering that
  * integer addition gets for free. Quantization error ≤ 2⁻³⁵ per term
  * (≤ 1.5e-7 for a 5k-token doc — three orders under the 4-decimal
  * output grid); |Σq| ≤ n_tokens · |ln p|max · 2³⁴ stays int64-exact to
  * ~30M tokens per document, and ANSI mode throws (never corrupts) past
  * that.
  *
  * Scale posture: the vocab agg is partial+final on (token); per-doc
  * state is one Long + one count (was: the doc's distinct-token list);
  * document text never shuffles — only (doc_id, token, counts) rows.
  */
object LmScore {

  /** Fixed-point scale (2³⁴) for order-independent fp contribution sums —
    * shared by nll and the DSIR importance-weight fold (q_sample_dsir).
    */
  val FixedPointScale: Double = 17179869184.0

  /** docs must have (doc_id, toks: array<string>). Returns one row per doc
    * with ≥1 token: (doc_id, n_tokens, nll), nll rounded to 4 decimals.
    */
  def nll(docs: DataFrame): DataFrame = {
    // ONE tokenize+explode pass (r19 opt, guide §1.2): the corpus-wide
    // token frequency is derivable from the per-doc term frequencies
    // (cnt = Σ_docs tf, exactly — both count token occurrences), so the
    // (doc_id, token) aggregate is computed first, pinned, and the vocab
    // table + totals fold over ITS compact rows instead of re-exploding
    // every document a second time.
    val tf = Pin(docs.select(col("doc_id"), explode(col("toks")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf")))
    val freq = tf.groupBy(col("token")).agg(sum(col("tf")).as("cnt"))
    val totals = freq.agg(sum(col("cnt")).as("t"), count(lit(1)).as("v"))
    val contrib = tf.join(freq, "token").crossJoin(broadcast(totals))
      .withColumn("c",
        col("tf").cast("double") *
          log((col("cnt").cast("double") + lit(1.0)) /
              (col("t").cast("double") + col("v").cast("double"))))
    contrib.groupBy(col("doc_id"))
      .agg(
        sum(round(col("c") * lit(FixedPointScale)).cast("long")).as("sq"),
        sum(col("tf")).as("n"))
      .withColumn("nll",
        round(-(col("sq").cast("double") / lit(FixedPointScale)) /
          col("n").cast("double"), 4))
      .select(col("doc_id"), col("n").as("n_tokens"), col("nll"))
  }
}
