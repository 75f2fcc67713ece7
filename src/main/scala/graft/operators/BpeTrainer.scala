package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BPE tokenizer training loop (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units" — public literature) as
  * an iterated relational program: the k-merge extension of the
  * single-iteration `q_bpe_merge_step` primitive.
  *
  * Algorithm: represent every distinct word as a symbol sequence
  * (characters at step 0); each iteration picks the most frequent
  * adjacent symbol pair (frequency-weighted by word count, ties broken
  * lexicographically on (left, right)) and rewrites it into one symbol,
  * greedily left-to-right and non-overlapping, in every word that
  * contains it.
  *
  * Scale posture at 100 TB: raw text is scanned EXACTLY ONCE — the
  * word-frequency aggregation. All k iterations run over the
  * distinct-word table (|vocab| rows, orders of magnitude smaller than
  * the corpus) and the pair-statistics table is maintained
  * INCREMENTALLY: an iteration touches only the words containing the
  * merged pair (subtract their old pair counts, add their rewritten
  * ones — exact long arithmetic, so the incremental table equals a full
  * recount at every step). Each iteration `localCheckpoint`s both
  * working tables, truncating lineage so plan depth is O(1) per step
  * rather than O(k) (the q_pagerank pattern). The only driver-side data
  * movement is the top pair, which each stats pin observes on its own
  * job: the loop runs no query of its own.
  *
  * Greedy-rewrite equivalence: the fold below merges (a,b) whenever the
  * last emitted symbol is exactly `a` and the incoming symbol is
  * exactly `b`. After a merge the last symbol becomes `a+b ≠ a` (b is
  * non-empty), so no chained overlap: the result is precisely the
  * left-to-right non-overlapping rewrite — the same semantics as a
  * plain string `replace` over a delimiter-encoded form, which is what
  * the DuckDB oracle uses (see q_bpe_train_k3) and what [[segmenter]]
  * compiles the learned merges into.
  *
  * Encoding: a symbol sequence serializes as `sym` per
  * symbol, concatenated. The delimiters cannot occur inside symbols
  * ([[wordFreq]] filters control characters), so a substring match of
  * `ab` can only start at a symbol boundary
  * with the full symbols equal — string replace on the encoding is
  * exactly symbol-pair rewrite.
  */
object BpeTrainer {

  /** Symbol delimiters for the string-encoded form. */
  private val S = ""
  private val E = ""

  final case class Merge(step: Int, lhs: String, rhs: String, pairFreq: Long)

  /** Corpus pass (the ONLY raw-text scan): lowercase, whitespace-split,
    * non-empty, control-delimiter-free distinct words with counts.
    */
  def wordFreq(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(split(lower(text), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .filter(!col("word").rlike("[-]"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Adjacent symbol pairs of `seq` as (lhs, rhs) structs. Caller
    * guards `size(seq) >= 2` (Spark's `sequence(1, 0)` is DESCENDING,
    * not empty).
    */
  private def adjacentPairs(seq: Column): Column =
    transform(sequence(lit(1), size(seq) - 1), i =>
      struct(element_at(seq, i).as("lhs"), element_at(seq, i + 1).as("rhs")))

  /** (lhs, rhs, pair_freq) over a (freq, seq) table — frequency-weighted
    * adjacent-pair counts, partial-agg map-side.
    */
  private def pairCounts(words: DataFrame): DataFrame =
    words.filter(size(col("seq")) >= 2)
      .select(col("freq"), explode(adjacentPairs(col("seq"))).as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum(col("freq")).as("pair_freq"))

  /** Greedy left-to-right non-overlapping rewrite of adjacent (a,b) into
    * a+b (see scaladoc for the equivalence argument).
    */
  private def mergeSeq(seq: Column, a: String, b: String): Column =
    aggregate(seq, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === a && x === b,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Run k merge iterations over a (word, freq) table. Returns the
    * learned merges in order. Stops early when no pair remains.
    */
  def train(words: DataFrame, k: Int): Seq[Merge] = {
    // the argmax pair with the (freq DESC, lhs, rhs) tiebreak, observed on
    // each stats pin; NULL when no pair is left
    val top = Seq(min_by(struct(col("lhs"), col("rhs"), col("pair_freq")),
      struct(-col("pair_freq"), col("lhs"), col("rhs"))).as("top"))
    var syms = Pin(words
      .select(col("freq"), split(col("word"), "").as("seq")))
    var stats = Pin(pairCounts(syms), "BpeTrainer.train", top)
    val merges = Seq.newBuilder[Merge]
    var step = 0
    var done = false
    while (step < k && !done) {
      val best = stats.metrics.getStruct(0)
      if (best == null) done = true
      else {
        step += 1
        val (a, b, f) = (best.getString(0), best.getString(1), best.getLong(2))
        merges += Merge(step, a, b, f)
        // incremental stats: only words containing (a,b) change.
        // r19 opt: ONE rewrite pass — the r18 shape evaluated
        // hasAdjacent twice (affected + untouched filters) and mergeSeq
        // in two separate jobs (the syms checkpoint and the stats
        // delta); here the rewritten sequence is materialized once
        // beside the old one, and "affected" is seq2 ≠ seq — exactly
        // hasAdjacent, since the greedy rewrite changes a sequence iff
        // the pair occurs. Old pair counts subtract from the SAME
        // pinned rows the new ones add from.
        val merged = Pin(syms.select(col("freq"), col("seq"),
            mergeSeq(col("seq"), a, b).as("seq2")))
        val changed = merged.filter(!(col("seq2") === col("seq")))
        val delta = pairCounts(changed.select(col("freq"), col("seq2").as("seq")))
          .union(pairCounts(changed.select(col("freq"), col("seq")))
            .withColumn("pair_freq", -col("pair_freq")))
        syms = merged.select(col("freq"), col("seq2").as("seq"))
        stats = Pin(stats.frame.union(delta)
          .groupBy(col("lhs"), col("rhs"))
          .agg(sum(col("pair_freq")).as("pair_freq"))
          .filter(col("pair_freq") > 0), "BpeTrainer.train", top)
      }
    }
    merges.result()
  }

  /** Learned merges as a DataFrame (step, lhs, rhs, pair_freq). */
  def mergesDf(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.toDF("step", "lhs", "rhs", "pair_freq")
  }

  /** Compile learned merges into a column expression segmenting `text`
    * into subword tokens: per word, encode characters in the delimiter
    * form, apply the k merges as a chain of codegen'd string `replace`s
    * (each exactly the greedy rewrite), decode back to symbols. Pure
    * projection — map-side, no shuffle, no state.
    */
  def segmenter(text: Column, merges: Seq[Merge]): Column = {
    val encode = (w: Column) =>
      concat(lit(S), array_join(split(w, ""), E + S), lit(E))
    val applied = (enc: Column) => merges.foldLeft(enc)((c, m) =>
      replace(c, lit(S + m.lhs + E + S + m.rhs + E), lit(S + m.lhs + m.rhs + E)))
    val decode = (enc: Column) =>
      split(substring(enc, 2, Int.MaxValue), E + S) // drop lead ; trailing  folds into last split
    flatten(transform(
      filter(split(lower(text), "\\s+"), w => length(w) > 0 && !w.rlike("[-]")),
      // literal replace, not regexp_replace: E is a literal control
      // char and StringReplace stays in codegen with no regex engine
      // per symbol (r19 opt)
      w => transform(decode(applied(encode(w))), s => replace(s, lit(E), lit("")))))
  }

  // ---------------------------------------------------------------------
  // Persisted vocabulary artifact (meta-last commit, ArtifactPaths rules)
  // ---------------------------------------------------------------------

  final case class VocabStats(merges: Long, words: Long)

  /** Save learned merges under `dir`: merges table first, meta LAST so
    * `ArtifactPaths.exists` only sees complete artifacts.
    */
  def saveVocab(spark: SparkSession, dir: String, merges: Seq[Merge],
      wordCount: Long): Unit = {
    mergesDf(spark, merges).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/merges")
    import spark.implicits._
    Seq((merges.size.toLong, wordCount)).toDF("merges", "words")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  def loadVocab(spark: SparkSession, dir: String): Seq[Merge] = {
    require(ArtifactPaths.exists(dir), s"no committed BPE vocab at $dir")
    spark.read.parquet(s"$dir/merges").orderBy("step").collect()
      .map(r => Merge(r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
  }
}
