package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training (Kudo 2018, "Subword Regularization:
  * Improving Neural Network Translation Models with Multiple Subword
  * Candidates" — public literature; the SentencePiece sibling of BPE),
  * in its Viterbi hard-EM form: model each word as the best (max
  * log-probability) segmentation into vocabulary pieces, re-estimate
  * piece probabilities from the frequency-weighted usage counts of those
  * best segmentations, iterate, prune to the target vocabulary.
  *
  * The hard-EM (Viterbi) simplification replaces Kudo's forward-backward
  * expected counts with best-path counts — the standard deterministic
  * variant, chosen here because best-path counts are exact LONG
  * arithmetic: the distributed count aggregation is order-invariant, so
  * training is bit-reproducible under any partitioning and a plain-Scala
  * replay of the same EM matches exactly (UnigramTrainerSpec, the
  * PageRankSpec parity pattern).
  *
  * Scale posture (the BpeTrainer rules): raw text is scanned EXACTLY
  * ONCE — [[BpeTrainer.wordFreq]]'s word-frequency aggregation. All EM
  * iterations run over the distinct-word table (|vocab| rows, orders of
  * magnitude smaller than the corpus); the piece table is bounded by
  * `seedFactor × targetVocab` and travels to executors once per
  * iteration as a broadcast log-probability map; per-iteration driver
  * movement is one O(|pieces|) count collect (the BPE argmax bound).
  * Per-word Viterbi is a pure function of (word, piece map) — map-side,
  * no shuffle beyond the (piece, count) aggregation, and the corpus-wide
  * [[segment]] pass is a projection-shaped map with the final vocab
  * broadcast.
  *
  * Determinism contract: seed selection orders by (count desc, piece
  * asc); Viterbi ties (equal path log-prob) resolve to the longest last
  * piece (ascending start-index scan with strict improvement); counts
  * are longs; log-probs are ln(count)−ln(total) of longs. Every
  * tie-break is total, so train/segment are pure functions of the input
  * table.
  */
object UnigramTrainer {

  final case class Piece(piece: String, cnt: Long, logp: Double)

  /** Best (max log-prob) segmentation of `w` under `logp`, or None if
    * some character of `w` is outside the vocabulary. Ascending-start
    * scan with strict improvement ⇒ ties keep the smallest start index
    * (= the longest final piece) — the documented deterministic rule.
    */
  def viterbi(w: String, logp: collection.Map[String, Double],
      maxPieceLen: Int): Option[Seq[String]] = {
    val n = w.length
    if (n == 0) return Some(Seq.empty)
    val dp = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = Array.fill(n + 1)(-1)
    dp(0) = 0.0
    var j = 1
    while (j <= n) {
      var i = math.max(0, j - maxPieceLen)
      while (i < j) {
        if (dp(i) != Double.NegativeInfinity) {
          logp.get(w.substring(i, j)) match {
            case Some(lp) =>
              val cand = dp(i) + lp
              if (cand > dp(j)) { dp(j) = cand; back(j) = i }
            case None =>
          }
        }
        i += 1
      }
      j += 1
    }
    if (dp(n) == Double.NegativeInfinity) None
    else {
      var pieces = List.empty[String]
      var k = n
      while (k > 0) { val i = back(k); pieces = w.substring(i, k) :: pieces; k = i }
      Some(pieces)
    }
  }

  private def logpOf(vocab: Seq[(String, Long)]): Map[String, Double] = {
    val total = vocab.map(_._2).sum.toDouble
    val lt = math.log(total)
    vocab.map { case (p, c) => p -> (math.log(c.toDouble) - lt) }.toMap
  }

  /** Seed vocabulary: the `seedFactor × targetVocab` most frequent
    * substrings (length ≤ maxPieceLen, frequency-weighted occurrence
    * counts over the distinct-word table, ties lexicographic) UNION all
    * single characters — the character floor guarantees every word stays
    * segmentable through every prune.
    */
  def seedPieces(spark: SparkSession, words: DataFrame, targetVocab: Int,
      maxPieceLen: Int, seedFactor: Int): Seq[(String, Long)] = {
    import spark.implicits._
    val wf = words.select(col("word"), col("freq").cast("long"))
      .as[(String, Long)]
    // feeds the top-k AND the char floor
    val subCounts = Pin(wf.flatMap { case (w, f) =>
      for {
        i <- 0 until w.length
        l <- 1 to math.min(maxPieceLen, w.length - i)
      } yield (w.substring(i, i + l), f)
    }.toDF("piece", "f").groupBy(col("piece")).agg(sum(col("f")).as("cnt")))
    val top = subCounts
      .orderBy(col("cnt").desc, col("piece"))
      .limit(math.max(1, seedFactor * targetVocab))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val chars = subCounts.filter(length(col("piece")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    (top ++ chars).distinct.sortBy(_._1).toSeq
  }

  /** Run `iters` Viterbi-EM rounds over a (word, freq) table and prune
    * to `targetVocab` pieces (single characters always survive; the
    * multi-char budget fills by (count desc, piece asc)). Returns the
    * final vocabulary with its usage counts and log-probs, sorted by
    * piece.
    */
  def train(spark: SparkSession, words: DataFrame, targetVocab: Int,
      iters: Int = 3, maxPieceLen: Int = 6, seedFactor: Int = 4): Seq[Piece] = {
    require(targetVocab > 0 && iters > 0 && maxPieceLen > 0,
      s"bad unigram params: v=$targetVocab iters=$iters len=$maxPieceLen")
    import spark.implicits._
    val wf = Pin(words.select(col("word"), col("freq").cast("long")))
      .as[(String, Long)]
    var vocab = seedPieces(spark, words, targetVocab, maxPieceLen, seedFactor)

    def emCounts(v: Seq[(String, Long)]): Map[String, Long] = {
      val bc = spark.sparkContext.broadcast(logpOf(v))
      val mpl = maxPieceLen
      val counts = wf.flatMap { case (w, f) =>
        viterbi(w, bc.value, mpl).toSeq.flatten.map(p => (p, f))
      }.toDF("piece", "f").groupBy(col("piece")).agg(sum(col("f")).as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      bc.destroy()
      counts
    }

    var it = 0
    while (it < iters) {
      val counts = emCounts(vocab)
      // pieces unused by every best path drop out (the hard-EM prune);
      // single chars keep a floor count of 1 so every word stays
      // segmentable and their log-prob stays finite
      vocab = vocab.flatMap { case (p, _) =>
        val c = counts.getOrElse(p, 0L)
        if (c > 0) Some((p, c))
        else if (p.length == 1) Some((p, 1L))
        else None
      }.sortBy(_._1)
      it += 1
    }
    // final prune to the target size: chars always; multi-char budget by
    // (count desc, piece asc)
    val (chars, multi) = vocab.partition(_._1.length == 1)
    val budget = math.max(0, targetVocab - chars.size)
    val kept = chars ++ multi.sortBy { case (p, c) => (-c, p) }.take(budget)
    // one more count pass against the FINAL vocabulary so the reported
    // counts/log-probs describe the artifact users load, not the
    // pre-prune model
    val finalCounts = emCounts(kept)
    val finalVocab = kept.map { case (p, _) =>
      val c = finalCounts.getOrElse(p, 0L)
      (p, if (c > 0) c else 1L)
    }.sortBy(_._1)
    val lp = logpOf(finalVocab)
    finalVocab.map { case (p, c) => Piece(p, c, lp(p)) }
  }

  /** Corpus-wide segmentation with a trained vocabulary: per document,
    * the same normalization as the training scan
    * ([[BpeTrainer.wordFreq]]: lowercase, whitespace split) then per-word
    * Viterbi under the broadcast piece map — a map-side projection, the
    * BpeTrainer.segmenter posture. Output: (doc_id, n_words, n_pieces,
    * seg) with `seg` the pieces joined by '·' (word boundaries by ' ').
    */
  def segment(spark: SparkSession, docs: DataFrame, vocab: Seq[Piece],
      maxPieceLen: Int = 6): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(
      vocab.map(p => p.piece -> p.logp).toMap)
    val mpl = maxPieceLen
    docs.select(col("doc_id").cast("long"), lower(col("text")))
      .as[(Long, String)]
      .map { case (id, text) =>
        val wordsArr = text.split("\\s+").filter(_.nonEmpty)
        // ONE Viterbi DP per word; both the joined string and the piece
        // count derive from the same result (this pass dominates the
        // corpus-wide map cost — running the DP twice doubled it)
        var nPieces = 0L
        val segs = wordsArr.map { w =>
          viterbi(w, bc.value, mpl) match {
            case Some(ps) => nPieces += ps.size; ps.mkString("·")
            case None     => nPieces += 1; w
          }
        }
        (id, wordsArr.length.toLong, nPieces, segs.mkString(" "))
      }
      .toDF("doc_id", "n_words", "n_pieces", "seg")
  }

  // ---------------------------------------------------------------------
  // Persisted vocabulary artifact (meta-last commit, ArtifactPaths rules)
  // ---------------------------------------------------------------------

  def saveVocab(spark: SparkSession, dir: String, vocab: Seq[Piece]): Unit = {
    import spark.implicits._
    vocab.toDF("piece", "cnt", "logp").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/pieces")
    Seq(Tuple1(vocab.size.toLong)).toDF("pieces")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  def loadVocab(spark: SparkSession, dir: String): Seq[Piece] = {
    require(ArtifactPaths.exists(dir), s"no committed unigram vocab at $dir")
    spark.read.parquet(s"$dir/pieces").orderBy("piece").collect()
      .map(r => Piece(r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
  }
}
