package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BPE training loop: learned merge sequence on the classic Sennrich
  * et-al. fixture, greedy-rewrite semantics (left-to-right,
  * non-overlapping), incremental-stats exactness vs a from-scratch
  * recount, segmentation via the compiled replace chain, and the vocab
  * artifact round trip.
  */
class BpeTrainerSpec extends SparkSpec {
  import BpeTrainer.Merge

  private def words(pairs: (String, Long)*) = {
    val s = spark
    import s.implicits._
    pairs.toDF("word", "freq")
  }

  // low×5 lower×2 newest×6 widest×3 (Sennrich et al. 2016 §3 example
  // shape): es and st tie at 9 → lexicographic tiebreak picks (e,s);
  // after merging, (es,t) reaches 9; then lo/ow tie at 7 → (l,o).
  private val sennrich =
    words("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)

  test("learned merge sequence with deterministic tiebreaks") {
    BpeTrainer.train(sennrich, 3) shouldBe Seq(
      Merge(1, "e", "s", 9L), Merge(2, "es", "t", 9L), Merge(3, "l", "o", 7L))
  }

  test("the top pair rides the stats pin: k merges record at most " +
      "2k + 3 query executions") {
    val (merges, qes) = queryExecutionsDuring(BpeTrainer.train(sennrich, 3))
    merges should have size 3
    qes should be <= 2 * 3 + 3
  }

  test("greedy rewrite is left-to-right non-overlapping") {
    // aaaa under merge (a,a) → [aa][aa]; aaa → [aa][a]
    BpeTrainer.train(words("aaaa" -> 1L, "aaa" -> 1L), 2) shouldBe Seq(
      // step1: (a,a) freq 3+2=5; after: aaaa=[aa,aa], aaa=[aa,a]
      Merge(1, "a", "a", 5L),
      // step2: pairs (aa,aa)=1, (aa,a)=1 → lex tiebreak (aa,a)
      Merge(2, "aa", "a", 1L))
  }

  test("incremental pair stats equal a from-scratch recount") {
    // train k, then train k+1 from scratch: the (k+1)th merge must be
    // what a fresh recount over the k-merged corpus would pick — the
    // incremental table can't drift (exact long arithmetic)
    val docsWords = BpeTrainer.wordFreq(
      graft.Tables.documents(spark, sfDir), col("text")).localCheckpoint()
    val k5 = BpeTrainer.train(docsWords, 5)
    val k6 = BpeTrainer.train(docsWords, 6)
    k6.take(5) shouldBe k5
    k6.size shouldBe 6
  }

  test("stops early when no pairs remain") {
    BpeTrainer.train(words("ab" -> 1L), 5) shouldBe Seq(
      Merge(1, "a", "b", 1L))
  }

  test("segmenter reproduces the trained segmentation") {
    val s = spark
    import s.implicits._
    val merges = BpeTrainer.train(sennrich, 3)
    val seg = Seq("lowest", "Newest widest LOW")
      .toDF("text")
      .select(BpeTrainer.segmenter(col("text"), merges).as("toks"))
      .collect().map(_.getSeq[String](0))
    // l,o,w,e,s,t → (e,s) → (es,t) → (l,o) = [lo, w, est]
    seg(0) shouldBe Seq("lo", "w", "est")
    seg(1) shouldBe Seq("n", "e", "w", "est", "w", "i", "d", "est", "lo", "w")
  }

  test("vocab artifact round trip, meta-last commit") {
    val dir = tmpDir("bpe_vocab").toString
    val merges = BpeTrainer.train(sennrich, 3)
    BpeTrainer.saveVocab(spark, dir, merges, 4L)
    ArtifactPaths.exists(dir) shouldBe true
    BpeTrainer.loadVocab(spark, dir) shouldBe merges
  }
}
