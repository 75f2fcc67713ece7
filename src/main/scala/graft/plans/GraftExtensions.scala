package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions registration for the engine's native expressions,
  * so they are first-class SQL functions in every session built through
  * `graft.GraftSession` (`withExtensions`), or configured with
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  *
  * Functions: float_vec_dot(a,b), simhash64(tokens),
  * minhash_sig(shingles, k), word_shingles(text, k),
  * lsh_buckets(vec, nBits, seed...).
  *
  * Constructing it also sizes Spark's codegen cache, see
  * `GraftExtensions.defaultCodegenCache`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  GraftExtensions.defaultCodegenCache()

  override def apply(ext: SparkSessionExtensions): Unit = {
    // any graft session gets the WindowExec-warning demotion: the two
    // deliberate bounded global passes otherwise spam every log while
    // ScaleLint below is the actual (plan-aware) unbounded-window alarm
    LogHygiene.suppressBoundedWindowWarn()
    GraftExtensions.registrations.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // read-only scale guardrails (spark.graft.scalelint=off|warn|fail):
    // logical shapes (global windows, accidental cartesians) at optimize
    // time; vector-payload shuffles at the physical level via BOTH hooks —
    // query-stage prep (AQE) and columnar-rule preparations (non-AQE and
    // streaming micro-batches), so the check runs wherever the plan does
    ext.injectOptimizerRule(ScaleLintRule)
    ext.injectQueryStagePrepRule(ScaleLintShuffleRule)
    ext.injectColumnar(ScaleLintColumnarRule)
  }
}

object GraftExtensions {

  private[graft] val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** Spark keeps compiled generated classes in one JVM-wide LRU cache whose
    * size it reads once, from the conf of the first session that generates
    * code; the default, 100, is smaller than the ~330 classes one pass of
    * the 22 tpch registry queries cycles through, so every pass missed and
    * recompiled them all. 384 holds that working set: the cache is a Guava
    * cache of 4 segments, so each holds 96 entries against ~83 hashed into
    * it (320 left a full segment thrashing, ~67 compiles a pass). Keep it
    * no larger: each entry keeps ~20 KB of heap (source, bytecode, class
    * loader), and entries are keyed to the executor class loader of their
    * SparkContext, so room beyond the working set only keeps classes of
    * stopped contexts that can never hit again.
    *
    * Set as a JVM system property, which every later `new SparkConf()`
    * reads, so a builder must construct the extension before
    * `getOrCreate` builds the first context (`withExtensions`; the
    * `spark.sql.extensions` route constructs it too late). A value already
    * set, as a system property or through the builder's `.config`, wins.
    */
  private[graft] def defaultCodegenCache(): Unit =
    System.getProperties.putIfAbsent(CodegenCacheKey, "384")

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  val registrations: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("float_vec_dot",
      new ExpressionInfo(classOf[FloatVecDot].getName, "float_vec_dot"),
      (args: Seq[Expression]) => FloatVecDot(args(0), args(1))),
    ("simhash64",
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => SimHash64(args(0))),
    ("minhash_sig",
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) => MinHashSig(args(0), intLit(args(1), "numHashes"))),
    ("word_shingles",
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (args: Seq[Expression]) => WordShingles(args(0), intLit(args(1), "k"))),
    ("lsh_buckets",
      new ExpressionInfo(classOf[LshBuckets].getName, "lsh_buckets"),
      (args: Seq[Expression]) => LshBuckets(args(0), intLit(args(1), "nBits"),
        args.drop(2).map(intLit(_, "seed")).toArray)))
}
