package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.VectorFunctions

/** Property-style checks (deterministic seeded loops — the scalacheck
  * bridge isn't in the offline cache) for the round-2 native expressions:
  * NearestCell must agree with a plain Scala argmin on every vector, and
  * LshBuckets must satisfy the hyperplane-sign invariants.
  */
class NativeExprPropertySpec extends SparkSpec {

  private val rnd = new scala.util.Random(42)
  private def vec(dim: Int): Array[Float] =
    Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)

  test("NearestCell equals the brute-force argmin on random vectors") {
    val sp = spark; import sp.implicits._
    val dim = 16
    val cents = Array.tabulate(6)(i => (i, vec(dim)))
    val cn2s = cents.map { case (_, c) => c.map(x => x.toDouble * x).sum }
    val vs = (1 to 200).map(i => (i.toLong, vec(dim)))

    val df = vs.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .withColumn("cell", VectorFunctions.nearestCell(col("embedding"),
        cents.map(_._1), cents.map(_._2), cn2s))
    val got = df.orderBy("vec_id").collect().map(r => r.getInt(2))

    val want = vs.map { case (_, v) =>
      cents.indices.minBy { c =>
        val dot = v.zip(cents(c)._2).map { case (a, b) => a.toDouble * b.toDouble }.sum
        // strict < scan in ascending cell order = lowest cell on exact ties
        cn2s(c) - 2.0 * dot
      }
    }
    got.toSeq shouldBe want
  }

  test("LshBuckets invariants: range, determinism, sign-flip complement") {
    val sp = spark; import sp.implicits._
    val seeds = Seq(1, 2, 3, 4)
    val vs = (1 to 100).map(i => (i.toLong, vec(32)))
    val df = vs.toDF("vec_id", "v")
      .withColumn("v", col("v").cast("array<float>"))
      .withColumn("b", VectorFunctions.lshBuckets(col("v"), 4, seeds))
      .withColumn("bneg", VectorFunctions.lshBuckets(
        transform(col("v"), x => -x), 4, seeds))
    val rows = df.orderBy("vec_id").collect()
      .map(r => (r.getSeq[Long](2), r.getSeq[Long](3)))
    rows.foreach { case (b, bneg) =>
      b.length shouldBe seeds.length
      all(b) should (be >= 0L and be < 16L)
      // proj(-v) = -proj(v): every strictly-nonzero plane's bit flips.
      // With continuous random data projs are never exactly 0, so the
      // negated vector's bucket is the bitwise complement in 4 bits.
      b.zip(bneg).foreach { case (x, y) => (x ^ y) shouldBe 15L }
    }
    // determinism: rebuilding yields identical buckets
    val again = vs.toDF("vec_id", "v")
      .withColumn("v", col("v").cast("array<float>"))
      .withColumn("b", VectorFunctions.lshBuckets(col("v"), 4, seeds))
      .orderBy("vec_id").collect().map(_.getSeq[Long](2))
    again.toSeq shouldBe rows.map(_._1).toSeq
  }

  test("pack → packedDot is bit-identical to FloatVecDot (codegen df path)") {
    val sp = spark; import sp.implicits._
    val vs = (1 to 300).map(i => (i.toLong, vec(24), vec(24)))
    val df = vs.toDF("id", "a", "b")
      .withColumn("a", col("a").cast("array<float>"))
      .withColumn("b", col("b").cast("array<float>"))
      .select(col("id"),
        VectorFunctions.dot(col("a"), col("b")).as("plain"),
        VectorFunctions.packedDot(
          VectorFunctions.packVec(col("a"), "pa"),
          VectorFunctions.packVec(col("b"), "pb")).as("viaPack"))
    // whole-stage codegen runs PackedFloatDot.doGenCode here — exact
    // DOUBLE equality, not a tolerance: same IEEE floats, same fold order
    df.collect().foreach { r =>
      withClue(s"id ${r.getLong(0)}: ") {
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)) shouldBe
          java.lang.Double.doubleToRawLongBits(r.getDouble(1))
      }
    }
  }

  test("PackedFloatDot interpreted eval matches dotUnchecked; guards NULL") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, BinaryType, FloatType}
    val a = vec(16); val b = vec(16)
    def packed(v: Array[Float]): Array[Byte] =
      FloatVecPack(Literal.create(v, ArrayType(FloatType)))
        .eval(null).asInstanceOf[Array[Byte]]
    val pa = packed(a); val pb = packed(b)
    pa.length shouldBe 64
    // interpreted eval (direct Expression.eval — never codegen)
    val interp = PackedFloatDot(
      Literal.create(pa, BinaryType), Literal.create(pb, BinaryType))
      .eval(null).asInstanceOf[Double]
    val want = a.zip(b).foldLeft(0.0) { case (s, (x, y)) =>
      s + x.toDouble * y.toDouble }
    java.lang.Double.doubleToRawLongBits(interp) shouldBe
      java.lang.Double.doubleToRawLongBits(want)
    // length mismatch → NULL (interpreted)
    PackedFloatDot(Literal.create(pa, BinaryType),
      Literal.create(pb.take(60), BinaryType)).eval(null).asInstanceOf[AnyRef] shouldBe null
    // non-multiple-of-4 length → NULL, never a silent prefix dot
    PackedFloatDot(Literal.create(pa.take(63), BinaryType),
      Literal.create(pb.take(63), BinaryType)).eval(null).asInstanceOf[AnyRef] shouldBe null
    // null input → NULL (nullSafeEval contract)
    PackedFloatDot(Literal.create(null, BinaryType),
      Literal.create(pb, BinaryType)).eval(null).asInstanceOf[AnyRef] shouldBe null
    // null ELEMENT in the float array → pack yields NULL (corrupt input)
    FloatVecPack(Literal.create(Seq[java.lang.Float](1.0f, null, 2.0f),
      ArrayType(FloatType, containsNull = true))).eval(null).asInstanceOf[AnyRef] shouldBe null
  }

  test("PackedFloatDot codegen path honors the NULL guards too") {
    val sp = spark; import sp.implicits._
    // row 1 trips the non-multiple-of-4 guard (b truncated to 30 bytes),
    // row 2 trips the length-mismatch guard (dim 8 vs dim 12) — both
    // evaluated through a df, so the GENERATED code runs the guards
    val rows = Seq((1L, vec(8), vec(8)), (2L, vec(8), vec(12)))
      .toDF("id", "a", "b")
      .withColumn("a", col("a").cast("array<float>"))
      .withColumn("b", col("b").cast("array<float>"))
      .withColumn("pa", VectorFunctions.packVec(col("a"), "pa"))
      .withColumn("pb", VectorFunctions.packVec(col("b"), "pb"))
      .select(col("id"), VectorFunctions.packedDot(col("pa"),
        when(col("id") === 1L, expr("substring(pb, 1, 30)"))
          .otherwise(col("pb"))).as("d"))
      .orderBy("id").collect()
    rows should have size 2
    rows.foreach(r => r.isNullAt(1) shouldBe true)
  }

  test("TextScanStats fields equal the regex/split forms they replaced") {
    val sp = spark; import sp.implicits._
    // adversarial corpus: every char class boundary, the exact java-\s
    // set vs unicode whitespace (U+00A0 / U+2028 are NOT java \s), class
    // transitions without separators, surrogate pairs (one code point =
    // one regex class match), unpaired surrogates, stopwords in mixed
    // case, empty + whitespace-only strings
    val fixed = Seq(
      "", " ", "\t\n\f\r", "a", "The quick brown fox",
      "a1b2c3", "abc123!?.", "!!!", "a!b?c.", "  lead and trail  ",
      "tab\tsep\nnewline\rcrvt\fff", "THE the ThE tHe",
      "nbsp notsplit", "linesep notsplit",
      "café naïve",
      "emoji 😀 pair", "😀😁",
      "lone\uD800surrogate", "\uDC00", "123 456 789",
      "mixed42case!With#digits9and.punct",
      "ä ö ü ß € ¥",
      ("a" * 3000) + "!" + ("5" * 10))
    val rnd2 = new scala.util.Random(7)
    val alphabet = ("aA zZ09!?.\t\né 😀").toCharArray
    val random = (1 to 150).map(_ =>
      String.valueOf(Array.fill(rnd2.nextInt(80))(
        alphabet(rnd2.nextInt(alphabet.length)))))
    val docs = (fixed ++ random).zipWithIndex.map { case (t, i) => (i.toLong, t) }

    // plain-java references — the EXACT machinery the expression
    // replaced: String.split("\\s+") (token trio, UTF-16 lengths,
    // default-locale lowercase for stopwords) and java.util.regex
    // find()-loops (what Spark's regexp_count runs underneath)
    val stopSet = graft.functions.TextFunctions.stopwords.toSet
    val bpePat = java.util.regex.Pattern.compile(
      "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")
    val punctPat = java.util.regex.Pattern.compile("[^A-Za-z0-9\\s]")
    def countMatches(p: java.util.regex.Pattern, s: String): Int = {
      val m = p.matcher(s)
      var n = 0
      while (m.find()) n += 1
      n
    }
    val refs = docs.map { case (id, t) =>
      val toks = t.split("\\s+").filter(_.nonEmpty)
      (id, (toks.length, toks.map(_.length.toLong).sum,
        toks.count(w => stopSet.contains(w.toLowerCase)),
        countMatches(bpePat, t), countMatches(punctPat, t)))
    }.toMap

    val got = docs.toDF("id", "text")
      .select(col("id"),
        graft.functions.TextFunctions.textScan(col("text")).as("s"))
      .collect()
    got.foreach { r =>
      val s = r.getStruct(1)
      val (tok, len, stop, bpe, punct) = refs(r.getLong(0))
      withClue(s"doc ${r.getLong(0)}: ") {
        s.getInt(0) shouldBe tok
        s.getLong(1) shouldBe len
        s.getInt(2) shouldBe stop
        s.getInt(3) shouldBe bpe
        s.getInt(4) shouldBe punct
      }
    }
  }

  test("TextScanStats codegen == interpreted eval bit-for-bit; projection stays whole-stage") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val texts = Seq(
      "", " ", "a", "The quick brown fox", "abc123!?.",
      "tab\tsep\nnl", "emoji 😀 pair", "lone\uD800surr", "THE the",
      "mixed42!With#digits9", ("x" * 500) + " the " + ("!" * 30))
    val stops = graft.functions.TextFunctions.stopwords
    // df path over a REAL scan (a local relation would be folded by
    // ConvertToLocalRelation and never reach codegen) — the GENERATED
    // code (assert the span below)
    val tmp = java.nio.file.Files.createTempDirectory("tss_cg").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text").write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
      .select(col("id"),
        graft.functions.TextFunctions.textScan(col("text")).as("s"))
    // the projection carrying the expression runs inside a
    // WholeStageCodegen span (the '*(n)' prefix), not a fallback Project
    val plan = df.queryExecution.executedPlan.toString
    plan should include regex """\*\(\d+\) Project .*text_scan_stats"""
    val viaCodegen = df.orderBy("id").collect().map(_.getStruct(1))
    // interpreted path — direct Expression.eval, never codegen
    texts.zipWithIndex.foreach { case (t, i) =>
      val interp = TextScanStats(
          Literal.create(UTF8String.fromString(t),
            org.apache.spark.sql.types.StringType), stops)
        .eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
      val cg = viaCodegen(i)
      withClue(s"text '$t': ") {
        interp.getInt(0) shouldBe cg.getInt(0)
        interp.getLong(1) shouldBe cg.getLong(1)
        interp.getInt(2) shouldBe cg.getInt(2)
        interp.getInt(3) shouldBe cg.getInt(3)
        interp.getInt(4) shouldBe cg.getInt(4)
      }
    }
    // empty stopword list takes the checkStops-off branch in BOTH paths
    import org.apache.spark.sql.graft.ColumnBridge
    val noStops = Seq((1L, "the and of")).toDF("id", "text")
      .select(ColumnBridge.column(TextScanStats(
        ColumnBridge.expression(col("text")), Nil)).as("s"))
      .collect()(0).getStruct(0)
    noStops.getInt(2) shouldBe 0
    // null text → null struct through the generated null guard
    Seq((1L, null.asInstanceOf[String])).toDF("id", "text")
      .select(graft.functions.TextFunctions.textScan(col("text")).as("s"))
      .collect()(0).isNullAt(0) shouldBe true
  }

  test("SpanKeys is bit-identical to wordShingles + double-xxhash64 (r20)") {
    val sp = spark; import sp.implicits._
    import graft.functions.TextFunctions.{spanKeys, wordShingles}
    val words = Vector("alpha", "beta", "gamma", "delta", "x", "longword",
      "Ωmega", "a b".replace(" ", ""), "ζeta")
    val texts = (1L to 60L).map { i =>
      val n = (rnd.nextInt(30) + (if (i % 7 == 0) 0 else 10))
      // leading/trailing/multiple whitespace + repeated windows
      val body = Seq.fill(n)(words(rnd.nextInt(words.length))).mkString("  ")
      (i, if (i % 5 == 0) s"  $body\t" else body)
    } :+ (100L, "") :+ (101L, "   ") :+ (102L, "one two three") // short docs
    val df = texts.toDF("doc_id", "text")
    for (k <- Seq(3, 15)) {
      val legacy = df.select(col("doc_id"),
          explode(wordShingles(col("text"), k)).as("w"))
        .select(col("doc_id"), struct(xxhash64(col("w")).as("h1"),
          xxhash64(lit(1), col("w")).as("h2")).as("wh"))
        .collect().map(r => (r.getLong(0), r.getStruct(1).getLong(0),
          r.getStruct(1).getLong(1))).toSet
      val native = df.select(col("doc_id"),
          explode(spanKeys(col("text"), k)).as("wh"))
        .collect().map(r => (r.getLong(0), r.getStruct(1).getLong(0),
          r.getStruct(1).getLong(1))).toSet
      native shouldBe legacy
      // pre-tokenized array input agrees with the text input
      val fromToks = df.select(col("doc_id"),
          explode(spanKeys(filter(split(col("text"), "\\s+"),
            t => org.apache.spark.sql.functions.length(t) > lit(0)), k))
            .as("wh"))
        .collect().map(r => (r.getLong(0), r.getStruct(1).getLong(0),
          r.getStruct(1).getLong(1))).toSet
      fromToks shouldBe legacy
      // the same tokens with a null element after each one: nulls are
      // skipped, never an NPE
      val withNulls = df.select(col("doc_id"),
          explode(spanKeys(flatten(transform(
            filter(split(col("text"), "\\s+"),
              t => org.apache.spark.sql.functions.length(t) > lit(0)),
            t => array(t, lit(null).cast("string")))), k)).as("wh"))
        .collect().map(r => (r.getLong(0), r.getStruct(1).getLong(0),
          r.getStruct(1).getLong(1))).toSet
      withNulls shouldBe legacy
    }
  }

}
