package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.TextFunctions._

/** Pins the oracle-free dedup family: MinHash/LSH on planted near-dups,
  * SimHash distance behavior, and cross-checks between the candidate
  * generators on the real fixture.
  */
class DedupSpec extends SparkSpec {

  private def docsDf(rows: (Long, String)*) = {
    val sp = spark; import sp.implicits._
    rows.toDF("doc_id", "text")
  }

  private val base = (1 to 60).map(i => s"tok$i").mkString(" ")
  private val nearDup = ((1 to 59).map(i => s"tok$i") :+ "CHANGED").mkString(" ")
  private val unrelated = (100 to 160).map(i => s"other$i").mkString(" ")

  test("identical texts get identical minhash signatures; near-dups agree on most slots") {
    val df = docsDf((1L, base), (2L, base), (3L, nearDup), (4L, unrelated))
      .withColumn("sig", minHashSignature(wordShingles(col("text"), 3), 32))
    val sigs = df.orderBy("doc_id").collect().map(_.getSeq[Long](2))
    sigs(0) shouldBe sigs(1)
    val agree = sigs(0).zip(sigs(2)).count { case (a, b) => a == b }
    agree should be >= 24 // ~3/58 shingles differ → most slots agree
    val agreeUnrelated = sigs(0).zip(sigs(3)).count { case (a, b) => a == b }
    agreeUnrelated should be <= 4
  }

  test("LSH banding pairs planted near-dups, not unrelated docs") {
    val df = docsDf((1L, base), (2L, nearDup), (3L, unrelated))
      .withColumn("sig", minHashSignature(wordShingles(col("text"), 3), 32))
      .withColumn("bandKey", explode(lshBandKeys(col("sig"), 8, 4)))
    val a = df.select(col("doc_id").as("id_a"), col("bandKey"))
    val b = df.select(col("doc_id").as("id_b"), col("bandKey").as("bk2"))
    val pairs = a.join(b, col("bandKey") === col("bk2") && col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((1L, 2L))
    pairs should not contain ((1L, 3L))
    pairs should not contain ((2L, 3L))
  }

  test("simhash: identical → distance 0; near-dup close; unrelated far") {
    val df = docsDf((1L, base), (2L, base), (3L, nearDup), (4L, unrelated))
      .withColumn("sh", simHash(col("text")))
    val h = df.orderBy("doc_id").collect().map(_.getLong(2))
    java.lang.Long.bitCount(h(0) ^ h(1)) shouldBe 0
    java.lang.Long.bitCount(h(0) ^ h(2)) should be <= 12
    java.lang.Long.bitCount(h(0) ^ h(3)) should be >= 20
  }

  test("exact-set pre-collapse: identical-class skew matches brute force " +
      "for verifiedPairs, jaccardPairs and containmentPairs (SCALE.md §skew)") {
    // the planted-skew class: 40 byte-identical docs (one exact-dup
    // clique), a near-dup of the clique's text, a containment sub-doc,
    // an unrelated tail — the shape that spilled 8.8 GB at f40 before
    // the collapse. All three generators must equal brute force,
    // including the m²/2 within-clique pairs at exactly 1.0.
    val clique = (1 to 40).map(i => (100L + i, base))
    val subDoc = base.split(" ").take(40).mkString(" ") // contained in base
    val rows = clique ++ Seq((200L, nearDup), (300L, subDoc)) ++
      (1 to 10).map(i => (400L + i, (0 to 30).map(j => s"u${i}_$j").mkString(" ")))
    val docs = docsDf(rows: _*)
      .select(col("doc_id"), graft.functions.TextFunctions
        .wordShingles(col("text"), 3).as("sh"))
      .localCheckpoint()

    def bruteJaccard(thr: Double) = {
      val a = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("inter", org.apache.spark.sql.functions.size(
          array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("uni", org.apache.spark.sql.functions.size(col("sh_a"))
          + org.apache.spark.sql.functions.size(col("sh_b")) - col("inter"))
        .withColumn("j", round(col("inter").cast("double") / col("uni"), 4))
        .filter(col("j") >= thr)
        .select(col("id_a"), col("id_b"), col("j"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val wantJ = bruteJaccard(graft.operators.NearDup.DefaultThreshold)
    wantJ.count(_._3 == 1.0) should be >= (40 * 39 / 2) // the clique
    def got(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    got(graft.operators.NearDup.jaccardPairs(docs)) shouldBe wantJ
    got(graft.operators.NearDup.verifiedPairs(docs)) shouldBe wantJ

    // containment truth: smaller-in-larger (ties once, by id)
    val a = docs.select(col("doc_id").as("ia"), col("sh").as("sha"))
    val b = docs.select(col("doc_id").as("ib"), col("sh").as("shb"))
    val wantC = a.join(b, col("ia") =!= col("ib"))
      .filter(org.apache.spark.sql.functions.size(col("sha"))
          < org.apache.spark.sql.functions.size(col("shb")) ||
        (org.apache.spark.sql.functions.size(col("sha"))
          === org.apache.spark.sql.functions.size(col("shb"))
          && col("ia") < col("ib")))
      .withColumn("inter", org.apache.spark.sql.functions.size(
        array_intersect(col("sha"), col("shb"))))
      .withColumn("c", round(col("inter").cast("double") /
        org.apache.spark.sql.functions.size(col("sha")).cast("double"), 4))
      .filter(col("c") >= 0.9)
      .select(col("ia"), col("ib"), col("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    wantC should contain((300L, 101L, 1.0)) // the planted sub-doc
    got(graft.operators.NearDup.containmentPairs(docs)) shouldBe wantC
  }

  test("q_dedup_simhash_clusters == DedupClusters.keepers over the pairs form") {
    val pairs = graft.SparkEntry.queries("q_dedup_simhash")(
      spark, "/root/testdata/sf0.001")
    val want = graft.operators.DedupClusters.keepers(
        pairs.select(col("id_a"), col("id_b")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    want should not be empty
    val got = graft.SparkEntry.queries("q_dedup_simhash_clusters")(
        spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    got shouldBe want
  }

  test("blank documents are never near-duplicates of each other") {
    // a shared '' shingle would make all blank docs mutual jaccard-1.0
    // pairs; WordShingles emits an empty set and NearDup drops them
    val docs = docsDf((1L, ""), (2L, "   "), (3L, ""), (10L, base), (11L, nearDup))
      .select(col("doc_id"), graft.functions.TextFunctions
        .wordShingles(col("text"), 3).as("sh"))
    val mh = graft.operators.NearDup.verifiedPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    mh shouldBe Set((10L, 11L)) // the planted pair, and ONLY it
    val jc = graft.operators.NearDup.jaccardPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    jc shouldBe Set((10L, 11L))
  }

  test("prefix-filtered jaccard: planted pair found, hot shingle harmless, matches brute force") {
    // 30 docs all sharing one hot shingle — the df² worst case an
    // unfiltered inverted index fans out on — plus a planted near-dup
    // pair whose only common ground with the rest is that hot shingle.
    val hot = (1 to 30).map(i => (i.toLong,
      "common common common " + (1 to 20).map(j => s"w${i}_$j").mkString(" ")))
    val docs = docsDf((hot ++ Seq((100L, base), (101L, nearDup))): _*)
      .select(col("doc_id"), graft.functions.TextFunctions
        .wordShingles(col("text"), 3).as("sh"))
    val got = graft.operators.NearDup.jaccardPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got should contain((100L, 101L))
    // exact all-pairs truth over the same fixture: the prefix filter must
    // lose nothing and add nothing
    val a = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val truth = a.join(b, col("id_a") < col("id_b"))
      .withColumn("inter",
        org.apache.spark.sql.functions.size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni",
        org.apache.spark.sql.functions.size(col("sh_a"))
          + org.apache.spark.sql.functions.size(col("sh_b")) - col("inter"))
      .filter(round(col("inter").cast("double") / col("uni").cast("double"), 4)
        >= graft.operators.NearDup.DefaultThreshold)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got shouldBe truth
  }

  test("incremental jaccard: batch-vs-corpus pairs only, matches brute force") {
    // batch: one near-dup of a corpus doc, one unrelated, one near-dup of
    // ANOTHER BATCH doc (must NOT be reported — cross-set pairs only);
    // corpus: the target doc, an unrelated doc, and an internal corpus
    // near-dup pair (must NOT be reported either)
    val batchDocs = docsDf(
      (1L, nearDup), (2L, unrelated),
      (3L, base), (4L, base)) // 3-4: within-batch pair, excluded
    val corpusDocs = docsDf(
      (10L, base), (11L, (200 to 260).map(i => s"c$i").mkString(" ")),
      (12L, nearDup), (13L, nearDup)) // 12-13: within-corpus pair (each
        // also matches batch docs 1/3/4 — those cross pairs DO report)
    def sh(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), graft.functions.TextFunctions
        .wordShingles(col("text"), 3).as("sh"))
    val got = graft.operators.NearDup.jaccardMatchesAgainst(sh(batchDocs), sh(corpusDocs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got.foreach { case (b, c) =>
      Set(1L, 2L, 3L, 4L) should contain(b)
      Set(10L, 11L, 12L, 13L) should contain(c)
    }
    // brute-force cross-set truth
    val a = sh(batchDocs).select(col("doc_id").as("ba"), col("sh").as("sh_a"))
    val b = sh(corpusDocs).select(col("doc_id").as("ca"), col("sh").as("sh_b"))
    val truth = a.join(b, lit(true))
      .withColumn("inter",
        org.apache.spark.sql.functions.size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni",
        org.apache.spark.sql.functions.size(col("sh_a"))
          + org.apache.spark.sql.functions.size(col("sh_b")) - col("inter"))
      .filter(round(col("inter").cast("double") / col("uni").cast("double"), 4)
        >= graft.operators.NearDup.DefaultThreshold)
      .select(col("ba"), col("ca"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got shouldBe truth
    got should contain((1L, 10L)) // the planted cross near-dup
    got should not contain ((3L, 4L)) // within-batch
    got should not contain ((12L, 13L)) // within-corpus
  }

  test("incremental jaccard: seeded random corpora match brute force exactly (3 rounds)") {
    // property-style (seeded loop — scalacheck isn't in the offline
    // cache): random batch/corpus mixes of mutated base docs must agree
    // with the exact cross-set truth on every round — near-dups at many
    // jaccard levels, including threshold-straddlers from small mutations
    val rnd = new scala.util.Random(4242)
    def tok() = s"t${rnd.nextInt(120)}"
    val bases = Array.fill(6)(Array.fill(25)(tok()))
    def doc(): String = {
      val b = bases(rnd.nextInt(bases.length)).clone()
      val edits = rnd.nextInt(9)
      (1 to edits).foreach(_ => b(rnd.nextInt(b.length)) = tok())
      b.mkString(" ")
    }
    for (rep <- 1 to 3) {
      val batchDocs = docsDf((1 to 12).map(i => (i.toLong, doc())): _*)
      val corpusDocs = docsDf((101 to 120).map(i => (i.toLong, doc())): _*)
      def sh(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id"), graft.functions.TextFunctions
          .wordShingles(col("text"), 3).as("sh"))
      val got = graft.operators.NearDup
        .jaccardMatchesAgainst(sh(batchDocs), sh(corpusDocs))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val a = sh(batchDocs).select(col("doc_id").as("ba"), col("sh").as("sh_a"))
      val b = sh(corpusDocs).select(col("doc_id").as("ca"), col("sh").as("sh_b"))
      val truth = a.join(b, lit(true))
        .withColumn("inter",
          org.apache.spark.sql.functions.size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("uni",
          org.apache.spark.sql.functions.size(col("sh_a"))
            + org.apache.spark.sql.functions.size(col("sh_b")) - col("inter"))
        .withColumn("j",
          round(col("inter").cast("double") / col("uni").cast("double"), 4))
        .filter(col("j") >= graft.operators.NearDup.DefaultThreshold)
        .select(col("ba"), col("ca"), col("j"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      withClue(s"round $rep: ") { got shouldBe truth }
    }
  }

  test("containment: small doc inside big doc found (the pair Jaccard misses), matches brute force") {
    // contained: 20 tokens, all inside big's 200 → containment 1.0 but
    // jaccard ≈ 0.09; decoys share the hot prefix only
    val small = (1 to 20).map(i => s"tok$i").mkString(" ")
    val big = (1 to 200).map(i => s"tok$i").mkString(" ")
    val decoys = (1 to 25).map(i => (200L + i,
      "tok1 tok2 tok3 " + (1 to 30).map(j => s"d${i}_$j").mkString(" ")))
    val docs = docsDf((decoys ++ Seq((1L, small), (2L, big))): _*)
      .select(col("doc_id"), graft.functions.TextFunctions
        .wordShingles(col("text"), 3).as("sh"))
    val got = graft.operators.NearDup.containmentPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got should contain((1L, 2L))
    // jaccard at the default threshold does NOT find it
    graft.operators.NearDup.jaccardPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet should not contain ((1L, 2L))
    // exact all-pairs truth: one-sided prefix filtering loses nothing
    val a = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val sz = org.apache.spark.sql.functions.size _
    val truth = a.join(b, col("id_a") =!= col("id_b") &&
        (sz(col("sh_a")) < sz(col("sh_b")) ||
          (sz(col("sh_a")) === sz(col("sh_b")) && col("id_a") < col("id_b"))))
      .withColumn("inter", sz(array_intersect(col("sh_a"), col("sh_b"))))
      .filter(round(col("inter").cast("double") / sz(col("sh_a")).cast("double"), 4)
        >= 0.9)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got shouldBe truth
  }

  test("minhash-LSH candidates cover the high-jaccard pairs found by exact blocking (fixture)") {
    val jacc = graft.SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sfDir)
      .filter(col("jaccard") >= 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = graft.SparkEntry.queries("q_dedup_minhash_lsh")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    jacc should not be empty
    val covered = jacc.count(mh.contains)
    covered.toDouble / jacc.size should be >= 0.9
  }

  test("token spans: a planted 50-token overlap pairs at the default " +
      "setting; boilerplate over the df cap forms no pairs") {
    import graft.operators.NearDup
    // docs 1 and 2 share a 50-token run (Lee et al.'s standard overlap);
    // doc 3 is unrelated
    val run = (1 to 50).map(i => s"shared$i").mkString(" ")
    val d1 = s"intro one two three $run outro alpha"
    val d2 = s"different lead-in $run and a different tail"
    val d3 = (1 to 60).map(i => s"noise$i").mkString(" ")
    val pairs = NearDup.tokenSpanPairs(docsDf((1L, d1), (2L, d2), (3L, d3)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs shouldBe Set((1L, 2L))
    // a boilerplate span shared by MORE than maxDf docs is excluded from
    // pair formation (it belongs to the trim-rule report): 6 docs share
    // the same 50-token run, maxDf=5 → zero pairs
    val boiler = (1L to 6L).map(i => (i, s"doc$i unique lead $run tail$i"))
    NearDup.tokenSpanPairs(docsDf(boiler: _*), maxDf = 5)
      .count() shouldBe 0L
    // ...and at the default cap (20) all 15 pairs of the 6-clique form
    NearDup.tokenSpanPairs(docsDf(boiler: _*)).count() shouldBe 15L
  }

  test("token spans read the text column even when the frame also " +
      "carries an unrelated `toks` column") {
    import graft.operators.NearDup
    val run = (1 to 50).map(i => s"shared$i").mkString(" ")
    val docs = docsDf((1L, s"intro $run outro"), (2L, s"lead-in $run tail"),
      (3L, (1 to 60).map(i => s"noise$i").mkString(" ")))
    // the same 60 tokens on every row: read as the window source, they
    // would pair all three docs
    val withToks = docs.withColumn("toks",
      split(lit((1 to 60).map(i => s"t$i").mkString(" ")), " "))
    def pairs(df: org.apache.spark.sql.DataFrame) = NearDup.tokenSpanPairs(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    pairs(withToks) shouldBe pairs(docs)
    pairs(docs).map(p => (p._1, p._2)) shouldBe Set((1L, 2L))
  }

  test("minhash band-key df cap: a sub-threshold boilerplate clique is " +
      "trimmed (bounded candidates, budget reported); true near-dup " +
      "pairs survive through their own uncrowded keys (r18 skew-gate " +
      "find)") {
    import graft.operators.NearDup
    // 40 docs sharing a 50-token boilerplate + 10 unique tail tokens:
    // pairwise J ~ 0.67 (sub-threshold — pure candidate waste), but ~80%
    // of the clique shares each minhash slot's value, so band keys crowd
    // far past a small cap
    val boiler = (1 to 50).map(i => s"legal$i").mkString(" ")
    def member(i: Long, tail: String) = (i, s"$boiler $tail")
    val clique = (1L to 40L).map(i =>
      member(i, (1 to 10).map(j => s"t${i}_$j").mkString(" ")))
    // one TRUE near-dup pair inside the clique: same tail up to one token
    val tpA = member(500L, (1 to 10).map(j => s"same$j").mkString(" "))
    val tpB = member(501L, ((1 to 9).map(j => s"same$j") :+ "DIFF").mkString(" "))
    // and one true pair in a disjoint vocabulary (away from the clique)
    val far1 = (600L, (1 to 60).map(i => s"x$i").mkString(" "))
    val far2 = (601L, ((1 to 59).map(i => s"x$i") :+ "y").mkString(" "))
    val docs = docsDf((clique ++ Seq(tpA, tpB, far1, far2)): _*)
      .select(col("doc_id"), wordShingles(col("text"), 3).as("sh"))
    val (overKeys, exposure, share) =
      NearDup.minhashTrimExposure(docs, maxBandDf = 8)
    overKeys should be >= 1L // the clique crowds keys past the cap
    exposure should be >= 36L // at least one key holding >8 clique reps
    // the share is an UPPER bound (a pair counts once per over-cap band,
    // and this tiny fixture is clique-dominated) — positive is the pin
    share should be > 0.0
    def pairs(cap: Int) = NearDup.verifiedPairs(docs, maxBandDf = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = pairs(8)
    // the true pairs survive: their tails give them uncrowded keys
    capped should contain allOf ((500L, 501L), (600L, 601L))
    // the sub-threshold clique contributes nothing either way — capped
    // output equals the uncapped output on this fixture
    capped shouldBe pairs(1024)
  }

  test("spanTrimExposure: a planted over-cap boilerplate window reports " +
      "exact long pair mass over distinct texts; identical-doc classes " +
      "never charge the budget (r18 task 5)") {
    import graft.operators.NearDup
    // 30 DISTINCT docs sharing one 50-token boilerplate span: 10 unique
    // lead tokens + the span = 60 tokens/doc = 11 windows, of which
    // exactly ONE (the pure span window) is shared — df 30 > maxDf 20
    val span = (1 to 50).map(i => s"legal$i").mkString(" ")
    val boiler = (1L to 30L).map(i =>
      (i, (1 to 10).map(j => s"uniq${i}_$j").mkString(" ") + " " + span))
    // plus a 40-member IDENTICAL class: its windows are shared by 40
    // member DOCS but only ONE distinct text — must not count
    val dupText = (1 to 60).map(i => s"chrome$i").mkString(" ")
    val dups = (100L until 140L).map(i => (i, dupText))
    val docs = docsDf((boiler ++ dups): _*)
    val (keys, exposure, share) = NearDup.spanTrimExposure(docs)
    keys shouldBe 1L
    exposure shouldBe 435L // C(30,2) behind the one over-cap window key
    // 31 distinct texts (30 boilerplate + the collapsed class)
    share shouldBe (435.0 / (31L * 30L / 2)) +- 1e-9
    // cap above the plant's df: empty report
    NearDup.spanTrimExposure(docs, maxDf = 40) shouldBe ((0L, 0L, 0.0))
  }

  test("maximal span ladder: a 200-token overlap reports the 4k rung, " +
      "a 50-token overlap the base rung; short exact twins never inflate") {
    import graft.operators.NearDup
    // ladder k=50 → rungs 50/100/200; pair (1,2) shares a 200-token run,
    // pair (3,4) a 50-token run, doc 5 is unrelated noise
    val big = (1 to 200).map(i => s"long$i").mkString(" ")
    val small = (1 to 50).map(i => s"short$i").mkString(" ")
    val docs = docsDf(
      (1L, s"alpha lead $big tail one"),
      (2L, s"other intro $big different coda"),
      (3L, s"x y z $small p q"),
      (4L, s"unrelated head $small another end"),
      (5L, (1 to 210).map(i => s"noise$i").mkString(" ")),
      // docs 6/7: identical 30-token EXACT twins — shorter than every
      // rung, must not appear at all (no whole-text fallback window)
      (6L, (1 to 30).map(i => s"twin$i").mkString(" ")),
      (7L, (1 to 30).map(i => s"twin$i").mkString(" ")))
    val out = NearDup.spanMaximalPairs(docs, baseTokens = 50, levels = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    out.keySet shouldBe Set((1L, 2L), (3L, 4L))
    out((1L, 2L)) shouldBe 200 // ≥ 4k rung for the 200-token overlap
    out((3L, 4L)) shouldBe 50  // base rung only for the 50-token overlap
  }

  test("exact dedup keeps the minimum doc_id per hash group") {
    val dup = docsDf((7L, base), (3L, base), (9L, unrelated))
    val keep = dup.groupBy(sha2(col("text").cast("binary"), 256).as("h"))
      .agg(min(col("doc_id")).as("keeper"))
      .orderBy("keeper").collect().map(_.getLong(1)).toSeq
    keep shouldBe Seq(3L, 9L)
  }

  test("fuzzy decontamination catches a word-shuffled paraphrase that " +
      "exact 3-shingle decontamination misses (r12 task 6)") {
    import graft.operators.{Decontaminate, NearDup}
    // eval doc = the train doc with its word order REVERSED: every
    // 3-gram changes (no 3-token shingle survives reversal of a
    // repeat-free token sequence), but the token SET is identical
    val trainText = (1 to 30).map(i => s"w$i").mkString(" ")
    val shuffledEval = (1 to 30).map(i => s"w$i").reverse.mkString(" ")
    val train = docsDf((1L, trainText), (2L, unrelated))
    val eval = docsDf((50L, shuffledEval))

    // exact 3-shingle pass: blind to the reordering
    Decontaminate.flagged(train, eval, k = 3).count() shouldBe 0L

    // fuzzy pass (the q_decontaminate_fuzzy shape): unigram token sets
    // through the band index, exact token-set jaccard at 0.5
    def tokenSets(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), wordShingles(col("text"), 1).as("sh"))
    val idx = NearDup.buildBandIndex(tokenSets(train))
    val hits = NearDup.matchAgainstBandIndex(tokenSets(eval), idx,
        threshold = 0.5)
      .collect()
    hits.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq((50L, 1L))
    hits.head.getDouble(2) shouldBe 1.0 // identical token sets
  }

  test("q_decontaminate_fuzzy_loaded (persisted band index, probe-only " +
      "steady state) equals the in-query build row-for-row — r13 task 5") {
    def rows(name: String) =
      graft.SparkEntry.queries(name)(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
    val built = rows("q_decontaminate_fuzzy")
    val loaded = rows("q_decontaminate_fuzzy_loaded")
    loaded shouldBe built
    built should not be empty // the fixture plants real contamination
    // second invocation probes the already-committed artifact (the
    // build-if-absent branch must not re-run) and still agrees
    rows("q_decontaminate_fuzzy_loaded") shouldBe built
  }
}
