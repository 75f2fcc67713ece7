package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Contract for the persisted incremental near-dup index (VERDICT r6 #2):
  * probing a batch against the LOADED frozen-order artifact must equal
  * the recomputed union-df path exactly — the prefix lemma holds for any
  * fixed common total order, so the two lossless filters feed the same
  * exact verification and the outputs are identical sets.
  */
class NearDupIndexSpec extends SparkSpec {

  private def docsDf(rows: (Long, String)*) = {
    val sp = spark; import sp.implicits._
    rows.toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.TextFunctions.wordShingles(col("text"), 3).as("sh"))
  }

  private def matches(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("dictFromShingles returns a MATERIALIZED dict: the unstable id " +
      "expression can never re-evaluate (r15 verdict footgun #3)") {
    val sp = spark; import sp.implicits._
    val shingles = (1 to 500).map(i => s"sh_$i")
    // adversarial layout: many partitions, then a repartition the
    // builder cannot see — token stability must not depend on it
    val dict = NearDup.dictFromShingles(
      shingles.toDF("shingle").repartition(7).distinct())
    // the returned plan is a pinned RDD scan; monotonically_increasing_id
    // is GONE from the plan, so no downstream re-planning (a second
    // subtree, AQE, a different join layout) can ever re-evaluate it
    val planStr = dict.queryExecution.optimizedPlan.toString
    planStr should not include "monotonically_increasing_id"
    planStr should include("LogicalRDD")
    // injective over the full vocabulary
    dict.select(countDistinct(col("tok"))).collect()(0).getLong(0) shouldBe 500L
    dict.select(countDistinct(col("shingle"))).collect()(0).getLong(0) shouldBe 500L
    // two independently-planned subtrees (one re-partitioned, one
    // aggregated) observe the SAME token assignment
    val a = dict.repartition(3, col("tok")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val b = dict.groupBy(col("shingle")).agg(min(col("tok")).as("tok"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    a shouldBe b
  }

  test("loaded-index probe equals recomputed batch-vs-corpus on the fixture") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.wordShingles(col("text"), 3).as("sh"))
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val dir = tmpDir("graft_jacidx").toString
    NearDup.saveJaccardIndex(corpus, dir)
    ArtifactPaths.exists(dir) shouldBe true
    val loaded = matches(NearDup.jaccardMatchesAgainstLoaded(batch, spark, dir))
    val recomputed = matches(NearDup.jaccardMatchesAgainst(batch, corpus))
    loaded shouldBe recomputed
  }

  test("seeded random batches with UNSEEN shingles still match brute force (3 rounds)") {
    // the frozen corpus order cannot rank shingles it has never seen —
    // they take df = 0 (rarest); this loop plants exactly that drift:
    // batch docs carry fresh tokens absent from the indexed corpus
    val rnd = new scala.util.Random(7117)
    def tok() = s"t${rnd.nextInt(120)}"
    val bases = Array.fill(6)(Array.fill(25)(tok()))
    def doc(fresh: Boolean): String = {
      val b = bases(rnd.nextInt(bases.length)).clone()
      val edits = rnd.nextInt(9)
      (1 to edits).foreach(_ => b(rnd.nextInt(b.length)) =
        if (fresh) s"new${rnd.nextInt(1000)}" else tok())
      b.mkString(" ")
    }
    for (rep <- 1 to 3) {
      val corpusDocs = docsDf((101 to 120).map(i => (i.toLong, doc(fresh = false))): _*)
      val batchDocs = docsDf((1 to 12).map(i => (i.toLong, doc(fresh = true))): _*)
      val dir = tmpDir(s"graft_jacidx_r$rep").toString
      NearDup.saveJaccardIndex(corpusDocs, dir)
      val got = matches(NearDup.jaccardMatchesAgainstLoaded(batchDocs, spark, dir))
      val a = batchDocs.select(col("doc_id").as("ba"), col("sh").as("sh_a"))
      val b = corpusDocs.select(col("doc_id").as("ca"), col("sh").as("sh_b"))
      val truth = a.join(b, lit(true))
        .withColumn("inter", org.apache.spark.sql.functions
          .size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("uni", org.apache.spark.sql.functions.size(col("sh_a"))
          + org.apache.spark.sql.functions.size(col("sh_b")) - col("inter"))
        .withColumn("j",
          round(col("inter").cast("double") / col("uni").cast("double"), 4))
        .filter(col("j") >= NearDup.DefaultThreshold)
        .select(col("ba"), col("ca"), col("j"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      withClue(s"round $rep: ") { got shouldBe truth }
    }
  }

  test("appended index probes identically to recompute against the full corpus") {
    // daily-ingest shape: index day-0 corpus, append day-1 docs under the
    // FROZEN day-0 shingle order, then probe — must equal the recomputed
    // batch-vs-(day0 ∪ day1) matches (the lemma needs only one fixed
    // common order; drifted dfs cost selectivity, never pairs)
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.wordShingles(col("text"), 3).as("sh"))
    val day0 = docs.filter(col("doc_id") % 10 > 1)
    val day1 = docs.filter(col("doc_id") % 10 === 1)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val dir = tmpDir("graft_jacidx_app").toString
    NearDup.saveJaccardIndex(day0, dir)
    NearDup.appendToJaccardIndex(day1, spark, dir)
    val appended = matches(NearDup.jaccardMatchesAgainstLoaded(batch, spark, dir))
    val recomputed = matches(
      NearDup.jaccardMatchesAgainst(batch, day0.unionByName(day1)))
    appended shouldBe recomputed
  }

  test("appended band index probes identically to a rebuild over the union") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.wordShingles(col("text"), 3).as("sh"))
    val day0 = docs.filter(col("doc_id") % 10 > 1)
    val day1 = docs.filter(col("doc_id") % 10 === 1)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val dir = tmpDir("graft_bandidx_app").toString
    NearDup.saveBandIndex(day0, dir)
    NearDup.appendToBandIndex(day1, spark, dir)
    val appended = NearDup.loadBandIndex(spark, dir)
    val rebuilt = NearDup.buildBandIndex(day0.unionByName(day1))
    // the REPRESENTATIONS legitimately differ under the r17 exact-set
    // collapse (the rebuild collapses over the union; the append banded
    // day-1 per-doc against day-0's classes), so the pin is BEHAVIORAL:
    // identical full docs view and identical probe output. Band keys are
    // a pure per-row function of (shingles, parameters) and identical
    // sets share all keys, which is why the two representations cannot
    // diverge on any probe.
    val aDocs = appended.docs.collect().map(r => r.getLong(0)).toSet
    val rDocs = rebuilt.docs.collect().map(r => r.getLong(0)).toSet
    aDocs shouldBe rDocs
    matches(NearDup.matchAgainstBandIndex(batch, appended)) shouldBe
      matches(NearDup.matchAgainstBandIndex(batch, rebuilt))
  }

  test("batch band-index probe: loaded == built, every match exact-verified") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.wordShingles(col("text"), 3).as("sh"))
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val dir = tmpDir("graft_bandidx_probe").toString
    NearDup.saveBandIndex(corpus, dir)
    val got = matches(
      NearDup.matchAgainstBandIndex(batch, NearDup.loadBandIndex(spark, dir)))
    val built = matches(
      NearDup.matchAgainstBandIndex(batch, NearDup.buildBandIndex(corpus)))
    got shouldBe built
    // LSH is recall-approximate but NEVER precision-approximate: every
    // reported pair must be in the exact cross-set jaccard output
    val exact = matches(NearDup.jaccardMatchesAgainst(batch, corpus))
    got.diff(exact) shouldBe empty
    got should not be empty // the fixture's planted cross-set near-dups
  }

  test("probe stats measure the matcher's own kernel: verified == match count, candidates bound it") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.wordShingles(col("text"), 3).as("sh"))
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val dir = tmpDir("graft_jacidx_stats").toString
    NearDup.saveJaccardIndex(corpus, dir)
    val stats = NearDup.jaccardProbeStats(batch, spark, dir)
    val matchCount = NearDup.jaccardMatchesAgainstLoaded(batch, spark, dir).count()
    // candidates/verified are REP-level (the kernel's own work under the
    // r17 collapse); `matches` is the member-expanded output == matcher
    stats.matches shouldBe matchCount
    stats.candidates should be >= stats.verified
    stats.matches should be >= stats.verified
    stats.batchDocs shouldBe batch.filter(
      org.apache.spark.sql.functions.size(col("sh")) > 0).count()
    stats.indexedDocs shouldBe corpus.filter(
      org.apache.spark.sql.functions.size(col("sh")) > 0).count()
    stats.vocab should be > 0L
    stats.prefixRows should be > 0L
  }

  test("planted identical classes on BOTH sides: probe == brute, and the " +
      "kernel sees one rep per class (r17 incremental collapse)") {
    // the §skew site-chrome shape, cross-set: a 60-member identical
    // corpus class, a 5-member identical batch class that matches it, a
    // near-dup batch doc, and unrelated decoys on both sides. Truth is
    // the full cross join; the kernel must verify each CLASS pair once
    // (ProbeStats.candidates counts rep pairs) while the output carries
    // every member pair (300 rows from the planted classes alone).
    val sp = spark; import sp.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 39).map(i => s"w$i").mkString(" ") + " w99"
    def uni(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.TextFunctions.wordShingles(col("text"), 3).as("sh"))
    val corpus = uni(
      (101 to 160).map(i => (i.toLong, base)) ++ // 60-member identical class
        Seq((201L, (1 to 40).map(i => s"z$i").mkString(" ")))) // decoy
    val batch = uni(Seq.tabulate(5)(i => ((i + 1).toLong, base)) ++ // 5-member class
      Seq((6L, near), (7L, (1 to 40).map(i => s"q$i").mkString(" "))))
    // brute truth
    val a = batch.select(col("doc_id").as("ba"), col("sh").as("sh_a"))
    val b = corpus.select(col("doc_id").as("ca"), col("sh").as("sh_b"))
    val truth = a.join(b, lit(true))
      .withColumn("inter", org.apache.spark.sql.functions
        .size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", org.apache.spark.sql.functions.size(col("sh_a"))
        + org.apache.spark.sql.functions.size(col("sh_b")) - col("inter"))
      .withColumn("j",
        round(col("inter").cast("double") / col("uni").cast("double"), 4))
      .filter(col("j") >= NearDup.DefaultThreshold)
      .select(col("ba"), col("ca"), col("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    truth.size should be >= 300 // the planted clique really is there
    // recomputed cross-set kernel
    matches(NearDup.jaccardMatchesAgainst(batch, corpus)) shouldBe truth
    // loaded probe against the save-time-collapsed artifact
    val dir = tmpDir("graft_jacidx_classes").toString
    NearDup.saveJaccardIndex(corpus, dir)
    matches(NearDup.jaccardMatchesAgainstLoaded(batch, spark, dir)) shouldBe truth
    // the kernel's own work is CLASS-sized, not member-sized: 2 batch
    // classes with any corpus collision × 2 corpus classes bounds rep
    // candidates ≪ the 61×7 member cross join, and the verified rep
    // pairs expand to the full member output
    val stats = NearDup.jaccardProbeStats(batch, spark, dir)
    stats.matches shouldBe truth.size.toLong
    assert(stats.candidates <= 6,
      s"expected class-level candidates, got $stats")
    assert(stats.verified < stats.matches, s"expansion must happen: $stats")
    // band-index probe: member expansion preserves loaded == built
    val bdir = tmpDir("graft_bandidx_classes").toString
    NearDup.saveBandIndex(corpus, bdir)
    val loadedBand = matches(
      NearDup.matchAgainstBandIndex(batch, NearDup.loadBandIndex(spark, bdir)))
    loadedBand shouldBe matches(
      NearDup.matchAgainstBandIndex(batch, NearDup.buildBandIndex(corpus)))
    loadedBand.diff(truth) shouldBe empty // LSH never invents pairs
    // identical sets share all band keys, so if any member of the corpus
    // class surfaces for a batch doc, every member must
    val perBatchDoc = loadedBand.groupBy(_._1).view.mapValues(
      _.map(_._2).count(id => id >= 101L && id <= 160L)).toMap
    perBatchDoc.values.filter(_ > 0).foreach(_ shouldBe 60)
  }

  test("member-level tombstones: a dead REP must not hide its class's " +
      "live members; a dead member must not hide the class (r17)") {
    val sp = spark; import sp.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    def uni(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.TextFunctions.wordShingles(col("text"), 3).as("sh"))
    // class {101,102,103} — 101 is the rep (min doc_id)
    val corpus = uni(Seq((101L, base), (102L, base), (103L, base),
      (201L, (1 to 40).map(i => s"z$i").mkString(" "))))
    val batch = uni(Seq((1L, base)))
    val jdir = tmpDir("graft_jacidx_repdead").toString
    NearDup.saveJaccardIndex(corpus, jdir)
    Tombstones.deleteIds(jdir, Seq(101L).toDF("doc_id")) // kill the REP
    matches(NearDup.jaccardMatchesAgainstLoaded(batch, spark, jdir))
      .map(m => (m._1, m._2)) shouldBe Set((1L, 102L), (1L, 103L))
    Tombstones.deleteIds(jdir, Seq(103L).toDF("doc_id")) // and a member
    matches(NearDup.jaccardMatchesAgainstLoaded(batch, spark, jdir))
      .map(m => (m._1, m._2)) shouldBe Set((1L, 102L))
    // same contract for the band artifact
    val bdir = tmpDir("graft_bandidx_repdead").toString
    NearDup.saveBandIndex(corpus, bdir)
    Tombstones.deleteIds(bdir, Seq(101L, 103L).toDF("doc_id"))
    matches(NearDup.matchAgainstBandIndex(batch,
        NearDup.loadBandIndex(spark, bdir)))
      .map(m => (m._1, m._2)) shouldBe Set((1L, 102L))
  }

  test("probing at a HIGHER threshold than the build is allowed; lower is rejected") {
    val corpus = docsDf((101L, (1 to 30).map(i => s"c$i").mkString(" ")))
    val nearDup = (1 to 29).map(i => s"c$i").mkString(" ") + " x30"
    val batch = docsDf((1L, nearDup))
    val dir = tmpDir("graft_jacidx_thr").toString
    NearDup.saveJaccardIndex(corpus, dir, threshold = 0.8)
    // τ_probe > τ_build: prefixes are longer than the wider filter needs
    val strict = matches(
      NearDup.jaccardMatchesAgainstLoaded(batch, spark, dir, threshold = 0.95))
    val strictTruth = matches(
      NearDup.jaccardMatchesAgainst(batch, corpus, threshold = 0.95))
    strict shouldBe strictTruth
    // τ_probe < τ_build would need corpus prefixes the artifact never wrote
    an[IllegalArgumentException] should be thrownBy
      NearDup.jaccardMatchesAgainstLoaded(batch, spark, dir, threshold = 0.5)
  }

  test("band-index split verify: encoded base + string-path appends + OOV batch shingles == in-memory rebuild") {
    // the r15 dictionary-encoded verify splits candidates between the
    // long-array path (docs covered by the build-time dictionary) and
    // the string path (appends after the dictionary froze). This plants
    // all three hard cases at once: a batch doc matching a BASE doc, a
    // batch doc matching an APPENDED doc on shingles the dictionary has
    // never seen (both sides out-of-vocabulary — any encode-only verify
    // would undercount the intersection to zero), and a batch doc with
    // mixed seen/unseen shingles. Truth = the in-memory index over the
    // union, whose dictionary covers everything.
    def uni(rows: (Long, String)*) = {
      val sp = spark; import sp.implicits._
      rows.toDF("doc_id", "text").select(col("doc_id"),
        graft.functions.TextFunctions.wordShingles(col("text"), 1).as("sh"))
    }
    val base = uni(
      (101L, (1 to 20).map(i => s"b$i").mkString(" ")),
      (102L, (1 to 20).map(i => s"c$i").mkString(" ")))
    // appended day: entirely fresh vocabulary, frozen dict covers none of it
    val appended = uni((201L, (1 to 20).map(i => s"z$i").mkString(" ")))
    val batch = uni(
      (1L, (1 to 19).map(i => s"b$i").mkString(" ") + " b99"), // vs base
      (2L, (1 to 19).map(i => s"z$i").mkString(" ") + " z99"), // vs append, OOV
      (3L, (1 to 10).map(i => s"c$i").mkString(" ") + " " +
        (1 to 10).map(i => s"z$i").mkString(" "))) // mixed, below threshold
    val dir = tmpDir("graft_bandsplit").toString
    NearDup.saveBandIndex(base, dir)
    NearDup.appendToBandIndexKeyed(appended, spark, dir, "day1")
    val loaded = matches(NearDup.matchAgainstBandIndex(
      batch, NearDup.loadBandIndex(spark, dir), threshold = 0.5))
    val rebuilt = matches(NearDup.matchAgainstBandIndex(
      batch, NearDup.buildBandIndex(base.unionByName(appended)),
      threshold = 0.5))
    loaded shouldBe rebuilt
    // the planted base and appended pairs both surfaced (jaccard 19/21)
    loaded.map(m => (m._1, m._2)) should contain allOf ((1L, 101L), (2L, 201L))
  }

  test("token prefix: probe shingles absent from the build and appended " +
      "shingles a later probe shares == recompute == rebuilt index") {
    def words(p: String, from: Int, to: Int) = (from to to).map(i => s"$p$i")
    val day0 = docsDf(
      (101L, words("b", 1, 30).mkString(" ")),
      (102L, words("c", 1, 30).mkString(" ")))
    // appended: one doc of entirely unseen vocabulary, one half unseen
    val day1 = docsDf(
      (201L, words("z", 1, 30).mkString(" ")),
      (202L, (words("b", 1, 15) ++ words("y", 1, 15)).mkString(" ")))
    val batch = docsDf(
      (1L, (words("b", 1, 29) :+ "fresh1").mkString(" ")), // vs base
      (2L, (words("z", 1, 29) :+ "fresh2").mkString(" ")), // vs unseen append
      (3L, (words("b", 1, 15) ++ words("y", 1, 14) :+ "fresh3")
        .mkString(" ")), // vs the mixed append
      (4L, words("q", 1, 30).mkString(" "))) // unseen everywhere
    val dir = tmpDir("graft_jacidx_unseen").toString
    NearDup.saveJaccardIndex(day0, dir)
    NearDup.appendToJaccardIndex(day1, spark, dir)
    val loaded = matches(NearDup.jaccardMatchesAgainstLoaded(batch, spark, dir))
    loaded shouldBe matches(
      NearDup.jaccardMatchesAgainst(batch, day0.unionByName(day1)))
    val rebuilt = tmpDir("graft_jacidx_unseen_rebuilt").toString
    NearDup.saveJaccardIndex(day0.unionByName(day1), rebuilt)
    loaded shouldBe matches(
      NearDup.jaccardMatchesAgainstLoaded(batch, spark, rebuilt))
    loaded.map(m => (m._1, m._2)) shouldBe Set((1L, 101L), (2L, 201L), (3L, 202L))
  }

  test("an artifact without the layout marker is rejected with the " +
      "compaction command, and compact-jaccard migrates it") {
    val sp = spark; import sp.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.wordShingles(col("text"), 3).as("sh"))
    val day0 = docs.filter(col("doc_id") % 10 > 1)
    val day1 = docs.filter(col("doc_id") % 10 === 1)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val dir = tmpDir("graft_jacidx_unmarked").toString
    NearDup.saveJaccardIndex(day0, dir)
    NearDup.appendToJaccardIndex(day1, spark, dir)
    val dead = docs.filter(col("doc_id") % 20 === 2).select(col("doc_id"))
    Tombstones.deleteIds(dir, dead)
    // the meta of the string-prefix layout: the threshold alone
    Seq(Tuple1(NearDup.DefaultThreshold)).toDF("threshold")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    val e = intercept[IllegalStateException](
      NearDup.jaccardMatchesAgainstLoaded(batch, spark, dir))
    e.getMessage should include("IndexMain compact-jaccard")
    intercept[IllegalStateException](
      NearDup.appendToJaccardIndex(day1, spark, dir))
    val dest = tmpDir("graft_jacidx_migrated").toString
    NearDup.compactJaccardIndex(spark, dir, dest)
    val fresh = tmpDir("graft_jacidx_fresh").toString
    NearDup.saveJaccardIndex(
      day0.unionByName(day1).join(dead, Seq("doc_id"), "left_anti"), fresh)
    val migrated = matches(NearDup.jaccardMatchesAgainstLoaded(batch, spark, dest))
    migrated shouldBe matches(
      NearDup.jaccardMatchesAgainstLoaded(batch, spark, fresh))
    migrated should not be empty
  }
}
