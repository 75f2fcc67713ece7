package graft.operators

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.functions.TextFunctions.wordShingles
import graft.functions.VectorFunctions.normSq
import org.apache.spark.sql.{DataFrame, functions}
import org.apache.spark.sql.functions._

/** The shared artifact commit protocol (ArtifactPaths) held by every
  * persisted index kind: a rebuild that crashes mid-write leaves no
  * commit marker, a replayed keyed append rewrites nothing, and the
  * protocol's markers and deletes live in one file.
  */
class ArtifactCommitSpec extends SparkSpec {

  private def documents = graft.Tables.documents(spark, sfDir)

  private def shingled(d: DataFrame) =
    d.select(col("doc_id"), wordShingles(col("text"), 3).as("sh"))

  private def embeddings = graft.Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding"), normSq(col("embedding")).as("n2"))

  /** `df` with column `c` failing at evaluation time on every row. */
  private def failing(df: DataFrame, c: String): DataFrame =
    df.withColumn(c, when(col(c).isNull || col(c).isNotNull,
      raise_error(lit("crash mid-rebuild"))).otherwise(col(c)))

  /** Build a committed artifact with `save`, then let `crash` rebuild it
    * in place and fail: the torn artifact must not look committed.
    */
  private def crashMidRebuild(prefix: String)(save: String => Unit)(
      crash: String => Unit): Unit = {
    val dir = tmpDir(prefix).toString
    save(dir)
    ArtifactPaths.exists(dir) shouldBe true
    intercept[Exception](crash(dir))
    ArtifactPaths.exists(dir) shouldBe false
  }

  test("crash mid-rebuild: Bloom artifact is not committed") {
    val corpus = documents.select(col("doc_id"), sha2(col("text"), 256).as("k"))
    crashMidRebuild("rb_bloom")(BloomGate.save(_, corpus, "doc_id", "k"))(
      BloomGate.save(_, failing(corpus, "k"), "doc_id", "k"))
  }

  test("crash mid-rebuild: band index is not committed") {
    val docs = shingled(documents)
    crashMidRebuild("rb_band")(NearDup.saveBandIndex(docs, _))(
      NearDup.saveBandIndex(failing(docs, "sh"), _))
  }

  test("crash mid-rebuild: jaccard index is not committed") {
    val docs = shingled(documents)
    crashMidRebuild("rb_jaccard")(NearDup.saveJaccardIndex(docs, _))(
      NearDup.saveJaccardIndex(failing(docs, "sh"), _))
  }

  test("crash mid-rebuild: span index is not committed") {
    val docs = documents.select(col("doc_id"), col("text"))
    crashMidRebuild("rb_span")(NearDup.saveSpanIndex(docs, _))(
      NearDup.saveSpanIndex(failing(docs, "text"), _))
  }

  test("crash mid-rebuild: IVF index is not committed") {
    val e = embeddings.localCheckpoint()
    val cents = IvfIndex.centroids(spark, e, 8)
    val cells = IvfIndex.assign(e, cents)
    crashMidRebuild("rb_ivf")(IvfIndex.save(_, cents, cells))(
      IvfIndex.save(_, cents, failing(cells, "n2")))
  }

  test("crash mid-rebuild: PQ index is not committed") {
    val e = embeddings.localCheckpoint()
    val books = PqIndex.train(spark, e, dim = 64, m = 8, k = 16)
    val codes = PqIndex.encode(e, books)
    crashMidRebuild("rb_pq")(PqIndex.save(_, books, codes))(
      PqIndex.save(_, books, failing(codes, "code")))
  }

  test("crash mid-rebuild: SQ8 index is not committed") {
    val e = embeddings.localCheckpoint()
    val grid = Sq8Index.train(e)
    val codes = Sq8Index.encode(e, grid)
    crashMidRebuild("rb_sq8")(Sq8Index.save(_, grid, codes))(
      Sq8Index.save(_, grid, failing(codes, "code")))
  }

  test("crash mid-rebuild: SemDedup artifact is not committed") {
    val e = embeddings.localCheckpoint()
    crashMidRebuild("rb_semdedup")(SemDedup.save(_, e, k = 4))(
      SemDedup.save(_, failing(e, "embedding"), k = 4))
  }

  test("crash mid-rebuild: phash index is not committed") {
    val hashes = Multimodal.hashMedia(Multimodal.pictureTable(spark, sfDir))
    crashMidRebuild("rb_phash")(Multimodal.savePhashIndexFromHashes(hashes, _))(
      Multimodal.savePhashIndexFromHashes(failing(hashes, "ph"), _))
  }

  /** File names under `dir` (parquet part files carry a per-write id, so
    * a rewrite of the same rows changes them).
    */
  private def fileNames(dir: String): Set[String] = {
    val names = new java.io.File(dir).list()
    names should not be null
    names.toSet
  }

  /** Commit a keyed append, replay it, and check that the replay wrote
    * no file under any of the append's `leaves`.
    */
  private def replayWritesNothing(dir: String, key: String,
      leaves: String*)(append: => Unit): Unit = {
    append
    val before = leaves.map(l => fileNames(s"$dir/appends/$key/$l"))
    append
    leaves.map(l => fileNames(s"$dir/appends/$key/$l")) shouldBe before
  }

  test("identical replay: Bloom keyed append rewrites nothing") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir("rp_bloom").toString + "/idx"
    BloomGate.save(dir, Seq((1L, "a")).toDF("id", "k"), "id", "k",
      expectedItems = 100)
    replayWritesNothing(dir, "job-0", "keys")(BloomGate.appendKeyed(spark,
      dir, Seq((2L, "b"), (3L, "c")).toDF("id", "k"), "id", "k", "job-0"))
    BloomGate.load(spark, dir).keys.count() shouldBe 3
  }

  test("identical replay: band index keyed append rewrites nothing") {
    val docs = shingled(documents)
    val dir = tmpDir("rp_band").toString
    NearDup.saveBandIndex(docs.filter(col("doc_id") % 10 =!= 0), dir)
    val batch = docs.filter(col("doc_id") % 10 === 0).localCheckpoint()
    replayWritesNothing(dir, "b0", "docs", "banded")(
      NearDup.appendToBandIndexKeyed(batch, spark, dir, "b0"))
    NearDup.loadBandIndex(spark, dir).docs.count() shouldBe
      docs.filter(functions.size(col("sh")) > 0).count()
  }

  test("band index keyed append: a different batch under a committed key " +
      "is refused and the first batch's docs still load") {
    val docs = shingled(documents)
    val dir = tmpDir("guard_band").toString
    NearDup.saveBandIndex(docs.filter(col("doc_id") % 10 > 1), dir)
    def ids = NearDup.loadBandIndex(spark, dir).docs
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    NearDup.appendToBandIndexKeyed(docs.filter(col("doc_id") % 10 === 0),
      spark, dir, "0")
    val first = ids
    val e = intercept[IllegalStateException] {
      NearDup.appendToBandIndexKeyed(docs.filter(col("doc_id") % 10 === 1),
        spark, dir, "0")
    }
    e.getMessage should include("'0'")
    e.getMessage should include(dir)
    ids shouldBe first
    first.count(_ % 10 == 0) should be > 0
  }

  test("identical replay: span index keyed append rewrites nothing") {
    val docs = documents.select(col("doc_id"), col("text"))
    val dir = tmpDir("rp_span").toString
    NearDup.saveSpanIndex(docs.filter(col("doc_id") % 10 =!= 0), dir)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    replayWritesNothing(dir, "b0", "wins")(
      NearDup.appendToSpanIndexKeyed(batch, spark, dir, "b0"))
  }

  test("identical replay: SemDedup keyed append rewrites nothing") {
    val e = embeddings.localCheckpoint()
    val dir = tmpDir("rp_semdedup").toString
    SemDedup.save(dir, e.filter(col("vec_id") % 10 =!= 0), k = 4)
    val batch = e.filter(col("vec_id") % 10 === 0)
    def append() = SemDedup.appendBatchKeyed(spark, dir, batch, e,
      threshold = 0.9, key = "b0").collect().toSet
    var pairs = Set.empty[org.apache.spark.sql.Row]
    replayWritesNothing(dir, "b0", "assign", "floats"){ pairs = append() }
    // the replay still emits the batch's pairs
    append() shouldBe pairs
  }

  test("identical replay: phash keyed append rewrites nothing") {
    val media = Multimodal.pictureTable(spark, sfDir)
    val dir = tmpDir("rp_phash").toString
    Multimodal.savePhashIndex(media.filter(col("media_id") % 40 === 0), dir)
    replayWritesNothing(dir, "day1", "hashes")(Multimodal.appendPhashIndexKeyed(
      media.filter(col("media_id") % 40 =!= 0), spark, dir, "day1"))
  }

  test("source scan: commit markers and recursive deletes live only in ArtifactPaths") {
    val main = Paths.get("src", "main")
    Files.isDirectory(main) shouldBe true
    val sources = Files.walk(main).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => (main.relativize(p).toString,
        new String(Files.readAllBytes(p), "UTF-8")))
      .toSeq
    val artifactPaths =
      Paths.get("scala", "graft", "operators", "ArtifactPaths.scala").toString
    sources.collect { case (p, src) if src.contains("_SUCCESS\"") => p } shouldBe
      Seq(artifactPaths)
    // a recursive delete: a method that calls itself on a directory's
    // children
    val recursiveDelete =
      """def (\w+)\(\w+: java\.io\.File\)[^=]*=[\s\S]{0,200}?listFiles\(\)\.foreach\((\w+)\)""".r
    val operators = Paths.get("scala", "graft", "operators").toString
    sources.collect {
      case (p, src) if p.startsWith(operators) &&
          recursiveDelete.findAllMatchIn(src).exists(m => m.group(1) == m.group(2)) => p
    } shouldBe Seq(artifactPaths)
  }
}
