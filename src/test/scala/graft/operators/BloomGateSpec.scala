package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the BloomGate contracts the q_dedup_bloom_gate oracle cannot
  * see: the no-false-negative guarantee in isolation, the false-positive
  * rate staying near the requested fpp, and the empty-corpus path.
  */
class BloomGateSpec extends SparkSpec {

  test("newRows equals the plain anti-join under heavy overlap") {
    val sp = spark; import sp.implicits._
    val corpus = (0 until 500).map(i => s"doc body $i").toDF("k")
    // half the batch duplicates the corpus, half is new
    val batch = ((0 until 250).map(i => (i.toLong, s"doc body $i")) ++
      (0 until 250).map(i => (1000L + i, s"fresh body $i"))).toDF("id", "k")
    val gated = BloomGate.newRows(batch, corpus, "k", 10000L, 0.01)
      .select($"id").as[Long].collect().sorted
    val exact = batch.join(corpus, Seq("k"), "left_anti")
      .select($"id").as[Long].collect().sorted
    gated shouldBe exact
    exact.length shouldBe 250
  }

  test("no false negatives: every corpus key probes as maybe") {
    val sp = spark; import sp.implicits._
    val corpus = (0 until 2000).map(i => s"member $i").toDF("k")
    val bytes = BloomGate.buildBloom(corpus, $"k", 2000L, 0.01)
    val misses = corpus.filter(!BloomGate.mightContain(bytes, $"k")).count()
    misses shouldBe 0L
  }

  test("false-positive rate stays near the requested fpp") {
    val sp = spark; import sp.implicits._
    val corpus = (0 until 5000).map(i => s"member $i").toDF("k")
    val bytes = BloomGate.buildBloom(corpus, $"k", 5000L, 0.01)
    val probes = (0 until 5000).map(i => s"outsider $i").toDF("k")
    val fps = probes.filter(BloomGate.mightContain(bytes, $"k")).count()
    // 1% nominal; allow generous slack for hash-family variance
    assert(fps <= 5000 * 0.05, s"fp rate ${fps / 5000.0} way above fpp")
  }

  test("empty corpus: every batch row is new") {
    val sp = spark; import sp.implicits._
    val corpus = Seq.empty[String].toDF("k")
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "k")
    BloomGate.newRows(batch, corpus, "k", 100L, 0.01)
      .count() shouldBe 2L
  }

  test("plan shape: the definitely-new branch carries no join") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Union}
    // parquet-backed inputs: local Seqs collapse under
    // ConvertToLocalRelation and the union folds away at optimize time
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val corpus = docs.filter($"doc_id" % 10 =!= 0).select($"text".as("k"))
    val batch = docs.filter($"doc_id" % 10 === 0)
      .select($"doc_id".as("id"), $"text".as("k"))
    val plan = BloomGate.newRows(batch, corpus, "k", 1000L, 0.01)
      .queryExecution.optimizedPlan
    val union = plan.collectFirst { case u: Union => u }.get
    // first branch = !mightContain filter straight off the scan — the
    // rows that never pay the exchange; second = the confirm anti-join
    assert(union.children.head.collect { case j: Join => j }.isEmpty,
      "definite branch must not join")
    assert(union.children.last.collect { case j: Join => j }.nonEmpty,
      "confirm branch must anti-join")
  }

  test("a batch column named __bloom_maybe survives the gate untouched") {
    // regression: the old implementation materialized a temp column of
    // this name and dropped it, vaporizing a caller's homonym column
    val sp = spark; import sp.implicits._
    val corpus = Seq("x", "y").toDF("k")
    val batch = Seq((1L, "x", true), (2L, "z", false))
      .toDF("id", "k", "__bloom_maybe")
    val out = BloomGate.newRows(batch, corpus, "k", 100L, 0.01)
    out.columns.toSeq should contain("__bloom_maybe")
    out.select($"id", $"__bloom_maybe").as[(Long, Boolean)]
      .collect().toSeq shouldBe Seq((2L, false))
  }

  test("sizing past the AQE conf caps: realized bitSize equals the request") {
    val sp = spark; import sp.implicits._
    // 10M items at 1% fpp needs ~95.9M bits — above BOTH default caps
    // (4M items, 67.1M bits); without the conf raise BloomFilterAggregate
    // silently clamps and the realized filter is ~30% under-sized
    val n = 10000000L
    val want = BloomGate.bitsFor(n, 0.01)
    assert(want > 67108864L, "test must exceed the default bit cap")
    val corpus = (0 until 100).map(i => s"k$i").toDF("k")
    val bytes = BloomGate.buildBloom(corpus, $"k", n, 0.01)
    val realized = org.apache.spark.util.sketch.BloomFilter.readFrom(bytes)
    // BloomFilterImpl rounds bits up to a word multiple
    assert(realized.bitSize() >= want && realized.bitSize() < want + 64,
      s"realized ${realized.bitSize()} != requested $want: conf clamp bit")
  }

  private def tmpIdx(): String =
    java.nio.file.Files.createTempDirectory("bloomidx").toString + "/idx"

  test("loaded twin: persisted gate equals the anti-join, corpus-free probe") {
    val sp = spark; import sp.implicits._
    val corpus = (0 until 400).map(i => (i.toLong, s"doc $i")).toDF("id", "k")
    val batch = ((0 until 200).map(i => (5000L + i, s"doc $i")) ++
      (0 until 200).map(i => (9000L + i, s"new $i"))).toDF("id", "k")
    val dir = tmpIdx()
    BloomGate.save(dir, corpus, "id", "k", fpp = 0.01)
    assert(ArtifactPaths.exists(dir), "meta-last commit marker missing")
    val gated = BloomGate.newRowsAgainstLoaded(batch, "k", spark, dir)
      .select($"id").as[Long].collect().sorted
    val exact = batch.join(corpus.select($"k"), Seq("k"), "left_anti")
      .select($"id").as[Long].collect().sorted
    gated shouldBe exact
    exact.length shouldBe 200
  }

  test("rebuild in place clears keyed appends — no double-counted keys") {
    val sp = spark; import sp.implicits._
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "k")
    val dir = tmpIdx()
    BloomGate.save(dir, base, "id", "k", expectedItems = 100)
    BloomGate.appendKeyed(spark, dir, Seq((3L, "c")).toDF("id", "k"),
      "id", "k", "job-0")
    BloomGate.load(spark, dir).keys.count() shouldBe 3
    // rebuild with every live key: the stale append subtree must not
    // survive to re-add key c a second time
    BloomGate.save(dir, base.union(Seq((3L, "c")).toDF("id", "k")),
      "id", "k", expectedItems = 100)
    val idx = BloomGate.load(spark, dir)
    idx.keys.count() shouldBe 3
    idx.keys.select($"key").as[String].collect().sorted shouldBe
      Array("a", "b", "c")
  }

  test("append OR-merges losslessly: probe equals the full-union anti-join") {
    val sp = spark; import sp.implicits._
    val day0 = (0 until 300).map(i => (i.toLong, s"d0 $i")).toDF("id", "k")
    val day1 = (0 until 300).map(i => (1000L + i, s"d1 $i")).toDF("id", "k")
    val dir = tmpIdx()
    BloomGate.save(dir, day0, "id", "k", fpp = 0.01)
    BloomGate.append(spark, dir, day1, "id", "k")
    // batch overlaps both generations plus fresh rows
    val batch = (Seq((1L, "d0 7"), (2L, "d1 7"), (3L, "fresh a"),
      (4L, "fresh b"))).toDF("id", "k")
    val gated = BloomGate.newRowsAgainstLoaded(batch, "k", spark, dir)
      .select($"id").as[Long].collect().sorted
    gated shouldBe Array(3L, 4L)
    // no false negatives across generations: every indexed key is maybe
    val idx = BloomGate.load(spark, dir)
    day0.union(day1)
      .filter(!BloomGate.mightContain(idx.filter, $"k"))
      .count() shouldBe 0L
  }

  test("tombstone delete: exact via the confirm side; filter is rebuild-only") {
    val sp = spark; import sp.implicits._
    val corpus = (0 until 100).map(i => (i.toLong, s"doc $i")).toDF("id", "k")
    val dir = tmpIdx()
    BloomGate.save(dir, corpus, "id", "k", fpp = 0.01)
    Tombstones.deleteIds(dir, Seq(7L).toDF("id"))
    val batch = Seq((1L, "doc 7"), (2L, "doc 8"), (3L, "brand new"))
      .toDF("id", "k")
    // doc 7's only holder is deleted -> the row is NEW again (it rides
    // the maybe path — the filter still contains it — and the
    // tombstone-excluded confirm side lets it through)
    BloomGate.newRowsAgainstLoaded(batch, "k", spark, dir)
      .select($"id").as[Long].collect().sorted shouldBe Array(1L, 3L)
    // compact re-derives the filter from live keys: doc 7 leaves it
    val dest = tmpIdx()
    val live = BloomGate.load(spark, dir).keys
    BloomGate.save(dest, live, "id", "key", fpp = 0.01)
    val fresh = BloomGate.load(spark, dest)
    Seq("doc 7").toDF("k")
      .filter(BloomGate.mightContain(fresh.filter, $"k"))
      .count() shouldBe 0L
  }

  test("drift gate: append saturation trips bloomDegraded; rebuild clears it") {
    val sp = spark; import sp.implicits._
    val day0 = (0 until 50).map(i => (i.toLong, s"d0 $i")).toDF("id", "k")
    val dir = tmpIdx()
    // deliberately tiny sizing: 50 expected items...
    BloomGate.save(dir, day0, "id", "k", fpp = 0.01)
    // ...then 5000 appended keys saturate the filter 100x over
    val day1 = (0 until 5000).map(i => (1000L + i, s"d1 $i")).toDF("id", "k")
    BloomGate.append(spark, dir, day1, "id", "k")
    val probes = (0 until 2000).map(i => (9L + i, s"out $i")).toDF("id", "k")
    val s = BloomGate.probeStats(probes.select($"k", $"id"), "k", spark, dir)
    assert(s.falsePositives > 0, "saturated filter should false-positive")
    assert(BloomGate.bloomDegraded(s, maxFpp = 0.05, maxSaturation = 2.0),
      s"saturation ${s.rows}/${s.expectedItems} must trip the gate")
    // rebuild at derived sizing restores the posture
    val dest = tmpIdx()
    BloomGate.save(dest, day0.union(day1), "id", "k", fpp = 0.01)
    val s2 = BloomGate.probeStats(probes.select($"k", $"id"), "k", spark, dest)
    assert(!BloomGate.bloomDegraded(s2, maxFpp = 0.05, maxSaturation = 2.0),
      s"rebuilt index observed_fpp ${s2.observedFpp} should pass")
  }

  test("single-writer lease: a held lock rejects maintenance writes; " +
      "a stale lease is broken") {
    val sp = spark; import sp.implicits._
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "k")
    val dir = tmpIdx()
    BloomGate.save(dir, base, "id", "k", expectedItems = 100)
    // simulate a live concurrent writer holding the lease
    val lock = new java.io.File(dir, "_writer.lock")
    assert(lock.createNewFile())
    val e = intercept[IllegalStateException] {
      BloomGate.append(spark, dir, Seq((3L, "c")).toDF("id", "k"), "id", "k")
    }
    e.getMessage should include("locked by another writer")
    // the artifact is untouched by the refused write
    BloomGate.load(spark, dir).keys.count() shouldBe 2
    // a crashed writer's stale lease (older than the TTL) is broken
    assert(lock.setLastModified(
      System.currentTimeMillis() - BloomGate.LeaseStaleMs - 60000))
    BloomGate.append(spark, dir, Seq((3L, "c")).toDF("id", "k"), "id", "k")
    BloomGate.load(spark, dir).keys.count() shouldBe 3
    // the successful write released its own lease
    assert(!lock.exists())
  }

  test("stale-lease break verifies the captured token: a NEW owner's lock " +
      "acquired after the stale observation is restored, never stripped") {
    // the TOCTOU: waiter W observes token OLD as stale; before W's
    // rename lands, the dead writer's lock is replaced by live owner
    // NEW. W's capture must notice the token changed, give the lock
    // back, and report failure — the old code renamed on age alone and
    // silently destroyed NEW's lease.
    val dir = new java.io.File(tmpIdx())
    dir.mkdirs()
    val lock = new java.io.File(dir, "_writer.lock")
    java.nio.file.Files.write(lock.toPath,
      "NEW-owner-token".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val graveyard = new java.io.File(dir, "_writer.lock.stale.test")
    BloomGate.breakStaleLock(lock, "OLD-observed-token", graveyard) shouldBe false
    lock.exists() shouldBe true // restored, not stripped
    new String(java.nio.file.Files.readAllBytes(lock.toPath),
      java.nio.charset.StandardCharsets.UTF_8) shouldBe "NEW-owner-token"
    graveyard.exists() shouldBe false
    // and the verified-stale capture still breaks cleanly
    BloomGate.breakStaleLock(lock, "NEW-owner-token", graveyard) shouldBe true
    lock.exists() shouldBe false
    graveyard.exists() shouldBe false
  }

  test("appendKeyed: identical replay is accepted; a DIFFERENT key set on a " +
      "committed subtree is refused (jobKey collision)") {
    val sp = spark; import sp.implicits._
    val base = Seq((1L, "a")).toDF("id", "k")
    val dir = tmpIdx()
    BloomGate.save(dir, base, "id", "k", expectedItems = 100)
    BloomGate.appendKeyed(spark, dir, Seq((2L, "b"), (3L, "c")).toDF("id", "k"),
      "id", "k", "job-0")
    // at-least-once replay with the same rows: idempotent, no error
    BloomGate.appendKeyed(spark, dir, Seq((3L, "c"), (2L, "b")).toDF("id", "k"),
      "id", "k", "job-0")
    BloomGate.load(spark, dir).keys.count() shouldBe 3
    // a second job colliding on the same append key (fresh checkpoint,
    // batch ids restarting at 0) must fail loudly, not drop b/c
    val e = intercept[IllegalStateException] {
      BloomGate.appendKeyed(spark, dir, Seq((9L, "z")).toDF("id", "k"),
        "id", "k", "job-0")
    }
    e.getMessage should include("different key set")
    // earlier job's keys survive the refused overwrite
    BloomGate.load(spark, dir).keys
      .select($"key").as[String].collect().sorted shouldBe
      Array("a", "b", "c")
  }

  test("null keys follow anti-join semantics (null never matches)") {
    val sp = spark; import sp.implicits._
    val corpus = Seq(Some("x"), None).map(Tuple1(_)).toDF("k")
    val batch = Seq((1L, Some("x")), (2L, None), (3L, Some("y")))
      .toDF("id", "k")
    val gated = BloomGate.newRows(batch, corpus, "k", 100L, 0.01)
      .select($"id").as[Long].collect().sorted
    val exact = batch.join(corpus, Seq("k"), "left_anti")
      .select($"id").as[Long].collect().sorted
    gated shouldBe exact
  }
}
