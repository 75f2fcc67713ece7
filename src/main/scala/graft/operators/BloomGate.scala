package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.BinaryType

/** Bloom-filter membership gate — the set-membership member of the
  * mergeable-sketch family (HLL = distinct counts, KLL = quantiles,
  * CMS = frequencies, Bloom = membership), applied to the standing
  * exact-dedup problem: "which rows of today's batch are NOT already in
  * the corpus?".
  *
  * Build side is Spark's own `BloomFilterAggregate` (the expression
  * behind AQE's injected runtime filters): a single distributed pass
  * over the corpus keys folds partition-local filters map-side and
  * OR-merges them — a fixed-size, commutative, mergeable binary, never
  * a per-key shuffle. Probe side is `BloomFilterMightContain` with the
  * filter embedded as a binary literal, so the batch-side probe is
  * whole-stage-codegen'd and shuffle-free.
  *
  * Exactness: a Bloom filter has NO false negatives, so rows the probe
  * rejects are definitely new and skip the confirm join entirely; only
  * the "maybe" rows (true duplicates + an fpp-sized sliver of false
  * positives) enter the exact anti-join against the corpus keys. The
  * union of both paths is therefore EXACTLY the anti-join answer — the
  * q_dedup_bloom_gate oracle proves this at hash strength, independent
  * of which rows took which path.
  *
  * Scale posture at 100 TB: the corpus never ships — one digest-column
  * scan builds the filter (~1.2 GiB for 10⁹ keys at 1% fpp; size is
  * O(corpus cardinality), not O(corpus bytes)). For the common
  * mostly-new batch (web crawl refresh), (1 − fpp)·|new| rows never
  * touch an exchange; the confirm join's stream side shrinks to
  * |dups| + fpp·|batch|. Keys are pre-hashed with xxhash64, so only
  * 8-byte longs enter the aggregate regardless of key width.
  *
  * Sizing caveat: `BloomFilterAggregate` silently clamps both its item
  * and bit arguments against the session confs
  * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` /
  * `maxNumBits` (defaults 4M items / 8 MiB — sized for AQE's injected
  * runtime filters, not a corpus gate). [[buildBloom]] raises both
  * confs to the request before aggregating, so the stated 10⁹-key
  * posture is actually achievable; the realized `bitSize` equals the
  * standard-formula request (BloomGateSpec pins this past the default
  * cap). At multi-GiB filter sizes the literal-embedded probe plan
  * ships the filter once per task binary — at that point prefer
  * probing from the persisted artifact on a cadence rather than
  * rebuilding per batch.
  */
object BloomGate {

  private val MaxItemsConf =
    "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
  private val MaxBitsConf =
    "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"

  /** Standard sizing: m = -n·ln(p)/(ln 2)² bits. */
  def bitsFor(expectedItems: Long, fpp: Double): Long = math.ceil(
    -expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong

  /** Serialized Bloom filter over xxhash64(key) for every row of `df`
    * (xxhash64 folds a null key to its seed, so null rows land in the
    * filter too — consistent with the probe side, and the confirm
    * join's null-never-equals still gives exact anti-join semantics).
    * Returns null iff `df` is empty (Spark's BloomFilterAggregate
    * convention) — [[newRows]] treats that as the empty corpus.
    * m = -n·ln(p)/(ln 2)² bits, the standard sizing.
    */
  def buildBloom(df: DataFrame, key: Column, expectedItems: Long,
      fpp: Double): Array[Byte] = {
    require(expectedItems > 0 && fpp > 0 && fpp < 1,
      s"bad bloom params: n=$expectedItems p=$fpp")
    val numBits = bitsFor(expectedItems, fpp)
    // BloomFilterAggregate Math.min-clamps n and numBits against the
    // session caps (meant for AQE runtime filters); without raising them
    // a >4M-item build silently degrades to a far higher realized fpp.
    val conf = df.sparkSession.conf
    def raise(k: String, needed: Long, dflt: Long): Unit = {
      val cur = conf.getOption(k).map(_.toLong).getOrElse(dflt)
      if (cur < needed) conf.set(k, needed.toString)
    }
    raise(MaxItemsConf, expectedItems, 4000000L)
    raise(MaxBitsConf, numBits, 67108864L)
    val agg = new BloomFilterAggregate(
      ColumnBridge.expression(xxhash64(key)),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression()
    val row = df.select(ColumnBridge.column(agg)).head()
    if (row.isNullAt(0)) null else row.getAs[Array[Byte]](0)
  }

  /** Codegen'd probe: might `key` be in the serialized filter? The
    * filter rides the plan as a literal (deserialized once per task,
    * not per row). No false negatives; false positives at ~fpp.
    */
  def mightContain(bloomBytes: Array[Byte], key: Column): Column =
    ColumnBridge.column(BloomFilterMightContain(
      Literal(bloomBytes, BinaryType),
      ColumnBridge.expression(xxhash64(key))))

  /** Rows of `batch` whose `keyName` value does not occur in
    * `corpus(keyName)` — exact (anti-join semantics), bloom-accelerated:
    * definitely-new rows short-circuit past the join; only maybe-rows
    * are confirmed against the corpus keys. The probe predicate is
    * applied inline in the two filters (no temp column, so a batch
    * column of any name survives untouched). `expectedItems < 0`
    * (the default) sizes the filter from a corpus key count — one
    * cheap digest-column count, never a guessed constant that
    * silently under-sizes at a larger scale factor.
    */
  def newRows(batch: DataFrame, corpus: DataFrame, keyName: String,
      expectedItems: Long = -1L, fpp: Double = 0.01): DataFrame = {
    val n =
      if (expectedItems > 0) expectedItems
      else math.max(corpus.select(col(keyName)).count(), 1L)
    val bytes = buildBloom(corpus.select(col(keyName)), col(keyName), n, fpp)
    gated(batch, corpus.select(col(keyName)).distinct(), keyName, bytes)
  }

  /** The two-path gate given a prebuilt filter: definitely-new rows
    * bypass the confirm join; maybe-rows anti-join `corpusKeys`
    * (single `keyName` column, distinct). Null filter = empty corpus.
    */
  private def gated(batch: DataFrame, corpusKeys: DataFrame,
      keyName: String, bloomBytes: Array[Byte]): DataFrame = {
    if (bloomBytes == null || bloomBytes.isEmpty) return batch
    val probe = mightContain(bloomBytes, col(keyName))
    val definite = batch.filter(!probe)
    val confirmed = batch.filter(probe)
      .join(corpusKeys, Seq(keyName), "left_anti")
    definite.unionByName(confirmed)
  }

  // ---------------------------------------------------------------------
  // Persisted artifact — the seventh index kind (build once / probe many)
  // ---------------------------------------------------------------------
  // Layout under `dir`:
  //   keys/    (id LONG, key <keyType>)  — the exact-confirm side
  //   filter/  one row (filter BINARY)   — the serialized Bloom filter
  //   meta/    (rows, expected_items, fpp, num_bits)  — written LAST
  //   appends/<key>/keys/  — keyed appends (streaming maintenance)
  // committed, rebuilt and replayed by the ArtifactPaths protocol
  //
  // Takedown posture: a Bloom filter admits NO deletes — a tombstoned id
  // stays set in the filter until the next rebuild/compact. That is a
  // SKIP-RATE degradation only, never a correctness one: load() excludes
  // tombstoned rows from the keys table, so a batch row matching only a
  // deleted key routes through the maybe path and the confirm anti-join
  // correctly declares it new. Rebuild (save) clears tombstones and
  // restores the skip rate.

  /** Snapshot of a loaded artifact: `filter` (empty iff the corpus was
    * empty), `keys` with tombstones already excluded, and the build
    * parameters for append/check.
    */
  final case class LoadedBloom(filter: Array[Byte], keys: DataFrame,
      rows: Long, expectedItems: Long, fpp: Double)

  /** Build + persist: corpus keys, their Bloom filter, meta-last.
    * `expectedItems < 0` sizes from the stored key count. A rebuild
    * starts with [[ArtifactPaths.rebuild]].
    */
  // --- Single-writer enforcement (maintenance writes) -------------------
  // append/appendKeyed are a read-modify-write on the shared filter bits:
  // two concurrent writers both load the base filter, each ORs in only its
  // own keys, and the second filter overwrite silently drops the first
  // writer's bits even though its keys commit. A key present in keys/ but
  // ABSENT from the filter is a manufactured Bloom false negative — the
  // gated() definitely-new path then admits that key's future duplicates
  // without ever reaching the confirm join, breaking the documented
  // no-false-negative exactness. So every maintenance write takes a lease
  // file (`_writer.lock`, atomic O_EXCL create): a second concurrent
  // writer fails loudly instead of corrupting the artifact, and a crashed
  // writer's stale lease (older than [[LeaseStaleMs]]) is broken by the
  // next acquire. save() takes it too — a rebuild racing an append is the
  // same lost-update shape.
  val LeaseStaleMs: Long = 15L * 60 * 1000

  /** Rename-then-VERIFY stale-lock capture: atomically moves `lock` to
    * `graveyard`, then confirms the captured bytes are `observedToken` —
    * the token that was observed when the lock was judged stale. If they
    * differ, a NEW owner acquired between observation and rename; the
    * capture is rolled back (rename restored when no fresh lock has
    * appeared — never clobbering one that has) and the break reports
    * failure, so the caller falls through to the locked-writer error
    * instead of stripping a live writer's lease. Returns true only when
    * the verified-stale lock was removed.
    */
  private[operators] def breakStaleLock(lock: java.io.File,
      observedToken: String, graveyard: java.io.File): Boolean = {
    if (!lock.renameTo(graveyard)) return false
    val captured =
      try new String(java.nio.file.Files.readAllBytes(graveyard.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      catch { case _: java.io.IOException => "" }
    if (captured == observedToken) {
      graveyard.delete(): Unit
      true
    } else {
      // raced a new owner — give the lock back unless a third writer
      // has already created a fresh one (then just drop the graveyard;
      // the new owner's release is a no-op via its ownedByUs() check)
      if (!lock.exists()) graveyard.renameTo(lock): Unit
      else graveyard.delete(): Unit
      false
    }
  }

  // Lease mechanics (r10 advisor fix): the lock file carries a unique
  // OWNER TOKEN, and every privileged action re-verifies ownership —
  //   - release deletes the lock only if the token inside is still ours:
  //     a writer that overran the stale window and had its lease broken
  //     must not delete the NEW owner's lock (that unconditional delete
  //     was exactly the lost-update reopening the lease exists to close);
  //   - stale BREAK is an atomic rename-then-reacquire, not delete+
  //     create: two waiters can both pass the age check, but rename of
  //     the same source path succeeds for exactly one of them, whereas
  //     the loser's delete() used to remove the winner's FRESH lock and
  //     let both acquire;
  //   - a daemon renewer touches the lock's mtime every LeaseStaleMs/3
  //     while the body runs, so a legitimate long write (a corpus-scale
  //     save can plausibly exceed 15 min) never looks stale to waiters.
  private def withWriterLease[T](dir: String)(body: => T): T = {
    val d = new java.io.File(dir)
    if (!d.isDirectory) d.mkdirs(): Unit
    val lock = new java.io.File(d, "_writer.lock")
    val token = java.util.UUID.randomUUID().toString
    def tryAcquire(): Boolean =
      lock.createNewFile() && {
        java.nio.file.Files.write(lock.toPath,
          token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        true
      }
    def ownedByUs(): Boolean =
      try lock.exists() && new String(
        java.nio.file.Files.readAllBytes(lock.toPath),
        java.nio.charset.StandardCharsets.UTF_8) == token
      catch { case _: java.io.IOException => false }
    if (!tryAcquire()) {
      // Observe token FIRST, then age: the stale decision must be bound
      // to the TOKEN that was observed stale — renaming on age alone
      // could capture a NEW owner's lock acquired between the age check
      // and the rename (TOCTOU), silently stripping a live writer.
      val observedToken =
        try Some(new String(java.nio.file.Files.readAllBytes(lock.toPath),
          java.nio.charset.StandardCharsets.UTF_8))
        catch { case _: java.io.IOException => None }
      val age = System.currentTimeMillis() - lock.lastModified()
      val graveyard = new java.io.File(d, s"_writer.lock.stale.$token")
      val broke = age > LeaseStaleMs &&
        observedToken.exists(t => BloomGate.breakStaleLock(lock, t, graveyard))
      if (!(broke && tryAcquire())) throw new IllegalStateException(
        s"Bloom artifact $dir is locked by another writer " +
          s"(${lock.getPath}, age ${age}ms): maintenance writes are " +
          "single-writer — concurrent appends would lose filter bits and " +
          "manufacture Bloom false negatives. Remove the stale lock only " +
          "if the owning writer is dead.")
    }
    val renewer = new Thread(() => {
      try {
        while (!Thread.currentThread().isInterrupted) {
          Thread.sleep(LeaseStaleMs / 3)
          if (ownedByUs())
            lock.setLastModified(System.currentTimeMillis()): Unit
        }
      } catch { case _: InterruptedException => () }
    }, s"bloom-lease-renew-$token")
    renewer.setDaemon(true)
    renewer.start()
    try body finally {
      renewer.interrupt()
      if (ownedByUs()) lock.delete(): Unit
    }
  }

  def save(dir: String, corpus: DataFrame, idName: String, keyName: String,
      expectedItems: Long = -1L, fpp: Double = 0.01): Unit = withWriterLease(dir) {
    val spark = corpus.sparkSession
    import spark.implicits._
    ArtifactPaths.rebuild(dir)
    corpus.select(col(idName).cast("long").as("id"), col(keyName).as("key"))
      .write.mode("overwrite").parquet(s"$dir/keys")
    val keys = spark.read.parquet(s"$dir/keys")
    val rows = keys.count()
    val n = if (expectedItems > 0) expectedItems else math.max(rows, 1L)
    val bytes = buildBloom(keys, col("key"), n, fpp)
    Seq(Tuple1(if (bytes == null) Array.empty[Byte] else bytes)).toDF("filter")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/filter")
    Seq((rows, n, fpp, bitsFor(n, fpp)))
      .toDF("rows", "expected_items", "fpp", "num_bits")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  def load(spark: SparkSession, dir: String,
      excludeAppend: Option[String] = None): LoadedBloom = {
    val meta = spark.read.parquet(s"$dir/meta").collect()(0)
    val filter = spark.read.parquet(s"$dir/filter")
      .collect()(0).getAs[Array[Byte]]("filter")
    // base keys + committed keyed appends (ArtifactPaths.committedAppends).
    // `excludeAppend` carves out ONE append subtree: the streaming sink
    // probes with its own batch key excluded, so a replayed batch sees
    // exactly the pre-batch corpus and rewrites identical output.
    val keyDirs = s"$dir/keys" +: ArtifactPaths.committedAppends(dir, "keys",
      excludeAppend).map(k => s"$dir/appends/$k/keys")
    LoadedBloom(filter,
      Tombstones.exclude(spark.read.parquet(keyDirs: _*), spark, dir, "id"),
      meta.getAs[Long]("rows"), meta.getAs[Long]("expected_items"),
      meta.getAs[Double]("fpp"))
  }

  /** Probe-only gate against a persisted artifact: same exact-anti-join
    * answer as [[newRows]], but the corpus contributes zero scans — the
    * filter is loaded bytes and the confirm side is the artifact's keys
    * table (tombstone-excluded).
    */
  def newRowsAgainstLoaded(batch: DataFrame, keyName: String,
      spark: SparkSession, dir: String,
      excludeAppend: Option[String] = None): DataFrame = {
    val idx = load(spark, dir, excludeAppend)
    gated(batch, idx.keys.select(col("key").as(keyName)).distinct(),
      keyName, idx.filter)
  }

  /** Incremental maintenance — the daily-ingest shape: OR-merge a
    * filter built over the new rows (at the artifact's FROZEN sizing,
    * so the two filters are bit-compatible) into the stored filter and
    * append the new keys. Write order is crash-shaped: filter first
    * (over-containment is harmless — a key in the filter but not in
    * `keys` just rides the maybe path and confirms new), keys second,
    * meta last. A replayed append is idempotent for gate semantics
    * (OR is idempotent; duplicate key rows collapse in the confirm
    * side's distinct). Saturation (rows outgrowing expected_items)
    * degrades the realized fpp — probeStats/check-bloom is the
    * rebuild-cadence signal for exactly that.
    */
  /** OR of two bit-compatible serialized filters (same frozen sizing). */
  private def orMerge(base: Array[Byte], add: Array[Byte]): Array[Byte] = {
    import org.apache.spark.util.sketch.BloomFilter
    if (add == null) base
    else if (base.isEmpty) add
    else {
      val f = BloomFilter.readFrom(base)
      f.mergeInPlace(BloomFilter.readFrom(add))
      val out = new java.io.ByteArrayOutputStream()
      f.writeTo(out)
      out.toByteArray
    }
  }

  def append(spark: SparkSession, dir: String, batch: DataFrame,
      idName: String, keyName: String): Unit = withWriterLease(dir) {
    val idx = load(spark, dir)
    val add = batch.select(col(idName).cast("long").as("id"),
      col(keyName).as("key"))
    val addBytes = buildBloom(add, col("key"), idx.expectedItems, idx.fpp)
    val merged = orMerge(idx.filter, addBytes)
    import spark.implicits._
    Seq(Tuple1(merged)).toDF("filter")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/filter")
    add.write.mode("append").parquet(s"$dir/keys")
    val rows = spark.read.parquet(s"$dir/keys").count()
    Seq((rows, idx.expectedItems, idx.fpp,
        bitsFor(idx.expectedItems, idx.fpp)))
      .toDF("rows", "expected_items", "fpp", "num_bits")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Idempotent keyed append — the streaming-maintenance twin of
    * [[append]]: new keys land in the keyed subtree `appends/<key>/keys`
    * (the [[ArtifactPaths]] protocol: a replayed micro-batch writes
    * nothing, a colliding one is refused). Write order is
    * crash-shaped and deliberately filter-FIRST: a key set in the filter
    * but absent from the keys table just rides the maybe path and
    * confirms new (over-containment is harmless), while the reverse
    * order could let a crash window admit a duplicate (key in the table,
    * not yet in the filter ⇒ probe says definitely-new). The filter
    * OR-merge is idempotent, so a replayed merge of the same keys is a
    * no-op on the bits. Meta is untouched (base build parameters);
    * [[probeStats]] counts actual live keys for the saturation signal.
    */
  def appendKeyed(spark: SparkSession, dir: String, batch: DataFrame,
      idName: String, keyName: String, key: String): Unit = withWriterLease(dir) {
    val subtree = ArtifactPaths.appendSubtree(dir, key, "keys")
    val add = Pin(batch.select(col(idName).cast("long").as("id"),
      col(keyName).as("key"))) // feeds the guard, the filter build AND the keys write
    // a committed replay already merged its keys into the filter (filter
    // first), so it writes nothing
    if (!ArtifactPaths.replayed(subtree, add, "key set")) {
      val idx = load(spark, dir, excludeAppend = Some(key))
      val addBytes = buildBloom(add, col("key"), idx.expectedItems, idx.fpp)
      val merged = orMerge(idx.filter, addBytes)
      import spark.implicits._
      Seq(Tuple1(merged)).toDF("filter")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/filter")
      add.write.mode("overwrite").parquet(subtree)
    }
  }

  /** Observed-fpp report for a probe batch — the rebuild-cadence
    * signal (the check-jaccard pattern): maybe-rows that the exact
    * confirm rejects are false positives; their rate over the
    * not-actually-present batch rows is the realized fpp. Climbing
    * past the requested fpp means the filter has saturated (appends
    * outgrew expected_items) and the skip-rate benefit is eroding —
    * results stay exact regardless (no false negatives).
    */
  final case class BloomStats(batchRows: Long, maybeRows: Long,
      trueDups: Long, falsePositives: Long, observedFpp: Double,
      rows: Long, expectedItems: Long, requestedFpp: Double)

  def probeStats(batch: DataFrame, keyName: String, spark: SparkSession,
      dir: String): BloomStats = {
    val idx = load(spark, dir)
    val keys = idx.keys.select(col("key").as(keyName)).distinct()
    val batchRows = batch.count()
    // actual live keys (base + committed keyed appends, tombstones out),
    // not the base-build meta row count: saturation from streaming
    // appends must register in the rebuild-cadence signal
    val liveRows = idx.keys.count()
    if (idx.filter.isEmpty)
      return BloomStats(batchRows, 0, 0, 0, 0.0, liveRows,
        idx.expectedItems, idx.fpp)
    val maybe = batch.filter(mightContain(idx.filter, col(keyName)))
    val maybeRows = maybe.count()
    val trueDups = maybe.join(keys, Seq(keyName), "left_semi").count()
    val fp = maybeRows - trueDups
    val notPresent = batchRows - trueDups
    val observed = if (notPresent == 0) 0.0 else fp.toDouble / notPresent
    BloomStats(batchRows, maybeRows, trueDups, fp, observed, liveRows,
      idx.expectedItems, idx.fpp)
  }

  /** The check-bloom verdict (separated from CLI exit wiring, the
    * jaccardDegraded pattern): degraded ⇔ realized fpp has drifted past
    * `maxFpp` OR appends have outgrown the build sizing by
    * `maxSaturation`× (the leading indicator — fpp follows).
    */
  def bloomDegraded(s: BloomStats, maxFpp: Double,
      maxSaturation: Double): Boolean =
    s.observedFpp > maxFpp ||
      s.rows.toDouble / math.max(s.expectedItems, 1L) > maxSaturation
}
