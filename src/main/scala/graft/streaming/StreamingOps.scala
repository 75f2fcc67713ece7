package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import graft.operators.Pin

/** Structured Streaming surface (SURVEY.md §2 Part B "Streaming").
  *
  * Every operator is a DataFrame→DataFrame transform, so the identical
  * logical plan runs over `readStream` sources in production and over
  * `MemoryStream` in the specs. Event time is the `ts` column; all
  * stateful ops take an explicit watermark delay — at 100 TB/day the
  * watermark is what bounds state size, so no stateful operator here is
  * constructible without one.
  */
object StreamingOps {

  /** Tumbling or sliding event-time window aggregation with watermark. */
  def windowedCounts(events: DataFrame, watermarkDelay: String,
      windowLen: String, slide: Option[String] = None): DataFrame = {
    val w = slide match {
      case Some(s) => window(col("ts"), windowLen, s)
      case None => window(col("ts"), windowLen)
    }
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(w.as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
        col("event_type"), col("n"), col("sum_value"))
  }

  /** Per-window approximate distinct users via a mergeable HLL sketch —
    * the streaming face of q_sketch_hll. The window's state is ONE
    * fixed-size (lgK=12 ≈ 2.5 KiB) sketch: each micro-batch folds its
    * rows in map-side, and the state store merges sketches across
    * batches — state never grows with cardinality, unlike an exact
    * distinct (whose state is the full user-id set per open window).
    */
  def windowedDistinctUsers(events: DataFrame, watermarkDelay: String,
      windowLen: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen).as("w"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12)))
        .as("nd_users"))
      .select(col("w.start").as("w_start"), col("nd_users"))

  /** Session windows (gap-based) per user. */
  def sessionCounts(events: DataFrame, watermarkDelay: String,
      gap: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
        col("user_id"), col("n"))

  /** Stateful exact-once dedup on event_id within the watermark horizon —
    * state is bounded by the horizon instead of growing forever.
    */
  def dedupWithinWatermark(events: DataFrame, watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** Streaming near-duplicate detection against a STATIC reference corpus
    * — the online face of `NearDup.verifiedPairs` (same MinHash banding
    * parameters and the same exact-Jaccard verification, so the batch and
    * streaming paths can't silently diverge on what counts as a dup).
    * Incoming docs are shingled upstream (same `(doc_id, ts, sh)` contract
    * as the batch kernel); each micro-batch:
    *   1. signs + bands the batch docs (`NearDup.withBandKeys`) and
    *      equi-joins band keys against a pre-banded static index — a
    *      STATELESS stream-static join (the candidate step never buffers
    *      stream state, and the static side is ids-only: `bands` band keys
    *      per corpus doc, no shingle payload ×bands duplication),
    *   2. re-attaches the static side's shingle arrays BY ID for exact
    *      Jaccard verification (`NearDup.verifyJaccard`),
    *   3. collapses multiplicity of VERIFIED matches with
    *      `dropDuplicatesWithinWatermark(doc_id, matched_id)` — the one
    *      stateful step, bounded by the watermark horizon.
    * Dedup runs AFTER verification deliberately: a sub-threshold sighting
    * of a (doc, corpus-doc) pair leaves no state, so a later re-ingest of
    * the same doc_id with updated content that IS a near-dup still emits
    * (dedup-before-verify would have suppressed it for the whole horizon).
    * The price is re-verifying band-collision multiplicity (≤ `bands`
    * rows per true pair, micro-batch-bounded). The stream side's own
    * shingle array rides the band explode — bounded per micro-batch, the
    * price of not being able to re-join a stream to itself. Emits
    * (doc_id, ts, matched_id, jaccard ≥ threshold), each verified pair at
    * most once per watermark horizon; a suppression pipeline anti-joins
    * this against the ingest batch in `foreachBatch` (or routes matches
    * to review).
    */
  def nearDupMatches(docs: DataFrame, staticDocs: DataFrame,
      watermarkDelay: String,
      numHashes: Int = graft.operators.NearDup.DefaultNumHashes,
      bands: Int = graft.operators.NearDup.DefaultBands,
      rowsPerBand: Int = graft.operators.NearDup.DefaultRowsPerBand,
      threshold: Double = graft.operators.NearDup.DefaultThreshold): DataFrame =
    // Static index materialized once per run (eager localCheckpoint inside
    // buildBandIndex) so each micro-batch re-joins the computed index
    // instead of re-shingling the corpus per trigger. A standing job
    // should build the artifact once (NearDup.saveBandIndex) and use the
    // loaded overload below instead — no per-(re)start rebuild at all.
    nearDupMatches(docs,
      graft.operators.NearDup.buildBandIndex(staticDocs, numHashes, bands,
        rowsPerBand),
      watermarkDelay, threshold)

  /** nearDupMatches against a pre-built static index — in-memory
    * (NearDup.buildBandIndex) or LOADED from a persisted artifact
    * (NearDup.loadBandIndex): the ONE matcher implementation; banding
    * parameters always come from the index itself, so the probe side
    * cannot sign with parameters the index wasn't built with.
    */
  def nearDupMatches(docs: DataFrame, index: graft.operators.NearDup.BandIndex,
      watermarkDelay: String, threshold: Double): DataFrame = {
    import graft.operators.NearDup
    // The index side is exact-set collapsed (r17): banded/repDocs are
    // rep-level, so the stream verifies each candidate ONCE per corpus
    // CLASS and the final stream-static join through the member table
    // expands rep matches to member matches (ids-only, after the
    // stateful dedup so state stays rep-sized). The stream side is not
    // collapsed — a micro-batch is bounded; the corpus is not.
    val s = index.repDocs
      .select(col("doc_id").as("matched_id"), col("sh").as("s_sh"))
    val sBanded = index.banded
      .select(col("bandKey"), col("doc_id").as("matched_id"))
    val candidates = NearDup.withBandKeys(
        docs.withWatermark("ts", watermarkDelay).filter(size(col("sh")) > 0),
        index.numHashes, index.bands, index.rowsPerBand)
      .select(col("bandKey"), col("doc_id"), col("ts"), col("sh"))
      .join(sBanded, "bandKey")
    NearDup.verifyJaccard(candidates.join(s, "matched_id"),
        "sh", "s_sh", threshold)
      .dropDuplicatesWithinWatermark(Seq("doc_id", "matched_id"))
      .select(col("doc_id"), col("ts"), col("matched_id").as("rep_id"),
        col("jaccard"))
      .join(index.members.select(col("rep_id"),
        col("doc_id").as("matched_id")), "rep_id")
      .select(col("doc_id"), col("ts"), col("matched_id"), col("jaccard"))
  }

  /** The standing ingest job's full duty cycle as a `foreachBatch` sink:
    * each micro-batch is (1) matched against the CURRENT persisted band
    * index — reloaded per batch, so docs appended by EARLIER batches are
    * already matchable — (2) its verified matches written to
    * `$outDir/batch=$batchId` (overwrite = idempotent on replay, same
    * recipe as idempotentParquetSink), and (3) appended to the artifact
    * via the KEYED idempotent append (`NearDup.appendToBandIndexKeyed`,
    * key = batchId) so the index the next batch probes includes this one.
    *
    * Crash-safety composes from the parts: a replayed batch rewrites its
    * match output and leaves its committed append as it is; an append
    * that crashed mid-write is invisible to the reload, so the probe side
    * never sees a torn index (the ArtifactPaths protocol). Appends are
    * keyed by batch id alone, so a second job (a fresh checkpoint) on the
    * same index fails loudly at its first batch id whose committed append
    * holds different docs. Per-batch reload costs a
    * parquet listing + meta read (the banded/docs scans stay lazy), which
    * is the price of making intra-run self-reference exact; a job that
    * only needs matches against a FROZEN corpus should keep using
    * nearDupMatches with a loaded index (no per-batch work at all).
    *
    * The batch must carry (doc_id, sh) — shingled upstream, like every
    * near-dup kernel here. Matches batch-vs-INDEX only (batch-internal
    * pairs surface on the next batch via the appended index — never
    * within their own batch; run verifiedPairs on the batch if same-batch
    * pairs matter).
    */
  /** Standing eval-set decontamination as a `foreachBatch` sink — the
    * streaming member of the decontamination family (r14 verdict task
    * 8): each micro-batch of candidate TRAINING docs (doc_id, sh —
    * shingled upstream, token sets for the fuzzy pass) is probed against
    * the persisted eval-set band index (the `decontamband` artifact the
    * batch query q_decontaminate_fuzzy_loaded builds), and its verified
    * hits land under `$outDir/batch=$batchId` (overwrite = idempotent on
    * replay, the idempotentParquetSink recipe). A hit row (doc_id,
    * matched_id, jaccard) names the train doc and the eval doc it leaks
    * — the downstream drop decision. nearDupMaintainingSink minus the
    * append duty cycle: the eval set is FROZEN, so the index loads ONCE
    * at sink construction (no per-batch reload/listing), every batch is
    * probe-only, and the artifact never grows. Exactly the shape of the
    * batch probe (NearDup.matchAgainstBandIndex), so stream rows ==
    * batch-probe rows per micro-batch slice by construction
    * (StreamingSpec pins it). Rebuild the artifact when the eval set
    * changes — a new index path is a config change, not a code change.
    */
  def decontaminateSink(indexPath: String, outDir: String,
      threshold: Double = 0.5): (DataFrame, Long) => Unit = {
    import graft.operators.NearDup
    var idx: NearDup.BandIndex = null
    (batch: DataFrame, batchId: Long) => {
      if (idx == null) // first batch: load once, the eval index is frozen
        idx = NearDup.loadBandIndex(batch.sparkSession, indexPath)
      NearDup.matchAgainstBandIndex(
          batch.select(col("doc_id"), col("sh")), idx, threshold)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }
  }

  /** Standing image-dedup probe as a `foreachBatch` sink — the
    * decontaminateSink shape against the phash artifact: each micro-batch
    * of (media_id, ph) rows (HASHED upstream via Multimodal.hashMedia, so
    * only 16 B/row reach the sink — pixels never leave the map stage) is
    * probed against the persisted corpus hash table through the
    * HammingBands kernel (exact-hash equi-join + df-capped banding on the
    * corpus side), and hits land under `$outDir/batch=$batchId`
    * (overwrite = idempotent on replay). A hit row (media_id, matched_id,
    * hamming) names the ingested image and the corpus image it
    * duplicates. The corpus is FROZEN for the job's lifetime: the hash
    * table loads ONCE at first batch (tombstones applied at that load)
    * and every batch is probe-only — an artifact rebuilt or appended at
    * the same path is deliberately NOT picked up until job restart (a new
    * index path is a config change; StreamMain's usage note says so).
    * Banding comes from the artifact's meta, maxHamming is validated
    * against it (the pigeonhole guard).
    */
  def imageDedupSink(indexPath: String, outDir: String,
      maxHamming: Int = 3): (DataFrame, Long) => Unit = {
    import graft.operators.{HammingBands, Multimodal}
    var corpus: DataFrame = null
    var bands: Int = 0
    var keyArity: Int = 1
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      if (corpus == null) { // first batch: load once, the corpus is frozen
        val banding = Multimodal.loadPhashBanding(spark, indexPath)
        bands = banding._1
        keyArity = banding._2
        require(maxHamming <= bands - keyArity,
          s"phash index at $indexPath banded with bands=$bands at key " +
            s"arity $keyArity only guarantees recall for hamming <= " +
            s"${bands - keyArity}; got $maxHamming")
        corpus = Pin(Multimodal.loadPhashHashes(spark, indexPath)
          .select(col("media_id").as("id"), col("ph").as("h")))
      }
      HammingBands.probePairs(
          batch.select(col("media_id").as("id"), col("ph").as("h")),
          corpus, maxHamming, bands,
          HammingBands.DefaultMaxBandDf, keyArity)
        .select(col("id").as("media_id"), col("matched_id"), col("hamming"))
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }
  }

  def nearDupMaintainingSink(indexPath: String, outDir: String,
      threshold: Double = graft.operators.NearDup.DefaultThreshold)(
      batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.NearDup
    val spark = batch.sparkSession
    val b = Pin(batch.select(col("doc_id"), col("sh"))
      .filter(size(col("sh")) > 0)) // feeds the match join AND the append
    // without the batch's own append: a replay probes the pre-batch index
    val idx = NearDup.loadBandIndex(spark, indexPath, Some(batchId.toString))
    NearDup.matchAgainstBandIndex(b, idx, threshold)
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    NearDup.appendToBandIndexKeyed(b, spark, indexPath, batchId.toString)
  }

  /** Streaming exact-dedup ingest against the persisted Bloom artifact
    * (operators/BloomGate) — the Bloom member of the streaming
    * index-maintenance family (nearDupMaintainingSink is the near-dup
    * twin): each micro-batch collapses intra-batch duplicate keys
    * min-id-wins (the exact-dedup keeper rule), probes the LOADED
    * artifact (definitely-new rows bypass the confirm join — the
    * codegen'd literal probe), lands the surviving first-seen rows
    * under `batch=N` (overwrite = idempotent), and appends their keys
    * via the crash-shaped keyed append (filter first, then the keys
    * subtree of the ArtifactPaths protocol).
    *
    * Replay exactness: the probe EXCLUDES the batch's own append
    * subtree, so a replayed batch — even one whose append committed
    * before the crash — sees exactly the pre-batch corpus and rewrites
    * byte-identical output. The artifact is reloaded per trigger, so
    * tombstone deletes, external appends, and compactions take effect
    * on the next batch without restarting the job. Scale posture: the
    * corpus contributes zero scans per trigger (loaded filter bytes +
    * ids-only confirm side); Bloom admits no deletes, so sustained
    * ingest degrades only the skip rate until check-bloom signals a
    * rebuild (results stay exact throughout).
    *
    * `jobKey` scopes the append subtrees: the self-exclusion key is
    * `<jobKey>-<batchId>`, so it must be STABLE across restarts of the
    * same checkpointed query (replay finds its own subtree) but DISTINCT
    * across different jobs feeding one artifact — a fresh-checkpoint job
    * restarts batch ids at 0, and with a shared key it would wrongly
    * exclude the previous job's batch-0 keys from its own probe and
    * re-admit their duplicates (worse: its appendKeyed overwrite would
    * DROP the earlier job's keys from the confirm side for good). The
    * parameter therefore has NO default — derive it from the checkpoint
    * identity (StreamMain hashes the checkpoint path), and appendKeyed
    * independently refuses to overwrite a committed subtree whose key
    * set differs from the incoming batch, so even a collided jobKey
    * fails loudly instead of silently losing keys.
    */
  def bloomDedupSink(indexPath: String, outDir: String, idName: String,
      keyName: String, jobKey: String)(
      batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.BloomGate
    val spark = batch.sparkSession
    val cols = batch.columns
    val firstSeen = batch.groupBy(col(keyName))
      .agg(min_by(
        struct(cols.filter(_ != keyName).map(batch.col).toIndexedSeq: _*),
        batch.col(idName)).as("__first"))
      .select(cols.map(c => if (c == keyName) col(keyName)
        else col(s"__first.$c").as(c)).toIndexedSeq: _*)
    // feeds the sink write AND the keyed append
    val fresh = Pin(BloomGate.newRowsAgainstLoaded(firstSeen, keyName, spark,
        indexPath, excludeAppend = Some(s"$jobKey-$batchId")))
    fresh.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    BloomGate.appendKeyed(spark, indexPath, fresh, idName, keyName,
      s"$jobKey-$batchId")
  }

  /** Streaming token-span dedup ingest — the Lee et al. 2022 family's
    * streaming member, next to [[bloomDedupSink]] (exact keys) and
    * [[nearDupMaintainingSink]] (MinHash bands): each micro-batch's
    * k-token window keys probe the persisted span-key index
    * (NearDup.matchAgainstSpanIndex — 128-bit keys on every exchange,
    * window text never leaves the map side; index-side df cap keeps
    * boilerplate windows out of pair formation), matches land under
    * `batch=N` (overwrite = idempotent on replay), and the batch's keys
    * append via the keyed crash shape (torn appends invisible,
    * replayed batches overwrite their own subtree).
    *
    * Replay exactness: the probe EXCLUDES the batch's own append
    * subtree, so a replayed batch — even one whose append committed
    * before the crash — sees exactly the pre-batch corpus and rewrites
    * identical matches. Cross-batch duplicates surface when a later
    * batch probes keys an earlier batch appended; intra-batch pairs are
    * the batch operator's job (NearDup.tokenSpanPairs on the batch).
    * `jobKey` contract identical to [[bloomDedupSink]] (stable per
    * checkpointed query, distinct across jobs; no default).
    */
  def spanDedupSink(indexPath: String, outDir: String, jobKey: String,
      maxDf: Int = 20)(batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.NearDup
    val spark = batch.sparkSession
    // feeds the probe join AND the keyed append
    val b = Pin(batch.select(col("doc_id"), col("text")))
    val key = s"$jobKey-$batchId"
    NearDup.matchAgainstSpanIndex(b, spark, indexPath, maxDf,
        excludeKey = Some(key))
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    NearDup.appendToSpanIndexKeyed(b, spark, indexPath, key)
  }

  /** Streaming incremental semantic dedup — the SemDeDup member of the
    * streaming index-maintenance family (exact keys → [[bloomDedupSink]],
    * MinHash bands → [[nearDupMaintainingSink]], token spans →
    * [[spanDedupSink]], embeddings → here): each micro-batch of vectors
    * (vec_id, embedding, n2) is assigned map-side against the artifact's
    * FROZEN cells + SQ8 grid, probed for batch-vs-standing within-cell
    * duplicate pairs (exact-verified — quantized margin pre-filter, then
    * float rescore of survivors), landed under `batch=N` (overwrite =
    * idempotent), and appended via the KEYED crash shape
    * ([[graft.operators.SemDedup.appendBatchKeyed]]): the probe excludes
    * the batch's own subtree (replay identity), batch floats persist in
    * the artifact so LATER batches can exact-verify against streamed
    * vectors, and a jobKey collision refuses loudly. `baseFloats` covers
    * the build-time standing corpus (empty for a model-only /
    * empty-start artifact — [[graft.operators.SemDedup.saveModel]]).
    * `jobKey` contract identical to [[bloomDedupSink]] (no default).
    */
  def semDedupSink(indexPath: String, outDir: String, jobKey: String,
      baseFloats: DataFrame, threshold: Double = 0.45)(
      batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.SemDedup
    val spark = batch.sparkSession
    // feeds assignment, the probe, and the float write
    val b = Pin(batch.select(col("vec_id"), col("embedding"), col("n2")))
    SemDedup.appendBatchKeyed(spark, indexPath, b, baseFloats, threshold,
        s"$jobKey-$batchId")
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
  }

  /** Streaming ANN retrieval — the standing query-service shape over a
    * persisted PQ artifact (operators/PqIndex): each micro-batch of
    * query vectors (qid, qv, qn2) runs the ADC scan + exact pool
    * re-rank against the LOADED index and lands its top-k under
    * `$outDir/batch=$batchId` (overwrite = idempotent on replay). The
    * index is reloaded per batch — a parquet listing + tiny codebook
    * read — so deletes (Tombstones) and appends applied to the artifact
    * between triggers take effect on the next batch without restarting
    * the job. Per-batch the query side is collected driver-side to
    * build the m×k ADC tables (bounded by the trigger size — the same
    * bounded-|Q| contract as the batch path); the corpus codes NEVER
    * shuffle, so a standing retrieval job is a sequence of small
    * broadcast probes against an immutable artifact. `corpus` is the
    * float re-rank side (vec_id, embedding, n2) — scanned only for pool
    * survivors.
    */
  def annTopKSink(indexPath: String, corpus: DataFrame, outDir: String,
      k: Int, pool: Int, nProbe: Int = DefaultAnnNProbe)
      (batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.PqIndex
    val spark = batch.sparkSession
    val idx = PqIndex.load(spark, indexPath)
    val queries = Pin(batch.select(col("qid"), col("qv"), col("qn2")))
    // IVF-routed when the artifact carries cells (r19 — the r18 verdict's
    // one standing scale-killer: the flat ADC scan is O(corpus) per
    // micro-batch, 160–185 CPU-s/batch at the 10× gate vs <10 for every
    // other sink; cell probes make it nProbe·√n per query). A legacy flat
    // artifact still probes flat — recall posture unchanged either way:
    // ADC pool + exact re-rank, LSH-class approximate by contract.
    (idx.cents match {
      case Some(cents) => PqIndex.topKIvfFrom(queries, idx.codes, corpus,
        idx.books, cents, k, pool, nProbe)
      case None => PqIndex.topKFrom(queries, idx.codes, corpus, idx.books,
        k, pool)
    }).write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
  }

  /** Cell probes per streaming ANN query (annTopKSink): with cells ≈ √n
    * (the IvfIndex sizing doctrine) the per-batch ADC pass touches
    * ~nProbe·√n codes per query instead of the whole corpus; recall at
    * this width is pinned by StreamingSpec against the flat scan.
    */
  val DefaultAnnNProbe = 8

  /** Streaming quality scoring — the train→serve loop closed in
    * streaming (r13 verdict task 8): each micro-batch of documents
    * (doc_id, text) scores through the EXISTING QualityClassifier
    * inference path with the PERSISTED QualityTrainer weights and lands
    * (doc_id, n_grams, logit, keep) under `$outDir/batch=$batchId`
    * (overwrite = idempotent on replay). The weight artifact is reloaded
    * per batch — a dim-row parquet read, the annTopKSink reload
    * convention — so a RETRAIN committed between triggers takes effect
    * on the next batch without restarting the job. Retrains are safe
    * against a live reload: QualityTrainer.save writes a fresh version
    * dir and swaps the CURRENT pointer with an atomic rename, so this
    * reload sees either the old committed weights or the new ones —
    * never a torn mix (r14 ADVICE #1). Pure map-side scoring: no
    * shuffle, no state, any batch size.
    */
  def qualityScoreSink(weightsPath: String, outDir: String)
      (batch: DataFrame, batchId: Long): Unit = {
    import graft.functions.QualityClassifier
    import graft.operators.QualityTrainer
    val spark = batch.sparkSession
    val (w, bS) = QualityTrainer.load(spark, weightsPath)
    batch
      .withColumn("gl", QualityClassifier.ngramLogit(lower(col("text")), w))
      .select(col("doc_id"),
        col("gl.n_grams").as("n_grams"),
        col("gl.logit").as("logit"),
        QualityTrainer.keeps(col("gl.n_grams"), col("gl.logit"), bS).as("keep"))
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
  }

  /** Stream-static enrichment join: a broadcastable static dimension joined
    * to the stream — no stream-side shuffle, no state.
    */
  def enrich(events: DataFrame, dim: DataFrame, eventKey: String,
      dimKey: String): DataFrame =
    // side-qualified columns: with unqualified col(...) the join condition
    // is ambiguous whenever both sides share the key name
    events.join(broadcast(dim),
      events.col(eventKey) === dim.col(dimKey), "left_outer")

  /** CDC apply (the batch half of streaming upsert ingestion): merge a
    * delta into a snapshot latest-wins — snapshot rows whose key appears
    * in the delta drop out via a broadcast LEFT ANTI (map-side, the
    * snapshot itself never shuffles), then the delta unions in. Inside
    * `foreachBatch` this turns a change stream into a continuously
    * maintained table: each micro-batch is small (broadcastable) by
    * construction, which is exactly why the anti-join side is the delta.
    * Same plan shape as the batch `q_upsert_merge` (PlanSpec-pinned).
    *
    * CONTRACT: `delta` must carry at most one row per key — a raw CDC
    * batch usually doesn't (insert then update of the same key in one
    * trigger), so pass `versionCol` to collapse the delta latest-wins
    * first. Without it, duplicate delta keys would both survive into the
    * snapshot and every later read sees a duplicated key.
    */
  def applyDelta(snapshot: DataFrame, delta: DataFrame, key: String,
      versionCol: Option[String] = None): DataFrame = {
    val d = versionCol match {
      case Some(v) =>
        // max_by over a struct keyed by the version: one partial+final
        // agg over the (small) delta — no window, no extra shuffle of
        // the snapshot
        val cols = delta.columns
        delta.groupBy(delta.col(key))
          .agg(max_by(
            struct(cols.filter(_ != key).map(delta.col).toIndexedSeq: _*),
            delta.col(v)).as("__latest"))
          .select(col(key) +: cols.filter(_ != key)
            .map(c => col(s"__latest.$c").as(c)).toIndexedSeq: _*)
      case None => delta
    }
    snapshot
      .join(broadcast(d.select(d.col(key))), Seq(key), "left_anti")
      .unionByName(d)
  }

  /** The exactly-once recipe for non-transactional sinks, packaged as a
    * `foreachBatch` writer: key every write by batchId with overwrite
    * semantics, so Structured Streaming's at-least-once replay after a
    * failure REWRITES the same directory instead of appending a second
    * copy. Pair with a downstream reader over `baseDir` (the batch=N
    * partitioning doubles as partition pruning on replay audits).
    */
  def idempotentParquetSink(baseDir: String)(
      batch: DataFrame, batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$baseDir/batch=$batchId")

  /** Stream-stream interval join: each left event matched to right events
    * of the same key within [left.ts − before, left.ts + after]. BOTH
    * sides carry a watermark and the join condition carries the time
    * bound — that pair is what lets Spark expire buffered state (state ∝
    * watermark horizon × arrival rate, never the stream length; without
    * the time bound a stream-stream join is unbounded and Spark rejects
    * it in append mode). Columns are prefixed l_/r_ to keep the output
    * schema unambiguous. Both inputs must carry event time in a `ts`
    * column (the engine-wide convention, cf. Tables.events).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      watermarkDelay: String, before: String, after: String,
      joinType: String = "inner"): DataFrame = {
    val l = left.columns.foldLeft(left)((d, c) => d.withColumnRenamed(c, s"l_$c"))
      .withWatermark(s"l_ts", watermarkDelay)
    val r = right.columns.foldLeft(right)((d, c) => d.withColumnRenamed(c, s"r_$c"))
      .withWatermark(s"r_ts", watermarkDelay)
    // left_outer: Spark emits the null-padded row for an unmatched left
    // event only once the watermark passes l_ts + after (the point where
    // no future right row can match) — the outer result is late by the
    // watermark delay, but state stays bounded exactly as in the inner
    // case. full_outer follows symmetrically; left_semi buffers no right
    // columns at all.
    l.join(r,
      col(s"l_$key") === col(s"r_$key") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $before") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $after"),
      joinType)
  }

  // --- arbitrary stateful processing: the reference's task-status fold as
  // --- a stream (A14-as-stream, SURVEY.md §2 Part A #A14)

  /** One item-level status transition arriving on the stream. */
  case class ItemUpdate(requestId: String, itemIdx: Int, nItems: Int,
      status: String) // COMPLETED | FAILED

  /** Folded task-level view, emitted whenever a task's items all land or
    * the task times out with stragglers (reference semantics: failed==0 ⇒
    * COMPLETED, completed==0 ⇒ FAILED, else PARTIALLY_FAILED).
    */
  case class TaskStatus(requestId: String, completed: Int, failed: Int,
      nItems: Int, status: String)

  // Public + primitive-only state: the state encoder generates Java that
  // calls these accessors (a `private` class is package-private in bytecode
  // and invisible to the generated code). PAGED bitmask (r17 — lifts the
  // r13 hybrid's 64-item exact window): every item dedups exactly in a
  // bit page (itemIdx >>> 6), so a duplicate redelivery is absorbed and a
  // FAILED-then-COMPLETED retry resolves to COMPLETED (completedMask
  // wins) at ANY item index — the reference CopyTaskService's
  // distinct-item-state semantics, with state O(items/64) per in-flight
  // task: 8 bytes per 64 items (a 10⁶-item task holds ~16 KiB, still
  // bounded and watermark-free).
  case class TaskProgress(nItems: Int, completedMask: Array[Long],
      failedMask: Array[Long])

  /** flatMapGroupsWithState fold of item updates → final task statuses.
    * With timeoutMs > 0, a processing-time timeout marks abandoned tasks
    * FAILED-on-timeout (note: pending timeouts make the engine schedule
    * continuous empty micro-batches — that's how processing-time timers
    * fire); timeoutMs ≤ 0 disables timers. State is dropped either way,
    * so it stays O(in-flight tasks).
    *
    * Delivery contract: at-least-once everywhere — the paged bitmask
    * absorbs duplicate redeliveries, and a FAILED-then-COMPLETED retry
    * of the same item resolves to COMPLETED (the masks count distinct
    * item STATES, like the reference's per-item state map), for any
    * itemIdx (StreamingSpec pins a cross-batch retry on item 90 of a
    * 100-item task). (A redelivery after the task folded re-creates
    * state and can emit a second, contradictory status — true of any
    * state shape that drops folded tasks.) Malformed updates (negative
    * itemIdx, itemIdx ≥ nItems, or nItems ≤ 0) reject the task with an
    * immediate FAILED row and a tombstone — garbage counts would
    * misreport the task instead.
    *
    * State-schema versioning: TaskProgress changed shape in r14 (3 Int
    * counters → mask/count hybrid) and again in r17 (hybrid → paged
    * masks). flatMapGroupsWithState persists the state encoder's layout
    * in the checkpoint, so a job restarted from a checkpoint written by
    * an OLD shape must NOT resume into this fold — start with a fresh
    * checkpoint directory when upgrading across the state shape (the
    * generic upgrade rule for any stateful operator whose state class
    * changes).
    */
  def taskStatusStream(updates: Dataset[ItemUpdate],
      timeoutMs: Long = 60000): Dataset[TaskStatus] = {
    import updates.sparkSession.implicits._
    val timeoutConf =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    updates
      .groupByKey(_.requestId)
      .flatMapGroupsWithState[TaskProgress, TaskStatus](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        timeoutConf) {
        (requestId: String, rows: Iterator[ItemUpdate],
         state: GroupState[TaskProgress]) =>
          if (state.hasTimedOut) {
            val p = state.get
            state.remove()
            if (p.nItems == -1) Iterator.empty // rejected-task tombstone expiring
            else Iterator.single(fold(requestId, p, timedOut = true))
          } else {
            var p = state.getOption.getOrElse(
              TaskProgress(0, Array.empty, Array.empty))
            if (p.nItems == -1) {
              // tombstone: task already rejected as malformed; swallow
              // further updates without re-emitting. GroupState clears any
              // pending timer on every invocation — re-arm it here or a
              // straggler update would strand the tombstone in the state
              // store forever (with timers disabled the tombstone persists
              // for the query's lifetime; acceptable only in tests).
              if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
              Iterator.empty
            } else {
              var malformed = false
              rows.foreach { u =>
                if (u.nItems <= 0 || u.itemIdx < 0 || u.itemIdx >= u.nItems)
                  malformed = true
                else p = p.copy(
                  nItems = math.max(p.nItems, u.nItems),
                  completedMask = if (u.status == "COMPLETED")
                    setBit(p.completedMask, u.itemIdx) else p.completedMask,
                  failedMask = if (u.status == "FAILED")
                    setBit(p.failedMask, u.itemIdx) else p.failedMask)
              }
              if (malformed) {
                // reject explicitly instead of folding garbage counts
                state.update(TaskProgress(-1, Array.empty, Array.empty))
                if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
                Iterator.single(TaskStatus(requestId, 0, 0, p.nItems, "FAILED"))
              } else if (p.nItems > 0 && seenItems(p) >= p.nItems) {
                state.remove()
                Iterator.single(fold(requestId, p, timedOut = false))
              } else {
                state.update(p)
                if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
                Iterator.empty
              }
            }
          }
      }
  }

  /** Set bit `idx` in a paged mask, growing to the needed page —
    * copy-on-write (the state object handed back to GroupState must not
    * alias the one it handed out).
    */
  private def setBit(mask: Array[Long], idx: Int): Array[Long] = {
    val page = idx >>> 6
    val m =
      if (page < mask.length) mask.clone()
      else java.util.Arrays.copyOf(mask, page + 1)
    m(page) |= 1L << (idx & 63)
    m
  }

  private def pageAt(mask: Array[Long], i: Int): Long =
    if (i < mask.length) mask(i) else 0L

  /** Distinct-item resolution of the paged state: every item counts its
    * distinct recorded STATE, and completed wins a FAILED-then-COMPLETED
    * retry at any index.
    *
    * Deliberate divergence from the reference: CopyTaskService keeps the
    * LAST status per item, so COMPLETED-then-FAILED resolves to FAILED
    * there but COMPLETED here. Under at-least-once delivery the only
    * realistic COMPLETED-then-FAILED sequence is a stale retry of an
    * item that already succeeded — completed-wins is the retry-robust
    * reading, and it makes the fold order-insensitive (a replayed
    * micro-batch cannot flip a task's final status).
    */
  private def resolvedCounts(p: TaskProgress): (Int, Int) = {
    var c, f, i = 0
    val n = math.max(p.completedMask.length, p.failedMask.length)
    while (i < n) {
      val cm = pageAt(p.completedMask, i)
      c += java.lang.Long.bitCount(cm)
      f += java.lang.Long.bitCount(pageAt(p.failedMask, i) & ~cm)
      i += 1
    }
    (c, f)
  }

  /** Items with at least one recorded state — the completion test. */
  private def seenItems(p: TaskProgress): Int = {
    var s, i = 0
    val n = math.max(p.completedMask.length, p.failedMask.length)
    while (i < n) {
      s += java.lang.Long.bitCount(
        pageAt(p.completedMask, i) | pageAt(p.failedMask, i))
      i += 1
    }
    s
  }

  private def fold(requestId: String, p: TaskProgress, timedOut: Boolean): TaskStatus = {
    val (c, f) = resolvedCounts(p)
    val status =
      if (timedOut && seenItems(p) < p.nItems) "FAILED"
      else if (f == 0) "COMPLETED"
      else if (c == 0) "FAILED"
      else "PARTIALLY_FAILED"
    TaskStatus(requestId, c, f, p.nItems, status)
  }
}
