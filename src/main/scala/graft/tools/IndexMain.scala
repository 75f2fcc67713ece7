package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.wordShingles
import graft.functions.VectorFunctions.normSq
import graft.operators.{ArtifactPaths, BloomGate, BpeTrainer, IvfIndex, NearDup, Pin,
  PqIndex, Tombstones}

/** CLI surface for the persisted-index lifecycle — the commands a
  * standing pipeline actually runs: build once, append daily, query
  * many. One executable per lifecycle step so each is schedulable and
  * idempotent on its own artifact directory (`meta`-last commit marker;
  * see ArtifactPaths).
  *
  * Usage:
  *   runMain graft.tools.IndexMain <command> <sfDir> <indexDir> [k=v ...]
  *
  * Commands (index kind × lifecycle step):
  *   build-pq | build-ivf | build-ivfpq | build-sq8 | build-jaccard | build-band
  *   append-pq | append-ivf | append-sq8 | append-jaccard | append-band
  *   query-pq | query-ivf | query-ivfpq | query-sq8 | query-jaccard | query-band
  *   delete-pq | delete-ivf | delete-ivfpq | delete-sq8 | delete-jaccard |
  *     delete-band   (takedown path: `ids=3,17,42` appends to the
  *     artifact's tombstone table — O(removed), no rebuild; every later
  *     probe excludes them. See operators/Tombstones.)
  *   compact-pq | compact-ivf | compact-ivfpq | compact-sq8 |
  *     compact-jaccard | compact-band   (storage reclaim after deletes:
  *     rewrite the artifact WITHOUT tombstoned rows into `dest=<dir>` —
  *     the source stays untouched and readable throughout, and dest
  *     commits meta-last, so a crashed compaction costs nothing. ANN
  *     kinds rewrite codes/cells under the frozen codebooks/centroids/
  *     grid; jaccard/band re-derive from the live docs half — for
  *     jaccard that also REFRESHES the frozen df order from the live
  *     corpus, resetting accumulated drift (the check-jaccard remedy),
  *     and rewrites a jaccard artifact of an older layout, which the
  *     probe rejects, into the current one.)
  *   build-bloom | append-bloom | query-bloom | delete-bloom |
  *     compact-bloom   (the seventh index kind: exact-dedup Bloom gate —
  *     persisted filter + corpus keys. Bloom admits no deletes, so
  *     delete-bloom tombstones correct only the exact-confirm side
  *     (results stay exact; the skip rate for deleted keys is forfeit
  *     until compact/rebuild re-derives the filter from live keys).)
  *   stats-bloom | check-bloom   (observed-fpp drift report / gate:
  *     maybe-rows the exact confirm rejects are false positives;
  *     check-bloom exits 1 when observed fpp > maxfpp (default 0.05)
  *     or keys outgrow the build sizing by saturation= (default 2x) —
  *     the rebuild-now signal for a filter that appends have saturated.)
  *   build-semdedup | append-semdedup | query-semdedup |
  *     delete-semdedup | compact-semdedup   (the eighth kind:
  *     incremental SemDeDup — k-means cells + SQ8 grid frozen at
  *     build; append-semdedup is the daily INGEST: emits the
  *     batch-vs-standing duplicate pairs and grows the standing
  *     assignment map-side under the frozen model; query-semdedup is
  *     the read-only probe; deletes tombstone the standing assignment,
  *     compact rewrites it under the frozen model. tau= the cosine
  *     threshold, default 0.45.)
  *   build-span | append-span | query-span | delete-span |
  *     compact-span   (the ninth kind: token-span window-key index —
  *     the streaming spanDedupSink's artifact, batch-driveable here:
  *     build persists window keys at spantokens= (default 15), append
  *     adds the day-1 slice under key= (default cli-day1, the keyed
  *     crash shape), query probes the held-out batch at maxdf=
  *     (default 20), compact folds appends and drops tombstones.)
  *   build-phash | append-phash | query-phash | delete-phash |
  *     compact-phash | stats-phash | check-phash | rebuild-phash
  *     (the tenth kind:
  *     perceptual-hash image dedup — 16 B/image corpus hash table probed
  *     through the HammingBands kernel. Pictures derive
  *     deterministically from the documents fixture (pictureTable);
  *     build indexes the corpus split (media_id % 40 == 0, the registry
  *     convention), append adds the % 80 == 20 slice under key= (the
  *     keyed crash shape), query probes the held-out % 80 == 60 batch at
  *     maxham= (default 3, validated against the artifact's banding),
  *     compact folds appends and drops tombstones. stats-/check-phash
  *     is the growth/trim gate: exit 1 when over-cap band keys exist
  *     (trimmed near-dup recall — see HammingBands) or committed append
  *     subtrees exceed maxsubtrees= (default 32); rebuild-phash acts on
  *     the check's remedy in one command — re-band the artifact from its
  *     own live hashes at bands=/arity= (omitted = auto-apply the
  *     suggestion), in place.)
  *   train-quality | score-quality   (classifier lifecycle, r13:
  *     train-quality learns hashed-trigram weights + intercept by
  *     deterministic batch logistic regression (adagrad; k= iterations,
  *     default 40; lr= base rate, default 1.0; dim= hash buckets,
  *     default 1024; teacher = stopword-ratio >= 0.06, the heuristic-gate
  *     distillation) and persists them meta-last; score-quality loads
  *     the artifact and scores the held-out split through the existing
  *     QualityClassifier inference path — keep/drop rollup.)
  *   stats-semdedup | check-semdedup   (streaming-growth report / gate
  *     for the semdedup kind: committed append-subtree count + appended
  *     vs base row volumes — the keyed ingest's probe unions every
  *     committed float subtree, so cost grows with stream history.
  *     check-semdedup exits 1 past maxsubtrees= (default 32) committed
  *     appends or when appended float rows exceed maxgrowth= (default
  *     2x) the standing base — the compact-semdedup-now signal.)
  *   stats-jaccard   (probe-selectivity report — the rebuild-cadence
  *     signal: one JSON line with candidates/verified/index sizes)
  *   check-jaccard   (the signal's CONSUMER: same report, then exit 1 if
  *     candidate selectivity has degraded past thresholds — a scheduler
  *     gates "rebuild now" on this exit code instead of a calendar.
  *     Thresholds: maxratio= max candidates per verified match (df drift
  *     erodes prefix selectivity → ratio climbs; default 50), maxcand=
  *     max candidates per batch doc (catches the degenerate corpus where
  *     nothing verifies so the ratio is undefined; default 20).)
  *
  * Options (strict — unknown or duplicate keys exit 2, same posture as
  * StreamMain):
  *   split=all|mod10ne0|mod10gt1|mod10eq0|mod10eq1   rows of the fixture
  *     table to use. Defaults make the three-step lifecycle DISJOINT out
  *     of the box: every build indexes the day-0 corpus (mod10gt1),
  *     append adds the day-1 slice (mod10eq1), queries probe the
  *     held-out batch (mod10eq0 for near-dup; vec_id<10 for ANN).
  *     Appends assume ids disjoint from the indexed corpus (the
  *     operators' documented contract) — overriding splits so they
  *     overlap indexes those ids twice.
  *   m= k= dim= cells= tau= topk= pool= nprobe= spantokens= maxdf=
  *     numeric knobs; key= the span append-subtree key (default
  *     cli-day1)
  *
  * Vectors come from `<sfDir>/embeddings.parquet` (vec_id, embedding →
  * n2 derived), documents from `<sfDir>/documents.parquet` (doc_id,
  * text → 3-gram shingles derived) — the same derivations the registry
  * queries use, so a CLI-built artifact serves the registry's loaded
  * twins and vice versa.
  */
object IndexMain {

  private def fail(msg: String): Nothing = {
    System.err.println(s"[index] $msg")
    sys.exit(2)
  }

  /** The check-jaccard verdict, separated from main's sys.exit wiring so
    * IndexCheckSpec can drive it against real ProbeStats. Degraded ⇔
    * candidate selectivity has eroded past either threshold:
    *   - candidates/verified > maxRatio (df drift: prefixes stopped being
    *     rare, the filter admits junk the verifier rejects), or
    *   - candidates/batchDoc > maxCand (the degenerate corpus where
    *     nothing verifies, so the ratio is undefined but the probe is
    *     still paying for a near-unfiltered join).
    */
  def jaccardDegraded(s: graft.operators.NearDup.ProbeStats,
      maxRatio: Double, maxCand: Double,
      maxPhantom: Double = 0.2): Boolean = {
    val candPerDoc =
      if (s.batchDocs == 0) 0.0 else s.candidates.toDouble / s.batchDocs
    (s.verified > 0 && s.candidates.toDouble / s.verified > maxRatio) ||
      candPerDoc > maxCand ||
      // phantom reps (r18 task 6): classes whose every member died keep
      // their rep in the prefix index — dead candidate+verify weight on
      // every probe until a rebuild re-collapses from live members
      s.phantomShare > maxPhantom
  }

  /** The check-semdedup verdict (r12 task 5): the streaming SemDeDup
    * ingest ([[graft.operators.SemDedup.appendBatchKeyed]]) unions the
    * float subtrees of EVERY committed append into each batch's probe,
    * so cost grows with stream history until compact-semdedup folds the
    * tail into the base. Degraded ⇔
    *   - committed append subtrees > maxSubtrees (per-batch scan setup
    *     and small-file pressure are O(#batches)), or
    *   - appended float rows > maxGrowth × standing base rows (the probe
    *     reads mostly un-compacted tail) — judged only once a base
    *     exists (see below).
    * Either way the remedy is `compact-semdedup dest=<dir>` — the folded
    * artifact restores both numbers to zero.
    */
  def semdedupDegraded(s: graft.operators.SemDedup.AppendStats,
      maxSubtrees: Int, maxGrowth: Double): Boolean = {
    // The growth axis applies only when a base EXISTS: an empty-start
    // streaming artifact (saveModel) has base 0 until its first
    // compaction, and any ratio against zero would cry wolf on day-one
    // streams — the subtree axis carries the compaction cadence there.
    val base = s.baseAssignRows + s.baseFloatRows
    s.appendSubtrees > maxSubtrees ||
      (base > 0 && s.appendedFloatRows.toDouble > maxGrowth * base)
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 3)
      fail("usage: IndexMain <command> <sfDir> <indexDir> [k=v ...]")
    val cmd = args(0)
    val sfDir = args(1)
    val dir = args(2)
    val rest = args.drop(3)
    val split0 = rest.map(_.split("=", 2))
    split0.collect { case a if a.length != 2 || a(1).isEmpty => a }
      .foreach(a => fail(s"bad option '${a.mkString("=")}': use k=v"))
    val keys = split0.map(_(0))
    if (keys.distinct.length != keys.length)
      fail(s"duplicate option key in '${rest.mkString(" ")}'")
    val known = Set("split", "m", "k", "dim", "cells", "tau", "topk",
      "pool", "nprobe", "ids", "maxratio", "maxcand", "dest", "fpp",
      "maxfpp", "saturation", "spantokens", "maxdf", "key",
      "maxsubtrees", "maxgrowth", "lr", "maxham", "bands", "arity")
    keys.filterNot(known).foreach(k => fail(s"unknown option '$k'"))
    val kv = split0.map(a => (a(0), a(1))).toMap
    def num(key: String, dflt: Int): Int = kv.get(key).map(_.toInt).getOrElse(dflt)
    def dbl(key: String, dflt: Double): Double =
      kv.get(key).map(_.toDouble).getOrElse(dflt)

    val spark = graft.GraftSession.create("graft-index", graft.GraftSession.cpus(8))

    def withSplit(df: DataFrame, id: String, dflt: String): DataFrame =
      kv.getOrElse("split", dflt) match {
        case "all"      => df
        case "mod10ne0" => df.filter(col(id) % 10 =!= 0)
        case "mod10gt1" => df.filter(col(id) % 10 > 1)
        case "mod10eq0" => df.filter(col(id) % 10 === 0)
        case "mod10eq1" => df.filter(col(id) % 10 === 1)
        case other      => fail(s"unknown split '$other'")
      }

    def vectors(dflt: String): DataFrame =
      withSplit(graft.Tables.embeddings(spark, sfDir), "vec_id", dflt)
        .select(col("vec_id"), col("embedding"),
          normSq(col("embedding")).as("n2"))

    def docs(dflt: String): DataFrame =
      withSplit(graft.Tables.documents(spark, sfDir), "doc_id", dflt)
        .select(col("doc_id"), wordShingles(col("text"), 3).as("sh"))

    // bloom gate keys on raw text (exact dedup), not shingles
    def rawDocs(dflt: String): DataFrame =
      withSplit(graft.Tables.documents(spark, sfDir), "doc_id", dflt)
        .select(col("doc_id"), col("text"))

    // pictures derive from documents (media_id = doc_id, multiples of
    // 20), so the mod-10 split family is degenerate for them; the phash
    // lifecycle uses its own disjoint defaults on the picture id space
    def pictures(dflt: String)
        : org.apache.spark.sql.Dataset[graft.operators.Multimodal.MediaRow] = {
      val all = graft.operators.Multimodal.pictureTable(spark, sfDir)
      kv.getOrElse("split", dflt) match {
        case "all"       => all
        case "mod40eq0"  => all.filter(col("media_id") % 40 === 0)
        case "mod80eq20" => all.filter(col("media_id") % 80 === 20)
        case "mod80eq60" => all.filter(col("media_id") % 80 === 60)
        case other       => fail(s"unknown picture split '$other' " +
          "(use all|mod40eq0|mod80eq20|mod80eq60)")
      }
    }

    def annQueries(e: DataFrame): DataFrame =
      e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("n2").as("qn2"))

    val t0 = System.nanoTime()
    cmd match {
      case "build-pq" =>
        val e = Pin(vectors("mod10gt1"))
        val books = PqIndex.train(spark, e, dim = num("dim", 64),
          m = num("m", 8), k = num("k", 16))
        PqIndex.save(dir, books, PqIndex.encode(e, books))
      case "build-ivf" =>
        val e = Pin(vectors("mod10gt1"))
        val cents = IvfIndex.centroids(spark, e, num("k", 16))
        IvfIndex.save(dir, cents, IvfIndex.assign(e, cents))
      case "build-ivfpq" =>
        val e = Pin(vectors("mod10gt1"))
        val cents = IvfIndex.centroids(spark, e, num("cells", 16))
        val books = PqIndex.train(spark, e, dim = num("dim", 64),
          m = num("m", 8), k = num("k", 16))
        PqIndex.save(dir, books,
          PqIndex.encode(IvfIndex.assign(e, cents), books), Some(cents))
      case "build-sq8" =>
        import graft.operators.Sq8Index
        val e = Pin(vectors("mod10gt1"))
        val grid = Sq8Index.train(e)
        Sq8Index.save(dir, grid, Sq8Index.encode(e, grid))
      case "build-jaccard" =>
        NearDup.saveJaccardIndex(docs("mod10gt1"), dir, dbl("tau", 0.8))
      case "build-band" =>
        NearDup.saveBandIndex(docs("mod10gt1"), dir)
      case "build-bloom" =>
        BloomGate.save(dir, rawDocs("mod10gt1"), "doc_id", "text",
          fpp = dbl("fpp", 0.01))
      case "build-semdedup" =>
        import graft.operators.SemDedup
        val e = Pin(vectors("mod10gt1"))
        SemDedup.save(dir, e, num("k", SemDedup.cellsFor(e.count())),
          num("nprobe", 3))
      case "build-span" =>
        NearDup.saveSpanIndex(rawDocs("mod10gt1"), dir,
          num("spantokens", 15))
      case "build-phash" =>
        // bands=/arity= are the saturation escape hatch (HammingBands
        // composite keys): rebuild at check-phash's suggested (bands,
        // arity) when the over-cap report is non-empty
        graft.operators.Multimodal.savePhashIndex(pictures("mod40eq0"), dir,
          num("arity", 1), num("bands", graft.operators.Multimodal.PhashBands))

      case "rebuild-phash" =>
        // one-command saturation remediation (r18 task 4): act on
        // check-phash's remedy — rebuild the artifact from its own live
        // member hashes at bands=/arity= (or, when omitted, the SAME
        // suggestion check-phash prints: bands=8 at the smallest arity
        // whose projected hottest-key df clears the cap, from the
        // hottest df MEASURED at the target banding). In-place is safe
        // here, unlike compact-* (which rewrites into dest=): the live
        // hashes pin into executor blocks (localCheckpoint) BEFORE the
        // save deletes anything, and the save's meta-first delete keeps
        // a crash mid-rebuild invisible to ArtifactPaths.exists.
        if (!ArtifactPaths.exists(dir)) fail(s"no complete index at $dir")
        val (rbBands, rbArity) =
          if (kv.contains("bands") || kv.contains("arity"))
            (num("bands", 8), num("arity", 1))
          else {
            val phMaxDf = num("maxdf",
              graft.operators.HammingBands.DefaultMaxBandDf)
            val s = graft.operators.Multimodal.phashStats(spark, dir, phMaxDf)
            if (s.overCapBandKeys == 0) fail(
              "rebuild-phash without bands=/arity=: check-phash reports " +
                "no over-cap band keys, so there is no saturation to " +
                "remedy — pass explicit bands=/arity= to re-band anyway")
            graft.operators.Multimodal.suggestedPhashBanding(s, phMaxDf)
          }
        graft.operators.Multimodal.rebuildPhashIndex(spark, dir, rbBands,
          rbArity)
        println(s"""{"rebuilt":"$dir","bands":$rbBands,""" +
          s""""arity":$rbArity,"rows":${
            spark.read.parquet(s"$dir/hashes").count()}}""")

      case "append-pq" | "append-ivfpq" =>
        PqIndex.append(spark, dir, vectors("mod10eq1"))
      case "append-ivf" =>
        IvfIndex.append(spark, dir, vectors("mod10eq1"))
      case "append-sq8" =>
        graft.operators.Sq8Index.append(spark, dir, vectors("mod10eq1"))
      case "append-jaccard" =>
        NearDup.appendToJaccardIndex(docs("mod10eq1"), spark, dir)
      case "append-band" =>
        NearDup.appendToBandIndex(docs("mod10eq1"), spark, dir)
      case "append-bloom" =>
        if (!ArtifactPaths.exists(dir)) fail(s"no complete index at $dir")
        BloomGate.append(spark, dir, rawDocs("mod10eq1"), "doc_id", "text")
      case "append-span" =>
        if (!ArtifactPaths.exists(dir)) fail(s"no complete index at $dir")
        NearDup.appendToSpanIndexKeyed(rawDocs("mod10eq1"), spark, dir,
          kv.getOrElse("key", "cli-day1"))
      case "append-phash" =>
        if (!ArtifactPaths.exists(dir)) fail(s"no complete index at $dir")
        graft.operators.Multimodal.appendPhashIndexKeyed(
          pictures("mod80eq20"), spark, dir, kv.getOrElse("key", "cli-day1"))
      case "append-semdedup" =>
        // the INGEST step: emits the batch-vs-standing duplicate pairs
        // AND grows the standing assignment under the frozen model
        import graft.operators.SemDedup
        if (!ArtifactPaths.exists(dir)) fail(s"no complete index at $dir")
        val crossPairs = SemDedup.appendBatch(spark, dir,
          vectors("mod10eq1"), vectors("all"), dbl("tau", 0.45))
        println(s"""{"appended_pairs":${crossPairs.count()}}""")

      case "query-pq" =>
        if (!ArtifactPaths.exists(dir)) fail(s"no complete index at $dir")
        val e = vectors("all")
        val idx = PqIndex.load(spark, dir)
        PqIndex.topKFrom(annQueries(e), idx.codes, e, idx.books,
            k = num("topk", 5), pool = num("pool", 25))
          .orderBy(col("qid"), col("rn"))
          .show(100, truncate = false)
      case "query-ivf" =>
        if (!ArtifactPaths.exists(dir)) fail(s"no complete index at $dir")
        val e = vectors("all")
        val (cents, cells) = IvfIndex.load(spark, dir)
        IvfIndex.topKFrom(annQueries(e), cells, e, cents,
            k = num("topk", 5), nProbe = num("nprobe", 3))
          .show(100, truncate = false)
      case "query-ivfpq" =>
        if (!ArtifactPaths.exists(dir)) fail(s"no complete index at $dir")
        val e = vectors("all")
        val idx = PqIndex.load(spark, dir)
        val cents = idx.cents.getOrElse(fail(s"$dir has no centroids " +
          "(built as plain PQ?) — use query-pq"))
        PqIndex.topKIvfFrom(annQueries(e), idx.codes, e, idx.books, cents,
            k = num("topk", 5), pool = num("pool", 25),
            nProbe = num("nprobe", 6))
          .orderBy(col("qid"), col("rn"))
          .show(100, truncate = false)
      case "query-sq8" =>
        import graft.operators.Sq8Index
        if (!ArtifactPaths.exists(dir)) fail(s"no complete index at $dir")
        val e = vectors("all")
        val (grid, codes) = Sq8Index.load(spark, dir)
        Sq8Index.topKFrom(annQueries(e), codes, e, grid,
            k = num("topk", 5), pool = num("pool", 25))
          .orderBy(col("qid"), col("rn"))
          .show(100, truncate = false)
      case "query-jaccard" =>
        if (!ArtifactPaths.exists(dir)) fail(s"no complete index at $dir")
        NearDup.jaccardMatchesAgainstLoaded(docs("mod10eq0"), spark, dir,
            dbl("tau", 0.8))
          .orderBy(col("doc_id"), col("matched_id"))
          .show(100, truncate = false)
      case "query-band" =>
        if (!ArtifactPaths.exists(dir)) fail(s"no complete index at $dir")
        val idx = NearDup.loadBandIndex(spark, dir)
        val batch = docs("mod10eq0")
        NearDup.matchAgainstBandIndex(batch, idx)
          .orderBy(col("doc_id"), col("matched_id"))
          .show(100, truncate = false)
      case "query-bloom" =>
        if (!ArtifactPaths.exists(dir)) fail(s"no complete index at $dir")
        BloomGate.newRowsAgainstLoaded(rawDocs("mod10eq0"), "text", spark, dir)
          .select(col("doc_id")).orderBy(col("doc_id"))
          .show(100, truncate = false)
      case "query-span" =>
        if (!ArtifactPaths.exists(dir)) fail(s"no complete index at $dir")
        NearDup.matchAgainstSpanIndex(rawDocs("mod10eq0"), spark, dir,
            num("maxdf", 20))
          .orderBy(col("doc_id"), col("matched_id"))
          .show(100, truncate = false)
      case "query-phash" =>
        if (!ArtifactPaths.exists(dir)) fail(s"no complete index at $dir")
        graft.operators.Multimodal.matchAgainstPhashIndex(
            pictures("mod80eq60"), spark, dir, num("maxham", 3))
          .orderBy(col("media_id"), col("matched_id"))
          .show(100, truncate = false)
      case "query-semdedup" =>
        // read-only probe: batch-vs-standing pairs, no artifact mutation
        import graft.operators.SemDedup
        if (!ArtifactPaths.exists(dir)) fail(s"no complete index at $dir")
        SemDedup.probeBatch(spark, dir, vectors("mod10eq0"),
            vectors("all"), dbl("tau", 0.45))
          .orderBy(col("id_a"), col("id_b"))
          .show(100, truncate = false)

      case "delete-pq" | "delete-ivf" | "delete-ivfpq" | "delete-sq8" |
          "delete-jaccard" | "delete-band" | "delete-bloom" |
          "delete-semdedup" | "delete-span" | "delete-phash" =>
        // takedown path — one handler for all kinds: tombstones are
        // kind-agnostic (an id set the probe-time anti-join consults)
        if (!ArtifactPaths.exists(dir)) fail(s"no complete index at $dir")
        val idList = kv.getOrElse("ids",
            fail(s"$cmd requires ids=<comma-separated id list>"))
          .split(",").map(s => s.trim.toLong).toSeq
        if (idList.isEmpty) fail(s"$cmd requires a non-empty ids= list")
        import spark.implicits._
        Tombstones.deleteIds(dir, idList.toDF("id"))
        println(s"""{"deleted":${idList.length},""" +
          s""""tombstones_total":${Tombstones.count(spark, dir)}}""")

      case "compact-pq" | "compact-ivf" | "compact-ivfpq" | "compact-sq8" |
          "compact-jaccard" | "compact-band" | "compact-bloom" |
          "compact-semdedup" | "compact-span" | "compact-phash" =>
        // load already excludes tombstones, so compact = load + save to
        // a fresh dest; the save clears dest's (nonexistent) tombstones
        // and commits meta-last — crash-safe without touching the source
        if (!ArtifactPaths.exists(dir)) fail(s"no complete index at $dir")
        val dest = kv.getOrElse("dest",
          fail(s"$cmd requires dest=<directory for the compacted artifact>"))
        if (new java.io.File(dest).getCanonicalPath ==
            new java.io.File(dir).getCanonicalPath)
          fail("dest must differ from the source index dir (in-place " +
            "compaction would destroy the source on a crash)")
        cmd match {
          case "compact-pq" | "compact-ivfpq" =>
            val idx = PqIndex.load(spark, dir)
            PqIndex.save(dest, idx.books, idx.codes, idx.cents)
          case "compact-ivf" =>
            val (cents, cells) = IvfIndex.load(spark, dir)
            IvfIndex.save(dest, cents, cells)
          case "compact-sq8" =>
            import graft.operators.Sq8Index
            val (grid, codes) = Sq8Index.load(spark, dir)
            Sq8Index.save(dest, grid, codes)
          case "compact-jaccard" =>
            NearDup.compactJaccardIndex(spark, dir, dest)
          case "compact-band" =>
            val idx = NearDup.loadBandIndex(spark, dir)
            NearDup.saveBandIndex(idx.docs, dest, idx.numHashes, idx.bands,
              idx.rowsPerBand)
          case "compact-bloom" =>
            // re-derives the filter from live (tombstone-excluded) keys —
            // the only way deleted keys leave the filter (Bloom admits no
            // deletes); also resets append saturation to a fresh sizing
            val idx = BloomGate.load(spark, dir)
            BloomGate.save(dest, idx.keys, "id", "key", fpp = idx.fpp)
          case "compact-semdedup" =>
            graft.operators.SemDedup.compact(spark, dir, dest)
          case "compact-span" =>
            NearDup.compactSpanIndex(spark, dir, dest)
          case "compact-phash" =>
            graft.operators.Multimodal.compactPhashIndex(spark, dir, dest)
        }
        println(s"""{"compacted":"$dest","tombstones_dropped":""" +
          s"""${Tombstones.count(spark, dir)}}""")

      case "stats-bloom" | "check-bloom" =>
        // observed-fpp drift gate (the check-jaccard pattern for the
        // bloom kind): realized fpp is measured against the exact
        // confirm side, so the report needs no ground truth beyond the
        // artifact itself; exit 1 = rebuild/compact now.
        if (!ArtifactPaths.exists(dir)) fail(s"no complete index at $dir")
        val s = BloomGate.probeStats(rawDocs("mod10eq0"), "text", spark, dir)
        val saturation = s.rows.toDouble / math.max(s.expectedItems, 1L)
        val status =
          if (cmd == "stats-bloom") ""
          else {
            val degraded = BloomGate.bloomDegraded(s, dbl("maxfpp", 0.05),
              dbl("saturation", 2.0))
            s""","status":"${if (degraded) "rebuild" else "ok"}""""
          }
        println(s"""{"batch_rows":${s.batchRows},""" +
          s""""maybe_rows":${s.maybeRows},"true_dups":${s.trueDups},""" +
          s""""false_positives":${s.falsePositives},""" +
          s""""observed_fpp":${f"${s.observedFpp}%.6f"},""" +
          s""""requested_fpp":${s.requestedFpp},"indexed_rows":${s.rows},""" +
          s""""expected_items":${s.expectedItems},""" +
          s""""saturation":${f"$saturation%.2f"}$status}""")
        if (status.contains("\"rebuild\"")) {
          spark.stop()
          sys.exit(1)
        }

      case "stats-semdedup" | "check-semdedup" =>
        // streaming-growth trip-wire (the check-jaccard pattern for the
        // semdedup kind): per-batch probe cost is O(committed append
        // subtrees + appended float rows); exit 1 = compact-semdedup now
        if (!ArtifactPaths.exists(dir)) fail(s"no complete index at $dir")
        val s = graft.operators.SemDedup.appendStats(spark, dir)
        val growth = s.appendedFloatRows.toDouble /
          math.max(1L, s.baseAssignRows + s.baseFloatRows)
        val status =
          if (cmd == "stats-semdedup") ""
          else {
            val degraded = semdedupDegraded(s, num("maxsubtrees", 32),
              dbl("maxgrowth", 2.0))
            s""","status":"${if (degraded) "compact" else "ok"}""""
          }
        println(s"""{"append_subtrees":${s.appendSubtrees},""" +
          s""""base_assign_rows":${s.baseAssignRows},""" +
          s""""appended_assign_rows":${s.appendedAssignRows},""" +
          s""""base_float_rows":${s.baseFloatRows},""" +
          s""""appended_float_rows":${s.appendedFloatRows},""" +
          s""""float_growth":${f"$growth%.2f"}$status}""")
        if (status.contains("\"compact\"")) {
          spark.stop()
          sys.exit(1)
        }

      case "stats-phash" | "check-phash" =>
        // growth/trim gate for the phash kind: appended subtrees (probe
        // listing + scan-union cost until compact-phash) and over-cap
        // band keys (trimmed near-dup recall); exit 1 = act now
        if (!ArtifactPaths.exists(dir)) fail(s"no complete index at $dir")
        // maxdf= (r19): stats/check/suggestion all at the SAME cap —
        // default production cap, or a lowered one to exercise the
        // saturation-remediation loop against a fixture whose real
        // hottest df sits below the default (the sf10 loop record)
        val phMaxDf = num("maxdf",
          graft.operators.HammingBands.DefaultMaxBandDf)
        val s = graft.operators.Multimodal.phashStats(spark, dir, phMaxDf)
        val status =
          if (cmd == "stats-phash") ""
          else {
            val degraded = graft.operators.Multimodal.phashDegraded(
              s, num("maxsubtrees", 32))
            s""","status":"${if (degraded) "act" else "ok"}""""
          }
        // a non-empty over-cap report comes with its REMEDY (r17 escape
        // hatch): re-band at bands=8 (the widening that keeps the
        // maxHamming=3 pigeonhole budget open) at the smallest composite
        // arity whose projected hottest-key df clears the cap —
        // `rebuild-phash` (r18) consumes it. The hottest-df input is
        // MEASURED AT THE TARGET bands=8 banding (hottestBandDf8 — the
        // current-banding df aggregates ~2^(64/bands−8) 8-bit keys per
        // key and can undershoot under clustered hashes; r17 ADVICE),
        // floored by the 8-bit uniform expectation; the authoritative
        // check is re-measuring check-phash on the rebuilt artifact.
        val arity =
          if (s.overCapBandKeys == 0 || s.distinctHashes == 0 ||
              s.hottestBandDf8 == 0) ""
          else {
            val (sb, sa) = graft.operators.Multimodal.suggestedPhashBanding(
              s, phMaxDf)
            s""","suggested_bands":$sb,"suggested_arity":$sa"""
          }
        println(s"""{"base_rows":${s.baseRows},""" +
          s""""append_subtrees":${s.appendSubtrees},""" +
          s""""appended_rows":${s.appendedRows},""" +
          s""""distinct_hashes":${s.distinctHashes},""" +
          s""""max_class":${s.maxClass},""" +
          s""""over_cap_band_keys":${s.overCapBandKeys},""" +
          s""""hottest_band_df":${s.hottestBandDf},""" +
          s""""hottest_band_df8":${s.hottestBandDf8}$arity,""" +
          s""""tombstones":${s.tombstones}$status}""")
        if (status.contains("\"act\"")) {
          spark.stop()
          sys.exit(1)
        }

      case "stats-jaccard" | "check-jaccard" =>
        // the rebuild-cadence signal: candidates/verified rising (df
        // drift eroding prefix selectivity) means rebuild the index.
        // check-jaccard additionally CONSUMES it: exit 1 past thresholds
        // so a scheduler can gate "rebuild now" on data, not calendar.
        if (!ArtifactPaths.exists(dir)) fail(s"no complete index at $dir")
        val s = NearDup.jaccardProbeStats(docs("mod10eq0"), spark, dir,
          dbl("tau", 0.8))
        val ratio =
          if (s.verified == 0) "null"
          else f"${s.candidates.toDouble / s.verified}%.2f"
        val candPerDoc =
          if (s.batchDocs == 0) 0.0 else s.candidates.toDouble / s.batchDocs
        val status =
          if (cmd == "stats-jaccard") ""
          else {
            val degraded = jaccardDegraded(s, dbl("maxratio", 50.0),
              dbl("maxcand", 20.0), dbl("maxphantom", 0.2))
            s""","cand_per_batch_doc":${f"$candPerDoc%.2f"}""" +
              s""","status":"${if (degraded) "rebuild" else "ok"}""""
          }
        println(s"""{"batch_docs":${s.batchDocs},""" +
          s""""candidates":${s.candidates},"verified":${s.verified},""" +
          s""""matches":${s.matches},""" +
          s""""cand_per_verified":$ratio,"indexed_docs":${s.indexedDocs},""" +
          s""""prefix_rows":${s.prefixRows},"vocab":${s.vocab},""" +
          s""""phantom_reps":${s.phantomReps},""" +
          s""""indexed_reps":${s.indexedReps},""" +
          s""""phantom_share":${f"${s.phantomShare}%.4f"}$status}""")
        if (status.contains("\"rebuild\"")) {
          spark.stop()
          sys.exit(1)
        }

      case "stats-band" | "check-band" =>
        // phantom-rep gate for the band kind (r18 task 6 — the jaccard
        // pattern): a fully-tombstoned class keeps its rep banded until
        // compact-band re-collapses; exit 1 = compact now
        if (!ArtifactPaths.exists(dir)) fail(s"no complete index at $dir")
        val (phantom, totalReps) = NearDup.phantomRepStats(spark, dir)
        val share =
          if (totalReps == 0) 0.0 else phantom.toDouble / totalReps
        val status =
          if (cmd == "stats-band") ""
          else s""","status":"${
            if (share > dbl("maxphantom", 0.2)) "compact" else "ok"}""""
        println(s"""{"phantom_reps":$phantom,"indexed_reps":$totalReps,""" +
          s""""phantom_share":${f"$share%.4f"},""" +
          s""""tombstones":${Tombstones.count(spark, dir)}$status}""")
        if (status.contains("\"compact\"")) {
          spark.stop()
          sys.exit(1)
        }

      case "train-bpe" =>
        // tokenizer-training lifecycle: learn k merges from the corpus
        // word table (one raw-text scan; incremental pair stats — see
        // BpeTrainer) and persist them as the vocab artifact (meta-last)
        val words = withSplit(graft.Tables.documents(spark, sfDir),
          "doc_id", "all")
        val wf = Pin(BpeTrainer.wordFreq(words, col("text")), "train-bpe",
          Seq(count(lit(1)).as("n")))
        val n = wf.long("n")
        val merges = BpeTrainer.train(wf.frame, num("k", 10))
        BpeTrainer.saveVocab(spark, dir, merges, n)
        println(s"""{"merges":${merges.size},"words":$n}""")

      case "segment-bpe" =>
        // apply a persisted vocab to the corpus: pure map-side projection
        // (chain of codegen'd string replaces), no shuffle
        if (!ArtifactPaths.exists(dir)) fail(s"no complete vocab at $dir")
        val merges = BpeTrainer.loadVocab(spark, dir)
        val toks = withSplit(graft.Tables.documents(spark, sfDir),
          "doc_id", "all")
          .select(size(BpeTrainer.segmenter(col("text"), merges)).as("n"))
          .agg(count(lit(1)).as("docs"), sum(col("n")).as("tokens"))
          .collect()(0)
        println(s"""{"docs":${toks.getLong(0)},"tokens":${toks.getLong(1)},""" +
          s""""merges":${merges.size}}""")

      case "train-quality" =>
        // classifier-training lifecycle (r13): learn hashed-trigram
        // weights by deterministic batch logistic regression
        // (operators/QualityTrainer; teacher = the fixture's language
        // label — the langid-distillation recipe) and persist them as
        // the weights artifact (meta-last commit marker)
        val docs = withSplit(graft.Tables.documents(spark, sfDir),
          "doc_id", "all")
          .withColumn("y",
            (graft.functions.TextFunctions.stopwordRatio(col("text")) >= 0.06)
              .cast("int"))
        val iters = num("k", 40)
        val lr = dbl("lr", graft.operators.QualityTrainer.DefaultLr)
        val (w, bS) = graft.operators.QualityTrainer.train(docs, "text", "y",
          iters = iters, lr = lr, dim = num("dim", 1024))
        graft.operators.QualityTrainer.save(spark, dir, w, bS, iters, lr)
        println(s"""{"dim":${w.length},"iters":$iters,"bias":$bS,""" +
          s""""nonzero":${w.count(_ != 0L)}}""")

      case "score-quality" =>
        // apply persisted weights through the EXISTING inference path
        // (QualityClassifier.ngramLogit with a trained vector): per-split
        // keep/drop rollup — pure map-side scoring, one tiny agg
        if (!graft.operators.QualityTrainer.exists(dir))
          fail(s"no committed weights at $dir")
        val (w, bS) = graft.operators.QualityTrainer.load(spark, dir)
        import graft.functions.QualityClassifier
        val r = withSplit(graft.Tables.documents(spark, sfDir),
            "doc_id", "mod10eq0")
          .withColumn("y",
            (graft.functions.TextFunctions.stopwordRatio(col("text")) >= 0.06)
              .cast("long"))
          .withColumn("gl", QualityClassifier.ngramLogit(lower(col("text")), w))
          .select(col("y"), graft.operators.QualityTrainer.keeps(col("gl.n_grams"),
            col("gl.logit"), bS).cast("long").as("keep"))
          .agg(count(lit(1)).as("docs"), sum(col("keep")).as("kept"),
            sum((col("keep") === col("y")).cast("long")).as("agree"))
          .collect()(0)
        println(s"""{"docs":${r.getLong(0)},"kept":${r.getLong(1)},""" +
          s""""teacher_agreement":${f"${r.getLong(2).toDouble / math.max(1L, r.getLong(0))}%.4f"},""" +
          s""""dim":${w.length}}""")

      case other => fail(s"unknown command '$other'")
    }
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[index] $cmd $dir done elapsed_sec=$sec%.2f")
    spark.stop()
  }
}
