package graft.streaming

import org.apache.spark.sql.functions._
import graft.operators.Pin

/** Runnable streaming surface: replays the events fixture through a file
  * source (`readStream.parquet` with maxFilesPerTrigger — the A7 throttled-
  * ingest analog), applies the watermarked tumbling-window aggregation, and
  * writes the result to a parquet sink with a checkpoint:
  *
  *   sbt "runMain graft.streaming.StreamMain <inDir> <outDir> [files=N|bytes=N] [op=window|neardup|ann|bloomdedup|spandedup|semdedup|quality|decontaminate|imagededup] [index=<dir>] [maintain=1]"
  *
  * op=ann (requires index=) is the standing retrieval service: replay an
  * embeddings fixture as the query stream, probe the persisted PQ
  * artifact per micro-batch (StreamingOps.annTopKSink — built over the
  * same fixture on first run), top-k per query under data/batch=N.
  *
  * op=spandedup (requires index=) is the standing token-span dedup
  * ingest: replay a documents fixture against a persisted span-key index
  * that starts empty and is maintained by the stream itself — each
  * batch's duplicated-window matches against EARLIER batches land under
  * data/batch=N, its window keys append per batch
  * (StreamingOps.spanDedupSink).
  *
  * op=semdedup (requires index=) is the standing SEMANTIC dedup ingest:
  * replay an embeddings fixture against a persisted SemDeDup artifact
  * whose cells + SQ8 grid are trained on the fixture but whose standing
  * assignment starts EMPTY (SemDedup.saveModel) — each batch's
  * exact-verified duplicate pairs vs earlier batches land under
  * data/batch=N, its assignment + floats append per batch
  * (StreamingOps.semDedupSink).
  *
  * op=quality (requires index=) is the standing quality-scoring service
  * — the train→serve loop closed in streaming: documents replay as the
  * ingest stream and every micro-batch scores through the persisted
  * QualityTrainer weights (trained on the fixture's teacher labels and
  * committed meta-last if the artifact is absent), landing
  * (doc_id, n_grams, logit, keep) under data/batch=N; the artifact
  * reloads per batch so a retrain between triggers takes effect on the
  * next batch (StreamingOps.qualityScoreSink).
  *
  * op=bloomdedup (requires index=) is the standing exact-dedup ingest:
  * replay a documents fixture against a persisted Bloom artifact that
  * starts empty and is maintained by the stream itself — first-seen docs
  * land under data/batch=N, duplicates are dropped, keys append per batch
  * (StreamingOps.bloomDedupSink).
  *
  * op=decontaminate (requires index=) is the standing eval-set
  * decontamination service: replay a documents fixture as the candidate-
  * TRAINING-doc stream (doc_id % 50 != 0, the batch query's train split)
  * and probe each micro-batch against the persisted eval-set band index
  * (doc_id % 50 == 0 as unigram token sets — built here if absent, same
  * artifact shape as q_decontaminate_fuzzy_loaded); verified hits land
  * under data/batch=N (StreamingOps.decontaminateSink). The eval index
  * is FROZEN for the job's lifetime (loaded once at first batch):
  * rebuilding the artifact in place is NOT picked up until job restart
  * — roll a new eval set by pointing index= at a new path.
  *
  * op=imagededup (requires index=) is the standing image-dedup probe —
  * the decontaminate shape against the phash artifact: replay a
  * documents fixture, derive its deterministic pictures (doc_id % 20 ==
  * 0), hash them map-side (dHash; pixels never reach the sink) and
  * probe each micro-batch's (media_id, ph) rows against the persisted
  * corpus hash index (built here over the doc_id % 40 == 0 pictures if
  * absent — the q_dedup_image_phash_loaded corpus split); hits land
  * under data/batch=N (StreamingOps.imageDedupSink). Same frozen-index
  * contract as op=decontaminate: in-place rebuilds/appends take effect
  * only on restart; a new corpus is a new index= path.
  *
  * The optional third argument picks the ingest throttle: files=N →
  * maxFilesPerTrigger, bytes=N → maxBytesPerTrigger (both A7 analogs —
  * the reference throttles bytes/sec on the copy stream; a file stream
  * throttles admission per micro-batch). Default files=1.
  *
  * op=window (default) replays an events fixture through the watermarked
  * tumbling-window aggregation. op=neardup replays a documents fixture as
  * the INGEST stream and matches it against the same corpus as the STATIC
  * MinHash-LSH index (StreamingOps.nearDupMatches) — every doc collides
  * with at least itself, so the run demonstrates the full candidate →
  * verify → dedup path; the summary line separates self hits from true
  * cross-document near-dups. With index=<dir> the static corpus index is
  * a persisted artifact (NearDup.saveBandIndex — built on first run,
  * LOADED on every restart) instead of being re-signed + re-banded per
  * run. With maintain=1 (requires index=) the job runs the full standing
  * duty cycle via foreachBatch: each micro-batch probes the CURRENT
  * artifact, writes its matches under $outDir/data/batch=N, and appends
  * itself to the index with the idempotent keyed append — docs ingested
  * by earlier batches are matchable by later ones
  * (StreamingOps.nearDupMaintainingSink).
  *
  * Prints one line per micro-batch and a final row count. Append-mode
  * watermark semantics on a finite replay: windows newer than
  * (max event time - watermark delay) are still open when input ends and
  * are correctly withheld from the sink — the sink row count reflects
  * CLOSED windows only (the streaming contract, not data loss).
  */
object StreamMain {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: StreamMain <eventsDir> <outDir>")
      sys.exit(2)
    }
    val Array(eventsDir, outDir) = args.take(2)
    val split = args.drop(2).map(a => (a, a.split("=", 2)))
    val malformed = split.collect { case (raw, kv) if kv.length != 2 => raw }
    // repeated keys (e.g. 'files=1 files=8') would silently last-win via
    // toMap — reject them with the same strictness as unknown keys
    val dupKeys = split.collect { case (_, Array(k, _)) => k }
      .groupBy(identity).collect { case (k, vs) if vs.length > 1 => k }
    val kvArgs = split.collect { case (_, Array(k, v)) => (k, v) }.toMap
    val badKeys = kvArgs.keySet -- Set("files", "bytes", "op", "index", "maintain")
    val indexWithoutNearDup = kvArgs.contains("index") &&
      !Set("neardup", "ann", "bloomdedup", "spandedup", "semdedup",
        "quality", "decontaminate", "imagededup")
        .contains(kvArgs.getOrElse("op", "window"))
    val maintainWithoutIndex =
      kvArgs.contains("maintain") && !kvArgs.contains("index")
    if (malformed.nonEmpty || badKeys.nonEmpty || dupKeys.nonEmpty ||
        (kvArgs.contains("files") && kvArgs.contains("bytes")) ||
        indexWithoutNearDup || maintainWithoutIndex) {
      System.err.println(
        s"bad options ${(malformed ++ badKeys ++ dupKeys).mkString(", ")}" +
        (if (kvArgs.contains("files") && kvArgs.contains("bytes"))
           " (files= and bytes= are mutually exclusive)" else "") +
        (if (indexWithoutNearDup) " (index= requires op=neardup|ann|bloomdedup|spandedup|semdedup|quality|decontaminate|imagededup)" else "") +
        (if (maintainWithoutIndex) " (maintain=1 requires index=)" else "") +
        ": use files=N | bytes=N | op=window|neardup|ann|bloomdedup|spandedup|semdedup|quality|decontaminate|imagededup | index=<dir> | maintain=1")
      sys.exit(2)
    }
    val (throttleOpt, throttleVal) =
      if (kvArgs.contains("bytes")) ("maxBytesPerTrigger", kvArgs("bytes"))
      else ("maxFilesPerTrigger", kvArgs.getOrElse("files", "1"))
    val op = kvArgs.getOrElse("op", "window")
    // a streaming checkpoint records its shuffle partition count, so it
    // stays 8 whatever the core count
    val spark = graft.GraftSession.create("graft-stream",
      graft.GraftSession.cpus(4), "spark.sql.shuffle.partitions" -> "8")

    // The streaming file source needs a DIRECTORY; the fixture is a single
    // parquet file — stage it into a DETERMINISTIC dir derived from the
    // input path (a fresh random temp dir would change the source paths
    // under a persistent checkpoint in $outDir, re-admitting every file
    // on re-run and appending duplicates to the sink).
    val srcDir = {
      val f = new java.io.File(eventsDir)
      if (f.isFile) {
        // key on the source identity (path, size, mtime) so a REGENERATED
        // fixture at the same path stages fresh instead of silently
        // replaying stale data
        val key = graft.Tables.md5Hex(
          graft.Tables.sourceIdentity(spark, eventsDir)).take(16)
        val d = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"), s"graft_stream_src_$key")
        java.nio.file.Files.createDirectories(d)
        val staged = d.resolve(f.getName)
        if (!java.nio.file.Files.exists(staged))
          java.nio.file.Files.copy(f.toPath, staged)
        d.toString
      } else eventsDir
    }

    // File-source replay. The events fixtures store ts as microseconds
    // without a zone (pyarrow timestamp[us]), which Spark reads as
    // TIMESTAMP_NTZ; a TIMESTAMP(NANOS) file reads as a Long under
    // nanosAsLong and is normalized like Tables.events.
    val schema = spark.read.parquet(srcDir).schema
    val raw = spark.readStream
      .schema(schema)
      .option(throttleOpt, throttleVal) // throttled ingest (A7 analog)
      .parquet(srcDir)

    val out = op match {
      case "window" =>
        // the watermark takes TIMESTAMP only; the session zone is UTC, so
        // the cast keeps an NTZ wall-clock value
        StreamingOps.windowedCounts(graft.Tables.normalizeNanosTs(raw)
            .withColumn("ts", col("ts").cast("timestamp")),
          "10 minutes", "10 minutes")
      case "neardup" =>
        import graft.functions.TextFunctions.wordShingles
        // documents carry no event time — synthesize a CONSTANT one. A
        // doc_id-derived time would advance the watermark past older ids
        // after the first micro-batch and silently drop docs from later
        // files as late data; with one fixed instant nothing is ever
        // late, and the dedup state simply never expires during the
        // (finite) replay.
        def shingled(df: org.apache.spark.sql.DataFrame) = df.select(
          col("doc_id"),
          timestamp_seconds(lit(1704067200L)).as("ts"),
          wordShingles(col("text"), 3).as("sh"))
        kvArgs.get("index") match {
          case Some(idxPath) =>
            // build-once/load-many: a persisted band index survives job
            // restarts — build it only if the artifact isn't there yet
            import graft.operators.{ArtifactPaths, NearDup}
            if (!ArtifactPaths.exists(idxPath))
              NearDup.saveBandIndex(
                shingled(spark.read.parquet(srcDir)).select(col("doc_id"), col("sh")),
                idxPath)
            if (kvArgs.contains("maintain"))
              // maintain=1: the stream is the shingled ingest itself; the
              // foreachBatch sink probes AND appends per batch (matches
              // land under $outDir/data/batch=N; see nearDupMaintainingSink)
              shingled(raw)
            else
              StreamingOps.nearDupMatches(shingled(raw),
                NearDup.loadBandIndex(spark, idxPath), "10 minutes",
                NearDup.DefaultThreshold)
          case None =>
            val static = shingled(spark.read.parquet(srcDir))
            StreamingOps.nearDupMatches(shingled(raw), static, "10 minutes")
        }
      case "decontaminate" =>
        // standing eval-set decontamination (StreamingOps.decontaminateSink):
        // replay a documents fixture as the candidate-TRAINING-doc stream
        // and probe each micro-batch against the persisted eval-set band
        // index — the same artifact + split convention as the batch query
        // q_decontaminate_fuzzy_loaded (eval = doc_id % 50 == 0, unigram
        // token sets), built here if absent. Sink is foreachBatch
        // (started below) — this branch only returns the shingled stream.
        import graft.functions.TextFunctions.wordShingles
        import graft.operators.{ArtifactPaths, NearDup}
        val idxPath = kvArgs.getOrElse("index",
          { System.err.println("op=decontaminate requires index=<dir>"); sys.exit(2) })
        if (!ArtifactPaths.exists(idxPath))
          NearDup.saveBandIndex(
            spark.read.parquet(srcDir).filter(col("doc_id") % 50 === 0)
              .select(col("doc_id"), wordShingles(col("text"), 1).as("sh")),
            idxPath)
        raw.filter(col("doc_id") % 50 =!= 0)
          .select(col("doc_id"), wordShingles(col("text"), 1).as("sh"))
      case "imagededup" =>
        // standing image-dedup probe (StreamingOps.imageDedupSink):
        // derive + hash the stream's pictures map-side; the corpus hash
        // index is built over the registry's corpus split if absent.
        // Sink is foreachBatch (started below) — this branch only
        // returns the hashed picture stream (16 B/row).
        import graft.operators.{ArtifactPaths, Multimodal}
        val idxPath = kvArgs.getOrElse("index",
          { System.err.println("op=imagededup requires index=<dir>"); sys.exit(2) })
        if (!ArtifactPaths.exists(idxPath))
          Multimodal.savePhashIndex(
            Multimodal.picturesFromDocs(spark.read.parquet(srcDir))
              .filter(col("media_id") % 40 === 0),
            idxPath)
        Multimodal.hashMedia(
          Multimodal.picturesFromDocs(raw.toDF())
            .filter(col("media_id") % 40 =!= 0))
      case "ann" =>
        // streaming ANN retrieval (StreamingOps.annTopKSink): replay an
        // embeddings fixture as the query stream against a persisted PQ
        // artifact (built over the SAME fixture if absent). Sink is
        // foreachBatch (started below) — this branch only returns the
        // projected query stream.
        import graft.functions.VectorFunctions.normSq
        import graft.operators.{ArtifactPaths, IvfIndex, PqIndex}
        val idxPath = kvArgs.getOrElse("index",
          { System.err.println("op=ann requires index=<dir>"); sys.exit(2) })
        if (!ArtifactPaths.exists(idxPath)) {
          val e = Pin(spark.read.parquet(srcDir)
            .select(col("vec_id"), col("embedding"),
              normSq(col("embedding")).as("n2")))
          // IVF-PQ (r19): cells ≈ √n so the sink's per-batch ADC pass is
          // nProbe·√n per query instead of O(corpus) — the r18 gate
          // measured the flat artifact at 160–185 CPU-s/batch, ~40×
          // every other sink
          val cells = math.max(16, math.sqrt(e.count().toDouble).toInt)
          val cents = IvfIndex.centroids(spark, e, cells)
          val books = PqIndex.train(spark, e, dim = 64, m = 8, k = 16)
          PqIndex.save(idxPath, books,
            PqIndex.encode(IvfIndex.assign(e, cents), books), Some(cents))
        }
        raw.select(col("vec_id").as("qid"), col("embedding").as("qv"),
          normSq(col("embedding")).as("qn2"))
      case "bloomdedup" =>
        // streaming exact-dedup ingest (StreamingOps.bloomDedupSink):
        // replay a documents fixture as the ingest stream against a
        // persisted Bloom artifact that starts EMPTY — the stream itself
        // populates it, so first occurrences land in the sink and every
        // later duplicate (intra-batch or cross-batch) is dropped. The
        // fixture is dup-prone by construction, so the run demonstrates
        // the full probe → confirm → keyed-append duty cycle.
        import graft.operators.{ArtifactPaths, BloomGate}
        val idxPath = kvArgs.getOrElse("index",
          { System.err.println("op=bloomdedup requires index=<dir>"); sys.exit(2) })
        def keyed(df: org.apache.spark.sql.DataFrame) = df.select(
          col("doc_id"), sha2(col("text"), 256).as("key"),
          col("source"), col("n_chars"))
        if (!ArtifactPaths.exists(idxPath))
          // expected sizing from the fixture the stream will replay, so
          // the empty-start filter is sized for what it will absorb
          BloomGate.save(idxPath, keyed(spark.read.parquet(srcDir)).limit(0),
            "doc_id", "key",
            expectedItems = spark.read.parquet(srcDir).count().max(1L))
        keyed(raw)
      case "spandedup" =>
        // streaming token-span dedup ingest (StreamingOps.spanDedupSink):
        // replay a documents fixture against a persisted span-key index
        // that starts EMPTY — the stream populates it, so each batch's
        // matches are against strictly earlier batches (window keys at
        // the registry's spanTokens=15 over the 10–100-token fixture).
        import graft.operators.{ArtifactPaths, NearDup}
        val idxPath = kvArgs.getOrElse("index",
          { System.err.println("op=spandedup requires index=<dir>"); sys.exit(2) })
        if (!ArtifactPaths.exists(idxPath))
          NearDup.saveSpanIndex(
            spark.read.parquet(srcDir).select(col("doc_id"), col("text"))
              .limit(0),
            idxPath, spanTokens = 15)
        raw.select(col("doc_id"), col("text"))
      case "semdedup" =>
        // streaming semantic-dedup ingest (StreamingOps.semDedupSink):
        // cells + grid train on the fixture the stream will replay (model
        // statistics, not membership — the bloomdedup sizing posture);
        // the standing assignment starts EMPTY and the stream populates
        // it, so each batch's pairs are against strictly earlier batches.
        import graft.functions.VectorFunctions.normSq
        import graft.operators.{ArtifactPaths, SemDedup}
        val idxPath = kvArgs.getOrElse("index",
          { System.err.println("op=semdedup requires index=<dir>"); sys.exit(2) })
        if (!ArtifactPaths.exists(idxPath)) {
          val e = Pin(spark.read.parquet(srcDir)
            .select(col("vec_id"), col("embedding"),
              normSq(col("embedding")).as("n2")))
          SemDedup.saveModel(idxPath, e, SemDedup.cellsFor(e.count()))
        }
        raw.select(col("vec_id"), col("embedding"),
          normSq(col("embedding")).as("n2"))
      case "quality" =>
        // standing quality-scoring service (StreamingOps.qualityScoreSink):
        // replay a documents fixture as the scoring stream against the
        // persisted classifier weights — TRAINED here on the fixture's
        // teacher labels if the artifact is absent (the train half of the
        // train→serve loop; same recipe as IndexMain train-quality)
        import graft.operators.QualityTrainer
        val idxPath = kvArgs.getOrElse("index",
          { System.err.println("op=quality requires index=<dir>"); sys.exit(2) })
        if (!QualityTrainer.exists(idxPath)) {
          val docs = spark.read.parquet(srcDir).withColumn("y",
            (graft.functions.TextFunctions.stopwordRatio(col("text")) >= 0.06)
              .cast("int"))
          val iters = 40
          val (w, bS) = QualityTrainer.train(docs, "text", "y",
            iters = iters, dim = 1024)
          QualityTrainer.save(spark, idxPath, w, bS, iters,
            QualityTrainer.DefaultLr)
        }
        raw.select(col("doc_id"), col("text"))
      case other =>
        System.err.println(s"bad op '$other': use window, neardup, ann, bloomdedup, spandedup, semdedup, quality or decontaminate")
        sys.exit(2)
        null
    }

    // Per-batch duty-cycle telemetry (r18 task 1 — the streaming-scale
    // gate's raw feed): every foreachBatch sink is wrapped so each
    // micro-batch prints ONE JSON line of wall/CPU/shuffle/input/spill
    // deltas (the Bench counters, drained around the batch body) plus
    // the batch's row count and the artifact's committed append-subtree
    // count (the standing-state growth proxy). The gate asserts per-batch
    // work stays FLAT as the artifact accumulates appends — the property
    // fixture-scale e2e cannot see.
    val tap = new graft.TaskMetricsTap
    spark.sparkContext.addSparkListener(tap)
    def drainBus(): Unit =
      try org.apache.spark.graft.ListenerFlush
        .waitUntilEmpty(spark.sparkContext, 30000)
      catch { case _: Throwable => () }
    def appendSubtrees(): Int = kvArgs.get("index").map { idx =>
      val d = new java.io.File(s"$idx/appends")
      if (!d.isDirectory) 0 else d.listFiles().count(_.isDirectory)
    }.getOrElse(0)
    // standing artifact bytes on disk after the batch (r19 task 7): the
    // accumulating sinks' per-batch cost claims are about work vs STATE
    // SIZE, so the gate needs both sides of that curve in one line
    def indexBytes(): Long = kvArgs.get("index").map { idx =>
      def du(f: java.io.File): Long =
        if (f.isFile) f.length
        else if (f.isDirectory) f.listFiles().map(du).sum
        else 0L
      du(new java.io.File(idx))
    }.getOrElse(0L)
    def metered(f: (org.apache.spark.sql.DataFrame, Long) => Unit)
        : (org.apache.spark.sql.DataFrame, Long) => Unit = (df, id) => {
      drainBus(); val s0 = tap.snapshot()
      val t0 = System.nanoTime()
      f(df, id)
      val wall = (System.nanoTime() - t0) / 1e9
      drainBus(); val s1 = tap.snapshot()
      val rows = df.count() // post-snapshot: excluded from the counters
      println(f"""{"batch":$id,"rows":$rows,"wall_sec":$wall%.3f,""" +
        f""""cpu_sec":${(s1(0) - s0(0)) / 1e9}%.3f,""" +
        s""""shr_b":${s1(2) - s0(2)},"shw_b":${s1(3) - s0(3)},""" +
        s""""inp_b":${s1(4) - s0(4)},"spill_b":${s1(5) - s0(5)},""" +
        s""""append_subtrees":${appendSubtrees()},""" +
        s""""index_b":${indexBytes()}}""")
    }

    val q =
      if (op == "ann") {
        import graft.functions.VectorFunctions.normSq
        val corpus = spark.read.parquet(srcDir)
          .select(col("vec_id"), col("embedding"),
            normSq(col("embedding")).as("n2"))
        out.writeStream
          .foreachBatch(metered(StreamingOps.annTopKSink(kvArgs("index"), corpus,
            s"$outDir/data", k = 5, pool = 25) _))
          .option("checkpointLocation", s"$outDir/checkpoint")
          .start()
      } else if (op == "bloomdedup") {
        // jobKey from the checkpoint path: stable across restarts of THIS
        // checkpointed query, distinct per job — see bloomDedupSink
        val jobKey = java.security.MessageDigest.getInstance("MD5")
          .digest(new java.io.File(s"$outDir/checkpoint").getAbsolutePath
            .getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(12)
        out.writeStream
          .foreachBatch(metered(StreamingOps.bloomDedupSink(
            kvArgs("index"), s"$outDir/data", "doc_id", "key", jobKey) _))
          .option("checkpointLocation", s"$outDir/checkpoint")
          .start()
      } else if (op == "quality") {
        out.writeStream
          .foreachBatch(metered(StreamingOps.qualityScoreSink(kvArgs("index"),
            s"$outDir/data") _))
          .option("checkpointLocation", s"$outDir/checkpoint")
          .start()
      } else if (op == "decontaminate") {
        out.writeStream
          .foreachBatch(metered(StreamingOps.decontaminateSink(kvArgs("index"),
            s"$outDir/data")))
          .option("checkpointLocation", s"$outDir/checkpoint")
          .start()
      } else if (op == "imagededup") {
        out.writeStream
          .foreachBatch(metered(StreamingOps.imageDedupSink(kvArgs("index"),
            s"$outDir/data")))
          .option("checkpointLocation", s"$outDir/checkpoint")
          .start()
      } else if (op == "spandedup" || op == "semdedup") {
        // jobKey contract identical to bloomdedup (see the sinks)
        val jobKey = java.security.MessageDigest.getInstance("MD5")
          .digest(new java.io.File(s"$outDir/checkpoint").getAbsolutePath
            .getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(12)
        val sink: (org.apache.spark.sql.DataFrame, Long) => Unit =
          if (op == "spandedup")
            StreamingOps.spanDedupSink(kvArgs("index"), s"$outDir/data",
              jobKey) _
          else {
            // empty-start artifact → no build-corpus floats; streamed
            // floats persist in the artifact (semDedupSink scaladoc)
            import graft.functions.VectorFunctions.normSq
            val emptyFloats = spark.read.parquet(srcDir)
              .select(col("vec_id"), col("embedding"),
                normSq(col("embedding")).as("n2"))
              .limit(0)
            StreamingOps.semDedupSink(kvArgs("index"), s"$outDir/data",
              jobKey, emptyFloats) _
          }
        out.writeStream
          .foreachBatch(metered(sink))
          .option("checkpointLocation", s"$outDir/checkpoint")
          .start()
      }
      else if (kvArgs.contains("maintain"))
        out.writeStream
          .foreachBatch(metered(StreamingOps.nearDupMaintainingSink(
            kvArgs("index"), s"$outDir/data") _))
          .option("checkpointLocation", s"$outDir/checkpoint")
          .start()
      else
        out.writeStream
          .format("parquet")
          .option("path", s"$outDir/data")
          .option("checkpointLocation", s"$outDir/checkpoint")
          .outputMode("append")
          .start()
    q.processAllAvailable()
    q.stop()

    val sink = spark.read.parquet(s"$outDir/data")
    val n = sink.count()
    if (op == "neardup") {
      val self = sink.filter(col("doc_id") === col("matched_id")).count()
      println(s"""{"sink_rows":$n,"self_matches":$self,""" +
        s""""cross_matches":${n - self},"state":"finished"}""")
    } else if (op == "bloomdedup") {
      val ingested = spark.read.parquet(srcDir).count()
      println(s"""{"sink_rows":$n,"ingested":$ingested,""" +
        s""""dups_dropped":${ingested - n},"state":"finished"}""")
    } else if (op == "spandedup") {
      val pairs = sink.select(col("doc_id"), col("matched_id")).distinct().count()
      println(s"""{"sink_rows":$n,"cross_batch_pairs":$pairs,""" +
        s""""state":"finished"}""")
    } else if (op == "semdedup") {
      val pairs = sink.select(col("id_a"), col("id_b")).distinct().count()
      println(s"""{"sink_rows":$n,"cross_batch_pairs":$pairs,""" +
        s""""state":"finished"}""")
    } else if (op == "quality") {
      val kept = sink.filter(col("keep")).count()
      println(s"""{"sink_rows":$n,"kept":$kept,""" +
        s""""dropped":${n - kept},"state":"finished"}""")
    } else if (op == "decontaminate") {
      val contaminated = sink.select(col("doc_id")).distinct().count()
      println(s"""{"sink_rows":$n,"contaminated_docs":$contaminated,""" +
        s""""state":"finished"}""")
    } else if (op == "imagededup") {
      val dupImages = sink.select(col("media_id")).distinct().count()
      println(s"""{"sink_rows":$n,"dup_images":$dupImages,""" +
        s""""state":"finished"}""")
    } else
      println(s"""{"sink_rows":$n,"state":"finished"}""")
    spark.stop()
  }
}
