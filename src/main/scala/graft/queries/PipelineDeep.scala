package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions

/** Second wave of LLM-training-pipeline operators over `documents`, plus
  * statistics/format long-tail items: Gopher-style repetition signals,
  * eval-set decontamination, sliding-window chunking, TF-IDF term ranking,
  * correlation/covariance, fixed-width histograms, deterministic mode
  * (argmax), and an ORC round-trip.
  *
  * Scale posture: every doc-level derivation explodes to (doc_id, token)
  * pairs and aggregates by key — the shuffled rows carry ids + short
  * tokens, never document payloads; the decontamination join is an
  * equi-join on the shingle (bucketed by the shuffle hash), not any
  * all-pairs comparison; ratio math happens on exact integer counts so
  * the DuckDB oracle matches bit-for-bit (no fold-order epsilon).
  */
object PipelineDeep extends QueryModule {

  // Gopher-style repetition signals: duplicate-token ratio, top-token
  // fraction, top-bigram fraction. High values flag boilerplate/spam for
  // quality filtering. Counts aggregate per (doc_id, gram) — two narrow
  // shuffles keyed by doc; all ratios are exact-int divisions.
  private val qRepetition = Q(
    "q_repetition_ratio",
    (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
      val tokCounts = t.select(col("doc_id"), explode(col("t")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      val tokStats = tokCounts.groupBy(col("doc_id")).agg(
        sum(col("c")).as("n_toks"), max(col("c")).as("top_tok"),
        count(lit(1)).as("n_dist"))
      val bi = t.select(col("doc_id"), explode(expr(
        """CASE WHEN size(t) < 2 THEN array()
           ELSE transform(sequence(1, size(t) - 1),
                          i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))
           END""")).as("bg"))
      val biStats = bi.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(sum(col("c")).as("n_bi"), max(col("c")).as("top_bi"))
      tokStats.join(biStats, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          round(lit(1.0) - col("n_dist") / col("n_toks"), 4).as("dup_tok_ratio"),
          round(col("top_tok") / col("n_toks"), 4).as("top_tok_frac"),
          coalesce(round(col("top_bi") / col("n_bi"), 4), lit(0.0)).as("top_bigram_frac"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
           FROM documents),
           tc AS (SELECT doc_id, tok, count(*) AS c
                  FROM (SELECT doc_id, unnest(t) AS tok FROM t) GROUP BY 1, 2),
           ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
                    max(c) AS top_tok, count(*) AS n_dist FROM tc GROUP BY 1),
           bc AS (SELECT doc_id, bg, count(*) AS c
                  FROM (SELECT doc_id, unnest(CASE WHEN len(t) < 2 THEN []::VARCHAR[]
                          ELSE list_transform(range(1, len(t)),
                                              i -> t[i] || ' ' || t[i + 1]) END) AS bg
                        FROM t) GROUP BY 1, 2),
           bs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bi,
                    max(c) AS top_bi FROM bc GROUP BY 1)
           SELECT ts.doc_id,
             round(1.0 - n_dist / n_toks, 4) AS dup_tok_ratio,
             round(top_tok / n_toks, 4) AS top_tok_frac,
             coalesce(round(top_bi / n_bi, 4), 0.0) AS top_bigram_frac
           FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id
           ORDER BY ts.doc_id"""))

  // Eval-set decontamination: flag training docs sharing any 3-token
  // shingle with the held-out split (doc_id % 50 = 0 plays the eval set).
  // The canonical pre-training hygiene pass (e.g. GPT-3 appendix C /
  // PaLM dedup methodology). Equi-join on the shingle string — shuffles
  // (shingle, id) pairs only; the eval side is DISTINCT shingles and
  // at real scale is millions of rows vs the corpus' billions, so AQE
  // broadcasts it.
  private val qDecontaminate = Q(
    "q_decontaminate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.Decontaminate.flagged(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), k = 3)
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
           FROM documents),
           sh AS (SELECT doc_id, unnest(
                    CASE WHEN len(t) = 0 THEN []::VARCHAR[]
                         WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
                         ELSE list_distinct(list_transform(range(1, len(t) - 1),
                                i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) END) AS s
                  FROM t),
           ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0)
           SELECT doc_id, count(DISTINCT s) AS n_shared
           FROM sh JOIN ev USING (s)
           WHERE doc_id % 50 != 0
           GROUP BY doc_id ORDER BY doc_id"""))

  // Fuzzy eval-set decontamination (r12 verdict task 6): the exact pass
  // above misses REORDERED contamination — a paraphrase that shuffles
  // word order shares zero 3-token shingles with its eval source yet is
  // the same content. This pass matches on TOKEN-SET similarity: train
  // docs' unigram token sets → MinHash band index; eval docs probe it
  // (NearDup.matchAgainstBandIndex: banded LSH keeps the candidate join
  // bounded — never all-pairs — and only SURVIVING candidates re-attach
  // shingle arrays for exact verification); exact token-set Jaccard
  // ≥ 0.5 flags the train doc. Output: one row per contaminated train
  // doc with its eval-hit count and worst overlap. MinHash is not
  // SQL-expressible → rows-only check, DedupSpec pins the planted-
  // paraphrase recall the exact pass misses.
  private val qDecontaminateFuzzy = Q(
    "q_decontaminate_fuzzy",
    (s, d) => {
      import graft.operators.NearDup
      val docs = Tables.documents(s, d)
      def tokenSets(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id"),
          graft.functions.TextFunctions.wordShingles(col("text"), 1).as("sh"))
      val idx = NearDup.buildBandIndex(
        tokenSets(docs.filter(col("doc_id") % 50 =!= 0)))
      NearDup.matchAgainstBandIndex(
          tokenSets(docs.filter(col("doc_id") % 50 === 0)), idx,
          threshold = 0.5)
        .groupBy(col("matched_id"))
        .agg(count(lit(1)).as("n_eval_matches"),
          round(max(col("jaccard")), 4).as("max_jaccard"))
        .select(col("matched_id").as("doc_id"),
          col("n_eval_matches"), col("max_jaccard"))
        .orderBy(col("doc_id"))
    })

  // Build-once / probe-many twin of q_decontaminate_fuzzy (r13 verdict
  // task 5 — it was the top sf10 wall consumer at 571 s BECAUSE the
  // in-query form re-signs and re-bands the whole train corpus on every
  // run): the train-side MinHash band index persists as a keyed artifact
  // (NearDup.saveBandIndex, the q_sim_topk_*_loaded convention), and the
  // steady-state query is the PROBE only — sign the eval batch, equi-join
  // the loaded band halves, exact-verify survivors. This is the shape a
  // standing decontamination service runs: the train corpus changes
  // slowly (rebuild on a cadence), the eval/probe side is the hot path.
  // DedupSpec pins loaded == built row-for-row.
  private val qDecontaminateFuzzyLoaded = Q(
    "q_decontaminate_fuzzy_loaded",
    (s, d) => {
      import graft.operators.{ArtifactPaths, NearDup}
      val docs = Tables.documents(s, d)
      def tokenSets(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id"),
          graft.functions.TextFunctions.wordShingles(col("text"), 1).as("sh"))
      val path = ArtifactPaths.keyed(s, "decontamband", s"$d/documents.parquet",
        "tok=1,train=mod50ne0,v=2")
      if (!ArtifactPaths.exists(path))
        NearDup.saveBandIndex(
          tokenSets(docs.filter(col("doc_id") % 50 =!= 0)), path)
      val idx = NearDup.loadBandIndex(s, path)
      NearDup.matchAgainstBandIndex(
          tokenSets(docs.filter(col("doc_id") % 50 === 0)), idx,
          threshold = 0.5)
        .groupBy(col("matched_id"))
        .agg(count(lit(1)).as("n_eval_matches"),
          round(max(col("jaccard")), 4).as("max_jaccard"))
        .select(col("matched_id").as("doc_id"),
          col("n_eval_matches"), col("max_jaccard"))
        .orderBy(col("doc_id"))
    })

  // Sliding-window chunking (64-token windows, stride 48): the context-
  // window shaping pass before embedding/training. Pure per-row explode
  // of an arithmetic sequence — no shuffle at all until the final
  // presentation sort; at scale this is a map-only stage.
  //
  // Start positions stop at n-17: a start s with n - s ≤ 16 would cover
  // only tokens already inside the previous chunk's [s-48, s+16) tail —
  // a fully-redundant trailing chunk, i.e. duplicated training data.
  // Consequence (spec-pinned): every non-final chunk is exactly the full
  // 64-token window, and a final chunk shorter than 17 tokens occurs
  // only when it is the doc's ONLY chunk.
  private val qChunk = Q(
    "q_chunk_overlap",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("n"),
        explode(sequence(lit(0), greatest(col("n") - 17, lit(0)), lit(48)))
          .as("start"))
      .select(col("doc_id"),
        (col("start") / 48).cast("int").as("chunk_id"),
        col("start").cast("long").as("start_tok"),
        least(lit(64), col("n") - col("start")).cast("long").as("chunk_len"))
      .orderBy(col("doc_id"), col("chunk_id")),
    Some("""SELECT doc_id, CAST(start // 48 AS INT) AS chunk_id,
             CAST(start AS BIGINT) AS start_tok,
             CAST(least(64, n - start) AS BIGINT) AS chunk_len
           FROM (SELECT doc_id, n, unnest(range(0, greatest(n - 16, 1), 48)) AS start
                 FROM (SELECT doc_id,
                         len(list_filter(string_split_regex(text, '\s+'),
                                         x -> len(x) > 0)) AS n
                       FROM documents)
                 WHERE n > 0)
           ORDER BY doc_id, chunk_id"""))

  // Materializing chunker — same window/stride arithmetic as
  // q_chunk_overlap but carrying the actual sliced token text (the
  // SCALE.md "metadata-only chunking" gap): tokenize once, explode the
  // chunk starts, `slice` the token array per chunk and re-join. Still a
  // map-only plan (tokenize → explode → project, no shuffle before the
  // output sort); the payload amplification is the declared ~1.33×
  // (64-token window / 48 stride), not a join blow-up.
  private val qChunkText = Q(
    "q_chunk_text",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0), greatest(col("n") - 17, lit(0)), lit(48)))
          .as("start"))
      .select(col("doc_id"),
        (col("start") / 48).cast("int").as("chunk_id"),
        concat_ws(" ", slice(col("toks"), col("start") + 1,
          least(lit(64), col("n") - col("start")))).as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id")),
    Some("""SELECT doc_id, CAST(start // 48 AS INT) AS chunk_id,
             array_to_string(toks[start + 1 : start + least(64, n - start)],
                             ' ') AS chunk_text
           FROM (SELECT doc_id, toks, n,
                   unnest(range(0, greatest(n - 16, 1), 48)) AS start
                 FROM (SELECT doc_id,
                         list_filter(string_split_regex(text, '\s+'),
                                     x -> len(x) > 0) AS toks,
                         len(list_filter(string_split_regex(text, '\s+'),
                                         x -> len(x) > 0)) AS n
                       FROM documents)
                 WHERE n > 0)
           ORDER BY doc_id, chunk_id"""))

  // TF-IDF top-3 terms per document. tf/df/N are exact integer counts;
  // the only float ops are two correctly-rounded divisions and one ln,
  // rounded to 6 decimals BEFORE ranking so both engines rank identical
  // doubles (ties broken by token). Counts aggregate by (doc, token) and
  // (token) — narrow key shuffles; the N-docs scalar broadcasts.
  private val qTfidf = Q(
    "q_tfidf",
    (s, d) => {
      val tc = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val docLen = tc.groupBy(col("doc_id")).agg(sum(col("tf")).as("n_toks"))
      val dfreq = tc.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val scored = tc.join(docLen, "doc_id").join(dfreq, "tok")
        .crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("tok"),
          round((col("tf") / col("n_toks")) * log(col("n_docs") / col("df")), 6)
            .as("tfidf"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("tok"))
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("tok"), col("tfidf"))
        .orderBy(col("doc_id"), col("rnk"))
    },
    Some("""WITH tc AS (SELECT doc_id, tok, count(*) AS tf
                  FROM (SELECT doc_id,
                          unnest(list_filter(string_split_regex(text, '\s+'),
                                             x -> len(x) > 0)) AS tok
                        FROM documents) GROUP BY 1, 2),
           dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_toks FROM tc GROUP BY 1),
           df AS (SELECT tok, count(*) AS df FROM tc GROUP BY 1),
           nd AS (SELECT count(*) AS n_docs FROM documents),
           sc AS (SELECT doc_id, tok,
                    round((tf / n_toks) * ln(n_docs / df), 6) AS tfidf
                  FROM tc JOIN dl USING (doc_id) JOIN df USING (tok) CROSS JOIN nd),
           rk AS (SELECT doc_id, tok, tfidf,
                    CAST(row_number() OVER (PARTITION BY doc_id
                           ORDER BY tfidf DESC, tok) AS INT) AS rnk
                  FROM sc)
           SELECT doc_id, rnk, tok, tfidf FROM rk WHERE rnk <= 3
           ORDER BY doc_id, rnk"""))

  // ---- statistics long tail ----------------------------------------------

  // Correlation + covariance per group (single-pass co-moment aggregates,
  // partial+final like any hash agg). Rounded: both engines fold partial
  // co-moments in different orders; the 1e-9-relative epsilon dies at the
  // 2nd/4th decimal.
  private val qCorr = Q(
    "q_agg_corr",
    (s, d) => Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covar_s"),
        round(covar_pop(col("l_quantity"), col("l_extendedprice")), 2).as("covar_p"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
             round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
             round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_s,
             round(covar_pop(l_quantity, l_extendedprice), 2) AS covar_p,
             count(*) AS n
           FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // Linear-regression aggregates (slope/intercept/R²) per group — the
  // one-pass moment-based OLS both engines implement identically
  // (covar/var ratios); same partial+final shape and the same rounding
  // posture as q_agg_corr (Welford-style merges differ from naive sums
  // in the last bits; the 4-decimal round absorbs it).
  private val qRegression = Q(
    "q_agg_regression",
    (s, d) => Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("intercept"),
        round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2"),
        regr_count(col("l_extendedprice"), col("l_quantity")).as("n"))
      .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
             round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
             round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
             round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
             CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
           FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // Per-group feature normalization — the numeric-prep step before any
  // model sees the column. Group stats join back as a BROADCAST (#groups
  // rows), so normalization is one agg + one map pass, no window over
  // the fact table. Min-max is bit-exact across engines (min/max are
  // order-independent); the z-score rides mean/stddev whose last-bit
  // fold noise the 4-decimal round absorbs.
  private val qNormalize = Q(
    "q_normalize",
    (s, d) => {
      val stats = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("g"))
        .agg(min(col("l_extendedprice")).as("mn"),
          max(col("l_extendedprice")).as("mx"),
          avg(col("l_extendedprice")).as("mean"),
          stddev_pop(col("l_extendedprice")).as("sd"))
      Tables.lineitem(s, d)
        .join(broadcast(stats), col("l_returnflag") === col("g"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round((col("l_extendedprice") - col("mn")) / (col("mx") - col("mn")), 6)
            .as("minmax"),
          round((col("l_extendedprice") - col("mean")) / col("sd"), 4).as("z"),
          col("l_extendedprice"))
        // (okey, ln) is NOT unique in the fixture, and orderBy+limit is a
        // HEAP top-k — ties come back in arbitrary arrival order, unlike
        // a full sort where both engines keep stable file order. The
        // top-k SET is made deterministic by ordering on the exact price
        // (no duplicate (okey, ln, flag, price) rows exist); the final
        // output order uses only output columns, where any remaining
        // ties are fully identical rows.
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_extendedprice"))
        .limit(1000)
        .drop("l_extendedprice")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("minmax"), col("z"))
    },
    Some("""SELECT l_orderkey, l_linenumber, l_returnflag, minmax, z FROM (
             SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
               round((l_extendedprice - min(l_extendedprice) OVER w)
                   / (max(l_extendedprice) OVER w - min(l_extendedprice) OVER w), 6)
                 AS minmax,
               round((l_extendedprice - avg(l_extendedprice) OVER w)
                   / stddev_pop(l_extendedprice) OVER w, 4) AS z
             FROM lineitem
             WINDOW w AS (PARTITION BY l_returnflag)
             ORDER BY l_orderkey, l_linenumber, l_returnflag, l_extendedprice
             LIMIT 1000)
           ORDER BY l_orderkey, l_linenumber, l_returnflag, minmax, z"""))

  // Fixed-width histogram: bucket assignment is a map-side floor division
  // (pushes into the scan projection), then an ordinary partial+final
  // count — the shuffle carries ≤ #buckets rows per partition.
  private val qHistogram = Q(
    "q_histogram",
    (s, d) => Tables.orders(s, d)
      .select(col("o_totalprice"),
        least(floor(col("o_totalprice") / lit(50000.0)), lit(9.0)).cast("long")
          .as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"),
        round(min(col("o_totalprice")), 2).as("lo"),
        round(max(col("o_totalprice")), 2).as("hi"))
      .orderBy(col("bucket")),
    Some("""SELECT CAST(least(floor(o_totalprice / 50000.0), 9.0) AS BIGINT) AS bucket,
             count(*) AS cnt,
             round(min(o_totalprice), 2) AS lo,
             round(max(o_totalprice), 2) AS hi
           FROM orders GROUP BY 1 ORDER BY bucket"""))

  // Deterministic mode (argmax-by-count with lexicographic tie-break):
  // two-level aggregate + rank over the tiny per-group count table. The
  // rank input is #statuses × #priorities rows — nothing at scale.
  private val qArgmax = Q(
    "q_agg_argmax",
    (s, d) => {
      val c = Tables.orders(s, d)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("cnt").desc, col("o_orderpriority"))
      c.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
          col("cnt"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt
           FROM (SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
                   row_number() OVER (PARTITION BY o_orderstatus
                     ORDER BY count(*) DESC, o_orderpriority) AS rn
                 FROM orders GROUP BY o_orderstatus, o_orderpriority)
           WHERE rn = 1 ORDER BY o_orderstatus"""))

  // ---- format long tail ---------------------------------------------------

  // ORC round-trip (Spark's other first-class columnar format): write →
  // read with explicit schema → aggregate; the oracle aggregates the
  // original parquet, so a pass proves the ORC path lost nothing.
  private val qOrcRoundtrip = Q(
    "q_orc_roundtrip",
    (s, d) => {
      // per-JVM fixed path, same reasoning as q_csv_roundtrip
      val tmp = s"${sys.props("java.io.tmpdir")}/graft_orcrt_" +
        s"${d.hashCode.abs}_${ProcessHandle.current().pid()}/ord"
      val src = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      src.write.mode("overwrite").orc(tmp)
      // DECIMAL sum (sf1-oracle doctrine): a double sum of o_totalprice
      // reaches ~3.4e9 at sf10 and drifts past the 2-decimal grid with
      // summation order — caught by the r15 sf10 value gate
      s.read.schema(src.schema).orc(tmp)
        .agg(
          count(lit(1)).as("cnt"),
          round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double").as("sum_price"),
          countDistinct(col("o_orderstatus")).as("nd_status"))
    },
    Some("""SELECT count(*) AS cnt,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
               AS sum_price,
             count(DISTINCT o_orderstatus) AS nd_status
           FROM orders"""))

  override def queries: Seq[Q] = Seq(
    qRepetition, qDecontaminate, qDecontaminateFuzzy,
    qDecontaminateFuzzyLoaded, qChunk, qChunkText,
    qTfidf, qCorr, qRegression, qNormalize, qHistogram, qArgmax,
    qOrcRoundtrip)
}
