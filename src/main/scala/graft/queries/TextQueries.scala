package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.Pin

/** Text analysis + deduplication over the `documents` fixture — the
  * LLM-training-data pipeline surface (SURVEY.md §2 Part B extensions).
  *
  * Scale posture: every per-doc derivation is a codegen'd projection over
  * the scan (no shuffle); dedup group-bys shuffle only (hash, doc_id) pairs
  * (bytes per row, not the documents themselves); pairwise joins are always
  * blocked/bucketed (LSH bands, simhash buckets, n_chars blocks) so the
  * candidate set is ~linear, never the O(n²) cross join.
  */
object TextQueries extends QueryModule {

  // ---- text statistics ----------------------------------------------------

  private val qTextStats = Q(
    "q_text_stats",
    (s, d) => Tables.documents(s, d)
      .select(
        col("doc_id"), col("lang"), col("n_chars"),
        // BIGINT like the oracle's len() counts (r16 typed gate)
        tokenCount(col("text")).cast("long").as("n_tokens"),
        bpeishTokenCount(col("text")).cast("long").as("n_bpeish"),
        round(meanTokenLen(col("text")), 4).as("mean_tok_len"),
        round(punctRatio(col("text")), 4).as("punct_ratio"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, lang, n_chars,
             len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) AS n_tokens,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpeish,
             round(CASE WHEN len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) = 0 THEN 0.0
               ELSE CAST(list_sum(list_transform(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0), t -> len(t))) AS DOUBLE)
                    / len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) END, 4) AS mean_tok_len,
             round(CASE WHEN len(text) = 0 THEN 0.0
               ELSE CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / len(text) END, 4) AS punct_ratio
           FROM documents ORDER BY doc_id"""))

  private val qQuality = Q(
    "q_quality_score",
    (s, d) => Tables.documents(s, d)
      .select(
        col("doc_id"),
        round(stopwordRatio(col("text")), 4).as("stop_ratio"),
        qualityScore(col("text"), col("n_chars")).as("quality"))
      .orderBy(col("doc_id")),
    Some("""WITH t AS (
             SELECT doc_id, n_chars, text,
               list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS ltoks,
               list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
             FROM documents),
           m AS (
             SELECT doc_id, n_chars, ltoks,
               CASE WHEN len(toks) = 0 THEN 0.0
                 ELSE CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks) END AS mtl,
               CASE WHEN len(text) = 0 THEN 0.0
                 ELSE CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / len(text) END AS pr
             FROM t)
           SELECT doc_id,
             round(CASE WHEN len(ltoks) = 0 THEN 0.0
               ELSE CAST(len(list_filter(ltoks, x -> list_contains(
                 ['the','a','an','and','or','of','to','in','is','it',
                  'that','for','on','with','as','at','by','be','this'], x))) AS DOUBLE)
                 / len(ltoks) END, 4) AS stop_ratio,
             round((CASE WHEN n_chars BETWEEN 50 AND 20000 THEN 1.0 ELSE 0.0 END +
                    CASE WHEN mtl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END +
                    CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END) / 3.0, 4) AS quality
           FROM m ORDER BY doc_id"""))

  private val qQualityFilter = Q(
    "q_quality_filter",
    (s, d) => Tables.documents(s, d)
      .filter(col("n_chars").between(100, 10000) &&
        col("lang").isin("en", "es", "de"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), round(avg(col("n_chars")), 4).as("avg_chars"))
      .orderBy(col("lang"), col("source")),
    Some("""SELECT lang, source, count(*) AS n_docs,
             round(avg(n_chars), 4) AS avg_chars
           FROM documents
           WHERE n_chars BETWEEN 100 AND 10000 AND lang IN ('en','es','de')
           GROUP BY lang, source ORDER BY lang, source"""))

  // Learned quality classifier (fastText-style inference): hashed char
  // trigrams → pinned fixed-point weight vector → mean logit + exact
  // integer threshold. The DuckDB oracle replays the ENTIRE dot product
  // in exact arithmetic (md5-fold bucket hash, integer weights, integer
  // sum) — the only float is one final division, derived identically on
  // both engines. See functions/QualityClassifier + plans
  // .HashedNgramLogit. The single `gl` alias is multi-referenced, which
  // blocks CollapseProject from inlining the md5 loop once per output
  // column (spec-pinned).
  private val qualityClassifierGrams =
    """list_transform(range(1, greatest(len(lt) - 1, 1)),
                      i -> substr(lt, i, 3))"""

  private val qualityClassifierLogit =
    """CAST(coalesce(list_sum(list_transform(ngs, ng ->
          ((list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(string_split(substr(md5(ng), 1, 8), ''),
                c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
            (a, x) -> a * 16 + x) % 256) * 2654435761 % 2003) - 1001)),
        0) AS BIGINT)"""

  private val qQualityClassifier = Q(
    "q_quality_classifier",
    (s, d) => {
      import graft.functions.QualityClassifier._
      Tables.documents(s, d)
        .select(col("doc_id"), ngramLogit(lower(col("text"))).as("gl"))
        .select(col("doc_id"),
          col("gl.n_grams").as("n_grams"),
          col("gl.logit").as("logit"),
          score(col("gl.n_grams"), col("gl.logit")).as("score"),
          pass(col("gl.n_grams"), col("gl.logit")).cast("int").as("pass"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH t AS (SELECT doc_id, lower(text) AS lt FROM documents),
           g AS (SELECT doc_id, $qualityClassifierGrams AS ngs FROM t),
           w AS (SELECT doc_id, CAST(len(ngs) AS BIGINT) AS n_grams,
                   $qualityClassifierLogit AS logit
                 FROM g)
           SELECT doc_id, n_grams, logit,
             CAST(CASE WHEN logit < 0
               THEN -(((-logit) * 10000 + 500 * greatest(n_grams, 1))
                      // (1000 * greatest(n_grams, 1)))
               ELSE ((logit * 10000 + 500 * greatest(n_grams, 1))
                     // (1000 * greatest(n_grams, 1))) END AS DOUBLE)
               / 10000.0 AS score,
             CAST(n_grams > 0 AND logit * 20 >= n_grams * 1000 AS INT) AS pass
           FROM w ORDER BY doc_id"""))

  // TRAINING for the classifier above (r13): batch logistic regression
  // over the identical hashed-trigram feature space (plans
  // .HashedNgramCounts — spec-pinned dot(counts, w) == ngramLogit's
  // logit), teacher-distilled from the stopword-ratio heuristic (the
  // classic distill-the-cheap-gate recipe; any binary teacher column —
  // langid, quality seeds — is the same call). The trained intercept
  // absorbs the class prior; the keep rule is the trained threshold
  // (QualityTrainer.keeps: logit + bias·n > 0, exact integers).
  // Deterministic end to end: per-doc gradient factors quantize to
  // fixed-point Longs BEFORE the cross-row fold, so per-bucket gradients
  // are integer sums (partition-order-proof); weight updates happen on
  // the driver in one fixed order. Gradient-descent fixed point is
  // engine-defined (an unrolled SQL oracle would hard-code k sigmoid
  // iterations) → rows-only; QualityTrainerSpec pins a plain-Scala
  // exact replay, cross-partitioning determinism, and held-out
  // separation on planted vocabularies.
  private val qQualityTrain = Q(
    "q_quality_train",
    (s, d) => graft.operators.QualityTrainer.trainDf(
        Tables.documents(s, d).withColumn("y",
          (graft.functions.TextFunctions.stopwordRatio(col("text")) >= 0.06)
            .cast("int")),
        "text", "y", iters = 40, lr = 1.0, dim = 1024)
      .orderBy(col("bucket")))

  // The classifier used the way q_quality_filter uses its heuristics —
  // gate then aggregate — proving threshold parity end to end: the
  // DuckDB replay applies the SAME exact-integer keep decision before
  // the rollup, so a green row means Spark and the oracle kept
  // precisely the same documents.
  private val qQualityClassifierFilter = Q(
    "q_quality_classifier_filter",
    (s, d) => {
      import graft.functions.QualityClassifier._
      Tables.documents(s, d)
        .withColumn("gl", ngramLogit(lower(col("text"))))
        .filter(pass(col("gl.n_grams"), col("gl.logit")))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 4).as("avg_chars"))
        .orderBy(col("lang"), col("source"))
    },
    Some(s"""WITH t AS (SELECT doc_id, lang, source, n_chars,
                   lower(text) AS lt FROM documents),
           g AS (SELECT doc_id, lang, source, n_chars,
                   $qualityClassifierGrams AS ngs FROM t),
           w AS (SELECT lang, source, n_chars,
                   CAST(len(ngs) AS BIGINT) AS n_grams,
                   $qualityClassifierLogit AS logit
                 FROM g)
           SELECT lang, source, count(*) AS n_docs,
             round(avg(n_chars), 4) AS avg_chars
           FROM w
           WHERE n_grams > 0 AND logit * 20 >= n_grams * 1000
           GROUP BY lang, source ORDER BY lang, source"""))

  // Language-ID heuristic — pure regexp counting, so DuckDB can replay
  // the whole decision tree (also pinned by known-vector spec).
  private val qLangId = Q(
    "q_langid",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        langIdHeuristic(col("text")).as("lang_pred"))
      .orderBy(col("doc_id")),
    Some("""WITH c AS (
             SELECT doc_id, lang,
               len(regexp_extract_all(lower(text), '[\x{4e00}-\x{9fff}]')) AS cjk,
               len(regexp_extract_all(lower(text), '[äöüß]')) AS umlaut,
               len(regexp_extract_all(lower(text),
                 '\b(el|la|los|las|una|del|que|es)\b')) AS en_es,
               len(regexp_extract_all(lower(text),
                 '\b(the|and|of|to|is|that)\b')) AS en
             FROM documents)
           SELECT doc_id, lang,
             CASE WHEN cjk > 0 THEN 'zh'
                  WHEN umlaut > 0 THEN 'de'
                  WHEN en_es > en THEN 'es'
                  WHEN en > 0 THEN 'en'
                  ELSE 'und' END AS lang_pred
           FROM c ORDER BY doc_id"""))

  // Document fingerprint (rolling token-polynomial hash; the md5-prefix
  // token hash is engine-independent, so DuckDB replays the exact fold:
  // an inner list_reduce converts each token's md5 hex prefix to an int,
  // an outer list_reduce runs the rolling polynomial).
  private val qFingerprint = Q(
    "q_fingerprint",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
               list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0),
               t -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
                      string_split(substr(md5(t), 1, 8), ''),
                      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
                    (a, x) -> a * 16 + x) % 1000000007)),
               (acc, h) -> (acc * 31 + h) % 2147483647) AS fp
           FROM documents ORDER BY doc_id"""))

  // Vocabulary building: global token frequency top-k — partial
  // aggregation map-side, TakeOrdered for the top-k (no global sort).
  // The counting primitive under any tokenizer-training / data-mixing
  // frequency analysis.
  private val qVocabTopK = Q(
    "q_vocab_topk",
    (s, d) => Tables.documents(s, d)
      // post-explode empty filter: split emits at most one empty leading
      // token per doc, and the codegen'd filter beats an interpreted
      // filter() HOF lambda per row
      .select(explode(split(lower(col("text")), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(50),
    Some("""SELECT token, count(*) AS freq FROM (
             SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                           x -> len(x) > 0)) AS token
             FROM documents) t
           GROUP BY token ORDER BY freq DESC, token LIMIT 50"""))

  // One BPE training iteration (Sennrich et al. 2016, public literature)
  // as a relational query — the tokenizer-training primitive: from word
  // frequencies, count ADJACENT SYMBOL PAIRS weighted by word frequency
  // (character bigrams at step 0; later steps substitute merged symbols,
  // same plan) and emit the top merge candidates with a deterministic
  // tiebreak. Scale posture: this is the inner loop of BPE training at
  // corpus scale — word-freq agg shuffles (word, count) pairs once,
  // pair extraction is a map-side explode over the DISTINCT-WORD table
  // (tiny vs the corpus: pair counting never rescans raw text), partial
  // agg combines hot pairs map-side, TakeOrderedAndProject caps the cut.
  private val qBpeMergeStep = Q(
    "q_bpe_merge_step",
    (s, d) => {
      val words = Tables.documents(s, d)
        .select(explode(split(lower(col("text")), "\\s+")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      words
        .filter(length(col("word")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
          .as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("pair_freq"))
        .orderBy(col("pair_freq").desc, col("pair"))
        .limit(20)
    },
    Some("""WITH w AS (
             SELECT word, count(*) AS freq FROM (
               SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                             x -> len(x) > 0)) AS word
               FROM documents) t GROUP BY word),
           p AS (
             SELECT pair, sum(freq) AS pair_freq FROM (
               SELECT freq,
                 unnest([substr(word, i, 2) FOR i IN range(1, len(word))]) AS pair
               FROM w WHERE len(word) >= 2) t GROUP BY pair)
           SELECT pair, CAST(pair_freq AS BIGINT) AS pair_freq FROM p
           ORDER BY pair_freq DESC, pair LIMIT 20"""))

  // BPE TRAINING LOOP (operators/BpeTrainer) — k=3 merge iterations over
  // the corpus word table, pair statistics maintained incrementally
  // between steps (raw text scanned exactly once; see BpeTrainer
  // scaladoc for the scale posture and the greedy-rewrite equivalence).
  // The oracle unrolls all three iterations as CTE stages (the
  // q_pagerank pattern): character seqs → pair counts → argmax with the
  // same (freq DESC, lhs, rhs) tiebreak → delimiter-encoded string
  // `replace` (exactly the greedy left-to-right non-overlapping
  // rewrite) → recount. Spark's incremental pair table equals DuckDB's
  // full recount at every step because the update arithmetic is exact
  // longs — so a value-equal merge sequence proves the incremental
  // maintenance correct end-to-end.
  private val qBpeTrain = Q(
    "q_bpe_train_k3",
    (s, d) => {
      val words = graft.operators.BpeTrainer.wordFreq(
        Tables.documents(s, d), col("text"))
      val merges = graft.operators.BpeTrainer.train(words, 3)
      graft.operators.BpeTrainer.mergesDf(s, merges)
        .select(col("step"), col("lhs"), col("rhs"), col("pair_freq"))
        .orderBy(col("step"))
    },
    Some("""WITH w AS (
             SELECT word, count(*) AS freq FROM (
               SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                 x -> len(x) > 0 AND NOT regexp_matches(x, '[\x01\x02\x03]'))) AS word
               FROM documents) t GROUP BY word),
           s0 AS (SELECT freq,
                    [substr(word, i, 1) FOR i IN range(1, len(word) + 1)] AS seq
                  FROM w),
           p0 AS (SELECT pr[1] AS lhs, pr[2] AS rhs, sum(freq) AS f FROM (
                    SELECT freq,
                      unnest([[seq[i], seq[i+1]] FOR i IN range(1, len(seq))]) AS pr
                    FROM s0 WHERE len(seq) >= 2) t GROUP BY 1, 2),
           m0 AS (SELECT lhs, rhs, f FROM p0 ORDER BY f DESC, lhs, rhs LIMIT 1),
           s1 AS (SELECT freq,
                    string_split(substr(e, 2, len(e) - 2), chr(2) || chr(1)) AS seq
                  FROM (SELECT s0.freq, replace(
                      chr(1) || array_to_string(s0.seq, chr(2) || chr(1)) || chr(2),
                      chr(1) || m.lhs || chr(2) || chr(1) || m.rhs || chr(2),
                      chr(1) || m.lhs || m.rhs || chr(2)) AS e
                    FROM s0, m0 m) t),
           p1 AS (SELECT pr[1] AS lhs, pr[2] AS rhs, sum(freq) AS f FROM (
                    SELECT freq,
                      unnest([[seq[i], seq[i+1]] FOR i IN range(1, len(seq))]) AS pr
                    FROM s1 WHERE len(seq) >= 2) t GROUP BY 1, 2),
           m1 AS (SELECT lhs, rhs, f FROM p1 ORDER BY f DESC, lhs, rhs LIMIT 1),
           s2 AS (SELECT freq,
                    string_split(substr(e, 2, len(e) - 2), chr(2) || chr(1)) AS seq
                  FROM (SELECT s1.freq, replace(
                      chr(1) || array_to_string(s1.seq, chr(2) || chr(1)) || chr(2),
                      chr(1) || m.lhs || chr(2) || chr(1) || m.rhs || chr(2),
                      chr(1) || m.lhs || m.rhs || chr(2)) AS e
                    FROM s1, m1 m) t),
           p2 AS (SELECT pr[1] AS lhs, pr[2] AS rhs, sum(freq) AS f FROM (
                    SELECT freq,
                      unnest([[seq[i], seq[i+1]] FOR i IN range(1, len(seq))]) AS pr
                    FROM s2 WHERE len(seq) >= 2) t GROUP BY 1, 2),
           m2 AS (SELECT lhs, rhs, f FROM p2 ORDER BY f DESC, lhs, rhs LIMIT 1)
           SELECT CAST(1 AS INTEGER) AS step, lhs, rhs, CAST(f AS BIGINT) AS pair_freq FROM m0
           UNION ALL SELECT 2, lhs, rhs, CAST(f AS BIGINT) FROM m1
           UNION ALL SELECT 3, lhs, rhs, CAST(f AS BIGINT) FROM m2
           ORDER BY step"""))

  // The trained tokenizer APPLIED: learn the same 3 merges, then segment
  // every document through the compiled replace chain (BpeTrainer
  // .segmenter — map-side, no shuffle beyond the training loop's own
  // word-table work). The oracle re-derives the merges (same CTEs as
  // q_bpe_train_k3) and replays the segmentation per word as the same
  // 3-deep nested delimiter-encoded replace — so the replace-chain ==
  // greedy-rewrite equivalence is value-checked over the whole corpus,
  // not just the spec fixture. Output is per-doc subword count + the
  // first-15-token prefix (bounded row width at any scale).
  // Unigram-LM tokenizer training (Kudo 2018 — operators/UnigramTrainer,
  // the SentencePiece sibling of the BPE loop above): 3 Viterbi-EM
  // rounds over the distinct-word table, pruned to 200 pieces. No oracle
  // (the EM fixed point is engine-defined — an unrolled SQL replay would
  // hard-code the Viterbi DP); UnigramTrainerSpec proves exact equality
  // against an independently-written plain-Scala EM replay (the
  // PageRankSpec parity pattern — counts are exact longs, so the
  // distributed aggregation is order-invariant and parity is IEEE-exact).
  private val qUnigramTrain = Q(
    "q_unigram_train",
    (s, d) => {
      import graft.operators.{BpeTrainer, UnigramTrainer}
      val vocab = UnigramTrainer.train(s,
        BpeTrainer.wordFreq(Tables.documents(s, d), col("text")),
        targetVocab = 200)
      import s.implicits._
      vocab.toDF("piece", "cnt", "logp")
        .select(col("piece"), col("cnt"), round(col("logp"), 6).as("logp"))
        .orderBy(col("piece"))
    })

  // The trained unigram vocabulary APPLIED corpus-wide: per-word Viterbi
  // under the broadcast piece map — a map-side projection like
  // q_bpe_segment (rows-only for the same reason as the trainer; the
  // spec pins segmentation parity on the same replay).
  private val qUnigramSegment = Q(
    "q_unigram_segment",
    (s, d) => {
      import graft.operators.{BpeTrainer, UnigramTrainer}
      val docs = Tables.documents(s, d)
      val vocab = UnigramTrainer.train(s,
        BpeTrainer.wordFreq(docs, col("text")), targetVocab = 200)
      UnigramTrainer.segment(s, docs, vocab)
        .select(col("doc_id"), col("n_words"), col("n_pieces"),
          substring(col("seg"), 1, 80).as("head"))
        .orderBy(col("doc_id"))
    })

  private val qBpeSegment = Q(
    "q_bpe_segment",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.operators.BpeTrainer.train(
        graft.operators.BpeTrainer.wordFreq(docs, col("text")), 3)
      docs.select(col("doc_id"),
          graft.operators.BpeTrainer.segmenter(col("text"), merges).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_subwords"),
          array_join(slice(col("toks"), 1, 15), " ").as("head"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH w AS (
             SELECT word, count(*) AS freq FROM (
               SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                 x -> len(x) > 0 AND NOT regexp_matches(x, '[\x01\x02\x03]'))) AS word
               FROM documents) t GROUP BY word),
           s0 AS (SELECT freq,
                    [substr(word, i, 1) FOR i IN range(1, len(word) + 1)] AS seq
                  FROM w),
           p0 AS (SELECT pr[1] AS lhs, pr[2] AS rhs, sum(freq) AS f FROM (
                    SELECT freq,
                      unnest([[seq[i], seq[i+1]] FOR i IN range(1, len(seq))]) AS pr
                    FROM s0 WHERE len(seq) >= 2) t GROUP BY 1, 2),
           m0 AS (SELECT lhs, rhs FROM p0 ORDER BY f DESC, lhs, rhs LIMIT 1),
           s1 AS (SELECT freq,
                    string_split(substr(e, 2, len(e) - 2), chr(2) || chr(1)) AS seq
                  FROM (SELECT s0.freq, replace(
                      chr(1) || array_to_string(s0.seq, chr(2) || chr(1)) || chr(2),
                      chr(1) || m.lhs || chr(2) || chr(1) || m.rhs || chr(2),
                      chr(1) || m.lhs || m.rhs || chr(2)) AS e
                    FROM s0, m0 m) t),
           p1 AS (SELECT pr[1] AS lhs, pr[2] AS rhs, sum(freq) AS f FROM (
                    SELECT freq,
                      unnest([[seq[i], seq[i+1]] FOR i IN range(1, len(seq))]) AS pr
                    FROM s1 WHERE len(seq) >= 2) t GROUP BY 1, 2),
           m1 AS (SELECT lhs, rhs FROM p1 ORDER BY f DESC, lhs, rhs LIMIT 1),
           s2 AS (SELECT freq,
                    string_split(substr(e, 2, len(e) - 2), chr(2) || chr(1)) AS seq
                  FROM (SELECT s1.freq, replace(
                      chr(1) || array_to_string(s1.seq, chr(2) || chr(1)) || chr(2),
                      chr(1) || m.lhs || chr(2) || chr(1) || m.rhs || chr(2),
                      chr(1) || m.lhs || m.rhs || chr(2)) AS e
                    FROM s1, m1 m) t),
           p2 AS (SELECT pr[1] AS lhs, pr[2] AS rhs, sum(freq) AS f FROM (
                    SELECT freq,
                      unnest([[seq[i], seq[i+1]] FOR i IN range(1, len(seq))]) AS pr
                    FROM s2 WHERE len(seq) >= 2) t GROUP BY 1, 2),
           m2 AS (SELECT lhs, rhs FROM p2 ORDER BY f DESC, lhs, rhs LIMIT 1),
           seg AS (
             SELECT doc_id, flatten([
                 string_split(substr(r, 2, len(r) - 2), chr(2) || chr(1))
                 FOR r IN [
                   replace(replace(replace(
                       chr(1) || array_to_string(
                         [substr(wd, i, 1) FOR i IN range(1, len(wd) + 1)],
                         chr(2) || chr(1)) || chr(2),
                     chr(1) || a.lhs || chr(2) || chr(1) || a.rhs || chr(2),
                     chr(1) || a.lhs || a.rhs || chr(2)),
                     chr(1) || b.lhs || chr(2) || chr(1) || b.rhs || chr(2),
                     chr(1) || b.lhs || b.rhs || chr(2)),
                     chr(1) || c.lhs || chr(2) || chr(1) || c.rhs || chr(2),
                     chr(1) || c.lhs || c.rhs || chr(2))
                   FOR wd IN list_filter(string_split_regex(lower(text), '\s+'),
                     x -> len(x) > 0 AND NOT regexp_matches(x, '[\x01\x02\x03]'))
                 ]]) AS toks
             FROM documents, m0 a, m1 b, m2 c)
           SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_subwords,
             array_to_string(toks[1:15], ' ') AS head
           FROM seg ORDER BY doc_id"""))

  // Approximate heavy hitters over the token stream (Karp-Papadimitriou-
  // Shenker frequent-items sketch via DataFrameStatFunctions.freqItems):
  // one pass, O(1/support) state per partition, merge at the driver — the
  // sketch complement to the exact q_vocab_topk (which shuffles the full
  // (token, count) space). Guarantee is one-sided: every token with
  // frequency > support·N is in the sketch (possibly with false
  // positives). The query verifies the sketch against exact counts and
  // emits the verified heavy hitters — sketch ∩ {freq > support·N} — so
  // the result is deterministic and value-oracled: it equals the exact
  // heavy-hitter set IFF the sketch superset guarantee held (a missed
  // heavy hitter drops a row and fails the oracle). The raw-sketch
  // superset property is additionally spec-pinned in TextVectorSpec.
  private val qVocabApprox = Q(
    "q_vocab_approx",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(explode(tokens(lower(col("text")))).as("token"))
      val sketch = toks.stat.freqItems(Seq("token"), 0.01)
        .select(explode(col("token_freqItems")).as("token"))
      val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("freq"))
      // n_total derives from the per-token counts — summing the groupBy
      // output (|vocab| rows) instead of a third full tokenize+explode
      // scan of the corpus
      val total = counts.agg(sum(col("freq")).as("n_total"))
      val heavy = counts.crossJoin(broadcast(total))
        .filter(col("freq") > col("n_total") * 0.01)
        .select(col("token"))
      sketch.join(heavy, Seq("token"), "left_semi").orderBy(col("token"))
    },
    Some("""WITH toks AS MATERIALIZED (
             SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                           t -> len(t) > 0)) AS token
             FROM documents),
           total AS (SELECT count(*) AS n FROM toks)
           SELECT token FROM (
             SELECT token, count(*) AS freq FROM toks GROUP BY token) c, total
           WHERE c.freq > total.n * 0.01
           ORDER BY token"""))

  // PII scrubbing: email / phone / IP / card patterns counted and
  // replaced in a pure per-row projection (order-sensitive chain — see
  // TextFunctions.scrubPii). The fixture is word soup (zero matches —
  // the oracle proves regex parity and the no-op invariant scrub_len =
  // n_chars); planted-PII behavior incl. the whole-sequence-scrub
  // guarantee is pinned in TextVectorSpec.
  private val qPiiScrub = Q(
    "q_pii_scrub",
    (s, d) => Tables.documents(s, d)
      .select(
        col("doc_id"),
        regexp_count(col("text"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(phoneRe)).cast("long").as("n_phones"),
        regexp_count(col("text"), lit(ipRe)).cast("long").as("n_ips"),
        regexp_count(col("text"), lit(ccRe)).cast("long").as("n_cards"),
        length(scrubPii(col("text"))).cast("long").as("scrub_len"))
      .orderBy(col("doc_id")),
    Some(s"""SELECT doc_id,
             CAST(len(regexp_extract_all(text, '$emailRe')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(text, '$phoneRe')) AS BIGINT) AS n_phones,
             CAST(len(regexp_extract_all(text, '$ipRe')) AS BIGINT) AS n_ips,
             CAST(len(regexp_extract_all(text, '$ccRe')) AS BIGINT) AS n_cards,
             CAST(len(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                  text, '$emailRe', '[EMAIL]', 'g'),
                  '$ipRe', '[IP]', 'g'),
                  '$ccRe', '[CARD]', 'g'),
                  '$phoneRe', '[PHONE]', 'g')) AS BIGINT) AS scrub_len
           FROM documents ORDER BY doc_id"""))

  // Sequence packing summary: docs next-fit-packed into 512-token budget
  // sequences (8 fixed hash partitions ⇒ fully deterministic layout);
  // emitted as per-pack (n_docs, tokens_used). Rows-only — the greedy
  // reset-on-overflow has no closed SQL form; SeqPackSpec pins exact
  // packings and the budget/singleton invariants.
  private val qSeqPack = Q(
    "q_seq_pack",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          bpeishTokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.SeqPack.pack(docs, budget = 512, numPartitions = 8).toDF()
        .groupBy(col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens_used"))
        .orderBy(col("pack_id"))
    })

  // ---- deduplication family ----------------------------------------------

  // Exact dedup: hash-groupBy on sha256(text), keep min doc_id. Only the
  // 32-byte digest + id shuffles — at 100 TB the text never moves.
  private val qDedupExact = Q(
    "q_dedup_exact",
    (s, d) => Tables.documents(s, d)
      .groupBy(sha2(col("text").cast("binary"), 256).as("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy(col("h")),
    Some("""SELECT sha256(text) AS h, min(doc_id) AS keeper,
             count(*) AS n_copies
           FROM documents GROUP BY sha256(text) ORDER BY h"""))

  // Survivors after exact dedup (the actual pipeline output shape).
  private val qDedupExactSurvivors = Q(
    "q_dedup_exact_survivors",
    (s, d) => {
      val keep = Tables.documents(s, d)
        .groupBy(sha2(col("text").cast("binary"), 256).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      keep.join(Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, lang, n_chars FROM documents
           WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY sha256(text))
           ORDER BY doc_id"""))

  // BM25 keyword search: rank documents for a fixed 3-term query. The
  // corpus statistics (N, avgdl, per-term df) are one partial+final agg
  // over the token stream, then broadcast — the per-doc scoring pass is a
  // map-side projection. The per-term contributions are summed in FIXED
  // column order (one conditional sum per query term), so the double
  // fold order is identical in Spark and DuckDB — a plain groupBy sum of
  // contributions would be order-nondeterministic in the 15th decimal.
  // Scale posture: tf shuffles only (doc_id, term, count) for the ≤|Q|
  // query terms per doc; document text never leaves the scan.
  private val bm25K1 = 1.2
  private val bm25B = 0.75
  private val bm25Terms = Seq("hash", "join", "merge")

  private val qBm25 = Q(
    "q_bm25_search",
    (s, d) => {
      // ONE tokenize pass over the corpus: the materialized projection is
      // (doc_id, dl, query-term hits) — a few bytes per doc — feeding the
      // stats agg, the df agg and the tf agg; without the checkpoint each
      // consumer re-tokenizes the full text column (the dominant cost,
      // 3× at any scale). The query-term filter runs INSIDE the array
      // before explode, so the generator emits |Q∩doc| rows per doc,
      // not dl.
      val base = Pin(Tables.documents(s, d)
        .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("double").as("dl"),
          filter(col("toks"), t => t.isInCollection(bm25Terms)).as("hits")))
      val stats = base.agg(
        count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
      val tf = base
        .select(col("doc_id"), col("dl"), explode(col("hits")).as("term"))
        .groupBy(col("doc_id"), col("dl"), col("term"))
        .agg(count(lit(1)).cast("double").as("tf"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
      val contrib = tf
        .join(broadcast(dfreq), "term")
        .crossJoin(broadcast(stats))
        .withColumn("idf",
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
        .withColumn("c",
          col("idf") * col("tf") * lit(bm25K1 + 1.0) /
            (col("tf") + lit(bm25K1) *
              (lit(1.0 - bm25B) + lit(bm25B) * col("dl") / col("avgdl"))))
      val perTerm = bm25Terms.zipWithIndex.map { case (t, i) =>
        sum(when(col("term") === t, col("c"))).as(s"c$i")
      }
      contrib.groupBy(col("doc_id"))
        .agg(perTerm.head, perTerm.tail: _*)
        .withColumn("score",
          round(bm25Terms.indices
            .map(i => coalesce(col(s"c$i"), lit(0.0)))
            .reduce(_ + _), 4))
        .select(col("doc_id"), col("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    },
    Some(s"""WITH docs AS (
             SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), t -> len(t) > 0) AS toks
             FROM documents),
           dd AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, toks FROM docs),
           stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dd),
           tf AS (
             SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
             FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dd) x
             WHERE term IN ('hash','join','merge')
             GROUP BY doc_id, dl, term),
           dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
           c AS (
             SELECT tf.doc_id, tf.term,
               ln(1.0 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                 * tf.tf * ${bm25K1 + 1.0}
                 / (tf.tf + $bm25K1 * (${1.0 - bm25B} + $bm25B * tf.dl / s.avgdl)) AS c
             FROM tf JOIN dfreq USING (term) CROSS JOIN stats s)
           SELECT doc_id,
             round(coalesce(sum(CASE WHEN term = 'hash'  THEN c END), 0.0)
                 + coalesce(sum(CASE WHEN term = 'join'  THEN c END), 0.0)
                 + coalesce(sum(CASE WHEN term = 'merge' THEN c END), 0.0), 4) AS score
           FROM c GROUP BY doc_id
           ORDER BY score DESC, doc_id LIMIT 20"""))

  // N-gram (3-shingle) Jaccard near-dup via the PREFIX-FILTERED shingle
  // inverted index in NearDup.jaccardPairs (SSJoin/AllPairs kernel): each
  // doc indexes only its ⌈(1−τ)n⌉+1 rarest shingles, so hot-shingle df²
  // fan-out — the quadratic scale-killer of the naive inverted index — is
  // structurally capped. The oracle recomputes shingles + ALL-PAIRS
  // jaccard in DuckDB (list comprehension + list_intersect), so a green
  // row is an end-to-end proof the prefix filter loses no pair on the
  // real fixture. DedupSpec pins planted pairs + the hot-shingle case.
  // Shared DuckDB CTEs: 3-shingle sets per document (t+s), and the
  // all-pairs jaccard join (p) — used by the jaccard oracle, replayed as
  // the edge set of the cluster-formation oracle, and (t+s alone) by the
  // incremental batch-vs-corpus oracle.
  private val shingleCte =
    """t AS (
             SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
             FROM documents),
           s AS (
             SELECT doc_id,
               CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
                    ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                                        FOR i IN range(1, len(toks) - 1)]) END AS sh
             FROM t
             WHERE len(toks) > 0)"""

  private val jaccardCtePrefix =
    s"""$shingleCte,
           p AS (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_intersect(a.sh, b.sh)) AS inter,
               len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS uni
             FROM s a JOIN s b ON a.doc_id < b.doc_id)"""

  private val qDedupJaccard = Q(
    "q_dedup_ngram_jaccard",
    (s, d) => graft.operators.NearDup.jaccardPairs(
        Tables.documents(s, d)
          .select(col("doc_id"), wordShingles(col("text"), 3).as("sh")))
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH $jaccardCtePrefix
           SELECT id_a, id_b, round(CAST(inter AS DOUBLE) / uni, 4) AS jaccard
           FROM p
           WHERE round(CAST(inter AS DOUBLE) / uni, 4) >= 0.8
           ORDER BY id_a, id_b"""))

  // Incremental (batch-vs-corpus) NEAR-dup — the near-dup analog of
  // q_dedup_incremental's exact digest anti-join, same daily-ingest shape:
  // today's batch (doc_id % 10 = 0) is matched against the standing corpus
  // by exact 3-shingle Jaccard through the cross-set prefix-filter kernel
  // (NearDup.jaccardMatchesAgainst). The oracle recomputes the FULL
  // batch×corpus jaccard in DuckDB, so a green row proves the cross-set
  // prefix filter loses no pair on the real fixture.
  private val qDedupJaccardIncremental = Q(
    "q_dedup_jaccard_incremental",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), wordShingles(col("text"), 3).as("sh"))
      graft.operators.NearDup.jaccardMatchesAgainst(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0))
        .orderBy(col("doc_id"), col("matched_id"))
    },
    Some(s"""WITH $shingleCte,
           p AS (
             SELECT a.doc_id AS doc_id, b.doc_id AS matched_id,
               len(list_intersect(a.sh, b.sh)) AS inter,
               len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS uni
             FROM s a JOIN s b ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0)
           SELECT doc_id, matched_id,
             round(CAST(inter AS DOUBLE) / uni, 4) AS jaccard
           FROM p
           WHERE round(CAST(inter AS DOUBLE) / uni, 4) >= 0.8
           ORDER BY doc_id, matched_id"""))

  // Loaded-index twin of q_dedup_jaccard_incremental (VERDICT r6 #2):
  // the corpus token-prefix inverted index + frozen canonical order are
  // built ONCE into a fingerprint-keyed artifact
  // (NearDup.saveJaccardIndex), and the daily batch probes the LOADED
  // index (jaccardMatchesAgainstLoaded) — no per-call union-df recompute,
  // no corpus re-checkpoint. Both paths are lossless filters in front of
  // the same exact verification, so this twin keeps the FULL batch×corpus
  // DuckDB replay as a value oracle: a green row proves the frozen-order
  // probe loses no pair either.
  private val qDedupJaccardIncrLoaded = Q(
    "q_dedup_jaccard_incr_loaded",
    (s, d) => {
      import graft.operators.{ArtifactPaths, NearDup}
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), wordShingles(col("text"), 3).as("sh"))
      val path = ArtifactPaths.keyed(s, "jacidx", s"$d/documents.parquet",
        "tau=0.8,shingle=3,corpus=mod10ne0,v=3")
      if (!ArtifactPaths.exists(path))
        NearDup.saveJaccardIndex(docs.filter(col("doc_id") % 10 =!= 0), path)
      NearDup.jaccardMatchesAgainstLoaded(
          docs.filter(col("doc_id") % 10 === 0), s, path)
        .orderBy(col("doc_id"), col("matched_id"))
    },
    qDedupJaccardIncremental.oracle)

  // Tombstone-delete twin (r8, VERDICT r7 #1): the takedown path under a
  // VALUE oracle, not just specs. The corpus index is built over the
  // full corpus (doc_id % 10 ≠ 0), then the day-2 slice
  // (doc_id % 10 = 2, chosen because it contains real matched ids at
  // the driver gate scale, so the oracle is NON-vacuous) is DELETED via the tombstone table
  // (operators/Tombstones — O(removed) id rows, no rebuild; the probe's
  // ids-only candidate side anti-joins them out at load). Oracle: the
  // DuckDB all-pairs replay of batch × (corpus MINUS the deleted slice)
  // — a green row proves the delete removes exactly the tombstoned ids'
  // pairs and nothing else, i.e. probe-after-delete ==
  // probe-against-rebuilt-without-ids at oracle strength.
  private val qDedupJaccardIncrDeleted = Q(
    "q_dedup_jaccard_incr_deleted",
    (s, d) => {
      import graft.operators.{ArtifactPaths, NearDup, Tombstones}
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), wordShingles(col("text"), 3).as("sh"))
      val path = ArtifactPaths.keyed(s, "jacidx", s"$d/documents.parquet",
        "tau=0.8,shingle=3,corpus=mod10ne0,deleted=mod10eq2,v=3")
      // two-phase build (save, then delete): commit on a marker written
      // after BOTH phases, same posture as the appended twin — a crash
      // between save and delete must not leave a complete-LOOKING index
      // still serving the to-be-deleted ids
      val done = new java.io.File(s"$path/delete.done")
      if (!done.isFile) {
        NearDup.saveJaccardIndex(docs.filter(col("doc_id") % 10 =!= 0), path)
        Tombstones.deleteIds(path,
          docs.filter(col("doc_id") % 10 === 2).select(col("doc_id")))
        done.createNewFile()
      }
      NearDup.jaccardMatchesAgainstLoaded(
          docs.filter(col("doc_id") % 10 === 0), s, path)
        .orderBy(col("doc_id"), col("matched_id"))
    },
    Some(s"""WITH $shingleCte,
           p AS (
             SELECT a.doc_id AS doc_id, b.doc_id AS matched_id,
               len(list_intersect(a.sh, b.sh)) AS inter,
               len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS uni
             FROM s a JOIN s b
               ON a.doc_id % 10 = 0 AND b.doc_id % 10 NOT IN (0, 2))
           SELECT doc_id, matched_id,
             round(CAST(inter AS DOUBLE) / uni, 4) AS jaccard
           FROM p
           WHERE round(CAST(inter AS DOUBLE) / uni, 4) >= 0.8
           ORDER BY doc_id, matched_id"""))

  // Appended-index twin (r7 index maintenance): the corpus index is built
  // on day-0 docs (doc_id % 10 > 1) and day-1 docs (doc_id % 10 = 1) are
  // APPENDED under the frozen day-0 shingle order
  // (NearDup.appendToJaccardIndex) — the standing-pipeline ingest path
  // where the inverted index grows daily without a rebuild. The batch
  // then probes the grown index. The oracle is the full batch × FULL
  // corpus (day0 ∪ day1) DuckDB replay — identical SQL to
  // q_dedup_jaccard_incremental — so a green row proves append loses no
  // pair: frozen-order prefixes stay lossless as the corpus grows.
  private val qDedupJaccardIncrAppended = Q(
    "q_dedup_jaccard_incr_appended",
    (s, d) => {
      import graft.operators.{ArtifactPaths, NearDup}
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), wordShingles(col("text"), 3).as("sh"))
      val path = ArtifactPaths.keyed(s, "jacidx", s"$d/documents.parquet",
        "tau=0.8,shingle=3,corpus=mod10gt1,appended=mod10eq1,v=3")
      // two-phase build → the save's own meta marker is not enough: a
      // crash between save and append would leave a complete-LOOKING
      // index missing day-1. The build commits on a marker written after
      // BOTH phases.
      val done = new java.io.File(s"$path/append.done")
      if (!done.isFile) {
        NearDup.saveJaccardIndex(docs.filter(col("doc_id") % 10 > 1), path)
        NearDup.appendToJaccardIndex(docs.filter(col("doc_id") % 10 === 1),
          s, path)
        done.createNewFile()
      }
      NearDup.jaccardMatchesAgainstLoaded(
          docs.filter(col("doc_id") % 10 === 0), s, path)
        .orderBy(col("doc_id"), col("matched_id"))
    },
    qDedupJaccardIncremental.oracle)

  // Asymmetric containment dedup (quote-inclusion / page-wraps-article —
  // the case Jaccard misses): smaller doc's shingles ≥ 90% inside the
  // larger's. Prefix filter on the contained side only (inherent — see
  // operators/NearDup.containmentPairs scaladoc).
  private val qDedupContainment = Q(
    "q_dedup_containment",
    (s, d) => graft.operators.NearDup.containmentPairs(
        Tables.documents(s, d)
          .select(col("doc_id"), wordShingles(col("text"), 3).as("sh")))
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH $jaccardCtePrefix,
           pc AS (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_intersect(a.sh, b.sh)) AS inter, len(a.sh) AS n_a
             FROM s a JOIN s b ON a.doc_id <> b.doc_id
               AND (len(a.sh) < len(b.sh) OR
                    (len(a.sh) = len(b.sh) AND a.doc_id < b.doc_id)))
           SELECT id_a, id_b,
                  round(CAST(inter AS DOUBLE) / n_a, 4) AS containment
           FROM pc
           WHERE round(CAST(inter AS DOUBLE) / n_a, 4) >= 0.9
           ORDER BY id_a, id_b"""))

  // Exact duplicated-window (substring-level) dedup signal — the class
  // Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
  // Better", public literature) call exact-substring dedup, recast at
  // k-token window granularity for a relational engine: every distinct
  // 8-token sliding window of every document, a window "duplicated" iff
  // its text occurs in ≥2 documents; per doc, the duplicated-window
  // fraction is the removal/trim signal (doc-level Jaccard misses a
  // boilerplate paragraph pasted into otherwise-distinct pages — this
  // catches it).
  //
  // Scale posture: windows never shuffle as TEXT. Each window is reduced
  // to a 128-bit key (two differently-seeded hashes of the same xxhash64
  // family — h2 seed-chains through XXH64(1), so the halves are not
  // independent and the ideal 2^-128 bound is optimistic, but the
  // pair is still far beyond a single 64-bit key, which would already
  // be colliding at 10^12 corpus windows). Both exchanges — the
  // groupBy(wh) count and the join back — carry ~24 B/row. The count
  // side is a partial-agg
  // groupBy (hot boilerplate windows combine map-side); the join back is
  // an equi-join AQE can skew-split, deliberately NOT a
  // count-over-Window (WindowExec buffers whole partitions — a
  // boilerplate window shared by 10^8 docs would buffer 10^8 rows in
  // one task). Catalyst's ReuseExchange dedups the shared scan→hash
  // subplan, so the window set is computed once.
  private val qDedupSubstring = Q(
    "q_dedup_substring",
    (s, d) => {
      // one-pass native window keys (r20): bit-identical to the explode
      // (wordShingles) → double-xxhash shape — see graft.plans.SpanKeys
      val wins = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions.spanKeys(col("text"), 8))
            .as("wh"))
      val counts = wins.groupBy(col("wh")).agg(count(lit(1)).as("nd"))
      wins.join(counts, "wh")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("dup_windows"))
        .withColumn("dup_frac",
          round(col("dup_windows").cast("double") / col("n_windows"), 4))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (
             SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
             FROM documents),
           w AS (
             SELECT doc_id,
               CASE WHEN len(toks) <= 7 THEN [array_to_string(toks, ' ')]
                    ELSE list_distinct([array_to_string(toks[i:i+7], ' ')
                                        FOR i IN range(1, len(toks) - 6)]) END AS ws
             FROM t WHERE len(toks) > 0),
           e AS (SELECT doc_id, unnest(ws) AS w FROM w),
           g AS (SELECT w, count(*) AS nd FROM e GROUP BY w)
           SELECT e.doc_id,
             count(*) AS n_windows,
             CAST(sum(CASE WHEN g.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_windows,
             round(CAST(sum(CASE WHEN g.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*), 4) AS dup_frac
           FROM e JOIN g USING (w)
           GROUP BY e.doc_id ORDER BY doc_id"""))

  // Corpus-level twin of q_dedup_substring: the top boilerplate windows
  // themselves — WHAT is duplicated, not just how much per doc (the
  // report a pipeline operator reads before writing a trim rule).
  // Grouping is directly on the window TEXT: unlike q_dedup_substring
  // (where only the hash key crosses the wire), this query must carry
  // the window string through the exchange anyway as the report's
  // output, so a hash key would save nothing and only add a collision
  // mode that could merge two distinct windows and inflate n_docs.
  // Map-side combine still collapses repeats, so the exchange carries
  // ONE window-sized string per distinct window per input partition —
  // the q_vocab_topk heavy-hitter shape. At 10^12 distinct windows an
  // exact top-k is inherently a full agg; the production screening pass
  // is the sketched twin (CMS + heap, cf. q_sketch_cms) with this query
  // as the exact replay over the screened suspects.
  // TakeOrderedAndProject keeps the final cut at 20 rows per partition,
  // never a global sort.
  private val qDedupSubstringTop = Q(
    "q_dedup_substring_top",
    (s, d) => {
      Tables.documents(s, d)
        .select(explode(wordShingles(col("text"), 8)).as("w"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") > 1)
        .orderBy(col("n_docs").desc, col("w"))
        .limit(20)
        .select(col("w").as("window_text"), col("n_docs"))
    },
    Some("""WITH t AS (
             SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
             FROM documents),
           w AS (
             SELECT doc_id,
               CASE WHEN len(toks) <= 7 THEN [array_to_string(toks, ' ')]
                    ELSE list_distinct([array_to_string(toks[i:i+7], ' ')
                                        FOR i IN range(1, len(toks) - 6)]) END AS ws
             FROM t WHERE len(toks) > 0),
           e AS (SELECT doc_id, unnest(ws) AS w FROM w),
           g AS (SELECT w AS window_text, count(*) AS n_docs FROM e GROUP BY w)
           SELECT window_text, n_docs FROM g WHERE n_docs > 1
           ORDER BY n_docs DESC, window_text LIMIT 20"""))

  // Shared DuckDB prefix for the token-span pair queries: 15-token
  // windows (the fixture's docs run 10-99 tokens; the operator default is
  // the literature-standard 50 — Lee et al. 2022), distinct per doc, df
  // counted corpus-wide, spans with 2 ≤ df ≤ 20 survive to pair
  // formation (df > 20 = boilerplate, routed to the trim-rule report —
  // the declared candidate-explosion cap, replayed here exactly).
  private val tokenSpanCte =
    """t AS (
         SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
       w AS (
         SELECT doc_id,
           CASE WHEN len(toks) <= 14 THEN [array_to_string(toks, ' ')]
                ELSE list_distinct([array_to_string(toks[i:i+14], ' ')
                                    FOR i IN range(1, len(toks) - 13)]) END AS ws
         FROM t WHERE len(toks) > 0),
       ew AS (SELECT doc_id, unnest(ws) AS w FROM w),
       g AS (SELECT w, count(*) AS nd FROM ew GROUP BY w),
       hot AS (SELECT w FROM g WHERE nd BETWEEN 2 AND 20),
       dupw AS (SELECT ew.doc_id, ew.w FROM ew JOIN hot USING (w))"""

  // Token-window span dedup at DOCUMENT-PAIR granularity (Lee et al.
  // 2022's exact-substring dedup re-expressed relationally): which doc
  // pairs share a duplicated k-token span — the input the dedup DECISION
  // needs, where q_dedup_substring only scores each doc's duplicated
  // fraction. Scale posture in NearDup.tokenSpanPairs (128-bit keys on
  // every exchange, df-capped per-key fan-out). Oracle replays the
  // token windows, the df band, and the pair counts exactly.
  private val qDedupTokenSpans = Q(
    "q_dedup_token_spans",
    (s, d) => graft.operators.NearDup.tokenSpanPairs(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        spanTokens = 15, maxDf = 20)
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH $tokenSpanCte
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
           FROM dupw a JOIN dupw b ON a.w = b.w AND a.doc_id < b.doc_id
           GROUP BY 1, 2 ORDER BY 1, 2"""))

  // The span pairs feeding the SAME connected-components keeper operator
  // the jaccard and embedding families use (operators/DedupClusters) —
  // operator composition, value-checked end to end: DuckDB recomputes
  // the pairs AND the transitive closure (recursive CTE) and the keeper
  // labels must match exactly.
  private val qDedupTokenClusters = Q(
    "q_dedup_token_clusters",
    (s, d) => graft.operators.DedupClusters.keepers(
      graft.operators.NearDup.tokenSpanPairs(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          spanTokens = 15, maxDf = 20)
        .select(col("id_a"), col("id_b"))),
    Some(s"""WITH RECURSIVE $tokenSpanCte,
           jp AS (
             SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM dupw a JOIN dupw b ON a.w = b.w AND a.doc_id < b.doc_id),
           e2 AS MATERIALIZED (
             SELECT id_a AS u, id_b AS v FROM jp
             UNION
             SELECT id_b AS u, id_a AS v FROM jp),
           reach(u, v) AS (
             SELECT u, v FROM e2
             UNION
             SELECT r.u, e2.v FROM reach r JOIN e2 ON r.v = e2.u),
           lbl AS (
             SELECT u AS doc_id, least(u, min(v)) AS cluster_id
             FROM reach GROUP BY u)
           SELECT cluster_id, cluster_id AS keeper, count(*) AS n_members
           FROM lbl GROUP BY cluster_id ORDER BY cluster_id"""))

  // One doubling-ladder rung of the maximal-span oracle: replays the
  // Spark side exactly — windows at width `w` over docs with ≥ w tokens
  // (no whole-text fallback), df band [2, 20], pair counts.
  private def spanRungCte(w: Int) =
    s"""ew$w AS (
         SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+${w - 1}], ' ')
                     FOR i IN range(1, len(toks) - ${w - 2})])) AS s
         FROM t WHERE len(toks) >= $w),
       g$w AS (SELECT s, count(*) AS nd FROM ew$w GROUP BY s),
       hot$w AS (SELECT s FROM g$w WHERE nd BETWEEN 2 AND 20),
       dupw$w AS (SELECT ew$w.doc_id, ew$w.s FROM ew$w JOIN hot$w USING (s)),
       p$w AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, $w AS w,
                 count(*) AS n_shared
               FROM dupw$w a JOIN dupw$w b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2)"""

  // Maximal shared-span dedup (the suffix-array half of Lee et al. 2022,
  // distributed as a doubling ladder — NearDup.spanMaximalPairs scaladoc
  // has the approximation argument): widths 15/30/60 on this fixture
  // (docs are 10–100 tokens), each pair reports its largest matching
  // rung + the shared-window count at that rung. Oracle replays every
  // rung (windows, ≥ w-token doc filter, df band) and the max_by fold.
  private val qDedupSpanMaximal = Q(
    "q_dedup_span_maximal",
    (s, d) => graft.operators.NearDup.spanMaximalPairs(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        baseTokens = 15, levels = 3, maxDf = 20)
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH t AS (
             SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks
             FROM documents),
           ${spanRungCte(15)},
           ${spanRungCte(30)},
           ${spanRungCte(60)},
           allp AS (SELECT * FROM p15 UNION ALL SELECT * FROM p30
                    UNION ALL SELECT * FROM p60)
           SELECT id_a, id_b, max(w) AS span_tokens,
             max_by(n_shared, w) AS n_shared
           FROM allp GROUP BY 1, 2 ORDER BY 1, 2"""))

  // Unigram LM quality score (CCNet-style) via the shared
  // operators/LmScore implementation (also PipelineMain's enrichment
  // stage). Determinism: per-doc contributions fold in SORTED token
  // order via a sequential HOF fold on both engines (DuckDB:
  // `list_reduce(list(c ORDER BY token))`) — a plain groupBy sum of
  // doubles would be order-nondeterministic across cluster layouts and
  // engines. See LmScore scaladoc for the full scale posture.
  private val qLmScore = Q(
    "q_lm_score",
    (s, d) => graft.operators.LmScore.nll(
        Tables.documents(s, d)
          .select(col("doc_id"), tokens(lower(col("text"))).as("toks")))
      .orderBy(col("doc_id")),
    Some("""WITH toks AS (
             SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS toks
             FROM documents),
           ts AS (SELECT doc_id, unnest(toks) AS token FROM toks),
           freq AS (SELECT token, count(*) AS cnt FROM ts GROUP BY token),
           tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t,
                          CAST(count(*) AS DOUBLE) AS v FROM freq),
           tf AS (SELECT doc_id, token, count(*) AS tf FROM ts GROUP BY doc_id, token),
           c AS (
             SELECT tf.doc_id, tf.token, tf.tf,
               CAST(tf.tf AS DOUBLE) * ln((CAST(freq.cnt AS DOUBLE) + 1.0) / (tot.t + tot.v)) AS c
             FROM tf JOIN freq USING (token) CROSS JOIN tot)
           SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
             round(-(CAST(sum(CAST(round(c * 17179869184.0) AS BIGINT)) AS DOUBLE)
                     / 17179869184.0)
                   / CAST(sum(tf) AS DOUBLE), 4) AS nll
           FROM c GROUP BY doc_id ORDER BY doc_id"""))

  // Perplexity-bucket mixture resampling — CCNet's curation recipe
  // (Wenzek et al. 2020, "CCNet: Extracting high quality monolingual
  // datasets from web crawl data" — public literature): score every doc
  // with the unigram-LM NLL (the q_lm_score operator), split each
  // LANGUAGE into equi-depth perplexity terciles (head = cleanest third),
  // and resample with integer per-bucket copy weights (head×3, middle×2,
  // tail×1 — the oversample-the-head move). Composition of existing
  // operators end to end; scale posture: the per-language tercile rank
  // comes from ONE GlobalIndex range-exchange ordinal on
  // (lang, nll, doc_id) — per-language rank = ord − min(ord | lang), a
  // tiny broadcast of per-language offsets — never a
  // partition-by-language window (one task would own all of 'en' at
  // corpus scale). Buckets are exact integer arithmetic
  // ((rank·3) DIV n_lang), the q_agg_equidepth contract, so DuckDB's
  // window replay agrees row-for-row; copies explode via sequence().
  private val qSamplePplBuckets = Q(
    "q_sample_ppl_buckets",
    (s, d) => {
      import graft.operators.GlobalIndex
      val docs = Tables.documents(s, d)
      val scored = docs.select(col("doc_id"), col("lang"))
        .join(graft.operators.LmScore.nll(
          docs.select(col("doc_id"), tokens(lower(col("text"))).as("toks"))),
          "doc_id")
        .select(col("doc_id"), col("lang"), col("nll"))
      val ord = GlobalIndex.withOrdinal(scored, "ord",
        col("lang"), col("nll"), col("doc_id"))
      val langStats = ord.groupBy(col("lang"))
        .agg(min(col("ord")).as("off"), count(lit(1)).as("n_lang"))
      ord.join(broadcast(langStats), "lang")
        .withColumn("bucket",
          expr("CAST(((ord - off) * 3) DIV n_lang AS BIGINT)"))
        .withColumn("copies",
          when(col("bucket") === 0, 3L).when(col("bucket") === 1, 2L)
            .otherwise(1L))
        .select(col("doc_id"), col("lang"), col("nll"), col("bucket"),
          col("copies"),
          explode(sequence(lit(1L), col("copies"))).as("copy_idx"))
        .orderBy(col("doc_id"), col("copy_idx"))
    },
    Some("""WITH toks AS (
             SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS toks
             FROM documents),
           ts AS (SELECT doc_id, unnest(toks) AS token FROM toks),
           freq AS (SELECT token, count(*) AS cnt FROM ts GROUP BY token),
           tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t,
                          CAST(count(*) AS DOUBLE) AS v FROM freq),
           tf AS (SELECT doc_id, token, count(*) AS tf FROM ts GROUP BY doc_id, token),
           c AS (
             SELECT tf.doc_id, tf.token, tf.tf,
               CAST(tf.tf AS DOUBLE) * ln((CAST(freq.cnt AS DOUBLE) + 1.0) / (tot.t + tot.v)) AS c
             FROM tf JOIN freq USING (token) CROSS JOIN tot),
           lm AS (
             SELECT doc_id,
               round(-(CAST(sum(CAST(round(c * 17179869184.0) AS BIGINT)) AS DOUBLE)
                       / 17179869184.0)
                     / CAST(sum(tf) AS DOUBLE), 4) AS nll
             FROM c GROUP BY doc_id),
           scored AS (
             SELECT d.doc_id, d.lang, lm.nll
             FROM lm JOIN documents d USING (doc_id)),
           r AS (
             SELECT doc_id, lang, nll,
               row_number() OVER (PARTITION BY lang ORDER BY nll, doc_id) - 1 AS r,
               count(*) OVER (PARTITION BY lang) AS n
             FROM scored),
           b AS (SELECT doc_id, lang, nll, (r * 3) // n AS bucket FROM r),
           cp AS (SELECT doc_id, lang, nll, bucket,
                    CAST(CASE bucket WHEN 0 THEN 3 WHEN 1 THEN 2
                         ELSE 1 END AS BIGINT) AS copies
                  FROM b)
           SELECT doc_id, lang, nll, bucket, copies,
             unnest(generate_series(1, copies)) AS copy_idx
           FROM cp ORDER BY doc_id, copy_idx"""))

  // DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  // public literature): select raw-corpus documents that look like a
  // TARGET distribution using hashed n-gram importance weights. Features
  // are word unigrams + bigrams hashed into B=1024 buckets (the
  // md5-prefix integer both engines can compute — the q_fingerprint
  // device); the target here is the fixture's English slice
  // (lang = 'en'). Per document, log w = Σ_features ln p̂(b) − ln q̂(b)
  // with add-1 smoothing over target/raw bucket counts; the top quarter
  // by weight is selected. DSIR proper samples with Gumbel noise —
  // deterministic top-k is the reproducible variant (zero RNG state, the
  // sampling-family rule here).
  //
  // Scale posture: the bucket tables are B rows (broadcast); per-doc
  // weights are one groupBy over the exploded features with the
  // contributions quantized to fixed-point Longs before the sum
  // (LmScore.FixedPointScale) — exact integer addition is
  // order-independent, so the fold is bit-stable under any partitioning
  // and DuckDB replays it as a plain spillable integer sum;
  // the global rank is a GlobalIndex range-exchange ordinal, never a
  // single-partition window.
  private val qSampleDsir = Q(
    "q_sample_dsir",
    (s, d) => {
      import graft.operators.GlobalIndex
      val B = 1024
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"), col("lang"),
        tokens(lower(col("text"))).as("t"))
      val nm1 = greatest(size(col("t")) - 1, lit(0))
      // ONE materialized pass over the exploded features (r19 opt,
      // guide §1.2/§2.3): the un-pinned form re-ran tokenize + explode +
      // md5 over the whole corpus once per consumer (target counts, raw
      // counts, totals, contributions — 4 full passes, and md5-per-
      // feature dominates the query's CPU). The checkpoint pins the
      // NARROW (doc_id, lang, b) projection — the feature string never
      // materializes past the bucket hash — and every aggregate below
      // derives from it or from the 1024-row bucket table.
      val feats = Pin(toks.select(col("doc_id"), col("lang"),
          explode(concat(col("t"),
            zip_with(slice(col("t"), lit(1), nm1), slice(col("t"), lit(2), nm1),
              (a, b) => concat_ws(" ", a, b)))).as("f"))
        .select(col("doc_id"), col("lang"),
          pmod(conv(substring(md5(col("f")), 1, 8), 16, 10).cast("long"),
            lit(B.toLong)).as("b")))
      // per-bucket target/raw counts in ONE aggregate (≤ B rows): the
      // conditional sum equals the old filtered-count + left-join form —
      // a bucket with no target rows gets ct = 0, exactly what
      // coalesce(ct, 0) produced; every feature row's own bucket has
      // cr ≥ 1 so the raw join side is never missing.
      val bucketC = feats.groupBy(col("b")).agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
      val tot = bucketC.agg(
        sum(col("ct")).cast("double").as("tt"),
        sum(col("cr")).cast("double").as("tr"))
      val contrib = feats
        .join(broadcast(bucketC), Seq("b"))
        .crossJoin(broadcast(tot))
        .withColumn("c",
          log((col("ct") + lit(1.0)) / (col("tt") + B)) -
            log((col("cr") + lit(1.0)) / (col("tr") + B)))
      // fixed-point contribution fold (the LmScore.FixedPointScale
      // device): integer sums are order-independent across any
      // partitioning and DuckDB replays them as a plain spillable sum —
      // replaces the ordered-list fold that OOM'd the sf10 oracle gate
      // and paid a per-doc sort on the Spark side
      val S = graft.operators.LmScore.FixedPointScale
      val byDoc = contrib.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_feats"),
          round(sum(round(col("c") * lit(S)).cast("long")).cast("double") /
            lit(S), 4).as("logw"))
      val n = docs.count()
      GlobalIndex.withOrdinal(byDoc, "rank", negate(col("logw")), col("doc_id"))
        .withColumn("selected", col("rank") <= lit(n / 4))
        .select(col("doc_id"), col("n_feats"), col("logw"), col("rank"),
          col("selected"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (
             SELECT doc_id, lang,
               list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
             FROM documents),
           uni AS (SELECT doc_id, lang, unnest(toks) AS f FROM t),
           bi AS (SELECT doc_id, lang,
                    unnest([toks[i] || ' ' || toks[i+1]
                            FOR i IN range(1, len(toks))]) AS f
                  FROM t WHERE len(toks) >= 2),
           feats AS (
             SELECT doc_id, lang, f,
               list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
                 string_split(substr(md5(f), 1, 8), ''),
                 c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
                 (a, x) -> a * 16 + x) % 1024 AS b
             FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
           tc AS (SELECT b, count(*) AS ct FROM feats WHERE lang = 'en' GROUP BY b),
           rc AS (SELECT b, count(*) AS cr FROM feats GROUP BY b),
           tot AS (SELECT CAST((SELECT count(*) FROM feats WHERE lang = 'en') AS DOUBLE) AS tt,
                          CAST((SELECT count(*) FROM feats) AS DOUBLE) AS tr),
           ctb AS (
             SELECT f.doc_id, f.b,
               ln((COALESCE(tc.ct, 0) + 1.0) / (tot.tt + 1024)) -
                 ln((rc.cr + 1.0) / (tot.tr + 1024)) AS c
             FROM feats f LEFT JOIN tc USING (b) JOIN rc USING (b) CROSS JOIN tot),
           w AS (
             SELECT doc_id, count(*) AS n_feats,
               round(CAST(sum(CAST(round(c * 17179869184.0) AS BIGINT)) AS DOUBLE)
                     / 17179869184.0, 4) AS logw
             FROM ctb GROUP BY doc_id),
           r AS (
             SELECT doc_id, n_feats, logw,
               row_number() OVER (ORDER BY logw DESC, doc_id) AS rank,
               (SELECT count(*) FROM documents) AS n
             FROM w)
           SELECT doc_id, n_feats, logw, rank, rank <= n // 4 AS selected
           FROM r ORDER BY doc_id"""))

  // Incremental (batch-vs-corpus) exact dedup — the daily-ingest shape:
  // an incoming batch (doc_id % 10 = 0 stands in for "today's crawl") is
  // deduplicated first within itself (keep min doc_id per digest), then
  // anti-joined against the existing corpus by content digest. Scale
  // posture: the corpus side reduces to a 32-byte digest set before the
  // anti-join (at 100 TB that digest index is ~the only thing a daily
  // dedup job reads); text never shuffles on either side.
  private val qDedupIncremental = Q(
    "q_dedup_incremental",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val batch = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("n_chars"),
          sha2(col("text").cast("binary"), 256).as("h"))
      val corpusDigests = docs.filter(col("doc_id") % 10 =!= 0)
        .select(sha2(col("text").cast("binary"), 256).as("h"))
        .distinct()
      val withinBatch = batch
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("doc_id"))
      batch.join(withinBatch, Seq("h", "doc_id"), "left_semi")
        .join(corpusDigests, Seq("h"), "left_anti")
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT d.doc_id, d.n_chars FROM documents d
           WHERE d.doc_id % 10 = 0
             AND d.doc_id = (SELECT min(x.doc_id) FROM documents x
                             WHERE x.doc_id % 10 = 0
                               AND sha256(x.text) = sha256(d.text))
             AND NOT EXISTS (SELECT 1 FROM documents c
                             WHERE c.doc_id % 10 <> 0
                               AND sha256(c.text) = sha256(d.text))
           ORDER BY d.doc_id"""))

  // Bloom-gated incremental exact dedup: the set-membership sketch
  // (HLL/KLL/CMS's missing sibling) applied to the daily-ingest shape.
  // A one-pass BloomFilterAggregate over the corpus keys yields a
  // fixed-size filter; the batch probes it codegen'd
  // (BloomFilterMightContain literal) — definitely-new rows SKIP the
  // anti-join exchange entirely, only maybe-rows (true dups + ~fpp of
  // the batch) are confirmed exactly. The oracle is the plain
  // batch-minus-corpus anti-join, so a green row PROVES the gate
  // lossless (no false negatives) regardless of which rows took which
  // path. At 100 TB: the corpus contributes one digest-column scan
  // (filter is O(cardinality) bytes, not O(corpus bytes)) and a
  // mostly-new crawl batch keeps (1-fpp) of its rows out of the
  // shuffle. See operators/BloomGate scaladoc.
  private val bloomGateOracle =
    """SELECT d.doc_id FROM documents d
           WHERE d.doc_id % 10 = 0
             AND NOT EXISTS (SELECT 1 FROM documents c
                             WHERE c.doc_id % 10 <> 0 AND c.text = d.text)
           ORDER BY d.doc_id"""

  private val qDedupBloomGate = Q(
    "q_dedup_bloom_gate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      // expectedItems defaulted (<0): sized from a corpus key count, so
      // the fpp the gate realizes is the fpp requested at ANY scale
      // factor — a fixed constant silently under-sizes at sf1+
      graft.operators.BloomGate.newRows(
          batch = docs.filter(col("doc_id") % 10 === 0)
            .select(col("doc_id"), col("text")),
          corpus = docs.filter(col("doc_id") % 10 =!= 0).select(col("text")),
          keyName = "text", fpp = 0.01)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
    Some(bloomGateOracle))

  // Loaded twin — the standing daily-batch shape: filter + corpus keys
  // persisted once under ArtifactPaths (meta-last commit marker), every
  // later batch probes WITHOUT touching the corpus table (zero corpus
  // scans at probe time; the confirm side is the artifact's keys).
  // Same oracle as the build-per-call form, so a green row proves the
  // persisted gate is exactly the anti-join too. Deletes: tombstones
  // correct the confirm side at load, so takedowns stay exact; the
  // filter itself is rebuild-only (see BloomGate takedown posture).
  private val qDedupBloomGateLoaded = Q(
    "q_dedup_bloom_gate_loaded",
    (s, d) => {
      import graft.operators.{ArtifactPaths, BloomGate}
      val docs = Tables.documents(s, d)
      val path = ArtifactPaths.keyed(s, "bloom", s"$d/documents.parquet",
        "fpp=0.01,corpus=mod10ne0,v=1")
      if (!ArtifactPaths.exists(path))
        BloomGate.save(path, docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", fpp = 0.01)
      BloomGate.newRowsAgainstLoaded(
          docs.filter(col("doc_id") % 10 === 0)
            .select(col("doc_id"), col("text")),
          "text", s, path)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
    Some(bloomGateOracle))

  // MinHash + LSH banding near-dup: signature → band keys → explode →
  // bucket self-join → verified by true shingle-Jaccard. The standard
  // scale path: shuffle is on (bandKey) only; O(n·bands) rows.
  private val qDedupMinhash = Q(
    "q_dedup_minhash_lsh",
    // In-session build on every run (r19 optimization round: a plainly-
    // timed query must not load persisted intermediates keyed on the
    // fixture — that convention is reserved for the *_loaded registry
    // rows whose DECLARED semantics is probe-a-prebuilt-artifact). The
    // per-run dictionary cost is attacked inside verifiedPairs instead:
    // the dictionary + encode are restricted to candidate docs.
    (s, d) => graft.operators.NearDup.verifiedPairs(
        Tables.documents(s, d)
          .select(col("doc_id"), wordShingles(col("text"), 3).as("sh")))
      .orderBy(col("id_a"), col("id_b")))

  // SimHash near-dup: 64-bit sketch, candidates = equal 16-bit sub-band
  // (4 bands → hamming ≤ 3 guaranteed caught in ≥1 band), verify hamming.
  // Routed through the shared HammingBands kernel: identical sketches
  // collapse BEFORE banding (m byte-identical boilerplate docs are one
  // candidate node, not a 4·m²/2-row hot band key) and band keys carry a
  // df cap — the maxDf doctrine applied to the hamming family.
  private val qDedupSimhash = Q(
    "q_dedup_simhash",
    (s, d) => graft.operators.HammingBands.pairs(
        Tables.documents(s, d)
          .select(col("doc_id").as("id"), simHash(col("text")).as("h")))
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy(col("id_a"), col("id_b")))

  // Cluster form of q_dedup_simhash — connected components over the
  // hamming ≤ 3 relation, one row per dup group (cluster_id, keeper,
  // n_members). The LINEAR-output production form: exact-dup classes
  // (the most common web-corpus skew) enter the component graph as one
  // representative node regardless of size, so output and shuffle stay
  // O(corpus) where the pairs form is inherently O(Σ class²). Rows-only
  // by the same declared design as q_dedup_simhash (SimHash64 bits are
  // engine-defined); HammingBandsSpec pins cluster parity with
  // DedupClusters-over-brute-pairs and the planted-skew linearity.
  private val qDedupSimhashClusters = Q(
    "q_dedup_simhash_clusters",
    (s, d) => graft.operators.HammingBands.clusterKeepers(
        Tables.documents(s, d)
          .select(col("doc_id").as("id"), simHash(col("text")).as("h"))))

  // Cluster formation: connected components over the exact (prefix-
  // filtered) jaccard pair set → one keeper per dup group. Built on
  // jaccardPairs (provably equal to all-pairs jaccard) so DuckDB can
  // replay the whole operator: edges via the shared jaccard CTE, then a
  // RECURSIVE transitive-closure CTE labels each node with the min
  // reachable id — a full oracle over an iterative distributed
  // algorithm. The minhash-candidate variant of the same operator is
  // exercised by PipelineMain + DedupClustersSpec's end-to-end case.
  private val qDedupClusters = Q(
    "q_dedup_clusters",
    (s, d) => graft.operators.DedupClusters.keepers(
      graft.operators.NearDup.jaccardPairs(
          Tables.documents(s, d)
            .select(col("doc_id"), wordShingles(col("text"), 3).as("sh")))
        .select(col("id_a"), col("id_b"))),
    Some(s"""WITH RECURSIVE $jaccardCtePrefix,
           jp AS (
             SELECT id_a, id_b FROM p
             WHERE round(CAST(inter AS DOUBLE) / uni, 4) >= 0.8),
           e AS MATERIALIZED (
             -- MATERIALIZED is load-bearing: the recursive CTE below
             -- references e every iteration, and without it DuckDB
             -- re-evaluates the whole all-pairs jaccard chain per
             -- iteration (hours at sf0.1 instead of minutes once)
             SELECT id_a AS u, id_b AS v FROM jp
             UNION
             SELECT id_b AS u, id_a AS v FROM jp),
           reach(u, v) AS (
             SELECT u, v FROM e
             UNION
             SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
           lbl AS (
             SELECT u AS doc_id, least(u, min(v)) AS cluster_id
             FROM reach GROUP BY u)
           SELECT cluster_id, cluster_id AS keeper,
             count(*) AS n_members
           FROM lbl GROUP BY cluster_id ORDER BY cluster_id"""))

  // Quality-aware cluster keeper — the production form of the
  // drop-all-but-one decision above: per near-dup cluster keep the
  // HIGHEST-quality member (q_quality_score's heuristic), ties to the
  // smallest doc_id, instead of the arbitrary min-id page. Same CC
  // machinery; the keeper selection is one members⋈scores equi join +
  // a max_by over a (score, −doc_id) struct — one extra partial+final
  // agg over O(#clustered docs) rows, nothing corpus-sized. The quality
  // score is the rounded 3-criteria average ({0, ⅓, ⅔, 1} exactly), so
  // cross-engine argmax equality is never a float-tie coin flip.
  private val qDedupClustersBest = Q(
    "q_dedup_clusters_best",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.DedupClusters.keepersBy(
        graft.operators.NearDup.jaccardPairs(
            docs.select(col("doc_id"), wordShingles(col("text"), 3).as("sh")))
          .select(col("id_a"), col("id_b")),
        docs.select(col("doc_id"),
          qualityScore(col("text"), col("n_chars")).as("score")))
    },
    Some(s"""WITH RECURSIVE $jaccardCtePrefix,
           jp AS (
             SELECT id_a, id_b FROM p
             WHERE round(CAST(inter AS DOUBLE) / uni, 4) >= 0.8),
           e AS MATERIALIZED (
             SELECT id_a AS u, id_b AS v FROM jp
             UNION
             SELECT id_b AS u, id_a AS v FROM jp),
           reach(u, v) AS (
             SELECT u, v FROM e
             UNION
             SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
           lbl AS (
             SELECT u AS doc_id, least(u, min(v)) AS cluster_id
             FROM reach GROUP BY u),
           qt AS (
             SELECT doc_id, n_chars, text,
               list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks
             FROM documents),
           qm AS (
             SELECT doc_id,
               CASE WHEN len(toks) = 0 THEN 0.0
                 ELSE CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
                      / len(toks) END AS mtl,
               CASE WHEN len(text) = 0 THEN 0.0
                 ELSE CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
                      / len(text) END AS pr,
               n_chars
             FROM qt),
           q AS (
             SELECT doc_id,
               round((CASE WHEN n_chars BETWEEN 50 AND 20000 THEN 1.0 ELSE 0.0 END +
                      CASE WHEN mtl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END +
                      CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END) / 3.0, 4) AS score
             FROM qm),
           m AS (
             SELECT lbl.cluster_id, lbl.doc_id, q.score
             FROM lbl JOIN q ON q.doc_id = lbl.doc_id),
           best AS (SELECT cluster_id, max(score) AS mq FROM m GROUP BY 1)
           SELECT m.cluster_id,
             min(CASE WHEN m.score = best.mq THEN m.doc_id END) AS keeper,
             round(best.mq, 4) AS keeper_score,
             count(*) AS n_members
           FROM m JOIN best ON m.cluster_id = best.cluster_id
           GROUP BY m.cluster_id, best.mq ORDER BY m.cluster_id"""))

  // Blocked fuzzy (edit-distance) matching — entity resolution over part
  // names. The naive form is an all-pairs levenshtein (O(n²) — dead at
  // any scale); the engine's plan BLOCKS first on cheap equality keys
  // (p_type, p_size) so the quadratic work runs only inside small
  // buckets — the same candidates-then-verify shape as the LSH dedup
  // family, with blocking keys playing the band-bucket role. Both
  // engines implement textbook levenshtein, so the verify predicate is
  // oracle-exact.
  private val qFuzzyMatch = Q(
    "q_fuzzy_match",
    (s, d) => {
      val p = Tables.part(s, d)
        .select(col("p_partkey"), col("p_name"), col("p_type"), col("p_size"))
      // spread the probe side: the fixture part table is one input
      // split, so the O(len²) levenshtein verify otherwise runs as one
      // task (r19 opt; identity at scale — QueryUtil.spread)
      val a = QueryUtil.spread(
        p.select(col("p_partkey").as("id_a"), col("p_name").as("name_a"),
          col("p_type").as("type_a"), col("p_size").as("size_a")))
      val b = p.select(col("p_partkey").as("id_b"), col("p_name").as("name_b"),
        col("p_type").as("type_b"), col("p_size").as("size_b"))
      a.join(b, col("type_a") === col("type_b") &&
          col("size_a") === col("size_b") && col("id_a") < col("id_b"))
        // distance computed ONCE: Spark does not CSE across Filter and
        // Project, and the O(len²) edit distance is the dominant cost
        .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"),
          levenshtein(col("name_a"), col("name_b")).as("dist"))
        .filter(col("dist") <= 3)
        .orderBy(col("dist"), col("id_a"), col("id_b"))
        .limit(100)
    },
    Some("""SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
                  a.p_name AS name_a, b.p_name AS name_b,
                  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
           FROM part a JOIN part b
             ON a.p_type = b.p_type AND a.p_size = b.p_size
            AND a.p_partkey < b.p_partkey
           WHERE levenshtein(a.p_name, b.p_name) <= 3
           ORDER BY dist, id_a, id_b LIMIT 100"""))

  // OOV (out-of-vocabulary) rate — the tokenizer-prep metric: build a
  // top-k vocabulary from the TRAIN hash-split, measure what fraction of
  // TEST-split tokens fall outside it. The vocab is a deterministic
  // top-k (count desc, token asc — rank-boundary ties cannot flip) and
  // broadcasts to an anti join; all counts are exact integers, the one
  // division rounds at the end. Same 90/5/5 hash buckets as
  // q_split_train_test.
  private val qOovRate = Q(
    "q_oov_rate",
    (s, d) => {
      def bucket(c: org.apache.spark.sql.Column) =
        graft.functions.DeterministicHash.keyHash(c, 100L)
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(tokens(lower(col("text")))).as("tok"))
      val train = toks.filter(bucket(col("doc_id")) < 90)
      val testSplit = toks.filter(bucket(col("doc_id")) >= 95)
      val vocab = train.groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(100)
        .select(col("tok").as("v_tok"))
      val oov = testSplit
        .join(broadcast(vocab), col("tok") === col("v_tok"), "left_anti")
        .agg(count(lit(1)).as("n_oov"))
      testSplit.agg(count(lit(1)).as("n_test_tokens"))
        .crossJoin(broadcast(oov))
        .select(col("n_test_tokens"), col("n_oov"),
          round(col("n_oov") / col("n_test_tokens"), 4).as("oov_rate"))
    },
    Some("""WITH toks AS MATERIALIZED (
             SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> len(t) > 0)) AS tok
             FROM documents),
           test AS MATERIALIZED (
             SELECT tok FROM toks
             WHERE ((doc_id % 1000000000) * 2654435761) % 100 >= 95),
           vocab AS MATERIALIZED (
             SELECT tok FROM (
               SELECT tok, count(*) AS c FROM toks
               WHERE ((doc_id % 1000000000) * 2654435761) % 100 < 90
               GROUP BY tok ORDER BY c DESC, tok LIMIT 100))
           SELECT (SELECT count(*) FROM test) AS n_test_tokens,
                  (SELECT count(*) FROM test
                   WHERE tok NOT IN (SELECT tok FROM vocab)) AS n_oov,
                  round((SELECT count(*) FROM test
                         WHERE tok NOT IN (SELECT tok FROM vocab))
                        / (SELECT count(*) FROM test), 4) AS oov_rate"""))

  // Cross-source contamination matrix: one row per source pair with (a)
  // byte-identical shared texts (the "is B a mirror of A" question asked
  // before assigning mixture weights) and (b) vocabulary overlap +
  // Jaccard (the softer "same register/domain" signal). Both self-joins
  // are equi — on the sha256 digest and on the token — and the shuffles
  // carry only (digest|token, source) pairs after per-source distinct;
  // per-key fanout is bounded by #sources², never corpus size. The pair
  // skeleton is a cross of the per-source vocab sizes (#sources² rows,
  // broadcast), so every pair reports even with zero overlap.
  private val qSourceOverlap = Q(
    "q_source_overlap",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val vocab = docs
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .distinct()
      val sizes = vocab.groupBy(col("source")).agg(count(lit(1)).as("vsize"))
      val sharedVocab = vocab.select(col("source").as("va"), col("tok"))
        .join(vocab.select(col("source").as("vb"), col("tok").as("tok2")),
          col("tok") === col("tok2") && col("va") < col("vb"))
        .groupBy(col("va"), col("vb")).agg(count(lit(1)).as("shared_vocab"))
      val hs = docs
        .select(sha2(col("text").cast("binary"), 256).as("h"), col("source"))
        .distinct()
      val sharedTexts = hs.select(col("source").as("ta"), col("h"))
        .join(hs.select(col("source").as("tb"), col("h").as("h2")),
          col("h") === col("h2") && col("ta") < col("tb"))
        .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("shared_texts"))
      sizes.select(col("source").as("src_a"), col("vsize").as("size_a"))
        .join(sizes.select(col("source").as("src_b"), col("vsize").as("size_b")),
          col("src_a") < col("src_b"))
        .join(sharedVocab,
          col("src_a") === col("va") && col("src_b") === col("vb"), "left")
        .join(broadcast(sharedTexts),
          col("src_a") === col("ta") && col("src_b") === col("tb"), "left")
        .select(col("src_a"), col("src_b"),
          coalesce(col("shared_texts"), lit(0L)).as("shared_texts"),
          coalesce(col("shared_vocab"), lit(0L)).as("shared_vocab"),
          round(coalesce(col("shared_vocab"), lit(0L)).cast("double") /
            (col("size_a") + col("size_b") - coalesce(col("shared_vocab"), lit(0L))),
            4).as("vocab_jaccard"))
        .orderBy(col("src_a"), col("src_b"))
    },
    Some("""WITH v AS (SELECT DISTINCT source, tok
             FROM (SELECT source,
                     unnest(list_filter(string_split_regex(text, '\s+'),
                                        x -> len(x) > 0)) AS tok
                   FROM documents)),
           sz AS (SELECT source, count(*) AS vsize FROM v GROUP BY 1),
           sh AS (SELECT a.source AS va, b.source AS vb, count(*) AS shared_vocab
                  FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
                  GROUP BY 1, 2),
           hs AS (SELECT DISTINCT sha256(text) AS h, source FROM documents),
           tx AS (SELECT a.source AS ta, b.source AS tb, count(*) AS shared_texts
                  FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
                  GROUP BY 1, 2)
           SELECT sa.source AS src_a, sb.source AS src_b,
                  coalesce(tx.shared_texts, 0) AS shared_texts,
                  coalesce(sh.shared_vocab, 0) AS shared_vocab,
                  round(CAST(coalesce(sh.shared_vocab, 0) AS DOUBLE) /
                        (sa.vsize + sb.vsize - coalesce(sh.shared_vocab, 0)),
                        4) AS vocab_jaccard
           FROM sz sa JOIN sz sb ON sa.source < sb.source
           LEFT JOIN sh ON sh.va = sa.source AND sh.vb = sb.source
           LEFT JOIN tx ON tx.ta = sa.source AND tx.tb = sb.source
           ORDER BY 1, 2"""))

  // Cross-source n-gram concentration — the token-granular twin of the
  // source-pair contamination matrix above: an n-gram whose occurrences
  // concentrate in one source (low entropy over its per-source counts)
  // is source-specific boilerplate or template leakage; one spread
  // evenly is generic vocabulary. Runs over word BIGRAMS (the fixture's
  // unigram vocabulary is ~31 words — bigrams give a ~900-key graded
  // space; at web scale the same plan runs on any shingle width).
  // Entropy H = ln(tot) − (Σ c·ln c)/tot over per-source counts, the
  // Σ folded in sorted source order (the q_lm_score determinism recipe)
  // so Spark and DuckDB sum bit-identically. Scale posture: corpus
  // collapses to (bigram, source) partial-agg counts before any
  // per-gram work — the fold sees ≤|sources| rows per gram and the
  // report rides TakeOrderedAndProject; nothing downstream of the
  // explode is proportional to corpus bytes.
  private val qSourceEntropy = Q(
    "q_source_entropy",
    (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("source"),
          tokens(lower(col("text"))).as("t"))
      val bg = t.select(col("source"), explode(expr(
        """CASE WHEN size(t) < 2 THEN array()
           ELSE transform(sequence(1, size(t) - 1),
                          i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))
           END""")).as("bg"))
      bg.groupBy(col("bg"), col("source")).agg(count(lit(1)).as("c"))
        .groupBy(col("bg"))
        .agg(sum(col("c")).as("tot"), count(lit(1)).as("n_sources"),
          aggregate(array_sort(collect_list(struct(col("source"), col("c")))),
            lit(0.0),
            (acc, x) => acc + x.getField("c").cast("double") *
              log(x.getField("c").cast("double"))).as("clnc"))
        .filter(col("tot") >= 20)
        .select(col("bg"), col("tot"), col("n_sources"),
          round(log(col("tot").cast("double")) - col("clnc") / col("tot").cast("double"),
            6).as("entropy"))
        .orderBy(col("entropy"), col("bg"))
        .limit(50)
    },
    Some("""WITH t AS (SELECT source,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> len(x) > 0) AS t
           FROM documents),
           b AS (SELECT source, unnest(CASE WHEN len(t) < 2 THEN []::VARCHAR[]
                   ELSE list_transform(range(1, len(t)),
                                       i -> t[i] || ' ' || t[i + 1]) END) AS bg
                 FROM t),
           bc AS (SELECT bg, source, count(*) AS c FROM b GROUP BY 1, 2),
           e AS (SELECT bg, CAST(sum(c) AS BIGINT) AS tot,
                   count(*) AS n_sources,
                   list_reduce(list(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                                    ORDER BY source),
                               (a, x) -> a + x) AS clnc
                 FROM bc GROUP BY bg)
           SELECT bg, tot, n_sources,
             round(ln(CAST(tot AS DOUBLE)) - clnc / CAST(tot AS DOUBLE), 6) AS entropy
           FROM e WHERE tot >= 20
           ORDER BY entropy, bg LIMIT 50"""))

  override def queries: Seq[Q] = Seq(
    qTextStats, qQuality, qQualityFilter, qQualityClassifier,
    qQualityClassifierFilter, qQualityTrain, qLangId, qFingerprint,
    qVocabTopK, qVocabApprox, qBpeMergeStep, qBpeTrain, qBpeSegment,
    qUnigramTrain, qUnigramSegment,
    qPiiScrub, qSeqPack, qBm25, qLmScore, qSamplePplBuckets, qSampleDsir,
    qDedupExact, qDedupExactSurvivors, qDedupIncremental, qDedupBloomGate,
    qDedupBloomGateLoaded,
    qDedupJaccard,
    qDedupJaccardIncremental, qDedupJaccardIncrLoaded,
    qDedupJaccardIncrAppended, qDedupJaccardIncrDeleted,
    qDedupMinhash, qDedupSimhash, qDedupSimhashClusters, qDedupClusters,
    qDedupClustersBest,
    qFuzzyMatch, qOovRate,
    qSourceOverlap, qSourceEntropy, qDedupContainment, qDedupSubstring,
    qDedupSubstringTop, qDedupTokenSpans, qDedupTokenClusters,
    qDedupSpanMaximal)
}
