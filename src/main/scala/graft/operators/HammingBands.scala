package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.hamming64

/** Shared banded-hamming near-dup kernel over 64-bit fingerprints — the
  * candidate generator behind SimHash text near-dup (q_dedup_simhash) and
  * perceptual-hash image near-dup (q_dedup_image_phash). Candidates are
  * hashes agreeing on at least one of `bands` equal-width sub-bands; by
  * pigeonhole, `bands` bands guarantee total recall for hamming ≤
  * bands − 1 (every constructor requires `maxHamming <= bands - 1` so a
  * caller cannot silently lose pairs past the banding guarantee).
  *
  * Scale posture — the two devices that keep a web-scale corpus from
  * going quadratic (the maxDf doctrine of NearDup.tokenSpanPairs, applied
  * to the hamming family):
  *
  *  1. EXACT-HASH PRE-COLLAPSE. The most common skew in a crawl is m
  *     identical fingerprints (site logos, spacer images, boilerplate
  *     docs). Banding the raw (id, hash) rows sends all m members of such
  *     a class through the SAME band keys — bands · m²/2 candidate rows
  *     from one hot key before any verify. Here banding ALWAYS runs over
  *     DISTINCT hashes: identical-hash members never multiply inside the
  *     candidate join. [[pairs]] re-expands members only AFTER hamming
  *     verification (its output is inherently quadratic in exact-dup
  *     class size — that is the pairs CONTRACT; see [[clusterKeepers]]
  *     for the linear-output production form), and [[clusterLabels]] /
  *     [[clusterKeepers]] never materialize member pairs at all: classes
  *     enter connected components as single representative nodes and
  *     members attach to the final label by one linear join on hash.
  *
  *  2. BAND-KEY DF CAP. A 16-bit sub-band over n distinct hashes holds
  *     n/2¹⁶ hashes per key in expectation; a key attracting far more
  *     than that is a degenerate sub-band (a constant image border, a
  *     saturated fingerprint region) and would fan out df² candidate
  *     rows. Distinct-hash band keys with df > `maxBandDf` are TRIMMED:
  *     like NearDup's maxDf, the cap is declared semantics, not a tuning
  *     knob — a trimmed key means "this sub-band carries no near-dup
  *     signal at this df"; pairs whose EVERY shared band is trimmed are
  *     not reported (exact-hash duplicates are immune: they match on the
  *     pre-collapse / the probe's exact path, never through banding).
  *     [[overCapBandKeys]] reports the trimmed keys so a pipeline can
  *     alert on recall exposure (the check-phash gate consumes it).
  *
  * All exchanges carry (8-byte hash, 8-byte id) or less; nothing wider
  * ever shuffles.
  */
object HammingBands {

  val DefaultBands = 4
  val DefaultMaxHamming = 3

  /** Default distinct-hash df cap per band key. Measured hottest keys
    * (SCALE.md §skew, SkewStats): sf10 simhash 896 over 496k distinct
    * sketches (the fixture's 31-word vocabulary concentrates sketches
    * far beyond real text — uniform expectation is ~8), phash 12, skew
    * fixture 461 — so trims never fire on any fixture while a capped key
    * bounds the self-join fan-out at maxBandDf² rows instead of df².
    * Saturation math for real deployments: at n distinct hashes a
    * 16-bit band key holds n/2¹⁶ hashes in expectation, so past ~10⁷–10⁸
    * distinct hashes EVERY key crowds toward the cap and the right move
    * is WIDER keys, not a bigger cap — the cap is the guardrail that
    * makes saturation visible (overCapBandKeys / check-phash) instead of
    * quadratic. The implemented widening (r17) is `keyArity`: composite
    * keys over k-subsets of bands (see [[suggestKeyArity]]) stretch the
    * effective key to k·64/bands bits while preserving the pigeonhole
    * guarantee for maxHamming ≤ bands − k.
    */
  val DefaultMaxBandDf = 1024

  /** Composite-key arity ≥ 2 repairs band-key saturation (r17 — the r16
    * scaladoc named the move but the kernel couldn't express it): with B
    * bands, a pair at hamming ≤ d has ≥ B − d bands EXACTLY equal (d
    * flipped bits corrupt at most d bands), so any k ≤ B − d of the
    * intact bands are simultaneously equal and the pair collides on at
    * least one of the C(B,k) k-subset composite keys. Arity k widens the
    * effective key from 64/B to k·64/B bits — e.g. bands=8, maxHamming=3,
    * k=5 gives 40-bit keys (C(8,5)=56 keys/hash, expected df n/2⁴⁰:
    * uncrowded past 10¹¹ distinct hashes) where the r16 kernel's best
    * was 16 bits. Cost is C(B,k) banding rows per distinct hash —
    * ids-only, paid once, and only when a caller opts past arity 1.
    */
  val DefaultKeyArity = 1

  /** Hard ceiling on C(bands, keyArity) — the per-hash banding fan-out.
    * Every legal (bands ≤ 32) arity the remedy path suggests stays far
    * below it (bands=8 peaks at C(8,4)=70); without the ceiling a legal-
    * looking call like bands=32, keyArity=16 would materialize ~6·10⁸
    * struct entries PER HASH and OOM instead of being refused (r17
    * ADVICE).
    */
  val MaxKeysPerHash = 4096L

  /** C(n, k) with early bail past MaxKeysPerHash (exact while ≤ cap; the
    * multiply-then-divide walk is integer-exact at every step and cannot
    * overflow once capped — intermediates stay ≤ cap·n).
    */
  private def cappedBinomial(n: Int, k: Int): Long = {
    val kk = math.min(k, n - k)
    var acc = 1L
    var i = 1
    while (i <= kk && acc <= MaxKeysPerHash) { acc = acc * (n - kk + i) / i; i += 1 }
    acc
  }

  private def checkParams(maxHamming: Int, bands: Int, maxBandDf: Int,
      keyArity: Int = DefaultKeyArity): Unit = {
    require(bands >= 2 && bands <= 32 && 64 % bands == 0,
      s"bands must divide 64 (2..32), got $bands")
    require(keyArity >= 1 && keyArity <= bands - 1,
      s"keyArity must be in [1, bands-1], got $keyArity with bands=$bands")
    require(cappedBinomial(bands, keyArity) <= MaxKeysPerHash,
      s"C($bands, $keyArity) composite keys per hash exceeds the " +
        s"$MaxKeysPerHash banding fan-out ceiling — use MORE bands at a " +
        "SMALLER arity (wider sub-bands need fewer of them composed: " +
        "bands=8 at arity<=5 covers maxHamming<=3 with <=56 keys/hash)")
    require(maxHamming >= 0 && maxHamming <= bands - keyArity,
      s"banding with $bands bands at key arity $keyArity only guarantees " +
        s"candidate recall for hamming <= ${bands - keyArity} (pigeonhole: " +
        s"$maxHamming flipped bits can corrupt $maxHamming bands, leaving " +
        s"${bands - maxHamming} intact — a $keyArity-subset of intact " +
        "bands must exist); raise bands, lower keyArity or lower maxHamming")
    require(maxBandDf >= 2, s"maxBandDf must be >= 2, got $maxBandDf")
  }

  /** (band, key) struct array for one 64-bit hash column: one entry per
    * k-subset of bands, `band` = the subset (the band index itself at
    * arity 1 — bit-compatible with the pre-r17 kernel — a bitmask of
    * member bands past it), `key` = the subset's band values packed
    * little-endian (k·64/bands bits, ≤ 64 by construction).
    */
  private def bandKeys(h: Column, bands: Int,
      keyArity: Int = DefaultKeyArity): Column = {
    // re-assert the fan-out ceiling here too: overCapBandKeys reaches
    // bandKeys without checkParams, and the ceiling is the OOM guard
    require(cappedBinomial(bands, keyArity) <= MaxKeysPerHash,
      s"C($bands, $keyArity) composite keys per hash exceeds the " +
        s"$MaxKeysPerHash banding fan-out ceiling — use more bands at a " +
        "smaller arity")
    val width = 64 / bands
    val mask = (1L << width) - 1L
    def value(b: Int): Column =
      shiftright(h, b * width).bitwiseAND(lit(mask))
    array((0 until bands).combinations(keyArity).toSeq.map { s =>
      val id = if (keyArity == 1) s.head else s.map(1 << _).sum
      val key = s.zipWithIndex
        .map { case (b, j) => shiftleft(value(b), j * width) }
        .reduce((a, b) => a.bitwiseOR(b))
      struct(lit(id).as("band"), key.as("key"))
    }: _*)
  }

  /** Smallest composite-key arity whose PROJECTED hottest-key df clears
    * `maxBandDf`, clamped to the pigeonhole budget bands − maxHamming —
    * the operational answer to a non-empty [[overCapBandKeys]] report.
    * `hottestDf` is the report's max df at arity 1 (or the uniform
    * expectation n/2^(64/bands) when planning ahead of measurement). The
    * projection assumes cross-band independence of the hot values — each
    * added band thins the hottest key's population by at most
    * hottestDf/n — so it is a PLANNING heuristic: the authoritative
    * check is re-measuring overCapBandKeys at the suggested arity
    * (HammingBandsSpec pins exactly that loop).
    */
  def suggestKeyArity(distinctHashes: Long, hottestDf: Long,
      maxHamming: Int = DefaultMaxHamming, bands: Int = DefaultBands,
      maxBandDf: Int = DefaultMaxBandDf): Int = {
    require(distinctHashes > 0 && hottestDf > 0 &&
      hottestDf <= distinctHashes, s"need 0 < hottestDf <= distinctHashes")
    val kMax = bands - maxHamming
    require(kMax >= 1, s"bands=$bands cannot guarantee maxHamming=" +
      s"$maxHamming at any arity — raise bands first")
    val p = hottestDf.toDouble / distinctHashes
    var k = 1
    while (distinctHashes * math.pow(p, k) > maxBandDf && k < kMax) k += 1
    k
  }

  /** Distinct hashes exploded to (h, band, key) rows, with over-cap band
    * keys trimmed. The over-cap key set is ≤ n·bands/maxBandDf rows by
    * construction (each holds > maxBandDf hashes), so it broadcasts into
    * a left-anti hash join — the banded rows never reshuffle for the cap.
    */
  private def cappedBanded(hashes: DataFrame, bands: Int,
      maxBandDf: Int, keyArity: Int = DefaultKeyArity): DataFrame = {
    val banded = hashes.select(col("h"),
      explode(bandKeys(col("h"), bands, keyArity)).as("bk"))
      .select(col("h"), col("bk.band").as("band"), col("bk.key").as("key"))
    val over = banded.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxBandDf)
      .select(col("band"), col("key"))
    banded.join(broadcast(over), Seq("band", "key"), "left_anti")
  }

  /** Trim-exposure report: distinct-hash band keys over the cap, with
    * their dfs — the keys whose candidate pairs [[distinctHashPairs]]
    * does not generate. Empty on healthy data; non-empty is the
    * re-band / investigate signal (check-phash consumes the count).
    * `hashed` is any (id, h) frame; df counts DISTINCT hashes.
    */
  def overCapBandKeys(hashed: DataFrame, bands: Int = DefaultBands,
      maxBandDf: Int = DefaultMaxBandDf,
      keyArity: Int = DefaultKeyArity): DataFrame =
    hashed.select(col("h")).distinct()
      .select(col("h"), explode(bandKeys(col("h"), bands, keyArity)).as("bk"))
      .groupBy(col("bk.band").as("band"), col("bk.key").as("key"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxBandDf)

  /** Trim-exposure budget (the skew gate's recall guardrail): the pair
    * mass the df cap declines to generate over distinct-hash band keys, as
    * [[overCapExposure]] reports it. An upper BOUND on recall exposure (a
    * pair whose every shared band is trimmed can still surface through
    * another band or the exact path).
    */
  def trimExposure(hashed: DataFrame, bands: Int = DefaultBands,
      maxBandDf: Int = DefaultMaxBandDf,
      keyArity: Int = DefaultKeyArity): (Long, Long, Double) =
    overCapExposure(overCapBandKeys(hashed, bands, maxBandDf, keyArity),
      hashed.select(col("h")).distinct().count())

  /** The one trim-exposure tail, shared by every capped family: over the
    * over-cap key rows `overCap` (a `df` column each) of a set of `n`
    * members, (overCapKeys, Σ df·(df−1)/2, share of all n·(n−1)/2 member
    * pairs). The pair sum uses integer `div`: SQL `/` on longs yields
    * DOUBLE and the getLong read would crash on the first fixture with a
    * non-empty over-cap set — exactly the regime the budget exists to
    * measure (the planted cases live in HammingBandsSpec and DedupSpec).
    */
  def overCapExposure(overCap: DataFrame, n: Long): (Long, Long, Double) = {
    val row = overCap.agg(count(lit(1)), sum(expr("df*(df-1) div 2")))
      .collect()(0)
    val exposure = if (row.isNullAt(1)) 0L else row.getLong(1)
    val totalPairs = n * (n - 1) / 2
    (row.getLong(0), exposure,
      if (totalPairs == 0) 0.0 else exposure.toDouble / totalPairs)
  }

  /** Verified near-dup pairs between DISTINCT hashes: (h_a, h_b, hamming)
    * with h_a < h_b and 1 ≤ hamming ≤ maxHamming. Input `hashes` must be
    * a distinct single-column (h) frame. The self-join runs over the
    * df-capped banded rows, so per-key fan-out is ≤ maxBandDf² and the
    * whole candidate volume is bounded by the near-dup structure of the
    * distinct-hash set — never by exact-dup class sizes.
    */
  def distinctHashPairs(hashes: DataFrame, maxHamming: Int = DefaultMaxHamming,
      bands: Int = DefaultBands,
      maxBandDf: Int = DefaultMaxBandDf,
      keyArity: Int = DefaultKeyArity): DataFrame = {
    checkParams(maxHamming, bands, maxBandDf, keyArity)
    val kept = cappedBanded(hashes, bands, maxBandDf, keyArity)
    val a = kept.select(col("band"), col("key"), col("h").as("h_a"))
    val b = kept.select(col("band").as("band2"), col("key").as("key2"),
      col("h").as("h_b"))
    a.join(b, col("band") === col("band2") && col("key") === col("key2") &&
        col("h_a") < col("h_b"))
      .withColumn("hamming", hamming64(col("h_a"), col("h_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("h_a"), col("h_b"), col("hamming"))
      .distinct()
  }

  /** ALL id pairs at hamming ≤ maxHamming — the pairs contract of
    * q_dedup_simhash / q_dedup_image_phash. `hashed` is (id: long,
    * h: long). Returns (id_a, id_b, hamming) with id_a < id_b.
    *
    * Candidate generation is over distinct hashes (pre-collapse + df
    * cap), so no shuffle key is ever quadratic in exact-dup class size;
    * the only quadratic term left is the OUTPUT itself — a class of m
    * identical hashes owns m·(m−1)/2 true pairs, emitted by an id-level
    * equi-join on the hash (one task streams the class's output; nothing
    * upstream amplifies). A corpus where exact-dup classes are large
    * should consume [[clusterKeepers]] instead — linear output, same
    * relation.
    */
  def pairs(hashed: DataFrame, maxHamming: Int = DefaultMaxHamming,
      bands: Int = DefaultBands,
      maxBandDf: Int = DefaultMaxBandDf,
      keyArity: Int = DefaultKeyArity): DataFrame = {
    checkParams(maxHamming, bands, maxBandDf, keyArity)
    // one materialization; feeds the distinct-hash set, the exact-dup
    // self-join, and the two cross-class expansion joins
    val t = Pin(hashed.select(col("id"), col("h")))
    val hp = distinctHashPairs(t.select(col("h")).distinct(),
      maxHamming, bands, maxBandDf, keyArity)
    // exact-hash members: equal hashes are pairs at hamming 0 by
    // identity — routed around banding entirely (cap-immune)
    val within = t.select(col("h"), col("id").as("id_a"))
      .join(t.select(col("h").as("h2"), col("id").as("id_b")),
        col("h") === col("h2") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).as("hamming"))
    // cross-class expansion AFTER verification: each verified hash pair
    // fans out to its members via two linear equi-joins on the hash
    val cross = hp
      .join(t.select(col("h").as("h_a"), col("id").as("ia")), "h_a")
      .join(t.select(col("h").as("h_b"), col("id").as("ib")), "h_b")
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("hamming"))
    within.unionByName(cross)
  }

  /** Connected-component labels over the hamming ≤ maxHamming relation —
    * the LINEAR-output production form: (id, cluster_id = min id of the
    * component). Exact-dup classes enter the component graph as ONE
    * representative node (rep = min member id, so component labels are
    * true min-member ids); members attach to their class's final label by
    * a single equi-join on hash. Only ids in some dup relation (an
    * exact-dup class of ≥ 2, or a class with a verified near-dup
    * neighbor) are returned — singletons are their own cluster by
    * definition, the DedupClusters.components convention.
    */
  /** Component-iteration budget: hamming near-dup graphs CHAIN — sketch
    * A is within 3 bits of B, B of C, … — so component diameters grow
    * with corpus density (measured: the sf10 simhash graph exceeds the
    * DedupClusters default's 2¹⁰-hop reach and warned non-convergence).
    * Pointer jumping covers ~2^maxIter hops and converged loops exit at
    * the first no-change check, so a generous budget costs nothing when
    * the graph is shallow — 30 rounds ≈ 10⁹ hops, unreachable by any
    * real component.
    */
  val DefaultClusterIters = 30

  def clusterLabels(hashed: DataFrame, maxHamming: Int = DefaultMaxHamming,
      bands: Int = DefaultBands,
      maxBandDf: Int = DefaultMaxBandDf,
      maxIter: Int = DefaultClusterIters,
      keyArity: Int = DefaultKeyArity): DataFrame = {
    checkParams(maxHamming, bands, maxBandDf, keyArity)
    val t = Pin(hashed.select(col("id"), col("h")))
    // one representative + class size per distinct hash
    val classes = Pin(t.groupBy(col("h"))
      .agg(min(col("id")).as("rep"), count(lit(1)).as("m")))
    val hp = distinctHashPairs(classes.select(col("h")),
      maxHamming, bands, maxBandDf, keyArity)
    val repEdges = hp
      .join(classes.select(col("h").as("h_a"), col("rep").as("id_a")), "h_a")
      .join(classes.select(col("h").as("h_b"), col("rep").as("id_b")), "h_b")
      .select(col("id_a"), col("id_b"))
    val comp = DedupClusters.components(repEdges, maxIter)
      .withColumnRenamed("doc_id", "rep")
    // class label: its rep's component label when the class has a
    // near-dup edge; its own rep when it is a pure exact-dup class
    // (m ≥ 2, no verified neighbor); nothing for singletons
    val classLabels = classes
      .join(comp, Seq("rep"), "left_outer")
      .withColumn("cluster_id",
        coalesce(col("cluster_id"), when(col("m") >= 2, col("rep"))))
      .filter(col("cluster_id").isNotNull)
      .select(col("h"), col("cluster_id"))
    t.join(classLabels, "h").select(col("id"), col("cluster_id"))
  }

  /** One row per cluster: (cluster_id, keeper = cluster_id, n_members) —
    * the DedupClusters.keepers shape over the hamming relation, with
    * exact-dup classes contributing their full member counts without a
    * single member pair ever materializing.
    */
  def clusterKeepers(hashed: DataFrame, maxHamming: Int = DefaultMaxHamming,
      bands: Int = DefaultBands,
      maxBandDf: Int = DefaultMaxBandDf,
      maxIter: Int = DefaultClusterIters,
      keyArity: Int = DefaultKeyArity): DataFrame =
    clusterLabels(hashed, maxHamming, bands, maxBandDf, maxIter, keyArity)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("cluster_id").as("keeper"),
        col("n_members"))
      .orderBy(col("cluster_id"))

  /** Batch-vs-corpus probe (the daily-ingest shape): (id, matched_id,
    * hamming ≤ maxHamming) for every (probe member, corpus member) pair —
    * batch-internal pairs are NOT reported. Exact-hash matches route
    * through a plain equi-join on the hash (cap-immune, linear in true
    * output); only DISTINCT probe-hash × corpus-hash candidates go
    * through banding, with the df cap applied to the CORPUS side (the
    * unbounded standing index — the probe batch is bounded by the caller).
    */
  def probePairs(probe: DataFrame, corpus: DataFrame,
      maxHamming: Int = DefaultMaxHamming,
      bands: Int = DefaultBands,
      maxBandDf: Int = DefaultMaxBandDf,
      keyArity: Int = DefaultKeyArity): DataFrame = {
    checkParams(maxHamming, bands, maxBandDf, keyArity)
    val p = Pin(probe.select(col("id"), col("h")))
    val c = Pin(corpus.select(col("id"), col("h")))
    val exact = p.select(col("h"), col("id"))
      .join(c.select(col("h").as("h2"), col("id").as("matched_id")),
        col("h") === col("h2"))
      .select(col("id"), col("matched_id"), lit(0).as("hamming"))
    val pb = p.select(col("h")).distinct()
      .select(col("h").as("h_p"),
        explode(bandKeys(col("h"), bands, keyArity)).as("bk"))
      .select(col("h_p"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cb = cappedBanded(c.select(col("h")).distinct(), bands, maxBandDf,
      keyArity)
      .select(col("h").as("h_c"), col("band").as("band2"),
        col("key").as("key2"))
    val hp = pb.join(cb, col("band") === col("band2") &&
        col("key") === col("key2") && col("h_p") =!= col("h_c"))
      .withColumn("hamming", hamming64(col("h_p"), col("h_c")))
      .filter(col("hamming") <= maxHamming)
      .select(col("h_p"), col("h_c"), col("hamming"))
      .distinct()
    val near = hp
      .join(p.select(col("h").as("h_p"), col("id")), "h_p")
      .join(c.select(col("h").as("h_c"), col("id").as("matched_id")), "h_c")
      .select(col("id"), col("matched_id"), col("hamming"))
    exact.unionByName(near)
  }
}
