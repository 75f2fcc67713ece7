#!/usr/bin/env python3
"""One-command planted-skew gate — the standing end-of-round protocol
(r17 verdict task 2; promoted for the same reason the sf10 value gate
was in r15: the skew stress found a real quadratic on its FIRST run).

Builds the two planted-skew fixtures if absent (ScaleUp skew mode:
1% exact-dup doc class, 100x-maxDf boilerplate span, 10% hot join key,
1% exact-dup vector class), then:

  1. SkewStats on both fixtures — asserts the plant is real (f10 class
     >= 100 members) and GREW linearly with the fixture (f40/f10 class
     ratio ~4), and that the HammingBands df-cap's trimmed-key pair mass
     stays under a declared fraction of all distinct-hash pairs on BOTH
     fixtures (the recall-exposure budget, r17 task 7 — a fixture change
     cannot silently trade recall for the cap).
  2. One single-pass bench leg per fixture over the dedup/join families
     (ScaleLint=FAIL so any scale-killer plan THROWS), asserting
     zero errors, total spill under a floor, and per-query WORK growth
     f40/f10 within the family's declared bound: LINEAR families must
     track the 4x data growth; PAIR-OUTPUT families (within-class pairs
     are true output) may grow up to the 16x class-pair ratio — both
     with slack, plus an absolute per-query byte ceiling as the backstop
     that would have caught the r16 un-collapsed minhash (8.8 GB of
     spill, ~16 GB of verify re-attach from one class). A byte-ratio
     excursion FAILS only with CPU corroboration (a real quadratic burns
     both); byte-only excursions are broadcast->shuffle regime flips
     between the legs and land in the record as regime_flips (r18).

Emits skew_gate_record.json into <outDir> and exits nonzero on any
violation.

Usage:
  python3 tools/skew_gate.py <outDir> [--src /root/testdata/sf0.1]
      [--f10 /tmp/skew10] [--f40 /tmp/skew40] [--skip-build]

  SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM tune the JVM legs as usual.
"""
import json, os, re, subprocess, sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# the dedup/join families the planted skew targets (SCALE.md §skew),
# plus the r17 INCREMENTAL leg (skew corpus x batch probes — the
# collapse-at-save-time fix's evidence)
SKEW_QUERIES = [
    # exact dedup
    "q_dedup_exact", "q_dedup_exact_survivors", "q_dedup_incremental",
    "q_dedup_bloom_gate", "q_dedup_bloom_gate_loaded",
    # hamming (simhash text + phash images)
    "q_dedup_simhash", "q_dedup_simhash_clusters",
    "q_dedup_image_phash", "q_dedup_image_clusters",
    "q_dedup_image_phash_loaded",
    # token spans / substrings
    "q_dedup_token_spans", "q_dedup_token_clusters", "q_dedup_span_maximal",
    "q_dedup_substring", "q_dedup_substring_top",
    # jaccard/minhash self-joins
    "q_dedup_minhash_lsh", "q_dedup_ngram_jaccard", "q_dedup_containment",
    "q_dedup_clusters", "q_dedup_clusters_best",
    # incremental probes (r17: collapse-then-expand at probe time)
    "q_dedup_jaccard_incremental", "q_dedup_jaccard_incr_loaded",
    "q_dedup_jaccard_incr_appended", "q_dedup_jaccard_incr_deleted",
    "q_decontaminate", "q_decontaminate_fuzzy", "q_decontaminate_fuzzy_loaded",
    # embeddings / semantic
    "q_dedup_embedding_lsh", "q_dedup_embedding_semdedup",
    "q_dedup_semdedup_incremental",
    # joins over the hot key
    "q_join_inner", "q_join_salted", "q_join_bucketed",
    "q_join_range_binned", "q_join_asof",
]

# families whose TRUE output contains within-class member pairs: a 4x
# class legitimately produces up to 16x pair rows (ids-only after the
# collapse) — everything else must track the 4x data growth
PAIR_OUTPUT = {
    "q_dedup_simhash", "q_dedup_minhash_lsh", "q_dedup_ngram_jaccard",
    "q_dedup_containment", "q_dedup_clusters", "q_dedup_clusters_best",
    "q_dedup_jaccard_incremental", "q_dedup_jaccard_incr_loaded",
    "q_dedup_jaccard_incr_appended", "q_dedup_jaccard_incr_deleted",
    "q_decontaminate_fuzzy", "q_decontaminate_fuzzy_loaded",
    "q_dedup_embedding_lsh", "q_dedup_embedding_semdedup",
    # the 1% identical-VECTOR class: within-class assignments/matches are
    # true output, quadratic in class size like the text families
    "q_dedup_semdedup_incremental",
    # shared-span pairs among the 2% boilerplate docs are true output
    # (the planted span key itself is df-trimmed, but group pair counts
    # still scale with group-size growth)
    "q_dedup_span_maximal",
}

GROWTH = 4                       # f40 / f10 data and class ratio
LINEAR_BOUND = GROWTH * 2.0      # linear families: 4x data, 2x slack
PAIR_BOUND = GROWTH * GROWTH * 1.6  # pair-output families: 16x, 1.6x slack
# r19 (r18 ADVICE): the regime-flip demotion's CPU corroboration is
# STRICTER than the byte bound. The demotion exists for plans whose true
# work stays linear while the byte RATIO crosses the bound (broadcast ->
# shuffle flip), so the CPU test asks "is CPU still linear-ish (plus the
# serialization cost a flip legitimately adds)", not "is CPU under the
# same generous byte slack". A genuine near-bound quadratic (cpu just
# under the byte bound) now FAILS instead of being silently recorded as
# a flip. 1.75x covers the measured legit flip (r18
# q_dedup_jaccard_incr_appended: cpu 6.1x on 4x data = 1.53x over linear
# with 4.0x candidate corroboration) with headroom, and the min() keeps
# the corroboration bound from ever exceeding the byte bound itself.
CPU_FLIP_SLACK = 1.75
ABS_SHUFFLE_CEIL = 16 * 2**30    # f40 per-query byte backstop
SPILL_FLOOR = 128 * 2**20        # per-leg total spill floor ("zero spill")
MAX_TRIM_EXPOSURE = 0.01         # task 7: trimmed pair mass / all pairs
MIN_BYTES_FOR_RATIO = 64 * 2**20 # ratios below this f40 volume are noise


def run(cmd, env=None, capture=False):
    print("+ " + " ".join(cmd), flush=True)
    e = dict(os.environ)
    if env:
        e.update(env)
    return subprocess.run(cmd, env=e, cwd=REPO, text=True,
                          capture_output=capture)


def last_json_line(text, must_contain):
    # sbt prefixes forked-JVM stdout with "[info] " — take everything
    # from the first brace
    for line in reversed(text.splitlines()):
        if must_contain in line and "{" in line:
            return json.loads(line[line.index("{"):])
    raise RuntimeError(f"no JSON line containing {must_contain!r}")


def build_fixture(src, out, factor):
    marker = os.path.join(out, ".skew_gate_built")
    if os.path.exists(marker):
        print(f"[skew-gate] fixture {out} present (marker)")
        return
    r = run(["sbt", "-batch",
             f"runMain graft.tools.ScaleUp {src} {out} {factor} skew"])
    if r.returncode != 0:
        print(f"GATE-ERR: ScaleUp {out} failed")
        sys.exit(1)
    open(marker, "w").write(f"factor={factor}\n")


def skew_stats(fixture):
    r = run(["sbt", "-batch", f"runMain graft.tools.SkewStats {fixture}"],
            capture=True)
    if r.returncode != 0:
        print(r.stdout[-4000:])
        print(f"GATE-ERR: SkewStats {fixture} failed")
        sys.exit(1)
    return last_json_line(r.stdout, '"simhash_distinct"')


def bench_leg(fixture, out_path):
    # reuse a leg this gate already ran — only when the dump provably ran
    # the SAME query set under lint=fail (r17 ADVICE: a stale dump from a
    # different 35-query set, or a lint-off run, must not be accepted as
    # gate evidence on a count match alone)
    if os.path.exists(out_path):
        j = json.load(open(out_path))
        if (j.get("sf") == fixture
                and set(j.get("task_metrics", {})) == set(SKEW_QUERIES)
                and j.get("lint_mode") == "fail"):
            print(f"[skew-gate] reusing committed leg dump {out_path}")
            return j
        print(f"[skew-gate] stale leg dump {out_path} "
              f"(sf/queries/lint mismatch) — re-running")
    # the printed metric line is the headline; the per-query byte/spill
    # counters live in Bench's per-query artifact — SPARK_GRAFT_BENCH_FULL
    # makes Bench write it straight to this leg's dump
    out_abs = os.path.abspath(out_path)
    env = {
        "SPARK_GRAFT_SF_DIR": fixture,
        "SPARK_GRAFT_BENCH_PASSES": "1",
        "SPARK_GRAFT_EXTRA_CONF": "spark.graft.scalelint=fail",
        "SPARK_GRAFT_BENCH_FULL": out_abs,
    }
    r = run(["sbt", "-batch", "runMain graft.Bench " + " ".join(SKEW_QUERIES)],
            env=env, capture=True)
    if r.returncode != 0:
        print(r.stdout[-4000:])
        print(f"GATE-ERR: bench leg {fixture} failed")
        sys.exit(1)
    j = json.load(open(out_abs))
    if j.get("sf") != fixture:
        print(f"GATE-ERR: {out_path} sf={j.get('sf')} != {fixture}")
        sys.exit(1)
    return j


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    opts = dict(a.lstrip("-").split("=", 1) for a in sys.argv[1:]
                if a.startswith("--") and "=" in a)
    flags = {a for a in sys.argv[1:] if a.startswith("--") and "=" not in a}
    if len(args) != 1:
        print(__doc__)
        sys.exit(2)
    out_dir = args[0]
    os.makedirs(out_dir, exist_ok=True)
    src = opts.get("src", "/root/testdata/sf0.1")
    f10 = opts.get("f10", "/tmp/skew10")
    f40 = opts.get("f40", "/tmp/skew40")

    if "--skip-build" not in flags:
        build_fixture(src, f10, 10)
        build_fixture(src, f40, 40)

    fails = []

    # --- 1. the plant + the trim-exposure budget (SkewStats) ---
    s10 = skew_stats(f10)
    s40 = skew_stats(f40)
    print("[skew-gate] stats f10:", json.dumps(s10))
    print("[skew-gate] stats f40:", json.dumps(s40))
    if s10["simhash_max_class"] < 100:
        fails.append(f"PLANT-MISSING f10 simhash_max_class={s10['simhash_max_class']}")
    ratio = s40["simhash_max_class"] / max(1, s10["simhash_max_class"])
    if not (3.0 <= ratio <= 5.0):
        fails.append(f"PLANT-NONLINEAR class ratio f40/f10={ratio:.2f} (want ~{GROWTH})")
    if s10["join_hot_key_share"] < 0.08 or s40["join_hot_key_share"] < 0.08:
        fails.append("PLANT-MISSING hot join key share < 8%")
    for leg, s in (("f10", s10), ("f40", s40)):
        # span joined the budget in r18 (task 5): window-key df over
        # DISTINCT texts, share over all distinct-text pairs — the same
        # convention as the hamming families' distinct-hash measure.
        # minhash joined when its band-key cap landed (r18: this gate
        # caught the uncapped LSH self-join going quadratic in the
        # boilerplate clique — 45x candidate bytes on 4x data)
        for fam in ("simhash", "phash", "span", "minhash"):
            share = s[f"{fam}_trim_exposure_share"]
            if share > MAX_TRIM_EXPOSURE:
                fails.append(
                    f"TRIM-EXPOSURE {leg} {fam}: trimmed pair mass "
                    f"{share:.4f} of corpus pairs > declared {MAX_TRIM_EXPOSURE}")
        # the span plant must be REAL (a fixture change silently removing
        # the boilerplate span would make the budget vacuous)
        if s["span_overcap_keys"] < 1:
            fails.append(f"PLANT-MISSING {leg}: no over-cap span window key "
                         "(the 2% boilerplate span plant is gone)")

    # --- 2. the two bench legs, lint in FAIL mode ---
    b10 = bench_leg(f10, os.path.join(out_dir, "skew_bench_f10.json"))
    b40 = bench_leg(f40, os.path.join(out_dir, "skew_bench_f40.json"))
    for leg, b in (("f10", b10), ("f40", b40)):
        for q, err in b.get("errors", {}).items():
            fails.append(f"QUERY-ERROR {leg} {q}: {err[:160]}")
        spill = b.get("spill_total_b", 0)
        if spill > SPILL_FLOOR:
            fails.append(f"SPILL {leg}: total {spill} B > floor {SPILL_FLOOR}")

    # --- 3. work linearity per query across the 4x growth ---
    # A real quadratic burns BOTH counters: the verify/join work scales
    # with the candidate volume, so CPU blows up alongside bytes (the r16
    # un-collapsed minhash: 8.8 GB spill + CPU explosion; the r17
    # range-join find: 228x bytes AND 74x wall). A byte-only excursion
    # with linear CPU is the broadcast->shuffle REGIME FLIP (the f30
    # class, documented in SCALE.md): the small leg streams its re-attach
    # against a broadcast while the big leg legitimately shuffles it, so
    # the byte RATIO crosses the bound while true work stays linear —
    # measured r18 on q_dedup_jaccard_incr_appended: candidates/verified
    # scale exactly 4.0x, CPU 6.1x, bytes 25.9x. Those are recorded
    # loudly as regime_flips (adjudicable, never silent) but only a
    # CPU-corroborated byte violation FAILS the gate.
    m10, m40 = b10.get("task_metrics", {}), b40.get("task_metrics", {})
    ratios = {}
    regime_flips = {}
    for q in sorted(set(m10) & set(m40)):
        shr10, shr40 = m10[q]["shr_b"], m40[q]["shr_b"]
        if shr40 > ABS_SHUFFLE_CEIL:
            fails.append(f"BYTES-CEIL f40 {q}: shr {shr40} B > {ABS_SHUFFLE_CEIL}")
        if shr40 < MIN_BYTES_FOR_RATIO:
            continue  # too small for a meaningful growth verdict
        bound = PAIR_BOUND if q in PAIR_OUTPUT else LINEAR_BOUND
        expected = GROWTH * GROWTH if q in PAIR_OUTPUT else GROWTH
        cpu_bound = min(expected * CPU_FLIP_SLACK, bound)
        r = shr40 / max(1, shr10)
        cpu_r = m40[q]["cpu_sec"] / max(1e-3, m10[q]["cpu_sec"])
        ratios[q] = round(r, 2)
        if r > bound:
            if cpu_r > cpu_bound:
                fails.append(
                    f"WORK-NONLINEAR {q}: shr f40/f10 = {r:.1f}x > {bound:.1f}x "
                    f"AND cpu {cpu_r:.1f}x > {cpu_bound:.1f}x "
                    f"({'pair-output' if q in PAIR_OUTPUT else 'linear'} "
                    f"cpu-corroboration bound)")
            else:
                regime_flips[q] = {"shr_ratio": round(r, 2),
                                   "cpu_ratio": round(cpu_r, 2),
                                   "cpu_bound": round(cpu_bound, 2)}

    record = {
        "gate": "skew_gate",
        "src": src, "f10": f10, "f40": f40,
        "queries": len(SKEW_QUERIES),
        "stats_f10": s10, "stats_f40": s40,
        "class_ratio": round(ratio, 2),
        "spill_f10_b": b10.get("spill_total_b", -1),
        "spill_f40_b": b40.get("spill_total_b", -1),
        "wall_f10_sec": b10.get("value", -1),
        "wall_f40_sec": b40.get("value", -1),
        "shr_ratios": ratios,
        "regime_flips": regime_flips,
        "trim_exposure": {
            "budget": MAX_TRIM_EXPOSURE,
            "simhash_f10": s10["simhash_trim_exposure_share"],
            "simhash_f40": s40["simhash_trim_exposure_share"],
            "phash_f10": s10["phash_trim_exposure_share"],
            "phash_f40": s40["phash_trim_exposure_share"],
            "span_f10": s10["span_trim_exposure_share"],
            "span_f40": s40["span_trim_exposure_share"],
            "span_overcap_keys_f10": s10["span_overcap_keys"],
            "span_overcap_keys_f40": s40["span_overcap_keys"],
            "minhash_f10": s10["minhash_trim_exposure_share"],
            "minhash_f40": s40["minhash_trim_exposure_share"],
            "minhash_overcap_keys_f10": s10["minhash_overcap_keys"],
            "minhash_overcap_keys_f40": s40["minhash_overcap_keys"],
        },
        "fails": fails,
        "pass": not fails,
    }
    with open(os.path.join(out_dir, "skew_gate_record.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({k: v for k, v in record.items()
                      if k not in ("stats_f10", "stats_f40", "shr_ratios")}))
    if fails:
        print("[skew-gate] FAIL:\n  " + "\n  ".join(fails))
        sys.exit(1)
    print(f"[skew-gate] PASS — {len(SKEW_QUERIES)} queries x 2 legs, "
          f"class ratio {ratio:.2f}, zero spill above floor, "
          "trim exposure within budget")


if __name__ == "__main__":
    main()
