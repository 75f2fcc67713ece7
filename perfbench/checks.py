"""Output checks. A failed check fails every timed operation it covers.

- tpch: each query's result (written in the untimed warm pass) is compared
  row for row, in any order, with its DuckDB oracle (`SparkEntry.oracleSql`)
  on the same generated tables. A query without an oracle fails.
- pipeline: every run's summary line must match the first run's, obey the
  stage-count invariants, agree with DuckDB on the input and exact-dedup
  counts, and match pins.json when the seed is pinned.
- copy: every task COMPLETED with checksumVerified, bytes equal to the
  source, and destination MD5 equal to source MD5 (checked by the harness).
"""
import datetime
import decimal
import json
import os

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
PINS = os.path.join(HERE, "pins.json")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def load_pins():
    if not os.path.isfile(PINS):
        return {}
    with open(PINS) as f:
        return json.load(f)


def pin(workload, scale, seed, outputs):
    """Records one seed's outputs as the expected outputs for that seed."""
    pins = load_pins()
    pins.setdefault(workload, {}).setdefault(scale, {})[str(seed)] = outputs
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


def render(v):
    if isinstance(v, float):
        return repr(0.0 if v == 0 else v)
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    return str(v)


def last_unit(v):
    """One unit in the last decimal of the number's rendering: 1e-4 for
    0.0523 or Decimal('0.0500'), about 1e-17 for an unrounded double."""
    d = v if isinstance(v, decimal.Decimal) else decimal.Decimal(repr(v))
    e = d.as_tuple().exponent
    return 10.0 ** e if isinstance(e, int) else 0.0


def split(row, order):
    keys, nums = [], []
    for i in order:
        v = row[i]
        if isinstance(v, (float, decimal.Decimal)):
            keys.append("#")
            nums.append(v)
        else:
            keys.append(render(v))
    return keys, nums


def same_rows(got, got_cols, want, want_cols):
    """Row multisets equal in any order; numbers equal within one unit in
    the last decimal their column is rendered with, plus 1e-9 relative.

    The unit covers rounding: Spark's round() is HALF_UP on the decimal
    rendering and DuckDB's rounds the binary value, so a tie may differ by
    one unit in the last kept decimal, and a Spark decimal result keeps only
    its type's scale. A side's unit for a column is the smallest over its
    values, so a column rounded to 4 decimals gets 1e-4 even where a value
    renders with fewer; the column's unit is the coarser side's, and a
    column unrounded on both sides gets almost none.
    """
    g = sorted(split(r, sorted(range(len(got_cols)), key=lambda i: got_cols[i])) for r in got)
    w = sorted(split(r, sorted(range(len(want_cols)), key=lambda i: want_cols[i])) for r in want)
    if len(g) != len(w) or any(gk != wk or len(gn) != len(wn)
                               for (gk, gn), (wk, wn) in zip(g, w)):
        return False
    width = len(g[0][1]) if g else 0
    units = [max(min((last_unit(row[j]) for _, row in side), default=0.0)
                 for side in (g, w))
             for j in range(width)]
    return all(abs(float(x) - float(y)) <= u + 1e-9 * max(abs(float(x)), abs(float(y)))
               for (_, gn), (_, wn) in zip(g, w)
               for x, y, u in zip(gn, wn, units))


def connect(data):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    return con


def check_registry(res, data):
    c = res["checks"]
    con = connect(data)
    failures = {}
    for name, err in sorted(c["errors"].items()):
        sql = c["oracle"].get(name)
        if err:
            failures[name] = f"check run raised {err}"
            continue
        if sql is None:
            failures[name] = "no oracle in SparkEntry.oracleSql"
            continue
        out = con.execute(f"SELECT * FROM read_parquet('{c['dir']}/{name}/*.parquet')")
        cols = [d[0] for d in out.description]
        rows = out.fetchall()
        o = con.execute(sql)
        ocols = [d[0] for d in o.description]
        want = o.fetchall()
        if sorted(cols) != sorted(ocols):
            failures[name] = f"columns {sorted(cols)} != oracle {sorted(ocols)}"
        elif not same_rows(rows, cols, want, ocols):
            failures[name] = (f"rows differ from the oracle ({len(rows)} rows, "
                              f"oracle {len(want)})")
    con.close()
    return failures


def summary_fields(line):
    s = json.loads(line)
    return {k: v for k, v in s.items() if k not in ("elapsed_sec", "out")}


def check_pipeline(res, data, pinned):
    c = res["checks"]
    sums = [summary_fields(s) for s in c["summaries"]]
    if not sums:
        return {"all": "no summary line"}, {}
    first = sums[0]
    problems = []
    if any(s != first for s in sums[1:]):
        problems.append("summary differs between runs")
    chain = ["input", "after_exact_dedup", "after_near_dedup", "after_quality",
             "after_decontam"]
    if any(first[a] < first[b] for a, b in zip(chain, chain[1:])):
        problems.append("stage counts grow along the pipeline")
    if first["written"] != first["after_decontam"]:
        problems.append("written != after_decontam")
    if first["n_packs"] < 1 or first["shard_balance"] < 1:
        problems.append("n_packs or shard_balance out of range")
    if first["pack_files_after"] > first["pack_files_before"]:
        problems.append("compaction added files")
    con = connect(data)
    n, distinct = con.execute(
        "SELECT count(*), count(DISTINCT text) FROM documents").fetchone()
    con.close()
    if (first["input"], first["after_exact_dedup"]) != (n, distinct):
        problems.append(f"input/exact counts {first['input']}/"
                        f"{first['after_exact_dedup']} != DuckDB {n}/{distinct}")
    got = json.dumps(first, sort_keys=True)
    if "summary" in pinned and pinned["summary"] != got:
        problems.append(f"summary {got} != pinned {pinned['summary']}")
    return ({"pipeline": "; ".join(problems)} if problems else {}), {"summary": got}


def check(workload, res, data, seed, smoke=False):
    """Returns correct/attempted/failed plus the failure messages and what
    pins.json would record for this seed."""
    scale = "smoke" if smoke else "full"
    pinned = load_pins().get(workload, {}).get(scale, {}).get(str(seed), {})
    ops = res["ops"]
    if workload == "tpch":
        bad, pins = check_registry(res, data), {}
        failed_op = lambda o: o["error"] or o["name"] in bad  # noqa: E731
    elif workload == "pipeline":
        bad, pins = check_pipeline(res, data, pinned)
        failed_op = lambda o: o["error"] or bad  # noqa: E731
    else:
        fails = res["checks"]["failures"]
        bad = {f"copy{i}": f for i, f in enumerate(fails)}
        failed_passes = {int(f.split()[1]) for f in fails}
        pins = {}
        failed_op = lambda o: o["error"] or o["pass"] in failed_passes  # noqa: E731
    failed = sum(1 for o in ops if failed_op(o))
    errors = [f"{o['name']}: {o['error']}" for o in ops if o["error"]]
    failures = sorted(set(errors)) + [f"{k}: {v}" for k, v in sorted(bad.items())]
    return {
        "correct": not failures and failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "failures": failures,
        "pins": pins,
        "pinned": bool(pinned),
    }
