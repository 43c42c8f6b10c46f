#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify at a
given SF, then execute each oracle SQL in DuckDB over the same parquet
tables and diff the results (columns sorted by name, rows sorted).

Usage: python3 tools/check.py [sfDir] [outDir] [--skip-verify] [query...]

--bench-oracle: instead of comparing, TIME each headline query's oracle
SQL in DuckDB (median of 3 reps, same parquet, same host) and merge the
timings into this checkout's ORACLE_BENCH.json keyed by the sf basename.
graft.Bench picks that file up and emits a per-query Spark/DuckDB ratio
— the measurable stand-in for the "within 2x of baseline" gate, since
the reference publishes no wall-times (BASELINE.md).
"""
import json, math, os, subprocess, sys, time
from pathlib import Path

import duckdb

# The checkout this script belongs to: Verify runs, and ORACLE_BENCH.json
# lands, there, so a second checkout (say, a parent clone) checks itself.
repo = Path(__file__).resolve().parents[1]

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = Path(sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out")
flags = set(a for a in sys.argv[3:] if a.startswith("--"))
only = [a for a in sys.argv[3:] if not a.startswith("--")]

from receipts import tee_stdout  # noqa: E402 (needs sys.argv parsed)
tee_stdout("check", sf, out)

if "--skip-verify" not in flags:
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {sf} {out}'],
        cwd=repo, capture_output=True, text=True)
    tail = "\n".join((r.stdout + r.stderr).splitlines()[-15:])
    if r.returncode != 0:
        print("VERIFY FAILED:\n", tail)
        sys.exit(1)
    if "[verify]" in r.stdout or "[verify]" in r.stderr:
        for ln in (r.stdout + r.stderr).splitlines():
            if "[verify]" in ln:
                print(ln)

oracle = json.loads((out / "oracle_sql.json").read_text())
con = duckdb.connect()
# big-SF oracles must SPILL, not OOM: with no temp_directory an
# in-memory DuckDB cannot spill at all, and the default memory_limit
# (80% of RAM) lets one sf10 oracle grow past the host's memory and
# get OOM-killed mid-comparison (r18: s12's 130 GB RSS kill). The
# default 60GB leaves headroom for a concurrent Spark JVM; a SOLO
# big one-shot (pipe01 at sf10 needs ~100GB workspace, more than the
# host's free disk can absorb as spill under a low cap) can raise it
# via DUCKDB_MEMORY_LIMIT. Order is irrelevant to the hash compare
# (rows are sorted).
con.execute("SET preserve_insertion_order=false")
con.execute("SET temp_directory='/tmp/duck_spill'")
con.execute(f"SET memory_limit='{os.environ.get('DUCKDB_MEMORY_LIMIT', '60GB')}'")
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")


def canon(rel):
    """Canonicalize through pandas (like the driver): DuckDB HUGEINT
    becomes float64 here, so an integer-sum oracle column reads "2.0"
    while Spark's parquet int64 reads "2" — a real hash mismatch that
    fetchall() (HUGEINT -> Python int) would hide. Values are compared
    as strings, floats rounded to 9 decimals first."""
    df = rel.df()
    cols = list(df.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in df.values.tolist():
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else str(round(v, 9))
            elif v is None:
                v = "None"
            else:
                v = str(v)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(cols), sorted(out)


if "--bench-oracle" in flags:
    # Median of 3 reps per headline oracle. Symmetry note: both engines
    # read OS-page-cache-warm parquet; graft.Bench's per-rep
    # clearCache() only drops Spark-side operator caches (persisted
    # intermediates), so the spark/duckdb ratio compares like with like.
    hpath = out / "headline.json"
    if not hpath.exists():
        sys.exit(f"--bench-oracle needs {hpath} (written by graft.Verify; "
                 "rerun without --skip-verify or point outDir at a Verify dump)")
    headline = json.loads(hpath.read_text())
    names = [n for n in (only if only else headline) if n in oracle]
    if only and len(names) < len(only):
        print("skipping (no oracle):", ", ".join(sorted(set(only) - set(names))))
    timings = {}
    for name in names:
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            con.sql(oracle[name]).fetchall()
            reps.append(time.perf_counter() - t0)
        timings[name] = round(sorted(reps)[1], 3)
        print(f"oracle {name}: {timings[name]}s")
    bench_path = repo / "ORACLE_BENCH.json"
    merged = json.loads(bench_path.read_text()) if bench_path.exists() else {}
    # merge per QUERY within the SF: a subset run (explicit names) must
    # not wipe the other headline timings for that SF
    merged.setdefault(Path(sf).name, {}).update(timings)
    bench_path.write_text(json.dumps(merged, indent=1, sort_keys=True))
    print(f"\nwrote {bench_path} [{Path(sf).name}] ({len(timings)} queries)")
    sys.exit(0)

fails = 0
names = only if only else sorted(oracle)
for name in names:
    sql = oracle[name]
    pq = out / name
    if not pq.exists():
        print(f"FAIL {name}: no spark output")
        fails += 1
        continue
    try:
        got_cols, got = canon(con.sql(f"SELECT * FROM '{pq}/*.parquet'"))
        exp_cols, exp = canon(con.sql(sql))
    except Exception as e:
        print(f"FAIL {name}: {type(e).__name__}: {str(e)[:200]}")
        fails += 1
        continue
    if got_cols != exp_cols:
        print(f"FAIL {name}: columns {got_cols} != {exp_cols}")
        fails += 1
    elif got != exp:
        print(f"FAIL {name}: {len(got)} rows vs {len(exp)} rows")
        diff = [(g, e) for g, e in zip(got, exp) if g != e]
        for g, e in diff[:3]:
            print(f"   spark:  {g}\n   duckdb: {e}")
        if len(got) != len(exp):
            sg, se = set(got), set(exp)
            for r in list(sg - se)[:3]:
                print(f"   only-spark: {r}")
            for r in list(se - sg)[:3]:
                print(f"   only-duck:  {r}")
        fails += 1
    else:
        print(f"OK   {name} ({len(got)} rows)")
print(f"\n{len(names) - fails}/{len(names)} queries match")
sys.exit(1 if fails else 0)
