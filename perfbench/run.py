#!/usr/bin/env python3
"""Outside-in benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and
the harness from source (`perfbench/build.sbt`); later runs reuse the
build while the sources are unchanged. The query workload reads the
tables under `perfbench/data` and the seed picks the query order; the
pipeline's source is generated from the seed and cached. The harness
JVM sets up, times one cold pass and warm passes for `--seconds`, then
dumps its outputs; after it has exited, DuckDB checks them. Every file
the run writes is under `perfbench/.work` and `perfbench/.build` (and sbt's
own `target` directories).

The last stdout line is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics of BENCHMARK.json when `--trace 0` and the
per-layer metrics when `--trace 1`. The line before it is the full run
record: host fingerprint, seed, input digests, per-pass timings.
See perfbench/README.md for what each workload and metric is for.
"""
import argparse
import fcntl
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

import duckdb

import gen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
BUILD = os.path.join(BENCH, ".build")
# A copy of the engine's sf0.01 correctness tables (TESTDATA.md).
TABLES = os.path.join(BENCH, "data", "sf0.01")
RUN_LIMIT_S = 150  # harness JVM; a run must end within 180 s

# Driver-loop headliners: building the DataFrame inside `q.run` issues
# eager jobs (localCheckpoints, collects, driver-side loops), so the
# pass is bound by job count, not by data size.
ITERATIVE = ["t26_unigram_lm", "q48_transition_anomaly", "q54_sample_quantiles"]
WORKLOADS = {
    "iterative": dict(kind="queries", queries=ITERATIVE),
    "pipeline": dict(kind="pipeline"),
}

# graft package -> layer name. Every package under src/main/scala/graft
# must appear here (the benchmark's tests check it); "" is the `graft`
# package itself and "-" a job issued from the benchmark's own frames.
MODULES = {p: p for p in ["analytics", "core", "dq", "functions", "ingest", "operators",
                          "parse", "pipeline", "plans", "queries", "sources",
                          "streaming", "tools"]}
MODULES.update({"": "entry", "-": "exec"})
LAYER_MODULES = ["core", "parse", "sources", "analytics", "dq", "ingest", "pipeline",
                 "queries", "operators", "functions", "plans"]
# Per-layer counts that must repeat exactly from pass to pass and run to run.
EXACT = ["build.jobs", "pass.jobs", "exec.jobs", "exec.tasks", "dq.jobs",
         "ingest.files_written", "ingest.files_skipped"]

# Fixed heap and generation sizes (no adaptive sizing) keep the peak RSS
# from depending on GC timing feedback.
JVM_OPTS = ["-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-Xms2g", "-Xmx2g",
            "-Xmn512m", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def digest_files(paths, base=ROOT):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, base).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def tree_files(*dirs):
    out = []
    for d in dirs:
        for base, subdirs, files in os.walk(d):
            subdirs[:] = [s for s in subdirs if not s.startswith(".") and s != "target"]
            out += [os.path.join(base, f) for f in files]
    return out


def source_digest():
    return digest_files(tree_files(os.path.join(ROOT, "src", "main"),
                                   os.path.join(BENCH, "src"))
                        + [os.path.join(BENCH, "build.sbt")])


def build():
    """Compile engine + harness once per source digest; return the classpath."""
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest()
        cp_file = os.path.join(BUILD, "classpath")
        if os.path.exists(cp_file):
            with open(cp_file) as f:
                stamp, cp = f.read().split("\n", 1)
            if stamp == digest:
                return cp.strip(), digest
        tmp = os.path.join(BUILD, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # Every JVM the sbt script starts keeps its temporary files here.
        env = dict(os.environ, TMPDIR=tmp, JAVA_TOOL_OPTIONS=" ".join([
            os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]).strip())
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
             "-Dsbt.boot.lock=false", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, capture_output=True, text=True, timeout=800)
        lines = [ln for ln in r.stdout.splitlines() if ln and not ln.startswith("[")]
        if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
            sys.stderr.write((r.stdout + r.stderr)[-4000:])
            fail("build failed")
        with open(cp_file, "w") as f:
            f.write(digest + "\n" + lines[-1])
        return lines[-1], digest


def java_cmd(cp, work, main, *args):
    """A JVM whose temporary, shuffle and metastore files stay in `work`."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return (["java"] + JVM_OPTS
            + [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
               f"-Dderby.system.home={work}", "-cp", cp, main] + list(args))


def input_files(d):
    return [os.path.join(d, f) for f in sorted(os.listdir(d)) if not f.startswith(".")]


def make_inputs(workload, seed):
    """The workload's input directory, its digest and its size in bytes.
    The pipeline source is generated once per seed and generator version."""
    if WORKLOADS[workload]["kind"] == "queries":
        d = TABLES
    else:
        gen_digest = digest_files([os.path.join(BENCH, "gen.py")], BENCH)[:16]
        d = os.path.join(WORK, "inputs", f"{workload}-{seed}-{gen_digest}")
        if not os.path.isdir(d):
            tmp = d + f".tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            gen.bls_source(tmp, seed)
            os.rename(tmp, d)
    files = input_files(d)
    return d, digest_files(files, d), sum(os.path.getsize(p) for p in files)


def run_harness(cp, work, args):
    """Run the harness JVM in `work`; return its record, with `setup_s`
    the seconds from the JVM's launch until its session was ready."""
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "record.json")
    cmd = java_cmd(cp, work, "perfbench.Harness", out, *args)
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as log:
        launched = time.time()
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"harness exited with {rc}")
    with open(out) as f:
        rec = json.load(f)
    rec["setup_s"] = rec["ready_ms"] / 1e3 - launched
    return rec


def cpu_ticks():
    """(steal, total) jiffies of all CPUs since boot. On a virtual machine
    the steal share of a run tells how much the host took away from it."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_share(before, after):
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# ---------------------------------------------------------------- checks

def canon(rel):
    """The canonical form tools/check.py compares: columns sorted by
    name, values as strings (floats rounded to 9 decimals, through
    pandas so an integer sum read back as float shows), rows sorted."""
    df = rel.df()
    cols = list(df.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = []
    for r in df.values.tolist():
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if v != v else str(round(v, 9))
            elif v is None:
                v = "None"
            else:
                v = str(v)
            vals.append(v)
        rows.append(tuple(vals))
    return sorted(cols), sorted(rows)


def duckdb_connect():
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(WORK, 'duckdb_tmp')}'")
    con.execute("SET preserve_insertion_order=false")
    con.execute("SET enable_progress_bar=false")
    return con


def check_queries(input_dir, dump_dir, names):
    """Compare each dumped query output with its DuckDB oracle. Returns
    the names that do not match (or could not be checked)."""
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb_connect()
    for t in parquet_tables(input_dir):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
    bad = []
    for name in names:
        out = os.path.join(dump_dir, name)
        t0 = time.time()
        try:
            got = canon(con.sql(f"SELECT * FROM '{out}/*.parquet'"))
            exp = canon(con.sql(oracle[name]))
            ok = got == exp
        except Exception as e:  # no output, no oracle, or a DuckDB error
            print(f"perfbench: {name}: {type(e).__name__}: {str(e)[:200]}", file=sys.stderr)
            ok = False
        if not ok:
            bad.append(name)
        print(f"perfbench: checked {name} in {time.time() - t0:.2f} s", file=sys.stderr)
    con.close()
    return bad


def parquet_tables(input_dir):
    return sorted(f[:-8] for f in os.listdir(input_dir) if f.endswith(".parquet"))


PIPELINE_EXPECTED = """
CREATE TABLE lines AS
  SELECT unnest(string_split(content, chr(10))) AS line FROM read_text('{src}/pr.data.0.Current');
CREATE TABLE bls AS
  SELECT toks[1] AS series_id, TRY_CAST(toks[2] AS INTEGER) AS year,
         toks[3] AS period, TRY_CAST(toks[4] AS DOUBLE) AS value
  FROM (SELECT regexp_split_to_array(trim(line), '\\s+') AS toks FROM lines
        WHERE length(trim(line)) > 0)
  WHERE toks[1] IS NOT NULL AND TRY_CAST(toks[2] AS INTEGER) IS NOT NULL
    AND toks[3] IS NOT NULL AND TRY_CAST(toks[4] AS DOUBLE) IS NOT NULL;
CREATE TABLE pop AS
  SELECT TRY_CAST(r.Year AS INTEGER) AS Year, TRY_CAST(r.Population AS DOUBLE) AS Population
  FROM (SELECT unnest(data) AS r FROM read_json('{src}/population.json', maximum_object_size=100000000))
  WHERE TRY_CAST(r.Year AS INTEGER) IS NOT NULL AND TRY_CAST(r.Population AS DOUBLE) IS NOT NULL;
"""

PIPELINE_TABLES = {
    "population_stats_2013_2018":
        "SELECT avg(Population) AS mean_population, stddev_samp(Population) AS stddev_population "
        "FROM pop WHERE Year BETWEEN 2013 AND 2018",
    "bls_best_year_by_series":
        "SELECT series_id, year AS best_year, summed_value FROM ("
        " SELECT *, row_number() OVER (PARTITION BY series_id ORDER BY summed_value DESC, year) rn"
        " FROM (SELECT series_id, year, sum(value) AS summed_value FROM bls GROUP BY ALL))"
        " WHERE rn = 1",
    "report_prs30006032_q01":
        "SELECT b.year, b.series_id, b.period, b.value, p.Population AS population"
        " FROM bls b LEFT JOIN pop p ON b.year = p.Year"
        " WHERE b.series_id = 'PRS30006032' AND b.period = 'Q01'",
}

DQ_COUNTS = """
SELECT (SELECT count(*) FROM bls) AS bls_rows,
       (SELECT count(DISTINCT series_id) FROM bls) AS bls_distinct_series_id,
       (SELECT count(DISTINCT year) FROM bls) AS bls_distinct_years,
       (SELECT count(*) FROM bls) - (SELECT count(*) FROM (SELECT DISTINCT * FROM bls))
         AS bls_full_row_duplicates,
       (SELECT count(*) FROM pop) AS population_rows,
       (SELECT count(DISTINCT Year) FROM pop) AS population_distinct_years,
       (SELECT count(*) FROM pop) - (SELECT count(*) FROM (SELECT DISTINCT * FROM pop))
         AS population_full_row_duplicates,
       (SELECT count(*) FROM bls WHERE value < 0) AS bls_negative_values,
       (SELECT count(*) FROM pop WHERE Population <= 0) AS population_non_positive_values
"""


def iqr_outlier_range(con):
    """The engine takes the IQR bounds from approxQuantile at 1 %
    relative error, so the exact outlier count is only pinned to the
    range the rank error allows: every quartile estimate lies between
    the exact 24th/26th (74th/76th) percentiles."""
    q = con.sql("SELECT quantile_disc(value, [0.24, 0.26, 0.74, 0.76]) FROM bls").fetchone()[0]
    q1lo, q1hi, q3lo, q3hi = q

    def count(lo, hi):
        return con.sql(f"SELECT count(*) FROM bls WHERE value < {lo!r} OR value > {hi!r}").fetchone()[0]
    fewest = count(q1lo - 1.5 * (q3hi - q1lo), q3hi + 1.5 * (q3hi - q1lo))
    most = count(q1hi - 1.5 * (q3lo - q1hi), q3lo + 1.5 * (q3lo - q1hi))
    return fewest, most


def canon_sig(rel):
    """Pipeline tables are compared to 10 significant digits: Req A's
    mean and standard deviation of ~3e8 values differ in the last bits
    between summation orders."""
    cols, rows = canon(rel)
    def fix(v):
        try:
            return v if "." not in v else "%.10g" % float(v)
        except ValueError:
            return v
    return cols, sorted(tuple(fix(v) for v in r) for r in rows)


def check_pipeline(src, run_dir, runs):
    """Expected Req A/B/C and DQ rows, computed by DuckDB from the raw
    source files, against the tables the pipeline published. Returns the
    names of the checks that failed."""
    wh = os.path.join(run_dir, "spark-warehouse", "perfbench_lakehouse.db")
    con = duckdb_connect()
    bad = []
    try:
        for stmt in PIPELINE_EXPECTED.format(src=src).split(";"):
            if stmt.strip():
                con.execute(stmt)
        for table, sql in PIPELINE_TABLES.items():
            got = canon_sig(con.sql(f"SELECT * FROM '{wh}/{table}/*.parquet'"))
            if got != canon_sig(con.sql(sql)):
                bad.append(table)
        counts = con.sql(DQ_COUNTS)
        exp = dict(zip([d[0] for d in counts.description], counts.fetchone()))
        log = con.sql(f"SELECT * FROM '{wh}/dq_summary_runlog/*.parquet'")
        cols = [d[0] for d in log.description]
        rows = [dict(zip(cols, r)) for r in log.fetchall()]
        fewest, most = iqr_outlier_range(con)
        if len(rows) != runs or any(
                any(r[k] != v for k, v in exp.items())
                or not fewest <= r["bls_outlier_rows_iqr"] <= most for r in rows):
            bad.append("dq_summary_runlog")
        with open(os.path.join(src, "pr.data.0.Current"), "rb") as a, \
                open(os.path.join(run_dir, "raw_bls", "pr.data.0.Current"), "rb") as b:
            if a.read() != b.read():
                bad.append("raw_bls")
    except Exception as e:
        print(f"perfbench: pipeline check: {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
        bad.append("pipeline_check")
    con.close()
    return bad


def count_failed(rec, mismatched):
    """Operations that threw or reported failure in the harness, plus
    outputs that failed the check; at most the number attempted."""
    return min(rec["attempted"], sum(rec["ops_failed"].values()) + len(mismatched))


# --------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(layer, input_bytes):
    """Per-layer metrics of one traced pass (see README.md)."""
    wall = layer["wall_s"]
    ph = layer["phase_s"]
    jobs_by_mod, job_s_by_mod = {}, {}
    for pkg, n in layer["jobs_by_package"].items():
        mod = MODULES.get(pkg)
        if mod is None:
            raise ValueError(f"job call site in unmapped graft package {pkg!r}")
        jobs_by_mod[mod] = jobs_by_mod.get(mod, 0) + n
        job_s_by_mod[mod] = job_s_by_mod.get(mod, 0.0) + layer["job_s_by_package"].get(pkg, 0.0)
    stages, tasks = layer["stages"], layer["tasks"]
    m = {
        "build.s": ph.get("build", 0.0),
        "build.jobs": layer["jobs_by_phase"].get("build", 0),
        "build.task_s": layer["task_s_by_phase"].get("build", 0.0),
        "plans.analysis_s": layer["plan_s"].get("analysis", 0.0),
        "plans.optimization_s": layer["plan_s"].get("optimization", 0.0),
        "plans.planning_s": layer["plan_s"].get("planning", 0.0),
        "exec.action_s": ph.get("action", 0.0) + ph.get("analytics", 0.0),
        "exec.jobs": jobs_by_mod.get("exec", 0),
        "pass.jobs": sum(layer["jobs_by_phase"].values()),
        "exec.stages": stages,
        "exec.tasks": tasks,
        "exec.tasks_per_stage": tasks / stages if stages else 0.0,
        "exec.task_s": layer["task_s"],
        "exec.cpu_s": layer["cpu_s"],
        "exec.gc_s": layer["gc_s"],
        "exec.shuffle_write_mb": layer["shuffle_write_mb"],
        "exec.spill_mb": layer["spill_mb"],
        "exec.core_util": layer["task_s"] / (wall * layer["cores"]),
        "exec.driver_only_s": max(0.0, wall - layer["busy_s"]),
        "exec.input_mb": layer["input_mb"],
        "exec.scan_amplification": layer["input_mb"] * 1048576.0 / input_bytes,
        "ingest.s": ph.get("ingest", 0.0),
        "ingest.files_written": layer["ingest"].get("files_written", 0),
        "ingest.files_skipped": layer["ingest"].get("files_skipped", 0),
    }
    for mod in LAYER_MODULES:
        m[f"{mod}.jobs"] = jobs_by_mod.get(mod, 0)
        m[f"{mod}.job_s"] = job_s_by_mod.get(mod, 0.0)
    return m


def metric_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def summarize(rec, input_bytes, trace, units):
    """Metric values of one run from the harness record. Returns
    (metrics, exact_counts); exact_counts is None when the traced passes
    disagreed on a count that must repeat."""
    if not trace:
        vals = {
            "setup_s": rec["setup_s"],
            "cold_pass_s": rec["cold_pass_s"],
            "pass_s": median(rec["pass_s"]),
            "peak_rss_mb": rec["peak_rss_mb"],
        }
        counts = {}
    else:
        per_pass = [layer_metrics(l, input_bytes) for l in rec["layers"]]
        vals = {k: median([p[k] for p in per_pass]) for k in per_pass[0]}
        vals["core.session_s"] = rec["session_s"]
        vals["trace.overhead_s"] = median(rec["pass_s"]) - median(rec["untraced_pass_s"])
        counts = {k: per_pass[0][k] for k in EXACT}
        if any(p[k] != counts[k] for p in per_pass for k in EXACT):
            counts = None
    missing = set(units) - set(vals)
    if missing:
        raise ValueError(f"no value for metrics {sorted(missing)}")
    return {k: {"value": vals[k], "unit": u} for k, u in units.items()}, counts


def counts_repeat(workload, seed, key, counts):
    """Exact counts of a traced run must equal those of every earlier
    traced run of the same inputs and sources in this checkout."""
    d = os.path.join(WORK, "counts")
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, f"{workload}-{seed}-{hashlib.sha256(key.encode()).hexdigest()[:16]}.json")
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f) == counts
    with open(p, "w") as f:
        json.dump(counts, f)
    return True


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found: run from the root of a full checkout")
    started = time.time()
    load_before = load1()
    ticks_before = cpu_ticks()
    cores = os.cpu_count() or 1
    e2e_units, layer_units = metric_units()
    spec = WORKLOADS[a.workload]

    stage_s = {}
    def lap(name, t=[started]):
        now = time.time()
        stage_s[name] = now - t[0]
        t[0] = now

    cp, src_digest = build()
    lap("build")
    input_dir, input_digest, input_bytes = make_inputs(a.workload, a.seed)
    lap("inputs")

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    dump = os.path.join(run_dir, "dump")
    order = list(spec.get("queries", []))
    random.Random(a.seed).shuffle(order)
    args = [f"kind={spec['kind']}", f"input={input_dir}", f"seconds={a.seconds}",
            f"trace={a.trace}", f"cores={cores}", f"queries={','.join(order)}", f"dump={dump}"]
    rec = run_harness(cp, run_dir, args)
    lap("harness")

    # Correctness, only now that no JVM is running.
    if spec["kind"] == "queries":
        bad = check_queries(input_dir, dump, order)
    else:
        bad = check_pipeline(input_dir, run_dir, rec["pipeline_runs"])
    failed = count_failed(rec, bad)
    lap("check")
    for e in rec["errors"]:
        print(f"perfbench: {e}", file=sys.stderr)

    units = layer_units if a.trace else e2e_units
    metrics, counts = summarize(rec, input_bytes, a.trace, units)
    repeat = True
    if a.trace:
        repeat = counts is not None and counts_repeat(
            a.workload, a.seed, src_digest + input_digest, counts)
        if not repeat:
            print("perfbench: exact counts differ between traced passes or runs",
                  file=sys.stderr)
    correct = failed == 0 and repeat
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "host": {"nproc": cores, "xmx_mb": rec["max_heap_mb"], "jdk": rec["jdk"],
                 "load1_before": load_before, "load1_after": load1(),
                 "steal_share": steal_share(ticks_before, cpu_ticks())},
        "git_commit": git_commit(), "source_digest": src_digest,
        "inputs": {"dir": os.path.relpath(input_dir, ROOT), "sha256": input_digest,
                   "bytes": input_bytes},
        "failed_ops": failed / rec["attempted"], "mismatched": bad,
        "exact_counts": counts, "counts_repeat": repeat,
        "setup_s": rec["setup_s"], "cold_pass_s": rec["cold_pass_s"],
        "pass_s": rec["pass_s"], "untraced_pass_s": rec["untraced_pass_s"],
        "op_s": rec["op_s"], "stage_s": stage_s, "wall_s": time.time() - started,
    }
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": correct, "attempted": rec["attempted"], "failed": failed,
                      "metrics": metrics}))


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


if __name__ == "__main__":
    main()
