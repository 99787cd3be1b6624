"""Benchmark entry point: one measured run of one workload.

    python3 perfbench/run.py --workload <article_etl|corpus_mix>
        --seed <n> --seconds <s> --trace <0|1>
        [--regen-inputs] [--regen-oracle]

Run from the root of a checkout. Builds the checkout's sources (build.py),
generates the seeded inputs (gen.py; cached under .bench_build/inputs by
workload, seed and size), runs the harness JVM, checks every output, and
prints one JSON line: the end-to-end metrics of BENCHMARK.json, or with
--trace 1 its per-layer metrics. A full record of the run, host steal
included, lands in .bench_build/runs/.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

# input sizes; README.md gives the make-up of each
SIZES = {"article_etl": 28000, "corpus_mix": 1000}
# a warm pass takes about this long on a 4-core host; a run makes
# --seconds / NOMINAL_PASS_S timed passes, a count fixed by the arguments
# rather than a time-bound loop, because passes keep speeding up as the JIT
# warms and a count that followed host speed would make a slow host slower
NOMINAL_PASS_S = {"article_etl": 3.5, "corpus_mix": 6.5}
HEAP = "2g"
# untimed passes before the timed ones (the first is cold); passes keep
# speeding up as the JIT warms: after two, the first timed corpus pass still
# took 5-25 % more wall and 10-30 % more CPU than the second
WARMUPS = 3
JVM_TIMEOUT_S = 165
KEEP_INPUTS = 24

JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io",
               "java.base/java.net", "java.base/java.nio",
               "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def steal_ticks():
    """(steal, total) jiffies over all cpus, from /proc/stat (read only)."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7] if len(v) > 7 else 0, sum(v[:8])
    except OSError:
        return 0, 0


# --------------------------------------------------------------------------
# inputs

def inputs(root, workload, seed, regen):
    """Directory of the seeded inputs, generated on first use."""
    base = os.path.join(root, ".bench_build", "inputs")
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    d = os.path.join(base, f"{workload}-{SIZES[workload]}-{version}-s{seed}")
    if regen:
        shutil.rmtree(d, ignore_errors=True)
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        if workload == "article_etl":
            _, expected = gen.articles(tmp, seed, SIZES[workload])
            meta = {"expected": expected}
        else:
            meta = gen.documents(tmp, seed, SIZES[workload])
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        open(os.path.join(tmp, "DONE"), "w").close()
        os.replace(tmp, d)
        old = sorted(glob.glob(os.path.join(base, "*-s*")), key=os.path.getmtime)
        for o in old[:-KEEP_INPUTS]:
            shutil.rmtree(o, ignore_errors=True)
    os.utime(d)
    return d


# --------------------------------------------------------------------------
# output checks (all outside the timed passes)

def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def frame(con, sql):
    """Column-sorted, row-sorted, exact rendering of a result."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(norm_cell(r[i]) for i in order) for r in cur.fetchall())
    return [cols[i] for i in order], rows


def digest(fr):
    return hashlib.sha256(json.dumps(fr).encode()).hexdigest()


def check_oracle(data, out, oracle_sql, names, regen):
    """Compare each result with DuckDB running the program's own oracle SQL
    on the same parquet. Oracle results are cached by seed and SQL text."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        name = os.path.basename(p)[:-8]
        con.execute(f"CREATE TABLE {name} AS SELECT * FROM read_parquet('{p}')")
    cache = os.path.join(data, "oracle")
    os.makedirs(cache, exist_ok=True)
    bad = {}
    for n in names:
        sql = oracle_sql.get(n)
        if sql is None:
            bad[n] = "no oracle SQL"
            continue
        key = os.path.join(cache, hashlib.sha256(sql.encode()).hexdigest()[:20])
        if regen or not os.path.exists(key):
            with open(key + ".tmp", "w") as f:
                f.write(digest(frame(con, sql)))
            os.replace(key + ".tmp", key)
        with open(key) as f:
            want = f.read()
        files = glob.glob(os.path.join(out, "results", n, "*.parquet"))
        if not files:
            bad[n] = "no result"
            continue
        got = digest(frame(con, f"SELECT * FROM read_parquet({files!r})"))
        if got != want:
            bad[n] = "result differs from the DuckDB oracle"
    return bad


def check_articles(data, out, names):
    """Compare each article result with the generator's own counts, and the
    two sink artifacts with the generated records."""
    import pyarrow.parquet as pq
    with open(os.path.join(data, "meta.json")) as f:
        expected = json.load(f)["expected"]
    expected["limit_1000"] = [[1000]]
    bad = {}
    for n in names:
        if n in ("v2_write", "array_sink"):
            continue
        files = glob.glob(os.path.join(out, "results", n, "*.parquet"))
        if not files:
            bad[n] = "no result"
            continue
        t = pq.read_table(files[0])
        rows = sorted(list(r.values()) for r in t.to_pylist())
        if rows != expected[n]:
            bad[n] = "differs from the generator's counts"
    records = []
    for c, schema, *_ in gen.CORPORA:
        with open(os.path.join(data, c + ".json"), encoding="utf-8") as f:
            records += json.load(f)
    want = [tuple(r.get(c, "") for c in gen.IEEE_COLS) for r in records]
    # JsonArraySink: the generated records, in order, NULL written back as ''
    try:
        with open(os.path.join(out, "array_sink.json"), encoding="utf-8") as f:
            art = json.load(f)
        if ([tuple(r.keys()) for r in art] != [tuple(gen.IEEE_COLS)] * len(art)
                or [tuple(r.values()) for r in art] != want):
            bad["array_sink"] = "artifact differs from the generated records"
    except (OSError, ValueError) as e:
        bad["array_sink"] = f"unreadable artifact: {e}"
    # V2 JSON-lines write read back: the scan, '' normalized to NULL
    got = []
    for p in glob.glob(os.path.join(out, "v2_write", "*.json")):
        with open(p, encoding="utf-8") as f:
            got += [tuple(json.loads(line).get(c) for c in gen.IEEE_COLS)
                    for line in f if line.strip()]
    scan = [tuple(None if v == "" else v for v in r) for r in want]
    if digest(sorted(map(repr, got))) != digest(sorted(map(repr, scan))):
        bad["v2_write"] = "written rows differ from the scan"
    return bad


# --------------------------------------------------------------------------

def launch(root, cp, workload, data, out, passes, trace):
    tmp = os.path.join(root, ".bench_build", "tmp")
    os.makedirs(os.path.join(tmp, "spark"), exist_ok=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            "-XX:-UsePerfData"] + opens + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}/spark",
        f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
        "-cp", os.pathsep.join(cp), "perfbench.PerfBench",
        workload, data, out, str(passes), str(trace), str(cpus()),
        str(WARMUPS)])
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=f"{tmp}/spark",
               GRAFT_ESTATE_DIR=f"{tmp}/estate")
    with open(os.path.join(out, "jvm.log"), "wb") as log:
        t0 = time.time()
        p = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=log,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{workload} JVM timed out; log in {out}/jvm.log")
    rec_path = os.path.join(out, "record.json")
    if rc != 0 or not os.path.exists(rec_path):
        fail(f"{workload} JVM exited {rc}; log in {out}/jvm.log")
    with open(rec_path) as f:
        rec = json.load(f)
    rec["setup_s"] = rec["first_pass_epoch"] - t0
    return rec


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--regen-inputs", action="store_true")
    ap.add_argument("--regen-oracle", action="store_true")
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main")):
        fail("run from the root of a checkout (src/main not found)")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    try:
        cp = build.ensure(root)
    except (OSError, RuntimeError) as e:
        fail(f"build failed: {e}")
    t_gen = time.time()
    data = inputs(root, a.workload, a.seed, a.regen_inputs)

    s0 = steal_ticks()
    t_jvm = time.time()
    passes = max(2, round(a.seconds / NOMINAL_PASS_S[a.workload]))
    out = os.path.join(root, ".bench_build", "out", a.workload)
    rec = launch(root, cp, a.workload, data, out, passes, a.trace)
    s1 = steal_ticks()
    t_check = time.time()

    # checks of the final pass's outputs; an operation whose output is wrong
    # failed in every pass it did not throw in
    ops = rec["ops"]
    attempted = rec["passes"] * len(ops)
    failed = len(rec["failed_ops"])
    if a.workload == "article_etl":
        bad = check_articles(data, out, ops)
    else:
        bad = check_oracle(data, out, rec["oracle_sql"], ops, a.regen_oracle)
    wrong = {n: why for n, why in bad.items() if n not in rec["failed_ops"]}
    failed += sum(rec["passes"] - rec["failed_ops"].count(n) for n in wrong)

    if a.trace:
        metrics = {m["name"]: {"value": rec["layers"].get(m["name"], 0.0),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        values = {"pass_s": statistics.median(rec["pass_s"]),
                  "cpu_s": statistics.median(rec["cpu_s"]),
                  "peak_rss_mb": rec["peak_rss_mb"], "setup_s": rec["setup_s"]}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    dsteal, dtotal = s1[0] - s0[0], s1[1] - s0[1]
    rec.update({"seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                "cpus": cpus(), "steal_frac": dsteal / dtotal if dtotal else 0.0,
                "phase_s": {"inputs": t_jvm - t_gen, "jvm": t_check - t_jvm,
                            "check": time.time() - t_check},
                "wrong": wrong, "metrics": metrics})
    runs = os.path.join(root, ".bench_build", "runs")
    os.makedirs(runs, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(runs, f"{stamp}-{a.workload}-s{a.seed}-t{a.trace}.json"),
              "w") as f:
        json.dump(rec, f, indent=1)
    for n, why in wrong.items():
        print(f"perfbench: {n}: {why}", file=sys.stderr)
    for n, e in rec["errors"].items():
        print(f"perfbench: {n} failed: {e}", file=sys.stderr)
    print(json.dumps({"correct": not wrong, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
