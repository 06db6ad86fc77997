#!/usr/bin/env python3
"""The repository's benchmark: one command per (workload, seed).

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-check [--fixtures <dir with the graded parquet>]

Run from the repository root. It builds the engine and the harness with
sbt (once per source state), generates the workload's inputs from the
seed (cached per workload and seed), runs the measuring JVM, checks
every output and prints one JSON object as its last line. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones. A line starting with ``report`` before it carries
what explains the numbers: sample counts, failures with their causes,
the environment record, and for traced runs the tracing overhead and
the time accounting. Everything it writes stays under ``.perfbench/``.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("topic_model", "query_mix")
STATE = ".perfbench"
JVM_TIMEOUT_S = 150
# A fixed, pre-touched heap: on a 4-vCPU Firecracker VM, heap growth
# varied from run to run and showed as 20-40% swings in every timing and
# in the peak RSS of runs on the same seed.
XMX = "3g"
# The module opens Spark needs on JDK 17 outside spark-submit; the same
# list the root build.sbt passes to its forked JVMs.
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile the engine and the harness; return the runtime classpath."""
    if not os.path.isfile(os.path.join(root, "build.sbt")) or \
            not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no engine sources here (run from the repository root)")
    stamp, cp_file = source_stamp(root), os.path.join(root, STATE, "classpath")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def java(cp, args, tmp, timeout):
    """Run the harness JVM with its log in `tmp`; fail the run on a nonzero exit."""
    cmd = ["java", f"-Xmx{XMX}", f"-Xms{XMX}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.callstack.depth=60"]
    cmd += [f"--add-opens={m}=ALL-UNNAMED" for m in JDK_OPENS]
    cmd += ["-cp", cp, "perfbench.Harness"] + args
    with open(os.path.join(tmp, "jvm.log"), "a") as errf:
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=errf, text=True,
                           timeout=timeout)
    if p.returncode != 0:
        raise SystemExit(f"perfbench: harness JVM exited with {p.returncode} "
                         f"(log: {os.path.join(tmp, 'jvm.log')})")
    return p.stdout


# ---- correctness ---------------------------------------------------------

def canon(df):
    """Columns by name, rows by every column: the comparison tools/parity.py makes."""
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def frame_hash(df):
    """Dtype-strict digest of a canonical frame (equal digests <=> DataFrame.equals)."""
    h = hashlib.sha256(json.dumps([list(df.columns), [str(t) for t in df.dtypes]]).encode())
    h.update(str(len(df)).encode())
    for c in df.columns:
        h.update(json.dumps(df[c].tolist(), default=repr).encode())
    return h.hexdigest()


def summary(df):
    return {"cols": sorted(df.columns), "rows": len(df),
            "dtypes": {c: str(t) for c, t in df.dtypes.items()}}


def oracle_hashes(data, sqls, cache):
    """Expected digest of every op's result, from DuckDB (cached per seed)."""
    import duckdb
    key = hashlib.sha256(json.dumps(sqls, sort_keys=True).encode()).hexdigest()
    if os.path.isfile(cache):
        with open(cache) as f:
            got = json.load(f)
        if got.get("sql") == key:
            return got["results"]
    con = duckdb.connect()
    con.execute(f"PRAGMA temp_directory='{os.path.join(os.path.dirname(cache), 'duckdb_spill')}'")
    for t in gen.EXPECTED:
        if os.path.exists(f"{data}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    out = {}
    for name, sql in sorted(sqls.items()):
        try:
            w = canon(con.execute(sql).df())
            out[name] = {"hash": frame_hash(w), **summary(w)}
        except Exception as e:  # an oracle that cannot run is a failed check
            out[name] = {"error": f"{type(e).__name__}: {str(e)[:200]}"}
    with open(cache, "w") as f:
        json.dump({"sql": key, "results": out}, f)
    return out


def check_results(out, expected):
    """Compare each first-pass result with the oracle; return {op: cause}."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"PRAGMA temp_directory='{out}/duckdb_spill'")
    bad = {}
    for name, want in sorted(expected.items()):
        if "error" in want:
            bad[name] = f"oracle error: {want['error']}"
            continue
        files = sorted(glob.glob(f"{out}/results/{name}/*.parquet"))
        if not files:
            bad[name] = "no result written"
            continue
        flist = ", ".join(f"'{f}'" for f in files)
        try:
            g = canon(con.execute(f"SELECT * FROM read_parquet([{flist}])").df())
        except Exception as e:
            bad[name] = f"unsortable result: {type(e).__name__}: {str(e)[:120]}"
            continue
        if frame_hash(g) == want["hash"]:
            continue
        got = summary(g)
        if got["cols"] != want["cols"]:
            bad[name] = f"columns {got['cols']} != oracle {want['cols']}"
        elif got["rows"] != want["rows"]:
            bad[name] = f"{got['rows']} rows != oracle {want['rows']}"
        elif got["dtypes"] != want["dtypes"]:
            bad[name] = f"dtypes {got['dtypes']} != oracle {want['dtypes']}"
        else:
            bad[name] = "values differ from the oracle"
    return bad


# ---- environment record --------------------------------------------------

def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def steal_jiffies():
    """Cumulative steal jiffies (field 8 of /proc/stat's cpu line), -1 if absent."""
    try:
        with open("/proc/stat") as f:
            for line in f:
                if line.startswith("cpu "):
                    parts = line.split()
                    return int(parts[8]) if len(parts) > 8 else -1
    except OSError:
        pass
    return -1


# ---- metrics -------------------------------------------------------------

def warm(run):
    """The untraced warm passes (a traced run interleaves traced ones)."""
    return [p for p in run["passes"] if p["pass"] > 0 and not p["traced"]]


def op_samples(run, workload, passes):
    """Op latencies in `passes`: EM iterations for topic_model, op calls otherwise."""
    ids = {p["pass"] for p in passes}
    if workload == "topic_model":
        return [t for e in run["em_iterations"] if e["pass"] in ids for t in e["times"]]
    return [(o["end"] - o["start"]) / 1000.0 for p in passes for o in p["ops"]]


def end_to_end(run, workload):
    w = warm(run)
    samples = op_samples(run, workload, w)
    p50, _ = metrics.percentile(samples, 0.5)
    p80, beyond = metrics.percentile(samples, 0.8)
    first = run["passes"][0]
    e2e = {
        "setup_s": run["setup_s"],
        "wall_s": statistics.median((p["end"] - p["start"]) / 1000.0 for p in w),
        "first_pass_s": (first["end"] - first["start"]) / 1000.0,
        "op_p50_s": p50, "op_p80_s": p80,
        "peak_rss_mb": run["peak_rss_mb"],
    }
    info = {"warm_passes": len(w), "op_samples": len(samples), "samples_beyond_p80": beyond}
    if workload == "topic_model":
        def phase(name):
            return statistics.median((o["end"] - o["start"]) / 1000.0
                                     for p in w for o in p["ops"] if o["op"] == name)
        info["train_s"], info["classify_s"] = phase("train"), phase("classify")
    return e2e, info


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true")
    ap.add_argument("--fixtures", help="with --self-check: compare generated schemas to this dir")
    a = ap.parse_args()
    if a.self_check:
        metrics.selfcheck()
        if a.fixtures:
            import pyarrow.parquet as pq
            for t in gen.EXPECTED:
                got = pq.read_schema(os.path.join(a.fixtures, f"{t}.parquet")).remove_metadata()
                assert got.equals(gen.schema_of(t)), (t, got)
            print("fixture schemas ok")
        return
    if not a.workload:
        ap.error("--workload is required")

    root = os.getcwd()
    cp = build(root)
    state = os.path.join(root, STATE)
    data = os.path.join(state, "data", f"{a.workload}-{a.seed}")
    gen.generate(a.workload, a.seed, data)
    out = os.path.join(state, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)

    env = {"nproc": os.cpu_count(), "xmx": XMX, "loadavg_before": loadavg()}
    steal0 = steal_jiffies()
    try:
        java(cp, [a.workload, data, out, str(a.seconds), str(a.trace), str(a.seed)],
             out, JVM_TIMEOUT_S)
        with open(os.path.join(out, "run.json")) as f:
            run = json.load(f)

        failures = {f"{x['op']}#{x['pass']}": x["cause"] for x in run["failures"]}
        attempted = sum(len(p["ops"]) for p in run["passes"])
        wrong = {}
        sql_file = os.path.join(out, "oracle_sql.json")
        if os.path.isfile(sql_file):
            with open(sql_file) as f:
                sqls = json.load(f)
            cache = os.path.join(state, "oracle", f"{a.workload}-{a.seed}.json")
            os.makedirs(os.path.dirname(cache), exist_ok=True)
            wrong = check_results(out, oracle_hashes(data, sqls, cache))
        for c in run["checks"]:
            attempted += 1
            if not c["ok"]:
                wrong[f"check {c['check']}"] = c["detail"]
        failed = len(run["failures"]) + len(wrong)
        steal1 = steal_jiffies()
        env.update(loadavg_after=loadavg(),
                   steal_s=(steal1 - steal0) / 100.0 if steal0 >= 0 and steal1 >= 0 else -1.0,
                   cpus_used=run["cpus"], xmx_mb=run["xmx_mb"])

        e2e, info = end_to_end(run, a.workload)
        report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  **info,
                  "failed_ratio": metrics.failed_ratio(attempted, failed),
                  "failures": failures, "wrong_results": wrong, "env": env}
        if a.trace:
            def wall(passes):
                return statistics.median(
                    [(p["end"] - p["start"]) / 1000.0 for p in passes] or [float("nan")])
            tw = wall(p for p in run["passes"] if p["traced"] and p["pass"] > 0)
            pw = wall(warm(run))
            lm = metrics.layer_metrics(run)
            busy = sum(lm[f"{l}.busy_s"] for l in metrics.LAYERS) + lm["ml.GoldenReport.busy_s"]
            report["tracing"] = {"traced_wall_s": tw, "untraced_wall_s": pw,
                                 "overhead_s": tw - pw,
                                 "busy_s_per_pass": busy, **metrics.accounting(run)}
            result = {name: {"value": lm[name], "unit": unit} for name, unit in metrics.PER_LAYER}
        else:
            result = {name: {"value": e2e[name], "unit": unit}
                      for name, unit in metrics.END_TO_END}
    finally:
        # keep the record of the last run of each workload, drop the rest
        keep = os.path.join(state, f"last-{a.workload}-trace{a.trace}.json")
        if os.path.isfile(os.path.join(out, "run.json")):
            shutil.copy(os.path.join(out, "run.json"), keep)
        shutil.rmtree(out, ignore_errors=True)
    print("report " + json.dumps(report))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result}))


if __name__ == "__main__":
    main()
