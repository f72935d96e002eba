#!/usr/bin/env python3
"""The lakehouse benchmark: one command, one workload, one fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke [--workload <name>] [--trace <0|1>]

Builds the engine and the benchmark from source (perfbench/build.sh),
generates the workload's inputs from the seed (perfbench/gen.py, cached
by scale and seed), runs the workload in one JVM at local[nproc], checks
every output, and prints one JSON result as the last line of stdout.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones plus the tracing overhead. Everything it writes
stays under the build dir ($CARGO_TARGET_DIR, default .bench_build).
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
SF = 0.02           # input scale of every workload (lineitem = 120 k rows)
SMOKE_SF = 0.001
WORKLOADS = ["medallion", "dashboard", "curation"]
XMX = "4g"
XMN = "768m"        # a fixed young generation, and the parallel collector,
                    # keep the peak RSS from following GC timing
JVM_TIMEOUT_S = 170
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def build(out):
    t0 = time.time()
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), out],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build failed (exit {r.returncode})")
    return time.time() - t0


def source_id():
    """The git commit when the tree is a git checkout; otherwise the
    build's source hash (a checkout without .git has no commit)."""
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0 and os.path.isdir(os.path.join(ROOT, ".git")):
            return {"git_commit": r.stdout.strip()}
    except (OSError, subprocess.SubprocessError):
        pass
    return {"source_hash": open(os.path.join(build_dir(), "stamp")).read().strip()}


def sweep_runs(runs):
    """Removes run dirs left by killed runs (their pid is gone)."""
    if not os.path.isdir(runs):
        return
    for name in os.listdir(runs):
        try:
            os.kill(int(name), 0)
            alive = True
        except (ValueError, ProcessLookupError):
            alive = False
        except PermissionError:
            alive = True
        if not alive:
            shutil.rmtree(os.path.join(runs, name), ignore_errors=True)


def java_cmd(out, run, args):
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
    tmp = os.path.join(run, "tmp")
    cp = os.pathsep.join([os.path.join(out, "classes"), os.path.join(out, "bench-classes"), jars])
    cmd = ["java", "-XX:-UsePerfData"]  # no hsperfdata file outside the checkout
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-XX:+UseParallelGC", f"-Xmx{XMX}", f"-Xmn{XMN}", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={run}/warehouse",
            f"-Dderby.system.home={run}", "-Dspark.ui.enabled=false", "-cp", cp,
            "graftbench.Main"]
    return cmd + [f"{k}={v}" for k, v in args.items()]


def cpu_times():
    """The machine's CPU jiffies: (all, steal) from /proc/stat."""
    f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    return sum(f), f[7]


def run_jvm(cmd, log_path):
    """Runs the JVM in its own process group; kills the group on timeout
    and always waits for it."""
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=ROOT,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


# ---- correctness: reference outputs against the engine's DuckDB oracles

def _canon(df):
    import numpy as np
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
        if np.issubdtype(df[c].dtype, np.datetime64):
            df[c] = df[c].astype("datetime64[us]")
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            import datetime
            first = df[c].dropna().iloc[0] if df[c].notna().any() else None
            if isinstance(first, datetime.date):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    # exact columns first, so a float that differs in its last place
    # cannot reorder the rows
    floats = [c for c in df.columns if np.issubdtype(df[c].dtype, np.floating)]
    return df.sort_values(by=[c for c in df.columns if c not in floats] + floats,
                          ignore_index=True)


def _decimals(x):
    r = repr(float(x))
    return 17 if "e" in r or "." not in r else len(r.split(".")[1])


def _assert_same(got, want):
    """Exact equality of dtypes and values, except that a float may differ
    from the oracle by one unit in the last decimal place the oracle's
    values carry. Queries round their floats (round(x, 6)), and at an
    exact tie the engines round differently: Spark rounds the shortest
    decimal form of the double (205991/3200 = 64.3721875 -> 64.372188),
    DuckDB the binary value (64.37218749999... -> 64.372187)."""
    import numpy as np
    import pandas as pd
    for c in want.columns:
        g, w = got[c], want[c]
        if g.dtype != w.dtype:
            raise ValueError(f"{c}: dtype {g.dtype} vs oracle {w.dtype}")
        if np.issubdtype(w.dtype, np.floating) and w.notna().any():
            unit = 10.0 ** -max(_decimals(x) for x in w.dropna())
            bad = ~(((g - w).abs() <= unit * 1.001) | (g.isna() & w.isna()))
            if bad.any():
                i = bad.idxmax()
                raise ValueError(f"{c} row {i}: {g[i]!r} vs oracle {w[i]!r}")
        else:
            pd.testing.assert_series_equal(g, w, check_exact=True)


def oracle_check(data, refs_dir, oracle):
    """Compares each reference output the JVM wrote with the DuckDB
    oracle on the same input files: same columns, dtypes and values.
    Returns the list of mismatches."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data}/{f}'")
    bad = []
    for entry, sql in sorted(oracle.items()):
        try:
            if not sql:
                raise ValueError("no oracle")
            got = _canon(pd.read_parquet(os.path.join(refs_dir, entry)))
            want = _canon(con.sql(sql).df())
            if list(got.columns) != list(want.columns) or len(got) != len(want):
                raise ValueError(f"shape {list(got.columns)}x{len(got)} vs "
                                 f"{list(want.columns)}x{len(want)}")
            _assert_same(got, want)
        except Exception as e:  # any mismatch or reader error fails the entry
            bad.append(f"{entry}: {str(e).splitlines()[-1][:200] if str(e) else type(e).__name__}")
    return bad


def pinned_check(workload, seed, sf, digests):
    """Digests pinned for the default seed (perfbench/pinned.json)."""
    pins = json.load(open(os.path.join(HERE, "pinned.json")))
    if seed != pins["seed"] or sf != pins["sf"]:
        return []
    want = pins["digests"].get(workload, {})
    return [f"{e}: digest {digests.get(e)} != pinned {d}" for e, d in sorted(want.items())
            if digests.get(e) != d]


def table_stats(data):
    import pyarrow.parquet as pq
    return {f[:-8]: {"rows": pq.ParquetFile(os.path.join(data, f)).metadata.num_rows,
                     "bytes": os.path.getsize(os.path.join(data, f))}
            for f in sorted(os.listdir(data)) if f.endswith(".parquet")}


def run_workload(workload, seed, seconds, trace, smoke, out):
    sf = SMOKE_SF if smoke else SF
    t0 = time.time()
    gen_id = hashlib.sha256(open(gen.__file__, "rb").read()).hexdigest()[:8]
    data = gen.generate(os.path.join(out, "data", f"sf{sf}-seed{seed}-{gen_id}"), sf, seed)
    gen_s = time.time() - t0
    runs = os.path.join(out, "runs")
    sweep_runs(runs)
    run = os.path.join(runs, str(os.getpid()))
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    try:
        nproc = len(os.sched_getaffinity(0))
        res_path = os.path.join(run, "result.json")
        cmd = java_cmd(out, run, {
            "workload": workload, "data": data, "work": run, "seconds": seconds,
            "trace": trace, "smoke": int(smoke), "nproc": nproc, "seed": seed,
            "out": res_path})
        t1, cpu1 = time.time(), cpu_times()
        code = run_jvm(cmd, os.path.join(run, "jvm.log"))
        cpu2 = cpu_times()
        # CPU time the hypervisor gave to other guests while the JVM ran
        steal = (cpu2[1] - cpu1[1]) / max(1, cpu2[0] - cpu1[0])
        log(f"{workload}: JVM {time.time() - t1:.1f} s, steal {steal:.3f}")
        if code != 0 or not os.path.exists(res_path):
            tail = open(os.path.join(run, "jvm.log"), errors="replace").read()[-3000:]
            log(f"{workload}: JVM {'timed out' if code is None else f'exit {code}'}\n{tail}")
            raise SystemExit(1)
        res = json.load(open(res_path))
        t1 = time.time()
        mismatches = oracle_check(data, os.path.join(run, "refs"), res["oracle"])
        log(f"{workload}: oracle check {time.time() - t1:.1f} s")
        if not smoke:
            mismatches += pinned_check(workload, seed, sf, res["digests"])
        if trace:
            traces = os.path.join(out, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(res_path + ".spans",
                        os.path.join(traces, f"{workload}-seed{seed}.spans.json"))
    finally:
        shutil.rmtree(run, ignore_errors=True)
    for m in res["failures"] + mismatches:
        log(f"{workload}: FAILED {m}")
    failed = res["failed"] + len(mismatches)
    context = dict(res["info"], seed=seed, sf=sf, gen_s=round(gen_s, 3),
                   cpu_steal_frac=round(steal, 4),
                   oracle_checked=sorted(res["oracle"]), digests=res["digests"],
                   tables=table_stats(data), **source_id())
    result = {"correct": failed == 0, "attempted": res["attempted"], "failed": failed,
              "metrics": res["metrics"]}
    return context, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="one op per workload at sf0.001, checks on")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required unless --smoke")
    out = build_dir()
    build_s = build(out)
    names = [a.workload] if a.workload else WORKLOADS
    last = None
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in names:
        context, result = run_workload(w, a.seed, a.seconds, a.trace, a.smoke, out)
        context["build_s"] = round(build_s, 3)
        print(json.dumps({"context": context}), flush=True)
        if a.smoke:
            print(json.dumps(dict(result, workload=w)), flush=True)
            total["correct"] &= result["correct"]
            total["attempted"] += result["attempted"]
            total["failed"] += result["failed"]
        last = result
    print(json.dumps(total if a.smoke else last), flush=True)


if __name__ == "__main__":
    main()
