#!/usr/bin/env python3
"""Benchmark driver for graft: builds the checked-out commit, runs one
workload in one JVM, checks its outputs and prints one JSON result line.

Usage (from the root of a checkout):
    python3 benchkit/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 benchkit/run.py --gen-report --seed <n>     # generator hashes

The last stdout line is {"correct", "attempted", "failed", "metrics"}:
with --trace 0 the end-to-end metrics of BENCHMARK.json, with --trace 1
the per-layer ones. Context (steal, tail percentile, oracle results,
span file) is printed on earlier lines. See benchkit/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
KIT = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
            + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx3g")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[benchkit] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a stale build is never reused."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(KIT, "src"),
             os.path.join(KIT, "build.sbt"), os.path.join(KIT, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the repository build's own
    `unmanagedBase` setting."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    return m.group(1) if m else ""


def build():
    """Compile program + harness with sbt (offline); return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("no program sources under src/main/scala/graft: run from the root of a graft checkout")
        sys.exit(2)
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=os.environ.get("SBT_OPTS", SBT_OPTS))
    t0 = time.time()
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         f"-Dbenchkit.sparkJars={spark_jars()}", "export Runtime/fullClasspath"],
        cwd=KIT, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log("build timed out")
        sys.exit(3)
    lines = [l for l in out.splitlines() if l.strip()]
    cp = [l for l in lines if not l.startswith("[") and "benchkit-target" in l]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(out[-6000:])
        log("build failed")
        sys.exit(3)
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp[-1].strip()}, fh)
    return cp[-1].strip()


def driver_mem():
    """The Tier-1 SPARK_DRIVER_MEM rule: MemTotal / 2, clamped to [2, 8] GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
        return f"{min(max(g, 2), 8)}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def steal_ticks():
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return int(f[8]) if len(f) > 8 else 0, sum(int(x) for x in f[1:])


def run_jvm(cp, args, out_dir):
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{driver_mem()}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
              "-cp", cp, "benchkit.Main"] + args + ["--out", out_dir])
    # the JVM's stderr (warnings, failed checks) passes through to ours
    proc = subprocess.Popen(cmd, cwd=out_dir, stdout=subprocess.DEVNULL, start_new_session=True)
    try:
        proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, f"run exceeded {RUN_TIMEOUT_S} s"
    path = os.path.join(out_dir, "result.json")
    if not os.path.exists(path):
        return None, f"JVM exited {proc.returncode} without a result"
    with open(path) as fh:
        return json.load(fh), None


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"f:{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if hasattr(v, "tolist"):
        return norm(v.tolist())
    return str(v)


def oracle_check(out_dir):
    """The gated queries against their DuckDB oracle SQL, compared the way
    the repository's correctness gate does (sorted rows, 6 significant
    digits). Returns [(query, ok, detail)]."""
    import duckdb
    with open(os.path.join(out_dir, "oracle", "oracle.json")) as fh:
        meta = json.load(fh)
    con = duckdb.connect()
    for t in ("documents", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{meta['input_dir']}/{t}.parquet/*.parquet'")
    res = []
    for name, sql in meta["queries"].items():
        t0 = time.time()
        try:
            want = con.execute(sql).fetchdf()
            got = con.execute(f"SELECT * FROM '{out_dir}/oracle/{name}/*.parquet'").fetchdf()
            wc, gc = sorted(want.columns), sorted(got.columns)
            w = sorted(tuple(norm(v) for v in r) for r in want[wc].itertuples(index=False))
            g = sorted(tuple(norm(v) for v in r) for r in got[gc].itertuples(index=False))
            ok = wc == gc and w == g
            res.append((name, ok, f"{len(g)} rows, {time.time() - t0:.1f} s" if ok
                        else f"columns {gc} vs {wc}, {len(g)} vs {len(w)} rows"))
        except Exception as e:  # a failed query is a failed check, not a crash
            res.append((name, False, f"error: {e}"))
    con.close()
    return res


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--gen-report", action="store_true")
    a = ap.parse_args()
    if not a.gen_report and not a.workload:
        ap.error("--workload is required")
    cp = build()
    tag = "gen" if a.gen_report else a.workload
    out_dir = os.path.join(BUILD, "runs", f"{tag}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    steal0, total0 = steal_ticks()
    t0 = time.time()
    try:
        res, err = run_jvm(cp, ["--workload", tag, "--seed", str(a.seed),
                                "--seconds", str(a.seconds), "--trace", str(a.trace)], out_dir)
        if a.gen_report:
            if res is None or "error" in res:
                log(err or res["error"])
                sys.exit(1)
            print(json.dumps(res["gen"], sort_keys=True))
            return
        steal1, total1 = steal_ticks()
        context = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "wall_s": round(time.time() - t0, 3),
                   "steal_share": round((steal1 - steal0) / max(1, total1 - total0), 4)}
        checks, failed_units, units, metrics = [], 0, 0, {}
        if res is None:
            checks.append(("run finished", False, err))
        else:
            if "error" in res:
                checks.append(("no exception", False, res["error"][:2000]))
            checks += [(c["name"], c["ok"], "") for c in res.get("checks", [])]
            failed_units = res.get("failed_units", 0)
            units = res.get("units", 0)
            metrics = {k: dict(v) for k, v in res.get("metrics", {}).items()}
            for k in ("overhead_line", "session_ready_after_jvm_start_s", "setups_s",
                      "first_iteration_after_jvm_start_s", "units"):
                if k in res:
                    context[k] = res[k]
            if "span_file" in res:
                rep = os.path.join(BUILD, "reports")
                os.makedirs(rep, exist_ok=True)
                context["span_file"] = os.path.join(rep, f"spans-{a.workload}-s{a.seed}.json")
                shutil.copy(res["span_file"], context["span_file"])
            if a.workload == "curate_graph" and a.trace == 0 and "error" not in res:
                t_oracle = time.time()
                oc = oracle_check(out_dir)
                context["oracle_s"] = round(time.time() - t_oracle, 2)
                context["oracle"] = [f"{q}: {d}" for q, _, d in oc]
                checks += [(f"oracle {q}: {d}", ok, d) for q, ok, d in oc]
                metrics["quality"] = {"value": sum(ok for _, ok, _ in oc) / len(oc), "unit": "ratio"}
        wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
        failed_checks = sum(1 for _, ok, _ in checks if not ok)
        attempted = max(1, units + len(checks))
        failed = failed_units + failed_checks
        extra = {k: v for k, v in metrics.items() if k not in {m["name"] for m in wanted}}
        out_metrics = {}
        for m in wanted:
            v = metrics.get(m["name"], {}).get("value")
            if m["name"] == "fail_share":
                v = failed / attempted
            if v is None and a.trace:
                v = 0.0  # a layer this workload does not run
            if v is None or not math.isfinite(v):
                checks.append((f"metric {m['name']} measured", False, ""))
                failed += 1
                v = 0.0
            out_metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        context["checks_failed"] = [f"{n} {d}".strip() for n, ok, d in checks if not ok]
        context["other_metrics"] = extra
        print(json.dumps(context, sort_keys=True))
        correct = failed == 0
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": out_metrics}, allow_nan=False))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
