#!/usr/bin/env python3
"""Statement-level benchmark of the engine over the ClickHouse native wire.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (perfbench/build.sbt); later runs reuse the build while
the sources are unchanged. Each run:

  1. generates its inputs from the seed (workloads.py) into a fresh run
     directory under .perfbench/, with its own warehouse and Spark local dir;
  2. starts one JVM (perfbench.Main) that serves an in-process
     ChWireServer on a SparkSession from graft.Sessions.build, sets the
     tables up through CH DDL several times (setup_s is the median), warms
     up, and drives the workload over ChNativeClient connections;
  3. checks every read against DuckDB over the same inputs, and the ingest
     end state inside the JVM;
  4. prints one JSON line: end-to-end metrics with --trace 0, per-layer
     metrics of the serial traced replay with --trace 1.

A failed check makes the result line say "correct": false and counts in
"failed"; the command exits non-zero only when it cannot produce a result
line (no engine sources, failed build, JVM crash). The full report of a run (metadata,
metrics, check failures and, for a traced run, its spans) is written to
.perfbench/out/{run,trace}-<workload>-<seed>.json.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402

DEADLINE_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build --------------------------------------------------------------------

def _sources(root):
    yield os.path.join(root, "build.sbt")
    yield os.path.join(HERE, "build.sbt")
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            for f in sorted(files):
                yield os.path.join(d, f)


def build(root):
    """Compile engine + harness once per source state; return the classpath."""
    h = hashlib.sha256()
    for p in _sources(root):
        with open(p, "rb") as f:
            h.update(p.encode() + b"\0" + f.read())
    stamp = os.path.join(HERE, "target", "perfbench.classpath")
    if os.path.exists(stamp):
        with open(stamp) as f:
            digest, cp = f.read().split("\n", 1)
        if digest == h.hexdigest():
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [ln for ln in p.stdout.splitlines()
             if ln and not ln.startswith("[") and "classes" in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        f.write(h.hexdigest() + "\n" + cp)
    log(f"built in {time.time() - t0:.0f}s")
    return cp


# ---- the JVM ------------------------------------------------------------------

_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
          "java.base/java.lang.reflect", "java.base/java.io",
          "java.base/java.net", "java.base/java.nio", "java.base/java.util",
          "java.base/java.util.concurrent",
          "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
          "java.base/sun.nio.cs", "java.base/sun.security.action",
          "java.base/sun.util.calendar"]


def run_jvm(cp, run_dir, plan_path, out_path, deadline):
    # no hsperfdata file and no temp files outside the run directory
    cmd = ["java", "-Xmx3g", "-Xms3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.graft.fileRoot={os.path.join(run_dir, 'inputs')}"]
    for o in _OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", plan_path, out_path]
    env = dict(os.environ)
    env.update({"SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
                "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
                "SPARK_GRAFT_CPUS": str(os.cpu_count())})
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            log("JVM exceeded the deadline and was killed")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    return p.returncode


# ---- the oracle ---------------------------------------------------------------

def _norm(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float)):
        return float(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    try:
        return float(v)  # Decimal
    except (TypeError, ValueError):
        return str(v)


def _rows(rows):
    out = [tuple(_norm(v) for v in r) for r in rows]
    return sorted(out, key=lambda r: tuple((v is None, str(type(v)), v if v is not None else 0)
                                           for v in r))


def _same(a, b):
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-6, abs_tol=1e-3):
                    return False
            elif x != y:
                return False
    return True


def oracle(plan, results, in_dir, names):
    """Compare every read result with DuckDB's answer to its twin."""
    import duckdb
    twins = {}
    for cl in plan["warmup"] + plan["clients"] + plan.get("trace", []):
        for st in cl:
            if st["kind"] == "read":
                twins[st["sql"]] = st
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    workloads.oracle_views(con, in_dir, names)
    expected, failures, checked = {}, [], 0
    for rec in results:
        sql = rec["sql"]
        if sql not in expected:
            st = twins[sql]
            rows = st["expect"] if "expect" in st else con.execute(st["duck"]).fetchall()
            expected[sql] = _rows(rows)
        checked += 1
        got = _rows(rec["rows"])
        if not _same(got, expected[sql]):
            failures.append(f"oracle mismatch: {sql}\n  engine: {got[:5]}\n"
                            f"  duckdb: {expected[sql][:5]}")
    con.close()
    return checked, len(expected), failures


def defect_report(plan, probed, in_dir, names):
    """name -> "ok" or what is wrong, for each of the plan's defect probes
    (statements the engine answers wrongly today; see workloads.py). The
    report is metadata: it does not make a run incorrect."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    workloads.oracle_views(con, in_dir, names)
    report = {}
    for p in plan["defect_probes"]:
        got = probed.get(p["name"], "not run")
        if p["kind"] == "rows" and not isinstance(got, str):
            want = _rows(p["expect"] if "expect" in p
                         else con.execute(p["duck"]).fetchall())
            got = _rows(got)
            got = "ok" if _same(got, want) else f"returned {got[:3]}, expected {want[:3]}"
        report[p["name"]] = got
    con.close()
    return report


# ---- main ---------------------------------------------------------------------

def main():
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        log("no engine sources here: run from the root of a checkout")
        return 2
    cp = build(root)
    deadline = time.time() + DEADLINE_S

    nproc = os.cpu_count()
    clients = min(nproc, workloads.CLIENTS[args.workload])
    run_dir = os.path.join(root, ".perfbench",
                           f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        in_dir = os.path.join(run_dir, "inputs")
        for d in ("inputs", "warehouse", "local", "tmp"):
            os.makedirs(os.path.join(run_dir, d))
        t0 = time.time()
        names, base = workloads.make_inputs(
            args.workload, args.seed, in_dir,
            os.path.join(root, ".perfbench", "cache"))
        gen_s = time.time() - t0
        plan = workloads.make_plan(args.workload, args.seed, args.seconds,
                                   clients, args.trace == 1, base)
        plan_path = os.path.join(run_dir, "plan.json")
        out_path = os.path.join(run_dir, "out.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        t1 = time.time()
        cpu0 = _cpu_times()
        code = run_jvm(cp, run_dir, plan_path, out_path, deadline)
        cpu1 = _cpu_times()
        log(f"inputs {t1 - t0:.1f}s, JVM {time.time() - t1:.1f}s")
        with open(os.path.join(run_dir, "jvm.log")) as f:
            for ln in f:
                if ln.startswith("[perfbench]"):
                    sys.stderr.write(ln)
        if code != 0 or not os.path.exists(out_path):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            log(f"JVM failed with exit code {code}")
            return 1
        with open(out_path) as f:
            out = json.load(f)
        t2 = time.time()
        checked, distinct, mismatches = oracle(plan, out["results"], in_dir, names)
        log(f"oracle {time.time() - t2:.1f}s")
        failures = out["failures"] + mismatches
        for msg in failures:
            log(f"FAIL {msg}")
        defects = defect_report(plan, out["defect_probes"], in_dir, names)
        for name, v in defects.items():
            if v != "ok":
                log(f"engine defect (reported, not counted): {name}: {v}")
        attempted = out["attempted"]
        failed = len(failures)
        meta = out["meta"]
        meta.update({"workload": args.workload, "seed": args.seed,
                     "seconds": args.seconds, "trace": args.trace,
                     "commit": _commit(root), "input_gen_s": round(gen_s, 3),
                     "reads_checked": checked, "distinct_reads": distinct,
                     "cpu_steal_pct": _steal_pct(cpu0, cpu1),
                     "engine_defects": defects,
                     "failed_ratio": failed / max(1, attempted)})
        # the full report (metadata, metrics, spans) stays in the checkout
        out_dir = os.path.join(root, ".perfbench", "out")
        os.makedirs(out_dir, exist_ok=True)
        report = {"meta": meta, "metrics": out["metrics"], "failures": failures}
        if args.trace:
            report.update({"layer_self_ms": out["layers"], "spans": out["spans"]})
            for layer, ms in sorted(out["layers"].items(), key=lambda kv: -kv[1]):
                log(f"self time {layer:16s} {ms:10.1f} ms")
        with open(os.path.join(out_dir, f"{'trace' if args.trace else 'run'}-"
                               f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(report, f)
        for name, m in out["metrics"].items():
            log(f"{name:32s} {m['value']:14.4f} {m['unit']}")
        log("meta " + json.dumps(meta))
        result = {"correct": failed == 0, "attempted": max(1, attempted),
                  "failed": failed, "metrics": out["metrics"]}
        print(json.dumps(result), flush=True)
        log(f"done in {time.time() - t_start:.1f}s")
        # a failed check is reported in the result line (correct, failed);
        # only a run that could not produce a result exits non-zero
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _cpu_times():
    """(total, steal) jiffies of the machine from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v[:8]), v[7]
    except (OSError, ValueError, IndexError):
        return None


def _steal_pct(a, b):
    """Share of CPU time the hypervisor gave to others while the JVM ran:
    metadata that explains a slow run, never used to correct one."""
    if a is None or b is None or b[0] <= a[0]:
        return None
    return round(100.0 * (b[1] - a[1]) / (b[0] - a[0]), 2)


def _commit(root):
    if not os.path.exists(os.path.join(root, ".git")):
        return "unknown (not a git checkout)"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                              capture_output=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


if __name__ == "__main__":
    sys.exit(main())
