#!/usr/bin/env python3
"""Lifecycle benchmark for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine plus the
benchmark's own Scala sources (perfbench/build.sbt) and caches the
classpath under perfbench/.work; every run then generates its inputs
from the seed, launches one JVM (perfbench.Lifecycle) that sets up,
measures whole lifecycle passes for at least --seconds, and records its
outputs; this script checks those outputs (DuckDB oracle, generator
expectations, in-JVM invariants) and prints one JSON object as the last
line of stdout. --trace 0 reports the end-to-end metrics; --trace 1
adds Spark and streaming listeners and reports the per-layer metrics.
See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import checks
import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
ENGINE = os.path.join(REPO, "src", "main", "scala", "graft")
WORK = os.path.join(HERE, ".work")
JVM_DEADLINE_S = 150  # a run, build aside, must end within 180 s

# Each workload: the JVM parameters and how the inputs are made.
WORKLOADS = {
    "ohlcv_day": {"params": {"ticks_per_day": 3, "max_passes": 12}},
    "drain_curate": {"params": {"batches": 1, "max_passes": 3}, "sf": 0.001, "variants": 4},
}

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha1()
    roots = [os.path.join(HERE, "src"), os.path.join(REPO, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine + benchmark once per source state; return the
    runtime classpath."""
    cp_file = os.path.join(WORK, "build", source_hash() + ".cp")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    env.setdefault("COURSIER_MODE", "offline")
    log("[perfbench] building engine + benchmark (sbt)")
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=880)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in lines[-1]:
        log("\n".join(lines[-40:]))
        raise SystemExit("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def make_inputs(workload, seed):
    spec = WORKLOADS[workload]
    if "variants" in spec:
        # corpus workloads cycle through a few corpora whose oracle
        # fingerprints are committed (expected/), so a run never pays
        # for the heavy oracle SQL
        seed %= spec["variants"]
    d = os.path.join(WORK, "inputs", f"{workload}-{seed}")
    done = os.path.join(d, "_DONE")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        if workload == "ohlcv_day":
            p = spec["params"]
            inputs.write_coins(d, seed, p["max_passes"], p["ticks_per_day"])
        else:
            inputs.write_corpus(os.path.join(d, "corpus"), seed, spec["sf"])
        open(done, "w").close()
    return d


def run_jvm(cp, workload, inp, seconds, trace, deadline):
    run_dir = os.path.join(WORK, "run", workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "record.json")
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_LOCAL_DIRS=tmp)
    cmd = (["java"] + JAVA_OPENS + [
        "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}",
        "-cp", cp, "perfbench.Lifecycle",
        "--workload", workload, "--inputs", inp, "--work", os.path.join(run_dir, "w"),
        "--seconds", str(seconds), "--trace", str(trace), "--out", out]
        + sum((["--param", f"{k}={v}"] for k, v in
               WORKLOADS[workload]["params"].items()), []))
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            raise SystemExit(f"{workload}: JVM exceeded the run deadline")
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            log(f.read()[-4000:])
        raise SystemExit(f"{workload}: JVM exited {code}")
    with open(out) as f:
        rec = json.load(f)
    rec["run_dir"] = run_dir
    return rec


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--refresh-expected", action="store_true",
                    help="recompute the committed oracle fingerprints of this "
                         "seed's corpus with DuckDB and store them")
    a = ap.parse_args()
    if not os.path.isdir(ENGINE):
        log(f"[perfbench] engine sources not found at {os.path.relpath(ENGINE)}; "
            "run from a full checkout")
        sys.exit(2)
    t_start = time.time()
    cp = build()
    deadline = time.time() + JVM_DEADLINE_S
    inp = make_inputs(a.workload, a.seed)
    rec = run_jvm(cp, a.workload, inp, a.seconds, a.trace, deadline)
    results = checks.verify(a.workload, rec, inp, a.refresh_expected)
    failed = rec["failed"] + sum(1 for r in results if not r["ok"])
    attempted = rec["attempted"] + len(results)
    for r in results + rec["checks"]:
        if not r["ok"]:
            log(f"[perfbench] FAILED {r['name']}: {r['detail']}")
    for e in rec["errors"]:
        log(f"[perfbench] ERROR {e}")

    metrics = checks.per_layer(a.workload, rec) if a.trace else checks.end_to_end(rec)
    for name, m in metrics.items():
        print(f"[perfbench] {a.workload} {name} = {m['value']:.6g} {m['unit']}"
              f" (n={m.pop('n', 1)})")
    print(f"[perfbench] {a.workload} attempted={attempted} failed={failed} "
          f"wall={time.time() - t_start:.1f}s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
