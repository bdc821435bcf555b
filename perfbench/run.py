#!/usr/bin/env python3
"""Serving benchmark for scratchdbspark: one workload, one seed.

    python3 perfbench/run.py --workload read_dash --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --smoke        # every workload briefly, both modes

Run from the repository root. The first run in a checkout compiles the
product plus the harness under perfbench/src (sbt, offline) and stages
the seed-independent data; later runs reuse both from .bench_build/.
The last stdout line is one JSON object: correct, attempted, failed and
the metrics (end-to-end with --trace 0, per-layer with --trace 1). The
full record of every run also goes to .bench_build/records/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import metrics  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HERE = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(HERE, "src")
WORKLOADS = ["read_dash", "ingest_mixed", "analytics_cpu"]
JAVA_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
HARNESS_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(harness_files=None):
    """Hash of the product sources and build files plus the harness (all
    of it, or the named files under perfbench/src/graft/perfbench)."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for d, _, names in os.walk(os.path.join(ROOT, "src", "main")):
        files += [os.path.join(d, n) for n in names]
    if harness_files is None:
        for d, _, names in os.walk(HARNESS):
            files += [os.path.join(d, n) for n in names]
    else:
        files += [os.path.join(HARNESS, "graft", "perfbench", n) for n in harness_files]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(stamp):
    """Compile product + harness once per source stamp; returns the
    runtime classpath."""
    cp_file = os.path.join(BUILD, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    # target/ holds the classes of the latest build only: forget every
    # other stamp, so that returning to earlier sources compiles again
    for name in os.listdir(BUILD):
        if name.startswith("classpath-"):
            os.remove(os.path.join(BUILD, name))
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx3g")
    rel = os.path.relpath(HARNESS, ROOT)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f'set Compile / unmanagedSourceDirectories += baseDirectory.value / "{rel}"',
           "compile", "export Runtime / fullClasspath"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, cwd=ROOT, env=env, stdout=fh, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    return cps[-1]


def harness(cp, args, out_dir):
    """Run the Scala harness; returns its raw record."""
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + JAVA_OPENS +
           ["-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.scheduler.mode=FAIR",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", out_dir, "--cache", os.path.join(BUILD, "stage-" + args.data_stamp)] +
           (["--smoke"] if args.smoke else []))
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log = os.path.join(out_dir, "harness.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=out_dir, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            # the harness and the server it started share a session
            os.killpg(proc.pid, 9)
            proc.wait()
            fail(f"harness timed out after {HARNESS_TIMEOUT_S}s; see {log}", 3)
    raw = os.path.join(out_dir, "raw.json")
    if rc != 0 or not os.path.exists(raw):
        with open(log) as fh:
            tail = [l for l in fh.read().splitlines() if " INFO " not in l][-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"harness failed (exit {rc}); see {log}", 3)
    with open(raw) as fh:
        return json.load(fh)


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return []


def one(args):
    cp = build(args.stamp)
    out_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}")
    load_before = loadavg()
    raw = harness(cp, args, out_dir)
    un = raw["untraced"]
    runs = [un] + ([raw["traced"]] if args.trace else [])
    wrong = sum(r["wrong"] for r in runs)
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    if args.trace:
        values = metrics.per_layer(un, raw["traced"], raw["cpus"])
    else:
        e2e = metrics.end_to_end(un)
        missing = [k for k, v in e2e.items() if v is None]
        if missing and not wrong:
            fail(f"no samples for {missing}", 4)
        # a route whose every answer was wrong has no timed samples
        values = {k: (e2e[k], unit) for k, unit in metrics.END_TO_END if e2e[k] is not None}
    result = {"correct": wrong == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}
    record = dict(result, workload=args.workload, seed=args.seed, seconds=args.seconds,
                  trace=args.trace, smoke=args.smoke, cpus=raw["cpus"],
                  loadavg_before=load_before, loadavg_after=loadavg(),
                  calib_ms_before=un["calib_ms_before"], calib_ms_after=un["calib_ms_after"],
                  gen_lag_p95_ms=metrics.percentile([s[4] for s in un["samples"]], 95),
                  error_pct=metrics.error_pct(un), errors=[e for r in runs for e in r["errors"]],
                  samples={r: len(metrics.route_latencies(un["samples"], r)) for r in metrics.ROUTES},
                  fresh_samples=len(un["fresh_ms"]), setup_runs_s=un["setup_s"],
                  phases_s={k: un.get(k) for k in ("warm_s", "window_s", "integrity_s", "stop_s")},
                  time=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()))
    rec_dir = os.path.join(BUILD, "records")
    os.makedirs(rec_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}{'-smoke' if args.smoke else ''}.json"
    with open(os.path.join(rec_dir, name), "w") as fh:
        json.dump(record, fh, indent=1)
    shutil.rmtree(out_dir, ignore_errors=True)
    for e in record["errors"]:
        print(f"error: {e}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny data, short runs: every workload in both modes")
    args = ap.parse_args()
    for f in ("build.sbt", os.path.join("src", "main", "scala", "graft", "api", "Main.scala")):
        if not os.path.exists(os.path.join(ROOT, f)):
            fail(f"{f} not found: run from the root of a scratchdbspark checkout")
    args.stamp = source_stamp()
    # the staged data and its expected answers depend on these only
    args.data_stamp = source_stamp(["Stage.scala", "Workloads.scala"])
    if args.smoke:
        args.seconds = 4
        rc = 0
        for w in WORKLOADS:
            for t in (0, 1):
                args.workload, args.trace = w, t
                rc |= one(args)
        return rc
    if not args.workload:
        ap.error("--workload is required")
    return one(args)


if __name__ == "__main__":
    sys.exit(main())
