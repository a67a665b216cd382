#!/usr/bin/env python3
"""Lake benchmark: one workload, one fresh JVM, one closed-loop client.

    python3 perfbench/run.py --workload vdt_jobs --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. The last line of standard output is
one JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics with `--trace 0`, the per-layer ones with `--trace 1`).

`--smoke` runs one round of every workload on tiny inputs and checks them.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402

CORES = max(1, min(4, os.cpu_count() or 1))
HEAP = "2g"

# `--seconds` buys one timed round per SECONDS_PER_ROUND, whatever the
# program's speed, so every commit is timed over the same rounds of the
# warm-up curve.
SECONDS_PER_ROUND = 3

# Sizes, set-up repeats and warm-up rounds of each workload. The warm-up
# lengths come from the round-time curves `steady.py` prints; the sizes keep
# one run near a minute (see README.md, "Run budget").
WORKLOADS = {
    "vdt_jobs": {"setups": 3, "warmup": 1, "params": {"sf": 0.005}},
    "row_dml": {"setups": 3, "warmup": 1,
                "params": {"orders": 4000, "files": 24, "batch": 100, "band_pct": 1}},
    # Not in BENCHMARK.json (too slow to stage within its run budget);
    # run it by hand for the metadata-plane and history figures.
    "lake_history": {"setups": 1, "warmup": 1,
                     "params": {"commits": 40, "files_per_commit": 8, "rows_per_commit": 40,
                                "appends_per_round": 3, "tt_reads": 3, "round_rows": 20}},
}
SMOKE = {"vdt_jobs": {"sf": 0.001},
         "row_dml": {"orders": 300, "files": 4, "batch": 10, "band_pct": 2},
         "lake_history": {"commits": 12, "files_per_commit": 2, "rows_per_commit": 10,
                          "appends_per_round": 2, "tt_reads": 2, "round_rows": 5}}

# The end-to-end metrics that repeat between runs of the same code on a shared
# host. Wall-clock and CPU times do not (README.md, "Steadiness and bounds"):
# `time_figures` below reports them beside the metrics, and the traced run
# carries them as `trace.*` layer figures.
END_TO_END = [("setup_s", "s"), ("bytes_written_per_user_byte", "ratio"),
              ("bytes_stored_per_user_byte", "ratio"), ("live_heap_mb", "MB")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build --------------------------------------------------------------------

def _sources():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def build():
    """Compile engine + harness unless an up-to-date build exists; return the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the engine's sources (src/main/scala) are not in this checkout")
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    target = os.path.join(HERE, "target")
    cp_file, stamp_file = os.path.join(target, "bench.classpath"), os.path.join(target, "bench.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(target, exist_ok=True)
    log = os.path.join(target, "build.log")
    with open(log, "w") as out:
        try:
            # the build resolves nothing from the network: Spark comes from
            # SPARK_HOME and Scala from the local cache
            offline = [] if "sbt.offline" in os.environ.get("SBT_OPTS", "") else \
                ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true"]
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", *offline, "writeClasspath"],
                                cwd=HERE, stdout=out, stderr=subprocess.STDOUT, timeout=600).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed to run: {e}")
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"build failed (log: {log})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return open(cp_file).read().strip()


# ---- one run ------------------------------------------------------------------

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def java_cmd(cp, config_path, tmp):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2",
           "-XX:CICompilerCount=2", f"-XX:ActiveProcessorCount={CORES}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graftbench.Bench", config_path]


def run_once(cp, workload, seed, seconds, trace, params, spec):
    """Generate inputs, run the JVM, return (result, work dir); the caller
    removes the work dir."""
    work = os.path.join(HERE, "work", f"{workload}-s{seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("inputs", "tmp", "out"):
        os.makedirs(os.path.join(work, d))
    ok = False
    try:
        jparams = inputs.GENERATORS[workload](os.path.join(work, "inputs"), seed, params)
        config = {"workload": workload, "seed": seed, "trace": bool(trace),
                  "cores": CORES, "work": work, "inputs": os.path.join(work, "inputs"),
                  "setups": spec["setups"], "warmup": spec["warmup"],
                  "timed_rounds": max(1, int(seconds // SECONDS_PER_ROUND)),
                  "params": {workload: jparams}}
        cfg_path = os.path.join(work, "config.json")
        with open(cfg_path, "w") as fh:
            json.dump(config, fh)
        log = os.path.join(work, "jvm.log")
        with open(log, "w") as out:
            proc = subprocess.Popen(java_cmd(cp, cfg_path, os.path.join(work, "tmp")),
                                    stdout=out, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=150)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail("the benchmark JVM did not finish in time")
        res_path = os.path.join(work, "out", "result.json")
        if rc != 0 or not os.path.exists(res_path):
            with open(log) as fh:
                sys.stderr.write("".join(l for l in fh.readlines() if "WARN" not in l)[-4000:])
            fail(f"the benchmark JVM exited with code {rc}")
        with open(res_path) as fh:
            result = json.load(fh)
        result["params"] = jparams
        ok = True
        return result, work
    finally:
        if not ok:
            shutil.rmtree(work, ignore_errors=True)


def evaluate(workload, result, work, perturb=None):
    """Run the independent checks; return (list of failed op names, user-byte sizes)."""
    obs, params = result["observations"], result["params"]
    ins, out = os.path.join(work, "inputs"), os.path.join(work, "out")
    bad = checks.CHECKS[workload](ins, out, obs, params, perturb)
    return bad, checks.USER_BYTES[workload](ins, obs, params)


def time_figures(result):
    """Cold round, median timed round and median CPU per timed round, in s."""
    timed = [r for r in result["rounds"] if r["kind"] == "timed"]
    return {"cold_round_s": result["rounds"][0]["wall_s"],
            "round_s": statistics.median(r["wall_s"] for r in timed),
            "cpu_s_per_round": statistics.median(r["cpu_s"] for r in timed)}


def metrics_of(result, user_round, user_live):
    timed = [r for r in result["rounds"] if r["kind"] == "timed"]
    written = sum(r["bytes_added"] for r in timed)
    values = {
        "setup_s": result["setup_s"],
        "bytes_written_per_user_byte": written / (user_round * len(timed)),
        "bytes_stored_per_user_byte": result["lake_bytes_end"] / user_live,
        "live_heap_mb": result["live_heap_mb"],
    }
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END}


def layer_unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s") or name.endswith("_s_per_round"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_share"):
        return "ratio"
    return "count"


def report(workload, seed, seconds, trace, smoke=False, cp=None):
    spec = dict(WORKLOADS[workload])
    params = SMOKE[workload] if smoke else spec["params"]
    if smoke:
        spec.update(setups=1, warmup=0)
    cp = cp or build()
    result, work = run_once(cp, workload, seed, seconds, trace, params, spec)
    try:
        bad, (user_round, user_live) = evaluate(workload, result, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if trace:
        layers = result["layers"]["metrics"]
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(layers.items())}
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        with open(os.path.join(HERE, "out", f"trace-{workload}.json"), "w") as fh:
            json.dump(result["layers"], fh, indent=1)
    else:
        metrics = metrics_of(result, user_round, user_live)
    failed = result["failed"] + len(bad)
    summary = {"correct": not bad and not result["errors"],
               "attempted": result["attempted"], "failed": failed, "metrics": metrics}
    return summary, result, bad


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="one round of every workload on tiny inputs")
    args = ap.parse_args()
    if args.smoke:
        cp = build()
        ok = True
        for w in WORKLOADS:
            t0 = time.time()
            s, res, bad = report(w, args.seed, 0, 0, smoke=True, cp=cp)
            ok &= s["correct"] and s["failed"] == 0
            print(f"{w}: correct={s['correct']} attempted={s['attempted']} failed={s['failed']} "
                  f"bad={bad} errors={res['errors']} ({time.time() - t0:.1f} s)")
        print(json.dumps({"smoke_ok": ok}))
        sys.exit(0 if ok else 1)
    if not args.workload:
        ap.error("--workload is required")
    summary, result, bad = report(args.workload, args.seed, args.seconds, args.trace)
    for e in result["errors"]:
        print(f"error: {e}", file=sys.stderr)
    for b in bad:
        print(f"check failed: {b}", file=sys.stderr)
    if not args.trace:
        print(" ".join(f"{k}={v:.3f}" for k, v in time_figures(result).items()))
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
