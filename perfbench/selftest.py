#!/usr/bin/env python3
"""Checker self-test: each independent check must pass on the engine's real
output and fail once one thing is perturbed.

    python3 perfbench/selftest.py

It runs one round of every workload on tiny inputs (the smoke sizes), then
evaluates each workload's checks twice: as is, and with one perturbation:
  vdt_jobs      one result row changed (q_vdt1's first o_totalprice + 0.01)
  row_dml       one DML batch changed (an upsert row dropped from the replay)
  lake_history  one expected version count changed (history length + 1)
Exit code 0 only when every clean check passes and every perturbed one fails.
"""
import shutil
import sys

import run

PERTURB = {"vdt_jobs": "result_row", "row_dml": "dml_batch", "lake_history": "version_count"}


def main():
    cp = run.build()
    ok = True
    for w, perturb in PERTURB.items():
        spec = dict(run.WORKLOADS[w], setups=1, warmup=0)
        result, work = run.run_once(cp, w, 7, 0, 0, run.SMOKE[w], spec)
        try:
            clean, _ = run.evaluate(w, result, work)
            bad, _ = run.evaluate(w, result, work, perturb=perturb)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        passed = not clean and not result["errors"] and bool(bad)
        ok &= passed
        print(f"{w}: clean check {'passes' if not clean else 'FAILS ' + str(clean)}; "
              f"with {perturb} it {'fails on ' + str(sorted(set(bad))) if bad else 'PASSES (checker is blind)'}"
              f" -> {'ok' if passed else 'NOT OK'}")
    print("self-test", "ok" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
