"""Repo benchmark: one seeded workload per invocation.

  python3 perfbench/run.py --workload shells_uniform --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` is the
separate traced run that reports the per-layer metrics.  The last line
of stdout is one JSON object {correct, attempted, failed, metrics}; the
lines before it are the run stamp and a report with every metric of
perfbench/README.md that applies to the workload.  Exit code 1 when an
output check fails.  ``--workload all`` runs each workload in its own
process and prints one table.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

WORKLOADS = ("shells_uniform", "shells_clustered", "sjcs_job", "corpus_job")
# units of the report line's figures, by name up to the first dot
REPORT_UNITS = {"probes_per_s": "probes/s", "job_s": "s", "resume_s": "s",
                "job_cpu_core_s": "core-s", "resume_cpu_core_s": "core-s",
                "peak_rss_mb": "MB", "failed_frac": "ratio", "check_s": "s",
                "untraced_round_s": "s", "traced_round_s": "s"}


def _spec() -> dict:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    if name.startswith("shells_"):
        import shells

        fn = shells.traced if trace else shells.timed
        return fn(name.removeprefix("shells_"), seed, seconds)
    import jobs

    fn = jobs.traced if trace else jobs.timed
    return fn(name, seed, seconds)


def stamp(args, probes: list[float], inp: dict) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "nproc": len(os.sched_getaffinity(0)),
        "cores_used": common.cores(),
        "steal_probe_s": {"before": probes[0], "after": probes[1]},
        "versions": {"spark": pyspark.__version__,
                     "pyarrow": pyarrow.__version__,
                     "numpy": numpy.__version__,
                     "python": platform.python_version()},
        "inputs": inp,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)

    common.setup_env()
    spec = _spec()
    # fail before measuring anything when the program is missing
    import spatialjoincountovershells_spark  # noqa: F401

    before = common.steal_probe()
    res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    after = common.steal_probe()
    common.reap_all()
    run = res["run"]
    print(json.dumps({"stamp": stamp(args, [before, after], res["stamp"])}))
    print(json.dumps({"report": {
        **res["report"], "failed_frac": run.failed / max(run.attempted, 1),
        "failed_frac_base": f"{run.failed} of {run.attempted} operations",
        "notes": run.notes}}, default=float))
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    got = res["metrics"]
    if args.trace:  # a layer this workload does not have reads 0
        got = {m["name"]: got.get(m["name"], 0.0) for m in wanted}
    metrics = {m["name"]: {"value": float(got[m["name"]]), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if run.failed == 0 else 1


def run_all(args) -> int:
    """Every workload in its own process; one table of every metric."""
    rc = 0
    for w in WORKLOADS:
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            cwd=common.ROOT, capture_output=True, text=True)
        rc = rc or p.returncode
        lines = [json.loads(x) for x in p.stdout.splitlines()
                 if x.startswith("{")]
        if not lines or "metrics" not in lines[-1]:
            print(f"{w}: no result (exit {p.returncode})")
            print(p.stderr[-2000:])
            rc = rc or 1
            continue
        res = lines[-1]
        report = next((x["report"] for x in lines if "report" in x), {})
        print(f"== {w}  correct={res['correct']}  "
              f"failed={res['failed']}/{res['attempted']}  "
              f"[{time.perf_counter() - t0:.0f} s]")
        for k, m in res["metrics"].items():
            print(f"  {k:<36} {m['value']:>16.6g} {m['unit']}")
        for k, v in report.items():
            if isinstance(v, (int, float)):
                unit = REPORT_UNITS.get(k.split(".")[0], "")
                print(f"  {k:<36} {v:>16.6g} {unit}")
    return rc


if __name__ == "__main__":
    sys.exit(main())
