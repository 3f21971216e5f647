"""sjcs_job / corpus_job: the spark-submit entry points as fresh
processes, each run followed by the same command on its completed
output (resume).

A round is one fresh run plus one resume run; rounds repeat until the
run's time is up (at least one).  CPU time is that of the whole job
process tree — the benchmark adopts orphaned descendants and waits for
all of them, so their time lands in RUSAGE_CHILDREN.  Every job process
runs under jobwrap.py, whose spans give the moment its Spark session is
up: set-up time is launch to that moment.
"""

from __future__ import annotations

import compileall
import json
import os
import resource
import shutil
import subprocess
import sys
import time

import numpy as np

import common
import inputs
import oracle
from spans import Tracer

JOBS = {"sjcs_job": os.path.join(common.ROOT, "jobs", "sjcs_job.py"),
        "corpus_job": os.path.join(common.ROOT, "jobs", "corpus_job.py")}
WRAP = os.path.join(common.BENCH_DIR, "jobwrap.py")
CORPUS_STAGES = ("clusters", "survivors", "funnel", "decontaminated",
                 "sampled", "chunks")
ORACLE_HALOS = 32
JOB_TIMEOUT = 150


def _radius() -> tuple[str, np.ndarray]:
    """--radius for the reference spec, and the edges the job derives."""
    from spatialjoincountovershells_spark.functions.shells import (
        logspace_edges)

    _, rmax = inputs.ref_edges(inputs.JOB_PARTICLES)
    lo, hi = repr(rmax / 5000.0), repr(rmax)
    return f"{lo}:{hi}:40", logspace_edges(float(lo), float(hi), 40)


class Job:
    def __init__(self, name: str, seed: int):
        self.name, self.seed = name, seed
        self.dir = common.work("inputs", f"{name}-{seed}")
        self.out = os.path.join(common.WORK, "out", name)
        self.inp: dict = {}

    def setup(self) -> None:
        """Write the inputs and byte-compile the program (untimed), so
        that every job process starts from the same bytecode."""
        w = inputs.write_images if self.name == "sjcs_job" else (
            inputs.write_documents)
        self.inp = w(self.seed, self.dir)
        for d in ("spatialjoincountovershells_spark", "jobs"):
            compileall.compile_dir(os.path.join(common.ROOT, d), quiet=1)

    def argv(self, out: str, plan: str | None = None) -> list[str]:
        i = self.inp
        if self.name == "sjcs_job":
            a = [JOBS[self.name], "--particle-files", i["particles"],
                 "--halo-file", i["halos"], "--radius", _radius()[0],
                 "--output", out]
            return a + (["--plan", plan] if plan else [])
        return [JOBS[self.name], "--documents", i["documents"],
                "--output", out, "--benchmark", i["eval"],
                "--sample", "en=500000", "--sample-default", "250000",
                "--chunk-chars", "256"]

    def stamp(self) -> dict:
        return {k: self.inp[k] for k in ("rows", "bytes", "hash")}

    # ---------------------------------------------------------- outputs

    def output_hash(self, out: str) -> str:
        if self.name == "sjcs_job":
            return common.frame_hash(read_table(out))
        return "-".join(common.frame_hash(read_table(os.path.join(out, s)))
                        for s in CORPUS_STAGES)

    def check_values(self, run: common.Run, out: str, records: list[dict]) -> None:
        """Against the oracles: brute force on sampled halos (sjcs_job),
        the DuckDB twin of the funnel (corpus_job)."""
        if self.name == "sjcs_job":
            ids = self.inp["halo_ids"]
            pick = np.random.default_rng([self.seed, 98]).choice(
                len(ids), ORACLE_HALOS, replace=False)
            want = oracle.shell_counts(self.inp["halo_pos"][pick],
                                       self.inp["particle_pos"], _radius()[1])
            got = oracle.dense(read_table(out)[["halo_id", "shell_idx", "cnt"]],
                               ids[pick], len(want[0]))
            run.op(np.array_equal(want, got), "sjcs_job output != oracle")
            return
        import duckdb

        import __spark_entry__ as entry

        con = duckdb.connect()
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{self.inp['documents']}/*.parquet')")
        want = con.execute(entry.oracle_sql()["corpus_clean_stats"]).df()
        con.close()
        funnel = next((r for r in records if r.get("stage") == "funnel"), {})
        got = {k: funnel.get(k) for k in want.columns}
        run.op(got == {k: int(v) for k, v in want.iloc[0].items()},
               f"funnel {got} != oracle {want.iloc[0].to_dict()}")


def read_table(path: str):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").to_table().to_pandas()


def children_cpu_s() -> float:
    r = resource.getrusage(resource.RUSAGE_CHILDREN)
    return r.ru_utime + r.ru_stime


def launch(argv: list[str], env_extra: dict | None = None) -> dict:
    """Run one job process under jobwrap.py.  -> wall, cpu (its whole
    tree), rc, records, its spans, and ``ready``: seconds from launch to
    the return of its first get_spark()."""
    span_file = os.path.join(common.work("spans"), "job.json")
    if os.path.exists(span_file):
        os.remove(span_file)
    cmd = [sys.executable, WRAP, "--spans", span_file, "--", *argv]
    env = {**os.environ, **(env_extra or {})}
    c0, t0 = children_cpu_s(), time.monotonic()  # the spans' clock
    try:
        p = subprocess.run(cmd, cwd=common.work("cwd"), env=env,
                           capture_output=True, text=True,
                           timeout=JOB_TIMEOUT)
        rc, out, err = p.returncode, p.stdout, p.stderr
    except subprocess.TimeoutExpired as e:
        rc, out, err = -9, e.stdout or "", f"timeout after {JOB_TIMEOUT} s"
        out = out.decode() if isinstance(out, bytes) else out
    wall = time.monotonic() - t0
    common.reap_all()
    records = []
    for line in out.splitlines():
        try:
            records.append(json.loads(line))
        except ValueError:
            pass
    spans = (Tracer.load(span_file) if os.path.exists(span_file)
             else Tracer(""))
    ready = [s["end"] for s in spans.spans
             if s["name"] == "session.start" and s["end"] is not None]
    return {"wall": wall, "cpu": children_cpu_s() - c0, "rc": rc,
            "records": records, "error": common.error_line(err),
            "spans": spans, "ready": ready[0] - t0 if ready else 0.0}


def round_(run: common.Run, job: Job, log_dir: str | None = None) -> dict:
    """Fresh run, then resume; both must exit 0 and the resume must
    reproduce the first run's records and output hash.  With
    ``log_dir``, each writes Spark's event log to log_dir/<step>."""
    shutil.rmtree(job.out, ignore_errors=True)
    res, hashes = {}, {}
    for step in ("fresh", "resume"):
        env = None
        if log_dir:
            d = os.path.join(log_dir, step)
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
            env = {"PYSPARK_SUBMIT_ARGS": common.submit_args(d)}
        r = launch(job.argv(job.out), env)
        res[step] = r
        if not run.op(r["rc"] == 0, f"{job.name} {step}: exit {r['rc']}: "
                      f"{r['error']}"):
            return res
        hashes[step] = job.output_hash(job.out)
    run.op(hashes["fresh"] == hashes["resume"]
           and res["fresh"]["records"] == res["resume"]["records"],
           f"{job.name}: resume output differs from the first run")
    return res


def timed(name: str, seed: int, seconds: float) -> dict:
    run = common.Run()
    job = Job(name, seed)
    job.setup()
    rounds = []
    with common.RssSampler() as rss:
        t_end = time.perf_counter() + seconds
        while not rounds or time.perf_counter() < t_end:
            rounds.append(round_(run, job))
            if run.failed:
                break
    if not run.failed:
        job.check_values(run, job.out, rounds[-1]["fresh"]["records"])
    ok = [r for r in rounds if len(r) == 2]
    setup_times = [r[step]["ready"] for r in ok for step in r]

    def med(step, key):
        return common.median([r[step][key] for r in ok]) if ok else 0.0

    return {
        "run": run, "stamp": job.stamp(),
        "metrics": {
            "setup_s": common.median(setup_times or [0]),
            "round_s": common.median(
                [r["fresh"]["wall"] + r["resume"]["wall"] for r in ok] or [0]),
            "cpu_core_s": common.median(
                [r["fresh"]["cpu"] + r["resume"]["cpu"] for r in ok] or [0]),
        },
        "report": {"job_s": med("fresh", "wall"),
                   "peak_rss_mb": rss.peak,
                   "resume_s": med("resume", "wall"),
                   "job_cpu_core_s": med("fresh", "cpu"),
                   "resume_cpu_core_s": med("resume", "cpu"),
                   "rounds": len(rounds), "setup_reps_s": setup_times},
    }


def traced(name: str, seed: int, seconds: float) -> dict:
    """A round with the event log on, then the same round without it;
    trace.overhead_s is the difference of their walls.  Both take their
    spans from the job wrapper.  sjcs_job also runs the string-id
    probe."""
    import eventlog

    run = common.Run()
    job = Job(name, seed)
    job.setup()
    log_dir = common.work("eventlog", f"{name}-{seed}")
    res = round_(run, job, log_dir)
    untraced = round_(run, job)
    m: dict = {}
    report: dict = {}
    if not run.failed:
        job.check_values(run, job.out, res["fresh"]["records"])
        fresh = eventlog.total(eventlog.reduce_dir(os.path.join(log_dir, "fresh")))
        sp, sr = res["fresh"]["spans"], res["resume"]["spans"]

        m.update({
            "session.start_s": sp.total("session.start"),
            "scan.rows": fresh["scan_rows"],
            "scan.bytes_read": fresh["scan_bytes"],
            "scan.task_s": fresh["scan_task_s"],
            "exchange.shuffle_write_bytes": fresh["shuffle_write_bytes"],
            "exchange.fetch_wait_s": fresh["fetch_wait_s"],
            "exchange.spill_bytes": fresh["spill_bytes"],
            "exchange.task_skew": fresh["task_skew"],
            "arrow.bytes_to_python": fresh["bytes_to_py"],
            "arrow.bytes_from_python": fresh["bytes_from_py"],
            "python.run_s": fresh["py_run_s"],
            "python.start_s": fresh["py_start_s"],
            "jvm.cpu_s": fresh["cpu_s"],
            "jvm.gc_s": fresh["gc_s"],
            "agg.output_rows": fresh["agg_rows"],
            "agg.task_s": fresh["agg_task_s"],
            "pipeline.checkpoint_s": sp.total("pipeline.checkpoint:"),
            "pipeline.write_bytes": fresh["output_bytes"],
            "pipeline.spark_jobs": fresh["jobs"],
            "pipeline.resume_s": sr.total("pipeline.resume_or_compute:"),
            "trace.overhead_s": (res["fresh"]["wall"] + res["resume"]["wall"]
                                 - untraced["fresh"]["wall"]
                                 - untraced["resume"]["wall"]),
        })
        if name == "corpus_job":
            for s in CORPUS_STAGES:
                m[f"corpus.stage_s.{s}"] = sp.total(
                    f"pipeline.resume_or_compute:{s}")
                m[f"corpus.rows.{s}"] = float(
                    len(read_table(os.path.join(job.out, s))))
        else:  # a Filter over a Generate is the ring prune only here
            m["cells.ring_rows"] = fresh["ring_rows"]
            m["probe.auto_plan_failed"], report["probe"] = probe(job)
        # a stage's time outside its checkpoint write: eager work such
        # as the cluster stage's iterations, and plan building
        report["stage_self_s"] = {
            s["name"].split(":", 1)[1]: sp.self_time(s) for s in sp.spans
            if s["name"].startswith("pipeline.resume_or_compute:")}
        report.update({"job_s": res["fresh"]["wall"],
                       "resume_s": res["resume"]["wall"],
                       "untraced_round_s": untraced["fresh"]["wall"]
                       + untraced["resume"]["wall"]})
    return {"run": run, "stamp": job.stamp(), "metrics": m, "report": report}


def probe(job: Job) -> tuple[float, str]:
    """The known string-id defect: ``--plan auto`` (-> dgrid) on the
    images-shaped input, whose halo ids are strings.  -> (1 when the run
    fails or disagrees with the sql plan's output, else 0; what it said)"""
    out = os.path.join(common.WORK, "out", "sjcs_probe")
    shutil.rmtree(out, ignore_errors=True)
    r = launch(job.argv(out, plan="auto"))
    if r["rc"] != 0:
        return 1.0, r["error"]
    same = job.output_hash(out) == job.output_hash(job.out)
    return (0.0, "ok") if same else (1.0, "output differs from --plan sql")
