"""shells_uniform / shells_clustered: ``shell_count`` under every plan
on cached (id, x, y, z) tables in this process.

A round calls ``shell_count(plan=p)`` for each plan and sinks the frame
into an order-independent digest of its rows, which must match the check
pass's; rounds repeat until the run's time is up.  The digest consumes
every row like the noop writer does, and checks every timed call.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext

import numpy as np

import common
import inputs
import oracle

PLANS = ("dgrid", "bcast", "fused", "sql")
ORACLE_HALOS = 48
PARTITIONS_PER_CORE = 4
# the median of one round is that round: on a slow host, where a round
# outlasts --seconds, still measure two
MIN_ROUNDS = 2
# cold set-ups per run, each ~12-15 s on a 4-core VM: a third would
# push a gate pass past its time budget when the host runs slow
SETUP_REPS = 2


def start_session(extra: dict | None = None):
    from spatialjoincountovershells_spark import get_spark

    return get_spark(app="perfbench", master=f"local[{common.cores()}]",
                     driver_memory="2g", extra=extra)


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for every child."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Py4JError:  # the JVM side already closed the connection
            pass
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    common.reap_all()


class Inputs:
    """The workload's tables for one seed, in numpy (for the oracle and
    the input hash) and as cached Spark frames."""

    def __init__(self, kind: str, seed: int):
        self.kind, self.seed = kind, seed
        self.n_p, self.n_h = inputs.SHELL_PARTICLES, inputs.SHELL_HALOS
        self.edges, self.rmax = inputs.ref_edges(self.n_p)
        if kind == "uniform":
            self.P, self.H = inputs.uniform_points(seed, self.n_p, self.n_h)
            self.hosts = np.array([], np.int64)
        else:
            self.p_hash, self.h_hash, self.hosts = inputs.clustered_points(
                seed, self.n_p, self.n_h)
            self.P, self.H = inputs.decode(self.p_hash), inputs.decode(self.h_hash)
        self.hash = common.arrays_hash(self.P, self.H)

    def frames(self, spark):
        """-> (halos, particles) decoded, cached and counted."""
        import pandas as pd

        from spatialjoincountovershells_spark import decode_phash
        from spatialjoincountovershells_spark.sources.synth import synth_points

        # several partitions per core: a core slowed by the host then
        # takes fewer tasks instead of holding up every stage
        n = PARTITIONS_PER_CORE * common.cores()
        if self.kind == "uniform":
            sp, sh = inputs.synth_seeds(self.seed)
            p = synth_points(spark, self.n_p, seed=sp, id_col="particle_id",
                             partitions=n)
            h = synth_points(spark, self.n_h, seed=sh, id_col="halo_id",
                             partitions=n)
        else:
            p = spark.createDataFrame(pd.DataFrame(
                {"particle_id": np.arange(self.n_p), "phash": self.p_hash}
            )).repartition(n)
            h = spark.createDataFrame(pd.DataFrame(
                {"halo_id": np.arange(self.n_h), "phash": self.h_hash}
            )).repartition(n)
        h, p = decode_phash(h).cache(), decode_phash(p).cache()
        h.count()
        p.count()
        return h, p

    def oracle_ids(self) -> np.ndarray:
        """Seed-chosen halos for the brute-force check (for clustered
        input, half of them clump hosts)."""
        rng = np.random.default_rng([self.seed, 99])
        ids = rng.choice(self.n_h, ORACLE_HALOS, replace=False)
        if len(self.hosts):
            k = min(ORACLE_HALOS // 2, len(self.hosts))
            ids[:k] = rng.choice(self.hosts, k, replace=False)
        return np.unique(ids)

    def stamp(self) -> dict:
        return {"rows": {"particles": self.n_p, "halos": self.n_h},
                "bytes": {"particles": self.P.nbytes + 8 * self.n_p,
                          "halos": self.H.nbytes + 8 * self.n_h},
                "hash": self.hash, "r_max": self.rmax}


def call(inp: Inputs, h, p, plan: str):
    from spatialjoincountovershells_spark import shell_count

    return shell_count(h, p, inp.edges, plan=plan, id_col="halo_id",
                       n_halos_est=inp.n_h, n_particles_est=inp.n_p)


def set_group(spark, name: str | None) -> None:
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", name)


def output_hash(df) -> tuple:
    """Order-independent digest of a (halo_id, shell_idx, cnt) frame,
    computed in Spark: row count, xor and sum of per-row xxhash64."""
    from pyspark.sql import functions as F

    hsh = F.xxhash64(*[F.col(c).cast("long")
                       for c in ("halo_id", "shell_idx", "cnt")])
    r = df.agg(F.count(F.lit(1)), F.bit_xor(hsh),
               F.sum(F.shiftright(hsh, 24))).collect()[0]
    return tuple(r)


def check(run: common.Run, inp: Inputs, h, p) -> tuple | None:
    """Run every plan once at full size, through the same sink as the
    timed calls (this is also the warm-up): all plans must give the same
    (halo_id, shell_idx, cnt) set, and it must equal the brute-force
    oracle on seed-chosen halos.  -> the set's digest"""
    digests = {}
    for plan in PLANS:
        try:
            digests[plan] = output_hash(call(inp, h, p, plan))
        except Exception as e:  # noqa: BLE001 - counted, reported
            run.op(False, f"{plan}: {type(e).__name__}: {e}"[:300])
            continue
        first = next(iter(digests))
        run.op(digests[plan] == digests[first],
               f"{plan} output differs from {first}")
    ids = inp.oracle_ids()
    got = call(inp, h.where(h.halo_id.isin([int(i) for i in ids])), p,
               "dgrid").toPandas()
    want = oracle.shell_counts(inp.H[ids], inp.P, inp.edges)
    run.op(np.array_equal(want, oracle.dense(
        got[["halo_id", "shell_idx", "cnt"]], ids, len(inp.edges))),
        "output differs from the oracle")
    return next(iter(digests.values()), None)


def timed_round(run: common.Run, inp: Inputs, h, p, expected: tuple,
                tracer=None, spark=None):
    """One call per plan, each sunk into its digest, which must equal
    the check pass's.  -> (wall s, cpu core-s, {plan: (build, search s)})"""
    span = tracer.span if tracer else (lambda name: nullcontext())
    per = {}
    c0, t0 = common.tree_cpu_s(), time.perf_counter()
    for plan in PLANS:
        if spark is not None:
            set_group(spark, plan)
        a = time.perf_counter()
        try:
            with span(f"shell_count.build.{plan}"):
                df = call(inp, h, p, plan)
            b = time.perf_counter()
            with span(f"shell_count.search.{plan}"):
                got = output_hash(df)
            run.op(got == expected, f"{plan} output differs from the check")
        except Exception as e:  # noqa: BLE001 - counted, reported
            b = time.perf_counter()
            run.op(False, f"{plan}: {type(e).__name__}: {e}"[:300])
        per[plan] = (b - a, time.perf_counter() - b)
    if spark is not None:
        set_group(spark, None)
    return time.perf_counter() - t0, common.tree_cpu_s() - c0, per


def setup(inp: Inputs):
    """Set up SETUP_REPS times from a cold JVM: launch it and start the
    session, then build the input frames (synth_points, for uniform
    input, starts the Python workers).  The JVM of the previous rep is
    shut down first, outside the timing; the last rep's is kept.
    -> (spark, h, p, [s])"""
    times, spark = [], None
    for _ in range(SETUP_REPS):
        if spark is not None:
            shutdown(spark)
        t0 = time.perf_counter()
        spark = start_session()
        h, p = inp.frames(spark)
        times.append(time.perf_counter() - t0)
    return spark, h, p, times


def timed(kind: str, seed: int, seconds: float) -> dict:
    run = common.Run()
    inp = Inputs(kind, seed)
    spark, h, p, setup_times = setup(inp)
    try:
        t0 = time.perf_counter()
        expected = check(run, inp, h, p)
        check_s = time.perf_counter() - t0
        rounds = []
        with common.RssSampler() as rss:
            t_end = time.perf_counter() + seconds
            while len(rounds) < MIN_ROUNDS or time.perf_counter() < t_end:
                rounds.append(timed_round(run, inp, h, p, expected))
    finally:
        shutdown(spark)
    walls = [r[0] for r in rounds]
    report = {f"probes_per_s.{pl}": common.median(
        [inp.n_h / sum(r[2][pl]) for r in rounds]) for pl in PLANS}
    return {
        "run": run, "stamp": inp.stamp(),
        "metrics": {
            "setup_s": common.median(setup_times),
            "round_s": common.median(walls),
            "cpu_core_s": common.median([r[1] for r in rounds]),
        },
        "report": {**report, "peak_rss_mb": rss.peak, "rounds_s": walls,
                   "setup_reps_s": setup_times, "check_s": check_s},
    }


def traced(kind: str, seed: int, seconds: float) -> dict:
    """A round with the event log on and spans around each call, then
    the untimed layer counts; then the same round untraced in a fresh
    session on the same JVM; trace.overhead_s is the difference of the
    two rounds' walls."""
    import eventlog
    from spans import Tracer

    from spatialjoincountovershells_spark.operators.shell_count import (
        choose_plan)

    run = common.Run()
    inp = Inputs(kind, seed)
    tr = Tracer(f"{kind}-{seed}")
    log_dir = os.path.join(common.WORK, "eventlog", f"{kind}-{seed}")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    with tr.span("session.start"):
        spark = start_session({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": log_dir,
        })
    try:
        h, p = inp.frames(spark)
        expected = check(run, inp, h, p)
        wall, _, per = timed_round(run, inp, h, p, expected, tracer=tr,
                                   spark=spark)
        set_group(spark, "cells")
        counts = layer_counts(inp, h, p)
        set_group(spark, "probe")
        failed, said = string_id_probe(inp, h, p)
        spark.stop()
        spark = start_session()
        h, p = inp.frames(spark)
        untraced = timed_round(run, inp, h, p, check(run, inp, h, p))
    finally:
        shutdown(spark)
    # regret of choose_plan's pick over the round's fastest plan
    walls = {pl: sum(v) for pl, v in untraced[2].items()}
    pick = choose_plan(inp.n_h, inp.n_p, float(inp.edges[-1]))
    groups = eventlog.reduce_dir(log_dir)
    ev = eventlog.total(groups, PLANS)
    cells, grid_ok = cell_metrics(inp, counts, groups)
    m = {
        "session.start_s": tr.total("session.start"),
        "scan.rows": ev["scan_rows"],
        "scan.bytes_read": ev["scan_bytes"],
        "scan.task_s": ev["scan_task_s"],
        "cells.ring_rows": ev["ring_rows"],
        **cells,
        "choose_plan.regret": walls[pick] / min(walls.values()),
        "exchange.shuffle_write_bytes": ev["shuffle_write_bytes"],
        "exchange.fetch_wait_s": ev["fetch_wait_s"],
        "exchange.spill_bytes": ev["spill_bytes"],
        "exchange.task_skew": ev["task_skew"],
        "arrow.bytes_to_python": ev["bytes_to_py"],
        "arrow.bytes_from_python": ev["bytes_from_py"],
        "python.run_s": ev["py_run_s"],
        "python.start_s": ev["py_start_s"],
        "jvm.cpu_s": ev["cpu_s"],
        "jvm.gc_s": ev["gc_s"],
        "agg.output_rows": ev["agg_rows"],
        "agg.task_s": ev["agg_task_s"],
        "trace.overhead_s": wall - untraced[0],
        "probe.auto_plan_failed": failed,
    }
    for plan in PLANS:
        m[f"shell_count.build_s.{plan}"] = per[plan][0]
        m[f"shell_count.search_s.{plan}"] = per[plan][1]
    return {"run": run, "stamp": inp.stamp(), "metrics": m,
            "report": {"untraced_round_s": untraced[0], "traced_round_s": wall,
                       "probe": said, "grid_copy_ok": grid_ok,
                       "per_plan_groups": {g: groups[g] for g in PLANS
                                           if g in groups}}}


def plan_grids(inp: Inputs) -> dict:
    """Cells per side of the grid each plan builds for these inputs.

    A copy of shell_count's grid policy (operators/shell_count.py): the
    sql plan's occupancy-capped ``grid_ncells(r_max, n_hint=n)`` in
    ``_prep``, fused's cap of ~128 particles per cell, and bcast and
    dgrid's cells of r_max / bcast_cell_mult (2).  traced() checks the
    sql and fused copies against the ring rows those plans produced and
    drops a copy that no longer matches; the dgrid ring lives inside its
    kernel, so that copy cannot be checked from outside."""
    from spatialjoincountovershells_spark.operators.cells import grid_ncells

    rmax = float(inp.edges[-1])
    return {
        "sql": grid_ncells(rmax, n_hint=inp.n_p),
        "fused": max(1, min(grid_ncells(rmax),
                            max(2, round((inp.n_p / 128) ** (1 / 3))))),
        "dgrid": grid_ncells(rmax / 2),
    }


def layer_counts(inp: Inputs, h, p) -> dict:
    """Untimed counts on each copied plan grid: ring rows and candidate
    pairs; the pairs within r_max; the densest sql-grid cell.
    -> {"ring": {grid: rows}, "pairs": {grid: pairs}, "useful": pairs,
        "max_cell": particles}"""
    from pyspark.sql import functions as F

    from spatialjoincountovershells_spark.operators.cells import (
        cell_stats, explode_ring, with_cell)
    rmax = float(inp.edges[-1])
    grids = plan_grids(inp)
    hs = h.selectExpr("halo_id", "x as _hx", "y as _hy", "z as _hz")
    out = {"ring": {}, "pairs": {},
           # pairs within r_max: the summed counts of one plan's output
           "useful": call(inp, h, p, "sql").agg(F.sum("cnt")).collect()[0][0],
           "max_cell": cell_stats(p, grids["sql"]).agg(
               F.max("n_points")).collect()[0][0]}
    for name, nc in grids.items():
        k = max(1, int(np.ceil(rmax / (1000.0 / nc) - 1e-9)))
        ring = explode_ring(hs, nc, cols=("_hx", "_hy", "_hz"), k=k,
                            prune_radius=rmax).cache()
        out["ring"][name] = ring.count()
        out["pairs"][name] = ring.join(with_cell(p, nc), "cell_id").count()
        ring.unpersist()
    return out


def cell_metrics(inp: Inputs, counts: dict, groups: dict) -> tuple[dict, dict]:
    """cells.* from layer_counts and the per-plan event-log groups.  A
    copied grid whose ring rows differ from those its plan produced
    reads 0.  The sql join's own "number of output rows" cannot stand in
    for its candidate pairs: Spark pushes the r_max filter into the join
    condition, so it counts the useful pairs.
    -> (metrics, {grid: whether its copy was checked and matched})"""
    ok = {g: counts["ring"][g] == groups.get(g, {}).get("ring_rows")
          for g in ("sql", "fused")}
    usable = {**ok, "dgrid": True}  # unchecked
    m = {}
    for g, good in usable.items():
        pairs = counts["pairs"][g]
        m[f"cells.candidate_pairs.{g}"] = float(pairs) if good else 0.0
        m[f"cells.useful_ratio.{g}"] = (counts["useful"] / pairs
                                        if good and pairs else 0.0)
    nc = plan_grids(inp)["sql"]
    m["cells.max_occupancy_ratio"] = (counts["max_cell"] / (inp.n_p / nc**3)
                                      if ok["sql"] else 0.0)
    return m, {**ok, "dgrid": "unchecked: its ring is inside the kernel"}


def string_id_probe(inp: Inputs, h, p) -> tuple[float, str]:
    """The known string-id defect, at the library level: halo ids as the
    images table's strings ('halo000000015000'), plan='auto' (dgrid on
    these sizes).  -> (1 when it raises or disagrees with plan='sql',
    else 0; what it said)"""
    from pyspark.sql import functions as F

    from spatialjoincountovershells_spark import shell_count

    hs = h.limit(1000).withColumn("halo_id",
                                  F.format_string("halo%012d", "halo_id"))

    def run(plan):
        return common.frame_hash(shell_count(
            hs, p, inp.edges, plan=plan, id_col="halo_id",
            n_halos_est=1000, n_particles_est=inp.n_p).toPandas())

    try:
        got = run("auto")
    except Exception as e:  # noqa: BLE001 - the defect under watch
        return 1.0, common.error_line(f"{type(e).__name__}: {e}")
    return (0.0, "ok") if got == run("sql") else (1.0, "differs from sql")
