"""Self-tests of the benchmark: inputs are a function of the seed, the
oracle and spans behave, and the event-log reducer reads known counts.

  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(1, os.path.dirname(os.path.dirname(HERE)))

import common  # noqa: E402
import eventlog  # noqa: E402
import inputs  # noqa: E402
import oracle  # noqa: E402
from spans import Tracer  # noqa: E402


def _shell_hashes(seed):
    P, H = inputs.uniform_points(seed, 5000, 500)
    p, h, hosts = inputs.clustered_points(seed, 5000, 500)
    return (common.arrays_hash(P, H), common.arrays_hash(p, h, hosts),
            len(P), len(H), len(p), len(h))


def test_same_seed_same_inputs(tmp_path):
    assert _shell_hashes(3) == _shell_hashes(3)
    a = inputs.write_images(3, str(tmp_path / "a"))
    b = inputs.write_images(3, str(tmp_path / "b"))
    assert a["hash"] == b["hash"] and a["bytes"] == b["bytes"]
    d1 = inputs.write_documents(3, str(tmp_path / "c"))
    d2 = inputs.write_documents(3, str(tmp_path / "d"))
    assert d1["hash"] == d2["hash"]


def test_other_seed_other_inputs_same_counts(tmp_path):
    s3, s4 = _shell_hashes(3), _shell_hashes(4)
    assert s3[0] != s4[0] and s3[1] != s4[1]
    assert s3[2:] == s4[2:]
    a = inputs.write_images(3, str(tmp_path / "a"))
    b = inputs.write_images(4, str(tmp_path / "b"))
    assert a["hash"] != b["hash"] and a["rows"] == b["rows"]
    d3, e3 = inputs.documents(3)
    d4, e4 = inputs.documents(4)
    assert not d3["text"].equals(d4["text"])
    assert (len(d3), len(e3)) == (len(d4), len(e4))


def test_clustered_input_is_skewed():
    p, _, _ = inputs.clustered_points(5, 200_000, 20_000)
    pos = inputs.decode(p)
    nc = 25  # the sql plan's grid at this size
    cell = np.floor(pos / (1000.0 / nc)).astype(np.int64).clip(0, nc - 1)
    occ = np.bincount((cell[:, 0] * nc + cell[:, 1]) * nc + cell[:, 2])
    assert occ.max() > 100 * len(pos) / nc**3


def test_oracle_periodic_corners():
    # the reference's TestData4PB: 8 particles at the cube corners, so
    # every particle sits at distance 0, 1, sqrt2 or sqrt3 of each halo
    P = np.array(np.meshgrid([0, 999], [0, 999], [0, 999])).reshape(3, -1).T
    H = np.array([[0, 0, 0], [999, 999, 999]])
    edges = np.array([0.5, 1.2, 1.5, 1.8], np.float32)
    assert oracle.shell_counts(H, P, edges).tolist() == [[1, 3, 3, 1]] * 2


def test_span_self_time():
    t = Tracer("t")
    with t.span("outer") as outer:
        with t.span("a"):
            pass
        with t.span("b"):
            pass
    kids = sum(s["end"] - s["start"] for s in t.spans[1:])
    assert t.self_time(outer) == pytest.approx(
        outer["end"] - outer["start"] - kids)
    assert [s["parent"] for s in t.spans] == [None, 0, 0]


def test_eventlog_reducer_counts(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    common.setup_env()
    import shells

    src = tmp_path / "src"
    src.mkdir()
    n = 10_000
    pq.write_table(pa.table({"k": np.arange(n) % 7, "v": np.arange(n)}),
                   str(src / "part-0.parquet"))
    logs = tmp_path / "log"
    logs.mkdir()
    spark = shells.start_session({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": str(logs),
    })
    try:
        shells.set_group(spark, "t")
        df = spark.read.parquet(str(src))
        assert df.groupBy("k").count().collect()
        df.write.parquet(str(tmp_path / "out"))
        shells.set_group(spark, None)
    finally:
        shells.shutdown(spark)
    g = eventlog.reduce_dir(str(logs))["t"]
    written = sum(os.path.getsize(os.path.join(tmp_path / "out", f))
                  for f in os.listdir(tmp_path / "out")
                  if f.endswith(".parquet"))
    assert g["scan_rows"] == 2 * n          # two scans of the table
    assert g["agg_rows"] >= 7               # the final groupBy output
    assert g["output_rows"] == n
    assert g["output_bytes"] == written
    assert g["jobs"] >= 2 and g["cpu_s"] > 0
