"""Run a job script with spans around the public functions it imports.

  python3 perfbench/jobwrap.py --spans OUT.json -- jobs/sjcs_job.py ARGS...

Wraps ``get_spark`` (span ``session.start``) and the checkpoint layer
of ``plans.pipeline`` (``pipeline.resume_or_compute:<stage>``,
``pipeline.checkpoint:<stage>``, ``pipeline.resume:<stage>``, where
<stage> is the output directory's name), then calls the job's
``main(argv)`` and writes the spans when it returns.  A span costs a
clock read and a list append, so timed runs use the wrapper too: the
end of ``session.start`` is where their set-up ends.
"""

from __future__ import annotations

import importlib.util
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

from spans import Tracer  # noqa: E402


def _stage(path: str) -> str:
    return os.path.basename(os.path.normpath(path))


def main() -> int:
    argv = sys.argv[1:]
    if len(argv) < 4 or argv[0] != "--spans" or argv[2] != "--":
        raise SystemExit(__doc__)
    spans_path, job, job_argv = argv[1], argv[3], argv[4:]

    import spatialjoincountovershells_spark as pkg
    from spatialjoincountovershells_spark.plans import pipeline

    tr = Tracer(os.path.basename(job))
    pkg.get_spark = tr.wrap("session.start", pkg.get_spark)
    pipeline.resume_or_compute = tr.wrap(
        lambda spark, path, *a, **k: f"pipeline.resume_or_compute:{_stage(path)}",
        pipeline.resume_or_compute)
    pipeline.checkpoint = tr.wrap(
        lambda df, path, *a, **k: f"pipeline.checkpoint:{_stage(path)}",
        pipeline.checkpoint)
    pipeline.resume = tr.wrap(
        lambda spark, path, *a, **k: f"pipeline.resume:{_stage(path)}",
        pipeline.resume)

    spec = importlib.util.spec_from_file_location("job_main", job)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    try:
        return mod.main(job_argv)
    finally:
        tr.dump(spans_path)


if __name__ == "__main__":
    sys.exit(main())
