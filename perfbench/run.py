"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload sql_scan --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer ones with
``--trace 1``). Everything the run writes stays under
``perfbench/.work``; oracle results are cached in ``perfbench/.cache``.
See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
DATA = BENCH / "data" / "sf0.01"


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "p4_mapreduce_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    if not any(DATA.glob("*.parquet")):
        print(f"perfbench: no input tables under {DATA}", file=sys.stderr)
        return 2

    work = BENCH / ".work" / f"run-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    # Everything launched from here (the JVM, Python workers, pipe
    # scripts) inherits these: temporary files stay inside the run's
    # directory, and the workers can import the engine and the
    # benchmark's own modules.
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM, the launcher's included: no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, str(ROOT))
    import tempfile

    tempfile.tempdir = None

    from perfbench.harness import Run, stop_spark

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), DATA, work,
              BENCH / ".cache" / "oracle", _cores())
    try:
        result = run.execute()
    finally:
        stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
