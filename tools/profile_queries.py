"""Per-query optimization profiler.

For each named query: dump `.explain("formatted")` to
``plans/profile/<name>_<suffix>.txt``, then time the noop-sink execution
(bench.py methodology: one warm run that pays codegen, then min of N
timed runs) and print wall + UI-REST stage metrics (input bytes /
shuffle write / max vs median task) as one JSON line per query.

Usage:
    python tools/profile_queries.py [--sf DIR] [--runs N] [--suffix before]
                                [--no-plan] name1 name2 ...
    python tools/profile_queries.py --all          # every headline query

DataFrame *construction* is timed separately (some queries run eager
plan-build jobs — the overlap hot-bin census, the PCA fit) so the
split between plan-build cost and execution cost is visible.
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from p4_mapreduce_spark.metrics import (  # noqa: E402
    calibration_scan,
    stage_metrics_since,
    stage_snapshot,
)
from p4_mapreduce_spark.registry import load_all  # noqa: E402
from p4_mapreduce_spark.session import get_spark  # noqa: E402
from p4_mapreduce_spark.sources.tables import load  # noqa: E402


def main() -> None:
    sf_dir = "/root/testdata/sf0.1"
    runs = 3
    suffix = "before"
    plan = True
    names: list[str] = []
    argv = sys.argv[1:]
    i = 0
    use_all = False
    while i < len(argv):
        a = argv[i]
        if a == "--sf":
            i += 1
            sf_dir = argv[i]
        elif a == "--runs":
            i += 1
            runs = int(argv[i])
        elif a == "--suffix":
            i += 1
            suffix = argv[i]
        elif a == "--no-plan":
            plan = False
        elif a == "--all":
            use_all = True
        else:
            names.append(a)
        i += 1

    spark = get_spark(
        app_name="profile", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    if use_all:
        names = [n for n, s in sorted(registry.items()) if s.headline]
    unknown = [n for n in names if n not in registry]
    assert not unknown, f"unknown queries: {unknown}"

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "profile",
    )
    os.makedirs(plans_dir, exist_ok=True)

    load(spark, sf_dir, "lineitem").count()  # warm JVM/FS
    calib = round(calibration_scan(spark, sf_dir), 4)
    print(json.dumps({"calibration_sec": calib, "sf_dir": sf_dir}))

    for name in names:
        spec = registry[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.perf_counter()
        df = spec.fn(spark, sf_dir)
        construct = time.perf_counter() - t0
        if plan:
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(
                os.path.join(plans_dir, f"{name}_{suffix}.txt"), "w"
            ) as f:
                f.write(buf.getvalue())
        # warm run (codegen compile) — rebuilt frame like bench.py
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        walls = []
        before = None
        for r in range(runs):
            if r == runs - 1:
                before = stage_snapshot(spark)
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            walls.append(round(time.perf_counter() - t0, 3))
        met = stage_metrics_since(spark, before)
        spark.sparkContext.setJobDescription(None)
        print(
            json.dumps(
                {
                    "query": name,
                    "construct_sec": round(construct, 3),
                    "best_sec": min(walls),
                    "walls": walls,
                    "ratio": round(min(walls) / calib, 2),
                    "metrics": met,
                },
                separators=(",", ":"),
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
