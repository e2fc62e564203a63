"""The benchmark's workloads. See README.md for why each exists.

A workload is a list of calls. A registry query name builds the frame
with the query's ``fn`` and forces it with a ``noop`` write; a
``wordcount_*`` name runs one ``plans.job.run_job`` word count over a
corpus drawn from the seed.
"""

from __future__ import annotations

WORKLOADS = {
    # JVM-only scan, join, aggregate and window plans: no Python-worker
    # node and no checkpoint, so it is the no-change side for kernel,
    # Python-worker and materialisation work.
    "sql_scan": (
        "q1_pricing_summary", "q3_shipping_priority", "q6_forecast_revenue",
        "window_topk_per_group", "asof_join_clicks_purchases", "date_functions",
    ),
    # Everything that runs Python workers: Arrow/pandas kernels with
    # persist and spreading (the MinHash signatures and the query
    # vectors are work the engine's cross-call memo caches would skip on
    # a reused input path),
    # a driver-blocking power-iteration loop, and the reference engine's
    # own surface, run_job, with Python callables (pickled-row RDD
    # workers) and with executable scripts through RDD.pipe.
    "pipelines": (
        "dedup_minhash_lsh", "ann_bruteforce_topk", "embedding_pca_power_iteration",
        "wordcount_callables", "wordcount_pipe",
    ),
}

# Warm-pass wall on 4 cores, measured at this commit. A run makes
# round(seconds / NOMINAL_PASS_S) measured warm passes, so the work of a
# run is fixed by its length and not by the host's speed.
NOMINAL_PASS_S = {"sql_scan": 2.3, "pipelines": 6.0}

MR_CALLS = ("wordcount_callables", "wordcount_pipe")
# run_job corpus: MR_FILES files of about MR_FILE_BYTES each, words drawn
# from a Zipf vocabulary; the reference's job shape of 4 mappers and 4
# reducers.
MR_FILES = 8
MR_FILE_BYTES = 60_000
MR_MAPPERS = 4
MR_REDUCERS = 4
