"""Event-time windowing: tumbling / sliding / session, batch + streaming.

The reference is batch-only (SURVEY.md §2.4); this is north-star
surface. Each window shape ships twice:

- a **batch** DataFrame (registered query + DuckDB oracle — DuckDB can
  verify the window algebra exactly);
- a **streaming** builder (``readStream`` → watermark → windowed agg)
  exercised in tests with an ``availableNow`` trigger against the
  batch result, which is precisely Structured Streaming's semantics
  contract: a streaming query must converge to its batch equivalent.

Scale notes: watermarks bound state (without one, session state grows
forever); tumbling/sliding aggs are partial-aggregated before the
shuffle like any groupBy; session windows shuffle once on user_id.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from p4_mapreduce_spark.functions.deterministic import fix_sql, fsum, fsum_sql
from p4_mapreduce_spark.functions.timeutil import epoch_micros
from p4_mapreduce_spark.registry import register
from p4_mapreduce_spark.sources.tables import SCHEMAS, load

SESSION_GAP_SECONDS = 1800.0



@register(
    "stream_tumbling_counts",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           {fsum_sql('value')} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 1h event-time windows per event type (batch form of "
    "the streaming agg; window start == hour truncation).",
    headline=True,
    tags=("streaming", "window", "aggregation"),
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), fsum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "stream_sliding_avg",
    oracle=f"""
    WITH base AS (
        -- make_timestamp(micros), NOT to_timestamp(secs): to_timestamp
        -- yields TIMESTAMPTZ whose cast to naive TIMESTAMP shifts with
        -- the process timezone; make_timestamp is tz-independent
        SELECT event_type, value,
               make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800
                                   * 1000000 AS BIGINT)) AS slide_bucket
        FROM events
    ),
    expanded AS (
        SELECT event_type, value,
               unnest([slide_bucket, slide_bucket - INTERVAL 30 MINUTE])
                   AS window_start
        FROM base
    )
    SELECT window_start, event_type, count(*) AS n,
           {fsum_sql('value')} / count(*) AS avg_value
    FROM expanded GROUP BY 1, 2
    """,
    doc="Sliding windows (1h long, 30min slide): every event lands in "
    "two overlapping windows; avg value per window x type.",
    tags=("streaming", "window", "aggregation"),
)
def stream_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (fsum("value") / F.count(F.lit(1))).alias("avg_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "avg_value")
    )


@register(
    "stream_session_windows",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL THEN 1
                    WHEN epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_SECONDS}
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events,
           {fsum_sql('value')} AS session_value
    FROM sessions GROUP BY 1, 2
    """,
    doc="Session windows (30min inactivity gap) via lag + cumulative-sum "
    "session ids — the batch equivalent of session_window(ts, '30 min').",
    tags=("streaming", "window", "session"),
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = load(spark, sf_dir, "events")
    # NTZ-safe epoch micros (timeutil); the oracle's epoch(ts) is double
    # seconds, but the gap comparison is exact in integer micros
    ev = raw.withColumn("ts_us", epoch_micros(raw))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag("ts_us").over(w)
    new_session = F.when(prev_us.isNull(), 1).otherwise(
        F.when(
            F.col("ts_us") - prev_us > int(SESSION_GAP_SECONDS * 1_000_000),
            1,
        ).otherwise(0)
    )
    flagged = ev.select("user_id", "ts", "event_id", "value", new_session.alias("new_session"))
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = flagged.select(
        "user_id", "ts", "value", F.sum("new_session").over(w2).alias("session_id")
    )
    return (
        sessions.groupBy("user_id", F.col("session_id").cast("long").alias("session_id"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            fsum("value").alias("session_value"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming builders (tested with availableNow trigger vs the batch form)
# ---------------------------------------------------------------------------


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with the declared batch schema
    ``SCHEMAS["events"]``.

    FileStreamSource needs a schema up front (no inference). Reading the
    footer schema through the batch reader instead costs a Spark job
    per call. A hardcoded schema once broke silently here: the testdata
    regenerated from nanos-as-long to plain micros and a stale
    nanos→micros shim decoded every event into 1970. The declared
    schema has no shim, a file whose ``ts`` type differs fails the scan
    loudly, and the schema contract test keeps the declaration equal to
    the files.
    """
    load(spark, sf_dir, "events")  # pins the UTC session tz
    raw = (
        spark.readStream.schema(SCHEMAS["events"])
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # Watermarks demand LTZ (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).
    # load() above pinned the session tz to UTC, so this cast is
    # epoch-preserving — naive wall time reinterpreted as UTC.
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of stream_tumbling_counts with a 1h watermark.

    The watermark bounds state: windows older than (max event time - 1h)
    finalize and evict; late events beyond it are dropped.
    """
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), fsum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data dedup: dropDuplicatesWithinWatermark on event_id."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    return ev.dropDuplicatesWithinWatermark(["event_id"])


def streaming_stateful_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a running
    per-user (count, value-cents sum) kept in explicit GroupState.

    This is the escape hatch for operators Structured Streaming lacks
    (custom sessionization, decaying counters, online sketches). State
    is per-key and partitioned — at 100 TB the state store shards with
    the shuffle, bounded by watermark-driven timeouts (here: none,
    since the test source is finite).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        count, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            count += len(pdf)
            # floor(x*100 + 0.5): the repo-wide half-up cents rule (see
            # functions/deterministic.py) — pandas .round() would round
            # half-to-even and diverge from the batch oracle at .xx5.
            cents += int(
                np.floor(pdf["value"] * 100 + 0.5).astype("int64").sum()
            )
        state.update((count, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [count], "value_cents": [cents]}
        )

    ev = read_events_stream(spark, sf_dir).select("user_id", "value")
    return ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, value_cents bigint",
        stateStructType="count bigint, cents bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream join: clicks joined to the purchases of
    the same user within the following hour.

    Both sides carry watermarks and the join has a bounded time range —
    the two conditions Structured Streaming needs to evict join state.
    Without them, state grows without bound at 100 TB/day rates.
    """
    ev = read_events_stream(spark, sf_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("c_user", "click_id", "click_ts", "purchase_id", "purchase_ts", "purchase_value")


def streaming_foreach_batch_totals(
    spark: SparkSession, sf_dir: str, out_dir: str, checkpoint_dir: str
):
    """foreachBatch sink: per-micro-batch rollup appended to parquet.

    The escape hatch for sinks Structured Streaming lacks natively
    (JDBC upserts, MERGE into a lakehouse table, multi-table writes):
    each micro-batch arrives as a plain DataFrame plus a monotonically
    increasing batch_id. Restarts replay an incomplete batch under the
    SAME batch_id (tracked in the checkpoint), so a sink that writes
    idempotently per batch_id — as a MERGE keyed on it would — gets
    exactly-once end to end. Value cents are integer half-up
    (floor(x*100+0.5)) per row before summing, so totals are exact in
    any batch split.

    Returns the started query; callers await it (availableNow drains
    the source then stops).
    """
    ev = read_events_stream(spark, sf_dir).select("event_type", "value")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.floor(F.col("value") * 100 + 0.5).cast("bigint")
                ).alias("value_cents"),
            )
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_dir)
        )

    return (
        ev.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of stream_session_windows using the NATIVE
    session_window operator: gap-based windows that merge as events
    arrive, state evicted once the watermark passes a session's close.

    Window bounds follow session_window semantics (end = last event ts
    + gap), so tests align it with the batch lag/cumsum form on the
    shared columns (session start, event count, value sum).
    """
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    return (
        ev.groupBy(
            F.session_window("ts", f"{int(SESSION_GAP_SECONDS)} seconds").alias("w"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_events"), fsum("value").alias("session_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end_plus_gap"),
            "n_events",
            "session_value",
        )
    )


def streaming_stateful_user_counts_tws(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The :func:`streaming_stateful_user_counts` semantics on Spark 4's
    transformWithStateInPandas (the successor to applyInPandasWithState):
    state lives in named, typed handles (here one ValueState) managed by
    a StatefulProcessor, which adds TTL, timers, and multiple state
    variables per key — and runs on the RocksDB state store provider
    unchanged. Same contract as the older twin: emits the running
    per-user (count, value-cents) after every batch.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "count BIGINT, cents BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            count, cents = (
                self._state.get() if self._state.exists() else (0, 0)
            )
            import numpy as np

            for pdf in rows:
                count += len(pdf)
                # same half-up cents rule as the applyInPandasWithState
                # twin (functions/deterministic.py)
                cents += int(
                    np.floor(pdf["value"] * 100 + 0.5).astype("int64").sum()
                )
            self._state.update((count, cents))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [count],
                    "value_cents": [cents],
                }
            )

        def close(self) -> None:
            pass

    # transformWithState runs only on the RocksDB state store provider
    # (the scale-path provider anyway: state spills to disk instead of
    # living on the JVM heap — see SCALE.md).
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    ev = read_events_stream(spark, sf_dir).select("user_id", "value")
    return ev.groupBy("user_id").transformWithStateInPandas(
        RunningCounts(),
        outputStructType="user_id bigint, n_events bigint, value_cents bigint",
        outputMode="Update",
        timeMode="None",
    )


def stream_documents(spark: SparkSession, docs_dir: str) -> DataFrame:
    """readStream over a directory of documents parquet part-files,
    one file per micro-batch, with the schema read from the tranche
    files' footers."""
    schema = spark.read.parquet(docs_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(docs_dir)
    )


def streaming_corpus_report_incremental(
    spark: SparkSession, docs_dir: str, state_dir: str, checkpoint_dir: str
):
    """Incremental materialized-view maintenance of ``corpus_report``.

    The corpus card's docstring claims "the materialized view you
    would refresh per ingest batch at 100 TB" — this is that refresh.
    Each micro-batch folds its documents into per-(text-hash, lang,
    source) partial aggregates (distinct-text x cell sized, NEVER
    corpus-sized: the raw documents are dropped at the batch
    boundary), appended with the batch_id so a replayed batch is
    identifiable (same idempotency contract as
    streaming_foreach_batch_totals). The full report is then derived
    from the compact state alone by corpus_report_from_state —
    including the corpus-WIDE exact-duplicate counts, because
    per-hash copy totals are recoverable as a sum over the state's
    cells. Exactly the production pattern for keeping a dataset card
    fresh without rescanning the corpus per refresh.
    """
    from p4_mapreduce_spark.operators.pipeline_ops import (
        _REPORT_SHORT_TOKENS,
    )

    docs = stream_documents(spark, docs_dir)
    ws = F.filter(F.split("text", " ", -1), lambda x: x != "")
    enriched = docs.select(
        "lang",
        "source",
        F.md5("text").alias("gh"),
        F.length("text").alias("n_chars"),
        F.size(ws).alias("n_tokens"),
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("gh", "lang", "source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").alias("n_tokens"),
                F.sum("n_chars").alias("n_chars"),
                F.sum(
                    F.when(
                        F.col("n_tokens") < _REPORT_SHORT_TOKENS, 1
                    ).otherwise(0)
                ).alias("n_short_docs"),
            )
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(state_dir)
        )

    return (
        enriched.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_minhash_incremental(
    spark: SparkSession, docs_dir: str, state_dir: str, checkpoint_dir: str
):
    """Streaming steady-state NEAR-dedup: the streaming twin of
    operators.dedup.dedup_minhash_incremental, maintaining the warm
    corpus signature index as a state table instead of re-deriving it.

    Each micro-batch of documents:

    1. collapses to DISTINCT batch texts and computes their MinHash
       band signatures (the collapse-before-pairwise rule, per batch);
    2. band-joins the batch signatures against the ACCUMULATED
       signature state from all prior batches — never batch-vs-batch
       quadratics, never a corpus self-join;
    3. Jaccard-verifies cross candidates, adds same-text matches at
       1.0, and expands rep-level pairs to (new doc, prior doc) pairs
       via the accumulated members table;
    4. appends its own signatures/members (keyed by batch_id) to the
       state and the emitted pairs to ``{state_dir}/pairs``.

    This is the daily-ingest operator running at micro-batch cadence:
    per-batch cost is batch-signatures + one equi-join against the
    index. State lives in plain parquet here (a production deployment
    uses a transactional table format); replayed batches re-append
    identical rows under the same batch_id, and the reader
    (minhash_pairs_from_state) collapses them, so the derived pair set
    is idempotent under crash-replay — the corpus_report_from_state
    contract."""
    import pyspark.sql.functions as F

    from p4_mapreduce_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        melt_bands,
        minhash_signatures,
    )

    docs = stream_documents(spark, docs_dir)
    sigs_path = os.path.join(state_dir, "sigs")
    members_path = os.path.join(state_dir, "members")
    pairs_path = os.path.join(state_dir, "pairs")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        groups = batch_df.groupBy(F.md5("text").alias("gh")).agg(
            F.min("text").alias("rtext")
        )
        sigs_b = minhash_signatures(groups).localCheckpoint()
        members_b = batch_df.select(F.md5("text").alias("gh"), "doc_id")

        prior_sigs = _read_parquet_or_none(spark, sigs_path)
        if prior_sigs is not None:
            new_b = melt_bands(sigs_b).select(
                F.col("gh").alias("gh_n"), "band_id", "sig"
            )
            old_b = melt_bands(prior_sigs).select(
                F.col("gh").alias("gh_e"), "band_id", "sig"
            )
            cand = (
                new_b.join(old_b, ["band_id", "sig"])
                .where(F.col("gh_n") != F.col("gh_e"))
                .select("gh_n", "gh_e")
                .distinct()
            )
            x = sigs_b.select(
                F.col("gh").alias("gh_n"), F.col("shingles").alias("sh_n")
            )
            y = prior_sigs.select(
                F.col("gh").alias("gh_e"), F.col("shingles").alias("sh_e")
            ).distinct()
            inter = F.size(F.array_intersect("sh_n", "sh_e"))
            union = F.size(F.array_distinct(F.concat("sh_n", "sh_e")))
            jaccard = inter / F.greatest(union, F.lit(1))
            cross = (
                cand.join(x, "gh_n")
                .join(y, "gh_e")
                .select("gh_n", "gh_e", jaccard.alias("jaccard"))
                .where(F.col("jaccard") >= JACCARD_THRESHOLD)
            )
            same = (
                sigs_b.select("gh")
                .join(prior_sigs.select("gh"), "gh", "left_semi")
                .select(
                    F.col("gh").alias("gh_n"),
                    F.col("gh").alias("gh_e"),
                    F.lit(1.0).alias("jaccard"),
                )
            )
            rep_pairs = cross.unionByName(same)
            prior_members = spark.read.parquet(members_path)
            out = (
                rep_pairs.join(
                    members_b.select(
                        F.col("gh").alias("gh_n"),
                        F.col("doc_id").alias("doc_id_new"),
                    ),
                    "gh_n",
                )
                .join(
                    prior_members.select(
                        F.col("gh").alias("gh_e"),
                        F.col("doc_id").alias("doc_id_existing"),
                    ),
                    "gh_e",
                )
                .select("doc_id_new", "doc_id_existing", "jaccard")
                .withColumn("batch_id", F.lit(batch_id))
            )
            out.write.mode("append").parquet(pairs_path)
        sigs_b.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(sigs_path)
        members_b.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(members_path)

    return (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _read_parquet_or_none(spark: SparkSession, path: str):
    try:
        return spark.read.parquet(path)
    except Exception:
        return None  # first batch: no state yet


def streaming_ann_incremental(
    spark: SparkSession, emb_dir: str, state_dir: str, checkpoint_dir: str
):
    """Streaming incremental ANN index maintenance: the embedding twin
    of streaming_minhash_incremental, and the micro-batch form of
    operators.similarity.ann_lsh_incremental (r5 verdict ask #5).

    Each micro-batch of embedding rows:

    1. computes the two 4-bit sign-sketch bands per vector (the same
       seeded hyperplanes as every batch LSH query — shared
       ``ann_band_col``, so batch and streaming signatures can never
       drift);
    2. band-joins the batch signatures against the ACCUMULATED bucket
       index from all prior batches — 8-bit-wide keys only, never a
       corpus self-join, never batch-vs-batch quadratics;
    3. exact-cosine-verifies only the surviving cross-batch
       candidates (output-bound joins back to the batch rows and the
       index's stored vectors) at the shared ANN_INCR_TAU;
    4. appends its own (vec_id, embedding, band0, band1) rows to the
       index and the emitted pairs to ``{state_dir}/pairs``, both
       keyed by batch_id — replayed batches append identical rows and
       the reader (ann_pairs_from_state) collapses them, the
       corpus_report_from_state idempotency contract. Crash-replay
       window closed (r6 advice): a replay that died AFTER the index
       append but BEFORE the checkpoint commit would otherwise
       band-join an index already containing its own rows, emitting
       self-pairs and intra-batch pairs a clean run never produces —
       so the prior index is filtered to ``batch_id < current`` before
       the join (the minhash twin's gh_n != gh_e guard, made explicit
       here with a vec_id inequality belt as well).

    Per-batch cost is batch-signatures + one equi-join per band
    against the warm index + verify on survivors: batch-proportional,
    the steady-state daily op of a growing vector corpus."""
    from p4_mapreduce_spark.operators.similarity import (
        ANN_INCR_TAU,
        ann_band_col,
        arrow_pair_cosine,
    )

    schema = spark.read.parquet(emb_dir).schema
    emb_stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(emb_dir)
    )
    index_path = os.path.join(state_dir, "index")
    pairs_path = os.path.join(state_dir, "pairs")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        bnd_b = batch_df.select(
            "vec_id",
            "embedding",
            ann_band_col(F.col("embedding"), 0).alias("band0"),
            ann_band_col(F.col("embedding"), 1).alias("band1"),
        ).localCheckpoint()  # batch-bounded, never corpus-sized
        prior = _read_parquet_or_none(spark, index_path)
        if prior is not None:
            # Crash-replay guard: drop any rows this same batch already
            # appended before an uncommitted checkpoint died.
            prior = prior.where(F.col("batch_id") < F.lit(int(batch_id)))
            melt = lambda df, idc: df.select(  # noqa: E731
                F.col("vec_id").alias(idc),
                F.posexplode(F.array("band0", "band1")).alias(
                    "band_id", "sig"
                ),
            )
            cand = (
                melt(bnd_b, "vec_id_new")
                .join(melt(prior, "vec_id_existing"), ["band_id", "sig"])
                .where(F.col("vec_id_new") != F.col("vec_id_existing"))
                .select("vec_id_new", "vec_id_existing")
                .distinct()
            )
            x = bnd_b.select(
                F.col("vec_id").alias("vec_id_new"),
                F.col("embedding").alias("ex"),
            )
            y = prior.select(
                F.col("vec_id").alias("vec_id_existing"),
                F.col("embedding").alias("ey"),
            ).distinct()
            out = (
                arrow_pair_cosine(
                    cand.join(x, "vec_id_new")
                    .join(y, "vec_id_existing")
                    .select("vec_id_new", "vec_id_existing", "ex", "ey"),
                    "ex",
                    "ey",
                )
                .where(F.col("cosine_sim") >= ANN_INCR_TAU)
                .withColumn("batch_id", F.lit(batch_id))
            )
            out.write.mode("append").parquet(pairs_path)
        bnd_b.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(index_path)

    return (
        emb_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_vocab_novelty(
    spark: SparkSession, docs_dir: str, state_dir: str, checkpoint_dir: str
):
    """Streaming twin of heaps_law_vocab_growth: vocabulary novelty
    maintained per REAL ingest micro-batch instead of a synthetic
    doc_id split. Each batch explodes to its distinct words, anti-joins
    the ACCUMULATED vocabulary state (word + first-seen batch_id — a
    vocabulary-sized frame, never the corpus), counts the never-seen
    words, and appends its own novel words plus a 1-row stats record
    (batch_id, n_tokens, n_new_words). This is the Heaps-law curve a
    crawl pipeline maintains as tranches ARRIVE — the number that says
    in-flight whether the next crawl still adds lexical diversity.
    Crash-replay idempotent under the corpus_report_from_state
    contract: a replayed batch re-appends identical rows keyed by
    batch_id; the readers collapse duplicates (vocab by min batch_id
    per word, stats by first() per batch_id)."""
    docs = stream_documents(spark, docs_dir)
    vocab_path = os.path.join(state_dir, "vocab")
    stats_path = os.path.join(state_dir, "stats")
    members_path = os.path.join(state_dir, "members")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        words = batch_df.select(
            F.explode(
                F.filter(F.split("text", " ", -1), lambda x: x != "")
            ).alias("word")
        )
        n_tokens = words.count()
        distinct_b = words.distinct()
        prior = _read_parquet_or_none(spark, vocab_path)
        if prior is not None:
            # Crash-replay guard (r6 advice): a replay after the vocab
            # append but before checkpoint commit would otherwise see
            # its own words in prior state and report n_new_words=0.
            fresh = distinct_b.join(
                prior.where(F.col("batch_id") < F.lit(int(batch_id)))
                .select("word")
                .distinct(),
                "word",
                "left_anti",
            )
        else:
            fresh = distinct_b
        fresh = fresh.localCheckpoint()  # vocabulary-bounded
        n_new = fresh.count()
        spark.createDataFrame(
            [(int(batch_id), int(n_tokens), int(n_new))],
            "batch_id bigint, n_tokens bigint, n_new_words bigint",
        ).write.mode("append").parquet(stats_path)
        fresh.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(vocab_path)
        batch_df.select("doc_id").withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("append").parquet(members_path)

    return (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_decontaminate(
    spark: SparkSession,
    test_docs_dir: str,
    train_sf_dir: str,
    state_dir: str,
    checkpoint_dir: str,
):
    """Streaming twin of operators.dedup.decontaminate_test_split (r6
    verdict ask #7): new BENCHMARK/TEST documents arrive in
    micro-batches and are verified against a FIXED train-split MinHash
    index — the steady-state posture of eval-set governance, where the
    training corpus is warm and each newly added benchmark document
    needs a contamination verdict before it may be trusted.

    The train index (distinct-text signatures + per-text train member
    counts) is built ONCE, before the stream starts, and persisted to
    ``{state_dir}/train_index`` — per batch cost is batch signatures +
    one band equi-join against the warm index, exactly
    streaming_minhash_incremental's shape with the index frozen. Each
    micro-batch:

    1. collapses to DISTINCT batch texts and computes band signatures
       (the collapse-before-pairwise rule);
    2. band-joins those against the train index (16-bit-wide keys,
       never a corpus join), Jaccard-verifies the collided pairs, and
       adds identical-text leakage via a semi-join at 1.0 — zero
       pairwise work for exact copies;
    3. rolls up per test document by summing matched texts' TRAIN
       MEMBER COUNTS (doc-level match counts without doc pairs) and
       appends one verdict row per batch document, keyed by batch_id.

    Crash-replay idempotent by construction: the train index is
    static, so a replayed batch recomputes byte-identical verdicts
    under the same batch_id and the reader
    (decontaminate_from_state) collapses duplicates per doc_id."""
    from p4_mapreduce_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        melt_bands,
        minhash_signatures,
    )
    from p4_mapreduce_spark.sources.tables import load

    train_path = os.path.join(state_dir, "train_index")
    verdicts_path = os.path.join(state_dir, "verdicts")

    if _read_parquet_or_none(spark, train_path) is None:
        train_docs = load(spark, train_sf_dir, "documents").where(
            F.col("doc_id") % 10 < 8
        )
        tgroups = train_docs.groupBy(F.md5("text").alias("gh")).agg(
            F.min("text").alias("rtext"),
            F.count(F.lit(1)).alias("n_tr"),
        )
        index = minhash_signatures(tgroups.select("gh", "rtext")).join(
            tgroups.select("gh", "n_tr"), "gh"
        )
        index.write.mode("overwrite").parquet(train_path)

    docs = stream_documents(spark, test_docs_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        groups_b = batch_df.groupBy(F.md5("text").alias("gh")).agg(
            F.min("text").alias("rtext")
        )
        sigs_b = minhash_signatures(groups_b).localCheckpoint()
        train = spark.read.parquet(train_path)
        new_b = melt_bands(sigs_b).select(
            F.col("gh").alias("gh_t"), "band_id", "sig"
        )
        tr_b = melt_bands(train).select(
            F.col("gh").alias("gh_r"), "band_id", "sig"
        )
        cand = (
            new_b.join(tr_b, ["band_id", "sig"])
            .where(F.col("gh_t") != F.col("gh_r"))
            .select("gh_t", "gh_r")
            .distinct()
        )
        x = sigs_b.select(
            F.col("gh").alias("gh_t"), F.col("shingles").alias("sh_t")
        )
        y = train.select(
            F.col("gh").alias("gh_r"), F.col("shingles").alias("sh_r")
        )
        inter = F.size(F.array_intersect("sh_t", "sh_r"))
        union = F.size(F.array_distinct(F.concat("sh_t", "sh_r")))
        jaccard = inter / F.greatest(union, F.lit(1))
        cross = (
            cand.join(x, "gh_t")
            .join(y, "gh_r")
            .select("gh_t", "gh_r", jaccard.alias("jaccard"))
            .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        )
        same = (
            sigs_b.select("gh")
            .join(train.select("gh"), "gh", "left_semi")
            .select(
                F.col("gh").alias("gh_t"),
                F.col("gh").alias("gh_r"),
                F.lit(1.0).alias("jaccard"),
            )
        )
        per_text = (
            cross.unionByName(same)
            .join(train.select(F.col("gh").alias("gh_r"), "n_tr"), "gh_r")
            .groupBy("gh_t")
            .agg(
                F.sum("n_tr").cast("bigint").alias("n_train_matches"),
                F.max("jaccard").alias("max_jaccard"),
            )
        )
        verdict = (
            batch_df.select(F.md5("text").alias("gh"), "doc_id")
            .join(
                per_text.select(
                    F.col("gh_t").alias("gh"),
                    "n_train_matches",
                    "max_jaccard",
                ),
                "gh",
                "left",
            )
            .select(
                "doc_id",
                F.col("n_train_matches")
                .isNotNull()
                .alias("is_contaminated"),
                F.coalesce(F.col("n_train_matches"), F.lit(0))
                .cast("bigint")
                .alias("n_train_matches"),
                "max_jaccard",
                F.lit(batch_id).alias("batch_id"),
            )
        )
        verdict.write.mode("append").parquet(verdicts_path)

    return (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def decontaminate_from_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Per-test-document contamination verdicts accumulated by
    streaming_decontaminate. Replay-safe: the train index is static,
    so duplicate verdict rows for a doc_id are byte-identical —
    first() per doc_id restores exactly-once semantics."""
    return (
        spark.read.parquet(os.path.join(state_dir, "verdicts"))
        .groupBy("doc_id")
        .agg(
            F.first("is_contaminated").alias("is_contaminated"),
            F.first("n_train_matches").alias("n_train_matches"),
            F.first("max_jaccard").alias("max_jaccard"),
        )
    )


def vocab_novelty_from_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Per-batch novelty curve derived from streaming_vocab_novelty's
    state: (batch_id, n_tokens, n_new_words, cum_vocab). Replay-safe
    by census, not by trusting the stats rows (r6 advice): n_new_words
    is RECOUNTED from the vocab table as the number of words whose
    min(batch_id) is that batch, so a conflicting stats row written in
    a crash-replay window can never make the curve report 0 new words
    for a batch that did introduce vocabulary. n_tokens still comes
    from the stats rows (the batch content is deterministic per
    batch_id, so replayed rows carry the identical token count)."""
    stats = (
        spark.read.parquet(os.path.join(state_dir, "stats"))
        .groupBy("batch_id")
        .agg(F.first("n_tokens").alias("n_tokens"))
    )
    census = (
        spark.read.parquet(os.path.join(state_dir, "vocab"))
        .groupBy("word")
        .agg(F.min("batch_id").alias("batch_id"))
        .groupBy("batch_id")
        .agg(F.count("*").alias("n_new_words"))
    )
    merged = stats.join(census, "batch_id", "left").select(
        "batch_id",
        "n_tokens",
        F.coalesce(F.col("n_new_words"), F.lit(0))
        .cast("bigint")
        .alias("n_new_words"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("batch_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return merged.select(
        "batch_id",
        "n_tokens",
        "n_new_words",
        F.sum("n_new_words").over(w).cast("bigint").alias("cum_vocab"),
    )


def ann_pairs_from_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """All cross-batch ANN near-dup pairs accumulated by
    streaming_ann_incremental. Replay-safe: a re-run batch appends
    byte-identical rows under the same batch_id, so distinct()
    restores exactly-once semantics."""
    return (
        spark.read.parquet(os.path.join(state_dir, "pairs"))
        .select("vec_id_new", "vec_id_existing", "cosine_sim")
        .distinct()
    )


def minhash_pairs_from_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """All cross-batch near-dup pairs accumulated by
    streaming_minhash_incremental. Replay-safe: a re-run batch appends
    byte-identical rows under the same batch_id, so distinct() restores
    exactly-once semantics."""
    return (
        spark.read.parquet(os.path.join(state_dir, "pairs"))
        .select("doc_id_new", "doc_id_existing", "jaccard")
        .distinct()
    )


def corpus_report_from_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Derive the full corpus card from the incremental state table —
    no access to the raw corpus. Matches operators.pipeline_ops.
    corpus_report column-for-column.

    Replay-safe: foreachBatch re-runs an interrupted batch under the
    SAME batch_id after a crash between the parquet append and the
    checkpoint commit, so the state table may hold a batch's cells
    twice. The file-source batch content is deterministic per batch_id,
    so replayed rows are identical per (batch_id, gh, lang, source) —
    the reader collapses them with first() before summing across
    batches, making the derived report idempotent under replay."""
    state = spark.read.parquet(state_dir)
    once = state.groupBy("batch_id", "gh", "lang", "source").agg(
        F.first("n_docs").alias("n_docs"),
        F.first("n_tokens").alias("n_tokens"),
        F.first("n_chars").alias("n_chars"),
        F.first("n_short_docs").alias("n_short_docs"),
    )
    cell = once.groupBy("gh", "lang", "source").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.sum("n_short_docs").alias("n_short_docs"),
    )
    copies = cell.groupBy("gh").agg(F.sum("n_docs").alias("copies"))
    return (
        cell.join(copies, "gh")
        .groupBy("lang", "source")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_chars").alias("n_chars"),
            F.sum(
                F.when(F.col("copies") >= 2, F.col("n_docs")).otherwise(0)
            ).alias("n_exact_dup_docs"),
            F.sum("n_short_docs").alias("n_short_docs"),
            F.countDistinct("gh").alias("n_distinct_texts"),
        )
    )


def streaming_quality_funnel_incremental(
    spark: SparkSession, docs_dir: str, state_dir: str, checkpoint_dir: str
):
    """Incremental maintenance of ``quality_screen_funnel``: every
    micro-batch runs the three per-document screens (the SAME
    ``screen_verdicts_frame`` the batch funnel uses, so the two can
    never disagree) on just its own documents and appends ONE funnel
    row per batch. Valid incrementally because all three screens are
    per-document map functions — verdicts depend on nothing outside
    the doc — so the corpus funnel is the exact sum of batch funnels.
    State grows one row per ingest batch, not per document; replayed
    batches re-append an identical row under the same batch_id and
    the reader collapses them (the module's exactly-once contract)."""
    import pyspark.sql.functions as F

    from p4_mapreduce_spark.operators.text_analysis import (
        screen_verdicts_frame,
    )

    docs = stream_documents(spark, docs_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        v = screen_verdicts_frame(batch_df)
        cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast(  # noqa: E731
            "bigint"
        )
        (
            v.agg(
                F.count(F.lit(1)).alias("n_docs"),
                cnt(F.col("g_keep")).alias("pass_gopher"),
                cnt(F.col("r_keep")).alias("pass_repetition"),
                cnt(F.col("e_keep")).alias("pass_entropy"),
                cnt(
                    F.col("g_keep") & F.col("r_keep") & F.col("e_keep")
                ).alias("pass_all"),
            )
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(state_dir)
        )

    return (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def quality_funnel_from_state(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """Derive the corpus-wide funnel report from the per-batch state
    rows alone — no corpus rescan. Replay-safe: first() per batch_id
    collapses a crash-replayed batch's duplicate row before summing.
    Matches operators.text_analysis.quality_screen_funnel
    column-for-column."""
    import pyspark.sql.functions as F

    state = spark.read.parquet(state_dir)
    once = state.groupBy("batch_id").agg(
        *[
            F.first(c).alias(c)
            for c in (
                "n_docs",
                "pass_gopher",
                "pass_repetition",
                "pass_entropy",
                "pass_all",
            )
        ]
    )
    return once.agg(
        *[
            F.sum(c).cast("bigint").alias(c)
            for c in (
                "n_docs",
                "pass_gopher",
                "pass_repetition",
                "pass_entropy",
                "pass_all",
            )
        ]
    )


def streaming_training_shards(
    spark: SparkSession,
    train_docs_dir: str,
    bench_sf_dir: str,
    state_dir: str,
    checkpoint_dir: str,
):
    """Streaming twin of operators.megapipeline.training_shards_pipeline
    (r7): the corpus -> training-shards pipeline maintained
    INCREMENTALLY as train documents arrive — the form a production
    ingest actually runs, where yesterday's shards are immutable and
    each new tranche appends its contribution to the manifest.

    The benchmark index (distinct-text MinHash signatures + exact text
    hashes of the held-out doc_id%10>=8 slice) is built ONCE and
    frozen, the streaming_decontaminate posture. Each micro-batch:

    1. exact-dedup with FIRST-SEEN-WINS semantics: batch texts
       anti-join the accumulated members state (filtered to batch_id <
       current — the crash-replay guard), and within the batch the
       lowest doc_id keeps. Under doc_id-ordered arrival this equals
       the batch pipeline's global min-doc_id keeper exactly (pinned
       in tests); under arbitrary arrival it is the standard
       incremental contract — the first occurrence keeps, later
       smaller ids do not retroactively rewrite published shards.
    2. quality gate (repetition + entropy screens) through the doc_id
       aggregation BARRIER (megapipeline's pushdown lesson applies
       identically per batch);
    3. decontamination against the frozen benchmark index: band
       equi-join over the batch's distinct texts + Jaccard verify +
       exact-hash match;
    4. chunking + shard assignment of the surviving keepers, reduced
       to a PER-BATCH partial manifest row per shard (doc/chunk/token
       counts + the order-independent md5-word checksum — all
       integer-additive, so per-batch partials sum exactly to the
       batch pipeline's manifest).

    State: ``members`` (gh, doc_id, batch_id) and ``manifest``
    (shard, batch_id, partials). Crash-replay idempotent: a replayed
    batch recomputes byte-identical rows under its batch_id (the
    members anti-join ignores same-batch appends) and the reader
    collapses duplicates per (shard, batch_id) before summing."""
    from p4_mapreduce_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        melt_bands,
        minhash_signatures,
    )
    from p4_mapreduce_spark.operators.megapipeline import (
        _N_SHARDS,
        _hex_word_col,
    )
    from p4_mapreduce_spark.operators.pipeline_ops import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
    )
    from p4_mapreduce_spark.operators.text_analysis import (
        screen_verdicts_frame,
    )
    from p4_mapreduce_spark.sources.tables import load

    bench_path = os.path.join(state_dir, "bench_index")
    members_path = os.path.join(state_dir, "members")
    manifest_path = os.path.join(state_dir, "manifest")

    if _read_parquet_or_none(spark, bench_path) is None:
        bench = load(spark, bench_sf_dir, "documents").where(
            F.col("doc_id") % 10 >= 8
        )
        bgroups = bench.groupBy(F.md5("text").alias("gh")).agg(
            F.min("text").alias("rtext")
        )
        # exact-hash arm: every distinct benchmark text hash (the sigs
        # table excludes <3-token texts, the hash set must not).
        # bench_gh is written FIRST and bench_index (the existence
        # guard above) LAST — commit-marker-last ordering, so a crash
        # between the two writes re-runs the whole rebuild on restart
        # instead of leaving a state dir whose micro-batches all fail
        # reading a missing bench_gh.
        bgroups.select("gh").write.mode("overwrite").parquet(
            os.path.join(state_dir, "bench_gh")
        )
        minhash_signatures(bgroups).write.mode("overwrite").parquet(
            bench_path
        )

    docs = stream_documents(spark, train_docs_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        members_b = batch_df.select(F.md5("text").alias("gh"), "doc_id")
        prior = _read_parquet_or_none(spark, members_path)
        fresh_gh = members_b.select("gh").distinct()
        if prior is not None:
            fresh_gh = fresh_gh.join(
                prior.where(F.col("batch_id") < F.lit(int(batch_id)))
                .select("gh")
                .distinct(),
                "gh",
                "left_anti",
            )
        keeper_b = (
            members_b.join(fresh_gh, "gh", "left_semi")
            .groupBy("gh")
            .agg(F.min("doc_id").alias("doc_id"))
        )

        qual = (
            screen_verdicts_frame(batch_df)
            .groupBy("doc_id")
            .agg(
                F.first("r_keep").alias("r_keep"),
                F.first("e_keep").alias("e_keep"),
            )
            .where(F.col("r_keep") & F.col("e_keep"))
            .select("doc_id")
        )

        groups_b = batch_df.groupBy(F.md5("text").alias("gh")).agg(
            F.min("text").alias("rtext")
        )
        sigs_b = minhash_signatures(groups_b).localCheckpoint()
        bench_sigs = spark.read.parquet(bench_path)
        cand = (
            melt_bands(sigs_b)
            .select(F.col("gh").alias("gh_tr"), "band_id", "sig")
            .join(
                melt_bands(bench_sigs).select(
                    F.col("gh").alias("gh_te"), "band_id", "sig"
                ),
                ["band_id", "sig"],
            )
            .where(F.col("gh_tr") != F.col("gh_te"))
            .select("gh_tr", "gh_te")
            .distinct()
        )
        x = sigs_b.select(
            F.col("gh").alias("gh_tr"), F.col("shingles").alias("sh_t")
        )
        y = bench_sigs.select(
            F.col("gh").alias("gh_te"), F.col("shingles").alias("sh_e")
        )
        inter = F.size(F.array_intersect("sh_t", "sh_e"))
        union = F.size(F.array_distinct(F.concat("sh_t", "sh_e")))
        near_gh = (
            cand.join(x, "gh_tr")
            .join(y, "gh_te")
            .where(
                inter / F.greatest(union, F.lit(1))
                >= F.lit(JACCARD_THRESHOLD)
            )
            .select(F.col("gh_tr").alias("gh"))
            .distinct()
        )
        exact_gh = spark.read.parquet(os.path.join(state_dir, "bench_gh"))
        contaminated = near_gh.unionByName(exact_gh.select("gh")).distinct()

        survivors = (
            keeper_b.join(contaminated, "gh", "left_anti")
            .join(qual, "doc_id")
            .join(batch_df.select("doc_id", "text"), "doc_id")
            .select("doc_id", "text")
        )
        toks = survivors.select(
            "doc_id", F.split("text", " ", -1).alias("t")
        )
        starts = F.sequence(
            F.lit(1), F.greatest(F.size("t"), F.lit(1)), F.lit(CHUNK_STRIDE)
        )
        chunks = (
            toks.select("doc_id", "t", F.explode(starts).alias("s"))
            .where(F.size("t") >= F.col("s"))
            .select(
                "doc_id",
                ((F.col("s") - 1) / CHUNK_STRIDE)
                .cast("int")
                .alias("chunk_idx"),
                F.array_join(
                    F.slice("t", F.col("s"), CHUNK_TOKENS), " "
                ).alias("chunk_text"),
                F.least(F.lit(CHUNK_TOKENS), F.size("t") - F.col("s") + 1)
                .cast("int")
                .alias("n_tokens"),
            )
        )
        shard_key = F.concat_ws(
            ":",
            F.col("doc_id").cast("string"),
            F.col("chunk_idx").cast("string"),
        )
        sharded = chunks.select(
            (_hex_word_col(shard_key) % _N_SHARDS)
            .cast("int")
            .alias("shard"),
            "doc_id",
            "n_tokens",
            _hex_word_col(F.col("chunk_text")).alias("ck"),
        )
        man_b = sharded.groupBy("shard").agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("ck").cast("bigint").alias("checksum"),
        ).withColumn("batch_id", F.lit(int(batch_id)))
        man_b.write.mode("append").parquet(manifest_path)
        members_b.withColumn("batch_id", F.lit(int(batch_id))).write.mode(
            "append"
        ).parquet(members_path)

    return (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def shards_manifest_from_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The cumulative shard manifest derived from
    streaming_training_shards' per-batch partials. Replay-safe:
    duplicates collapse by first() per (shard, batch_id) — a replayed
    batch recomputes byte-identical partials — and every column is
    integer-additive across batches (docs never split across batches,
    so per-batch distinct-doc counts sum exactly)."""
    m = (
        spark.read.parquet(os.path.join(state_dir, "manifest"))
        .groupBy("shard", "batch_id")
        .agg(
            F.first("n_docs").alias("n_docs"),
            F.first("n_chunks").alias("n_chunks"),
            F.first("total_tokens").alias("total_tokens"),
            F.first("checksum").alias("checksum"),
        )
    )
    return m.groupBy("shard").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("n_chunks").cast("bigint").alias("n_chunks"),
        F.sum("total_tokens").cast("bigint").alias("total_tokens"),
        F.sum("checksum").cast("bigint").alias("checksum"),
    )


def streaming_phash_neardup(
    spark: SparkSession, docs_dir: str, state_dir: str, checkpoint_dir: str
):
    """Streaming twin of operators.multimodal.multimodal_phash_neardup
    (r8, the r7 verdict's ask #7): image assets arrive in micro-batches
    and each batch's perceptual hashes band-join the ACCUMULATED
    distinct-hash index — the frozen-index posture of
    streaming_decontaminate applied to the image modality, where the
    image corpus is warm and each newly ingested image needs its
    Hamming-near neighbors before it lands in the training set.

    Each micro-batch:

    1. builds the asset payloads and runs the REAL codec round-trip
       dHash (the shared ``_decode_hash`` kernel, so
       batch and streaming hashes can never drift), collapsing to
       DISTINCT batch hashes (the collapse rule at the hash level);
    2. keeps only hashes NEVER SEEN in prior batches (anti-join
       against the index filtered to ``batch_id < current`` — the
       crash-replay guard: a replay that appended its hashes before
       the checkpoint commit died must not treat its own rows as
       prior corpus), so a re-ingested identical image emits nothing
       — the first-seen-batch contract the test pins;
    3. band-joins the fresh hashes against the prior index
       (four 16-bit bands, pigeonhole catches Hamming <= 3
       exactly), verifies exact Hamming via
       bit_count(xor) on the row bytes riding both sides, and appends
       qualifying (phash_new, phash_existing, hamming) rows keyed by
       batch_id;
    4. appends its fresh hashes (+ row bytes) to the index.

    Per-batch cost: batch decode+hash (Arrow-batched map) + one
    16-bit-key equi-join per band against the warm index + verify on
    collisions — batch-proportional, never a corpus self-join.
    Replay-idempotent: a replayed batch recomputes byte-identical
    rows under its batch_id and the readers collapse duplicates."""
    from p4_mapreduce_spark.operators.multimodal import (
        _DH_ROWS,
        _PH_BAND_HEX,
        _PH_BANDS,
        _PH_HAM_MAX,
        PHASH_HASH_SCHEMA,
        _decode_hash,
    )

    docs = stream_documents(spark, docs_dir)
    index_path = os.path.join(state_dir, "phash_index")
    pairs_path = os.path.join(state_dir, "phash_pairs")
    rbs = [f"rb{r}" for r in range(_DH_ROWS)]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        assets = batch_df.where(F.length("text") > 0).select(
            "doc_id", F.encode("text", "utf-8").alias("payload")
        )
        # r14: the shared kernel emits the dHash directly (see
        # _decode_hash) — same hashes as the batch op by construction
        hashed_b = (
            assets.mapInPandas(_decode_hash, schema=PHASH_HASH_SCHEMA)
            .groupBy("phash", *rbs)
            .agg(F.min("doc_id").alias("min_doc_id"))
            .localCheckpoint()  # batch-bounded, never corpus-sized
        )
        prior = _read_parquet_or_none(spark, index_path)
        if prior is not None:
            # crash-replay guard + first-seen contract: only hashes
            # never seen in PRIOR batches join the index
            prior = prior.where(F.col("batch_id") < F.lit(int(batch_id)))
            fresh = hashed_b.join(
                prior.select("phash").distinct(), "phash", "left_anti"
            ).localCheckpoint()  # batch-bounded
            bands = lambda df, tag: df.select(  # noqa: E731
                F.col("phash").alias(f"phash_{tag}"),
                *[F.col(c).alias(f"{tag}_{c}") for c in rbs],
                F.posexplode(
                    F.array(
                        *[
                            F.substring(
                                "phash", b * _PH_BAND_HEX + 1, _PH_BAND_HEX
                            )
                            for b in range(_PH_BANDS)
                        ]
                    )
                ).alias("band_id", "bv"),
            )
            ham = sum(
                F.bit_count(
                    F.col(f"n_{c}").bitwiseXOR(F.col(f"e_{c}"))
                )
                for c in rbs
            ).cast("int")
            out = (
                bands(fresh, "n")
                .join(
                    bands(prior.select("phash", *rbs).distinct(), "e"),
                    ["band_id", "bv"],
                )
                .select("phash_n", "phash_e", ham.alias("hamming"))
                .distinct()
                .where(F.col("hamming") <= _PH_HAM_MAX)
                .select(
                    F.col("phash_n").alias("phash_new"),
                    F.col("phash_e").alias("phash_existing"),
                    "hamming",
                )
                .withColumn("batch_id", F.lit(batch_id))
            )
            out.write.mode("append").parquet(pairs_path)
        else:
            fresh = hashed_b
        fresh.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(index_path)

    return (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def phash_pairs_from_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """All cross-batch perceptual near-dup hash pairs accumulated by
    streaming_phash_neardup. Replay-safe: a re-run batch appends
    byte-identical rows under the same batch_id, so distinct()
    restores exactly-once semantics. A single-batch (or empty) stream
    never creates the pairs path — return an empty frame, not an
    AnalysisException."""
    pairs = _read_parquet_or_none(
        spark, os.path.join(state_dir, "phash_pairs")
    )
    if pairs is None:
        return spark.createDataFrame(
            [], "phash_new string, phash_existing string, hamming int"
        )
    return pairs.select("phash_new", "phash_existing", "hamming").distinct()


def streaming_sequence_packing(
    spark: SparkSession, docs_dir: str, state_dir: str, checkpoint_dir: str
):
    """Streaming twin of operators.megapipeline.sequence_packing_stats
    (r8): chunks arrive in micro-batches and each shard's next-fit
    packing CONTINUES from its carried (bin_id, fill) state — the
    incremental form of the training loader's packing step, where a
    resumable run must keep filling the bin it left open rather than
    re-packing the epoch.

    Per micro-batch:

    1. chunks the batch documents with the shared window arithmetic
       and assigns shards with the SAME integer ladder as the batch
       query, applied to the epoch corpus ONCE at stream start (a
       real loader fixes its stream count per epoch; recomputing the
       ladder mid-epoch would reshuffle streams);
    2. joins each shard's carried state (latest batch's bin_id /
       fill / cumulative counts, filtered to ``batch_id < current`` —
       the crash-replay guard) onto the batch chunks — a
       shard-count-sized broadcast;
    3. packs each shard's chunk stream in (doc_id, chunk_idx) order
       inside one applyInPandas group, STARTING from the carried
       fill, and appends one cumulative state row per touched shard
       keyed by batch_id.

    Under in-order arrival (ascending doc_id tranches — the loader
    contract) the final per-shard state equals the batch query's
    one-shot packing exactly, which the test pins. Replay-idempotent:
    a replayed batch recomputes byte-identical state rows under its
    batch_id and the reader collapses duplicates."""
    from p4_mapreduce_spark.operators.megapipeline import (
        _PACK_CAP,
        _hex_word_col,
        _pack_n_shards,
    )
    from p4_mapreduce_spark.operators.pipeline_ops import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
    )

    state_path = os.path.join(state_dir, "pack_state")

    def batch_chunks(df: DataFrame) -> DataFrame:
        toks = df.select("doc_id", F.split("text", " ", -1).alias("t"))
        starts = F.sequence(
            F.lit(1), F.greatest(F.size("t"), F.lit(1)), F.lit(CHUNK_STRIDE)
        )
        return (
            toks.select("doc_id", "t", F.explode(starts).alias("s"))
            .where(F.size("t") >= F.col("s"))
            .select(
                "doc_id",
                ((F.col("s") - 1) / CHUNK_STRIDE)
                .cast("int")
                .alias("chunk_idx"),
                F.least(F.lit(CHUNK_TOKENS), F.size("t") - F.col("s") + 1)
                .cast("int")
                .alias("n_tokens"),
            )
        )

    # shard count: the batch ladder applied to the EPOCH corpus, once
    n_shards = _pack_n_shards(
        batch_chunks(spark.read.parquet(docs_dir)).count()
    )

    docs = stream_documents(spark, docs_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        shard_key = F.concat_ws(
            ":",
            F.col("doc_id").cast("string"),
            F.col("chunk_idx").cast("string"),
        )
        sharded = batch_chunks(batch_df).select(
            (_hex_word_col(shard_key) % n_shards).cast("int").alias("shard"),
            "doc_id",
            "chunk_idx",
            "n_tokens",
        )
        prior = _read_parquet_or_none(spark, state_path)
        if prior is not None:
            latest = (
                prior.where(F.col("batch_id") < F.lit(int(batch_id)))
                .groupBy("shard")
                .agg(
                    F.max(
                        F.struct(
                            "batch_id",
                            "bin_id",
                            "fill",
                            "n_chunks",
                            "total_tokens",
                        )
                    ).alias("s")
                )
                .select(
                    "shard",
                    F.col("s.bin_id").alias("p_bin"),
                    F.col("s.fill").alias("p_fill"),
                    F.col("s.n_chunks").alias("p_chunks"),
                    F.col("s.total_tokens").alias("p_total"),
                )
            )
            sharded = sharded.join(F.broadcast(latest), "shard", "left")
        else:
            sharded = (
                sharded.withColumn("p_bin", F.lit(None).cast("bigint"))
                .withColumn("p_fill", F.lit(None).cast("bigint"))
                .withColumn("p_chunks", F.lit(None).cast("bigint"))
                .withColumn("p_total", F.lit(None).cast("bigint"))
            )

        cap = _PACK_CAP

        def pack(pdf):
            import pandas as pd

            pdf = pdf.sort_values(["doc_id", "chunk_idx"])
            shard = int(pdf["shard"].iloc[0])
            p_bin = pdf["p_bin"].iloc[0]
            carried = not pd.isna(p_bin)
            bin_id = int(p_bin) if carried else 0
            fill = int(pdf["p_fill"].iloc[0]) if carried else cap + 1
            n_chunks = int(pdf["p_chunks"].iloc[0]) if carried else 0
            total = int(pdf["p_total"].iloc[0]) if carried else 0
            for t in pdf["n_tokens"]:
                t = int(t)
                if fill + t <= cap:
                    fill += t
                else:
                    bin_id += 1
                    fill = t
                n_chunks += 1
                total += t
            return pd.DataFrame(
                [
                    {
                        "shard": shard,
                        "bin_id": bin_id,
                        "fill": fill,
                        "n_chunks": n_chunks,
                        "total_tokens": total,
                    }
                ]
            )

        out = sharded.groupBy("shard").applyInPandas(
            pack,
            schema="shard int, bin_id bigint, fill bigint, "
            "n_chunks bigint, total_tokens bigint",
        )
        out.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(state_path)

    return (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def packing_from_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Per-shard packing stats derived from streaming_sequence_packing's
    carried state: the LATEST state row per shard is the cumulative
    answer (sequence_packing_stats' columns). Replay-safe: duplicate
    rows per (shard, batch_id) are byte-identical, collapsed by the
    max-struct pick."""
    from p4_mapreduce_spark.operators.megapipeline import _PACK_CAP

    latest = (
        spark.read.parquet(os.path.join(state_dir, "pack_state"))
        .groupBy("shard")
        .agg(
            F.max(
                F.struct(
                    "batch_id", "bin_id", "fill", "n_chunks", "total_tokens"
                )
            ).alias("s")
        )
        .select(
            "shard",
            F.col("s.n_chunks").alias("n_chunks"),
            F.col("s.bin_id").alias("n_bins"),
            F.col("s.total_tokens").alias("total_tokens"),
        )
    )
    return latest.select(
        "shard",
        "n_chunks",
        "n_bins",
        "total_tokens",
        (F.col("n_bins") * _PACK_CAP - F.col("total_tokens"))
        .cast("bigint")
        .alias("padding_tokens"),
        (
            F.col("total_tokens").cast("double")
            / (F.col("n_bins") * _PACK_CAP).cast("double")
        ).alias("fill_rate"),
    )


def streaming_mixture_manifest(
    spark: SparkSession, docs_dir: str, state_dir: str, checkpoint_dir: str
):
    """Streaming twin of operators.pipeline_ops.data_mixture_manifest
    (r9, the r8 verdict's ask #7): documents arrive in micro-batches
    and each batch folds into per-(lang, source, ticket) integer unit
    aggregates — the cheapest possible twin, because membership is a
    pure config-derived hash lottery, so the state is INTEGER-ADDITIVE
    per micro-batch and never stores text.

    Why tickets stay in the state: the final rate_ppm depends on the
    WHOLE epoch's per-language token totals, which no mid-stream batch
    can know — a real loader accumulates the corpus statistics during
    ingest and fixes the mixture at epoch end. Keeping the additive
    (n_docs, n_tokens) cells keyed by the 1e6-valued ticket lets the
    reader apply ANY final rate exactly: state size is bounded by
    cells x 1e6 rows REGARDLESS of corpus size (at 100 TB the ticket
    dimension saturates and batches fold into existing cells), while
    a per-doc catalog would grow forever.

    Per-batch cost: one batch-proportional aggregation, appended with
    batch_id. Replay-idempotent: a replayed batch recomputes
    byte-identical cell rows under its batch_id and the reader
    collapses duplicates (the corpus_report_from_state contract)."""
    from p4_mapreduce_spark.operators.pipeline_ops import mixture_units

    docs = stream_documents(spark, docs_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            mixture_units(batch_df)
            .groupBy("lang", "source", "ticket")
            .agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("n_tokens").alias("n_tokens"),
            )
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(state_dir)
        )

    return (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def mixture_manifest_from_state(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """Derive the data-mixture manifest from the accumulated unit
    state alone — no access to the raw corpus. Matches
    data_mixture_manifest column-for-column (the test pins equality):
    the rate arithmetic is the SAME manifest_from_units kernel the
    batch query runs, fed by summed state cells instead of per-doc
    rows. Replay-safe: duplicated (batch_id, lang, source, ticket)
    rows from a crash-replayed batch collapse with first() before the
    cross-batch sum."""
    from p4_mapreduce_spark.operators.pipeline_ops import (
        manifest_from_units,
    )

    state = spark.read.parquet(state_dir)
    once = state.groupBy("batch_id", "lang", "source", "ticket").agg(
        F.first("n_docs").alias("n_docs"),
        F.first("n_tokens").alias("n_tokens"),
    )
    units = once.groupBy("lang", "source", "ticket").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )
    return manifest_from_units(units)


def streaming_span_cutlist(
    spark: SparkSession, docs_dir: str, state_dir: str, checkpoint_dir: str
):
    """Streaming twin of operators.dedup.dedup_span_cutlist (r9):
    documents arrive in micro-batches and each batch appends its
    stride-1 window hashes (doc_id, pos, wh) to the WINDOW INDEX — the
    distributed analog of maintaining the ExactSubstr suffix-array
    index at ingest. Text is touched exactly once, at ingest; the
    state holds 3 integers per window.

    The cut list itself is derived from the accumulated index by
    span_cutlist_from_state, NOT emitted per batch, because the
    published semantics are corpus-final and non-monotone: a window
    is duplicated when it occurs >= 2 times ANYWHERE, so a batch-3
    arrival can create new duplicated runs inside batch-1 documents —
    no per-batch emission can be both incremental and correct. What
    IS incremental (the expensive part) is the text scan + hashing;
    the refresh runs the text-free half (one count-over-hash shuffle
    + per-doc islands) over the compact index. Replay-idempotent: a
    replayed batch recomputes byte-identical window rows under its
    batch_id and the reader collapses duplicates."""
    from p4_mapreduce_spark.operators.dedup import _span_windows

    docs = stream_documents(spark, docs_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            _span_windows(batch_df)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(state_dir)
        )

    return (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def span_cutlist_from_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Derive the maximal-duplicated-run cut list from the accumulated
    window index alone — no access to the raw corpus. Matches
    dedup_span_cutlist column-for-column (the test pins equality):
    the runs pipeline is the SAME _runs_from_windows kernel the batch
    query runs. Replay-safe: duplicated (batch_id, doc_id, pos) rows
    from a crash-replayed batch collapse with first() before the
    corpus-wide occurrence count."""
    from p4_mapreduce_spark.operators.dedup import _runs_from_windows

    state = spark.read.parquet(state_dir)
    once = state.groupBy("batch_id", "doc_id", "pos").agg(
        F.first("wh").alias("wh")
    )
    return _runs_from_windows(once.select("doc_id", "pos", "wh"))


def streaming_span_surgery(
    spark: SparkSession, docs_dir: str, state_dir: str, checkpoint_dir: str
):
    """Streaming twin of the WHOLE ExactSubstr consumption arc (r10,
    r9 verdict ask #6): per ingest micro-batch, append (a) the
    stride-1 window index (same rows streaming_span_cutlist keeps —
    the expensive text hashing happens exactly once, at ingest) to
    ``state_dir``/windows and (b) one per-doc card (doc_id, n_tokens,
    text) to ``state_dir``/docs. The doc card is what the cut list
    alone cannot reconstruct: the surgery keeper needs each run's
    CONTENT hash, the card needs token counts for runless and
    short-of-L docs, and the apply step needs the tokens it splices —
    so the state is a window index + a document store, the exact pair
    the published surgical-dedup pipeline materializes. Derivation is
    corpus-final via span_surgery_from_state / span_apply_from_state
    (same non-monotone-semantics argument as the cut-list twin);
    replay-idempotent because both tables collapse replayed batch_id
    duplicates before use."""
    from p4_mapreduce_spark.operators.dedup import _span_windows

    docs = stream_documents(spark, docs_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            _span_windows(batch_df)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(f"{state_dir}/windows")
        )
        (
            batch_df.select(
                "doc_id",
                F.size(F.split("text", " ", -1))
                .cast("bigint")
                .alias("n_tokens"),
                "text",
            )
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(f"{state_dir}/docs")
        )

    return (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _span_state_parts(spark: SparkSession, state_dir: str):
    """(docs, runs) reconstructed from the two state tables, replayed
    batches collapsed — the inputs the shared batch kernels consume."""
    from p4_mapreduce_spark.operators.dedup import _runs_from_windows

    w = spark.read.parquet(f"{state_dir}/windows")
    once_w = w.groupBy("batch_id", "doc_id", "pos").agg(
        F.first("wh").alias("wh")
    )
    runs = _runs_from_windows(once_w.select("doc_id", "pos", "wh"))
    d = spark.read.parquet(f"{state_dir}/docs")
    docs = d.groupBy("batch_id", "doc_id").agg(
        F.first("text").alias("text")
    ).select("doc_id", "text").distinct()
    return docs, runs


def span_surgery_from_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Derive the per-doc surgery card from the accumulated state:
    runs from the window index (text never re-hashed stride-1), docs
    from the per-doc cards, keeper + card through the SAME
    _mark_keepers_from/_surgery_card kernels the batch query runs —
    pinned == dedup_span_surgery by test."""
    from p4_mapreduce_spark.operators.dedup import (
        _mark_keepers_from,
        _surgery_card,
    )

    docs, runs = _span_state_parts(spark, state_dir)
    return _surgery_card(_mark_keepers_from(docs, runs))


def span_apply_from_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Derive the REWRITTEN corpus from the accumulated state through
    the same _apply_from_marked kernel as dedup_span_apply — pinned ==
    batch by test."""
    from p4_mapreduce_spark.operators.dedup import (
        _apply_from_marked,
        _mark_keepers_from,
    )

    docs, runs = _span_state_parts(spark, state_dir)
    marked = _mark_keepers_from(docs, runs)
    toks = docs.select("doc_id", F.split("text", " ", -1).alias("t"))
    return _apply_from_marked(marked, toks)


# ---------------------------------------------------------------------------
# r10: incremental interval union (streaming twin of merge_event_intervals)
# ---------------------------------------------------------------------------


def streaming_interval_union(
    spark: SparkSession, events_dir: str, state_dir: str, checkpoint_dir: str
):
    """Streaming twin of operators.analytics.merge_event_intervals:
    the per-user interval union maintained incrementally as event
    tranches ARRIVE in time order — the billing/uptime span rollup a
    pipeline keeps warm instead of recomputing per day.

    State is the pair a resumable union needs (the packing twin's
    open-bin discipline, applied to intervals):

    - ``final``: append-only CLOSED islands. Under in-order arrival a
      user's islands are disjoint and ordered (e_i < s_{i+1} — a later
      island overlapping an earlier one would have merged), so every
      merged island except the user's LAST can never merge again and
      finalizes immediately.
    - ``open``: one row per touched user per batch — the user's last
      island (accumulated n_events), keyed by batch_id; the latest row
      per user is the carry. r11: compacted to latest-row-per-user
      every ``_OPEN_COMPACT_EVERY`` batches (write-aside + atomic
      directory rename with a crash-recovery fallback), so the
      per-batch max(struct) carry scans bounded state instead of the
      whole append history — the ADVICE's unbounded-growth fix.
      Compacted rows keep their ORIGINAL batch_id, so the replay-
      idempotent ``batch_id < current`` filter semantics are
      untouched.

    Per micro-batch: batch events become 30-min spans, union the
    carried open islands (as weighted spans — n_events rides the ``n``
    column), and the SAME interval_islands kernel as the batch query
    merges them; all but the per-user last island append to ``final``,
    the last re-opens. Crash-replay idempotent: the carry filters to
    ``batch_id < current``, a replayed batch re-appends byte-identical
    rows, and the reader collapses duplicates.

    r11 (ADVICE fix): the correctness precondition — tranches arrive
    in global time order — is now GUARDED per batch instead of
    assumed: any batch span starting before its user's carried open
    island raises (such an event may belong to an already-CLOSED
    island, which never re-enters the merge, so proceeding would
    silently produce a wrong union; the open island's start is the
    per-user high-watermark below which finalized history is
    immutable). Spans overlapping or following the open island are
    the in-order case and merge normally.
    """
    from p4_mapreduce_spark.operators.analytics import (
        _SPAN_US,
        interval_islands,
    )

    final_path = os.path.join(state_dir, "final")
    open_path = os.path.join(state_dir, "open")
    # directory-of-tranches reader (stream_documents' shape, events
    # typing rules from read_events_stream): footer schema, one file
    # per micro-batch so the in-order tranche split IS the batch split
    schema = spark.read.parquet(events_dir).schema
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(events_dir)
    )
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dict(ev.dtypes).get("ts") == "timestamp_ntz":
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _recover_open_state(open_path)
        spans = batch_df.select(
            "user_id",
            epoch_micros(batch_df).alias("s"),
            (epoch_micros(batch_df) + F.lit(_SPAN_US)).alias("e"),
            F.lit(1).cast("bigint").alias("n"),
        )
        prior = _read_parquet_or_none(spark, open_path)
        if prior is not None:
            carry = (
                prior.where(F.col("batch_id") < F.lit(int(batch_id)))
                .groupBy("user_id")
                .agg(F.max(F.struct("batch_id", "s", "e", "n")).alias("o"))
                .select(
                    "user_id",
                    F.col("o.s").alias("s"),
                    F.col("o.e").alias("e"),
                    F.col("o.n").alias("n"),
                )
                # only carries for users IN this batch participate in the
                # merge; untouched users' open rows stay latest in state
                .join(spans.select("user_id").distinct(), "user_id")
            )
            # in-order guard (r11 ADVICE fix): a span starting before
            # its user's open island can only come from an out-of-order
            # tranche, and may belong to a closed island this merge can
            # never reopen — fail loudly instead of diverging silently
            late = (
                spans.join(
                    carry.select("user_id", F.col("s").alias("_open_s")),
                    "user_id",
                )
                .where(F.col("s") < F.col("_open_s"))
                .count()
            )
            if late:
                raise ValueError(
                    f"streaming_interval_union: {late} span(s) in batch "
                    f"{batch_id} start before their user's carried open "
                    "island — tranche time-order violated; finalized "
                    "islands cannot re-merge, rebuild from batch instead"
                )
            spans = spans.unionByName(carry)
        merged = interval_islands(spans).localCheckpoint()
        last = merged.groupBy("user_id").agg(
            F.max("island_id").alias("island_id")
        )
        closed = merged.join(
            last,
            ["user_id", "island_id"],
            "left_anti",
        ).select(
            "user_id",
            F.col("span_start_us").alias("s"),
            F.col("span_end_us").alias("e"),
            F.col("n_events").alias("n"),
        )
        reopened = merged.join(last, ["user_id", "island_id"]).select(
            "user_id",
            F.col("span_start_us").alias("s"),
            F.col("span_end_us").alias("e"),
            F.col("n_events").alias("n"),
        )
        closed.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(final_path)
        reopened.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(open_path)
        if int(batch_id) > 0 and int(batch_id) % _OPEN_COMPACT_EVERY == 0:
            _compact_open_state(spark, open_path, int(batch_id))

    return (
        ev.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# Compact the open-state table every this many batches: the table is
# append-only (one row per touched user per batch) and every carry
# takes max(struct) over it, so without compaction a long-running
# union re-scans its whole history per batch (r11 ADVICE fix).
_OPEN_COMPACT_EVERY = 4


def _recover_open_state(open_path: str) -> None:
    """Crash-recovery half of the compaction dance: if a crash hit
    between the two directory renames, the pre-compaction state
    survives at ``<open>.old`` — restore it."""
    old = open_path + ".old"
    if not os.path.exists(open_path) and os.path.exists(old):
        os.rename(old, open_path)


def _install_compacted(df: DataFrame, path: str) -> None:
    """Crash-safe directory replacement without atomic multi-file
    commits: write the compacted table aside, then two directory
    renames — every crash point either leaves the old directory in
    place, leaves it at ``.old`` (restored by ``_recover_open_state``
    on the next batch/read), or has already installed the compacted
    one."""
    import shutil

    tmp, old = path + ".compact", path + ".old"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def _compact_latest_store(
    spark: SparkSession,
    path: str,
    value_cols: tuple,
    current_batch_id: int,
) -> None:
    """Rewrite an append-only latest-row-per-user store to one row per
    user — but ONLY over rows with ``batch_id`` strictly below the
    in-flight batch; the current batch's rows are kept VERBATIM.

    Why the split matters (r12 ADVICE fix, replay idempotency):
    compaction runs inside the sink for batch ``b``, i.e. BEFORE the
    streaming checkpoint commits ``b``. If compaction collapsed a
    touched user to the single max(struct) row — which for that user
    has ``batch_id == b`` — a crash before the commit would leave a
    replayed batch ``b`` whose carry filter ``batch_id < b`` excludes
    that sole survivor, while the pre-``b`` history it replaced is
    already deleted: the carried open island silently vanishes and the
    replayed merge diverges from the original attempt. Keeping
    ``batch_id >= b`` rows verbatim and collapsing only the strict
    past makes the replayed carry see EXACTLY the frame the original
    attempt saw (per-user max over pre-``b`` rows is invariant under
    collapsing pre-``b`` rows to that max). Kept rows retain their
    ORIGINAL batch_id for the same reason.
    """
    cur = _read_parquet_or_none(spark, path)
    if cur is None:
        return
    out_cols = ["user_id", *value_cols, "batch_id"]
    older = (
        cur.where(F.col("batch_id") < F.lit(int(current_batch_id)))
        .groupBy("user_id")
        .agg(F.max(F.struct("batch_id", *value_cols)).alias("o"))
        .select(
            "user_id",
            *[F.col(f"o.{c}").alias(c) for c in value_cols],
            F.col("o.batch_id").alias("batch_id"),
        )
    )
    verbatim = cur.where(
        F.col("batch_id") >= F.lit(int(current_batch_id))
    ).select(*out_cols)
    _install_compacted(older.unionByName(verbatim), path)


def _compact_open_state(
    spark: SparkSession, open_path: str, current_batch_id: int
) -> None:
    """Latest-row-per-user rewrite of the interval union's open-island
    store (see _compact_latest_store for the replay-safety argument
    behind the current-batch-verbatim split)."""
    _compact_latest_store(spark, open_path, ("s", "e", "n"), current_batch_id)


def interval_union_from_state(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """Derive merge_event_intervals' exact output from the accumulated
    state: closed islands (replay duplicates collapsed — island starts
    are unique per user, so (user_id, s, e, n) is a safe distinct key)
    plus each user's latest open island, renumbered and summed through
    the SAME interval_islands kernel (the islands are disjoint by
    construction, so the kernel merges nothing and only restores the
    1-based per-user island_id and column shape)."""
    from p4_mapreduce_spark.operators.analytics import interval_islands

    _recover_open_state(os.path.join(state_dir, "open"))
    closed = (
        spark.read.parquet(os.path.join(state_dir, "final"))
        .select("user_id", "s", "e", "n")
        .distinct()
    )
    latest_open = (
        spark.read.parquet(os.path.join(state_dir, "open"))
        .groupBy("user_id")
        .agg(F.max(F.struct("batch_id", "s", "e", "n")).alias("o"))
        .select(
            "user_id",
            F.col("o.s").alias("s"),
            F.col("o.e").alias("e"),
            F.col("o.n").alias("n"),
        )
    )
    return interval_islands(closed.unionByName(latest_open)).select(
        "user_id",
        "island_id",
        "span_start_us",
        "span_end_us",
        "n_events",
        (F.col("span_end_us") - F.col("span_start_us")).alias("covered_us"),
    )


def interval_overlap_from_state(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """r11 (verdict ask #6): the per-user-pair co-presence rollup
    derived from the SAME state store the streaming interval union
    maintains — the sessions a warm pipeline already has are exactly
    the input the overlap join consumes, so the pair report comes from
    closed+open islands through the shared overlap_pairs_rollup
    kernel (hot-bin salting included) with no second pass over raw
    events. Pinned == the batch kernel over merge_event_intervals'
    islands in tests/test_streaming.py (same 30-minute span width by
    construction: both sides are the union state's islands)."""
    from p4_mapreduce_spark.operators.analytics import (
        overlap_pairs_rollup,
    )

    sess = interval_union_from_state(spark, state_dir).select(
        "user_id",
        "island_id",
        F.col("span_start_us").alias("s"),
        F.col("span_end_us").alias("e"),
    )
    return overlap_pairs_rollup(sess)


# ---------------------------------------------------------------------------
# r11: incremental Markov transition counts (streaming twin of
# event_markov_transitions)
# ---------------------------------------------------------------------------


def streaming_markov_transitions(
    spark: SparkSession, events_dir: str, state_dir: str, checkpoint_dir: str
):
    """Streaming twin of operators.analytics.event_markov_transitions:
    the per-user-adjacency transition counts maintained incrementally
    as event tranches ARRIVE in time order.

    State:

    - ``trans``: per-batch (from_type, to_type, n) counts keyed by
      batch_id (append-only; a replayed batch re-appends identical
      rows and the reader collapses by first-per-(batch, pair)).
    - ``last``: one row per touched user per batch — the user's latest
      event (the next batch's cross-boundary 'from'); latest row per
      user is the carry, same discipline as the interval-union open
      store.

    Per micro-batch: the carried last events (batch_id < current,
    users in this batch only) union the batch, one per-user lag window
    orders them by (ts_us, event_id) — exactly the batch query's sort
    key — and only transitions whose 'to' row is a REAL batch row
    count (the carry is from-only, so the cross-boundary adjacency is
    counted exactly once). The in-order-arrival precondition is
    guarded like the interval union's: a batch event earlier than its
    user's carried last event means some adjacency was already counted
    against a different neighbor, so the sink fails loudly rather
    than silently double-counting.
    """
    from pyspark.sql import Window as W

    trans_path = os.path.join(state_dir, "trans")
    last_path = os.path.join(state_dir, "last")
    schema = spark.read.parquet(events_dir).schema
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(events_dir)
    )
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dict(ev.dtypes).get("ts") == "timestamp_ntz":
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _recover_open_state(last_path)
        _recover_open_state(trans_path)
        rows = batch_df.select(
            "user_id",
            epoch_micros(batch_df).alias("ts_us"),
            "event_id",
            "event_type",
            F.lit(False).alias("is_carry"),
        )
        prior = _read_parquet_or_none(spark, last_path)
        if prior is not None:
            carry = (
                prior.where(F.col("batch_id") < F.lit(int(batch_id)))
                .groupBy("user_id")
                .agg(
                    F.max(
                        F.struct("batch_id", "ts_us", "event_id", "event_type")
                    ).alias("o")
                )
                .select(
                    "user_id",
                    F.col("o.ts_us").alias("ts_us"),
                    F.col("o.event_id").alias("event_id"),
                    F.col("o.event_type").alias("event_type"),
                    F.lit(True).alias("is_carry"),
                )
                .join(rows.select("user_id").distinct(), "user_id")
            )
            late = (
                rows.join(
                    carry.select(
                        "user_id",
                        F.col("ts_us").alias("_c_ts"),
                        F.col("event_id").alias("_c_eid"),
                    ),
                    "user_id",
                )
                .where(
                    (F.col("ts_us") < F.col("_c_ts"))
                    | (
                        (F.col("ts_us") == F.col("_c_ts"))
                        & (F.col("event_id") < F.col("_c_eid"))
                    )
                )
                .count()
            )
            if late:
                raise ValueError(
                    f"streaming_markov_transitions: {late} event(s) in "
                    f"batch {batch_id} precede their user's carried last "
                    "event — tranche time-order violated; adjacencies "
                    "already counted cannot be recounted, rebuild from "
                    "batch instead"
                )
            rows = rows.unionByName(carry)
        w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
        seq = rows.select(
            "event_type",
            "is_carry",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        t = (
            seq.where(F.col("prev_type").isNotNull() & ~F.col("is_carry"))
            .groupBy(
                F.col("prev_type").alias("from_type"),
                F.col("event_type").alias("to_type"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
        )
        t.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(trans_path)
        new_last = (
            rows.groupBy("user_id")
            .agg(
                F.max(F.struct("ts_us", "event_id", "event_type")).alias("o")
            )
            .select(
                "user_id",
                F.col("o.ts_us").alias("ts_us"),
                F.col("o.event_id").alias("event_id"),
                F.col("o.event_type").alias("event_type"),
            )
        )
        new_last.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(last_path)
        if int(batch_id) > 0 and int(batch_id) % _OPEN_COMPACT_EVERY == 0:
            _compact_latest_store(
                spark,
                last_path,
                ("ts_us", "event_id", "event_type"),
                int(batch_id),
            )
            _compact_trans_store(spark, trans_path, int(batch_id))

    return (
        ev.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _compact_trans_store(
    spark: SparkSession, trans_path: str, current_batch_id: int
) -> None:
    """Collapse the append-only per-batch transition counts (r12
    ADVICE fix: the store otherwise grows one row per pair per batch
    forever). Pre-current rows are first deduped exactly the way the
    reader does — first per (batch_id, pair), so a replayed older
    batch's duplicate appends collapse to one — then SUMMED per pair
    into a single row with the sentinel ``batch_id = -1`` (a second
    compaction folds the sentinel row in like any other past batch:
    it is unique per (batch_id, pair) by construction, so first()
    keeps it and the sum re-includes it exactly once). Rows with
    ``batch_id >= current`` are kept verbatim so a replay of the
    in-flight batch still dedupes against its own first attempt."""
    cur = _read_parquet_or_none(spark, trans_path)
    if cur is None:
        return
    out_cols = ["from_type", "to_type", "n", "batch_id"]
    older = (
        cur.where(F.col("batch_id") < F.lit(int(current_batch_id)))
        .groupBy("batch_id", "from_type", "to_type")
        .agg(F.first("n").alias("n"))
        .groupBy("from_type", "to_type")
        .agg(F.sum("n").cast(dict(cur.dtypes)["n"]).alias("n"))
        # sentinel typed to match the store (appends must not fork the
        # parquet schema)
        .withColumn(
            "batch_id", F.lit(-1).cast(dict(cur.dtypes)["batch_id"])
        )
        .select(*out_cols)
    )
    verbatim = cur.where(
        F.col("batch_id") >= F.lit(int(current_batch_id))
    ).select(*out_cols)
    _install_compacted(older.unionByName(verbatim), trans_path)


def markov_from_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Derive event_markov_transitions' exact output from the
    accumulated state: per-batch counts collapsed replay-safe
    (first per (batch_id, pair)), summed per pair, row-normalized
    through the SAME column shapes as the batch query."""
    from p4_mapreduce_spark.functions.deterministic import fix

    _recover_open_state(os.path.join(state_dir, "trans"))
    t = (
        spark.read.parquet(os.path.join(state_dir, "trans"))
        .groupBy("batch_id", "from_type", "to_type")
        .agg(F.first("n").alias("n"))
        .groupBy("from_type", "to_type")
        .agg(F.sum("n").cast("bigint").alias("n_transitions"))
    )
    tot = t.groupBy("from_type").agg(
        F.sum("n_transitions").alias("n_from")
    )
    return t.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        "n_transitions",
        fix(
            F.col("n_transitions").cast("double")
            / F.col("n_from").cast("double"),
            6,
        ).alias("prob"),
    )


# ---------------------------------------------------------------------------
# r12: incremental trigram novelty (streaming twin of text_ngram_novelty)
# ---------------------------------------------------------------------------


def streaming_trigram_novelty(
    spark: SparkSession, docs_dir: str, state_dir: str, checkpoint_dir: str
):
    """Streaming twin of operators.text_analysis.text_ngram_novelty:
    first-occurrence trigram ownership maintained incrementally as
    document tranches ARRIVE.

    State:

    - ``tri``: candidate (g, owner doc_id, batch_id) rows — per batch,
      only trigrams that are NEW to the store or arrive with a LOWER
      doc_id than the stored owner are appended (an anti/improve
      join against the vocabulary-sized store, batch-proportional
      work). The reader takes min(owner) per trigram, so ownership is
      EXACT under any arrival order AND under crash-replay without a
      carry protocol: min-merge is idempotent and commutative —
      duplicate appends from a replayed batch change nothing. Every
      _OPEN_COMPACT_EVERY batches the strict past collapses to one
      min-owner row per trigram (current batch verbatim, the r12
      replay-safe split, write-aside + rename + recovery).
    - ``docs``: (doc_id, n_trigrams, batch_id) for docs with >= 1
      trigram; replay-deduped by first() per (batch_id, doc_id).

    Derivation (trigram_novelty_from_state) reproduces the batch
    query's exact output: per-trigram final owners -> novel counts per
    doc, joined to the per-doc distinct-trigram totals, same ppm
    arithmetic.
    """
    docs = stream_documents(spark, docs_dir)
    tri_path = os.path.join(state_dir, "tri")
    docs_path = os.path.join(state_dir, "docs")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _recover_open_state(tri_path)
        ws = F.filter(F.split("text", " ", -1), lambda x: x != "")
        n3 = F.size(ws) - F.lit(2)
        tri = F.when(
            n3 >= 1,
            F.transform(
                F.sequence(F.lit(1), n3),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(ws, i),
                    F.element_at(ws, i + F.lit(1)),
                    F.element_at(ws, i + F.lit(2)),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        t = batch_df.select(
            "doc_id", F.explode(tri).alias("g")
        ).distinct().localCheckpoint()  # batch-sized; feeds two readers
        batch_min = t.groupBy("g").agg(F.min("doc_id").alias("owner"))
        prior = _read_parquet_or_none(spark, tri_path)
        if prior is not None:
            stored = (
                prior.groupBy("g").agg(F.min("owner").alias("_cur"))
            )
            batch_min = (
                batch_min.join(stored, "g", "left")
                .where(
                    F.col("_cur").isNull()
                    | (F.col("owner") < F.col("_cur"))
                )
                .select("g", "owner")
            )
        batch_min.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(tri_path)
        (
            t.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_trigrams"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(docs_path)
        )
        if int(batch_id) > 0 and int(batch_id) % _OPEN_COMPACT_EVERY == 0:
            _compact_min_owner_store(spark, tri_path, int(batch_id))

    return (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _compact_min_owner_store(
    spark: SparkSession, tri_path: str, current_batch_id: int
) -> None:
    """Collapse the trigram-ownership store to one min-owner row per
    trigram over the STRICT past; the in-flight batch's rows stay
    verbatim (the r12 replay-safe split — here it is belt-and-braces,
    since min-merge makes even a collapsed store replay-correct, but
    keeping the discipline uniform costs nothing and keeps the
    batch_id provenance of the current batch intact)."""
    cur = _read_parquet_or_none(spark, tri_path)
    if cur is None:
        return
    out_cols = ["g", "owner", "batch_id"]
    older = (
        cur.where(F.col("batch_id") < F.lit(int(current_batch_id)))
        .groupBy("g")
        .agg(F.min(F.struct("owner", "batch_id")).alias("o"))
        .select("g", F.col("o.owner").alias("owner"),
                F.col("o.batch_id").alias("batch_id"))
    )
    verbatim = cur.where(
        F.col("batch_id") >= F.lit(int(current_batch_id))
    ).select(*out_cols)
    _install_compacted(older.unionByName(verbatim), tri_path)


def trigram_novelty_from_state(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """Derive text_ngram_novelty's exact output from the accumulated
    state: final min-owner per trigram -> per-doc novel counts, joined
    to the replay-deduped per-doc trigram totals, identical ppm
    arithmetic and column shapes."""
    _recover_open_state(os.path.join(state_dir, "tri"))
    owners = (
        spark.read.parquet(os.path.join(state_dir, "tri"))
        .groupBy("g")
        .agg(F.min("owner").alias("owner"))
    )
    novel = owners.groupBy(F.col("owner").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    totals = (
        spark.read.parquet(os.path.join(state_dir, "docs"))
        .groupBy("batch_id", "doc_id")
        .agg(F.first("n_trigrams").alias("n_trigrams"))
        .groupBy("doc_id")
        .agg(F.max("n_trigrams").alias("n_trigrams"))
    )
    return (
        totals.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_trigrams").cast("bigint").alias("n_trigrams"),
            F.coalesce(F.col("n_novel"), F.lit(0))
            .cast("bigint")
            .alias("n_novel"),
            F.expr(
                "(coalesce(n_novel, 0) * 1000000) div n_trigrams"
            )
            .cast("bigint")
            .alias("novelty_ppm"),
        )
    )


def streaming_semantic_decon(
    spark: SparkSession,
    train_emb_dir: str,
    sf_dir: str,
    state_dir: str,
    checkpoint_dir: str,
):
    """Streaming twin of operators.similarity.decontaminate_semantic
    (r13): newly arriving TRAIN embeddings are verified against a
    FROZEN benchmark-side band index — the steady-state posture of
    ingest-time decontamination, where the eval suite is warm and
    every candidate training document needs an embedding-space
    contamination verdict BEFORE it may enter the corpus (the
    n-gram twin streaming_decontaminate runs the other direction:
    frozen train, arriving benchmark docs).

    The benchmark index is built ONCE, before the stream starts, and
    persisted to ``{state_dir}/bench_index``: the eval-suite-sized
    embeddings (vec_id%10>=8 of ``sf_dir``) with their full 12-bit
    sign sketches already reduced modulo 2^bits, where ``bits`` comes
    from the SAME benchmark-count ladder the batch query uses — so
    batch and streaming band keys can never drift. Each micro-batch:

    1. computes the batch vectors' band keys with the bits rederived
       from the frozen index's row count (static, so deterministic
       across batches and replays);
    2. band-joins the batch melt against the warm index melt with the
       first-shared-band rule (no distinct shuffle), exact-cosine
       scores the survivors on the Arrow kernel, and thresholds at
       the shared micro-int tau;
    3. appends one (t_id, n_hits, max_cos_micro, batch_id) row per
       batch vector THAT HAS CANDIDATES — absent rows mean "no band
       collision", exactly the batch query's per_doc sparsity.

    Crash-replay idempotent by construction: the index is frozen, so
    a replayed batch recomputes byte-identical verdict rows under the
    same batch_id and the reader (semantic_decon_from_state)
    collapses duplicates per t_id. Per-batch cost is batch sketches +
    one band equi-join against an eval-suite-sized index:
    batch-proportional, never corpus-proportional."""
    from p4_mapreduce_spark.operators.similarity import (
        _DECON_BANDS,
        _DECON_SEM_TAU_MICRO,
        _decon_bits,
        _decon_sketch_col,
        arrow_pair_cosine,
    )
    from p4_mapreduce_spark.sources.tables import load

    index_path = os.path.join(state_dir, "bench_index")
    verdicts_path = os.path.join(state_dir, "verdicts")

    if _read_parquet_or_none(spark, index_path) is None:
        bench = (
            load(spark, sf_dir, "embeddings")
            .where(F.col("vec_id") % 10 >= 8)
            .select("vec_id", "embedding")
        )
        nb = bench.count()
        bits = _decon_bits(nb)
        bench.select(
            "vec_id",
            "embedding",
            *[
                (
                    _decon_sketch_col(F.col("embedding"), i)
                    % F.lit(2**bits)
                )
                .cast("int")
                .alias(f"band{i}")
                for i in range(_DECON_BANDS)
            ],
        ).write.mode("overwrite").parquet(index_path)

    schema = spark.read.parquet(train_emb_dir).schema
    emb_stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(train_emb_dir)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        index = spark.read.parquet(index_path)
        bits = _decon_bits(index.count())  # frozen -> deterministic
        bnd_b = batch_df.select(
            F.col("vec_id").alias("t_id"),
            F.col("embedding").alias("te"),
            *[
                (
                    _decon_sketch_col(F.col("embedding"), i)
                    % F.lit(2**bits)
                )
                .cast("int")
                .alias(f"tb{i}")
                for i in range(_DECON_BANDS)
            ],
        ).localCheckpoint()  # batch-bounded, never corpus-sized
        melt_t = bnd_b.select(
            "t_id",
            "te",
            *[F.col(f"tb{i}") for i in range(_DECON_BANDS)],
            F.posexplode(
                F.array(*[F.col(f"tb{i}") for i in range(_DECON_BANDS)])
            ).alias("band_id", "sig"),
        )
        melt_e = index.select(
            F.col("embedding").alias("qe"),
            *[
                F.col(f"band{i}").alias(f"qb{i}")
                for i in range(_DECON_BANDS)
            ],
            F.posexplode(
                F.array(
                    *[F.col(f"band{i}") for i in range(_DECON_BANDS)]
                )
            ).alias("band_id", "sig"),
        )
        keep = F.col("band_id") == 0
        no_earlier = F.lit(True)
        for k in range(1, _DECON_BANDS):
            no_earlier = no_earlier & (
                F.col(f"tb{k - 1}") != F.col(f"qb{k - 1}")
            )
            keep = keep | ((F.col("band_id") == k) & no_earlier)
        cand = melt_t.join(F.broadcast(melt_e), ["band_id", "sig"]).where(
            keep
        )
        scored = arrow_pair_cosine(
            cand.select("t_id", "te", "qe"), "te", "qe"
        )
        per_doc = (
            scored.select(
                "t_id",
                F.floor(
                    F.col("cosine_sim") * F.lit(1000000.0) + F.lit(0.5)
                )
                .cast("bigint")
                .alias("cos_micro"),
            )
            .groupBy("t_id")
            .agg(
                F.sum(
                    F.when(
                        F.col("cos_micro")
                        >= F.lit(_DECON_SEM_TAU_MICRO),
                        1,
                    ).otherwise(0)
                ).alias("n_hits"),
                F.max("cos_micro").alias("max_cos_micro"),
            )
            .withColumn("batch_id", F.lit(int(batch_id)))
        )
        per_doc.write.mode("append").parquet(verdicts_path)

    return (
        emb_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def semantic_decon_from_state(
    spark: SparkSession, state_dir: str, sf_dir: str
) -> DataFrame:
    """Per-source contamination rollup from the verdicts accumulated
    by streaming_semantic_decon — pinned row-for-row equal to the
    batch decontaminate_semantic over the same corpus. Replay-safe:
    the bench index is frozen, so duplicate verdict rows for a t_id
    are byte-identical and the per-t_id max-merge (idempotent,
    commutative — the trigram-novelty twin's algebra) collapses them
    exactly."""
    from p4_mapreduce_spark.sources.tables import load

    verdicts = _read_parquet_or_none(
        spark, os.path.join(state_dir, "verdicts")
    )
    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 < 8)
        .select("doc_id", "source")
    )
    if verdicts is None:
        per_doc = None
    else:
        per_doc = verdicts.groupBy("t_id").agg(
            F.max("n_hits").alias("n_hits"),
            F.max("max_cos_micro").alias("max_cos_micro"),
        )
    rolled = (
        docs.join(per_doc, docs.doc_id == per_doc.t_id, "left")
        if per_doc is not None
        else docs.select(
            "doc_id",
            "source",
            F.lit(None).cast("bigint").alias("n_hits"),
            F.lit(None).cast("bigint").alias("max_cos_micro"),
        )
    )
    return (
        rolled.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_train"),
            F.sum(F.when(F.col("n_hits") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_contaminated"),
            F.max("max_cos_micro").alias("worst_cos_micro"),
        )
        .select(
            "source",
            "n_train",
            "n_contaminated",
            F.expr(
                "CAST((n_contaminated * 1000000) div n_train AS BIGINT)"
            ).alias("contamination_ppm"),
            "worst_cos_micro",
        )
    )
