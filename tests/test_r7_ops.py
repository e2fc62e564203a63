"""Round-7 operator tests: corpus-size-independent k-means fit,
SemDeDup LSH sub-blocking, and the r6-advice crash/null fixes."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from p4_mapreduce_spark.registry import load_all
from p4_mapreduce_spark.sources.tables import TABLES
from tests.oracle import compare_frames, run_oracle


def _scaled_sf_dir(sf_dir, tmp_path, copies: int, table: str = "embeddings"):
    """A synthetic sf dir whose ``table`` is the original duplicated
    ``copies`` times under shifted ids; every other table symlinks the
    original, so run_oracle can register the full view set."""
    t = pq.read_table(os.path.join(sf_dir, f"{table}.parquet"))
    idcol = {"embeddings": "vec_id", "documents": "doc_id"}[table]
    idx = t.schema.get_field_index(idcol)
    tabs = []
    for c in range(copies):
        shifted = pc.add(t.column(idcol), pa.scalar(c * 1_000_000))
        tabs.append(t.set_column(idx, idcol, shifted))
    big = pa.concat_tables(tabs)
    out = tmp_path / f"sf_x{copies}"
    out.mkdir()
    pq.write_table(big, out / f"{table}.parquet")
    for other in TABLES:
        if other != table:
            os.symlink(
                os.path.join(sf_dir, f"{other}.parquet"),
                out / f"{other}.parquet",
            )
    return str(out), len(big)


def test_semdedup_k_bits_formula():
    from p4_mapreduce_spark.operators.similarity import _semdedup_k_bits

    # under one target population: floor k, no sub-blocking
    assert _semdedup_k_bits(100) == (4, 0)
    assert _semdedup_k_bits(500) == (4, 0)  # boundary: 500 == 4*125
    # k tracks N/target until the cap
    assert _semdedup_k_bits(2000) == (16, 0)
    assert _semdedup_k_bits(8000) == (64, 0)  # boundary: 8000 == 64*125
    # past the cap: bits grow so population per block stays ~target
    assert _semdedup_k_bits(8001) == (64, 1)
    assert _semdedup_k_bits(16000) == (64, 1)
    assert _semdedup_k_bits(30000) == (64, 2)
    assert _semdedup_k_bits(64 * 125 * 2**8) == (64, 8)
    # ladder saturates at the 8 available hyperplane bits
    assert _semdedup_k_bits(64 * 125 * 2**8 + 1) == (64, 8)


def test_semdedup_subblock_parity(spark, sf_dir, tmp_path):
    """End-to-end oracle parity on a corpus big enough that the
    sub-block bits actually engage (bits >= 1) — the path sf0.01's
    500-row corpus never exercises."""
    from p4_mapreduce_spark.operators.similarity import _semdedup_k_bits

    big_dir, n = _scaled_sf_dir(sf_dir, tmp_path, copies=17)
    k, bits = _semdedup_k_bits(n)
    assert k == 64 and bits >= 1
    q = load_all()["semdedup_pipeline"]
    pdf = q.fn(spark, big_dir).toPandas()
    # duplicated vectors must be flagged: every copy>0 row has an
    # identical lower-id twin in its block (same vector -> same
    # cluster, same sketch, same block)
    assert (~pdf[pdf.vec_id >= 1_000_000].kept).all()
    compare_frames(
        pdf, run_oracle(q.oracle, big_dir), name="semdedup_subblock"
    )


def test_kmeans_sampled_fit_runs_no_iteration_jobs(spark, sf_dir):
    """The sampled fit must not launch per-iteration Spark jobs: two
    bounded collects total (k-row init + S-row sample)."""
    from p4_mapreduce_spark.operators.ml_cluster import fit_kmeans_centroids
    from p4_mapreduce_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    spark.sparkContext.setJobGroup("kmeans-fit-audit", "fit")
    fit_kmeans_centroids(emb, k=4)
    jobs = len(tracker.getJobIdsForGroup("kmeans-fit-audit") or [])
    spark.sparkContext.setJobGroup(None, None)
    assert before >= 0
    # init collect + sample collect; Spark may split a limit into an
    # extra retry job, so allow a small constant bound — the point is
    # it cannot scale with _ITERS x corpus
    assert jobs <= 4


def test_phash_neardup_banding(spark, tmp_path, sf_dir):
    """Crafted corpus: a base image, a 1-bit-off neighbor, and a far
    image — the banded join must surface exactly the near pair with
    the exact Hamming distance, and parity must hold on the fixture."""
    base = "abcdefghi" * 8  # every row strictly increasing -> 0xff rows
    near = base[:-1] + "a"  # flips ONE comparison in the last row
    far = "zyxwvutsr" * 8  # strictly decreasing -> 0x00 rows
    docs = pd.DataFrame(
        [
            {"doc_id": 1, "text": base, "lang": "en", "source": "t",
             "n_chars": len(base)},
            {"doc_id": 2, "text": near, "lang": "en", "source": "t",
             "n_chars": len(near)},
            {"doc_id": 3, "text": far, "lang": "en", "source": "t",
             "n_chars": len(far)},
            {"doc_id": 4, "text": base, "lang": "en", "source": "t",
             "n_chars": len(base)},  # exact copy: collapses into 1's group
        ]
    )
    out = tmp_path / "sf_ph"
    out.mkdir()
    docs.to_parquet(out / "documents.parquet")
    for other in TABLES:
        if other != "documents":
            os.symlink(
                os.path.join(sf_dir, f"{other}.parquet"),
                out / f"{other}.parquet",
            )
    q = load_all()["multimodal_phash_neardup"]
    pdf = q.fn(spark, str(out)).toPandas()
    assert len(pdf) == 1
    row = pdf.iloc[0]
    assert row.hamming == 1
    # the exact copy rode the hash group, not the pairwise stage
    assert {int(row.n_docs_a), int(row.n_docs_b)} == {1, 2}
    assert {int(row.min_doc_a), int(row.min_doc_b)} == {1, 2}
    compare_frames(pdf, run_oracle(q.oracle, str(out)), name="phash_neardup")


def test_winnow_fingerprint_null_text(spark, sf_dir, tmp_path):
    """r6 advice: a NULL text must produce no fingerprints (the old
    Catalyst F.split(null) semantics), not an executor AttributeError."""
    src = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
    with_null = pd.concat(
        [
            src.head(20),
            pd.DataFrame(
                [
                    {
                        "doc_id": 999_999,
                        "text": None,
                        "lang": "en",
                        "source": "test",
                        "n_chars": 0,
                    }
                ]
            ),
        ],
        ignore_index=True,
    )
    out = tmp_path / "sf_null"
    out.mkdir()
    with_null.to_parquet(out / "documents.parquet")
    for other in TABLES:
        if other != "documents":
            os.symlink(
                os.path.join(sf_dir, f"{other}.parquet"),
                out / f"{other}.parquet",
            )
    pdf = load_all()["dedup_winnow_fingerprint"].fn(spark, str(out)).toPandas()
    assert 999_999 not in set(pdf.doc_id)
    assert len(pdf) > 0
