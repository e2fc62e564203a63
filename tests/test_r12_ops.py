"""Round-12 planted behavioral fixtures: the anisotropy audit's
no-wrap precondition guard (ADVICE r12, same failure class as the PCA
guard — Spark's non-ANSI bigint sums wrap silently where the DuckDB
oracle errors loudly)."""

import pytest

from tests.test_r11_ops import _mini_sf


def test_anisotropy_overflow_guard_fires_on_collapsed_corpus(
    spark, tmp_path, monkeypatch
):
    """The guard boundary is a module constant so the raise path is
    exercisable without a 3e6-row collapsed corpus: 4 IDENTICAL unit
    vectors give sum(milli^2) = (4*1000)^2 = 1.6e7; lowering the
    boundary below that must fail the query loudly with the shard/
    widen remediation instead of reporting a wrapped mean cosine."""
    import p4_mapreduce_spark.operators.ml_cluster as mc

    d = 64
    e1 = [1.0] + [0.0] * (d - 1)
    sf = _mini_sf(
        tmp_path, embeddings=[(i, e1, 0) for i in range(4)]
    )
    monkeypatch.setattr(mc, "_ANISO_NORM2_GUARD", 1.0e7)
    with pytest.raises(Exception, match="exceed int64"):
        mc.embedding_anisotropy_audit(spark, sf).collect()

    # and the real boundary does NOT fire on the same corpus
    monkeypatch.undo()
    rows = mc.embedding_anisotropy_audit(spark, sf).collect()
    got = {r.label: r.mean_pairwise_cos for r in rows}
    assert got[0] == 1.0


def test_stage_ck_reliable_parity(spark, sf_dir, tmp_path, monkeypatch):
    """r12 verdict ask #5: the documented one-line local->reliable
    checkpoint swap for the stage-materialized fold frames, EXECUTED.
    decontaminate_test_split (three stage_ck sites) must produce
    identical rows under stagemat.RELIABLE=True with a filesystem
    checkpoint dir, and the dir must actually receive checkpoints.
    Also pins the refusal: RELIABLE without a checkpoint dir raises
    instead of silently leaking a temp-dir default."""
    import os

    import pytest

    import p4_mapreduce_spark.stagemat as stagemat
    from p4_mapreduce_spark.registry import load_all

    fn = load_all()["decontaminate_test_split"].fn
    want = sorted(map(tuple, fn(spark, sf_dir).collect()))

    prior_dir = spark.sparkContext.getCheckpointDir()
    monkeypatch.setattr(stagemat, "RELIABLE", True)
    # force materialization at test SF
    monkeypatch.setattr(stagemat, "STAGE_MAT_MIN_BYTES", 0)
    try:
        if prior_dir is None:
            with pytest.raises(RuntimeError, match="checkpoint directory"):
                fn(spark, sf_dir).collect()
        spark.sparkContext.setCheckpointDir(str(tmp_path / "stage_ckpt"))
        got = sorted(map(tuple, fn(spark, sf_dir).collect()))
    finally:
        monkeypatch.undo()
        if prior_dir is not None:
            spark.sparkContext.setCheckpointDir(prior_dir)
    assert got == want
    assert any(os.scandir(tmp_path / "stage_ckpt")), (
        "reliable mode did not write filesystem checkpoints"
    )


def test_ngram_novelty_planted(spark, tmp_path):
    """Planted novelty: doc 1 introduces both its trigrams (1.0), doc
    2 shares 'a b c' with doc 1 and introduces 'b c x' (exactly 1/2 ->
    500000 ppm), doc 3 has fewer than 3 tokens and must emit NO row
    (empty-unnest parity with the oracle)."""
    from p4_mapreduce_spark.operators.text_analysis import (
        text_ngram_novelty,
    )
    from tests.test_r11_ops import _mini_sf

    sf = _mini_sf(
        tmp_path,
        docs=[
            (1, "a b c d", "en", "s1"),
            (2, "a b c x", "en", "s1"),
            (3, "a b", "en", "s1"),
        ],
    )
    got = {
        r.doc_id: (r.n_trigrams, r.n_novel, r.novelty_ppm)
        for r in text_ngram_novelty(spark, sf).collect()
    }
    assert got == {1: (2, 2, 1000000), 2: (2, 1, 500000)}


def test_pii_screen_planted(spark, tmp_path):
    """Planted PII shapes: two emails + one phone in one doc, an SSN
    and an IPv4 in another, one clean doc in a second source. Counts
    are per occurrence; flagged is per doc; ppm is exact floor."""
    from p4_mapreduce_spark.operators.text_analysis import (
        pii_regex_screen,
    )
    from tests.test_r11_ops import _mini_sf

    sf = _mini_sf(
        tmp_path,
        docs=[
            (1, "mail a@b.com and c.d@e.org call 555-123-4567", "en", "s1"),
            (2, "ssn 123-45-6789 host 10.0.0.1 ok", "en", "s1"),
            (3, "nothing sensitive here", "en", "s1"),
            (4, "clean too", "en", "s2"),
        ],
    )
    got = {
        r.source: (
            r.n_docs,
            r.n_docs_flagged,
            r.n_emails,
            r.n_phones,
            r.n_ssns,
            r.n_ipv4s,
            r.flagged_ppm,
        )
        for r in pii_regex_screen(spark, sf).collect()
    }
    assert got["s1"] == (3, 2, 2, 1, 1, 1, 666666)
    assert got["s2"] == (1, 0, 0, 0, 0, 0, 0)


def test_stage_metrics_degrade_without_ui():
    """The REST metrics helpers must degrade to an error payload (not
    raise) when the UI server is off — bench.py and the gate call them
    unconditionally."""
    class _SC:
        uiWebUrl = None
        applicationId = "app"

    class _Spark:
        sparkContext = _SC()

    from p4_mapreduce_spark.metrics import (
        stage_metrics_since,
        stage_snapshot,
    )

    # snapshot failure is None, NOT an empty set — an empty set would
    # attribute the whole session's stage history to the next query
    before = stage_snapshot(_Spark())
    assert before is None
    out = stage_metrics_since(_Spark(), before)
    assert "error" in out
    assert "unattributable" in out["error"]
