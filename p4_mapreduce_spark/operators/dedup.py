"""Deduplication operators for LLM-data pipelines.

The dedup families over ``documents`` (plus embedding near-dup over
``embeddings``), each a north-star requirement (BASELINE.json):

1. **exact** — content hash, keep min doc_id per hash. One shuffle on
   a 64-bit-ish key; the 100 TB workhorse.
2. **MinHash + LSH** — shingle → K minhashes → B bands → bucket join
   on (band, signature) → verify candidates with true Jaccard. Only
   near-identical docs collide, so the join output is ~linear in the
   number of true near-dups, not quadratic in corpus size.
3. **SimHash** — 16-bit sign-of-weighted-sum fingerprint; near-dups
   collide on the exact fingerprint (equi-join, no pair explosion).
4. **n-gram Jaccard, two exact strategies** — collapse-verify-expand
   (exact-dup texts collapse before the quadratic verify; r4) and
   PPJoin-style prefix filtering (rarity-ordered prefixes generate
   candidates losslessly; r4). Both share the unfiltered all-pairs
   oracle.
5. **embedding cosine / SemDeDup** — see operators.similarity.
6. **span-level exact + content-defined chunking (CDC)** — tumbling
   span hashes and FastCDC-style anchored chunks (r4); per-doc
   duplicated-mass scores via aggregated hash-frequency frames.

Everything is built-in expressions: shingles via array lambdas (no
explode until the band join), md5 as the hash family (stable across
engines, so the DuckDB oracles replay bit-for-bit).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from p4_mapreduce_spark.registry import register
from p4_mapreduce_spark.stagemat import stage_ck, table_bytes
from p4_mapreduce_spark.sources.tables import load

MINHASH_PERMS = 16
MINHASH_BANDS = 4
ROWS_PER_BAND = MINHASH_PERMS // MINHASH_BANDS
SIMHASH_BITS = 16
JACCARD_THRESHOLD = 0.8

# ---------------------------------------------------------------------------
# 1. Exact dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT content_hash,
           count(*) AS n_copies,
           min(doc_id) AS keeper_doc_id
    FROM (SELECT doc_id, sha256(text) AS content_hash FROM documents)
    GROUP BY content_hash
    """,
    doc="Exact dedup: sha256 content hash, keep min doc_id per group. "
    "Deterministic keeper choice (unlike dropDuplicates).",
    headline=True,
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.sha2("text", 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# Shared shingle machinery (dual-dialect)
# ---------------------------------------------------------------------------

# 3-word shingles from the whitespace token array, distinct per doc.
_SHINGLES_SQL = """
    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
        list_distinct(list_transform(
            generate_series(1, len(string_split(text, ' ')) - 2),
            i -> string_split(text, ' ')[i] || '_' ||
                 string_split(text, ' ')[i+1] || '_' ||
                 string_split(text, ' ')[i+2]))
    ELSE [] END
"""


def _shingles_from_tokens(toks: F.Column) -> F.Column:
    """3-gram shingles from a *materialized* token-array column.

    The tokens MUST be a bound column, not an inline split(...) expr:
    Catalyst does no common-subexpression elimination inside lambda
    bodies, so an inline expr would re-split the text on every
    element_at — O(tokens²) per row (measured 4.7s → 0.6s at sf0.1).
    """
    make = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 2),
        lambda i: F.concat_ws(
            "_",
            F.element_at(toks, i),
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
        ),
    )
    return F.when(F.size(toks) >= 3, F.array_distinct(make)).otherwise(
        F.array().cast("array<string>")
    )


def _shingle_hashes_col(shingles: F.Column) -> F.Column:
    """Two md5s per shingle (64 hex chars) — sliced into 16 x 16-bit
    permutation values below. 2 hash evaluations instead of 16: this
    took the sf0.1 LSH bench from 18.4s to a fraction; min-collisions
    only add candidates, which the exact-Jaccard verify step filters."""
    return F.transform(
        shingles, lambda s: F.concat(F.md5(s), F.md5(F.concat(F.lit("x"), s)))
    )


_SHINGLE_HASHES_SQL = "list_transform(shingles, s -> md5(s) || md5('x' || s))"


def _minhash_col(perm: int, hashes: F.Column) -> F.Column:
    """min over shingles of hex slice [4*perm, 4*perm+4) of the hash pair."""
    return F.array_min(
        F.transform(hashes, lambda h: F.substring(h, 4 * perm + 1, 4))
    )


def _minhash_sql(perm: int) -> str:
    return (
        f"list_aggregate(list_transform(hh, "
        f"h -> substr(h, {4 * perm + 1}, 4)), 'min')"
    )


# ---------------------------------------------------------------------------
# 2. MinHash + LSH near-dup
# ---------------------------------------------------------------------------

def _band_signature_sql(band: int) -> str:
    cols = " || '|' || ".join(
        f"mh{perm}" for perm in range(band * ROWS_PER_BAND, (band + 1) * ROWS_PER_BAND)
    )
    return cols


# Shared CTE body (no leading WITH): also embedded by the
# dedup_cluster_components oracle in operators/graph.py, which wraps it
# in a WITH RECURSIVE closure.
_MINHASH_CTES = f"""
sh AS (
    SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents
),
hashed AS (
    SELECT doc_id, shingles, {_SHINGLE_HASHES_SQL} AS hh
    FROM sh WHERE len(shingles) > 0
),
mh AS (
    SELECT doc_id, shingles,
           {", ".join(f"{_minhash_sql(p)} AS mh{p}" for p in range(MINHASH_PERMS))}
    FROM hashed
),
sigs AS (
    SELECT doc_id, shingles,
           {", ".join(f"{_band_signature_sql(b)} AS band{b}" for b in range(MINHASH_BANDS))}
    FROM mh
),
cand AS (
    {" UNION ".join(
        f"SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b "
        f"FROM sigs a JOIN sigs b ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
        for b in range(MINHASH_BANDS)
    )}
)
"""

_MINHASH_PAIRS_SELECT = f"""
SELECT c.doc_id_a, c.doc_id_b,
       len(list_intersect(x.shingles, y.shingles))
           / greatest(len(list_distinct(x.shingles || y.shingles)), 1) AS jaccard
FROM cand c
JOIN sigs x ON x.doc_id = c.doc_id_a
JOIN sigs y ON y.doc_id = c.doc_id_b
WHERE len(list_intersect(x.shingles, y.shingles))
      / greatest(len(list_distinct(x.shingles || y.shingles)), 1) >= {JACCARD_THRESHOLD}
"""

_MINHASH_ORACLE = f"WITH {_MINHASH_CTES} {_MINHASH_PAIRS_SELECT}"


def minhash_signatures(groups: DataFrame) -> DataFrame:
    """MinHash band signatures over a DISTINCT-TEXT frame
    ``groups(gh, rtext)``: one row per text with its shingle set and
    one signature per band. Shared by the batch dedup operators (via
    _minhash_sig_table) and the streaming incremental near-dedup sink
    (streaming/windows.streaming_minhash_incremental), which runs it
    over each micro-batch's distinct texts."""
    # Filter on token count, NOT on size(shingles): a >=3-token doc
    # always yields >=1 shingle, and a filter over the shingles column
    # gets predicate-pushed below the aggregation where Catalyst
    # re-inlines split(text) into every lambda element_at — the whole
    # shingle pipeline would run TWICE (r3 finding, preserved).
    toks = groups.select(
        "gh", F.split("rtext", " ", -1).alias("toks")
    ).where(F.size(F.split("rtext", " ", -1)) >= 3)
    sh = toks.select(
        "gh", _shingles_from_tokens(F.col("toks")).alias("shingles")
    )
    hashed = sh.select(
        "gh", "shingles", _shingle_hashes_col(F.col("shingles")).alias("hh")
    )
    mh = hashed.select(
        "gh",
        "shingles",
        *[_minhash_col(p, F.col("hh")).alias(f"mh{p}") for p in range(MINHASH_PERMS)],
    )
    return mh.select(
        "gh",
        "shingles",
        *[
            F.concat_ws(
                "|",
                *[F.col(f"mh{p}") for p in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)],
            ).alias(f"band{b}")
            for b in range(MINHASH_BANDS)
        ],
    )


def melt_bands(sigs: DataFrame) -> DataFrame:
    """Band signatures to long form ``(gh, band_id, sig)`` — ONE
    equi-join key for all bands instead of one join per band."""
    return sigs.select(
        "gh",
        F.posexplode(
            F.array(*[F.col(f"band{b}") for b in range(MINHASH_BANDS)])
        ).alias("band_id", "sig"),
    )


def _minhash_sig_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-wide DISTINCT-TEXT MinHash signature table: one row
    per distinct text (gh = md5(text)) with its shingle set and one
    signature per band (MINHASH_BANDS of them), built by every call.
    Shared by the full self-join dedup (dedup_minhash_lsh) and the
    incremental batch-vs-corpus variants (dedup_minhash_incremental,
    decontaminate_test_split), which recompute the corpus side in each
    call; a deployment keeps that "existing corpus signature table" on
    disk instead."""
    docs = load(spark, sf_dir, "documents")
    # 1. collapse exact-duplicate texts: every downstream stage runs
    #    over DISTINCT texts (copies of one text share all band
    #    signatures, so the band join would otherwise emit O(C^2)
    #    candidate rows per duplicated text)
    groups = docs.groupBy(F.md5("text").alias("gh")).agg(
        F.min("text").alias("rtext")
    )
    # The signature table feeds both sides of the candidate self-join
    # AND the verify join — unmaterialized, Spark recomputes the whole
    # shingle+minhash pipeline once per reference (5x+). It is
    # distinct-text-sized (bounded under duplicate growth), so the
    # checkpoint rule allows materializing it; its cost is per-row
    # hash CPU, which the corpus-size gate cannot see, hence
    # compute_heavy. The checkpoint belongs to this call's plan and
    # is materialized once, by its first action.
    return stage_ck(minhash_signatures(groups), compute_heavy=True)


@register(
    "dedup_minhash_lsh",
    oracle=_MINHASH_ORACLE,
    doc=f"MinHash-LSH near-dup: {MINHASH_PERMS} md5 permutations, "
    f"{MINHASH_BANDS} bands x {ROWS_PER_BAND} rows, bucket join on band "
    f"signature, candidates verified with true Jaccard >= {JACCARD_THRESHOLD}. "
    "Minhashes are computed per-row with array lambdas (no explode); "
    "the candidate shuffle is the equi-join on (band, signature). "
    "r4: the exact-duplicate collapse runs FIRST (identical texts "
    "have identical band signatures, so every copy of a duplicated "
    "text collides in every band — an uncollapsed C-copy corpus pays "
    "O(C^2) band-join candidates per text, the same cliff the sf1 "
    "probe caught in the jaccard verify): signatures, band join, and "
    "verification run over DISTINCT texts, and qualifying pairs "
    "expand back to doc ids output-bound. Same result set, same "
    "oracle.",
    headline=True,
    tags=("dedup", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sigs = _minhash_sig_table(spark, sf_dir)
    _db = table_bytes(sf_dir)  # r12 corpus-size gate, see stagemat
    # r11 scan fold: the signature table feeds five branches (both
    # band-join sides, both verify sides, the exact-copy semi-join) —
    # each uncheckpointed reference re-printed the whole shingle+
    # minhash subtree (14 corpus scans). Narrow lazy localCheckpoints
    # of the band melt and the shingle projection (both DISTINCT-TEXT-
    # sized; the wide-table lesson from the pipeline fold applies) cut
    # it to the member expansion's md5 projections only.
    bands_long = stage_ck(melt_bands(sigs), src_bytes=_db)
    sh_ck = stage_ck(sigs.select("gh", "shingles"), src_bytes=_db)
    left = bands_long.select(F.col("gh").alias("gh_a"), "band_id", "sig")
    right = bands_long.select(F.col("gh").alias("gh_b"), "band_id", "sig")
    cand = (
        left.join(right, ["band_id", "sig"])
        .where(F.col("gh_a") < F.col("gh_b"))
        .select("gh_a", "gh_b")
        .distinct()
    )
    # 2. verify with true jaccard on the shingle sets (array ops)
    x = sh_ck.select(F.col("gh").alias("gh_a"), F.col("shingles").alias("sh_a"))
    y = sh_ck.select(F.col("gh").alias("gh_b"), F.col("shingles").alias("sh_b"))
    joined = cand.join(x, "gh_a").join(y, "gh_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_distinct(F.concat("sh_a", "sh_b")))
    jaccard = inter / F.greatest(union, F.lit(1))
    rj = joined.select("gh_a", "gh_b", jaccard.alias("jaccard")).where(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    # 3. expand back to doc pairs (output-bound): cross-group pairs
    #    carry the rep-level jaccard; exact copies of any >=3-token
    #    text pair at exactly 1.0 (identical shingle sets)
    members = docs.select(F.md5("text").alias("gh"), "doc_id")
    inter_pairs = (
        rj.join(
            members.select(F.col("gh").alias("gh_a"), F.col("doc_id").alias("da")),
            "gh_a",
        )
        .join(
            members.select(F.col("gh").alias("gh_b"), F.col("doc_id").alias("db")),
            "gh_b",
        )
        .select(
            F.least("da", "db").alias("doc_id_a"),
            F.greatest("da", "db").alias("doc_id_b"),
            "jaccard",
        )
    )
    m1 = members.select("gh", F.col("doc_id").alias("doc_id_a"))
    m2 = members.select("gh", F.col("doc_id").alias("doc_id_b"))
    intra = (
        m1.join(m2, "gh")
        .where(F.col("doc_id_a") < F.col("doc_id_b"))
        .join(sh_ck.select("gh"), "gh", "left_semi")
        .select("doc_id_a", "doc_id_b", F.lit(1.0).alias("jaccard"))
    )
    return inter_pairs.unionByName(intra)


# ---------------------------------------------------------------------------
# 3. SimHash
# ---------------------------------------------------------------------------


def _simhash_bit_sql(bit: int) -> str:
    """Sign of sum over distinct tokens of (2*bit - 1), bit from md5."""
    nibble = bit // 4
    shift = 2 ** (bit % 4)
    tok_bit = (
        f"((strpos('0123456789abcdef', substr(md5(t), {nibble + 1}, 1)) - 1) "
        f"// {shift}) % 2"
    )
    return (
        f"list_sum(list_transform(list_distinct(string_split(lower(text), ' ')), "
        f"t -> 2 * ({tok_bit}) - 1))"
    )


_SIMHASH_SQL = " + ".join(
    f"(CASE WHEN ({_simhash_bit_sql(b)}) > 0 THEN {2**b} ELSE 0 END)"
    for b in range(SIMHASH_BITS)
)


@register(
    "dedup_simhash",
    oracle=f"""
    WITH fp AS (
        SELECT doc_id, CAST({_SIMHASH_SQL} AS BIGINT) AS simhash FROM documents
    )
    SELECT simhash, count(*) AS n_docs, min(doc_id) AS keeper_doc_id
    FROM fp GROUP BY simhash HAVING count(*) > 1
    """,
    doc=f"SimHash near-dup: {SIMHASH_BITS}-bit sign-of-sum fingerprint from "
    "md5 token hashes; docs sharing a fingerprint group together "
    "(equi-groupBy — no pairwise work at any scale).",
    tags=("dedup", "sketch"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    docs = docs.select(
        "doc_id", F.array_distinct(F.split(F.lower("text"), " ", -1)).alias("toks")
    )
    tokens = F.col("toks")

    def bit_sum(bit: int) -> F.Column:
        nibble = bit // 4
        shift = 2 ** (bit % 4)
        return F.aggregate(
            tokens,
            F.lit(0),
            lambda acc, t: acc
            + 2
            * (
                (
                    (
                        F.instr(
                            F.lit("0123456789abcdef"),
                            F.substring(F.md5(t), nibble + 1, 1),
                        )
                        - 1
                    )
                    / shift
                ).cast("int")
                % 2
            )
            - 1,
        )

    simhash = None
    for b in range(SIMHASH_BITS):
        term = F.when(bit_sum(b) > 0, F.lit(2**b)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    fp = docs.select("doc_id", simhash.cast("long").alias("simhash"))
    return (
        fp.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
        .where(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# 4. n-gram Jaccard (exact pairwise via shared-shingle join)
# ---------------------------------------------------------------------------


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    pairs AS (
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS n_common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.doc_id_a, p.doc_id_b,
           p.n_common / greatest(len(x.shingles) + len(y.shingles) - p.n_common, 1)
               AS jaccard
    FROM pairs p
    JOIN sh x ON x.doc_id = p.doc_id_a
    JOIN sh y ON y.doc_id = p.doc_id_b
    WHERE p.n_common / greatest(len(x.shingles) + len(y.shingles) - p.n_common, 1)
          >= {JACCARD_THRESHOLD}
    """,
    doc="Exact n-gram Jaccard near-dup, collapse-verify-expand: exact "
    "duplicate texts are first collapsed to one representative per "
    "md5(text) group, the shared-shingle equi-join + group count "
    "(worst-case quadratic — at scale this runs only as the LSH "
    "verify step) runs over DISTINCT texts only, and qualifying "
    "pairs expand back to doc-id pairs output-bound (intra-group "
    "copies are jaccard-1.0 by identity; a cross-group verdict "
    "applies to every member pair because jaccard depends only on "
    "the texts). The collapse is what survives a duplicate-heavy "
    "web corpus: with C exact copies per document the naive verify "
    "join grows O(C^2) in INTERMEDIATE state (the r4 sf1 probe's "
    "60-copy corpus OOM'd an 8 GiB heap and ground a 48 GiB one to "
    "a halt), while collapse-verify-expand keeps the quadratic step "
    "at distinct-text size and pays C^2 only in rows the result "
    "itself must contain. Same result set, same oracle.",
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # 1. collapse: one representative text per exact-duplicate group
    groups = docs.groupBy(F.md5("text").alias("gh")).agg(
        F.min("text").alias("rtext")
    )
    # bind the token array before the shingle lambda (see
    # _shingles_from_tokens: an inline split re-evaluates per element)
    gtoks = groups.select("gh", F.split("rtext", " ", -1).alias("toks"))
    sh = gtoks.select(
        "gh", _shingles_from_tokens(F.col("toks")).alias("shingles")
    )
    ex = sh.select("gh", F.explode("shingles").alias("shingle"))
    # one localCheckpoint: ex feeds both join sides AND the per-group
    # size frame below — without it the whole collapse+shingle
    # pipeline re-evaluates four times (shingles are distinct per
    # text, so count(*) over ex == size(shingles))
    ex = ex.localCheckpoint()
    sizes = ex.groupBy("gh").agg(F.count(F.lit(1)).alias("n"))
    # 2. verify: pairwise jaccard over distinct texts only
    a = ex.select(F.col("gh").alias("gh_a"), "shingle")
    b = ex.select(F.col("gh").alias("gh_b"), "shingle")
    rep_pairs = (
        a.join(b, "shingle")
        .where(F.col("gh_a") < F.col("gh_b"))
        .groupBy("gh_a", "gh_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    x = sizes.select(F.col("gh").alias("gh_a"), F.col("n").alias("n_a"))
    y = sizes.select(F.col("gh").alias("gh_b"), F.col("n").alias("n_b"))
    jaccard = F.col("n_common") / F.greatest(
        F.col("n_a") + F.col("n_b") - F.col("n_common"), F.lit(1)
    )
    rj = (
        rep_pairs.join(x, "gh_a")
        .join(y, "gh_b")
        .select("gh_a", "gh_b", jaccard.alias("jaccard"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    # 3. expand back to doc pairs (output-bound by construction)
    members = docs.select(F.md5("text").alias("gh"), "doc_id")
    inter = (
        rj.join(
            members.select(F.col("gh").alias("gh_a"), F.col("doc_id").alias("da")),
            "gh_a",
        )
        .join(
            members.select(F.col("gh").alias("gh_b"), F.col("doc_id").alias("db")),
            "gh_b",
        )
        .select(
            F.least("da", "db").alias("doc_id_a"),
            F.greatest("da", "db").alias("doc_id_b"),
            "jaccard",
        )
    )
    # exact copies pair at jaccard 1.0 — but only when the text has at
    # least one shingle (empty-shingle docs never pair in the naive
    # form either); sizes only lists shingled groups, so a semi join
    # against it is exactly that guard
    m1 = members.select("gh", F.col("doc_id").alias("doc_id_a"))
    m2 = members.select("gh", F.col("doc_id").alias("doc_id_b"))
    intra = (
        m1.join(m2, "gh")
        .where(F.col("doc_id_a") < F.col("doc_id_b"))
        .join(sizes.select("gh"), "gh", "left_semi")
        .select("doc_id_a", "doc_id_b", F.lit(1.0).alias("jaccard"))
    )
    return inter.unionByName(intra)


# ---------------------------------------------------------------------------
# 6. Incremental dedup: new batch vs. existing corpus
# ---------------------------------------------------------------------------


@register(
    "dedup_incremental_batch",
    oracle=r"""
    WITH fps AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        FROM documents
    ),
    existing AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 3 <> 0),
    incoming AS (SELECT * FROM fps WHERE doc_id % 3 = 0)
    SELECT min(doc_id) AS doc_id, fp, count(*) AS n_batch_copies
    FROM incoming i
    WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.fp = i.fp)
    GROUP BY fp
    """,
    doc="Incremental corpus ingestion dedup: an incoming batch "
    "(doc_id % 3 = 0 here) is anti-joined on normalized content "
    "fingerprint against the already-ingested corpus index, then "
    "self-deduped keeping the min doc_id. This is the steady-state "
    "shape of a 100 TB pipeline — the quadratic all-pairs pass runs "
    "once, after which each day's batch costs one fingerprint "
    "anti-join (shuffle on the 128-bit key, or a broadcast when the "
    "day's index fits) plus a batch-local groupBy.",
    tags=("dedup", "incremental", "join"),
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    normalized = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    fps = docs.select("doc_id", F.md5(normalized).alias("fp"))
    existing = fps.where(F.col("doc_id") % 3 != 0).select("fp").distinct()
    incoming = fps.where(F.col("doc_id") % 3 == 0)
    fresh = incoming.join(existing, "fp", "left_anti")
    return (
        fresh.groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_batch_copies"),
        )
        .select("doc_id", "fp", "n_batch_copies")
    )


# Steady-state incremental NEAR-dedup: the daily operator of a 100 TB
# pipeline. dedup_incremental_batch's anti-join posture composed with
# MinHash-LSH — the incoming batch's signatures band-join against the
# EXISTING corpus signature table only (never batch-vs-batch or
# corpus-vs-corpus), so the daily cost is proportional to the batch.
_MINHASH_INCR_CAND = " UNION ".join(
    f"SELECT a.doc_id AS doc_id_new, b.doc_id AS doc_id_existing "
    f"FROM sigs a JOIN sigs b ON a.band{b} = b.band{b} "
    f"WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0"
    for b in range(MINHASH_BANDS)
)

_MINHASH_INCR_ORACLE = f"""
WITH {_MINHASH_CTES},
cand_incr AS ({_MINHASH_INCR_CAND})
SELECT c.doc_id_new, c.doc_id_existing,
       len(list_intersect(x.shingles, y.shingles))
           / greatest(len(list_distinct(x.shingles || y.shingles)), 1)
           AS jaccard
FROM cand_incr c
JOIN sigs x ON x.doc_id = c.doc_id_new
JOIN sigs y ON y.doc_id = c.doc_id_existing
WHERE len(list_intersect(x.shingles, y.shingles))
      / greatest(len(list_distinct(x.shingles || y.shingles)), 1)
      >= {JACCARD_THRESHOLD}
"""


@register(
    "dedup_minhash_incremental",
    oracle=_MINHASH_INCR_ORACLE,
    doc="Steady-state incremental NEAR-dedup: the incoming batch "
    "(doc_id % 3 = 0 here) is near-dup-checked against the already-"
    "ingested corpus via MinHash-LSH — batch signatures band-join "
    "against the EXISTING corpus signature table, and only cross-"
    "batch candidates are Jaccard-verified. This is the operator a "
    "100 TB pipeline actually runs daily: the quadratic self-join "
    "runs once at bootstrap, after which each day's cost is "
    "batch-signatures + one band equi-join against the warm "
    "signature table + output-bound verification. Each call here "
    "builds that corpus signature table itself (no state survives "
    "between calls); a deployment keeps it on disk, see below. "
    "Composes the r4 "
    "collapse rule: signatures/band-join/verify run over DISTINCT "
    "texts (a text's side flags record whether it has batch and/or "
    "corpus members), and qualifying rep-level pairs expand to "
    "(new doc, existing doc) pairs output-bound; same-text cross-"
    "batch pairs ride the side flags at Jaccard 1.0 with no pairwise "
    "work at all. The oracle replays the uncollapsed doc-level band "
    "join — parity proves the collapse is exact. x60 probe: 2.60s "
    "(2.4x on 60x data, SCALE.md r5 table). Honest cost note: the "
    "(gh, doc_id) members frame derives from the documents scan and "
    "is referenced by the sides aggregate and both expansion joins, "
    "so this self-contained form md5-scans the corpus ~3x per run "
    "(cheap — see the probe; a corpus-sized frame must not be "
    "checkpointed per the bounded-frame rule). r11: the DISTINCT-"
    "TEXT-sized shared frames (side flags, band melt, shingle "
    "projection) ARE lazily localCheckpoint-ed, cutting printed big-"
    "table scans 15 -> 2 and input bytes ~2x. A production "
    "deployment maintains members/signatures as incremental ON-DISK "
    "tables (the dedup_incremental_batch posture), making the daily "
    "cost batch-proportional for the scans too.",
    headline=True,
    tags=("dedup", "lsh", "incremental"),
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sigs = _minhash_sig_table(spark, sf_dir)
    _db = table_bytes(sf_dir)  # r12 corpus-size gate, see stagemat
    members = docs.select(F.md5("text").alias("gh"), "doc_id")
    is_new = F.col("doc_id") % 3 == 0
    # one row per distinct text: does it have batch members, corpus members?
    # r11 stage materialization: the side flags, the melted band list,
    # and the shingle projection are each read by TWO downstream
    # branches, and every uncheckpointed reference re-printed (and,
    # cache-cold, re-ran) its whole docs->distinct->minhash subtree —
    # 10-15 printed corpus scans. All three are DISTINCT-TEXT-sized
    # (narrow rows: flags, 16 band ints, shingles the signature
    # checkpoint already materializes), so the bounded-frame rule
    # allows lazy localCheckpoints; the corpus-sized members frame stays
    # checkpoint-free per the same rule (see the honest cost note).
    sides = stage_ck(members.groupBy("gh").agg(
        F.max(is_new.cast("int")).alias("has_new"),
        F.max((~is_new).cast("int")).alias("has_ex"),
    ), src_bytes=_db)
    sided = sigs.join(sides, "gh")
    bands_long = stage_ck(sided.select(
        "gh",
        "has_new",
        "has_ex",
        F.posexplode(
            F.array(*[F.col(f"band{b}") for b in range(MINHASH_BANDS)])
        ).alias("band_id", "sig"),
    ), src_bytes=_db)
    left = bands_long.where(F.col("has_new") == 1).select(
        F.col("gh").alias("gh_n"), "band_id", "sig"
    )
    right = bands_long.where(F.col("has_ex") == 1).select(
        F.col("gh").alias("gh_e"), "band_id", "sig"
    )
    cand = (
        left.join(right, ["band_id", "sig"])
        .where(F.col("gh_n") != F.col("gh_e"))
        .select("gh_n", "gh_e")
        .distinct()
    )
    sh_ck = stage_ck(sigs.select("gh", "shingles"), src_bytes=_db)
    x = sh_ck.select(F.col("gh").alias("gh_n"), F.col("shingles").alias("sh_n"))
    y = sh_ck.select(F.col("gh").alias("gh_e"), F.col("shingles").alias("sh_e"))
    inter = F.size(F.array_intersect("sh_n", "sh_e"))
    union = F.size(F.array_distinct(F.concat("sh_n", "sh_e")))
    jaccard = inter / F.greatest(union, F.lit(1))
    cross = (
        cand.join(x, "gh_n")
        .join(y, "gh_e")
        .select("gh_n", "gh_e", jaccard.alias("jaccard"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    # same text on both sides of the batch boundary: exact cross-dups
    # at Jaccard 1.0, no pairwise work (the collapse rule's free win);
    # the semi-join keeps only texts that HAVE shingles, matching the
    # oracle's len(shingles) > 0 gate
    same = (
        sides.where((F.col("has_new") == 1) & (F.col("has_ex") == 1))
        .join(sh_ck.select("gh"), "gh", "left_semi")
        .select(
            F.col("gh").alias("gh_n"),
            F.col("gh").alias("gh_e"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    rep_pairs = cross.unionByName(same)
    mn = members.where(is_new).select(
        F.col("gh").alias("gh_n"), F.col("doc_id").alias("doc_id_new")
    )
    me = members.where(~is_new).select(
        F.col("gh").alias("gh_e"), F.col("doc_id").alias("doc_id_existing")
    )
    return (
        rep_pairs.join(mn, "gh_n")
        .join(me, "gh_e")
        .select("doc_id_new", "doc_id_existing", "jaccard")
    )


# Winnowing (Schleimer et al., SIGMOD 2003 — the MOSS fingerprinter):
# window of _WINNOW_W consecutive k-gram hashes, keep each window's
# minimum. Guarantees any shared run of >= _WINNOW_W + k - 1 tokens
# shares a fingerprint, while storing only ~2/(_WINNOW_W+1) of the
# hashes — the sparse span-dedup index, vs dedup_span_exact's dense
# tumbling spans.
_WINNOW_W = 4


@register(
    "dedup_winnow_fingerprint",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents
    ),
    k AS (
        SELECT doc_id,
               CASE WHEN len(ws) >= 3 THEN list_transform(
                   generate_series(1, len(ws) - 2),
                   i -> md5(ws[i] || '_' || ws[i + 1] || '_' || ws[i + 2]))
               ELSE [] END AS h
        FROM t
    ),
    w AS (
        SELECT doc_id, len(h) AS n_kgrams,
               list_distinct(
                   CASE WHEN len(h) >= {_WINNOW_W} THEN list_transform(
                            generate_series(1, len(h) - {_WINNOW_W} + 1),
                            j -> list_aggregate(
                                h[j : j + {_WINNOW_W} - 1], 'min'))
                        WHEN len(h) > 0
                            THEN [list_aggregate(h, 'min')]
                        ELSE [] END) AS sel
        FROM k
    ),
    f AS (
        SELECT doc_id, n_kgrams, unnest(sel) AS fp
        FROM w WHERE len(sel) > 0
    ),
    freq AS (SELECT fp, count(DISTINCT doc_id) AS nd FROM f GROUP BY fp)
    SELECT f.doc_id,
           CAST(f.n_kgrams AS INTEGER) AS n_kgrams,
           CAST(count(*) AS INTEGER) AS n_fingerprints,
           CAST(sum(CASE WHEN freq.nd >= 2 THEN 1 ELSE 0 END) AS INTEGER)
               AS n_dup_fingerprints,
           floor(sum(CASE WHEN freq.nd >= 2 THEN 1 ELSE 0 END)
                 / count(*) * 1000000.0 + 0.5) / 1000000.0 AS dup_frac
    FROM f JOIN freq USING (fp)
    GROUP BY f.doc_id, f.n_kgrams
    """,
    doc=f"Winnowing fingerprints (Schleimer et al. 2003, the MOSS "
    "algorithm): per document, the minimum md5 of every window of "
    f"{_WINNOW_W} consecutive 3-gram hashes — any shared token run of "
    f">= {_WINNOW_W + 2} tokens is GUARANTEED to share a fingerprint, "
    f"yet only ~2/{_WINNOW_W + 1} of the k-gram hashes are kept. The "
    "sparse alternative to dedup_span_exact's dense tumbling spans: "
    "same per-doc duplicated-mass verdict (fingerprints appearing in "
    ">= 2 docs), at a fraction of the index size — which at 100 TB is "
    "the difference between a postings table that fits and one that "
    "doesn't. All per-row array lambdas (hash sequence, windowed min, "
    "distinct), one map-side-combined fingerprint groupBy, aggregated "
    "freq join-back; lexicographic min over fixed-width hex = numeric "
    "min, identical in both engines.",
    tags=("dedup", "text", "fingerprint"),
)
def dedup_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p4_mapreduce_spark.functions.deterministic import fix

    docs = load(spark, sf_dir, "documents")

    # Per-doc winnowing runs in ONE Arrow-batched pandas pass (r6).
    # The previous HOF-lambda chain hit Catalyst's no-CSE-inside-
    # lambdas behavior twice over: CollapseProject re-inlined
    # filter(split(text)) into every element_at of the k-gram lambda
    # AND the h-array into every window slice — O(tokens^2) splits per
    # document (74s at sf0.01, unbounded at x60; jstack showed
    # StringSplit under ConcatWs per element). hashlib.md5 hexdigest
    # over the UTF-8 gram text is bit-identical to F.md5/DuckDB md5,
    # so the oracle is unchanged and parity pins the rewrite.
    def winnow(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            out = {"doc_id": [], "n_kgrams": [], "fp": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:  # match the old F.split(null) -> null
                    continue  # no-fingerprints Catalyst semantics
                ws = [t for t in text.split(" ") if t != ""]
                if len(ws) >= 3:
                    h = [
                        hashlib.md5(
                            f"{ws[i]}_{ws[i + 1]}_{ws[i + 2]}".encode()
                        ).hexdigest()
                        for i in range(len(ws) - 2)
                    ]
                else:
                    h = []
                if len(h) >= _WINNOW_W:
                    sel = {
                        min(h[j : j + _WINNOW_W])
                        for j in range(len(h) - _WINNOW_W + 1)
                    }
                elif h:
                    sel = {min(h)}
                else:
                    sel = set()
                for fp in sel:
                    out["doc_id"].append(doc_id)
                    out["n_kgrams"].append(len(h))
                    out["fp"].append(fp)
            yield pd.DataFrame(out)

    f = docs.select("doc_id", "text").mapInPandas(
        winnow, schema="doc_id bigint, n_kgrams int, fp string"
    )
    freq = f.groupBy("fp").agg(F.countDistinct("doc_id").alias("nd"))
    dup = F.when(F.col("nd") >= 2, 1).otherwise(0)
    return (
        f.join(freq, "fp")
        .groupBy("doc_id", "n_kgrams")
        .agg(
            F.count(F.lit(1)).alias("n_fingerprints"),
            F.sum(dup).alias("n_dup_fingerprints"),
        )
        .select(
            "doc_id",
            F.col("n_kgrams").cast("int").alias("n_kgrams"),
            F.col("n_fingerprints").cast("int").alias("n_fingerprints"),
            F.col("n_dup_fingerprints").cast("int").alias("n_dup_fingerprints"),
            fix(
                F.col("n_dup_fingerprints") / F.col("n_fingerprints"), 6
            ).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# 7. Benchmark contamination: test-set n-grams appearing in training docs
# ---------------------------------------------------------------------------


@register(
    "contamination_ngram_overlap",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents
    ),
    bench AS (
        SELECT doc_id AS bench_doc_id, unnest(shingles) AS shingle
        FROM sh WHERE doc_id % 97 = 0
    ),
    train AS (
        SELECT doc_id AS train_doc_id, unnest(shingles) AS shingle
        FROM sh WHERE doc_id % 97 <> 0
    ),
    pairs AS (
        SELECT bench_doc_id, train_doc_id, count(*) AS n_shared
        FROM bench JOIN train USING (shingle)
        GROUP BY bench_doc_id, train_doc_id
    )
    SELECT bench_doc_id,
           count(*) AS n_contaminated_train_docs,
           max(n_shared) AS max_shared_shingles
    FROM pairs GROUP BY bench_doc_id
    """,
    doc="Benchmark-contamination scan: every 3-gram shingle of the "
    "held-out set (doc_id % 97 here) probed against the training "
    "corpus; per benchmark doc, how many training docs share any "
    "shingle and the largest overlap. The benchmark shingle set is "
    "broadcast (benchmark suites are small by construction), so the "
    "training corpus streams past it with NO shuffle of the big side "
    "— at 100 TB this is a single scan, the same shape as a bloom-"
    "filter prefilter. The per-pair rollup shuffles only matched "
    "pairs, which is ~0 for a clean corpus.",
    tags=("dedup", "contamination", "text"),
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = docs.select("doc_id", F.split("text", " ", -1).alias("toks"))
    sh = toks.select(
        "doc_id", _shingles_from_tokens(F.col("toks")).alias("shingles")
    )
    bench = (
        sh.where(F.col("doc_id") % 97 == 0)
        .select(
            F.col("doc_id").alias("bench_doc_id"),
            F.explode("shingles").alias("shingle"),
        )
    )
    train = (
        sh.where(F.col("doc_id") % 97 != 0)
        .select(
            F.col("doc_id").alias("train_doc_id"),
            F.explode("shingles").alias("shingle"),
        )
    )
    pairs = (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("bench_doc_id", "train_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return pairs.groupBy("bench_doc_id").agg(
        F.count(F.lit(1)).alias("n_contaminated_train_docs"),
        F.max("n_shared").alias("max_shared_shingles"),
    )


# Span-level exact dedup (the substring-dedup family: ExactSubstr /
# dedupe-text-datasets style, approximated with tumbling token spans).
# Span width 8 gives every synthetic doc (10-99 words) at least one
# full span; production text uses 50-token spans — the width is a
# constant, not a shape change.
_SPAN_WIDTH = 8
_SPAN_DUP_FRAC_FLAG = 0.5


@register(
    "dedup_span_exact",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents
    ),
    spans AS (
        SELECT doc_id, CAST(i AS INTEGER) AS span_id,
               md5(array_to_string(
                   ws[(i * {_SPAN_WIDTH} + 1):((i + 1) * {_SPAN_WIDTH})],
                   ' ')) AS h
        FROM toks,
             unnest(range(CAST(floor(len(ws) / {_SPAN_WIDTH}) AS BIGINT)))
                 AS t(i)
    ),
    freq AS (
        SELECT h, count(DISTINCT doc_id) AS n_docs FROM spans GROUP BY h
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_spans,
           floor(sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) * 1000000.0
                 / count(*) + 0.5) / 1000000.0 AS dup_span_frac,
           (sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*)
               >= {_SPAN_DUP_FRAC_FLAG}) AS drop_flag
    FROM spans s JOIN freq f USING (h)
    GROUP BY s.doc_id
    """,
    doc=f"Span-level exact dedup (tumbling {_SPAN_WIDTH}-token spans, "
    "the scalable stand-in for suffix-array ExactSubstr dedup): hash "
    "every full span, count the distinct documents per span hash, and "
    "score each document by the fraction of its spans that appear in "
    "at least one other document; docs above "
    f"{_SPAN_DUP_FRAC_FLAG:.0%} get the drop flag. Scale shape: spans "
    "are built with array lambdas (slice + hash per row — no "
    "token-level explode ever materializes), the explode emits one "
    "16-byte-hash row per span, and the only shuffles are the "
    "map-side-combined span-hash groupBy and the per-doc rollup. The "
    "frequency frame joined back is one row per span hash (already "
    "aggregated), so a boilerplate span that appears in millions of "
    "docs costs one counter, not a posting list — no hot-key buffer "
    "anywhere.",
    tags=("dedup", "text"),
)
def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", " ", -1), lambda x: x != "")
    n_full = F.floor(F.size(ws) / _SPAN_WIDTH).cast("int")
    span_hashes = F.transform(
        F.sequence(F.lit(0), n_full - 1),
        lambda i: F.md5(
            F.array_join(F.slice(ws, i * _SPAN_WIDTH + 1, _SPAN_WIDTH), " ")
        ),
    )
    spans = (
        docs.where(F.size(ws) >= _SPAN_WIDTH)
        .select("doc_id", F.posexplode(span_hashes).alias("span_id", "h"))
        .select("doc_id", F.col("span_id").cast("int").alias("span_id"), "h")
    )
    freq = spans.groupBy("h").agg(F.countDistinct("doc_id").alias("n_docs"))
    dup = F.when(F.col("n_docs") >= 2, 1).otherwise(0)
    return (
        spans.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(dup).alias("n_dup_spans"),
            (
                F.floor(
                    F.sum(dup) * F.lit(1000000.0) / F.count(F.lit(1)) + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("dup_span_frac"),
            (
                F.sum(dup) * F.lit(1.0) / F.count(F.lit(1))
                >= F.lit(_SPAN_DUP_FRAC_FLAG)
            ).alias("drop_flag"),
        )
    )


# ---------------------------------------------------------------------------
# 7. Content-defined chunking dedup (LBFS/FastCDC family)
# ---------------------------------------------------------------------------

# A token is a chunk anchor when its md5 starts with this hex digit:
# P(anchor) = 1/16, so expected chunk length ~16 tokens. Anchoring on
# CONTENT (not position) is the point — an insertion near the top of a
# document shifts every tumbling-span hash after it, but CDC boundaries
# re-synchronize at the next anchor, so all downstream chunks still
# dedup against the unedited copy.
_CDC_ANCHOR_HEX = "0"


# r14 work-proportional spread calibration (tables.spread_small_scan):
# token-md5 kernels (CDC anchor fold, stride-1 window hashes) amplify
# each SOURCE PARQUET byte into roughly 16 bytes' worth of hashing
# work — the constant is calibrated so the sf0.1 corpus (0.59 MB)
# lands at ~10 tasks, where the measured wall matches or beats the
# flat-32 spread (r14 probe; the 8-core driver bench had been beating
# the 32-core one on this family under the flat target).
_SPREAD_AMP_TOKEN_MD5 = 16


@register(
    "cdc_chunk_dedup",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents
    ),
    pos AS (
        SELECT doc_id, ws[i] AS w, i
        FROM toks, unnest(range(1, len(ws) + 1)) AS t(i)
    ),
    cidx AS (
        SELECT doc_id, w, i,
               sum(CASE WHEN i > 1 AND substr(md5(w), 1, 1)
                             = '{_CDC_ANCHOR_HEX}'
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY i)
                   AS chunk_idx
        FROM pos
    ),
    chunks AS (
        SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
               md5(string_agg(w, ' ' ORDER BY i)) AS h,
               CAST(count(*) AS INTEGER) AS nt
        FROM cidx GROUP BY doc_id, chunk_idx
    ),
    freq AS (
        SELECT h, count(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY h
    )
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(nt) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN f.n_docs >= 2 THEN nt ELSE 0 END) AS BIGINT)
               AS dup_tokens
    FROM chunks c JOIN freq f USING (h)
    GROUP BY c.doc_id
    """,
    doc="Content-defined chunking dedup (LBFS/FastCDC family): a token "
    "is a chunk anchor when its md5 falls in a fixed 1/16 hash band "
    "(expected chunk ~16 tokens), every anchored chunk is hashed, and "
    "each document is scored by how many of its tokens sit in chunks "
    "that also appear in other documents. The content-defined anchor "
    "is what tumbling-span dedup (dedup_span_exact) cannot do: an "
    "edit or insertion shifts every downstream tumbling span, but CDC "
    "boundaries re-synchronize at the next anchor, so the unedited "
    "remainder still dedups — the chunking rule used by dedup storage "
    "and by edit-robust corpus dedup. Scale shape: chunks are built "
    "per row by ONE sequential fold over the token array (a single "
    "whole-stage-codegen'd expression — no token-level explode, no "
    "per-token window shuffle), one 16-byte-hash row per ~16-token "
    "chunk feeds the map-side-combined chunk-hash groupBy, the "
    "aggregated one-row-per-hash frequency frame joins back (a "
    "boilerplate chunk in millions of docs costs one counter, not a "
    "posting list; residual hash-key skew is AQE skew-join territory), "
    "and the per-doc rollup is the only other shuffle. All-integer "
    "output — no float normalization needed.",
    headline=True,
    tags=("dedup", "text", "pipeline"),
)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p4_mapreduce_spark.sources.tables import spread_small_scan
    from p4_mapreduce_spark.stagemat import table_bytes

    # explode-amplification guard (r13): the CDC fold does one md5 per
    # token — see tables.spread_small_scan (no-op at scale). r14: the
    # target is work-proportional (measured: ~10 tasks at sf0.1 beat
    # the flat 32 — see _SPREAD_AMP_TOKEN_MD5).
    docs = spread_small_scan(
        load(spark, sf_dir, "documents").select("doc_id", "text"),
        src_bytes=table_bytes(sf_dir),
        amp=_SPREAD_AMP_TOKEN_MD5,
    )
    ws = F.filter(F.split("text", " ", -1), lambda x: x != "")
    is_anchor = lambda w: (
        F.substring(F.md5(w), 1, 1) == F.lit(_CDC_ANCHOR_HEX)
    )
    acc0 = F.struct(
        F.array().cast("array<string>").alias("done"),
        F.lit("").alias("cur"),
    )
    def step(acc, w):
        boundary = is_anchor(w) & (acc["cur"] != F.lit(""))
        done = F.when(
            boundary, F.concat(acc["done"], F.array(acc["cur"]))
        ).otherwise(acc["done"])
        cur = (
            F.when(boundary, w)
            .when(acc["cur"] == F.lit(""), w)
            .otherwise(F.concat_ws(" ", acc["cur"], w))
        )
        return F.struct(done.alias("done"), cur.alias("cur"))
    chunks_arr = F.aggregate(
        ws,
        acc0,
        step,
        lambda acc: F.when(
            acc["cur"] != F.lit(""),
            F.concat(acc["done"], F.array(acc["cur"])),
        ).otherwise(acc["done"]),
    )
    chunks = docs.select(
        "doc_id", F.explode(chunks_arr).alias("chunk_text")
    ).select(
        "doc_id",
        F.md5("chunk_text").alias("h"),
        F.size(F.split("chunk_text", " ", -1)).alias("nt"),
    )
    # chunks feeds BOTH the frequency aggregation and the join below,
    # so the chunking fold evaluates twice. That is the RIGHT call:
    # an r4 probe showed a localCheckpoint here wins ~20% at sf0.1 but
    # LOSES 4x at the sf1-equivalent corpus (materializing the
    # corpus-sized chunk frame costs more than re-running a map-only
    # codegen fold that parallelizes perfectly) — recompute beats
    # materialize for map-only stages at scale.
    freq = chunks.groupBy("h").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    dup = F.when(F.col("n_docs") >= 2, F.col("nt")).otherwise(0)
    return (
        chunks.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("nt").alias("n_tokens"),
            F.sum(dup).alias("dup_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# 8. Prefix-filtered exact Jaccard (PPJoin family)
# ---------------------------------------------------------------------------

_JACCARD_ORACLE = f"""
    WITH sh AS (
        SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    pairs AS (
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS n_common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.doc_id_a, p.doc_id_b,
           p.n_common / greatest(len(x.shingles) + len(y.shingles) - p.n_common, 1)
               AS jaccard
    FROM pairs p
    JOIN sh x ON x.doc_id = p.doc_id_a
    JOIN sh y ON y.doc_id = p.doc_id_b
    WHERE p.n_common / greatest(len(x.shingles) + len(y.shingles) - p.n_common, 1)
          >= {JACCARD_THRESHOLD}
    """


@register(
    "dedup_jaccard_prefix",
    oracle=_JACCARD_ORACLE,
    doc="Exact Jaccard near-dup via PREFIX FILTERING (the PPJoin "
    "family, Xiao et al.): order every document's shingles by global "
    "rarity (document frequency, shingle as tie-break) and join only "
    "on each document's first |S| - ceil(t*|S|) + 1 shingles. "
    "Lossless by the prefix-filtering theorem: for any pair with "
    "jaccard >= t, the globally-smallest shared shingle provably "
    "sits inside BOTH prefixes (if a prefix held no shared shingle, "
    "the intersection would fit in the suffix of size ceil(t*|S|)-1 "
    "< t*|S| <= |intersection| — contradiction), so the candidate "
    "join can only lose non-qualifying pairs, never results. The "
    "oracle is the unfiltered all-pairs formulation — parity IS the "
    "losslessness proof executed. Compared to dedup_ngram_jaccard "
    "(exact-collapse) and dedup_minhash_lsh (probabilistic bands), "
    "this is the third candidate-generation strategy: deterministic, "
    "exact, and pruning by rarity — only ~20% of each text's "
    "shingles (its rarest ones) enter the join, and rare shingles by "
    "construction have short postings, so the candidate set stays "
    "near-linear on natural corpora. The exact-duplicate collapse of "
    "dedup_ngram_jaccard is built in (prefixes of identical texts "
    "always collide, so an uncollapsed C-copy corpus pays the full "
    "O(C^2) candidate expansion — probe-measured 112s at x8 before "
    "the composition): candidate generation runs over DISTINCT "
    "texts, qualifying pairs expand back output-bound. Scale shape: "
    "one df aggregation (map-side combined), one rarity-rank window "
    "per distinct text, the pruned candidate equi-join, a verify "
    "join that rebuilds n_common only for candidate pairs, then the "
    "member expansion.",
    tags=("dedup", "text"),
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # collapse exact-duplicate texts first (same step as
    # dedup_ngram_jaccard): prefixes of identical texts always
    # collide, so without the collapse a C-copy corpus pays the full
    # O(C^2) candidate expansion — the r4 probe measured 112s at x8
    # for the uncollapsed form vs flat for this one
    groups = docs.groupBy(F.md5("text").alias("gh")).agg(
        F.min("text").alias("rtext")
    )
    gtoks = groups.select("gh", F.split("rtext", " ", -1).alias("toks"))
    sh = gtoks.select(
        "gh", _shingles_from_tokens(F.col("toks")).alias("shingles")
    )
    ex = sh.select("gh", F.explode("shingles").alias("shingle"))
    # distinct-text-sized (bounded under duplicate growth) -> the
    # checkpoint rule allows materializing it once for its 4 consumers
    ex = ex.localCheckpoint()
    # global rarity order: document frequency over distinct texts,
    # shingle string as tie-break (any consistent total order
    # satisfies the prefix-filtering theorem; rarity makes prefixes
    # collide as little as possible)
    dfq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = ex.join(dfq, "shingle").select(
        "gh",
        "shingle",
        F.row_number()
        .over(
            Window.partitionBy("gh").orderBy(F.col("df"), F.col("shingle"))
        )
        .alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("gh")).alias("n"),
    )
    prefix = ranked.where(
        F.col("rn")
        <= F.col("n") - F.ceil(F.lit(JACCARD_THRESHOLD) * F.col("n")) + 1
    ).select("gh", "shingle")
    cands = (
        prefix.select(F.col("gh").alias("gh_a"), "shingle")
        .join(
            prefix.select(F.col("gh").alias("gh_b"), "shingle"),
            "shingle",
        )
        .where(F.col("gh_a") < F.col("gh_b"))
        .select("gh_a", "gh_b")
        .distinct()
    )
    # verify candidates against the FULL shingle sets
    full_a = ex.select(F.col("gh").alias("gh_a"), "shingle")
    full_b = ex.select(F.col("gh").alias("gh_b"), "shingle")
    common = (
        cands.join(full_a, "gh_a")
        .join(full_b, ["gh_b", "shingle"])
        .groupBy("gh_a", "gh_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = ex.groupBy("gh").agg(F.count(F.lit(1)).alias("n"))
    x = sizes.select(F.col("gh").alias("gh_a"), F.col("n").alias("n_a"))
    y = sizes.select(F.col("gh").alias("gh_b"), F.col("n").alias("n_b"))
    jac = F.col("n_common") / F.greatest(
        F.col("n_a") + F.col("n_b") - F.col("n_common"), F.lit(1)
    )
    rj = (
        common.join(x, "gh_a")
        .join(y, "gh_b")
        .select("gh_a", "gh_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    # expand back to doc pairs, output-bound (same step as
    # dedup_ngram_jaccard)
    members = docs.select(F.md5("text").alias("gh"), "doc_id")
    inter = (
        rj.join(
            members.select(F.col("gh").alias("gh_a"), F.col("doc_id").alias("da")),
            "gh_a",
        )
        .join(
            members.select(F.col("gh").alias("gh_b"), F.col("doc_id").alias("db")),
            "gh_b",
        )
        .select(
            F.least("da", "db").alias("doc_id_a"),
            F.greatest("da", "db").alias("doc_id_b"),
            "jaccard",
        )
    )
    m1 = members.select("gh", F.col("doc_id").alias("doc_id_a"))
    m2 = members.select("gh", F.col("doc_id").alias("doc_id_b"))
    intra = (
        m1.join(m2, "gh")
        .where(F.col("doc_id_a") < F.col("doc_id_b"))
        .join(sizes.select("gh"), "gh", "left_semi")
        .select("doc_id_a", "doc_id_b", F.lit(1.0).alias("jaccard"))
    )
    return inter.unionByName(intra)


# ---------------------------------------------------------------------------
# LSH quality audit: the recall/precision numbers the banding is tuned by
# ---------------------------------------------------------------------------

_AUDIT_PANEL = 256

# gh-keyed twin of _MINHASH_CTES (the collapsed distinct-text level the
# Spark signature table lives at), plus the fixed panel prefix.
_AUDIT_CTES = f"""
g AS (SELECT md5(text) AS gh, min(text) AS text
      FROM documents GROUP BY 1),
gsh AS (SELECT gh, {_SHINGLES_SQL} AS shingles FROM g),
ghashed AS (
    SELECT gh, shingles, {_SHINGLE_HASHES_SQL} AS hh
    FROM gsh WHERE len(shingles) > 0
),
gmh AS (
    SELECT gh, shingles,
           {", ".join(f"{_minhash_sql(p)} AS mh{p}" for p in range(MINHASH_PERMS))}
    FROM ghashed
),
gsigs AS (
    SELECT gh, shingles,
           {", ".join(f"{_band_signature_sql(b)} AS band{b}" for b in range(MINHASH_BANDS))}
    FROM gmh
),
panel AS (SELECT * FROM gsigs ORDER BY gh LIMIT {_AUDIT_PANEL})
"""


@register(
    "minhash_recall_audit",
    oracle=f"""
    WITH {_AUDIT_CTES},
    pj AS (
        SELECT a.gh AS da, b.gh AS db,
               len(list_intersect(a.shingles, b.shingles))
                   / CAST(greatest(len(list_distinct(a.shingles || b.shingles)), 1)
                          AS DOUBLE) AS jaccard,
               CASE WHEN {" OR ".join(f"a.band{b} = b.band{b}" for b in range(MINHASH_BANDS))}
                    THEN 1 ELSE 0 END AS is_cand
        FROM panel a JOIN panel b ON a.gh < b.gh
    ),
    agg AS (
        SELECT CAST(sum(CASE WHEN jaccard >= {JACCARD_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
               CAST(sum(is_cand) AS BIGINT) AS n_candidates,
               CAST(sum(CASE WHEN jaccard >= {JACCARD_THRESHOLD} THEN is_cand ELSE 0 END) AS BIGINT) AS n_hits
        FROM pj
    )
    SELECT (SELECT count(*) FROM panel) AS n_panel,
           n_true, n_candidates, n_hits,
           n_hits / CAST(greatest(n_true, 1) AS DOUBLE) AS recall_at_tau,
           n_hits / CAST(greatest(n_candidates, 1) AS DOUBLE) AS precision_at_tau
    FROM agg
    """,
    doc=f"MinHash-LSH quality audit — the ann_lsh_recall recipe "
    "applied to the text near-dedup tier: on a FIXED "
    f"{_AUDIT_PANEL}-distinct-text panel (lowest text hashes — "
    "deterministic, and constant-size BY CONSTRUCTION, so the "
    "quadratic exact arm never grows with the corpus), compute every "
    f"exact shingle Jaccard, take pairs >= {JACCARD_THRESHOLD} as "
    "ground truth, and score the band join's candidate rule against "
    "them: recall (what fraction of true near-dup pairs does banding "
    "surface — the number that says whether 4 bands x 4 rows is "
    "enough) and precision (what fraction of candidates survive "
    "verification — the verify-join cost knob). Theoretical recall "
    "at J=0.8 under 4x4 banding is 1-(1-0.8^4)^4 ~ 0.88; this "
    "measures the actual corpus. The panel is a "
    f"{_AUDIT_PANEL}-row TakeOrderedAndProject off the shared "
    "signature table, pairing is a broadcast self-join of that "
    "bounded frame (like the 5-query ANN arms), and everything "
    "downstream is counting — all counts and ratios are exact "
    "integers / IEEE ratios of integers, so the oracle is exact. "
    "Shares _minhash_sig_table with the dedup operators, so the "
    "audit measures EXACTLY the signatures production runs.",
    tags=("dedup", "lsh", "audit", "sketch"),
)
def minhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = _minhash_sig_table(spark, sf_dir)
    panel = sigs.orderBy("gh").limit(_AUDIT_PANEL)
    a = panel.select(
        F.col("gh").alias("da"),
        F.col("shingles").alias("sh_a"),
        *[F.col(f"band{b}").alias(f"a_band{b}") for b in range(MINHASH_BANDS)],
    )
    b = panel.select(
        F.col("gh").alias("db"),
        F.col("shingles").alias("sh_b"),
        *[F.col(f"band{b}").alias(f"b_band{b}") for b in range(MINHASH_BANDS)],
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_distinct(F.concat("sh_a", "sh_b")))
    jac = inter / F.greatest(union, F.lit(1)).cast("double")
    pairs = a.join(F.broadcast(b), F.col("da") < F.col("db")).select(
        jac.alias("jaccard"),
        F.greatest(
            *[
                (F.col(f"a_band{i}") == F.col(f"b_band{i}")).cast("int")
                for i in range(MINHASH_BANDS)
            ]
        ).alias("is_cand"),
    )
    truth = (F.col("jaccard") >= JACCARD_THRESHOLD).cast("int")
    agg = pairs.agg(
        F.sum(truth).cast("bigint").alias("n_true"),
        F.sum(F.col("is_cand")).cast("bigint").alias("n_candidates"),
        F.sum(truth * F.col("is_cand")).cast("bigint").alias("n_hits"),
    )
    n_panel = panel.agg(F.count(F.lit(1)).alias("n_panel"))
    return F.broadcast(n_panel).crossJoin(agg).select(
        "n_panel",
        "n_true",
        "n_candidates",
        "n_hits",
        (
            F.col("n_hits")
            / F.greatest(F.col("n_true"), F.lit(1)).cast("double")
        ).alias("recall_at_tau"),
        (
            F.col("n_hits")
            / F.greatest(F.col("n_candidates"), F.lit(1)).cast("double")
        ).alias("precision_at_tau"),
    )


# ---------------------------------------------------------------------------
# Decontamination: per-test-document near-dup verdict against the train split
# ---------------------------------------------------------------------------

_DECON_CAND = " UNION ".join(
    f"SELECT a.doc_id AS doc_id_test, b.doc_id AS doc_id_train "
    f"FROM sigs a JOIN sigs b ON a.band{b} = b.band{b} "
    f"WHERE a.doc_id % 10 >= 8 AND b.doc_id % 10 < 8"
    for b in range(MINHASH_BANDS)
)


@register(
    "decontaminate_test_split",
    oracle=f"""
    WITH {_MINHASH_CTES},
    xc AS ({_DECON_CAND}),
    ver AS (
        SELECT c.doc_id_test, c.doc_id_train,
               len(list_intersect(x.shingles, y.shingles))
                   / greatest(len(list_distinct(x.shingles || y.shingles)), 1)
                   AS jaccard
        FROM xc c
        JOIN sigs x ON x.doc_id = c.doc_id_test
        JOIN sigs y ON y.doc_id = c.doc_id_train
        WHERE len(list_intersect(x.shingles, y.shingles))
              / greatest(len(list_distinct(x.shingles || y.shingles)), 1)
              >= {JACCARD_THRESHOLD}
    ),
    roll AS (
        SELECT doc_id_test,
               count(*) AS n_train_matches,
               max(jaccard) AS max_jaccard
        FROM ver GROUP BY 1
    )
    SELECT d.doc_id,
           r.doc_id_test IS NOT NULL AS is_contaminated,
           CAST(coalesce(r.n_train_matches, 0) AS BIGINT)
               AS n_train_matches,
           r.max_jaccard
    FROM documents d LEFT JOIN roll r ON d.doc_id = r.doc_id_test
    WHERE d.doc_id % 10 >= 8
    """,
    doc="Benchmark decontamination at document granularity — the "
    "eval-integrity step every LLM training run owes its test sets "
    "(contamination_ngram_overlap is the n-gram-level sibling; this "
    "is the near-dup-document level): every TEST-split document "
    "(doc_id % 10 >= 8 stands in for the benchmark) gets a verdict "
    "against the TRAIN split — is any train document a MinHash "
    f"near-duplicate at Jaccard >= {JACCARD_THRESHOLD}, how many, "
    "and how close is the worst. Train-vs-test only, never either "
    "side against itself (the dedup_minhash_incremental posture with "
    "the splits as the batch boundary), composed with the collapse "
    "rule: band-join and verify run over DISTINCT texts with "
    "test/train side flags; identical-text leakage rides the flags "
    "at Jaccard 1.0 with zero pairwise work; the per-test-doc rollup "
    "sums TRAIN MEMBER COUNTS per matched text (exactly the "
    "doc-level pair count, without materializing doc pairs). The "
    "oracle replays the uncollapsed doc-level band join and rollup — "
    "parity proves the collapsed rollup exact. Output is one row per "
    "test document (left join restores no-shingle and clean docs), "
    "the drop/keep list a decontamination stage feeds downstream.",
    headline=True,
    tags=("dedup", "lsh", "pipeline", "audit"),
)
def decontaminate_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sigs = _minhash_sig_table(spark, sf_dir)
    _db = table_bytes(sf_dir)  # r12 corpus-size gate, see stagemat
    members = docs.select(F.md5("text").alias("gh"), "doc_id")
    is_test = F.col("doc_id") % 10 >= 8
    # r11 scan fold (the dedup_minhash_incremental treatment): sides,
    # the band melt, and the shingle projection are each read by two
    # downstream branches — lazy localCheckpoints of the three
    # DISTINCT-TEXT-sized frames cut the printed corpus scans 10 -> 4
    # (the corpus-sized members frame stays checkpoint-free by the
    # bounded-frame rule; its md5 projections still print).
    sides = stage_ck(members.groupBy("gh").agg(
        F.max(is_test.cast("int")).alias("has_test"),
        F.max((~is_test).cast("int")).alias("has_train"),
    ), src_bytes=_db)
    sided = sigs.join(sides, "gh")
    bands_long = stage_ck(sided.select(
        "gh",
        "has_test",
        "has_train",
        F.posexplode(
            F.array(*[F.col(f"band{b}") for b in range(MINHASH_BANDS)])
        ).alias("band_id", "sig"),
    ), src_bytes=_db)
    left = bands_long.where(F.col("has_test") == 1).select(
        F.col("gh").alias("gh_t"), "band_id", "sig"
    )
    right = bands_long.where(F.col("has_train") == 1).select(
        F.col("gh").alias("gh_r"), "band_id", "sig"
    )
    cand = (
        left.join(right, ["band_id", "sig"])
        .where(F.col("gh_t") != F.col("gh_r"))
        .select("gh_t", "gh_r")
        .distinct()
    )
    sh_ck = stage_ck(sigs.select("gh", "shingles"), src_bytes=_db)
    x = sh_ck.select(F.col("gh").alias("gh_t"), F.col("shingles").alias("sh_t"))
    y = sh_ck.select(F.col("gh").alias("gh_r"), F.col("shingles").alias("sh_r"))
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
        sides.where((F.col("has_test") == 1) & (F.col("has_train") == 1))
        .join(sh_ck.select("gh"), "gh", "left_semi")
        .select(
            F.col("gh").alias("gh_t"),
            F.col("gh").alias("gh_r"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    rep_pairs = cross.unionByName(same)
    # doc-level pair counts WITHOUT doc pairs: each matched train text
    # contributes its train member count
    tcnt = (
        members.where(~is_test)
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("n_tr"))
        .select(F.col("gh").alias("gh_r"), "n_tr")
    )
    per_text = (
        rep_pairs.join(tcnt, "gh_r")
        .groupBy("gh_t")
        .agg(
            F.sum("n_tr").cast("bigint").alias("n_train_matches"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )
    test_docs = members.where(is_test).select("gh", "doc_id")
    roll = test_docs.join(
        per_text.select(F.col("gh_t").alias("gh"), "n_train_matches", "max_jaccard"),
        "gh",
        "left",
    )
    return roll.select(
        "doc_id",
        F.col("n_train_matches").isNotNull().alias("is_contaminated"),
        F.coalesce(F.col("n_train_matches"), F.lit(0))
        .cast("bigint")
        .alias("n_train_matches"),
        "max_jaccard",
    )


# ---------------------------------------------------------------------------
# Exact n-gram decontamination: the published 13-gram standard
# ---------------------------------------------------------------------------

# The GPT-3 appendix's decontamination recipe (public): a training
# document is contaminated if it shares any exact 13-token n-gram with
# an evaluation document. Complements decontaminate_test_split's
# MinHash posture: MinHash finds whole-document near-duplicates; the
# n-gram containment check catches a benchmark QUOTE embedded in an
# otherwise-unrelated long document, which document-level Jaccard
# dilutes below any workable threshold.
_DECON_NGRAM_N = 13


def _ngram_hash_sql(expr: str) -> str:
    """48-bit integer hash of an n-gram string — md5-prefix via the
    exact-in-both-engines <=12-nibble conv recipe."""
    return f"CAST(CONCAT('0x', substr(md5({expr}), 1, 12)) AS UBIGINT)"


@register(
    "decontaminate_ngram_exact",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT doc_id,
               {_ngram_hash_sql(
                   f"array_to_string(t[s : s + {_DECON_NGRAM_N - 1}], ' ')")}
                   AS gh
        FROM toks,
             unnest(generate_series(1, len(t) - {_DECON_NGRAM_N - 1}))
                 AS g(s)
        WHERE len(t) >= {_DECON_NGRAM_N}
    ),
    tg AS (SELECT DISTINCT doc_id, gh FROM grams WHERE doc_id % 10 < 8),
    te AS (SELECT DISTINCT gh FROM grams WHERE doc_id % 10 >= 8),
    hits AS (
        SELECT doc_id, count(*) AS n_hit FROM tg JOIN te USING (gh)
        GROUP BY 1
    ),
    tot AS (SELECT doc_id, count(*) AS n_grams FROM tg GROUP BY 1)
    SELECT t.doc_id,
           CAST(t.n_grams AS BIGINT) AS n_grams,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit_ngrams,
           coalesce(h.n_hit, 0) / CAST(t.n_grams AS DOUBLE)
               AS contamination_rate,
           coalesce(h.n_hit, 0) >= 1 AS is_contaminated
    FROM tot t LEFT JOIN hits h USING (doc_id)
    """,
    doc=f"Exact {_DECON_NGRAM_N}-gram decontamination — the published "
    "GPT-3-appendix standard, next to decontaminate_test_split's "
    "MinHash posture and contamination_ngram_overlap's "
    "benchmark-centric 3-gram scan: a train document (doc_id%10<8) is contaminated "
    f"if any of its exact {_DECON_NGRAM_N}-token n-grams appears in "
    "any benchmark document (doc_id%10>=8). Catches a benchmark QUOTE "
    "embedded in an otherwise-unrelated long document, which "
    "document-level Jaccard dilutes below any workable threshold. "
    "Scale shape: the n-gram explode is token-proportional (len-12 "
    "grams per doc), both sides collapse to DISTINCT (doc, gram-hash) "
    "/ DISTINCT gram-hash BEFORE the join (the collapse rule), keys "
    "are 48-bit md5-prefix integers (8-byte shuffle, exact in both "
    "engines via the <=12-nibble conv recipe), and at 100 TB the "
    "benchmark side's distinct-gram table is eval-suite-sized — a "
    "broadcast — so the train side is ONE scan: the distinct "
    "(doc, gram) set left-joins the broadcast benchmark grams and a "
    "single groupBy computes n_grams (count) and n_hit (sum of hit "
    "flags) together, so the token-proportional explode+distinct "
    "subtree executes exactly once (r8 verdict ran it twice — the "
    "plans diverged right after tg, outside exchange reuse). Per-doc "
    "output: distinct-gram count, hit count, contamination rate, "
    "verdict boolean.",
    tags=("dedup", "pipeline", "text", "quality"),
)
def decontaminate_ngram_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ", -1).alias("t"))
    n = _DECON_NGRAM_N
    gh = F.conv(
        F.substring(
            F.md5(F.concat_ws(" ", F.slice("t", F.col("i"), n))), 1, 12
        ),
        16,
        10,
    ).cast("bigint")
    grams = (
        toks.where(F.size("t") >= n)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.size("t") - (n - 1))
            ).alias("i"),
            "t",
        )
        .select("doc_id", gh.alias("gh"))
    )
    is_train = F.col("doc_id") % 10 < 8
    tg = grams.where(is_train).distinct()
    te = grams.where(~is_train).select("gh").distinct()
    # Single pass: left-join the broadcast benchmark grams and fold
    # n_grams + n_hit into ONE groupBy, so tg (the token-proportional
    # explode + distinct) executes exactly once.
    marked = tg.join(
        F.broadcast(te.withColumn("hit", F.lit(1))), "gh", "left"
    )
    agg = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
    )
    return agg.select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.col("n_hit").cast("bigint").alias("n_hit_ngrams"),
        (F.col("n_hit") / F.col("n_grams").cast("double")).alias(
            "contamination_rate"
        ),
        (F.col("n_hit") >= 1).alias("is_contaminated"),
    )


# ---------------------------------------------------------------------------
# ExactSubstr cut list: maximal duplicated-span extraction
# ---------------------------------------------------------------------------

# The published ExactSubstr standard (Lee et al. 2021, "Deduplicating
# Training Data Makes Language Models Better"): find every maximal
# token run of length >= L that occurs more than once in the corpus
# and emit it as a CUT LIST (doc, start, end) a surgical-dedup pass
# consumes. The paper builds a corpus suffix array — inherently
# single-node; the distributed analog is stride-1 L-token WINDOW
# hashes: a window occurring >= 2 times anywhere in the corpus is
# duplicated, and a doc's "runs" are its MERGED DUPLICATED-WINDOW
# COVERAGE — the islands merge joins hit positions whose gap is <= L,
# which unions overlapping windows AND absorbs (a) adjacent
# non-overlapping windows at gap == L and (b) any non-duplicated
# tokens bridging a gap <= L. So an emitted run is a superset-union of
# duplicated material, not itself guaranteed to occur twice verbatim:
# completeness holds (every duplicated substring of length >= L
# contains a fully-inside duplicated window, so it is covered), but a
# run's full span may be unique to its doc. That is the CUT-LIST
# contract (what surgery may excise), matching Lee et al.'s
# remove-the-covered-spans usage; it is NOT a maximal-duplicated-
# substring extractor. The impl, the SQL oracle, and the fuzz
# reference all share this construction, and the surgery keeper
# hashes the merged-span content — exact-equal merged spans share a
# keeper; a merged span equal to nothing else keeps itself (and its
# genuinely-duplicated sub-spans ride along uncut). Tighten the
# island condition to gap <= L-1 if true run semantics are ever
# needed.
#
# The paper's L is 50 tokens; this corpus averages ~55 tokens/doc, so
# the in-tree constant is 30 to exercise sub-document runs (a 50 here
# degenerates to whole-doc duplicates). The semantics are
# L-parametric; nothing below depends on the value.
_CUTLIST_L = 30

# Shared oracle CTE chain ending in `runs` (doc_id, run_start, run_end,
# run_len, n_windows) — the cut list every span-family SQL oracle
# consumes, so the cut-list emitter, the surgery consumer, the apply
# step, and the surgical pipeline can never disagree on what a maximal
# run is. ``src`` parameterizes the corpus relation (the surgical
# pipeline runs the chain over its `survivors` CTE instead of the raw
# documents table).


def _cutlist_runs_ctes(src: str = "documents") -> str:
    return f"""toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM {src}
    ),
    w AS (
        SELECT doc_id, s AS pos,
               {_ngram_hash_sql(
                   f"array_to_string(t[s : s + {_CUTLIST_L - 1}], ' ')")}
                   AS wh
        FROM toks,
             unnest(generate_series(1, len(t) - {_CUTLIST_L - 1}))
                 AS g(s)
        WHERE len(t) >= {_CUTLIST_L}
    ),
    hits AS (
        SELECT doc_id, pos FROM (
            SELECT doc_id, pos,
                   count(*) OVER (PARTITION BY wh) AS n_occ
            FROM w
        ) WHERE n_occ >= 2
    ),
    isl AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (
                        PARTITION BY doc_id ORDER BY pos
                    ) > {_CUTLIST_L} THEN 1 ELSE 0 END AS new_run
        FROM hits
    ),
    islands AS (
        SELECT doc_id, pos,
               sum(new_run) OVER (
                   PARTITION BY doc_id ORDER BY pos
               ) AS run_id
        FROM isl
    ),
    runs AS (
        SELECT doc_id,
               CAST(min(pos) AS BIGINT) AS run_start,
               CAST(max(pos) + {_CUTLIST_L - 1} AS BIGINT) AS run_end,
               CAST(max(pos) + {_CUTLIST_L} - min(pos) AS BIGINT)
                   AS run_len,
               CAST(count(*) AS BIGINT) AS n_windows
        FROM islands GROUP BY doc_id, run_id
    )"""


_CUTLIST_RUNS_CTES = _cutlist_runs_ctes()


@register(
    "dedup_span_cutlist",
    oracle=f"""
    WITH {_CUTLIST_RUNS_CTES}
    SELECT doc_id, run_start, run_end, run_len, n_windows FROM runs
    """,
    doc=f"ExactSubstr-style maximal duplicated-span CUT LIST (Lee et "
    "al. 2021's surgical-dedup contract; r8 verdict ask #2): one row "
    f"per maximal token run of length >= {_CUTLIST_L} that occurs >= 2 "
    "times in the corpus (any positions, same-doc repeats included, "
    "per the published method), as 1-based inclusive token offsets "
    "(doc_id, run_start, run_end, run_len, n_windows). The paper's "
    "suffix array is single-node; the distributed analog is stride-1 "
    f"{_CUTLIST_L}-token window hashes (48-bit md5-prefix integers, "
    "exact in both engines) + a gaps-and-islands merge. Duplicated-"
    "window membership (r10, skew-safe): the window index is "
    "materialized once (lazy localCheckpoint — the published "
    "pipeline's own materialization point), the duplicated-hash set "
    "is a map-side partial-aggregated groupBy, and the left-semi "
    "join back is AQE-skew-splittable, so a boilerplate block "
    "appearing in millions of docs cannot funnel one partition (the "
    "r9 count-over-Window shape straggled occurrence-proportionally; "
    "tools/skew_probe_span.py + SCALE.md r10 have the planted-probe "
    "numbers). Then per-doc lag/sum windows (partitioned by doc_id — "
    "never global) merge windows whose coverage overlaps (gap > L "
    "starts a new island) into maximal runs. Scale shape: the window "
    "index is token-proportional in ROWS (hashing CPU is token x L — "
    "each position md5s an L-token slice; see SCALE.md r10 for the "
    "measured constant), every stage is key-partitioned with no "
    "driver materialization, and the emitted cut list is output-"
    "proportional. A planted-duplication fixture (tests/"
    "test_r9_ops.py) pins that an embedded 60-token quote shared by "
    "two docs yields EXACTLY one maximal run per doc with exact "
    "offsets.",
    tags=("dedup", "pipeline", "text"),
    headline=True,
)
def dedup_span_cutlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p4_mapreduce_spark.stagemat import table_bytes

    return _span_runs(
        load(spark, sf_dir, "documents"), src_bytes=table_bytes(sf_dir)
    )


def _span_runs(
    docs: DataFrame, skew_safe: bool = True, src_bytes: int | None = None
) -> DataFrame:
    """The cut list as a frame: (doc_id, run_start, run_end, run_len,
    n_windows) — shared by the emitter query and the surgery consumer
    (mirrors the shared _CUTLIST_RUNS_CTES on the oracle side)."""
    return _runs_from_windows(
        _span_windows(docs, src_bytes=src_bytes), skew_safe=skew_safe
    )


def _span_windows(docs: DataFrame, src_bytes: int | None = None) -> DataFrame:
    """Stride-1 L-token window hashes: (doc_id, pos, wh). The only
    stage that touches text — the streaming twin runs it per ingest
    batch and keeps ONLY these rows as state (the window index)."""
    L = _CUTLIST_L
    # r13 explode-amplification guard: the stride-1 window hash does
    # one md5 per TOKEN — per-row CPU that input-split sizing cannot
    # see (tables.spread_small_scan: no-op whenever the scan already
    # yields >= a round of splits, i.e. always at the 100 TB steady
    # state; at local SF it breaks the one-small-file serial stage)
    from p4_mapreduce_spark.sources.tables import spread_small_scan

    toks = spread_small_scan(
        docs.select("doc_id", "text"),
        src_bytes=src_bytes,
        amp=_SPREAD_AMP_TOKEN_MD5,
    ).select("doc_id", F.split("text", " ", -1).alias("t"))
    wh = F.conv(
        F.substring(
            F.md5(F.concat_ws(" ", F.slice("t", F.col("pos"), L))), 1, 12
        ),
        16,
        10,
    ).cast("bigint")
    return (
        toks.where(F.size("t") >= L)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.size("t") - (L - 1))
            ).alias("pos"),
            "t",
        )
        .select("doc_id", "pos", wh.alias("wh"))
    )


def _runs_from_windows(
    w: DataFrame, skew_safe: bool = True, materialize: bool = False
) -> DataFrame:
    """Window-hash rows -> maximal duplicated runs (text-free half of
    the cut list, also fed by the streaming twin's state reader).

    Duplicated-window membership (``skew_safe=True``, the default
    since r10): ``groupBy(wh).count() >= 2`` + a left-semi join back.
    The r9 ``count over Window.partitionBy(wh)`` shape shuffles once
    but funnels EVERY occurrence of a hot window hash into one
    partition that AQE cannot split (skew-join splitting covers only
    joins), and the ExactSubstr input is boilerplate-heavy by
    definition: a 30-token license block in 1% of 1e9 docs is 1e7
    position rows in ONE window partition (tools/skew_probe_span.py
    plants exactly that corpus; SCALE.md r10 has the straggle
    numbers). In the skew-safe shape every stage is bounded: the
    count is map-side partial-aggregated (a hot key leaves each input
    partition as ONE row, so the aggregation cannot straggle) and the
    semi join back is AQE-skew-splittable. Cost: the two consumers of
    ``w`` re-run its scan+explode+md5 map work (their column pruning
    diverges, so Spark's exchange reuse cannot unify them) — that is
    embarrassingly-parallel map time, bounded at 2x, measured cheaper
    than EITHER the window funnel on a planted corpus or the
    ``materialize=True`` arm (a lazy localCheckpoint of the
    token-proportional index: the deserialized block write costs more
    than recomputing the map). ``skew_safe=False`` keeps the r9 shape
    for the probe's A/B."""
    L = _CUTLIST_L
    if skew_safe:
        # materialize=True swaps recompute for a token-proportional
        # localCheckpoint of the index — measured SLOWER locally (the
        # deserialized block write outweighs re-running the map work)
        # and kept only as the probe's comparison arm
        src = w.localCheckpoint(eager=False) if materialize else w
        dup = (
            src.groupBy("wh")
            .agg(F.count(F.lit(1)).alias("n_occ"))
            .where(F.col("n_occ") >= 2)
            .select("wh")
        )
        hits = src.join(dup, "wh", "leftsemi").select("doc_id", "pos")
    else:
        hits = (
            w.withColumn(
                "n_occ", F.count(F.lit(1)).over(Window.partitionBy("wh"))
            )
            .where(F.col("n_occ") >= 2)
            .select("doc_id", "pos")
        )
    seq = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        hits.withColumn(
            "new_run",
            F.coalesce(
                (F.col("pos") - F.lag("pos").over(seq) > L).cast("int"),
                F.lit(0),
            ),
        )
        .withColumn("run_id", F.sum("new_run").over(seq))
        .groupBy("doc_id", "run_id")
        .agg(
            F.min("pos").alias("s"),
            F.max("pos").alias("e"),
            F.count(F.lit(1)).alias("n_windows"),
        )
    )
    return runs.select(
        "doc_id",
        F.col("s").cast("bigint").alias("run_start"),
        (F.col("e") + (L - 1)).cast("bigint").alias("run_end"),
        (F.col("e") + L - F.col("s")).cast("bigint").alias("run_len"),
        F.col("n_windows").cast("bigint").alias("n_windows"),
    )


@register(
    "dedup_span_surgery",
    oracle=f"""
    WITH {_CUTLIST_RUNS_CTES},
    rc AS (
        SELECT r.doc_id, r.run_start, r.run_len,
               md5(array_to_string(t[r.run_start : r.run_end], ' '))
                   AS ch
        FROM runs r JOIN toks USING (doc_id)
    ),
    keep AS (
        SELECT doc_id, run_len,
               row_number() OVER (
                   PARTITION BY ch ORDER BY doc_id, run_start
               ) = 1 AS keeper
        FROM rc
    ),
    per_doc AS (
        SELECT doc_id,
               count(*) AS n_runs,
               sum(CASE WHEN keeper THEN 0 ELSE 1 END) AS n_runs_cut,
               sum(CASE WHEN keeper THEN 0 ELSE run_len END)
                   AS tokens_removed
        FROM keep GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.t) AS BIGINT) AS n_tokens,
           CAST(coalesce(p.n_runs, 0) AS BIGINT) AS n_runs,
           CAST(coalesce(p.n_runs_cut, 0) AS BIGINT) AS n_runs_cut,
           CAST(coalesce(p.tokens_removed, 0) AS BIGINT)
               AS tokens_removed,
           CAST(len(t.t) - coalesce(p.tokens_removed, 0) AS BIGINT)
               AS tokens_kept
    FROM toks t LEFT JOIN per_doc p USING (doc_id)
    """,
    doc="ExactSubstr SURGERY — the consumption step of "
    "dedup_span_cutlist (Lee et al. 2021: remove every duplicated "
    "substring occurrence except one): per document, how many maximal "
    "duplicated runs it holds, how many get cut, and the resulting "
    "token counts. The corpus-canonical KEEPER of each run CONTENT "
    "(md5 of the run's token slice — exact-equal runs share a keeper; "
    "distinct contents are independent) is the minimal (doc_id, "
    "run_start) occurrence via row_number, so a quote shared by two "
    "docs survives in the lower doc_id and a within-doc repeat keeps "
    "its first occurrence. Maximal runs are disjoint by construction "
    "(islands merge overlapping coverage), so removed-token sums never "
    "double-count. Scale shape (r10, skew-safe): the cut-list subtree "
    "(see dedup_span_cutlist) + ONE doc_id-partitioned LEFT join "
    "carrying every doc past its runs (token arrays move once and are "
    "dropped map-side after the content hash) + the per-run card "
    "materialized once (lazy localCheckpoint, OUTPUT-proportional) so "
    "the keeper selection — a map-side partial-aggregated min(struct) "
    "per content hash + an AQE-skew-splittable join back — cannot "
    "funnel a popular run content into one partition the way the r9 "
    "row_number-over-Window shape did (runless docs ride synthetic "
    "unique keys either way, so no NULL-key skew partition) + one "
    "per-doc aggregation. Output: one row per document — the "
    "post-surgery corpus card.",
    tags=("dedup", "pipeline", "text"),
    headline=True,
)
def dedup_span_surgery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p4_mapreduce_spark.stagemat import table_bytes

    return _surgery_frame(
        load(spark, sf_dir, "documents"), src_bytes=table_bytes(sf_dir)
    )


def _surgery_frame(
    docs: DataFrame, skew_safe: bool = True, src_bytes: int | None = None
) -> DataFrame:
    """dedup_span_surgery over an arbitrary documents frame — the one
    body shared by the registered query and the hypothesis fuzz (which
    pins it against a pure-python keeper reference).

    Keeper selection (``skew_safe=True``, default since r10):
    materialize the per-run card (doc_id, nt, run_start, run_len, ch)
    once — lazy ``localCheckpoint``, OUTPUT-proportional (one row per
    run + one per runless doc; never token-proportional) — then the
    per-content winner via ``groupBy(ch).agg(min(struct(doc_id,
    run_start)))`` (map-side partial-aggregated, so a hot content
    leaves each partition as one row) and an equi-join back
    (AQE-skew-splittable). The r9 ``row_number over
    Window.partitionBy(ch)`` funnels every candidate of a popular run
    content (the planted-boilerplate case — one license block
    appearing as THE run of millions of docs) into one un-splittable
    window partition; a join-back WITHOUT the checkpoint would
    instead recompute the whole cutlist+content subtree per branch
    (measured 2.8x at 30k docs). The min-of-struct is exactly
    row_number()==1 under (doc_id, run_start) ordering because struct
    comparison is lexicographic."""
    return _surgery_card(
        _marked_runs(docs, skew_safe=skew_safe, src_bytes=src_bytes)
    )


def _surgery_card(marked: DataFrame) -> DataFrame:
    """Per-run keeper card -> per-doc surgery card (the text-free half
    of dedup_span_surgery, shared with the streaming state reader)."""
    zero = F.lit(0).cast("bigint")
    is_cut = F.col("run_start").isNotNull() & ~F.col("keeper")
    agg = (
        marked
        .groupBy("doc_id")
        .agg(
            F.first("nt").alias("n_tokens"),
            F.count("run_start").cast("bigint").alias("n_runs"),
            F.sum(F.when(is_cut, 1).otherwise(0))
            .cast("bigint")
            .alias("n_runs_cut"),
            F.sum(F.when(is_cut, F.col("run_len")).otherwise(zero))
            .cast("bigint")
            .alias("tokens_removed"),
        )
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_runs",
        "n_runs_cut",
        "tokens_removed",
        (F.col("n_tokens") - F.col("tokens_removed"))
        .cast("bigint")
        .alias("tokens_kept"),
    )


def _marked_runs(
    docs: DataFrame, skew_safe: bool = True, src_bytes: int | None = None
) -> DataFrame:
    """Per-run keeper card: (doc_id, nt, run_start, run_len, ch,
    keeper) — one row per maximal run plus one synthetic row per
    runless doc. Shared by the surgery card (aggregates it) and the
    apply step (uses the non-keeper rows as the cut set)."""
    return _mark_keepers_from(
        docs,
        _span_runs(docs, skew_safe=skew_safe, src_bytes=src_bytes),
        skew_safe=skew_safe,
    )


def _mark_keepers_from(
    docs: DataFrame, runs: DataFrame, skew_safe: bool = True
) -> DataFrame:
    """Keeper selection given an already-built cut list — the seam the
    streaming twin reuses: its runs come from the accumulated window
    index (text never re-hashed stride-1), its docs from the per-doc
    state card, and the content-hash + keeper semantics here stay
    byte-identical to the batch query's."""
    toks = docs.select("doc_id", F.split("text", " ", -1).alias("t"))
    # ONE corpus-side pass: a single LEFT join carries every doc (with
    # its token array) past its runs, the content hash + token count
    # are computed map-side, and the arrays are DROPPED before any
    # further shuffle — the original shape joined toks twice (content
    # slice + final per-doc join), i.e. a third full corpus scan that
    # this projection eliminates. Runless docs get a synthetic unique
    # ch ("doc:<id>", can never collide with a 32-hex md5), so the
    # keeper window sees singleton partitions instead of one giant
    # NULL-key partition (the skew funnel the plan tests hunt).
    joined = toks.join(runs, "doc_id", "left").select(
        "doc_id",
        F.size("t").cast("bigint").alias("nt"),
        "run_start",
        "run_len",
        F.when(
            F.col("run_start").isNotNull(),
            F.md5(
                F.concat_ws(
                    " ",
                    F.slice(
                        "t",
                        F.col("run_start").cast("int"),
                        F.col("run_len").cast("int"),
                    ),
                )
            ),
        )
        .otherwise(F.concat(F.lit("doc:"), F.col("doc_id").cast("string")))
        .alias("ch"),
    )
    if skew_safe:
        rc = joined.localCheckpoint(eager=False)
        winners = rc.groupBy("ch").agg(
            F.min(F.struct("doc_id", "run_start")).alias("k")
        )
        marked = rc.join(winners, "ch").withColumn(
            "keeper",
            (F.col("doc_id") == F.col("k.doc_id"))
            & F.col("run_start").eqNullSafe(F.col("k.run_start")),
        )
    else:
        marked = joined.withColumn(
            "keeper",
            F.row_number().over(
                Window.partitionBy("ch").orderBy("doc_id", "run_start")
            )
            == 1,
        )
    return marked.select(
        "doc_id", "nt", "run_start", "run_len", "ch", "keeper"
    )


def _apply_clean_ctes() -> str:
    """Oracle CTE chain (prefix it with ``_cutlist_runs_ctes(src)``,
    whose ``toks``/``runs`` it references — the corpus choice lives
    there) ending in ``appagg`` (doc_id, clean_text, n_tokens_kept) — the
    rewritten corpus. Shared by dedup_span_apply's own oracle and the
    surgical training-shards pipeline's composed oracle (which runs it
    over its `survivors` CTE), so the two can never disagree on what
    the post-surgery corpus is."""
    return """rc AS (
        SELECT r.doc_id, r.run_start, r.run_len,
               md5(array_to_string(t[r.run_start : r.run_end], ' '))
                   AS ch
        FROM runs r JOIN toks USING (doc_id)
    ),
    keep AS (
        SELECT doc_id, run_start, run_len,
               row_number() OVER (
                   PARTITION BY ch ORDER BY doc_id, run_start
               ) = 1 AS keeper
        FROM rc
    ),
    cuts AS (
        SELECT doc_id, run_start,
               run_start + run_len - 1 AS cut_end
        FROM keep WHERE NOT keeper
    ),
    pos AS (
        SELECT doc_id, g.s AS p, t[g.s] AS tok
        FROM toks, unnest(generate_series(1, len(t))) AS g(s)
    ),
    kept AS (
        SELECT p.doc_id, p.p, p.tok
        FROM pos p
        WHERE NOT EXISTS (
            SELECT 1 FROM cuts c
            WHERE c.doc_id = p.doc_id
              AND p.p BETWEEN c.run_start AND c.cut_end
        )
    ),
    appagg AS (
        SELECT doc_id,
               string_agg(tok, ' ' ORDER BY p) AS clean_text,
               count(*) AS n_tokens_kept
        FROM kept GROUP BY doc_id
    )"""


@register(
    "dedup_span_apply",
    oracle=f"""
    WITH {_CUTLIST_RUNS_CTES},
    {_apply_clean_ctes()}
    SELECT t.doc_id,
           coalesce(a.clean_text, '') AS clean_text,
           CAST(coalesce(a.n_tokens_kept, 0) AS BIGINT)
               AS n_tokens_kept
    FROM toks t LEFT JOIN appagg a USING (doc_id)
    """,
    doc="ExactSubstr APPLY — the post-surgery corpus (r9 verdict ask "
    "#2, the capstone of the Lee et al. 2021 arc: cut list -> surgery "
    "card -> REWRITTEN corpus): every document with its non-keeper "
    "duplicated runs excised, as (doc_id, clean_text, "
    "n_tokens_kept). The cut set is the surgery card's non-keeper "
    "rows collected per doc (maximal runs are disjoint by "
    "construction, so splicing is well-defined and bounded: <= "
    f"n_tokens/{_CUTLIST_L} cut spans per doc); the rebuild is a "
    "JVM-side higher-order filter (F.filter with index + F.exists "
    "over the doc's cut spans — no Python UDF, no token explode on "
    "the rebuild side). Scale shape: the marked-runs subtree (see "
    "dedup_span_surgery) + ONE doc_id-keyed aggregation of cut spans "
    "(bounded per doc) + ONE doc_id-keyed left join back to the "
    "corpus — rebuild work is O(n_tokens x cut_spans) per doc, "
    "map-side, skew-free. A planted fixture (tests/test_r10_ops.py) "
    "asserts the exact cleaned strings: the lower-doc_id copy of a "
    "planted quote survives verbatim, every other copy is excised.",
    tags=("dedup", "pipeline", "text"),
    headline=True,
)
def dedup_span_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p4_mapreduce_spark.stagemat import table_bytes

    return _apply_frame(
        load(spark, sf_dir, "documents"), src_bytes=table_bytes(sf_dir)
    )


def _apply_frame(
    docs: DataFrame, skew_safe: bool = True, src_bytes: int | None = None
) -> DataFrame:
    """dedup_span_apply over an arbitrary documents frame (shared with
    the planted fixture and the hypothesis fuzz)."""
    return _apply_from_marked(
        _marked_runs(docs, skew_safe=skew_safe, src_bytes=src_bytes),
        docs.select("doc_id", F.split("text", " ", -1).alias("t")),
    )


def _apply_from_marked(marked: DataFrame, toks: DataFrame) -> DataFrame:
    """Cut-span excision given the keeper card and a (doc_id, t)
    token-array frame — shared by the batch query and the streaming
    state reader (whose toks come from the per-doc state card)."""
    cuts = (
        marked.where(F.col("run_start").isNotNull() & ~F.col("keeper"))
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("run_start").alias("s"),
                        (F.col("run_start") + F.col("run_len") - 1).alias(
                            "e"
                        ),
                    )
                )
            ).alias("cuts")
        )
    )
    joined = toks.join(cuts, "doc_id", "left")
    kept = F.filter(
        F.col("t"),
        lambda tok, i: ~F.exists(
            F.col("cuts"),
            lambda c: ((i + 1) >= c["s"]) & ((i + 1) <= c["e"]),
        ),
    )
    clean = F.when(F.col("cuts").isNull(), F.col("t")).otherwise(kept)
    return joined.select(
        "doc_id",
        F.concat_ws(" ", clean).alias("clean_text"),
        F.size(clean).cast("bigint").alias("n_tokens_kept"),
    )


# ---------------------------------------------------------------------------
# r11: cross-source near-duplication matrix (crawl provenance map)
# ---------------------------------------------------------------------------


@register(
    "neardup_source_matrix",
    oracle=f"""
    WITH {_MINHASH_CTES},
    pairs AS ({_MINHASH_PAIRS_SELECT}),
    lab AS (
        SELECT least(da.source, db.source) AS source_a,
               greatest(da.source, db.source) AS source_b
        FROM pairs p
        JOIN documents da ON p.doc_id_a = da.doc_id
        JOIN documents db ON p.doc_id_b = db.doc_id
    ),
    cnt AS (
        SELECT source_a, source_b, count(*) AS n_pairs
        FROM lab GROUP BY 1, 2
    ),
    sz AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
    SELECT c.source_a, c.source_b,
           CAST(c.n_pairs AS BIGINT) AS n_pairs,
           CAST((c.n_pairs * 1000000)
                // CASE WHEN c.source_a = c.source_b
                        THEN (sa.n_docs * (sa.n_docs - 1)) // 2
                        ELSE sa.n_docs * sb.n_docs END
                AS BIGINT) AS rate_ppm
    FROM cnt c
    JOIN sz sa ON c.source_a = sa.source
    JOIN sz sb ON c.source_b = sb.source
    """,
    headline=True,
    doc="Cross-source near-duplication matrix — the crawl PROVENANCE "
    "map: every MinHash near-dup pair (dedup_minhash_lsh's exact "
    "output, composed — the pair frame cannot drift from the dedup "
    "operator because it IS the dedup operator) labeled with its two "
    "documents' sources and rolled up to per-source-pair counts plus "
    "a rate normalized by the possible cross pairs (n_a*n_b, or "
    "n*(n-1)/2 on the diagonal) in exact integer ppm. Off-diagonal "
    "mass is the curation signal: which sources mirror/scrape each "
    "other (dedup one of them wholesale, or down-weight the pair in "
    "the mixture); a hot diagonal says a source self-duplicates "
    "(boilerplate templates). Scale shape: the audited banded-LSH "
    "pair plan, then the OUTPUT-proportional pair frame is lazily "
    "localCheckpoint-ed and joined twice against a (doc_id, source) "
    "projection — pair-bounded shuffles, a source^2-bounded rollup, "
    "and a broadcast size table. All-integer output (counts + "
    "truncating ppm division, positive operands — identical in both "
    "engines).",
    tags=("dedup", "lsh", "stats", "pipeline"),
)
def neardup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh(spark, sf_dir).localCheckpoint(eager=False)
    src = docs.select("doc_id", "source")
    lab = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_id_a"), F.col("source").alias("sa")
            ),
            "doc_id_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_id_b"), F.col("source").alias("sb")
            ),
            "doc_id_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    cnt = lab.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    sz = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    sa = sz.select(F.col("source").alias("source_a"), F.col("n_docs").alias("na"))
    sb = sz.select(F.col("source").alias("source_b"), F.col("n_docs").alias("nb"))
    denom = F.when(
        F.col("source_a") == F.col("source_b"),
        F.expr("(na * (na - 1)) div 2"),
    ).otherwise(F.col("na") * F.col("nb"))
    return (
        cnt.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            (F.col("n_pairs") * F.lit(1000000))
            .cast("bigint")
            .alias("_num"),
            denom.cast("bigint").alias("_den"),
        )
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            F.expr("_num div _den").cast("bigint").alias("rate_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# r12: LSH band-tuning audit (the S-curve, measured on the corpus)
# ---------------------------------------------------------------------------

# (bands, rows-per-band) sweeps with bands * rows == MINHASH_PERMS:
# more rows per band -> higher precision, lower recall (the S-curve
# steepens and shifts right). (4, 4) is the production config.
_TUNE_CONFIGS = ((16, 1), (8, 2), (4, 4), (2, 8))


def _tune_oracle() -> str:
    blocks = []
    for nb, r in _TUNE_CONFIGS:
        joins = " UNION ".join(
            "SELECT a.gh AS ga, b.gh AS gb FROM mh a JOIN mh b ON "
            + " AND ".join(
                f"a.mh{j * r + k} = b.mh{j * r + k}" for k in range(r)
            )
            + " AND a.gh < b.gh"
            for j in range(nb)
        )
        blocks.append(f"""
    cand_{nb} AS MATERIALIZED (SELECT DISTINCT ga, gb FROM ({joins})),
    ver_{nb} AS MATERIALIZED (
        SELECT count(*) AS n FROM cand_{nb} c
        JOIN sh x ON x.gh = c.ga JOIN sh y ON y.gh = c.gb
        WHERE len(list_intersect(x.shingles, y.shingles))
              / greatest(len(list_distinct(x.shingles || y.shingles)), 1)
              >= {JACCARD_THRESHOLD}
    )""")
    rows = " UNION ALL ".join(
        f"""SELECT {nb} AS n_bands, {r} AS rows_per_band,
            (SELECT count(*) FROM cand_{nb}) AS nc,
            (SELECT n FROM ver_{nb}) AS nv"""
        for nb, r in _TUNE_CONFIGS
    )
    return f"""
    WITH groups AS MATERIALIZED (
        SELECT md5(text) AS gh, min(text) AS rtext
        FROM documents GROUP BY 1
    ),
    g2 AS (SELECT gh, rtext AS text FROM groups),
    shingled AS MATERIALIZED (
        SELECT gh, {_SHINGLES_SQL} AS shingles FROM g2
    ),
    hashed AS MATERIALIZED (
        SELECT gh, shingles, {_SHINGLE_HASHES_SQL} AS hh
        FROM shingled WHERE len(shingles) > 0
    ),
    mh AS MATERIALIZED (
        SELECT gh,
               {", ".join(f"{_minhash_sql(p)} AS mh{p}"
                          for p in range(MINHASH_PERMS))}
        FROM hashed
    ),
    sh AS MATERIALIZED (SELECT gh, shingles FROM hashed),
    {", ".join(b.strip() for b in blocks)},
    cfg AS ({rows}),
    ref AS (SELECT nv AS ref_nv FROM cfg WHERE n_bands = 16)
    SELECT CAST(n_bands AS BIGINT) AS n_bands,
           CAST(rows_per_band AS BIGINT) AS rows_per_band,
           CAST(nc AS BIGINT) AS n_candidate_pairs,
           CAST(nv AS BIGINT) AS n_verified_pairs,
           CAST((nv * 1000000) // greatest(nc, 1) AS BIGINT)
               AS precision_ppm,
           CAST((nv * 1000000) // greatest(ref_nv, 1) AS BIGINT)
               AS recall_ppm
    FROM cfg CROSS JOIN ref
    """


@register(
    "minhash_band_tuning_audit",
    oracle=_tune_oracle(),
    doc="LSH band-tuning audit — the MinHash S-curve MEASURED on the "
    "corpus instead of assumed from theory: the same 16 permutations "
    "re-banded as 16x1 / 8x2 / 4x4 / 2x8 (bands x rows), and per "
    "config the DISTINCT candidate-pair count, the Jaccard-verified "
    "pair count, precision (verified/candidates, the wasted-verify "
    "cost), and recall vs the 16x1 reference (a single matching "
    "minhash row is implied by ANY band match of ANY config, so 16x1 "
    "candidates are a superset of every other config's — the "
    "candidate-complete reference that makes recall measurable "
    "without an all-pairs join). This is the table that justifies "
    f"the production {MINHASH_BANDS}x{ROWS_PER_BAND} choice and the "
    "number to re-run when the near-dup threshold moves. Scale "
    "shape: ONE distinct-text minhash subtree (stage-materialized, "
    "corpus-size-gated) feeds all four arms; each arm is a banded "
    "equi-join over distinct texts — and the low-rows configs' "
    "candidate growth IS the finding (run the audit on a sample at "
    "production scale; its point is to price exactly that blowup "
    "before a config ships). All counts exact bigints, ppm exact "
    "integer floor division.",
    tags=("dedup", "lsh", "audit", "quality"),
)
def minhash_band_tuning_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    _db = table_bytes(sf_dir)
    groups = docs.groupBy(F.md5("text").alias("gh")).agg(
        F.min("text").alias("rtext")
    )
    toks = groups.select(
        "gh", F.split("rtext", " ", -1).alias("toks")
    ).where(F.size(F.split("rtext", " ", -1)) >= 3)
    shingled = toks.select(
        "gh", _shingles_from_tokens(F.col("toks")).alias("shingles")
    )
    hashed = shingled.select(
        "gh", "shingles", _shingle_hashes_col(F.col("shingles")).alias("hh")
    )
    mh = stage_ck(
        hashed.select(
            "gh",
            *[
                _minhash_col(p, F.col("hh")).alias(f"mh{p}")
                for p in range(MINHASH_PERMS)
            ],
        ),
        src_bytes=_db,
    )
    sh = stage_ck(hashed.select("gh", "shingles"), src_bytes=_db)
    x = sh.select(F.col("gh").alias("ga"), F.col("shingles").alias("sa"))
    y = sh.select(F.col("gh").alias("gb"), F.col("shingles").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size(F.array_distinct(F.concat("sa", "sb")))
    per_cfg = []
    for nb, r in _TUNE_CONFIGS:
        bands = F.array(
            *[
                F.concat_ws(
                    "|",
                    *[F.col(f"mh{j * r + k}") for k in range(r)],
                )
                for j in range(nb)
            ]
        )
        long = mh.select("gh", F.posexplode(bands).alias("band_id", "sig"))
        # candidate frame read TWICE (count arm + verify arm) — the
        # review-caught duplicate: without materialization each arm
        # re-runs the band self-join, and the 16x1 arm's blowup is
        # exactly what the audit prices. Pair-output-proportional, so
        # the bounded-frame rule allows it (size-gated like the rest).
        cand = stage_ck(
            long.select(F.col("gh").alias("ga"), "band_id", "sig")
            .join(
                long.select(F.col("gh").alias("gb"), "band_id", "sig"),
                ["band_id", "sig"],
            )
            .where(F.col("ga") < F.col("gb"))
            .select("ga", "gb")
            .distinct(),
            src_bytes=_db,
        )
        ver = (
            cand.join(x, "ga")
            .join(y, "gb")
            .where(inter / F.greatest(union, F.lit(1)) >= JACCARD_THRESHOLD)
        )
        per_cfg.append(
            cand.agg(F.count(F.lit(1)).alias("nc")).crossJoin(
                ver.agg(F.count(F.lit(1)).alias("nv"))
            ).select(
                F.lit(nb).cast("bigint").alias("n_bands"),
                F.lit(r).cast("bigint").alias("rows_per_band"),
                F.col("nc").cast("bigint"),
                F.col("nv").cast("bigint"),
            )
        )
    cfg = per_cfg[0]
    for c in per_cfg[1:]:
        cfg = cfg.unionByName(c)
    # 4-row table read twice (output rows + the 16x1 reference) —
    # always materialize (trivial) so no arm executes twice
    cfg = stage_ck(cfg)
    ref = cfg.where(F.col("n_bands") == 16).select(
        F.col("nv").alias("ref_nv")
    )
    return cfg.crossJoin(F.broadcast(ref)).select(
        "n_bands",
        "rows_per_band",
        F.col("nc").alias("n_candidate_pairs"),
        F.col("nv").alias("n_verified_pairs"),
        F.expr("(nv * 1000000) div greatest(nc, 1)")
        .cast("bigint")
        .alias("precision_ppm"),
        F.expr("(nv * 1000000) div greatest(ref_nv, 1)")
        .cast("bigint")
        .alias("recall_ppm"),
    )
