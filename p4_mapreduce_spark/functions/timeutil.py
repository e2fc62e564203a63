"""Timestamp-type-proof epoch extraction.

The events parquet stores ``ts`` as ``timestamp[us]`` with no timezone,
which Spark 4 resolves as ``TIMESTAMP_NTZ`` — and several builtins that
look type-agnostic are not:

- ``F.unix_micros`` / ``F.unix_seconds`` require ``TIMESTAMP`` (LTZ)
  and raise ``DATATYPE_MISMATCH`` on NTZ;
- ``ts.cast("double")`` is defined for LTZ but not NTZ.

Older testdata generations stored nanos-as-long (``sources/tables``
now declares ``ts timestamp_ntz``, so such a file fails its scan), and
a future generation could plausibly write tz-aware micros (LTZ). These
helpers inspect the *actual* resolved type of the column and emit the
right expression for each, so every operator that needs epoch
arithmetic works against any of the three encodings —
and, critically, is **session-independent**: the NTZ path is pure
calendar arithmetic (``timestampdiff`` from the NTZ epoch literal),
bit-identical to DuckDB's ``epoch_us(ts)`` on naive timestamps under
ANY ``spark.sql.session.timeZone``. Do not "fix" NTZ by casting to LTZ:
that cast applies the session timezone and silently shifts every epoch
when the driver owns the session (VERDICT r2 §What's wrong #1).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

_NTZ_EPOCH = "TIMESTAMP_NTZ'1970-01-01 00:00:00'"


def _epoch_micros_sql(df: DataFrame, col: str) -> str:
    dtype = dict(df.dtypes).get(col)
    if dtype is None:
        raise KeyError(f"no column {col!r} in {df.columns}")
    if dtype == "timestamp_ntz":
        return f"timestampdiff(MICROSECOND, {_NTZ_EPOCH}, {col})"
    if dtype == "bigint":  # legacy nanosAsLong scan; integer div — exact
        return f"({col} div 1000)"
    return f"unix_micros({col})"


def epoch_micros(df: DataFrame, col: str = "ts") -> Column:
    """Epoch microseconds of ``df[col]`` for LTZ, NTZ, or bigint ``ts``.

    Matches DuckDB ``epoch_us(ts)`` bit-for-bit on the same parquet
    (DuckDB reads tz-less parquet timestamps as naive == the NTZ path).
    """
    return F.expr(_epoch_micros_sql(df, col))


def epoch_seconds(df: DataFrame, col: str = "ts") -> Column:
    """Whole epoch seconds (floor), exact bigint arithmetic — equals
    DuckDB's per-second truncation for the (non-negative) testdata.

    Integer ``div``, never float ``/``: micros epochs ~1.7e15 divided
    as doubles can misround exactly at second boundaries.
    """
    return F.expr(f"({_epoch_micros_sql(df, col)}) div 1000000")
