"""Deterministic corpus sampling (training-data ops).

  hash_sample  keep a row iff pmod(xxhash64(id, salt), D) < p*D — a
               pure function of the row id, so the sample is
               reproducible across runs, engines, partitionings and
               cluster sizes (no RNG state, no seed plumbing through
               executors). Same-salt fractions NEST (the 10% sample is
               a subset of the 30% one — composing takes the min, not
               the product); use a different salt per stage for
               independent thinning.

A map-only single-pass filter — no shuffle, no sampleBy RNG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_DENOM = 1 << 30  # fraction resolution ~1e-9


def hash_sample(
    df: DataFrame,
    fraction: float,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic Bernoulli(fraction) sample keyed on id_col."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction {fraction} outside [0, 1]")
    if fraction >= 1.0:
        return df
    bucket = F.pmod(F.xxhash64(F.col(id_col), F.lit(salt)), F.lit(_DENOM))
    return df.filter(bucket < int(fraction * _DENOM))

