"""Skew salting + size-bucketed repartitioning (SURVEY.md §2 A13-A14).

Why this exists: host distribution in a crawl is zipfian — a handful
of hosts carry a large share of pages — and document sizes span 4+
orders of magnitude. Hash-partitioning by host alone puts one giant
host in one task; partitioning by row count alone puts a few 10 MB
documents in one task while others get 1 KB pages. Both serialize the
expensive Python extraction stage.

Strategy (all JVM-side expressions — zero Python):
  * salt: part_key = xxhash64(url) % salt_buckets on TOP of the host,
    so a hot host spreads over `salt_buckets` tasks;
  * size bucket: width_bucket(log2(len(html)+1), 0, 30, 15) groups
    rows by order-of-magnitude payload size; including the bucket in
    the repartition hash spreads same-sized documents uniformly, so
    per-task byte totals concentrate around the mean (equal-bytes,
    not equal-rows);
  * AQE (adaptive.enabled + advisoryPartitionSizeInBytes) remains the
    runtime backstop for residual skew.

At 1000 executors: repartition(N, size_bucket, host, salt) is one
shuffle before the map-heavy extraction stage — the only shuffle the
extraction pipeline has (metrics aggregation excepted).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DEFAULT_SALT_BUCKETS = 16
SIZE_BUCKETS = 15


def host_col(url_col: str = "url") -> F.Column:
    """Registrable host of the url (JVM parse_url, no Python)."""
    return F.parse_url(F.col(url_col), F.lit("HOST"))


def salt_col(url_col: str = "url", buckets: int = DEFAULT_SALT_BUCKETS) -> F.Column:
    return F.pmod(F.xxhash64(F.col(url_col)), F.lit(buckets))


def size_bucket_col(payload_col: str = "html") -> F.Column:
    return F.width_bucket(
        F.log2(F.length(F.col(payload_col)).cast("double") + F.lit(1.0)),
        F.lit(0.0),
        F.lit(30.0),
        F.lit(SIZE_BUCKETS),
    )


# (A13/A14 note: an explicit pre-extraction repartition on
# (size_bucket, host, salt) was superseded by running extraction
# directly on bounded scan splits — see build_extracted's shuffle
# plan. The column builders above remain the salting/bucketing
# primitives for callers that do need an explicit spread, e.g.
# engine/ops/media.py's decode repartition.)


def fits_broadcast_budget(
    est_df: DataFrame,
    bytes_expr: F.Column,
    budget_bytes: int | None,
) -> bool:
    """Size-budgeted broadcast gate, factored out for every
    |hosts|-sized dim table:
    returns True iff sum(bytes_expr) over est_df fits budget_bytes, so
    the caller may `F.broadcast` the dim side; otherwise the caller
    must leave the join unhinted and let AQE pick the strategy from
    ACTUAL runtime sizes. A forced broadcast of a table that only
    LOOKS host-bounded (10^8 hosts x packed rule arrays = tens of GB)
    is a driver OOM at web scale — the estimate costs one cheap agg
    job (ids/lengths only, map-side combinable) and buys the gate.

    budget_bytes=None disables forcing entirely (always AQE).
    est_df may be any table whose bytes UPPER-BOUND the broadcast
    candidate (e.g. the pre-aggregation rule rows for a packed-array
    dim) so the estimate can ride a map-only scan instead of running
    the dim's shuffle twice."""
    if budget_bytes is None:
        return False
    est = est_df.select(
        F.coalesce(F.sum(bytes_expr), F.lit(0)).alias("bytes")
    ).collect()[0]
    return int(est["bytes"]) <= int(budget_bytes)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
    how: str = "inner",
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """B8: salted equi-join for hot join keys (SURVEY.md §2 B8).

    A zipfian key (one host carrying a large share of a crawl) makes
    one shuffle partition of a plain equi-join arbitrarily large; AQE's
    skewJoin split is a runtime backstop, but only rebalances the SORT
    side — it cannot split a hash partition whose single KEY VALUE
    exceeds a task. Salting fixes it structurally:

      * big side: one extra column `salt = pmod(xxhash64(<row id>), K)`
        — derived from the whole row's unique-ish attributes, NOT the
        join key, so a hot key's rows spread over K partitions;
      * small side: exploded K times via explode(sequence(0, K-1)) so
        every (key, salt) bucket finds its dim row;
      * join on (key, salt): same rows as the plain join — salting is
        result-invariant (verified against a plain-join oracle in
        q39_salted_skew_join) — but the hottest key now occupies K
        tasks instead of one.

    Cost: the small side is duplicated K times (fine: it is the SMALL
    side; K*|small| stays broadcastable in most uses) and the big side
    shuffles the same bytes it would anyway. Use for fact-to-fact
    joins where neither side broadcasts and the key histogram is
    skewed; for broadcastable dims prefer F.broadcast (B5).

    salt_cols: columns of `big` to derive the salt from (default: all).
    Pass a slim set when the big side carries wide payloads — e.g.
    jaccard_verify's second text join salts on (doc_a, doc_b) so the
    already-joined _text_a payload is not re-hashed per row; spreading
    is identical as long as the chosen columns are unique-ish per row.
    """
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in (salt_cols or big.columns)]),
        F.lit(salt_buckets),
    ).alias("_salt")
    big_s = big.withColumn("_salt", salt)
    small_s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    return big_s.join(small_s, [on, "_salt"], how).drop("_salt")


def day_col(ts_col: str = "warc_ts") -> F.Column:
    return F.date_format(F.date_trunc("day", F.col(ts_col)), "yyyy-MM-dd")


def host_bucket_col(url_col: str = "url", host_buckets: int = 64) -> F.Column:
    return F.pmod(F.xxhash64(host_col(url_col)), F.lit(host_buckets)).cast("int")


def with_write_partitions(
    df, url_col: str = "url", ts_col: str = "warc_ts", host_buckets: int = 64
):
    """Attach (day, pbucket) — the physical write-partition columns.
    These MUST equal the checkpoint work-unit key components
    (partition_key_col): dynamic partition overwrite is idempotent
    per work unit only if the write partitioning matches the resume
    granularity."""
    return df.withColumn("day", day_col(ts_col)).withColumn(
        "pbucket", host_bucket_col(url_col, host_buckets)
    )


def partition_key_col(
    url_col: str = "url",
    ts_col: str = "warc_ts",
    host_buckets: int = 64,
) -> F.Column:
    """Stable work-unit key for checkpoint/resume (A12): the host
    bucket. The key must be a function of the URL ONLY (not warc_ts):
    re-crawls of a url carry different capture days, and per-url
    latest-capture dedup (A10) is only global if every capture of a
    url lands in the same resume work unit. Host is stable per url,
    so bucket(host) co-locates them; `day` remains a write-layout
    partition column for time-range pruning, never a work-unit key.
    At 10^12 rows raise host_buckets (e.g. 4096) for finer resume
    granularity — the manifest stays broadcastable either way."""
    return F.pmod(F.xxhash64(host_col(url_col)), F.lit(host_buckets)).cast("string")
