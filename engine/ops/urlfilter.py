"""URL filtering: domain blocklist + URL keyword scoring.

The first screen of every published web-corpus pipeline (CCNet,
RefinedWeb — Penedo et al. 2023 §3.1 run a domain blocklist and a URL
word-score BEFORE any content processing, because a URL verdict costs
bytes of the url column while a content verdict costs the whole
document). This module gives that screen the engine's scale shapes:

  blocked-domain  the blocklist matches hosts AND their subdomains
                  (ads.bad.com is blocked by bad.com). Suffix match
                  is re-expressed as an equi-join: each host explodes
                  into its registrable suffixes (a.b.c.com ->
                  [a.b.c.com, b.c.com, c.com] — bounded fan-out, one
                  JVM transform), joined against the blocklist on the
                  suffix. The blocklist is a dim table (UT1-style
                  lists are ~10^6 rows); AQE broadcasts it, and the
                  corpus never shuffles (plan-asserted).
  url score       pinned keyword weights summed over case-insensitive
                  substring hits in the full url — pure codegen
                  (sum of `contains` whens), zero Python, zero
                  shuffle. Filter at `threshold`.

Both verdicts are returned as COLUMNS (blocked_domain, url_score,
url_keep) so the caller can audit before dropping — the
jobs/curate.py discipline. `DEFAULT_KEYWORDS` is a deliberately small
pinned list standing in for a production termlist (the operator takes
any {keyword: weight} map); the blocklist likewise arrives as a
DataFrame so UT1-category parquet drops in unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# stand-in termlist (adult/gambling/pharma spam — the RefinedWeb
# categories); production passes its own {keyword: weight}
DEFAULT_KEYWORDS: dict[str, float] = {
    "porn": 1.0,
    "xxx": 1.0,
    "sex": 0.5,
    "escort": 1.0,
    "casino": 1.0,
    "poker": 0.5,
    "betting": 0.5,
    "viagra": 1.0,
    "pills": 0.5,
    "warez": 1.0,
    "crack": 0.5,
    "torrent": 0.5,
}
DEFAULT_THRESHOLD = 1.0
MAX_SUFFIX_LABELS = 8  # a.b.c.d.e... explodes to at most this many


def host_suffixes(host_col) -> "F.Column":
    """array of dot-suffixes of a host, longest first, down to the
    registrable 2-label suffix: a.b.c.com -> [a.b.c.com, b.c.com,
    c.com]. Pure JVM (split/sequence/slice/concat_ws); bounded at
    the LAST MAX_SUFFIX_LABELS labels so a crafted 100-label host
    cannot blow up the explode — the tail is what carries the
    registrable domain, so the bound can never drop a blocklist match
    (review r3: a head-slice here let 9+-label hosts bypass the
    blocklist entirely)."""
    all_labels = F.split(F.lower(host_col), r"\.")
    n_all = F.size(all_labels)
    labels = F.slice(
        all_labels,
        F.greatest(F.lit(1), n_all - F.lit(MAX_SUFFIX_LABELS - 1)),
        MAX_SUFFIX_LABELS,
    )
    n = F.size(labels)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(".", F.slice(labels, i, n)),
        ),
    ).otherwise(F.array(F.lower(host_col)))


def url_score(url_col, keywords: dict[str, float] | None = None) -> "F.Column":
    """Summed weights of keywords appearing (case-insensitive
    substring) in the url — one codegen expression, no Python."""
    kws = DEFAULT_KEYWORDS if keywords is None else keywords
    low = F.lower(url_col)
    score = F.lit(0.0)
    for kw, w in sorted(kws.items()):
        score = score + F.when(low.contains(kw.lower()), F.lit(float(w))).otherwise(
            F.lit(0.0)
        )
    return score


def filter_urls(
    docs: DataFrame,
    blocklist: DataFrame | None = None,
    domain_col: str = "domain",
    url_col: str = "url",
    keywords: dict[str, float] | None = None,
    threshold: float = DEFAULT_THRESHOLD,
) -> DataFrame:
    """Annotate docs with (blocked_domain boolean, url_score double,
    url_keep boolean). url_keep = not blocked and score < threshold.

    blocklist(domain_col) holds lowercase blocked domains; None skips
    the domain screen. The corpus side never shuffles: the suffix
    membership is resolved with a broadcast LEFT SEMI join folded into
    an `exists`-style derived column via a small-side collect-free
    join on the exploded suffix table — concretely, docs gain a
    surrogate row id, suffixes explode from the host, the semi join
    marks blocked ids, and the verdict joins back on the id. For a
    dim-sized blocklist AQE turns both joins into broadcasts."""
    low_url = F.lower(F.coalesce(F.col(url_col), F.lit("")))
    out = docs.withColumn("url_score", url_score(low_url, keywords))
    if blocklist is None:
        out = out.withColumn("blocked_domain", F.lit(False))
    else:
        bl = (
            blocklist.select(F.lower(F.trim(F.col(domain_col))).alias("_sfx"))
            .filter(F.col("_sfx") != "")
            .distinct()
        )
        # budget-gate the blocklist broadcast: public URL blocklists
        # reach 10^7 domains — above the byte budget the semi join is
        # left unhinted and AQE decides from actual sizes
        from engine.partitioning import fits_broadcast_budget

        if fits_broadcast_budget(
            bl, F.length("_sfx") + F.lit(24), 512 * 1024 * 1024
        ):
            bl = F.broadcast(bl)
        sfx = (
            out.select(F.col(url_col).alias("_u"))
            .withColumn(
                "_h",
                F.coalesce(
                    F.try_parse_url(F.lower(F.col("_u")), F.lit("HOST")),
                    F.lit(""),
                ),
            )
            .withColumn("_sfx", F.explode(host_suffixes(F.col("_h"))))
            .select("_u", "_sfx")
        )
        blocked = sfx.join(bl, "_sfx", "semi").select("_u").distinct()
        # blocked holds only BLOCKED urls — usually a sliver of the
        # corpus, but its size is input-dependent, so no forced
        # broadcast on the verdict join-back: AQE picks broadcast when
        # blocked is actually small and falls back to a shuffle join
        # otherwise (ADVICE r2).
        out = out.join(
            blocked.withColumn("blocked_domain", F.lit(True)),
            out[url_col] == blocked["_u"],
            "left",
        ).drop("_u")
        out = out.withColumn(
            "blocked_domain", F.coalesce("blocked_domain", F.lit(False))
        )
    return out.withColumn(
        "url_keep",
        (~F.col("blocked_domain")) & (F.col("url_score") < F.lit(float(threshold))),
    )
