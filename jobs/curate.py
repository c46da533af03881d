"""Corpus-curation job — quality-filter a documents table.

    spark-submit --py-files engine.zip jobs/curate.py \
        --input /data/documents --output /data/curated \
        [--min-tokens 20] [--no-check-lang]

Map-only (engine/ops/curate.py): metrics + verdicts attach with zero
shuffles; the partitioned write is the only exchange-free sink pass.

`--lm-filter` adds a CCNet-style perplexity screen on top of the rule
verdicts (engine/ops/lm.py): a Stupid-Backoff trigram LM is trained on
the RULE-PASSING slice (the corpus's own "trusted" text — no external
model artifact), every doc is scored against it, and docs whose
log-perplexity lands above the `--lm-pct` percentile of the kept
slice's scores are rejected with reason "lm_ppl". Training is one
count groupBy; scoring broadcasts the pruned model, so the extra cost
is two more map-shaped passes over the input — no corpus shuffle.

Writes:

    <output>/kept        documents passing every rule
    <output>/rejected    documents + reasons (audit trail)

and prints a one-line JSON summary with per-reason counts.

Note: the sandbox's synthetic documents table carries decorative lang
labels over English-jargon text (x07_langid_mismatch measures that
disagreement), so on that table use --no-check-lang unless the point
is to exercise the lang screen.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from engine.io.tables import write_table  # noqa: E402
from engine.ops.curate import DEFAULT_RULES, curate  # noqa: E402
from engine.session import get_spark  # noqa: E402


def run(args) -> dict:
    from engine.cli import fill_defaults

    fill_defaults(args, _parser())
    spark = get_spark(
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
        app_name="webtext-curate",
    )
    t0 = time.monotonic()
    from engine.io.export import read_docs

    docs = read_docs(
        spark, args.input, fmt=args.input_format, schema=args.input_schema
    )

    rules = dict(DEFAULT_RULES)
    if args.min_tokens is not None:
        rules["n_tokens"] = (args.min_tokens, rules["n_tokens"][1])
    if args.top_bigram_max is not None:
        # Gopher within-doc repetition rule (engine/ops/curate.py)
        from engine.ops.curate import with_top_bigram_frac

        docs = with_top_bigram_frac(docs, text_col=args.text_col)
        rules["top_bigram_frac"] = (0.0, args.top_bigram_max)
    if args.gopher_repetition:
        # full Gopher repetition panel (top-2/3/4-gram + dup-5..10-gram
        # character fractions) at the paper's published cuts
        from engine.ops.curate import (
            gopher_repetition_rules,
            with_repetition_panel,
        )

        docs = with_repetition_panel(docs, text_col=args.text_col)
        rules.update(gopher_repetition_rules())
    if args.compression_min is not None or args.compression_max is not None:
        # zlib gibberish/template screen: attach the metric BEFORE
        # curate so the rule engine sees it like any other column
        from engine.ops.curate import with_compression_ratio

        docs = with_compression_ratio(docs, text_col=args.text_col)
        rules["compression_ratio"] = (
            args.compression_min if args.compression_min is not None else 0.0,
            args.compression_max if args.compression_max is not None else 10.0,
        )
    verdicts = curate(
        docs,
        text_col=args.text_col,
        rules=rules,
        check_lang=not args.no_check_lang,
    )

    lm_cut = None
    pinned = []  # persist handles to release after the writes
    if args.lm_filter:
        from engine.ops.lm import score_stupid_backoff, train_stupid_backoff

        # rule verdicts feed LM training, scoring, AND the final
        # writes: persist once so the (possibly langid-UDF-bearing)
        # plan is not recomputed per pass
        verdicts = verdicts.persist()
        pinned.append(verdicts)
        trusted = verdicts.filter("keep").select(args.text_col)
        lm = train_stupid_backoff(
            trusted, text_col=args.text_col, min_count=args.lm_min_count
        )
        scored = score_stupid_backoff(
            verdicts.select(args.id_col, args.text_col),
            lm,
            text_col=args.text_col,
            id_col=args.id_col,
        ).select(args.id_col, "logppl")
        # one id-keyed join attaches logppl to the verdict rows; the
        # cut and the final keep column both read from this frame
        verdicts = verdicts.join(scored, args.id_col, "left").persist()
        pinned.append(verdicts)
        # exact percentile of the kept slice's logppl = the cut. One
        # double column over doc rows; at true 100-TB cardinality use
        # percentile_approx here (same plumbing, disclosed accuracy).
        lm_cut = (
            verdicts.filter("keep")
            .agg(F.expr(f"percentile(logppl, {args.lm_pct / 100.0})"))
            .collect()[0][0]
        )
        if lm_cut is not None:  # no rule-kept scored docs -> no screen
            lm_keep = F.col("logppl").isNotNull() & (
                F.col("logppl") <= float(lm_cut)
            )
            verdicts = verdicts.withColumn(
                "reasons",
                F.when(lm_keep, F.col("reasons")).otherwise(
                    F.array_union("reasons", F.array(F.lit("lm_ppl")))
                ),
            ).withColumn("keep", F.col("keep") & lm_keep)

    # the kept and rejected writes are two actions over one plan whose
    # most expensive stage is the langid Arrow UDF: persist so the
    # verdicts compute ONCE, and derive every count from the written
    # tables (no extra pass over the input)
    verdicts = verdicts.persist()
    write_table(verdicts.filter("keep").drop("reasons", "keep"),
                os.path.join(args.output, "kept"))
    write_table(verdicts.filter(~F.col("keep")),
                os.path.join(args.output, "rejected"))
    verdicts.unpersist()
    for df in pinned:
        df.unpersist()

    kept = spark.read.parquet(os.path.join(args.output, "kept"))
    rej = spark.read.parquet(os.path.join(args.output, "rejected"))
    reason_counts = {
        r["reason"]: r["n"]
        for r in rej.select(F.explode("reasons").alias("reason"))
        .groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_rej = rej.count()
    n_docs = kept.count() + n_rej
    wall = time.monotonic() - t0
    result = {
        "wall_s": round(wall, 2),
        "docs": n_docs,
        "kept": n_docs - n_rej,
        "rejected": n_rej,
        "reject_rate": round(n_rej / n_docs, 4) if n_docs else 0.0,
        "reasons": dict(sorted(reason_counts.items())),
    }
    if args.lm_filter:
        result["lm_cut_logppl"] = (
            round(lm_cut, 4) if lm_cut is not None else None
        )
    print(json.dumps(result))
    return result


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="documents table")
    p.add_argument(
        "--input-format",
        choices=["parquet", "jsonl"],
        default="parquet",
        help="jsonl reads gzip/plain JSONL (the C4/Dolma interchange "
        "layout and what engine/io/export.py writes)",
    )
    p.add_argument(
        "--input-schema",
        default=None,
        help="DDL for --input-format jsonl (omit to infer: an extra "
        "full pass — fine for inspection, not at scale)",
    )
    p.add_argument("--output", required=True)
    p.add_argument("--text-col", default="text")
    p.add_argument("--min-tokens", type=int, default=None)
    p.add_argument("--no-check-lang", action="store_true")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument(
        "--lm-filter",
        action="store_true",
        help="CCNet-style perplexity screen under a corpus-trained "
        "Stupid-Backoff trigram LM (engine/ops/lm.py)",
    )
    p.add_argument(
        "--lm-pct",
        type=float,
        default=90.0,
        help="reject docs above this percentile of the rule-kept "
        "slice's log-perplexity",
    )
    p.add_argument("--lm-min-count", type=int, default=2)
    p.add_argument(
        "--top-bigram-max",
        type=float,
        default=None,
        help="Gopher repetition rule: reject docs whose most common "
        "2-gram covers more than this character fraction (Gopher "
        "used 0.20)",
    )
    p.add_argument(
        "--gopher-repetition",
        action="store_true",
        help="attach the full Gopher within-doc repetition panel "
        "(top-2/3/4-gram and dup-5..10-gram character fractions) and "
        "screen at the paper's published cuts (Rae et al. 2021 "
        "Table A1)",
    )
    p.add_argument(
        "--compression-min",
        type=float,
        default=None,
        help="reject docs whose zlib compression ratio is below this "
        "(templated/repeated text compresses too well; reason "
        "compression_ratio)",
    )
    p.add_argument(
        "--compression-max",
        type=float,
        default=None,
        help="reject docs whose zlib compression ratio is above this "
        "(random/encoded junk barely compresses)",
    )
    p.add_argument("--master", default="local[*]")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    return p


def main() -> None:
    run(_parser().parse_args())


if __name__ == "__main__":
    main()
