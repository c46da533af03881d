"""End-to-end training-corpus build — one orchestrated, stage-
resumable job over the whole chain (README's manual command sequence,
as a single spark-submit entry):

    spark-submit --py-files engine.zip jobs/corpus.py \
        --pages /data/pages --output /data/corpus \
        [--resume] [--lm-filter] [--sample-fraction 0.5]

Stages, each writing its own parquet table under <output>/:

    extract    pages -> main-content docs (route+extract+dedup latest
               per url; engine/pipeline.build_extracted)
    neardup    MinHash+LSH pairs -> connected components -> canonical
               docs only (engine/ops/{dedup,graph})
    linedup    corpus-wide repeated-line removal rewrite
               (engine/ops/linedup)
    curate     rule verdicts + optional LM perplexity screen —
               composes jobs/curate.run, so the audit layout
               (curate/kept, curate/rejected) and reason stats are
               identical to the standalone job
    dsir       (opt-in, --dsir-target) DSIR importance resampling
               toward a trusted target set -> <output>/dsir_selected
               (engine/ops/dsir; Xie et al. 2023)
    sample     deterministic hash sample -> <output>/final
    pack       (opt-in, --pack-budget) sentence-aware chunking +
               fixed-token-budget example assembly -> <output>/examples
               (engine/ops/pack; packing stats recorded in the
               manifest; chunk text persisted to <output>/chunks for
               the export join)
    export     (opt-in, --export-shard-mb) trainer-ready gzip JSONL
               shards -> <output>/export (engine/io/export; packed
               examples when --pack-budget is set, else the final
               docs table)

Stage resume: after each stage commits, <output>/corpus_manifest.json
is atomically rewritten (tmp + rename, same discipline as
engine/checkpoint.py). `--resume` skips every stage whose manifest
entry exists AND whose output _SUCCESS marker is present — a crash
loses at most the stage in flight, and a finished run reruns as
no-ops: five with the default chain, eight with every opt-in stage.
The manifest keeps only the stages (and their side entries) of the
invocation that wrote it, so a resume that drops an opt-in stage
also drops its entry. Stage outputs are plain parquet tables:
any stage can also be re-driven by its standalone job
(jobs/curate.py) against the same directories.

Prints ONE JSON line: per-stage rows + wall seconds + the manifest.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from engine.session import get_spark  # noqa: E402

MANIFEST = "corpus_manifest.json"
# each opt-in stage's side entries in the manifest and tables under <output>/
_OPT_IN = {
    "dsir": ((), ("dsir_selected",)),
    "pack": (("packing", "bpe"), ("examples", "chunks", "bpe_merges")),
    "export": (("export",), ("export",)),
}


def _load_manifest(out_dir: str) -> dict:
    path = os.path.join(out_dir, MANIFEST)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {"stages": {}}


def _commit_stage(out_dir: str, manifest: dict, stage: str, info: dict) -> None:
    manifest["stages"][stage] = info
    _write_manifest(out_dir, manifest)


def _write_manifest(out_dir: str, manifest: dict) -> None:
    path = os.path.join(out_dir, MANIFEST)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    os.replace(tmp, path)  # atomic on POSIX


def _stage_done(
    out_dir: str,
    manifest: dict,
    stage: str,
    table: str,
    params: dict | None = None,
) -> bool:
    """A committed stage only counts when its semantics-affecting
    params match what the manifest recorded — re-running with e.g. a
    different --sample-fraction must redo the stage, not silently keep
    the old sample. Entries committed before params were recorded (no
    'params' key) match only an empty params dict."""
    if stage not in manifest["stages"]:
        return False
    if (manifest["stages"][stage].get("params") or {}) != (params or {}):
        return False
    return os.path.exists(os.path.join(out_dir, table, "_SUCCESS"))


def run(args) -> dict:
    from engine.cli import fill_defaults

    fill_defaults(args, _parser())
    spark = get_spark(
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
        app_name="webtext-corpus",
    )
    out = args.output
    os.makedirs(out, exist_ok=True)
    manifest = _load_manifest(out) if args.resume else {"stages": {}}

    dirty = False  # once any stage re-runs, every later stage must too
    chain = []  # this invocation's stages, run or skipped

    def stage(name: str, table: str, action, params: dict | None = None) -> None:
        """Run one stage unless already committed WITH the same
        semantics-affecting params; commit its manifest entry
        (rows + wall + params) before the next stage starts. A stage
        that re-runs invalidates everything downstream of it — its
        output is those stages' input, so their committed tables are
        stale even though their own params match."""
        nonlocal dirty
        chain.append(name)
        if (
            args.resume
            and not dirty
            and _stage_done(out, manifest, name, table, params)
        ):
            return
        dirty = True
        t0 = time.monotonic()
        rows = action(os.path.join(out, table))
        info = {"rows": int(rows), "wall_s": round(time.monotonic() - t0, 2)}
        if params:
            info["params"] = params
        _commit_stage(out, manifest, name, info)

    # -- extract ------------------------------------------------------
    def do_extract(path: str) -> int:
        from engine.pipeline import build_extracted

        pages = spark.read.parquet(args.pages)
        build_extracted(pages).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path).count()

    stage("extract", "extracted", do_extract)

    # -- near-dup dedup to canonical docs ------------------------------
    def do_neardup(path: str) -> int:
        from engine.ops.dedup import minhash_candidate_pairs
        from engine.ops.graph import dedup_clusters

        docs = spark.read.parquet(os.path.join(out, "extracted"))
        nonempty = docs.filter(
            F.length(F.coalesce(F.col("text"), F.lit(""))) > 0
        )
        pairs = minhash_candidate_pairs(nonempty, id_col="url")
        clusters = dedup_clusters(nonempty.select("url"), pairs, id_col="url")
        canonical = nonempty.join(
            clusters.filter("is_canonical = 1").select("url"), "url"
        )
        canonical.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path).count()

    stage("neardup", "canonical", do_neardup)

    # -- corpus-wide line dedup rewrite --------------------------------
    def do_linedup(path: str) -> int:
        from engine.ops.linedup import dedup_lines

        docs = spark.read.parquet(os.path.join(out, "canonical"))
        dedup_lines(docs, id_col="url").write.mode("overwrite").parquet(path)
        return spark.read.parquet(path).count()

    stage("linedup", "cleaned", do_linedup)

    # -- curation (+ optional LM screen): the standalone job, composed -
    def do_curate(path: str) -> int:
        import types

        from jobs.curate import run as curate_run

        res = curate_run(
            types.SimpleNamespace(
                input=os.path.join(out, "cleaned"),
                output=path,
                id_col="url",
                min_tokens=args.min_tokens,
                no_check_lang=not args.check_lang,
                lm_filter=args.lm_filter,
                lm_pct=args.lm_pct,
                gopher_repetition=args.gopher_repetition,
                compression_min=args.compression_min,
                compression_max=args.compression_max,
                master=args.master,
                shuffle_partitions=args.shuffle_partitions,
            )
        )
        return res["kept"]

    # curate must honor the same resume discipline as stage(): skip only
    # when upstream is clean AND its semantics-affecting params match.
    # (It can't go through stage() verbatim because the curate job
    # writes <table>/kept/_SUCCESS, not <table>/_SUCCESS.)
    curate_params = {
        "min_tokens": args.min_tokens,
        "check_lang": bool(args.check_lang),
        "lm_filter": bool(args.lm_filter),
        "lm_pct": args.lm_pct,
        "gopher_repetition": bool(args.gopher_repetition),
        "compression_min": args.compression_min,
        "compression_max": args.compression_max,
    }

    def curate_done() -> bool:
        entry = manifest["stages"].get("curate")
        return (
            entry is not None
            and (entry.get("params") or {}) == curate_params
            and os.path.exists(os.path.join(out, "curate", "kept", "_SUCCESS"))
        )

    chain.append("curate")
    if not (args.resume and not dirty and curate_done()):
        dirty = True
        t0 = time.monotonic()
        kept_rows = do_curate(os.path.join(out, "curate"))
        _commit_stage(
            out,
            manifest,
            "curate",
            {
                "rows": int(kept_rows),
                "wall_s": round(time.monotonic() - t0, 2),
                "params": curate_params,
            },
        )

    sample_input = os.path.join("curate", "kept")

    # -- optional: DSIR importance resampling (Xie et al. 2023) ---------
    # distribution-MATCHING selection toward a trusted target set,
    # after the rule/LM screens (select from already-clean docs)
    if args.dsir_target:

        def do_dsir(path: str) -> int:
            from engine.ops.dsir import (
                dsir_select_fraction,
                fit_dsir,
            )
            from engine.ops.sample import hash_sample

            kept = spark.read.parquet(os.path.join(out, sample_input))
            target = spark.read.parquet(args.dsir_target)
            # the fit needs distribution-level counts, not every row:
            # cap the raw side at a deterministic sample
            raw = hash_sample(kept, args.dsir_fit_fraction, id_col="url")
            model = fit_dsir(target, raw, text_col="text")
            sel = dsir_select_fraction(
                kept, model, args.dsir_fraction, id_col="url"
            )
            sel.write.mode("overwrite").parquet(path)
            return spark.read.parquet(path).count()

        stage(
            "dsir",
            "dsir_selected",
            do_dsir,
            params={
                "target": args.dsir_target,
                "fraction": args.dsir_fraction,
            },
        )
        sample_input = "dsir_selected"

    # -- deterministic sample -> final ----------------------------------
    def do_sample(path: str) -> int:
        from engine.ops.sample import hash_sample

        kept = spark.read.parquet(os.path.join(out, sample_input))
        hash_sample(kept, args.sample_fraction, id_col="url").write.mode(
            "overwrite"
        ).parquet(path)
        return spark.read.parquet(path).count()

    stage(
        "sample",
        "final",
        do_sample,
        params={"input": sample_input, "fraction": args.sample_fraction},
    )

    # -- optional: sentence-aware chunking + sequence packing -----------
    if args.pack_budget:

        def do_pack(path: str) -> int:
            from engine.ops.pack import pack_sequences, packing_stats
            from engine.udfs import CHUNKS_DDL, chunk_map_in_pandas

            docs = spark.read.parquet(os.path.join(out, "final"))
            # text was rewritten by linedup/curation, so spans are
            # recomputed inside the chunker (legacy-row fallback)
            src = docs.filter(F.length(F.coalesce("text", F.lit(""))) > 0).select(
                "url",
                "text",
                F.lit(None).cast("array<long>").alias("sent_spans"),
            )
            chunks = src.mapInPandas(chunk_map_in_pandas, CHUNKS_DDL)
            token_col = None
            if getattr(args, "bpe_merges", 0):
                # size examples in REAL subword tokens: train BPE on
                # this corpus (engine/ops/bpe — sample-trained,
                # map-only apply), persist merges beside the corpus
                from engine.ops.bpe import bpe_encode, save_bpe, train_bpe

                merges = train_bpe(
                    docs, n_merges=args.bpe_merges, id_col="url"
                )
                save_bpe(spark, merges, os.path.join(out, "bpe_merges"))
                manifest["bpe"] = {"n_merges": len(merges)}
                chunks = bpe_encode(
                    chunks, merges, text_col="chunk_text", count_only=True
                )
                token_col = "n_bpe_tokens"
            else:
                # a re-run without BPE must not keep a previous run's
                # merges: the examples are now sized in whitespace words
                manifest.pop("bpe", None)
                if os.path.isdir(os.path.join(out, "bpe_merges")):
                    shutil.rmtree(os.path.join(out, "bpe_merges"))
            # persist chunk text beside the assignments: the export
            # stage joins it back (and downstream vector jobs reuse it)
            chunks.write.mode("overwrite").parquet(os.path.join(out, "chunks"))
            chunks = spark.read.parquet(os.path.join(out, "chunks"))
            asg = pack_sequences(
                chunks,
                args.pack_budget,
                n_shards=args.pack_shards,
                token_col=token_col,
            )
            asg.write.mode("overwrite").parquet(path)
            asg = spark.read.parquet(path)
            stats = packing_stats(asg, args.pack_budget).collect()[0].asDict()
            manifest["packing"] = {k: (float(v) if v is not None else None) for k, v in stats.items()}
            return asg.count()

        stage(
            "pack",
            "examples",
            do_pack,
            params={
                "input": "final",
                "budget": args.pack_budget,
                "shards": args.pack_shards,
                "bpe_merges": getattr(args, "bpe_merges", 0),
            },
        )

    # -- optional: JSONL training export --------------------------------
    if args.export_shard_mb:

        def do_export(path: str) -> int:
            from engine.io.export import export_jsonl

            if args.pack_budget:
                # packed path: materialize examples (ordered chunk
                # concat, engine/ops/pack.assemble_examples) and ship
                # those — the trainer-ready unit
                from engine.ops.pack import assemble_examples

                asg = spark.read.parquet(os.path.join(out, "examples"))
                chunks = spark.read.parquet(os.path.join(out, "chunks"))
                rows, key = assemble_examples(asg, chunks), "example_id"
            else:
                rows, key = (
                    spark.read.parquet(os.path.join(out, "final")),
                    "url",
                )
            info = export_jsonl(
                rows,
                path,
                key_col=key,
                shard_max_bytes=args.export_shard_mb << 20,
            )
            manifest["export"] = info
            return info["rows"]

        stage(
            "export",
            "export",
            do_export,
            params={
                "packed": bool(args.pack_budget),
                "input": "examples" if args.pack_budget else "final",
                "shard_mb": args.export_shard_mb,
            },
        )

    # a resume that drops an opt-in stage keeps only this chain's
    # entries and tables, so the manifest names the tables the outputs
    # came from and the output holds no table it does not name
    manifest["stages"] = {
        k: v for k, v in manifest["stages"].items() if k in chain
    }
    for owner, (keys, tables) in _OPT_IN.items():
        if owner not in chain:
            for k in keys:
                manifest.pop(k, None)
            for t in tables:
                shutil.rmtree(os.path.join(out, t), ignore_errors=True)
    _write_manifest(out, manifest)

    result = {"output": out, "stages": manifest["stages"]}
    for k in ("packing", "bpe", "export"):
        if k in manifest:
            result[k] = manifest[k]
    print(json.dumps(result))
    return result


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser()
    p.add_argument("--pages", required=True, help="crawled pages parquet")
    p.add_argument("--output", required=True)
    p.add_argument(
        "--resume",
        action="store_true",
        help="skip stages already committed in corpus_manifest.json",
    )
    p.add_argument("--min-tokens", type=int, default=20)
    p.add_argument(
        "--dsir-target",
        default=None,
        help="parquet of trusted target docs: select from the curated "
        "pool by DSIR importance resampling toward this distribution "
        "(engine/ops/dsir, Xie et al. 2023)",
    )
    p.add_argument(
        "--dsir-fraction",
        type=float,
        default=0.5,
        help="fraction of the curated pool DSIR keeps",
    )
    p.add_argument(
        "--dsir-fit-fraction",
        type=float,
        default=1.0,
        help="deterministic sample of the pool used to fit the raw "
        "feature distribution (fit needs counts, not every row)",
    )
    p.add_argument(
        "--check-lang",
        action="store_true",
        help="enable the langid screen in curation (off by default)",
    )
    p.add_argument("--lm-filter", action="store_true")
    p.add_argument("--lm-pct", type=float, default=90.0)
    p.add_argument(
        "--compression-min",
        type=float,
        default=None,
        help="curate-stage zlib ratio floor (templated/repeated text)",
    )
    p.add_argument(
        "--compression-max",
        type=float,
        default=None,
        help="curate-stage zlib ratio ceiling (random/encoded junk)",
    )
    p.add_argument(
        "--gopher-repetition",
        action="store_true",
        help="curate-stage Gopher repetition panel (top-2/3/4-gram and "
        "dup-5..10-gram character fractions at the published cuts)",
    )
    p.add_argument("--sample-fraction", type=float, default=1.0)
    p.add_argument(
        "--pack-budget",
        type=int,
        default=None,
        help="pack chunks into examples of at most this many tokens "
        "(enables the chunk+pack stage)",
    )
    p.add_argument("--pack-shards", type=int, default=64)
    p.add_argument(
        "--bpe-merges",
        type=int,
        default=0,
        help="with --pack-budget: train a BPE tokenizer of this many "
        "merges on the corpus (engine/ops/bpe), persist it to "
        "<output>/bpe_merges, and pack by real subword token counts "
        "instead of whitespace words",
    )
    p.add_argument(
        "--export-shard-mb",
        type=int,
        default=0,
        help="write the final table (or packed examples, with "
        "--pack-budget) as deterministic gzip JSONL shards of at most "
        "this many MB uncompressed under <output>/export (0 = off)",
    )
    p.add_argument("--master", default="local[*]")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    return p


def main() -> None:
    run(_parser().parse_args())


if __name__ == "__main__":
    main()
