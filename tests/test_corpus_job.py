"""jobs/corpus.py — orchestrated crawl -> training-corpus build with
per-stage manifest resume."""

from __future__ import annotations

import json
import os
import types

import pytest

from engine.corpus import gen_pages_df


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("corpusjob") / "pages")
    gen_pages_df(spark, 200).write.mode("overwrite").parquet(path)
    return path


def _args(pages, out, **kw):
    return types.SimpleNamespace(pages=pages, output=out, **kw)


def _stage_mtimes(out):
    tables = ["extracted", "canonical", "cleaned", "curate/kept", "final"]
    return {
        t: os.path.getmtime(os.path.join(out, t, "_SUCCESS")) for t in tables
    }


def test_full_build_and_resume(spark, tmp_path, pages_path):
    from jobs.corpus import run

    out = str(tmp_path / "corpus")
    res = run(_args(pages_path, out, min_tokens=5, sample_fraction=0.5))

    st = res["stages"]
    assert set(st) == {"extract", "neardup", "linedup", "curate", "sample"}
    # accounting: each stage can only shrink the corpus
    assert st["extract"]["rows"] >= st["neardup"]["rows"]
    assert st["neardup"]["rows"] == st["linedup"]["rows"]  # rewrite keeps rows
    assert st["linedup"]["rows"] >= st["curate"]["rows"]
    assert st["curate"]["rows"] >= st["sample"]["rows"]
    assert st["sample"]["rows"] > 0
    final = spark.read.parquet(f"{out}/final")
    assert final.count() == st["sample"]["rows"]
    assert "text" in final.columns and "url" in final.columns

    # manifest on disk matches the returned stages
    with open(f"{out}/corpus_manifest.json") as f:
        assert json.load(f)["stages"] == st

    # full resume: every stage skips — no output is rewritten
    before = _stage_mtimes(out)
    res2 = run(_args(pages_path, out, min_tokens=5, sample_fraction=0.5, resume=True))
    assert _stage_mtimes(out) == before
    assert {k: v["rows"] for k, v in res2["stages"].items()} == {
        k: v["rows"] for k, v in st.items()
    }


def test_partial_resume_recomputes_only_missing_stages(spark, tmp_path, pages_path):
    from jobs.corpus import run

    out = str(tmp_path / "corpus2")
    res = run(_args(pages_path, out, min_tokens=5, sample_fraction=0.5))
    before = _stage_mtimes(out)

    # simulate a crash after stage 3: drop curate+sample from the manifest
    mpath = f"{out}/corpus_manifest.json"
    with open(mpath) as f:
        m = json.load(f)
    for s in ("curate", "sample"):
        del m["stages"][s]
    with open(mpath, "w") as f:
        json.dump(m, f)

    res2 = run(_args(pages_path, out, min_tokens=5, sample_fraction=0.5, resume=True))
    after = _stage_mtimes(out)
    # stages 1-3 untouched, 4-5 rebuilt
    for t in ("extracted", "canonical", "cleaned"):
        assert after[t] == before[t], t
    for t in ("curate/kept", "final"):
        assert after[t] > before[t], t
    # deterministic pipeline: recomputed stages land on the same rows
    assert {k: v["rows"] for k, v in res2["stages"].items()} == {
        k: v["rows"] for k, v in res["stages"].items()
    }


def test_pack_with_trained_bpe_tokens(spark, tmp_path, pages_path):
    """--bpe-merges: the pack stage sizes examples in trained subword
    tokens; merges persist beside the corpus and re-applying them
    reproduces the packed counts exactly."""
    from jobs.corpus import run

    out = str(tmp_path / "corpus_bpe")
    res = run(
        _args(
            pages_path,
            out,
            min_tokens=5,
            sample_fraction=1.0,
            pack_budget=256,
            pack_shards=4,
            bpe_merges=64,
        )
    )
    assert res["bpe"]["n_merges"] > 0
    from pyspark.sql import functions as F

    from engine.ops.bpe import bpe_encode, load_bpe

    merges = load_bpe(spark, f"{out}/bpe_merges")
    assert 0 < len(merges) <= 64

    ex = spark.read.parquet(f"{out}/examples")
    assert ex.count() > 0
    # budget respected in BPE tokens for non-oversize examples
    bad = (
        ex.groupBy("shard", "example_ix")
        .agg(
            F.sum("n_tokens").alias("tok"),
            F.max(F.col("oversize").cast("int")).alias("over"),
        )
        .filter("over = 0 AND tok > 256")
        .count()
    )
    assert bad == 0
    # n_tokens in the assignment == re-encoding the chunk text with
    # the persisted merges (model round-trip, exact)
    from engine.udfs import CHUNKS_DDL, chunk_map_in_pandas

    docs = spark.read.parquet(f"{out}/final")
    src = docs.filter(F.length(F.coalesce("text", F.lit(""))) > 0).select(
        "url", "text", F.lit(None).cast("array<long>").alias("sent_spans")
    )
    chunks = bpe_encode(
        src.mapInPandas(chunk_map_in_pandas, CHUNKS_DDL),
        merges,
        text_col="chunk_text",
        count_only=True,
    ).select("url", "chunk_ix", "n_bpe_tokens")
    joined = ex.join(
        chunks.withColumnRenamed("url", "doc_key"), ["doc_key", "chunk_ix"]
    )
    assert joined.filter("n_tokens != n_bpe_tokens").count() == 0
    assert joined.count() == ex.count()

    # resume without BPE: pack re-runs by whitespace words and the old
    # merges leave the result, the manifest and the output directory
    res2 = run(
        _args(
            pages_path,
            out,
            min_tokens=5,
            sample_fraction=1.0,
            pack_budget=256,
            pack_shards=4,
            bpe_merges=0,
            resume=True,
        )
    )
    assert "bpe" not in res2
    with open(f"{out}/corpus_manifest.json") as f:
        assert "bpe" not in json.load(f)
    assert not os.path.exists(f"{out}/bpe_merges")

    # resume without --pack-budget: pack leaves the chain, and its
    # tables leave the output directory with its manifest entries
    res3 = run(
        _args(pages_path, out, min_tokens=5, sample_fraction=1.0, resume=True)
    )
    assert "pack" not in res3["stages"] and "packing" not in res3
    for table in ("examples", "chunks", "bpe_merges"):
        assert not os.path.exists(f"{out}/{table}"), table
    assert os.path.exists(f"{out}/final/_SUCCESS")


def test_export_stage_ships_packed_examples(spark, tmp_path, pages_path):
    """--export-shard-mb + --pack-budget: the export stage assembles
    packed examples and writes gzip JSONL shards; line count equals
    the example count and every line carries the trainer fields."""
    from jobs.corpus import run
    from tests.test_export import _read_shards

    out = str(tmp_path / "corpus_export")
    res = run(
        _args(
            pages_path,
            out,
            min_tokens=5,
            sample_fraction=1.0,
            pack_budget=64,
            pack_shards=4,
            export_shard_mb=1,
        )
    )
    st = res["stages"]
    assert "export" in st and st["export"]["rows"] > 0
    assert res["export"]["n_shards"] >= 1
    assert os.path.exists(f"{out}/export/_SUCCESS")
    lines = [r for v in _read_shards(f"{out}/export").values() for r in v]
    assert len(lines) == st["export"]["rows"]
    examples = spark.read.parquet(f"{out}/examples")
    n_examples = examples.select("shard", "example_ix").distinct().count()
    assert len(lines) == n_examples
    # packing stats land in the result: every chunk assigned once
    assert res["packing"]["n_chunks"] == examples.count()
    assert 0 < res["packing"]["fill_rate"] <= 1.0
    for r in lines[:5]:
        assert {"example_id", "text", "n_tokens", "n_seqs"} <= set(r)
        assert r["text"]


def test_dsir_stage_selects_toward_target(spark, tmp_path, pages_path):
    """--dsir-target: the selection stage runs after curation, keeps
    ~the requested fraction, and re-runs under --resume when the
    fraction changes (params are part of the stage commit)."""
    from jobs.corpus import run

    out = str(tmp_path / "corpus")
    base = run(_args(pages_path, out, min_tokens=5))
    kept = spark.read.parquet(f"{out}/curate/kept")
    # target = a slice of the pool itself (distribution sanity only)
    tpath = str(tmp_path / "target")
    kept.limit(10).write.parquet(tpath)

    out2 = str(tmp_path / "corpus_dsir")
    res = run(
        _args(
            pages_path, out2, min_tokens=5,
            dsir_target=tpath, dsir_fraction=0.5,
        )
    )
    n_pool = res["stages"]["curate"]["rows"]
    n_sel = res["stages"]["dsir"]["rows"]
    assert 0 < n_sel <= n_pool
    assert abs(n_sel - 0.5 * n_pool) <= max(2, 0.1 * n_pool)
    assert res["stages"]["sample"]["rows"] == n_sel  # final reads dsir

    # changed fraction + --resume: dsir and downstream re-run
    res2 = run(
        _args(
            pages_path, out2, min_tokens=5, resume=True,
            dsir_target=tpath, dsir_fraction=0.25,
        )
    )
    n_sel2 = res2["stages"]["dsir"]["rows"]
    assert n_sel2 < n_sel


def test_resume_gates_on_downstream_stage_params(spark, tmp_path, pages_path):
    """Changing a TAIL stage's semantics flag on --resume must redo
    that stage (and only from it): --sample-fraction and the curate
    screen params are part of the manifest commit, and the curate
    stage honors the dirty cascade like every stage() stage."""
    from jobs.corpus import run

    out = str(tmp_path / "corpus_gate")
    run(_args(pages_path, out, min_tokens=5, sample_fraction=1.0))
    before = _stage_mtimes(out)
    n_all = spark.read.parquet(f"{out}/final").count()

    # changed sample fraction: upstream untouched, sample redone
    res2 = run(
        _args(pages_path, out, min_tokens=5, sample_fraction=0.4, resume=True)
    )
    after = _stage_mtimes(out)
    for t in ("extracted", "canonical", "cleaned", "curate/kept"):
        assert after[t] == before[t], t
    assert after["final"] > before["final"]
    assert res2["stages"]["sample"]["rows"] < n_all

    # changed curate screen (min_tokens): curate AND sample redone
    before = after
    run(_args(pages_path, out, min_tokens=6, sample_fraction=0.4, resume=True))
    after = _stage_mtimes(out)
    for t in ("extracted", "canonical", "cleaned"):
        assert after[t] == before[t], t
    for t in ("curate/kept", "final"):
        assert after[t] > before[t], t


def test_resume_gates_on_stage_input_table(spark, tmp_path, pages_path):
    """Toggling --dsir-target on a resumed run changes what sample
    READS (dsir_selected vs curate/kept); the input table is recorded in
    the stage params, so sample redoes while everything upstream of it
    skips. The dropped stage's entry leaves the result and the
    manifest."""
    from jobs.corpus import run

    out = str(tmp_path / "corpus_input_gate")
    run(_args(pages_path, out, min_tokens=5))
    kept = spark.read.parquet(f"{out}/curate/kept")
    tpath = str(tmp_path / "target")
    kept.limit(10).write.parquet(tpath)
    res = run(
        _args(pages_path, out, min_tokens=5, resume=True, dsir_target=tpath)
    )
    assert "dsir" in res["stages"]
    before = _stage_mtimes(out)

    # drop --dsir-target: sample's own params are unchanged, but its
    # input flips back to curate/kept -> final rebuilds from the pool
    res = run(_args(pages_path, out, min_tokens=5, resume=True))
    after = _stage_mtimes(out)
    for t in ("extracted", "canonical", "cleaned", "curate/kept"):
        assert after[t] == before[t], t
    assert after["final"] > before["final"]
    assert res["stages"]["sample"]["rows"] == res["stages"]["curate"]["rows"]
    assert "dsir" not in res["stages"]
    with open(f"{out}/corpus_manifest.json") as f:
        assert "dsir" not in json.load(f)["stages"]
    assert not os.path.exists(f"{out}/dsir_selected")


def test_curate_stage_compression_and_code_knobs(spark, tmp_path, pages_path):
    """--compression-min/--compression-max flow through the corpus
    job's curate stage, and changing them gates resume (the curate
    stage re-runs; semantics-affecting params are in the manifest)."""
    from jobs.corpus import run

    out = str(tmp_path / "corpus")
    res = run(
        _args(
            pages_path,
            out,
            min_tokens=5,
            sample_fraction=1.0,
            compression_min=0.05,
            compression_max=0.98,
        )
    )
    kept = spark.read.parquet(f"{out}/curate/kept")
    assert "compression_ratio" in kept.columns
    assert kept.filter("compression_ratio < 0.05").count() == 0

    with open(f"{out}/corpus_manifest.json") as f:
        params = json.load(f)["stages"]["curate"]["params"]
    assert params["compression_min"] == 0.05

    # tightening the band must invalidate the curate stage on resume
    before = os.path.getmtime(os.path.join(out, "curate", "kept", "_SUCCESS"))
    res2 = run(
        _args(
            pages_path,
            out,
            min_tokens=5,
            sample_fraction=1.0,
            compression_min=0.20,
            compression_max=0.98,
            resume=True,
        )
    )
    after = os.path.getmtime(os.path.join(out, "curate", "kept", "_SUCCESS"))
    assert after > before
    assert res2["stages"]["curate"]["rows"] <= res["stages"]["curate"]["rows"]


# -- kill-mid-stage chaos harness (VERDICT r3 next #7) ----------------

# an 8-stage configuration: every opt-in stage enabled (dsir's target
# is built by the chaos_kw fixture)
CHAOS_KW = dict(
    min_tokens=5,
    sample_fraction=0.5,
    dsir_fraction=0.8,
    pack_budget=128,
    pack_shards=4,
    export_shard_mb=1,
)
CHAOS_STAGES = [
    "extract", "neardup", "linedup", "curate", "dsir", "sample", "pack",
    "export",
]


def _artifact_bytes(out):
    """(shard_dir, sorted file bytes) for the run's final artifact
    (export shard tree). Keyed by directory, not filename — Spark
    part names embed a per-write UUID; byte-identity is the CONTENT
    contract. Markers and .crc sidecars excluded."""
    got = {}
    root = os.path.join(out, "export")
    for dirpath, _dirs, files in os.walk(root):
        blobs = []
        for name in sorted(files):
            if name.startswith(("_", ".")):
                continue
            with open(os.path.join(dirpath, name), "rb") as f:
                blobs.append(f.read())
        if blobs:
            got[os.path.relpath(dirpath, root)] = sorted(blobs)
    return got


@pytest.fixture(scope="module")
def chaos_kw(spark, tmp_path_factory, pages_path):
    from engine.pipeline import build_extracted

    # dsir target = a slice of the extracted pool (distribution sanity
    # only), written once so every run sees the same target
    tpath = str(tmp_path_factory.mktemp("chaostarget") / "target")
    build_extracted(spark.read.parquet(pages_path)).limit(10).write.parquet(
        tpath
    )
    return dict(CHAOS_KW, dsir_target=tpath)


@pytest.fixture(scope="module")
def chaos_ref(spark, tmp_path_factory, pages_path, chaos_kw):
    from jobs.corpus import run

    out = str(tmp_path_factory.mktemp("chaosref") / "corpus")
    res = run(_args(pages_path, out, **chaos_kw))
    # the config really exercises all 8 stages, in this order
    assert list(res["stages"]) == CHAOS_STAGES
    assert res["stages"]["export"]["rows"] > 0
    return out, res


@pytest.mark.parametrize("kill_at", range(1, len(CHAOS_STAGES) + 1))
def test_kill_mid_stage_resume_byte_equals_single_shot(
    spark, tmp_path, pages_path, chaos_kw, chaos_ref, monkeypatch, kill_at
):
    """Chaos harness: crash the job DURING stage k's manifest commit
    (output table + _SUCCESS already on disk, manifest entry missing —
    the exact window the late-r3 _SUCCESS bug lived in), then --resume
    and require the stage accounting AND the final export shards to
    byte-equal the single-shot reference, for EVERY stage k."""
    import jobs.corpus as jc

    ref_out, ref_res = chaos_ref
    out = str(tmp_path / "corpus")
    real = jc._commit_stage
    calls = {"n": 0}

    def chaotic(out_dir, manifest, stage, info):
        calls["n"] += 1
        if calls["n"] == kill_at:
            raise RuntimeError(f"chaos_kill_before_commit:{stage}")
        real(out_dir, manifest, stage, info)

    monkeypatch.setattr(jc, "_commit_stage", chaotic)
    with pytest.raises(RuntimeError, match="chaos_kill"):
        jc.run(_args(pages_path, out, **chaos_kw))
    monkeypatch.setattr(jc, "_commit_stage", real)

    res = jc.run(_args(pages_path, out, resume=True, **chaos_kw))
    assert {k: v["rows"] for k, v in res["stages"].items()} == {
        k: v["rows"] for k, v in ref_res["stages"].items()
    }
    assert _artifact_bytes(out) == _artifact_bytes(ref_out)
