"""A9 vector-index sink: receipts account for every vector, request
files are put_vectors-shaped, and re-running is byte-idempotent."""

from __future__ import annotations

import hashlib
import json
import pathlib

from pyspark.sql import functions as F


def _dir_digest(root: pathlib.Path) -> dict[str, str]:
    return {
        str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(root.rglob("*.jsonl"))
    }


def test_sink_vectors_dry_run_idempotent(spark, tmp_path):
    from engine.corpus import gen_pages_df
    from engine.io.vector_sink import sink_vectors
    from engine.pipeline import build_chunks, build_extracted, build_vectors

    vectors = build_vectors(
        build_chunks(build_extracted(gen_pages_df(spark, 60)))
    ).repartition(4, "url")
    n_expected = vectors.count()

    idx_dir = str(tmp_path / "index")
    receipts = sink_vectors(
        vectors, index="chunks-v1", index_dir=idx_dir, batch_size=50
    )
    rows = receipts.collect()
    assert sum(r["n_vectors"] for r in rows) == n_expected

    root = pathlib.Path(idx_dir) / "chunks-v1"
    files = sorted(root.glob("*.jsonl"))
    assert files, "no request files written"
    # request shape: key + float32 data + metadata
    entry = json.loads(files[0].read_text().splitlines()[0])
    assert set(entry) == {"key", "data", "metadata"}
    assert "#" in entry["key"] and isinstance(entry["data"]["float32"], list)
    n_entries = sum(len(p.read_text().splitlines()) for p in files)
    assert n_entries == n_expected

    # idempotence: a second run overwrites with identical bytes
    d1 = _dir_digest(root)
    sink_vectors(
        vectors, index="chunks-v1", index_dir=idx_dir, batch_size=50
    ).collect()
    assert _dir_digest(root) == d1


def test_sink_vectors_projects_before_python(spark, tmp_path):
    """A wide chunks frame (chunk text, offsets, hashes, vec_id) gives
    byte-identical request files to the 5-column vectors frame: the
    sink keeps only url, chunk_ix, embedding and label before its
    Python crossing, so chunk_text never ships to the workers."""
    from engine.io.vector_sink import sink_vectors

    narrow = spark.createDataFrame(
        [(i, f"u{i % 7}", i, [float(i), 0.5], i % 10) for i in range(40)],
        "vec_id long, url string, chunk_ix int, embedding array<float>, label int",
    ).repartition(3, "url")
    wide = narrow.select(
        F.concat(F.lit("text of "), "url").alias("chunk_text"),
        "url",
        (F.col("chunk_ix") * 100).alias("char_start"),
        "chunk_ix",
        F.sha2("url", 256).alias("chunk_sha256"),
        "vec_id",
        "embedding",
        "label",
    )
    digests = []
    for name, df in (("narrow", narrow), ("wide", wide)):
        idx = tmp_path / name
        sink_vectors(df, "main", str(idx), batch_size=8).collect()
        digests.append(_dir_digest(idx / "main"))
    assert digests[0] and digests[0] == digests[1]
    mip = [
        ln
        for ln in sink_vectors(wide, "main", str(tmp_path / "x"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .splitlines()
        if "MapInPandas" in ln
    ]
    assert mip and all("chunk_text" not in ln for ln in mip), mip


def _vecs(spark, rows):
    return spark.createDataFrame(
        rows, "url string, chunk_ix int, embedding array<float>, label int"
    )


def test_delta_delete_stale_vectors(spark, tmp_path):
    """Re-crawl delta index maintenance: a changed doc that shrank from
    3 chunks to 1 must lose its stale tail keys; untouched docs keep
    theirs; the whole put+delete round is byte-idempotent."""
    from engine.io.vector_sink import (
        load_live_keys,
        sink_vector_deletes,
        sink_vectors,
    )
    from engine.pipeline import stale_chunk_keys

    idx = str(tmp_path / "index")
    v0 = _vecs(
        spark,
        [
            ("A", 0, [1.0], 1),
            ("A", 1, [2.0], 1),
            ("A", 2, [3.0], 1),
            ("B", 0, [9.0], 2),
        ],
    )
    sink_vectors(v0, "main", idx, gen=0).collect()
    assert set(load_live_keys(idx, "main")) == {"A#0", "A#1", "A#2", "B#0"}

    # delta run (gen 1): A's new content chunks to ONE chunk, new bytes
    v1 = _vecs(spark, [("A", 0, [7.0], 1)])
    prior_chunks = v0.select("url", "chunk_ix")
    changed = spark.createDataFrame([("A",)], "url string")
    stale = stale_chunk_keys(prior_chunks, v1.select("url", "chunk_ix"), changed)
    assert {r["key"] for r in stale.collect()} == {"A#1", "A#2"}

    sink_vectors(v1, "main", idx, gen=1).collect()
    n_del = sum(
        r["n_vectors"]
        for r in sink_vector_deletes(stale, "main", idx, gen=1).collect()
    )
    assert n_del == 2
    live = load_live_keys(idx, "main")
    assert set(live) == {"A#0", "B#0"}
    assert live["A#0"]["data"]["float32"] == [7.0]  # gen-1 put wins
    assert live["B#0"]["data"]["float32"] == [9.0]  # untouched doc kept

    # idempotence: re-running the delta round leaves identical bytes
    root = pathlib.Path(idx) / "main"
    d1 = _dir_digest(root)
    sink_vectors(v1, "main", idx, gen=1).collect()
    sink_vector_deletes(stale, "main", idx, gen=1).collect()
    assert _dir_digest(root) == d1
    assert set(load_live_keys(idx, "main")) == {"A#0", "B#0"}


def test_stale_keys_zero_chunk_rewrite(spark):
    """A changed doc whose new content chunks to NOTHING loses every
    prior key; docs outside the changed set are never in the delete
    set even when absent from the new crawl."""
    from engine.pipeline import stale_chunk_keys

    prior = spark.createDataFrame(
        [("A", 0), ("A", 1), ("B", 0)], "url string, chunk_ix int"
    )
    new = spark.createDataFrame([], "url string, chunk_ix int")
    changed = spark.createDataFrame([("A",)], "url string")
    stale = {r["key"] for r in stale_chunk_keys(prior, new, changed).collect()}
    assert stale == {"A#0", "A#1"}  # B not re-crawled -> not deleted


def test_stale_keys_bucket_pruned(spark):
    """When the prior chunks table carries pbucket and the caller
    passes the delta's buckets, prior rows outside them are never
    read — and the result is unchanged (the pruning is sound because
    a url's bucket is a pure function of the url)."""
    from engine.pipeline import stale_chunk_keys

    prior = spark.createDataFrame(
        [("A", 0, 3), ("A", 1, 3), ("C", 0, 7)],
        "url string, chunk_ix int, pbucket int",
    )
    new = spark.createDataFrame([("A", 0)], "url string, chunk_ix int")
    changed = spark.createDataFrame([("A",)], "url string")
    pruned = stale_chunk_keys(prior, new, changed, buckets=[3])
    assert {r["key"] for r in pruned.collect()} == {"A#1"}
    # plan actually filters on pbucket before the joins
    assert "pbucket" in pruned._jdf.queryExecution().optimizedPlan().toString()


def test_compact_index_log(spark, tmp_path):
    """compact_index_log collapses the multi-generation put/delete log
    into one snapshot generation with the identical live view, removes
    the old files, stays correct under further deltas on top, and a
    re-compaction of a compacted log preserves the same live bytes."""
    from engine.io.vector_sink import (
        compact_index_log,
        load_live_keys,
        sink_vector_deletes,
        sink_vectors,
    )

    idx = str(tmp_path / "index")
    sink_vectors(
        _vecs(spark, [("A", 0, [1.0], 1), ("A", 1, [2.0], 1), ("B", 0, [9.0], 2)]),
        "main", idx, gen=0,
    ).collect()
    sink_vectors(_vecs(spark, [("A", 0, [7.0], 1)]), "main", idx, gen=1).collect()
    stale = spark.createDataFrame([("A#1",)], "key string")
    sink_vector_deletes(stale, "main", idx, gen=1).collect()

    before = load_live_keys(idx, "main")
    assert set(before) == {"A#0", "B#0"}
    root = pathlib.Path(idx) / "main"
    n_files_before = len(list(root.glob("*.jsonl")))
    assert n_files_before >= 3  # two put gens + one delete file

    stats = compact_index_log(idx, "main")
    assert stats["live_keys"] == 2
    assert stats["files_removed"] == n_files_before
    after = load_live_keys(idx, "main")
    # live view identical (up to the bookkeeping fields compaction rewrites)
    strip = lambda d: {k: {a: b for a, b in v.items() if not a.startswith("_")}
                       for k, v in d.items()}
    assert strip(after) == strip(before)
    assert stats["snapshot_gen"] == 1  # z-slot of the CURRENT max gen
    files = sorted(p.name for p in root.glob("*.jsonl"))
    assert all(f.startswith(f"g{stats['snapshot_gen']:06d}z_") for f in files)
    assert not [f for f in files if f.endswith(".del.jsonl")]

    # a further delta on top of the snapshot still replays in order
    sink_vectors(
        _vecs(spark, [("C", 0, [5.0], 3)]), "main", idx,
        gen=stats["snapshot_gen"] + 1,
    ).collect()
    assert set(load_live_keys(idx, "main")) == {"A#0", "B#0", "C#0"}

    # re-compaction: same live view, single generation again
    stats2 = compact_index_log(idx, "main")
    assert stats2["live_keys"] == 3
    assert set(load_live_keys(idx, "main")) == {"A#0", "B#0", "C#0"}


def test_replay_order_legacy_numeric_and_snapshot_slots():
    """_replay_order: legacy pre-generation files first, generations
    numeric (not lexicographic — 7-digit streaming gens), z-snapshots
    after their generation's plain files."""
    from engine.io.vector_sink import _replay_order

    names = [
        "g1000000_part00000_00000.jsonl",   # 7-digit gen
        "g000005z_part00000_00000.jsonl",   # gen-5 snapshot
        "g000005_part00001_00000.del.jsonl",
        "g999999_part00000_00000.jsonl",
        "part00000_00000.jsonl",            # legacy, replays first
        "g000005_part00000_00000.jsonl",
    ]
    got = sorted(names, key=_replay_order)
    assert got == [
        "part00000_00000.jsonl",
        "g000005_part00000_00000.jsonl",
        "g000005_part00001_00000.del.jsonl",
        "g000005z_part00000_00000.jsonl",
        "g999999_part00000_00000.jsonl",
        "g1000000_part00000_00000.jsonl",
    ]


def test_compact_snapshot_never_collides_with_next_stream_batch(spark, tmp_path):
    """Streaming stamps gen=batch_id, monotone across restarts: after
    compacting at max gen N the restarted stream's batch N+1 must not
    overwrite snapshot files, and the snapshot must replay before it.
    (Review r3: snap_gen=max+1 collided with exactly that batch.)"""
    from engine.io.vector_sink import (
        compact_index_log,
        load_live_keys,
        sink_vector_deletes,
        sink_vectors,
    )

    idx = str(tmp_path / "index")
    sink_vectors(
        _vecs(spark, [("A", 0, [1.0], 1), ("B", 0, [2.0], 1)]),
        "main", idx, gen=4,
    ).collect()
    sink_vectors(_vecs(spark, [("A", 0, [9.0], 1)]), "main", idx, gen=5).collect()
    stats = compact_index_log(idx, "main")
    assert stats["snapshot_gen"] == 5  # z-slot of CURRENT max, not max+1

    # restarted stream: batch 6 re-puts A with newer bytes + deletes B
    sink_vectors(_vecs(spark, [("A", 0, [7.0], 1)]), "main", idx, gen=6).collect()
    sink_vector_deletes(
        spark.createDataFrame([("B#0",)], "key string"), "main", idx, gen=6
    ).collect()
    live = load_live_keys(idx, "main")
    assert set(live) == {"A#0"}
    assert live["A#0"]["data"]["float32"] == [7.0]  # batch 6 beats snapshot


def test_legacy_pregen_files_replay_first(spark, tmp_path):
    """An index dir from the pre-generation sink format replays BEFORE
    the generations a delta run adds — old puts must not override new
    ones or resurrect deleted keys (review r3)."""
    import json as _json
    import pathlib as _pl

    from engine.io.vector_sink import (
        load_live_keys,
        sink_vector_deletes,
        sink_vectors,
    )

    idx = str(tmp_path / "index")
    root = _pl.Path(idx) / "main"
    root.mkdir(parents=True)
    legacy = [
        {"_pid": 0, "_seq": 0, "key": "A#0", "data": {"float32": [1.0]}},
        {"_pid": 0, "_seq": 0, "key": "A#1", "data": {"float32": [2.0]}},
    ]
    (root / "part00000_00000.jsonl").write_text(
        "".join(_json.dumps(e, sort_keys=True) + "\n" for e in legacy)
    )

    # delta cycle at gen 1: A shrank to one chunk with new bytes
    sink_vectors(_vecs(spark, [("A", 0, [7.0], 1)]), "main", idx, gen=1).collect()
    sink_vector_deletes(
        spark.createDataFrame([("A#1",)], "key string"), "main", idx, gen=1
    ).collect()
    live = load_live_keys(idx, "main")
    assert set(live) == {"A#0"}
    assert live["A#0"]["data"]["float32"] == [7.0]


def test_ingest_multibatch_index_puts_do_not_collide(spark, tmp_path):
    """jobs/ingest.py --commit-batches B --vector-index: every batch's
    puts survive in the index log (review r3: a shared gen let batch
    2's files overwrite batch 1's — 2636 puts, 620 surviving keys)."""
    import jobs.ingest as ji
    from engine.io.vector_sink import load_live_keys

    out = str(tmp_path / "run")
    idx = str(tmp_path / "index")
    ji.run(
        ji._parser().parse_args(
            ["--n-pages", "120", "--seed", "7", "--output", out,
             "--vector-index", idx, "--commit-batches", "4",
             "--master", "local[4]", "--shuffle-partitions", "4"]
        )
    )
    n_vec = spark.read.parquet(f"{out}/chunks").count()
    live = load_live_keys(idx, "chunks-v1")
    assert n_vec > 0 and len(live) == n_vec
