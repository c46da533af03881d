"""T2 (SURVEY.md §5): parallelism-invariance — identical output under
different partition counts and shuffled input order."""

from __future__ import annotations

from pyspark.sql import functions as F

from engine.corpus import gen_pages_df
from engine.pipeline import build_chunks, build_extracted

N = 300


def _sig(extracted_df):
    return {
        r["url"]: r["content_sha256"]
        for r in extracted_df.select("url", "content_sha256").collect()
    }


def test_partition_count_invariance(spark):
    pages = gen_pages_df(spark, N).cache()
    pages.count()
    s2 = _sig(build_extracted(pages, num_partitions=2))
    s16 = _sig(build_extracted(pages, num_partitions=16))
    assert s2 == s16


def test_input_order_invariance(spark):
    pages = gen_pages_df(spark, N).cache()
    shuffled = pages.orderBy(F.xxhash64("url", "warc_ts"))
    a = _sig(build_extracted(pages, num_partitions=4))
    b = _sig(build_extracted(shuffled, num_partitions=4))
    assert a == b


def test_chunk_table_invariance(spark):
    pages = gen_pages_df(spark, N).cache()
    c4 = build_chunks(build_extracted(pages, num_partitions=4))
    c9 = build_chunks(build_extracted(pages, num_partitions=9))
    # exceptAll both ways == empty (exact multiset equality)
    assert c4.exceptAll(c9).isEmpty()
    assert c9.exceptAll(c4).isEmpty()


def test_corpus_partitions_uniform_and_content_invariant(spark):
    """The generator must (a) honor the requested partition count with
    one uniform chunk per partition — a hash repartition of chunk ids
    collides and yields uneven multi-chunk files whose row groups cap
    wide-parallelism scans (git e8592cf) — and (b) produce identical
    content at any partition count."""
    df = gen_pages_df(spark, 120, partitions=12)
    sizes = [len(p) for p in df.rdd.glom().collect()]
    assert len(sizes) == 12 and all(s == 10 for s in sizes), sizes
    a = {r["url"]: r["warc_ts"] for r in gen_pages_df(spark, 60, partitions=3).collect()}
    b = {r["url"]: r["warc_ts"] for r in gen_pages_df(spark, 60, partitions=11).collect()}
    assert a == b


def test_sweep_dead_spill_dirs(tmp_path):
    """r5: tmpfs spill dirs of dead PIDs are reclaimed, live ones and
    non-PID names are untouched (the 97GB-leak lesson from the 500k
    rehearsal — dead-session tmpfs spill is a RAM leak)."""
    import os

    from engine.session import sweep_dead_spill_dirs

    base = tmp_path / "spill"
    base.mkdir()
    (base / "99999999").mkdir()  # max pid is below this on linux
    (base / "99999999" / "shuffle.data").write_bytes(b"x" * 10)
    (base / str(os.getpid())).mkdir()  # live: must survive
    (base / "not-a-pid").mkdir()  # never touched
    swept = sweep_dead_spill_dirs(str(base))
    assert swept == ["99999999"]
    assert not (base / "99999999").exists()
    assert (base / str(os.getpid())).exists()
    assert (base / "not-a-pid").exists()
    # total on a missing base
    assert sweep_dead_spill_dirs(str(tmp_path / "missing")) == []


def test_host_driver_memory_fits_the_host():
    """get_spark's default driver heap is a quarter of RAM, clamped to
    1g..24g, and maxResultSize a quarter of the heap; an unreadable
    MemTotal keeps the old fixed 24g/4g."""
    from engine.session import host_driver_memory

    gib = 1 << 20  # KiB per GiB
    assert host_driver_memory(16 * gib) == ("4096m", "1024m")
    assert host_driver_memory(2 * gib) == ("1024m", "256m")
    assert host_driver_memory(512 * gib) == ("24576m", "6144m")
    assert host_driver_memory(None) == ("24g", "4g")
