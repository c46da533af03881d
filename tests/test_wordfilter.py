"""Gopher top-bigram repetition metric (engine/ops/curate.py):
pinned semantics, map-only plan, rule-engine wiring, job surface."""

from __future__ import annotations

from engine.ops.curate import with_top_bigram_frac


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_top_bigram_frac_semantics(spark):
    looped = "buy now " * 40  # the Gopher target: looped phrase junk
    varied = (
        "the committee reviewed the proposal while the council "
        "debated the budget and the panel approved the survey"
    )
    rows = with_top_bigram_frac(
        _docs(spark, [looped.strip(), varied, "single", "", None])
    ).orderBy("doc_id").collect()
    fracs = [r["top_bigram_frac"] for r in rows]
    assert fracs[0] > 0.5            # dominated by one bigram
    assert fracs[1] < 0.20           # normal prose under Gopher's cut
    assert fracs[2] == fracs[3] == fracs[4] == 0.0

    # deterministic under repartitioning
    again = with_top_bigram_frac(
        _docs(spark, [looped.strip(), varied]).repartition(5)
    ).orderBy("doc_id").collect()
    assert [r["top_bigram_frac"] for r in again] == fracs[:2]


def test_top_bigram_plan_is_map_only(spark):
    from tests.test_plans import plan

    p = plan(with_top_bigram_frac(_docs(spark, ["a b c"])))
    assert "Exchange" not in p and "ArrowEval" not in p


def test_curate_job_badwords_and_repetition(spark, tmp_path):
    import jobs.curate as jc

    prose = (
        "The committee met on Thursday to review the draft proposal "
        "and agreed to publish the revised schedule next week after "
        "members raised several detailed questions about the budget."
    )
    docs = spark.createDataFrame(
        [
            (1, prose, "en"),
            (2, prose + " zorbly", "en"),
            (3, ("act fast " * 30).strip() + " " + prose, "en"),
        ],
        "doc_id long, text string, lang string",
    )
    inp = str(tmp_path / "docs")
    docs.write.parquet(inp)

    out = str(tmp_path / "out")
    summary = jc.run(
        jc._parser().parse_args(
            [
                "--input", inp, "--output", out, "--no-check-lang",
                "--min-tokens", "5",
                "--top-bigram-max", "0.20", "--master", "local[2]",
            ]
        )
    )
    assert summary["reasons"].get("top_bigram_frac", 0) == 1
    assert "banned_hits" not in summary["reasons"]
    kept = spark.read.parquet(f"{out}/kept")
    assert sorted(r.doc_id for r in kept.select("doc_id").collect()) == [1, 2]

