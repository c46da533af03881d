"""Ingest benchmark: jobs.ingest.run on generated crawl workloads.

    python3 ingestbench/run.py --workload cc_mix --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository. The run generates
the workload's crawl and a larger extraction crawl from --seed, writes
them as parquet under .ingestbench_work/, starts one local Spark
session at local[nproc], times forced extraction passes over the
larger crawl, and runs one ingest job at a time (a closed loop, one
driver, no client threads) for --seconds. It checks every url of the
last job's output, and the summary of every extraction pass, against
engine.kernels run without Spark, and prints one JSON object as its
last stdout line. --trace 1 reports per-layer metrics instead of
end-to-end ones. See ingestbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("cc_mix", "recrawl_delta")
# distinct urls per ingested crawl
PAGES = {"cc_mix": 150, "recrawl_delta": 100}
# distinct urls of the crawl behind extract_docs_per_s: large enough
# that per-doc work, not the fixed cost of a pass, takes most of a pass
EXTRACT_PAGES = 4800
DEFAULT_SEED = 1
EXTRACT_PASSES = 3
VECTOR_INDEX = "chunks-v1"

def _fail(msg: str, code: int = 2):
    print(f"ingestbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _configure_env(work: str) -> None:
    """Fit Spark to this host from the outside: driver heap from
    MemTotal, shuffle/spill and temp files on disk inside the work
    dir, and the repo on the Python workers' path."""
    with open("/proc/meminfo") as f:
        mem_kib = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    heap_gib = max(1, min(4, mem_kib // (6 << 20)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.pop("SPARK_GRAFT_TMPFS", None)
    os.environ.update(
        SPARK_DRIVER_MEMORY=f"{heap_gib}g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    tempfile.tempdir = tmp


def _spark_extra(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }


def _warm_workers(batches):
    import engine.udfs  # noqa: F401 — the kernels every UDF task imports

    yield from batches


def _setup(master: str, work: str, input_paths: list[str]):
    """Session start, Python-worker warm-up and opening the inputs.
    Returns (spark, setup seconds, session-start seconds)."""
    from engine.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(master, app_name="ingestbench", extra=_spark_extra(work))
    t1 = time.perf_counter()
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).mapInPandas(_warm_workers, "id long").count()
    for p in input_paths:
        spark.read.parquet(p).count()
    return spark, time.perf_counter() - t0, t1 - t0


def _force_extract(spark, path: str, one_task: bool = False) -> dict:
    """build_extracted forced by an aggregate over every output column,
    with no table write. one_task reads the input as a single split, so
    the extraction runs on one core. Returns what
    reference.extraction_summary predicts."""
    from pyspark.sql import functions as F

    from engine.pipeline import build_extracted

    pages = spark.read.parquet(path)
    if one_task:
        pages = pages.coalesce(1)
    row = (
        build_extracted(pages)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("c"),
            F.sum(F.col("n_sents").cast("long")).alias("s"),
            F.sum(F.size("sent_spans")).alias("sp"),
            F.sum(
                F.when(
                    F.col("error").isNull(),
                    F.conv(F.substring("content_sha256", 1, 8), 16, 10).cast("long"),
                )
            ).alias("h"),
            F.count("error").alias("e"),
            F.max("path").alias("p"),
            F.max("lang").alias("l"),
            F.max("warc_ts").alias("t"),
            F.max("text").alias("x"),
        )
        .collect()[0]
    )
    return {"n": row["n"], "errors": row["e"], "sha_sum": row["h"] or 0}


def _extract_walls(spark, path: str, passes: int, want: dict, one_task: bool = False):
    """Walls of `passes` forced extractions, and whether every pass gave
    the expected summary."""
    walls, ok = [], True
    for _ in range(passes):
        t0 = time.perf_counter()
        got = _force_extract(spark, path, one_task)
        walls.append(time.perf_counter() - t0)
        ok &= got == want
    return walls, ok


def _ingest_args(input_path: str, out: str, master: str, **over):
    ns = argparse.Namespace(
        input=input_path, output=out, master=master, run_id="bench", commit_batches=1
    )
    for k, v in over.items():
        setattr(ns, k, v)
    return ns


def _git_sha() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def _host_info(spark, cores: int) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem = next(ln for ln in f if ln.startswith("MemTotal")).split()[1]
    return {
        "nproc": cores,
        "mem_total_kib": int(mem),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.runtime.version"),
        "python": sys.version.split()[0],
        "git_sha": _git_sha(),
    }


def run_workload(workload: str, seed: int, seconds: float, trace: bool, pages: int | None = None) -> dict:
    """One benchmark run; returns the result object (see main)."""
    from ingestbench import workloads as wl
    from ingestbench.measure import ProcSampler, SparkRest, Tracer, host_cpu, loadavg
    from ingestbench.reference import (
        Reference,
        extraction_summary,
        mismatched_urls,
        output_digest,
        read_output,
    )

    cores = len(os.sched_getaffinity(0))
    master = f"local[{cores}]"
    full_size = pages is None
    pages = PAGES[workload] if full_size else pages
    x_pages = EXTRACT_PAGES if full_size else 4 * pages
    work = os.path.join(ROOT, ".ingestbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _configure_env(work)
    steal0, ticks0, load0 = *host_cpu(), loadavg()
    phase = {}
    t_phase = [time.perf_counter()]

    def mark(name):
        now = time.perf_counter()
        phase[name] = round(now - t_phase[0], 3)
        t_phase[0] = now

    spark = None
    try:
        # inputs and the extraction crawl's expected summary, made
        # across cores before the JVM starts
        pool = multiprocessing.get_context("fork").Pool(cores)
        try:
            gen = wl.generate(workload, seed, pages, pool)
            x_rows = wl.extraction_crawl(seed, x_pages, pool)
            x_want = extraction_summary(x_rows, pool)
        finally:
            pool.close()
            pool.join()
        crawls = gen["crawls"]
        paths = []
        for i, rows in enumerate(crawls + [x_rows]):
            p = os.path.join(work, f"crawl{i}")
            wl.write_pages(rows, p, n_files=2 * cores)
            paths.append(p)
        x_in = paths.pop()
        timed_in = paths[-1]
        n_in, n_x = len(crawls[-1]), len(x_rows)
        mark("generate")

        with ProcSampler() as proc:
            # one set-up, as a user's process pays it: JVM launch,
            # session, Python workers, opening the inputs
            spark, setup_s, start_s = _setup(master, work, paths + [x_in])
            mark("setup")

            import jobs.ingest as ingest

            extra_args = {}
            prior = None
            if workload == "recrawl_delta":
                # the snapshot the re-crawl is a delta against; ingesting
                # it also warms the job's plans (untimed)
                prior = os.path.join(work, "prior")
                ingest.run(
                    _ingest_args(
                        paths[0], prior, master,
                        vector_index=os.path.join(prior, "index"), vector_gen=0,
                    )
                )
                extra_args = dict(
                    delta_against=os.path.join(prior, "extracted"),
                    prior_chunks=os.path.join(prior, "chunks"),
                    vector_gen=1,
                )
            else:
                # one untimed job over the whole timed crawl: after a
                # smaller warm-up the next job ran 15-40% slower than the
                # one after it
                warm_out = os.path.join(work, "warm_out")
                ingest.run(_ingest_args(timed_in, warm_out, master))
                shutil.rmtree(warm_out)
            mark("warmup_ingest")

            def job_args(out, src):
                over = dict(extra_args)
                if prior is not None:
                    over["vector_index"] = os.path.join(out, "index")
                    shutil.copytree(os.path.join(prior, "index"), over["vector_index"])
                return _ingest_args(src, out, master, **over)

            rest = SparkRest(spark.sparkContext) if trace else None
            jobs, layers = [], []
            t_start = time.perf_counter()
            k = 0
            # with --trace 1 odd jobs are traced and the loop ends on an
            # untraced one: each traced job is compared with the untraced
            # job after it, never with the first, slower job of the loop
            while (
                k < (3 if trace else 1)
                or time.perf_counter() - t_start < seconds
                or (trace and k % 2 == 0)
            ):
                out = os.path.join(work, f"out{k}")
                args = job_args(out, timed_in)
                traced_job = trace and k % 2 == 1
                if rest is not None:
                    rest.mark()
                proc.reset_peak()
                cpu0 = proc.cpu_s()
                t0 = time.perf_counter()
                if traced_job:
                    with Tracer(spark.sparkContext) as tr:
                        res = ingest.run(args)
                else:
                    res = ingest.run(args)
                wall = time.perf_counter() - t0
                cpu = proc.cpu_s() - cpu0
                jobs.append(
                    {"wall": wall, "cpu": cpu, "rss": proc.peak_rss, "res": res,
                     "out": out, "traced": traced_job}
                )
                if traced_job:
                    layers.append(_layer_metrics(tr, rest.collect(), wall, t0, res, out))
                if k > 0:
                    shutil.rmtree(jobs[-2]["out"], ignore_errors=True)
                k += 1
            mark("timed_jobs")
            # after the jobs, so the Python workers and the UDF are warm,
            # and after one untimed pass: the first passes over a crawl
            # run 20-40% slower than later ones
            x_walls, x_ok = _extract_walls(spark, x_in, 1 + EXTRACT_PASSES, x_want)
            extract_walls = x_walls[1:]
            extract_rate = n_x / statistics.median(extract_walls)
            mark("extract_passes")

        # correctness of the last job's output (no Spark work is timed below)
        last = jobs[-1]
        ref = Reference(crawls[-1], sample_chunks=200 if trace else 0)
        docs, chunks = read_output(spark, last["out"])
        if workload == "recrawl_delta":
            prior_ref = Reference(crawls[0])
            chunked = {
                u for u, d in ref.docs.items()
                if u not in prior_ref.docs or prior_ref.docs[u][1] != d[1]
            }
            bad = mismatched_urls(ref, docs, chunks, chunked)
            from engine.io.vector_sink import load_live_keys

            live = set(load_live_keys(os.path.join(last["out"], "index"), VECTOR_INDEX))
            merged_keys = ref.keys(ref.docs) | prior_ref.keys(set(prior_ref.docs) - set(ref.docs))
            bad |= {k.rsplit("#", 1)[0] for k in live ^ merged_keys}
        else:
            chunked = set(ref.docs)
            bad = mismatched_urls(ref, docs, chunks, chunked)
        digest = output_digest(docs, chunks)
        mark("check")
        recorded = None
        if full_size and seed == DEFAULT_SEED:
            try:
                with open(os.path.join(HERE, "digests.json")) as f:
                    recorded = json.load(f).get(workload)
            except FileNotFoundError:
                pass
        digest_ok = recorded is None or recorded == digest

        res = last["res"]
        plain = [j for j in jobs if not j["traced"]]
        steal1, ticks1, load1 = *host_cpu(), loadavg()
        e2e = {
            "docs_per_s": statistics.median(n_in / j["wall"] for j in plain),
            "extract_docs_per_s": extract_rate,
            "cpu_s_per_kdoc": statistics.median(1000 * j["cpu"] / n_in for j in plain),
            "peak_rss_mb": statistics.median(j["rss"] for j in plain) / (1 << 20),
            "error_frac": res["errors"] / res["rows"],
            "url_match_frac": 1 - len(bad) / len(ref.docs),
            "setup_s": setup_s,
        }
        info = {
            "workload": workload,
            "seed": seed,
            "input_pages": n_in,
            "extract_input_pages": n_x,
            "extract_summary_ok": x_ok,
            "jobs": len(jobs),
            "job_walls_s": [round(j["wall"], 3) for j in jobs],
            "extract_walls_s": [round(w, 3) for w in x_walls],
            "phase_s": phase,
            "mismatched_urls": len(bad),
            "output_digest": digest,
            "recorded_digest": recorded,
            "host_steal_frac": (steal1 - steal0) / max(1, ticks1 - ticks0),
            "loadavg_start": load0,
            "loadavg_end": load1,
            **_host_info(spark, cores),
        }
        result = {
            "correct": not bad and digest_ok and x_ok,
            "attempted": len(jobs),
            "failed": 0,
            "e2e": e2e,
            "info": info,
        }
        if trace:
            per = {
                name: statistics.median(m[name] for m in layers) for name in layers[0]
            }
            per["session.start_s"] = start_s
            per["trace_overhead_frac"] = statistics.median(
                jobs[i]["wall"] / jobs[i + 1]["wall"] - 1 for i in range(1, len(jobs), 2)
            )
            per["check.mismatched_urls"] = len(bad)
            per.update(_kernel_metrics(ref))
            # fixed cost of a pass: the line through the walls of the
            # extraction crawl and of the (smaller) timed crawl
            small, _ok = _extract_walls(spark, timed_in, 3, None)
            w_x, w_s = statistics.median(extract_walls), statistics.median(small[1:])
            per_doc = (w_x - w_s) / (n_x - n_in)
            per["pipeline.extract_fixed_frac"] = (w_x - per_doc * n_x) / w_x
            walls, ok = _extract_walls(spark, x_in, 1, x_want, one_task=True)
            result["correct"] &= ok
            per["scaling.eff_1_to_n"] = extract_rate / (cores * n_x / walls[0])
            result["per_layer"] = per
        return result
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def _layer_metrics(tr, rest: dict, wall: float, t0: float, res: dict, out: str) -> dict:
    """Per-layer figures of one traced ingest job."""
    layer = tr.layer_s()
    commits = tr.ends("mark_done")
    bounds = [t0] + commits
    batch = [b - a for a, b in zip(bounds, bounds[1:])] or [wall]
    files = sum(
        f.endswith(".parquet") for _d, _s, fs in os.walk(out) for f in fs
    )
    return {
        **rest,
        "io.scan_s": layer.get("io.scan", 0.0),
        "io.files_written": float(files),
        "pipeline.extract_s": layer.get("pipeline.extract", 0.0),
        "pipeline.chunk_s": layer.get("pipeline.chunk", 0.0),
        "pipeline.vector_s": layer.get("pipeline.vector", 0.0),
        "pipeline.changed_docs_s": layer.get("pipeline.changed_docs", 0.0),
        "pipeline.changed_frac": res.get("docs_changed", res["rows"]) / res["rows"],
        "lineage.s": layer.get("lineage", 0.0),
        "commit.s": layer.get("commit", 0.0),
        "vector_sink.s": layer.get("vector_sink", 0.0),
        "vector_sink.puts": float(res.get("vectors_put", 0)),
        "vector_sink.deletes": float(res.get("vector_keys_deleted", 0)),
        "ingest.batches": float(res["batches_committed"]),
        "ingest.batch_s.median": statistics.median(batch),
        "ingest.batch_s.max": max(batch),
        "trace.span_coverage": tr.covered_s() / wall,
    }


def _kernel_metrics(ref) -> dict:
    """Single-process kernel costs over the workload's own inputs."""
    from engine.kernels.embed import embed_text

    out = {}
    for k, s in ref.kernel_s.items():
        n = ref.kernel_docs[k]
        out[f"kernels.{k}.ms_per_doc"] = 1e3 * s / n if n else 0.0
    chunks = ref.sample_chunks
    t0 = time.perf_counter()
    for c in chunks:
        embed_text(c)
    out["kernels.embed.ms_per_chunk"] = (
        1e3 * (time.perf_counter() - t0) / len(chunks) if chunks else 0.0
    )
    for path in ("html", "pdf_text", "pdf_ocr", "error"):
        out[f"kernels.route.{path}_docs"] = float(ref.routes.get(path, 0))
    return out


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    for need in ("engine/pipeline.py", "jobs/ingest.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            _fail(f"{need} not found under {ROOT}: run from a checkout of the repository")
    result = run_workload(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(result["info"], sort_keys=True))
    # BENCHMARK.json declares every metric with its unit
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    unit = {m["name"]: m["unit"] for m in declared}
    values = result["per_layer"] if a.trace else result["e2e"]
    metrics = {k: {"value": v, "unit": unit[k]} for k, v in sorted(values.items())}
    print(
        json.dumps(
            {
                "correct": result["correct"],
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
