"""sparksearch benchmark: index build, Spark query and serving, end to end.

    python3 perfbench/run.py --workload zipf --seed 1 --seconds 4 --trace 0

Run from the repository root. Every run, on either workload:

1. set-up: a ``local[4]`` Spark session, ``corpus.write_pages`` of
   4,000 seeded pages, the seeded query log;
2. build: pages → ``extract_pages_df`` → ``build_index`` → committed
   manifest, timed once (the session's first build, as a submitted
   build job runs it);
3. Spark query: ``bm25_topk_batch`` over the log in batches of 32 for
   ``--seconds``; traced runs also time ``bm25_topk_indexed`` per query
   (~0.8 s each, too slow to sample well in every run);
4. the Spark session and its JVM are stopped;
5. serve: a separate process runs ``LocalIndex.topk`` in its default
   configuration (result cache on), one closed-loop client, over a
   fixed 1,000 queries after a 100-query warm-up.

The workloads differ only in the query log: ``zipf`` repeats ~11% of
its queries (the serving result cache is exercised), ``distinct`` never
repeats one (the result cache is bypassed, so a serve change that only
helps repeats must leave it unchanged).

Correctness, outside every timed region: the manifest is committed
and holds every extracted indexable doc; every served answer equals
``LocalIndex.topk(..., use_wand=False)`` on a separate index; every
Spark answer equals the served answer to the same query; traced runs
also check that the codec microbenchmark's re-encode reproduces the
index's posting blocks. A query that raises or mismatches counts as
failed and is printed with its query.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same pipeline with tracing on and prints the per-layer metrics, whose
stage times sum to each end-to-end time up to the ``*.residual_*``
metrics (stated bound: 10% of the total).
The last stdout line is the JSON result; the lines before it name
every metric with its unit and sample count, every failure, the
machine stamp and the phase times.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
LOG_LEN = 4_000
SERVE_WARMUP = 100
WORKLOADS = ("zipf", "distinct")


def _pct(xs: list, p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, -(-len(s) * p // 100) - 1))]


def _cpu_times() -> list[int]:
    with open("/proc/stat", encoding="utf-8") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal(a: list[int], b: list[int]) -> float:
    d = [y - x for x, y in zip(a, b)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) > 0 else 0.0


def _stamp_point() -> dict:
    a = _cpu_times()
    time.sleep(0.25)
    b = _cpu_times()
    return {"steal_frac": _steal(a, b), "loadavg": os.getloadavg(),
            "cpu": b}


def _code_stamp() -> dict:
    """git HEAD when the checkout has one, and a hash of the package
    sources either way."""
    head = None
    try:
        with open(os.path.join(ROOT, ".git", "HEAD"), encoding="utf-8") as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:]), encoding="utf-8") as f:
                ref = f.read().strip()
        head = ref
    except OSError:
        pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "jivesearch_spark")
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(root, name)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return {"git_head": head, "source_sha256": h.hexdigest()[:16]}


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout."""
    if os.path.exists(WORK):
        shutil.rmtree(WORK)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile
    tempfile.tempdir = None


def run_pipeline(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import inputs, spark_phase, tracing

    r: dict = {"failures": [], "attempted": 0}
    t0 = time.perf_counter()
    spark = spark_phase.start_spark(WORK, trace)
    try:
        r["session_s"] = time.perf_counter() - t0
        t = time.perf_counter()
        pages = spark_phase.write_pages(spark, WORK, seed)
        r["pages_s"] = time.perf_counter() - t
        r["pages"] = inputs.N_PAGES
        log = inputs.query_log(seed, workload, LOG_LEN)
        raw = inputs.log_bytes(log)
        r["log_sha256"] = hashlib.sha256(raw).hexdigest()[:16]
        r["log_distinct"] = len(set(log))
        log_path = os.path.join(WORK, "log.jsonl")
        with open(log_path, "wb") as f:
            f.write(raw)
        r["setup_spark_s"] = time.perf_counter() - t0

        # -- build -------------------------------------------------------
        index_dir = os.path.join(WORK, "index")
        b = spark_phase.build(spark, pages, index_dir)
        man = b["man"]
        r["attempted"] += 1
        r["build_s"] = b["wall"]
        r["n_docs"] = man.n_docs
        r["index_bytes"] = spark_phase.index_sizes(index_dir)
        r["postings"] = sum(v["postings"] for v in man.completed_batches.values())
        r["postings_bytes"] = sum(v["bytes"] for v in man.completed_batches.values())
        r["terms"] = sum(v["terms"] for v in man.completed_batches.values())
        # the independent count: a separate extract-only pass over the
        # same pages; the staged count is an extra check on the build's
        # own staging table, which n_docs is derived from
        n_rows, n_urls, r["extract_s"] = spark_phase.count_extracted(
            spark, pages)
        counts = {"extracted": (n_rows, n_urls),
                  "staged": spark_phase.count_staged(spark, index_dir)}
        if trace:
            r["build_stages"] = spark_phase.build_stages(b)
        if not man.done or any(man.n_docs != urls for _, urls in counts.values()):
            r["failures"].append({
                "phase": "build", "query": None,
                "error": f"done={man.done} n_docs={man.n_docs} "
                         f"(rows, urls)={counts}"})

        # -- Spark queries -------------------------------------------------
        sb = spark_phase.spark_batches(spark, index_dir, log,
                                       seconds, trace)
        r["batch_setup_s"] = sb["setup"]
        r["batch_walls"] = sb["walls"]
        r["batch_queries"] = sb["n_queries"]
        r["attempted"] += sb["n_queries"]
        r["failures"] += sb["failures"]
        spark_answers = [("spark_batch", q, a) for q, a in sb["answers"]]
        if trace:
            # ~0.8 s a query: per-query Spark latency fits the traced
            # run only, where it feeds the spark_query layer metrics
            sq = spark_phase.spark_queries(spark, index_dir, log,
                                           seconds)
            r["spark_lat"] = sq["lat"]
            r["attempted"] += len(sq["lat"])
            r["failures"] += sq["failures"]
            spark_answers += [("spark_query", q, a) for q, a in sq["answers"]]
        r["spark_done_s"] = time.perf_counter() - t0
    finally:
        spark_phase.stop_spark(spark)
    r["spark_stopped_s"] = time.perf_counter() - t0
    # the build and the Spark queries leave dirty pages behind; write
    # them back now rather than while the serving tier is timed
    os.sync()

    if trace:
        ev = tracing.read_event_log(os.path.join(WORK, "eventlog"))
        bs = r["build_stages"]
        build_sids = tracing.job_stages(
            ev, tracing.group_jobs(ev, spark_phase.BUILD_GROUP))
        by_window = {name: tracing.stages_completed_in(ev, build_sids, *win)
                     for name, win in bs["windows"].items()}
        r["build_unattributed"] = (
            len(build_sids) - sum(len(v) for v in by_window.values()))
        build_log = {name: tracing.stage_totals(ev, sids)
                     for name, sids in by_window.items()}
        # the build's other jobs: the doc_meta write on its own thread,
        # concurrent with the encode
        build_log["doc_meta"] = tracing.stage_totals(ev, tracing.job_stages(
            ev, [j for j in tracing.jobs_submitted_in(ev, *bs["span"])
                 if j["group"] != spark_phase.BUILD_GROUP]))
        r["event_log"] = {
            "build": build_log,
            # per answered query: wall, plan-call and stats-lookup seconds,
            # its collect() jobs and its term_stats lookup jobs
            "query": [(wall, plan, stats,
                       tracing.jobs_totals(ev, tracing.group_jobs(ev, g), t_col),
                       tracing.jobs_totals(ev, tracing.group_jobs(ev, g + "-stats")))
                      for g, plan, wall, stats, t_col in sq["traced"]],
            "batch": [(wall, plan,
                       tracing.jobs_totals(ev, tracing.group_jobs(ev, g)))
                      for g, plan, wall in sb["traced"]],
        }

    # -- serve, in its own process --------------------------------------
    answers_path = os.path.join(WORK, "spark_answers.json")
    with open(answers_path, "w", encoding="utf-8") as f:
        json.dump(spark_answers, f)
    out_path = os.path.join(WORK, "serve_out.json")
    args = {"index": index_dir, "log": log_path, "warmup": SERVE_WARMUP,
            "trace": trace,
            "spark_answers": answers_path, "out": out_path}
    t = time.perf_counter()
    subprocess.run([sys.executable, "-m", "perfbench.serve_phase",
                    json.dumps(args)], cwd=ROOT, check=True, timeout=150)
    r["serve_process_s"] = time.perf_counter() - t
    with open(out_path, encoding="utf-8") as f:
        sv = json.load(f)
    r["serve"] = sv
    r["attempted"] += len(sv["lat"])
    r["failures"] += sv["failures"]

    if trace:
        from perfbench import codec_bench
        codec_failures, r["codec"] = codec_bench.run(index_dir)
        r["attempted"] += 1
        r["failures"] += codec_failures
    return r


def end_to_end(r: dict) -> dict:
    """The end-to-end metrics: (value, unit, samples)."""
    sv = r["serve"]
    lat_ms = [x * 1e3 for x in sv["lat"]]
    return {
        "setup_s": (r["setup_spark_s"] + r["batch_setup_s"] + sv["setup_s"],
                    "s", 1),
        "build_docs_per_s": (r["n_docs"] / r["build_s"], "1/s", 1),
        "index_bytes_per_doc": (sum(r["index_bytes"].values()) / r["n_docs"],
                                "B", 1),
        "serve_p50_ms": (statistics.median(lat_ms), "ms", len(lat_ms)),
        "serve_p90_ms": (_pct(lat_ms, 90), "ms", len(lat_ms)),
        "serve_qps": (len(lat_ms) / (sum(lat_ms) / 1e3), "1/s", len(lat_ms)),
        "serve_rss_mb": (sv["rss_mb"], "MB", 1),
        "spark_batch_qps": (_batch_qps(r), "1/s", len(r["batch_walls"])),
    }


def _batch_qps(r: dict) -> float:
    """Queries per second of the median batch: every batch holds
    ``BATCH_SIZE`` queries, and the first after the build runs slower
    while the JVM still warms up."""
    from perfbench import spark_phase
    return spark_phase.BATCH_SIZE / statistics.median(r["batch_walls"])


def serve_p99_ms(r: dict) -> float:
    """Printed with every run, not gated: ten samples beyond it swing
    by more than any bound this benchmark could hold."""
    return _pct([x * 1e3 for x in r["serve"]["lat"]], 99)


def per_layer(r: dict) -> dict:
    """The traced run's per-layer metrics: (value, unit)."""
    m: dict = {}
    st = r["build_stages"]["walls"]
    for name in ("stage_write", "offsets", "tf_stats", "encode", "meta_wait"):
        m[f"build.{name}_s"] = (st[name], "s")
    resid = r["build_s"] - sum(st.values())
    m["build.residual_s"] = (resid, "s")
    m["build.residual_frac"] = (resid / r["build_s"], "ratio")
    m["traced.build_docs_per_s"] = (r["n_docs"] / r["build_s"], "1/s")
    units = {"executor_run_s": "s", "shuffle_write_mb": "MB",
             "shuffle_read_mb": "MB", "spill_mb": "MB", "gc_s": "s",
             "task_skew": "ratio"}
    for stage, tot in r["event_log"]["build"].items():
        for key, val in tot.items():
            m[f"build.{stage}.{key}"] = (val, units[key])
    m["extract.pages_per_s"] = (r["pages"] / r["extract_s"], "1/s")
    m["index.postings"] = (r["postings"], "count")
    m["index.terms"] = (r["terms"], "count")
    m["index.postings_bytes"] = (r["postings_bytes"], "B")
    for name, val in r["codec"].items():
        m[name] = (val, "1e6/s")

    sv = r["serve"]
    n = len(sv["lat_traced"])
    sp, c = sv["spans"], sv["counts"]
    total_ms = sum(sv["lat_traced"]) * 1e3 / n
    layer_ms = 0.0
    for name in ("analyze", "term_stats", "pruned_read", "block_meta",
                 "kernel", "evict"):
        v = sp.get(name, 0.0) * 1e3 / n
        layer_ms += v
        m[f"serve.{name}_ms"] = (v, "ms")
    m["serve.residual_ms"] = (total_ms - layer_ms, "ms")
    m["serve.residual_frac"] = ((total_ms - layer_ms) / total_ms, "ratio")
    live = c.get("live_terms", 0)
    m["serve.meta_cache_hit_ratio"] = (
        1 - c.get("meta_miss_terms", 0) / live if live else 1.0, "ratio")
    kq = c.get("kernel_queries", 0)
    m["serve.blocks_decoded_ratio"] = (
        c.get("blocks_decoded", 0) / c["blocks_total"]
        if c.get("blocks_total") else 0.0, "ratio")
    m["serve.prefix_ta_frac"] = (c.get("prefix_ta", 0) / kq if kq else 0.0, "ratio")
    m["serve.dense_bailout_frac"] = (
        c.get("dense_bailout", 0) / kq if kq else 0.0, "ratio")
    m["serve.result_cache_hit_ratio"] = (c.get("result_cache_hits", 0) / n, "ratio")
    m["serve.cached_postings"] = (sv["cached_postings"], "count")
    # the plain index answered the same queries, untraced, interleaved
    m["serve.trace_overhead_frac"] = (
        sum(sv["lat_traced"]) / sum(sv["lat"]) - 1, "ratio")
    m["serve.p99_ms"] = (serve_p99_ms(r), "ms")
    m["traced.serve_p50_ms"] = (
        statistics.median(x * 1e3 for x in sv["lat_traced"]), "ms")

    # a Spark query: the bm25_topk_indexed call builds the plan (query
    # analysis plus the term_stats lookup, itself a Spark job), then
    # collect() plans physically and runs the query's own jobs;
    # residual = collect() time between and after those jobs
    q = r["event_log"]["query"]
    nq = len(q)
    wall = sum(x[0] for x in q) / nq
    stats_s = sum(x[2] for x in q) / nq
    plan_s = sum(x[1] for x in q) / nq - stats_s
    phys_s = sum(x[3]["wait_s"] for x in q) / nq
    job_s = sum(x[3]["job_s"] for x in q) / nq
    resid = wall - stats_s - plan_s - phys_s - job_s
    m["spark_query.stats_lookup_s"] = (stats_s, "s")
    m["spark_query.plan_s"] = (plan_s, "s")
    m["spark_query.physical_plan_s"] = (phys_s, "s")
    m["spark_query.job_s"] = (job_s, "s")
    m["spark_query.residual_s"] = (resid, "s")
    m["spark_query.residual_frac"] = (resid / wall, "ratio")
    m["spark_query.jobs_per_query"] = (
        sum(j["jobs"] + s["jobs"] for *_, j, s in q) / nq, "count")
    m["spark_query.tasks_per_query"] = (
        sum(j["tasks"] + s["tasks"] for *_, j, s in q) / nq, "count")
    m["spark_query.executor_run_s"] = (
        sum(j["executor_run_s"] + s["executor_run_s"] for *_, j, s in q) / nq,
        "s")
    m["spark_query.p50_s"] = (statistics.median(r["spark_lat"]), "s")
    m["spark_query.p90_s"] = (_pct(r["spark_lat"], 90), "s")
    bt = r["event_log"]["batch"]
    nb = len(bt)
    bwall = sum(x[0] for x in bt) / nb
    bplan = sum(x[1] for x in bt) / nb
    bjob = sum(x[2]["job_s"] for x in bt) / nb
    m["spark_batch.plan_s"] = (bplan, "s")
    m["spark_batch.job_s"] = (bjob, "s")
    m["spark_batch.executor_run_s"] = (
        sum(x[2]["executor_run_s"] for x in bt) / nb, "s")
    m["spark_batch.residual_s"] = (bwall - bplan - bjob, "s")
    m["spark_batch.residual_frac"] = ((bwall - bplan - bjob) / bwall, "ratio")
    m["traced.spark_batch_qps"] = (
        _batch_qps(r), "1/s")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "jivesearch_spark", "serve.py")):
        print(f"perfbench: no jivesearch_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import inputs
    _prepare_env()
    before = _stamp_point()
    try:
        r = run_pipeline(a.workload, a.seed, a.seconds, bool(a.trace))
    finally:
        after = _stamp_point()
        shutil.rmtree(WORK, ignore_errors=True)

    serve = r["serve"]
    stamp = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        **_code_stamp(),
        "steal_frac_before": before["steal_frac"],
        "steal_frac_run": _steal(before["cpu"], after["cpu"]),
        "steal_frac_after": after["steal_frac"],
        "loadavg_before": before["loadavg"], "loadavg_after": after["loadavg"],
        "log_sha256": r["log_sha256"], "log_distinct": r["log_distinct"],
        "docs": r["n_docs"], "postings": r["postings"],
        "postings_vs_serve_budget":
            r["postings"] / inputs.SERVE_BUDGET_POSTINGS,
    }
    print("stamp " + json.dumps(stamp))
    print("phases " + json.dumps({k: round(v, 3) for k, v in {
        "session_s": r["session_s"], "pages_s": r["pages_s"],
        "build_s": r["build_s"], "spark_done_s": r["spark_done_s"],
        "spark_stopped_s": r["spark_stopped_s"],
        "serve_process_s": r["serve_process_s"],
        "serve_setup_s": serve["setup_s"], "serve_check_s": serve["check_s"],
    }.items()}))
    for f in r["failures"]:
        print("FAIL " + json.dumps(f))

    if a.trace:
        # every Spark stage of the build's job group completes inside
        # one of the build-stage windows; this counts those that do not
        print(f"build_stages_unattributed = {r['build_unattributed']}")
        metrics = per_layer(r)
        for name, (val, unit) in metrics.items():
            print(f"{name} = {val:.6g} {unit}")
    else:
        e2e = end_to_end(r)
        for name, (val, unit, n) in e2e.items():
            print(f"{name} = {val:.6g} {unit} (n={n})")
        print(f"serve_p99_ms = {serve_p99_ms(r):.6g} ms "
              f"(n={len(serve['lat'])}, printed only)")
        metrics = {k: (v, u) for k, (v, u, _n) in e2e.items()}
    failed = len(r["failures"])
    print(json.dumps({
        "correct": failed == 0, "attempted": r["attempted"], "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
