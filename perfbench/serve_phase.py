"""The serving half of a run, in its own process: ``LocalIndex.topk``
in its default configuration (result cache on), one closed-loop client.

Run as ``python3 -m perfbench.serve_phase ARGS_JSON`` from the checkout
root; writes its results as JSON to ``args["out"]``. Its own peak RSS
is the serving tier's memory, apart from the Spark side's.

Untraced, one ``LocalIndex`` answers the log. Traced, two indexes
answer the same (first ``QUERIES // 2``) queries, taking turns on
which goes first: ``plain`` with no wrapper installed and ``traced``
with perf_counter spans around the serving layers, so the difference
of their latencies is the tracing overhead, measured on identical work.
"""

from __future__ import annotations

import json
import resource
import sys
import time

from . import inputs, tracing

#: queries timed per run, after the warm-up prefix: a fixed count, so
#: the work (and the zipf log's result-cache hit ratio) does not
#: depend on how fast the code under test is
QUERIES = 1_000


def _ask(idx, q):
    text, offset, msm = q
    return idx.topk(text, inputs.K, min_should_match=msm, offset=offset)


def _rounded(res) -> list:
    return [(int(d), round(float(s), 9)) for d, s in res]


def _timed(idx, q, failures: list):
    t = time.perf_counter()
    try:
        res = _ask(idx, q)
    except Exception as exc:  # a failed query is counted, not dropped
        failures.append({"phase": "serve", "query": q, "error": repr(exc)})
        return time.perf_counter() - t, None
    return time.perf_counter() - t, res


def _remember(answers: dict, q, res, failures: list) -> None:
    got = _rounded(res)
    first = answers.setdefault(q, got)
    if first != got:
        failures.append({"phase": "serve", "query": q,
                         "error": "answer differs between repeats"})


def _install(spans: tracing.Spans, idx) -> None:
    """Spans around each serving layer: analyze, term_stats lookup,
    pruned postings read, block-meta build, top-k kernel, eviction."""
    from jivesearch_spark import serve

    def live_terms(args, res):
        spans.counts["live_terms"] += len(res)

    def meta_misses(args, res):
        spans.counts["meta_miss_terms"] += len(args[0])

    spans.wrap(serve, "analyze_query", "analyze")
    spans.wrap(serve, "_term_block_meta", "block_meta")
    spans.wrap(serve, "_topk_blockmax_lazy", "kernel")
    spans.wrap(idx, "stats_for", "term_stats", on_result=live_terms)
    spans.wrap(idx, "_blocks_for", "pruned_read", on_result=meta_misses)
    spans.wrap(idx, "_evict", "evict")


def _kernel_counts(spans: tracing.Spans, q, idx) -> None:
    st = idx.last_stats.get(q[0], {})
    c = spans.counts
    if st.get("result_cache_hit"):
        c["result_cache_hits"] += 1
        return
    if "blocks_total" in st or "blocks_decoded" in st:
        c["kernel_queries"] += 1
        c["blocks_decoded"] += int(st.get("blocks_decoded", 0))
        c["blocks_total"] += int(st.get("blocks_total", 0))
        c["prefix_ta"] += bool(st.get("prefix_ta"))
        c["dense_bailout"] += bool(st.get("dense_bailout"))


def main(args: dict) -> dict:
    t0 = time.perf_counter()
    from jivesearch_spark.serve import LocalIndex

    log = inputs.read_log(args["log"])
    warm, trace = args["warmup"], args["trace"]

    def opened():
        idx = LocalIndex(args["index"])
        for q in log[:warm]:
            _ask(idx, q)
        return idx

    plain = opened()
    setup = time.perf_counter() - t0
    traced = opened() if trace else None

    spans = tracing.Spans()
    lat, lat_traced, failures = [], [], []
    answers: dict = {}
    n = QUERIES // 2 if trace else QUERIES
    for i, q in enumerate(log[warm:warm + n]):
        if traced is None:
            dt, res = _timed(plain, q, failures)
            lat.append(dt)
            if res is not None:
                _remember(answers, q, res, failures)
            continue
        order = (plain, traced) if i % 2 else (traced, plain)
        for idx in order:
            if idx is traced:
                _install(spans, traced)
                try:
                    dt, res = _timed(traced, q, failures)
                finally:
                    spans.restore()
                lat_traced.append(dt)
                _kernel_counts(spans, q, traced)
            else:
                dt, res = _timed(plain, q, failures)
                lat.append(dt)
            if res is not None:
                _remember(answers, q, res, failures)
    rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    t_check = time.perf_counter()

    # -- correctness, outside the timed loop --------------------------
    # one brute-force batch per (offset, msm): a shared pruned read
    brute = LocalIndex(args["index"])
    groups: dict = {}
    for q in answers:
        groups.setdefault(q[1:], []).append(q[0])
    for (offset, msm), texts in groups.items():
        want_all = brute.topk_batch(texts, inputs.K, use_wand=False,
                                    min_should_match=msm, offset=offset)
        for text in texts:
            got, want = answers[(text, offset, msm)], _rounded(want_all[text])
            if got != want:
                failures.append({"phase": "serve", "query": (text, offset, msm),
                                 "error": f"rank identity: got {got[:3]}... "
                                          f"want {want[:3]}..."})
    with open(args["spark_answers"], encoding="utf-8") as f:
        spark_answers = json.load(f)
    for phase, q, got in spark_answers:
        q = tuple(q)
        got = [tuple(r) for r in got]
        want = answers.get(q)
        if want is None:
            want = _rounded(_ask(plain, q))
        if got != want:
            failures.append({"phase": phase, "query": q,
                             "error": f"differs from serve: got {got[:3]}... "
                                      f"want {want[:3]}..."})

    out = {"setup_s": setup, "lat": lat, "rss_mb": rss_mb,
           "check_s": time.perf_counter() - t_check,
           "failures": failures}
    if traced is not None:
        out["lat_traced"] = lat_traced
        out["spans"] = dict(spans.seconds)
        out["counts"] = dict(spans.counts)
        out["cached_postings"] = traced._cost_total
    return out


if __name__ == "__main__":
    params = json.loads(sys.argv[1])
    result = main(params)
    with open(params["out"], "w", encoding="utf-8") as fh:
        json.dump(result, fh)
