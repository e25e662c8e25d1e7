"""Seeded benchmark inputs: the pages corpus size and the query logs.

Everything here is a pure function of the ``--seed`` argument, so two
runs with the same seed get byte-identical query logs (``log_bytes``
is what the run hashes and prints) and the same pages
(``corpus.write_pages`` derives every row from ``(seed, row_id)``).

A query is ``(text, offset, msm)``: the raw string a user typed, the
paging offset (0, 10 or 20 — what result pages 1-3 send) and whether
``min_should_match`` is on. Every query asks for k = 10.
"""

from __future__ import annotations

import json
import random
import string

from jivesearch_spark import corpus

K = 10
#: pages generated per run; ~92% survive extraction as indexable docs
N_PAGES = 4_000
#: the serving tier's decoded-postings budget
#: (``LocalIndex.term_cache_max_postings``), quoted against index size
SERVE_BUDGET_POSTINGS = 16_000_000

#: real logs carry queries that analyze to nothing useful
_STOPWORD_QUERIES = ["the", "of the", "a the and", "to in", "and or"]

# Where each share of the mix comes from. Cited figures are from
# Silverstein, Henzinger, Marais, Moricz, "Analysis of a Very Large Web
# Search Engine Query Log", SIGIR Forum 33(1), 1999 (AltaVista, ~1e9
# requests); everything else is an assumption of this benchmark.
#
# Terms per query (cited): 0 terms 20.6%, 1: 25.8%, 2: 26.0%, 3: 15.0%,
# more than 3: 12.6%. Empty queries are not sent. Assumption: the
# "more than 3" share is split evenly between 4 and 5 terms.
_TERMS_PER_QUERY = [1, 2, 3, 4, 5]
_TERMS_WEIGHTS = [25.8, 26.0, 15.0, 6.3, 6.3]
# Paging (derived from the cited result screens viewed per query:
# 1: 85.2%, 2: 7.5%, 3: 3.0%, more than 3: 4.3%). Every query asks for
# screen 1, 14.8% also for screen 2 and 7.3% also for screen 3, so the
# request stream is offsets 0 : 10 : 20 = 100 : 14.8 : 7.3. Assumption:
# screens past the third are not sent (offset <= 20).
_OFFSETS = [0, 10, 20]
_OFFSET_WEIGHTS = [100.0, 14.8, 7.3]
#: assumptions, no log figure behind them: shares of stopword-only and
#: unknown-term queries, of case/whitespace variants, and of
#: multi-term queries sent with ``min_should_match``
STOPWORD_SHARE = 0.02
UNKNOWN_SHARE = 0.02
VARIANT_SHARE = 0.10
MSM_SHARE = 0.25
#: assumption: query popularity is Zipf-like (the shape reported for
#: web search logs, e.g. Xie and O'Hallaron, INFOCOM 2002) over a pool
#: of 20,000 distinct queries. The exponent is not a log figure either.
#: With it a 4,000-query log has ~3,140 distinct queries (~22% repeats)
#: and the ~1,100 queries a run serves repeat ~11%. It is not tuned to
#: any latency figure.
ZIPF_POOL = 20_000
ZIPF_S = 0.61


def _variant(rng: random.Random, text: str) -> str:
    """A case or whitespace variant of ``text``: same analyzed terms,
    different raw string (so a result cache keyed on the raw string
    misses)."""
    kind = rng.randrange(4)
    if kind == 0:
        return text.upper()
    if kind == 1:
        return text.title()
    if kind == 2:
        return "  " + text.replace(" ", "   ") + " "
    return text.replace(" ", "\t")


def _unknown_term(rng: random.Random, vocab: set) -> str:
    while True:
        w = "".join(rng.choice(string.ascii_lowercase) for _ in range(11))
        if w not in vocab:
            return w


def _query(rng: random.Random, vocab: set) -> tuple[str, int, bool]:
    r = rng.random()
    if r < STOPWORD_SHARE:
        text = rng.choice(_STOPWORD_QUERIES)
    elif r < STOPWORD_SHARE + UNKNOWN_SHARE:
        text = _unknown_term(rng, vocab)
        if rng.random() < 0.5:
            text += " " + corpus.zipf_word(rng)
    else:
        n = rng.choices(_TERMS_PER_QUERY, _TERMS_WEIGHTS)[0]
        text = " ".join(corpus.zipf_word(rng) for _ in range(n))
        if rng.random() < VARIANT_SHARE:
            text = _variant(rng, text)
    offset = rng.choices(_OFFSETS, _OFFSET_WEIGHTS)[0]
    msm = len(text.split()) > 1 and rng.random() < MSM_SHARE
    return text, offset, msm


def query_log(seed: int, workload: str, n: int) -> list[tuple[str, int, bool]]:
    """``n`` queries for ``workload``.

    ``zipf``: draws from the ``ZIPF_POOL`` distinct queries with Zipf
    popularity (``ZIPF_S``), so the head repeats and the serving result
    cache is exercised: ~11% of the 1,000 queries timed after a
    100-query warm-up repeat an earlier one.
    ``distinct``: ``n`` queries that are all
    different, so the result cache never hits; term-level caches still
    see the Zipf term skew.
    """
    rng = random.Random(f"perfbench-log-{workload}-{seed}")
    vocab = set(corpus.VOCAB)
    if workload == "zipf":
        pool: list = []
        seen: set = set()
        while len(pool) < ZIPF_POOL:
            q = _query(rng, vocab)
            if q not in seen:
                seen.add(q)
                pool.append(q)
        weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(pool))]
        return rng.choices(pool, weights, k=n)
    if workload == "distinct":
        out: list = []
        seen = set()
        while len(out) < n:
            q = _query(rng, vocab)
            if q not in seen:
                seen.add(q)
                out.append(q)
        return out
    raise ValueError(f"unknown workload {workload!r}")


def log_bytes(log: list[tuple[str, int, bool]]) -> bytes:
    """Canonical serialization of a log (one JSON array per line)."""
    return "".join(json.dumps(list(q)) + "\n" for q in log).encode()


def read_log(path: str) -> list[tuple[str, int, bool]]:
    with open(path, encoding="utf-8") as f:
        return [tuple(json.loads(line)) for line in f]
