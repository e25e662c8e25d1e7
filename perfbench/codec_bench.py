"""``codec`` microbenchmarks over real posting bytes of the built index.

Three kernels, each timed as the median of repeated passes:

- ``varint_decode`` of single-block docid-delta streams: 128 mixed
  1- and multi-byte values, the < 4096-value path the probe path takes;
- ``decode_blocks_concat`` of runs of consecutive blocks holding
  >= 4096 postings: the joined delta stream takes the >= 4096-value
  path, as a bulk decode of many blocks does;
- ``encode_blocks_frame`` re-encoding every posting list of the index
  in one frame of (term, shard) groups, as the build's encode kernel
  does per Arrow batch; the re-encoded blocks must equal the index's
  own bytes, which shows the timed call has the build's block layout.

Rates are millions of values (postings) per second.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

LARGE = 4096


def _rate(fn, values: int, seconds: float = 0.25, min_reps: int = 3) -> float:
    rates = []
    stop = time.perf_counter() + seconds
    while time.perf_counter() < stop or len(rates) < min_reps:
        t = time.perf_counter()
        fn()
        rates.append(values / (time.perf_counter() - t) / 1e6)
    return statistics.median(rates)


def run(index_dir: str) -> tuple[list, dict]:
    """(failures, rates) over the index at ``index_dir``."""
    import pyarrow.dataset as ds

    from jivesearch_spark import codec

    tbl = ds.dataset(f"{index_dir}/postings", partitioning="hive").to_table(
        columns=["term", "shard", "block_id", "n_docs", "deltas", "tfs",
                 "dls"],
        filter=ds.field("block_id") >= 0).sort_by(
        [("term", "ascending"), ("shard", "ascending"),
         ("block_id", "ascending")])
    terms = tbl["term"].to_pylist()
    shards = tbl["shard"].to_pylist()
    nd = tbl["n_docs"].to_numpy()
    deltas = tbl["deltas"].to_pylist()
    tfs = tbl["tfs"].to_pylist()
    dls = tbl["dls"].to_pylist()

    small = [(deltas[i], int(nd[i])) for i in range(len(terms))
             if nd[i] == codec.BLOCK_SIZE and len(deltas[i]) > nd[i]][:2000]

    def decode_small():
        for buf, n in small:
            codec.varint_decode(buf, n)

    # runs of consecutive blocks of >= LARGE postings each
    runs, start = [], 0
    for i in range(len(terms)):
        if nd[start:i + 1].sum() >= LARGE:
            runs.append(slice(start, i + 1))
            start = i + 1
    if not small or not runs:
        raise RuntimeError("index too small for the codec microbenchmarks")
    n_large = sum(int(nd[r].sum()) for r in runs)

    def decode_large():
        for r in runs:
            codec.decode_blocks_concat(deltas[r], tfs[r], dls[r], nd[r])

    # every posting list, decoded, as one frame of (term, shard) groups
    docids, tf_all, dl_all = codec.decode_blocks_concat(deltas, tfs, dls, nd)
    first = [0] + [i for i in range(1, len(terms))
                   if (terms[i], shards[i]) != (terms[i - 1], shards[i - 1])]
    starts = np.concatenate([[0], np.cumsum(nd)[:-1]])[first]
    scores = tf_all / (tf_all + dl_all)

    def encode():
        return codec.encode_blocks_frame(docids, tf_all, dl_all, scores, starts)

    failures = []
    _, _, enc_deltas, enc_tfs, enc_dls = encode()
    if (list(enc_deltas), list(enc_tfs), list(enc_dls)) != (deltas, tfs, dls):
        failures.append({"phase": "codec", "query": None,
                         "error": "encode_blocks_frame output differs from "
                                  "the index's posting blocks"})
    return failures, {
        "codec.decode_small_mvalues_per_s":
            _rate(decode_small, sum(n for _, n in small)),
        "codec.decode_large_mvalues_per_s": _rate(decode_large, n_large),
        "codec.encode_mvalues_per_s": _rate(encode, int(nd.sum())),
    }
