"""The Spark half of a run: session, pages, index build, Spark queries.

Runs in the benchmark's own process. ``stop_spark`` ends the session
and the JVM it launched, and waits for every process under it, so no
Spark process is alive while the serving tier is measured.
"""

from __future__ import annotations

import os
import signal
import time

from . import inputs

#: the build configuration, scaled to this corpus: one encode batch
#: (the single-batch fast path bench.py's build also takes) and 1,024
#: docs per shard, so the ~3.7k-doc index has 4 shards and a Spark
#: query runs one kernel task per shard, as at scale
INDEX_PARAMS = dict(docs_per_shard=1024, n_buckets=16, bucket_batch=16)
BATCH_SIZE = 32
WARMUP_BATCHES = 3
#: the Spark job group the build's own jobs run under
BUILD_GROUP = "build"
MIN_QUERIES = 5
MIN_BATCHES = 2


def start_spark(work: str, trace: bool):
    """A ``local[4]`` session whose every file lives under ``work``."""
    from jivesearch_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.driver.memory": "3g",
    }
    if trace:
        ev_dir = os.path.join(work, "eventlog")
        os.makedirs(ev_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + ev_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(master="local[4]", app_name="perfbench",
                      shuffle_partitions=8, **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def write_pages(spark, work: str, seed: int) -> str:
    from jivesearch_spark import corpus

    path = os.path.join(work, "pages")
    corpus.write_pages(spark, path, inputs.N_PAGES, seed=seed)
    return path


def _extracted_docs(spark, pages_path: str):
    from pyspark.sql import functions as F

    from jivesearch_spark.extract import extract_pages_df

    pages = spark.read.parquet(pages_path)
    return (extract_pages_df(pages, collect_links=False)
            .where(F.col("valid") & F.col("index") & F.col("canonical"))
            .select("url", "text"))


def build(spark, pages_path: str, out_dir: str) -> dict:
    """Pages parquet → extract → docids → committed index, timed.
    Returns the manifest, wall seconds and the ``build_index`` stage
    marks ``(perf_counter, epoch, message)``.

    The calling thread's jobs run under ``BUILD_GROUP``. The doc_meta
    write that ``build_index`` starts on a thread of its own does not
    inherit the group; the event log tells its jobs apart by that."""
    from jivesearch_spark.index import IndexParams, build_index

    marks: list = []

    def log(msg):
        marks.append((time.perf_counter(), time.time(), str(msg)))

    sc = spark.sparkContext
    sc.setJobGroup(BUILD_GROUP, "index build")
    try:
        t_epoch = time.time()
        t0 = time.perf_counter()
        man = build_index(_extracted_docs(spark, pages_path), out_dir,
                          IndexParams(**INDEX_PARAMS), id_col="__none__",
                          url_col="url", check_invariants=False, log=log)
        wall = time.perf_counter() - t0
    finally:
        sc.setJobGroup("", "")
    return {"man": man, "wall": wall, "t0": t0, "t_epoch": t_epoch,
            "marks": marks}


def _counts(df) -> tuple[int, int]:
    from pyspark.sql import functions as F

    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.countDistinct("url").alias("urls")).collect()[0]
    return int(row["n"]), int(row["urls"])


def count_staged(spark, index_dir: str) -> tuple[int, int]:
    """(rows, distinct urls) of the extracted indexable docs the build
    staged for docid assignment (duplicate urls share one docid)."""
    return _counts(spark.read.parquet(os.path.join(index_dir, "docid_staging")))


def count_extracted(spark, pages_path: str) -> tuple[int, int, float]:
    """(rows, distinct urls, seconds) of a separate extract-only pass."""
    t0 = time.perf_counter()
    n, urls = _counts(_extracted_docs(spark, pages_path))
    return n, urls, time.perf_counter() - t0


def build_stages(b: dict) -> dict:
    """Wall seconds per build stage from the ``build_index`` log marks,
    the epoch window of each stage and of the whole build (for
    event-log attribution)."""
    def mark(sub):
        for pc, ep, msg in b["marks"]:
            if sub in msg:
                return pc, ep
        raise RuntimeError(f"build log has no {sub!r} line: "
                           f"{[m[2] for m in b['marks']]}")

    start = (b["t0"], b["t_epoch"])
    staged = mark("stage1: staging write")
    offsets = mark("stage1: offsets")
    tfst = mark("stage1: tf+stats")
    enc0 = mark("stage2: encode begin")
    batches = [(pc, ep) for pc, ep, msg in b["marks"]
               if msg.startswith("[index] buckets_")]
    enc1 = batches[-1]
    meta = mark("meta write wait")
    end = (b["t0"] + b["wall"], b["t_epoch"] + b["wall"])
    walls = {
        "stage_write": staged[0] - start[0],
        "offsets": offsets[0] - staged[0],
        "tf_stats": tfst[0] - offsets[0],
        "encode": enc1[0] - enc0[0],
        "meta_wait": meta[0] - enc1[0],
    }
    windows = {
        "stage_write": (start[1], staged[1]),
        "offsets": (staged[1], offsets[1]),
        "tf_stats": (offsets[1], tfst[1]),
        "encode": (tfst[1], end[1]),
    }
    return {"walls": walls, "windows": windows, "span": (start[1], end[1])}


def index_sizes(out_dir: str) -> dict:
    """On-disk bytes of the tables a reader opens."""
    sizes = {}
    for table in ("postings", "term_stats", "doc_meta"):
        total = 0
        for root, _dirs, files in os.walk(os.path.join(out_dir, table)):
            total += sum(os.path.getsize(os.path.join(root, f))
                         for f in files if not f.startswith((".", "_")))
        sizes[table] = total
    return sizes


def _rows(df) -> list:
    return [(int(r["docid"]), round(float(r["score"]), 9))
            for r in df.collect()]


def spark_queries(spark, index_dir: str, log: list, seconds: float) -> dict:
    """``bm25_topk_indexed`` per query over the log's distinct queries,
    closed loop, for ``seconds`` (at least ``MIN_QUERIES``).

    One untimed query first compiles the query plan shapes. Each
    query runs under its own Spark job group so the event log can
    attribute jobs and tasks to it."""
    from jivesearch_spark.query import IndexReader, bm25_topk_indexed

    sc = spark.sparkContext
    reader = IndexReader(spark, index_dir)
    text, offset, msm = log[0]
    _rows(bm25_topk_indexed(reader, text, inputs.K, min_should_match=msm,
                            offset=offset))

    group = ""
    stats_s = 0.0
    # the term_stats lookup gets its own span and job group, so its
    # Spark job is told apart from the query's own jobs
    orig_stats = reader.stats_for

    def stats_for(terms):
        nonlocal stats_s
        sc.setJobGroup(group + "-stats", "stats lookup")
        t = time.perf_counter()
        try:
            return orig_stats(terms)
        finally:
            stats_s += time.perf_counter() - t
            sc.setJobGroup(group, "query")
    reader.stats_for = stats_for

    distinct = list(dict.fromkeys(log[1:]))
    answers, lat, failures = [], [], []
    #: per answered query: (job group, plan s, wall s, stats lookup s,
    #: epoch at collect() start)
    traced = []
    deadline = time.perf_counter() + seconds
    for i, q in enumerate(distinct):
        if time.perf_counter() >= deadline and len(lat) >= MIN_QUERIES:
            break
        group = f"q{i}"
        sc.setJobGroup(group, "query")
        text, offset, msm = q
        stats0 = stats_s
        t = time.perf_counter()
        try:
            df = bm25_topk_indexed(reader, text, inputs.K,
                                   min_should_match=msm, offset=offset)
            t_plan, t_epoch = time.perf_counter(), time.time()
            res = _rows(df)
        except Exception as exc:  # a failed query is counted, not dropped
            lat.append(time.perf_counter() - t)
            failures.append({"phase": "spark_query", "query": q,
                             "error": repr(exc)})
            continue
        lat.append(time.perf_counter() - t)
        traced.append((group, t_plan - t, lat[-1], stats_s - stats0, t_epoch))
        answers.append((q, res))
    sc.setJobGroup("", "")
    return {"lat": lat, "answers": answers, "failures": failures,
            "traced": traced}


def spark_batches(spark, index_dir: str, log: list, seconds: float,
                  trace: bool) -> dict:
    """``bm25_topk_batch`` over the log in batches of ``BATCH_SIZE``
    queries sharing (offset, msm), for ``seconds`` (at least
    ``MIN_BATCHES``). ``WARMUP_BATCHES`` untimed full-size batches of
    the log's last queries, which no timed batch reaches, first compile
    the batch plan, start every task's Python worker and let the JVM's
    JIT catch up; they count as set-up."""
    from jivesearch_spark.query import IndexReader, bm25_topk_batch

    sc = spark.sparkContext
    t0 = time.perf_counter()
    reader = IndexReader(spark, index_dir)
    for w in range(WARMUP_BATCHES):
        tail = log[len(log) - (w + 1) * BATCH_SIZE:len(log) - w * BATCH_SIZE]
        bm25_topk_batch(reader, [(f"w{i}", q[0]) for i, q in enumerate(tail)],
                        inputs.K).collect()
    setup = time.perf_counter() - t0
    pending: dict = {}
    batches = []
    for q in log:
        key = (q[1], q[2])
        pending.setdefault(key, []).append(q)
        if len(pending[key]) == BATCH_SIZE:
            batches.append(pending.pop(key))

    answers, walls, failures = [], [], []
    #: per answered batch: (job group, plan s, wall s)
    traced = []
    n_queries = 0
    deadline = time.perf_counter() + seconds
    for j, batch in enumerate(batches):
        if time.perf_counter() >= deadline and len(walls) >= MIN_BATCHES:
            break
        if trace:
            sc.setJobGroup(f"b{j}", "batch")
        offset, msm = batch[0][1], batch[0][2]
        t = time.perf_counter()
        try:
            df = bm25_topk_batch(
                reader, [(str(i), q[0]) for i, q in enumerate(batch)],
                inputs.K, min_should_match=msm, offset=offset)
            t_plan = time.perf_counter()
            rows = df.collect()
        except Exception as exc:
            walls.append(time.perf_counter() - t)
            n_queries += len(batch)
            failures.extend({"phase": "spark_batch", "query": q,
                             "error": repr(exc)} for q in batch)
            continue
        walls.append(time.perf_counter() - t)
        n_queries += len(batch)
        traced.append((f"b{j}", t_plan - t, walls[-1]))
        per_q: dict = {str(i): [] for i in range(len(batch))}
        for r in rows:
            per_q[r["qid"]].append((int(r["docid"]), round(float(r["score"]), 9)))
        for i, q in enumerate(batch):
            # row order within a qid is not defined by the window:
            # restore the pinned (-round(score, 9), docid) rank order
            answers.append((q, sorted(per_q[str(i)],
                                      key=lambda ds: (-ds[1], ds[0]))))
    if trace:
        sc.setJobGroup("", "")
    return {"setup": setup, "walls": walls, "n_queries": n_queries,
            "answers": answers, "failures": failures, "traced": traced}


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes)
    and wait until it and every process it started are gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    procs = _descendants(proc.pid) + [proc.pid]
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in procs):
        if time.monotonic() > deadline:
            for p in procs:
                if _alive(p):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + timeout
        time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None
