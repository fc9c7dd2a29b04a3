"""Crawl-and-serve benchmark of the fulltext engine.

    python3 crawlbench/run.py --workload pages|documents --seed N --seconds S --trace 0|1

Run from the root of a checkout. The inputs are generated from ``--seed``
(gen.py); the engine is driven only through its public functions; every
output is checked against oracle.py, which never calls the engine. The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``; with ``--trace 1`` the per-layer metrics of a run with
Spark's event log on). The run's full record, with every engine call's
wall time, goes to ``crawlbench/out/results/<workload>-seed<N>-trace<T>.json``.

Both workloads run the same steps and report the same metrics: a cold
build in a fresh session, then serving that index (fresh
``SearchSession`` opens, one closed-loop client issuing single-query
searches, then batched searches). They differ in the write path:

* ``pages``: ``build_index_from_pages`` over a Common-Crawl-style pages
  table (html extraction, latest-capture dedup, dense doc ids).
* ``documents``: ``build_index`` over ``(doc_id, text)``, the newest
  text of each url, numbered in url order.
"""

from __future__ import annotations

import time

_T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from contextlib import contextmanager  # noqa: E402

import numpy as np  # noqa: E402

import eventlog  # noqa: E402
import gen  # noqa: E402
import kernels  # noqa: E402
import oracle  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
sys.path.insert(1, ROOT)

K = 10
SCORE_REL_TOL = 1e-9
SHAPE = gen.Shape(docs=1000, vocab=1200)
N_QUERIES = 3000
MIN_SINGLE = 40
BATCH_SIZE = 200
MIN_BATCHES = 3
FRESH_OPENS = 5
# Warm-up before the timed part: the first queries and the first batch
# of a size after a session opens run measurably slower (JIT of the
# query path).
WARMUP_SINGLE = 4
WARMUP_BATCH = BATCH_SIZE

IDLE = "idle"  # job group between the benchmark's calls
_UNITS = {"jobs": "count", "tasks": "count", "python_bytes_in": "bytes",
          "python_bytes_out": "bytes", "shuffle_write_bytes": "bytes",
          "shuffle_read_bytes": "bytes"}


class Calls:
    """Wall time of every call into the engine, by label.

    With tracing on, each call also sets the Spark job group to its
    label, so the event log can be totalled per call."""

    def __init__(self, spark, trace: bool):
        self.sc = spark.sparkContext
        self.trace = trace
        self.spans: list[tuple[str, float, float, float]] = []

    @contextmanager
    def __call__(self, label: str):
        if self.trace:
            self.sc.setJobGroup(label, label)
        start = time.time()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self.spans.append((label, start, time.time(), dt))
            if self.trace:
                self.sc.setJobGroup(IDLE, "between benchmark calls")

    def walls(self, label: str) -> list[float]:
        return [s[3] for s in self.spans if s[0] == label]

    def intervals(self):
        # Job submission times are whole milliseconds.
        return [(lb, a * 1e3 - 1, b * 1e3 + 1) for lb, a, b, _ in self.spans]


class Checks:
    """Outcome of one run's checks: ``require`` for the run's outputs
    (a miss makes the run incorrect), ``op`` for one attempted operation
    (a miss counts it as failed)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.failures: list[str] = []

    def require(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(what)

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)


@dataclasses.dataclass
class Run:
    spark: object
    calls: Calls
    checks: Checks
    inputs: gen.Inputs
    work: str
    trace: bool
    seconds: float
    record: dict
    cores: int
    setup_s: float | None = None
    log: eventlog.LogTotals | None = None
    layers: object = None  # () -> per-layer metrics, set by the workload

    def setup_done(self) -> None:
        self.setup_s = time.monotonic() - _T_PROCESS

    def totals(self, *labels: str) -> eventlog.LabelTotals:
        out = eventlog.LabelTotals()
        for lb in labels:
            t = self.log.get(lb)
            for key in eventlog.LAYER_KEYS:
                setattr(out, key, getattr(out, key) + getattr(t, key))
        return out


# --- session -------------------------------------------------------------------


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def start_spark(work: str, cores: int, eventlog_dir: str | None):
    from oculus_crawl_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if eventlog_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="crawlbench", master=f"local[{cores}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


# --- reading what the engine wrote (pyarrow, not Spark) ------------------------


def read_parquet(path: str, columns=None):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns
    ).to_pandas()


def parquet_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f))
                     for f in files if f.endswith(".parquet"))
    return total


def check_docmap(checks: Checks, docmap, urls: set) -> dict:
    """The docmap must map the generated urls one-to-one onto 0..n-1."""
    ids = docmap["doc_id"].to_numpy()
    n = len(urls)
    checks.require(len(docmap) == n, f"docmap has {len(docmap)} rows, want {n}")
    checks.require(set(docmap["url"]) == urls, "docmap urls differ")
    checks.require(set(ids.tolist()) == set(range(n)),
                   f"doc ids are not a bijection onto 0..{n - 1}")
    return dict(zip(docmap["url"], ids.tolist()))


def check_dictionary(checks: Checks, root: str, corpus: oracle.Corpus) -> None:
    d = read_parquet(os.path.join(root, "dictionary"), ["term", "df"])
    got = dict(zip(d["term"], d["df"].astype(int)))
    want = corpus.df()
    bad = sum(1 for t in want.keys() | got.keys() if got.get(t) != want.get(t))
    checks.require(bad == 0, f"{bad} dictionary terms differ in df")


def search_checked(run: Run, session, queries: list[str], corpus: oracle.Corpus,
                   label: str, with_metrics: bool = False):
    """One search + collect; each query is one operation, failed when the
    call raises or its result is not rank-identical to the oracle's.

    Returns the rows and the wall time of the two engine calls alone; the
    comparison with the oracle runs after the clock stops."""
    t0 = time.perf_counter()
    try:
        with run.calls(f"{label}.search"):
            df = session.search(queries, k=K, with_metrics=with_metrics)
        with run.calls(f"{label}.collect"):
            rows = df.collect()
    except Exception as e:  # a failed call is a failed operation, not a crash
        for q in queries:
            run.checks.op(False, f"{label} query {q!r} raised {type(e).__name__}: {e}")
        return [], time.perf_counter() - t0
    wall = time.perf_counter() - t0
    per_q: dict[int, list] = {}
    for r in rows:
        per_q.setdefault(int(r["query_id"]), []).append(r)
    for qid, q in enumerate(queries):
        got = sorted(per_q.get(qid, []), key=lambda r: r["rank"])
        want_docs, want_scores = corpus.topk(q, K)
        ok = oracle.same_ranking(
            np.array([r["doc_id"] for r in got], dtype=np.int64),
            np.array([r["score"] for r in got], dtype=np.float64),
            want_docs, want_scores, SCORE_REL_TOL,
        )
        run.checks.op(ok, f"{label} query {q!r} differs from the oracle")
    return rows, wall


def latest_corpus(crawl: gen.Crawl, url_to_id: dict) -> oracle.Corpus:
    """Oracle corpus of the newest capture of every url, with the
    engine's doc ids."""
    urls = sorted(crawl.latest)
    return oracle.Corpus([url_to_id[u] for u in urls],
                         [crawl.tokens[crawl.latest[u]] for u in urls])


# --- workloads: the write path -------------------------------------------------


def build_pages(run: Run) -> tuple[str, oracle.Corpus]:
    from oculus_crawl_spark.operators.build import build_index_from_pages

    crawl = run.inputs.crawl
    pages = os.path.join(run.work, "pages.parquet")
    root = os.path.join(run.work, "index")
    gen.write_pages(crawl.pages, pages)
    run.setup_done()
    with run.calls("build"):
        r = build_index_from_pages(run.spark.read.parquet(pages), root, epoch=0)
    urls = set(crawl.latest)
    run.checks.require(r.n_docs == len(urls), f"n_docs {r.n_docs} != {len(urls)} urls")
    ids = check_docmap(run.checks, read_parquet(os.path.join(root, "docmap")), urls)
    return root, latest_corpus(crawl, ids)


def build_documents(run: Run) -> tuple[str, oracle.Corpus]:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from oculus_crawl_spark.operators.build import build_index

    crawl = run.inputs.crawl
    urls = sorted(crawl.latest)
    docs = os.path.join(run.work, "documents.parquet")
    root = os.path.join(run.work, "index")
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(urls)), pa.int64()),
        "text": [crawl.pages["text"].iat[crawl.latest[u]] for u in urls],
    }), docs)
    run.setup_done()
    with run.calls("build"):
        r = build_index(run.spark.read.parquet(docs), root, epoch=0)
    run.checks.require(r.n_docs == len(urls), f"n_docs {r.n_docs} != {len(urls)} urls")
    return root, latest_corpus(crawl, {u: i for i, u in enumerate(urls)})


WORKLOADS = {"pages": build_pages, "documents": build_documents}


# --- the read path, the same for both workloads ----------------------------------


def run_workload(run: Run, build) -> dict:
    from oculus_crawl_spark.operators.query import SearchSession

    spark, calls, checks, inp = run.spark, run.calls, run.checks, run.inputs
    root, corpus = build(run)
    n_docs = corpus.n_docs
    metrics = {
        "ingest_docs_per_s": (n_docs / calls.walls("build")[0], "docs/s"),
        "index_bytes": (sum(parquet_bytes(os.path.join(root, t))
                            for t in ("segments", "dictionary", "doclen")), "bytes"),
    }
    check_dictionary(checks, root, corpus)

    warm = inp.queries[:WARMUP_SINGLE + WARMUP_BATCH]
    queries = inp.queries[len(warm):]
    with calls("open.setup"):
        session = SearchSession(spark, root)
    for q in warm[:WARMUP_SINGLE]:
        search_checked(run, session, [q], corpus, "warmup")
    search_checked(run, session, warm[WARMUP_SINGLE:], corpus, "warmup")
    t_timed = time.perf_counter()

    # Fresh sessions over the same root share the cached segments plan
    # with ``session``, so none of them is invalidated here: that would
    # drop the cache the closed loop below is served from.
    for _ in range(FRESH_OPENS):
        with calls("open"):
            SearchSession(spark, root)

    # Closed loop, one client: each search waits for the previous one.
    lat, qi = [], 0
    while qi < MIN_SINGLE or (time.perf_counter() - t_timed < 0.6 * run.seconds
                              and qi < len(queries) // 2):
        lat.append(search_checked(run, session, [queries[qi]], corpus, "single")[1])
        qi += 1

    batch_walls, n_batch_q, blocks = [], 0, [0, 0]
    while len(batch_walls) < MIN_BATCHES or (
        time.perf_counter() - t_timed < run.seconds and qi + BATCH_SIZE <= len(queries)
    ):
        batch = queries[qi:qi + BATCH_SIZE]
        qi += BATCH_SIZE
        rows, wall = search_checked(run, session, batch, corpus, "batch",
                                    with_metrics=run.trace)
        batch_walls.append(wall)
        n_batch_q += len(batch)
        first = {r["query_id"]: (r["blocks_total"], r["blocks_decoded"])
                 for r in rows if r["rank"] == 1} if run.trace else {}
        blocks[0] += sum(v[0] for v in first.values())
        blocks[1] += sum(v[1] for v in first.values())

    # The mean, not the quartiles: over sets of ten runs on the reference
    # host the quartile spread of the latency median and 75th percentile
    # reached 0.27-0.29, that of the mean 0.23 (README.md).
    metrics.update({
        "query_mean_s": (statistics.fmean(lat), "s"),
        "batch_qps": (n_batch_q / sum(batch_walls), "queries/s"),
    })
    run.record.update(docs=n_docs, single_queries=len(lat), batches=len(batch_walls),
                      batch_queries=n_batch_q)

    _, p50, p75 = statistics.quantiles(lat, n=4)

    def layers() -> dict:
        m = {f"build.{key}": (v, _UNITS.get(key, "s"))
             for key, v in run.totals("build").as_dict().items()}
        m["analysis.extract_mb_per_s"] = (
            kernels.extract_mb_per_s(list(inp.crawl.pages["html"])), "MB/s")
        m["codec.encode_postings_per_s"] = (kernels.encode_postings_per_s(corpus), "postings/s")
        m["codec.decode_postings_per_s"] = (
            kernels.decode_postings_per_s(root, corpus, checks), "postings/s")
        for t in ("segments", "dictionary", "doclen"):
            m[f"tables.{t}_bytes"] = (parquet_bytes(os.path.join(root, t)), "bytes")
        opens = run.totals("open")
        single = run.totals("single.search", "single.collect")
        batch = run.totals("batch.search", "batch.collect")
        n_batches = len(batch_walls)
        m.update({
            "query.open_s": (statistics.median(calls.walls("open")), "s"),
            "query.open_jobs": (opens.jobs / FRESH_OPENS, "count"),
            "query.p50_s": (p50, "s"),
            "query.p75_s": (p75, "s"),
            "query.jobs_per_query": (single.jobs / len(lat), "count"),
            "query.tasks_per_query": (single.tasks / len(lat), "count"),
            "query.search_call_s": (statistics.median(calls.walls("single.search")), "s"),
            "query.handback_s": (statistics.median(calls.walls("single.collect")), "s"),
            "query.tasks_per_batch": (batch.tasks / n_batches, "count"),
            "query.python_worker_s": (batch.python_worker_s / n_batches, "s"),
            "query.blocks_total": (blocks[0], "count"),
            "query.blocks_decoded": (blocks[1], "count"),
            "query.decode_ratio": (blocks[1] / max(blocks[0], 1), "ratio"),
        })
        return m

    run.layers = layers
    return metrics


def check_trace(run: Run) -> None:
    """Every job must carry a label, the label totals must add up to the
    log's, and no label's executor run time may exceed its calls' wall
    time times the core count."""
    log, checks = run.log, run.checks
    none = log.get(eventlog.UNLABELLED)
    checks.require(none.jobs == 0 and none.tasks == 0,
                   f"{none.jobs} jobs / {none.tasks} tasks carry no label")
    # Work between calls runs under "idle": it is unattributed too.
    labelled = sum(t.tasks for lb, t in log.labels.items()
                   if lb not in (eventlog.UNLABELLED, IDLE))
    checks.require(labelled == log.n_tasks,
                   f"label task totals {labelled} != the log's {log.n_tasks} tasks")
    for label, tot in log.labels.items():
        wall = sum(run.calls.walls(label))
        checks.require(
            tot.executor_run_s <= wall * run.cores + 1e-3,
            f"{label}: executor run {tot.executor_run_s:.3f} s > "
            f"{wall:.3f} s wall x {run.cores} cores",
        )


# --- main ------------------------------------------------------------------------


def _isolate(work: str) -> None:
    """Point every temp and scratch location of the run into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = (
        os.path.join(work, "spark-local"))
    # Both JVMs (the launcher and the one Spark runs in): temp files in
    # the work dir, and no hsperfdata file in the system temp dir.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # Spark's Python workers import the engine from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import oculus_crawl_spark  # noqa: F401  (the engine, from the checkout)
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"crawlbench: cannot import the engine: {e}", file=sys.stderr)
        return 2

    cores = _cores()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(OUT, "work", f"{tag}-{os.getpid()}")
    eventlog_dir = os.path.join(OUT, "eventlog", args.workload) if args.trace else None
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "cores": cores, "shape": dataclasses.asdict(SHAPE)}
    os.makedirs(work)
    try:
        if eventlog_dir:
            shutil.rmtree(eventlog_dir, ignore_errors=True)
            os.makedirs(eventlog_dir)
        _isolate(work)
        inputs = gen.generate(args.seed, SHAPE, N_QUERIES)

        t0 = time.perf_counter()
        spark = start_spark(work, cores, eventlog_dir)
        session_start_s = time.perf_counter() - t0
        run = Run(spark, Calls(spark, bool(args.trace)), Checks(), inputs, work,
                  bool(args.trace), args.seconds, record, cores)
        try:
            e2e = run_workload(run, WORKLOADS[args.workload])
        finally:
            stop_spark(spark)
        e2e = {"setup_s": (run.setup_s, "s"), **e2e}

        metrics = e2e
        if args.trace:
            logs = os.listdir(eventlog_dir)
            run.checks.require(len(logs) == 1, f"expected one event log, found {len(logs)}")
            run.log = eventlog.read(os.path.join(eventlog_dir, logs[0]), run.calls.intervals())
            check_trace(run)
            metrics = {"session.start_s": (session_start_s, "s"), **run.layers()}
            metrics.update({f"traced.{k}": v for k, v in e2e.items()})
            record.update(jobs=run.log.n_jobs, tasks=run.log.n_tasks,
                          jobs_labelled_by_interval=run.log.jobs_by_time,
                          labels={k: v.as_dict() for k, v in run.log.labels.items()})
    finally:
        shutil.rmtree(work, ignore_errors=True)

    checks = run.checks
    result = {
        "correct": not checks.errors,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    record.update(result=result, errors=checks.errors, failures=checks.failures,
                  calls=[{"label": lb, "s": dt} for lb, _a, _b, dt in run.calls.spans])
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for e in checks.errors + checks.failures[:5]:
        print(f"crawlbench: {e}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
