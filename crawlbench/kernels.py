"""In-process timings of the engine's kernel functions on a workload's data.

Each rate is the median over ``REPS`` passes of the same input, so a
single slow pass on a shared host does not set it.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

REPS = 5
BLOCK = 128


def _median_rate(work, amount: float) -> float:
    rates = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        work()
        rates.append(amount / (time.perf_counter() - t0))
    return statistics.median(rates)


def extract_mb_per_s(htmls: list[bytes]) -> float:
    """The extraction UDF's own function over the workload's html."""
    import pandas as pd
    from oculus_crawl_spark.functions.analysis import extract_text_udf

    s = pd.Series(htmls, dtype=object)
    mb = sum(len(h) for h in htmls) / 1e6
    return _median_rate(lambda: extract_text_udf.func(s), mb)


def encode_postings_per_s(corpus) -> float:
    """Doc-gap and tf block encode of the corpus' postings, 128 per block."""
    from oculus_crawl_spark.functions.codec import encode_doc_gaps_many, pfor_encode_many

    doc_blocks, tf_blocks = [], []
    for _t, docs, tfs in corpus.postings():
        for i in range(0, len(docs), BLOCK):
            doc_blocks.append(docs[i:i + BLOCK].astype(np.uint64))
            tf_blocks.append(tfs[i:i + BLOCK].astype(np.uint64))
    n = sum(len(b) for b in doc_blocks)

    def work():
        encode_doc_gaps_many(doc_blocks)
        pfor_encode_many(tf_blocks)

    return _median_rate(work, n)


def decode_postings_per_s(root: str, corpus, checks) -> float:
    """Doc-id, tf and doc-length decode of every block of the served
    segments, as the query kernel decodes them.

    The decoded postings are also compared with the oracle's."""
    import pyarrow.dataset as ds
    from oculus_crawl_spark.functions.codec import decode_doc_ids_many, pfor_decode_many

    seg = ds.dataset(os.path.join(root, "segments"), format="parquet",
                     partitioning="hive").to_table(
        columns=["term", "first_doc", "n_docs", "doc_bytes", "tf_bytes", "dl_bytes"]
    ).to_pandas().sort_values(["term", "first_doc"], kind="stable")
    firsts = seg["first_doc"].to_numpy()
    ns = seg["n_docs"].to_numpy()
    doc_bufs, tf_bufs = list(seg["doc_bytes"]), list(seg["tf_bytes"])
    dl_bufs = list(seg["dl_bytes"])

    docs, _ = decode_doc_ids_many(firsts, doc_bufs, ns)
    tfs, _ = pfor_decode_many(tf_bufs)
    dls, _ = pfor_decode_many(dl_bufs)
    dl_of = np.zeros(int(corpus.doc_ids.max()) + 1, dtype=np.int64)
    dl_of[corpus.doc_ids] = corpus.dl.astype(np.int64)
    bad_dl = int(np.count_nonzero(dls.astype(np.int64) != dl_of[docs.astype(np.int64)]))
    want = {t: (d, f) for t, d, f in corpus.postings()}
    bounds = np.concatenate(([0], np.cumsum(ns)))
    got: dict[str, list] = {}
    for j, t in enumerate(seg["term"]):
        got.setdefault(t, []).append((bounds[j], bounds[j + 1]))
    bad = 0
    for t, spans in got.items():
        d = np.concatenate([docs[a:b] for a, b in spans]).astype(np.int64)
        f = np.concatenate([tfs[a:b] for a, b in spans]).astype(np.float64)
        wd, wf = want.get(t, (None, None))
        bad += wd is None or not (np.array_equal(d, wd) and np.array_equal(f, wf))
    checks.require(bad == 0 and len(got) == len(want) and bad_dl == 0,
                   f"decoded segments differ from the oracle postings in {bad} "
                   f"terms and {bad_dl} doc lengths")

    def work():
        decode_doc_ids_many(firsts, doc_bufs, ns)
        pfor_decode_many(tf_bufs)
        pfor_decode_many(dl_bufs)

    return _median_rate(work, int(ns.sum()))
