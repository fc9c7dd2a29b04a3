"""Seeded generator for the crawl-and-serve benchmark's inputs.

Everything here is a pure function of ``(seed, Shape)``: the same seed
gives byte-identical pages, re-crawl slice and query stream. The engine
only ever sees the tables this module writes; the benchmark keeps the
token lists it generated the text from, so its correctness checks never
read text back through the engine.

Make-up of one workload's inputs (``Shape`` holds the numbers):

* vocabulary: ``vocab`` distinct lowercase words; term ``r`` (0-based
  rank) is drawn with probability proportional to ``1 / (r + 1) ** zipf``
* document length: log-normal token count, ``exp(N(ln dl_median,
  dl_sigma))`` rounded and clipped to ``[dl_min, dl_max]``
* pages: ``docs`` distinct urls over ``docs // docs_per_site`` sites,
  plus a ``dup_share`` of urls captured twice in the same crawl (the
  older capture carries other text, so latest-per-url dedup is tested)
* html: the text, HTML-escaped and split into paragraphs, wrapped in a
  ``<head>`` with a title, a ``<script>`` block and boilerplate that the
  extraction spec drops; a share of the text carries ``&``, ``<``, ``>``
  and quotes, so the entity unescape runs
* queries: 1-4 distinct terms (weights ``qlen_weights``), drawn with
  Zipf weights of exponent ``qzipf``; each term is replaced by an
  out-of-vocabulary word with probability ``oov_share``
"""

from __future__ import annotations

import html as _html
from dataclasses import dataclass

import numpy as np
import pandas as pd

_CRAWL_TS = np.datetime64("2025-03-01T00:00:00", "us")
_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
# Punctuation put between words, and the tokens the spec finds in it.
_PUNCT = {"&": [], "<b>": ["b"], "\"q\"": ["q"], "it's": ["it", "s"], ">": [],
          "a&b": ["a", "b"]}
_PUNCT_KEYS = list(_PUNCT)


@dataclass(frozen=True)
class Shape:
    docs: int = 1600
    vocab: int = 1200
    zipf: float = 1.0
    dl_median: float = 60.0
    dl_sigma: float = 0.6
    dl_min: int = 3
    dl_max: int = 600
    docs_per_site: int = 8
    dup_share: float = 0.02
    punct_share: float = 0.3
    qlen_weights: tuple = (0.3, 0.35, 0.2, 0.15)
    qzipf: float = 0.8
    oov_share: float = 0.05


@dataclass
class Crawl:
    """One crawl's pages plus the tokens each page's text was made from.

    ``tokens[i]`` is the token list of ``pages.iloc[i]``; ``latest``
    maps each url to the row index of its newest capture."""

    pages: pd.DataFrame
    tokens: list
    latest: dict


def vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase words of 3-9 letters, in rank order."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        lens = rng.integers(3, 10, size=2 * (n - len(words)) + 16)
        letters = rng.choice(_LETTERS, size=int(lens.sum()))
        pos = 0
        for ln in lens:
            w = letters[pos:pos + ln].tobytes().decode("ascii")
            pos += ln
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return words


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def _doc_lengths(rng: np.random.Generator, n: int, shape: Shape) -> np.ndarray:
    raw = np.exp(rng.normal(np.log(shape.dl_median), shape.dl_sigma, size=n))
    return np.clip(np.rint(raw), shape.dl_min, shape.dl_max).astype(np.int64)


def _texts(rng, n, vocab, weights, shape):
    """n token lists and the visible text each one becomes."""
    lens = _doc_lengths(rng, n, shape)
    ids = rng.choice(len(vocab), size=int(lens.sum()), p=weights)
    punct = rng.random(n) < shape.punct_share
    tokens, texts = [], []
    pos = 0
    for i, ln in enumerate(lens):
        toks = [vocab[j] for j in ids[pos:pos + ln]]
        pos += ln
        words = list(toks)
        if punct[i]:
            at = int(rng.integers(0, len(words) + 1))
            p = _PUNCT_KEYS[int(rng.integers(0, len(_PUNCT_KEYS)))]
            words.insert(at, p)
            toks = toks[:at] + _PUNCT[p] + toks[at:]
        tokens.append(toks)
        texts.append(" ".join(words))
    return tokens, texts


def _html_of(text: str, title: str, para_words: int = 40) -> bytes:
    words = text.split(" ")
    paras = [
        " ".join(words[i:i + para_words]) for i in range(0, len(words), para_words)
    ]
    body = "".join(f"<p>{_html.escape(p)}</p>" for p in paras)
    return (
        "<!DOCTYPE html><html><head><meta charset=\"utf-8\">"
        f"<title>{_html.escape(title)}</title>"
        "<style>p { margin: 0 }</style></head><body>"
        "<script>var seen = 1; if (a < b && c > d) { track(\"zzview\"); }</script>"
        "<!-- nav: home about zzcomment -->"
        f"<div class=\"main\">{body}</div>"
        "</body></html>"
    ).encode("utf-8")


def _frame(urls, ts, htmls, texts, langs) -> pd.DataFrame:
    return pd.DataFrame({
        "url": urls,
        "warc_ts": np.asarray(ts, dtype="datetime64[us]"),
        "html": htmls,
        "text": texts,
        "lang": langs,
    })


def _langs(rng, n):
    return rng.choice(np.array(["en", "de", "fr", "es"]), size=n,
                      p=[0.7, 0.1, 0.1, 0.1]).tolist()


def _latest(pages: pd.DataFrame) -> dict:
    order = np.lexsort((pages["warc_ts"].to_numpy(), pages["url"].to_numpy()))
    latest = {}
    for i in order:  # ascending ts within url: the last one wins
        latest[pages["url"].iat[i]] = int(i)
    return latest


@dataclass
class Inputs:
    shape: Shape
    vocab: list
    crawl: Crawl
    queries: list


def generate(seed: int, shape: Shape, n_queries: int) -> Inputs:
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng, shape.vocab)
    weights = zipf_weights(shape.vocab, shape.zipf)

    n = shape.docs
    n_sites = max(1, n // shape.docs_per_site)
    site = rng.integers(0, n_sites, size=n)
    urls = [f"https://site{s:05d}.example.net/p/{i:07d}.html" for i, s in enumerate(site)]
    tokens, texts = _texts(rng, n, vocab, weights, shape)
    secs = np.sort(rng.choice(30 * 86400, size=n, replace=False))
    ts = _CRAWL_TS + secs.astype("timedelta64[s]")
    # Older captures of a few urls, with other text: latest-wins must drop them.
    n_dup = int(round(shape.dup_share * n))
    dup_rows = np.sort(rng.choice(n, size=n_dup, replace=False))
    d_tokens, d_texts = _texts(rng, n_dup, vocab, weights, shape)
    all_urls = urls + [urls[i] for i in dup_rows]
    all_ts = np.concatenate([ts, ts[dup_rows] - np.timedelta64(3600, "s")])
    all_tokens = tokens + d_tokens
    all_texts = texts + d_texts
    langs = _langs(rng, len(all_urls))
    htmls = [_html_of(t, f"page {u[-17:]}") for t, u in zip(all_texts, all_urls)]
    pages = _frame(all_urls, all_ts, htmls, all_texts, langs)
    crawl = Crawl(pages, all_tokens, _latest(pages))

    queries = query_stream(rng, vocab, shape, n_queries)
    return Inputs(shape, vocab, crawl, queries)


def query_stream(rng, vocab: list, shape: Shape, n: int) -> list[str]:
    qw = zipf_weights(len(vocab), shape.qzipf)
    lens = rng.choice(len(shape.qlen_weights), size=n, p=shape.qlen_weights) + 1
    out = []
    for ln in lens:
        ids = rng.choice(len(vocab), size=int(ln), replace=False, p=qw)
        terms = []
        for j in ids:
            if rng.random() < shape.oov_share:
                # Digits keep it out of the letters-only vocabulary.
                terms.append(f"zq{int(rng.integers(0, 10**6))}x")
            else:
                terms.append(vocab[j])
        out.append(" ".join(terms))
    return out


def write_pages(pages: pd.DataFrame, path: str) -> None:
    """Write the pages table as one parquet file (the crawl's table)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pandas(
        pages[["url", "warc_ts", "html", "text", "lang"]], preserve_index=False,
        schema=pa.schema([
            ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
        ]),
    )
    pq.write_table(table, path)
