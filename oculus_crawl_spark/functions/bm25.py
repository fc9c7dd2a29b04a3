"""Okapi BM25 (k1=1.2, b=0.75) — ONE formula, three surfaces.

The same math is exposed as (a) NumPy for the WAND scorer and the
exhaustive oracle, (b) a Spark Column expression for the pure-DataFrame
scoring path, and (c) a DuckDB SQL fragment generator for the driver
oracle — so rank-identity (BASELINE.json:14) is checked against an
independent evaluation of the *identical* frozen formula.

idf(t)        = ln(1 + (N - df + 0.5) / (df + 0.5))        (Lucene form, >= 0)
tf_norm(d, t) = tf / (tf + k1 * (1 - b + b * dl/avgdl))
score(d, q)   = sum_t idf(t) * tf_norm(d, t)

Pinned tie-break everywhere: (score DESC, doc_id ASC).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75


# --- NumPy (query-path scorer + exhaustive oracle) ---------------------------


def idf(n_docs: int | np.ndarray, df: np.ndarray) -> np.ndarray:
    df = np.asarray(df, dtype=np.float64)
    return np.log1p((n_docs - df + 0.5) / (df + 0.5))


def tf_norm(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(dl, dtype=np.float64)
    return tf / (tf + K1 * (1.0 - B + B * dl / avgdl))


def bmax32(x: float | np.ndarray) -> np.float32 | np.ndarray:
    """Admissible float32 block-max: the to-nearest cast can land one
    ulp BELOW the true float64 max, and WAND pruning compares idf*bmax
    against an EXACT float64 theta — a bound short by ~score*6e-8 (far
    above the query side's 1e-9 slack) prunes blocks holding docs that
    TIE the k-th score, silently dropping the pinned tie-break winner.
    Round the cast UP instead, so stored bounds are always >= the true
    max. ONE definition for the shared re-block routine (build and
    merge) and the kernel test harness — a harness that stores float64
    (or a plain cast) is not testing the production bound
    representation. Elementwise over arrays; a scalar in gives a
    float32 scalar out."""
    x = np.asarray(x, dtype=np.float64)
    f = x.astype(np.float32)
    f = np.where(f < x, np.nextafter(f, np.float32(np.inf)), f)
    return f[()]


# --- Spark Column expression (JVM-side, codegen'd) ---------------------------


def idf_col(n_docs: Column, df: Column) -> Column:
    return F.log1p((n_docs - df + F.lit(0.5)) / (df + F.lit(0.5)))


def tf_norm_col(tf: Column, dl: Column, avgdl: Column) -> Column:
    return tf / (tf + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * dl / avgdl))


# --- DuckDB oracle SQL -------------------------------------------------------

# Tokenizer mirror — must match functions/analysis.py tokenize() for ASCII.
_TOKS = "unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))"


def bm25_oracle_sql(terms: list[str], k: int = 10, round_dp: int = 6) -> str:
    """Full ANSI-SQL BM25 top-k over the ``documents`` view, equivalent to
    the engine's build+query pipeline. Scores rounded to ``round_dp`` and
    used as the ordering key on BOTH sides so float last-ulp differences
    between ln() implementations cannot flip the driver's value-hash."""
    quoted = ", ".join("('" + t.replace("'", "''") + "')" for t in terms)
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS term FROM documents
),
-- dl LEFT-JOINs from documents so zero-token docs appear as dl=0,
-- matching the engine's explode_outer sentinel: they contribute to
-- n_docs/avgdl (hence every score) even though they can't match terms.
dl AS (SELECT d.doc_id, coalesce(t.dl, 0) AS dl
       FROM documents d
       LEFT JOIN (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id) t
       USING (doc_id)),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
qterms(term) AS (VALUES {quoted}),
scores AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl))
            ) AS score
  FROM tf
  JOIN qterms USING (term)
  JOIN dfreq USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, {round_dp}) AS score
FROM scores
ORDER BY round(score, {round_dp}) DESC, doc_id ASC
LIMIT {k}
""".strip()
