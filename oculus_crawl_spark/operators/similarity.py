"""Similarity search over the ``embeddings`` table (array<float>[64]).

Two tiers, mirroring a production vector-search stack:

* brute-force cosine top-k — the exact baseline. Dot product and norms
  are pure JVM expressions (``zip_with``/``aggregate`` under whole-stage
  codegen; no Python anywhere), probes broadcast. O(N·Q) scan — right
  answer for reranking and small probe sets; SQL-mirrored for the
  driver oracle via DuckDB's ``list_dot_product``, whose summation
  order may differ from Spark's left fold in the last ulp — the 6-dp
  rounding on BOTH sides is what absorbs that, so do not tighten the
  rounding or compare unrounded values across the two engines.

* IVF (inverted-file) ANN — the scale path: k-means coarse quantizer
  trained driver-side on a bounded deterministic sample (the standard
  IVF recipe — training is sampled, ASSIGNMENT is distributed via a
  vectorized Arrow UDF against broadcast centroids), then each probe
  searches only the ``nprobe`` nearest cells and reranks exactly
  inside them. Scan cost drops from O(N) to ~O(N·nprobe/n_cells) per
  probe. Not SQL-expressible in one query -> rows-only driver check +
  pytest recall gate vs brute force (recall on THIS corpus is bounded
  by its weak neighbor structure — embeddings are near-random 64-d
  vectors — so the gate is recall >= 0.5 at 30% scan, ~1.7x better
  than random pruning).

At scale the IVF table is WRITTEN partitioned by cell id (``ivf_write``)
and probes run against it (``ivf_topk_indexed``): the per-probe scan is
partition-pruned to the nprobe selected cells (CI-asserted
PartitionFilters), which is what turns O(N) into O(N*nprobe/n_cells)
on disk, not just in memory. Cell count defaults to ~sqrt(n_vecs) (the
standard IVF sizing: balances cells scanned vs vectors per cell);
nprobe defaults to ~30% of cells at sandbox scale — real deployments
pin an absolute nprobe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import schemas
from ..sources.tables import read_engine_table, read_table, table_signature

K = 5
N_PROBE_IDS = 10  # probes = vec_id < 10
_KMEANS_SAMPLE = 100_000  # driver-side training sample bound
_KMEANS_ITERS = 10
_KMEANS_SEED = 13


def derive_n_cells(n_vecs: int) -> int:
    """~sqrt(n): 10^12 vectors => 65536-cap (then ~1.5e7 vecs/cell —
    cells stay single-task scans); sandbox 500 vectors => 22 cells."""
    return max(1, min(65536, round(n_vecs ** 0.5)))


def derive_nprobe(n_cells: int) -> int:
    """Sandbox default: ~30% of cells (matches the recall gate). Real
    deployments pin nprobe absolutely (e.g. 8-64)."""
    return max(1, -(-3 * n_cells // 10))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk_bruteforce(
    emb: DataFrame, probes: DataFrame, k: int = K
) -> DataFrame:
    """Exact cosine top-k of ``emb`` rows for each probe (self excluded).

    probes must be small (broadcast); norms are computed once per side
    before the join so the O(N·Q) inner loop is one fused multiply-add
    chain in codegen.

    Zero-norm vectors are EXCLUDED on both sides (cosine has no defined
    value for a vector with no direction): under Spark 4's default ANSI
    mode the division would otherwise throw DIVIDE_BY_ZERO for the
    whole job, where the DuckDB oracle NULL-propagates — the oracles
    mirror the exclusion (WHERE nrm > 0)."""
    base = emb.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("n_emb"),
        _norm(F.col("embedding")).alias("n_norm"),
    ).filter(F.col("n_norm") > 0)
    q = probes.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding")).alias("q_norm"),
    ).filter(F.col("q_norm") > 0)
    scored = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("n_id") != F.col("q_id"))
        .select(
            "q_id",
            "n_id",
            F.round(
                _dot(F.col("n_emb"), F.col("q_emb"))
                / (F.col("n_norm") * F.col("q_norm")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "n_id", "cosine")
    )


# --- IVF ANN -----------------------------------------------------------------


def _train_centroids(emb: DataFrame, n_cells: int) -> "np.ndarray":
    """Deterministic k-means on a bounded driver-side sample (ordered by
    vec_id so the sample, init, and result are stable across runs)."""
    import numpy as np

    sample = (
        emb.orderBy("vec_id").limit(_KMEANS_SAMPLE).select("embedding").collect()
    )
    X = np.array([r["embedding"] for r in sample], dtype=np.float64)
    if not len(X):
        raise ValueError(
            "cannot train an IVF quantizer on an empty embeddings table"
        )
    # Clamp to the sample: n_cells > sample size would make rng.choice
    # raise an opaque numpy error; callers read the effective count from
    # the returned centroid matrix (len(C)).
    n_cells = min(n_cells, len(X))
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    rng = np.random.default_rng(_KMEANS_SEED)
    C = X[rng.choice(len(X), n_cells, replace=False)].copy()
    for _ in range(_KMEANS_ITERS):
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        assign = np.argmax(Xn @ Cn.T, axis=1)
        # Vectorized mean update: one scatter-add over the assignment
        # vector + bincount normalization (the per-cell boolean-mask
        # loop was O(n_cells x sample) per iteration — noticeable once
        # n_cells approaches its 65536 cap). Empty cells keep their
        # previous centroid, exactly like the mask loop did.
        sums = np.zeros_like(C)
        np.add.at(sums, assign, X)
        counts = np.bincount(assign, minlength=n_cells).astype(np.float64)
        nonempty = counts > 0
        C[nonempty] = sums[nonempty] / counts[nonempty, None]
    return C


def ivf_build(
    emb: DataFrame, n_cells: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """(assignments, centroids). K-means quantizer trained on a sample;
    assignment runs distributed — one vectorized Arrow batch matmul per
    partition against the broadcast centroid matrix. ``ivf_write``
    persists the result partitioned by cell for pruned probing."""
    import numpy as np
    import pandas as pd

    # Zero-norm vectors have no direction: they cannot be assigned to a
    # max-cosine cell (the normalize would ANSI-throw / NaN in numpy)
    # and no probe could ever retrieve them by cosine — excluded here,
    # mirroring the query paths' exclusion.
    emb = emb.filter(_norm(F.col("embedding")) > 0)
    if n_cells is None:
        n_cells = derive_n_cells(emb.count())

    C = _train_centroids(emb, n_cells)
    n_cells = len(C)  # _train_centroids clamps to its sample size
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    bc = emb.sparkSession.sparkContext.broadcast(Cn)

    def assign_batches(batches):
        for pdf in batches:
            if not len(pdf):  # empty Arrow batches DO reach mapInPandas
                continue
            X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
            pdf = pdf[["vec_id", "embedding"]].copy()
            pdf["cell"] = np.argmax(Xn @ bc.value.T, axis=1).astype(np.int32)
            yield pdf

    assignments = emb.select("vec_id", "embedding").mapInPandas(
        assign_batches, "vec_id long, embedding array<float>, cell int"
    ).withColumn(
        # Vector norms are a pure function of the immutable indexed
        # vectors — computed ONCE here (and persisted by ivf_write), so
        # probes never re-pay an O(scanned_rows x dim) norm aggregate
        # per query. Same JVM fold as the query-side _norm expression,
        # so stored and recomputed values are bit-identical.
        "nrm", _norm(F.col("embedding"))
    )
    rows = [(int(i), [float(x) for x in C[i]]) for i in range(n_cells)]
    centroids = emb.sparkSession.createDataFrame(
        rows, "cell int, centroid array<double>"
    )
    return assignments, centroids


def ivf_write(
    emb: DataFrame, index_path: str, n_cells: int | None = None
) -> int:
    """Persist the IVF index: ``assignments`` PARTITIONED BY cell (the
    probe path prunes to its nprobe cells' files, with per-vector norms
    stored alongside) + ``centroids``. Returns the resolved cell count."""
    assignments, centroids = ivf_build(emb, n_cells)
    # Through the Iceberg-or-Parquet shim, NOT a raw partitioned write:
    # write_table pins static partition-overwrite, so a rewrite into a
    # reused path cannot leave a previous clustering's ghost cell
    # partitions on disk (under the session-global DYNAMIC mode, cells
    # absent from the new assignment would survive and ivf_topk_indexed
    # would route probes into deleted vectors — the same hazard class
    # the tombstone/segment writers were pinned static for).
    from ..sources.tables import write_table

    write_table(assignments, f"{index_path}/assignments", ["cell"])
    write_table(centroids, f"{index_path}/centroids")
    # EFFECTIVE cell count (ivf_build clamps to its training sample):
    # the centroid frame is n_cells local rows, so this count is free.
    return centroids.count()


def ivf_topk_indexed(
    spark: SparkSession,
    index_path: str,
    probes: DataFrame,
    k: int = K,
    nprobe: int | None = None,
) -> DataFrame:
    """ANN top-k against a WRITTEN IVF index: probe->cell routing is
    computed driver-side from the (tiny) centroid table, and the
    assignments scan carries a literal ``cell IN (...)`` filter that
    parquet partition pruning turns into reading only those cells'
    files (CI-asserted). Exact rerank inside the selected cells."""
    import numpy as np

    # read_engine_table, not read.parquet: ivf_write goes through the
    # Iceberg-or-Parquet shim, and on the catalog backend there are no
    # parquet files at these paths — the read side must mirror the
    # writer's backend choice (same asymmetry class SearchSession fixed
    # for corpus_stats/dictionary/segments).
    cent = sorted(
        read_engine_table(
            spark, f"{index_path}/centroids", schemas.IVF_CENTROIDS
        ).collect(),
        key=lambda r: r["cell"],
    )
    C = np.array([r["centroid"] for r in cent], dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    n_cells = len(C)
    if nprobe is None:
        nprobe = derive_nprobe(n_cells)
    routes = []
    for r in probes.select("vec_id", "embedding").collect():  # probes are small
        x = np.asarray(r["embedding"], dtype=np.float64)
        nx = np.linalg.norm(x)
        if nx == 0.0:
            continue  # zero-norm probe: excluded (no defined cosine)
        cos = (x / nx) @ Cn.T
        order = np.lexsort((np.arange(n_cells), -cos))  # cosine DESC, cell ASC
        routes.extend((int(r["vec_id"]), int(c)) for c in order[:nprobe])
    if not routes:
        return spark.createDataFrame(
            [], "q_id long, rank int, n_id long, cosine double"
        )
    probe_cells = spark.createDataFrame(routes, "q_id long, cell int")
    cells_needed = sorted({c for _, c in routes})
    base = (
        read_engine_table(spark, f"{index_path}/assignments", schemas.IVF_ASSIGNMENTS)
        .filter(F.col("cell").isin(cells_needed))  # -> PartitionFilters
        .select(
            "cell",
            F.col("vec_id").alias("n_id"),
            F.col("embedding").alias("n_emb"),
            # Stored at write time (ivf_build) — never recomputed per
            # probe query over the scanned cells. An index written
            # before norms were stored reads nrm as NULL; its norms are
            # computed here by the same expression.
            F.coalesce(F.col("nrm"), _norm(F.col("embedding"))).alias("n_norm"),
        )
    )
    q = probes.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding")).alias("q_norm"),
    ).filter(F.col("q_norm") > 0)  # zero-norm probes: no defined cosine
    scored = (
        base.join(F.broadcast(probe_cells), "cell")
        .join(F.broadcast(q), "q_id")
        .filter(F.col("n_id") != F.col("q_id"))
        .select(
            "q_id",
            "n_id",
            F.round(
                _dot(F.col("n_emb"), F.col("q_emb"))
                / (F.col("n_norm") * F.col("q_norm")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "n_id", "cosine")
    )


def ivf_topk(
    emb: DataFrame,
    probes: DataFrame,
    k: int = K,
    nprobe: int | None = None,
    n_cells: int | None = None,
) -> DataFrame:
    """ANN top-k (in-memory variant): rank cells by probe-centroid
    cosine, exact-rerank within the nprobe nearest cells only."""
    if n_cells is None:
        n_cells = derive_n_cells(emb.count())
    if nprobe is None:
        nprobe = derive_nprobe(n_cells)
    assignments, centroids = ivf_build(emb, n_cells)
    q = probes.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding")).alias("q_norm"),
    ).filter(F.col("q_norm") > 0)  # zero-norm probes: no defined cosine
    cent = centroids.select(
        "cell",
        F.col("centroid").alias("c_emb"),
        _norm(F.col("centroid")).alias("c_norm"),
    )
    # Probe -> nprobe nearest cells (tiny: Q x n_cells).
    cell_rank = Window.partitionBy("q_id").orderBy(
        F.col("c_cos").desc(), F.col("cell").asc()
    )
    probe_cells = (
        q.crossJoin(F.broadcast(cent))
        .select(
            "q_id",
            "q_emb",
            "q_norm",
            "cell",
            (_dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm"))).alias(
                "c_cos"
            ),
        )
        .withColumn("crank", F.row_number().over(cell_rank))
        .filter(F.col("crank") <= nprobe)
        .select("q_id", "q_emb", "q_norm", "cell")
    )
    # Exact rerank inside selected cells (cell-pruned scan at scale).
    base = assignments.select(
        "cell",
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("n_emb"),
        F.col("nrm").alias("n_norm"),  # computed once in ivf_build
    )
    scored = (
        base.join(F.broadcast(probe_cells), "cell")
        .filter(F.col("n_id") != F.col("q_id"))
        .select(
            "q_id",
            "n_id",
            F.round(
                _dot(F.col("n_emb"), F.col("q_emb"))
                / (F.col("n_norm") * F.col("q_norm")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "n_id", "cosine")
    )


# --- embedding-cosine near-duplicate pairs (LSH-bucketed) --------------------
#
# The embedding member of the dedup family (exact / Jaccard / MinHash /
# SimHash live in operators/dedup.py): find all pairs with cosine >=
# COSINE_DUP_THRESHOLD via random-hyperplane LSH (Charikar, STOC 2002) —
# b tables of r sign bits each; a pair collides in a table with
# probability (1 - theta/pi)^r — then EXACT cosine verification of the
# candidates, so false positives cost one dot product and never reach
# the output. Same contract as the MinHash path: the DuckDB brute-force
# oracle IS the recall check. With r=8, b=24 a pair at cosine 0.95
# (theta 18.2 deg) is missed w.p. (1 - 0.899^8)^24 ~ 1.3e-8; at the
# graded corpus' weakest positive (0.968) it is ~4e-8. At scale r grows
# with log2(n) (key space must exceed n to keep buckets O(1)) and b
# with the recall target; the candidate join is the same fixed-width
# (table_id, key) shuffle as the MinHash band join.

COSINE_DUP_THRESHOLD = 0.9
_HP_TABLES = 24
_HP_BITS = 8  # sandbox key width; scale: max(8, ceil(log2(n_vecs)))
_HP_SEED = 0xE5D


def hyperplane_keys(emb: DataFrame, n_tables: int = _HP_TABLES, n_bits: int = _HP_BITS) -> DataFrame:
    """(vec_id, table_id, key): r sign bits of the embedding against
    n_tables*r fixed random hyperplanes, packed per table. One
    vectorized (batch x dim) @ (dim x tables*r) matmul per Arrow batch;
    planes are regenerated from the fixed seed per batch (192 x dim
    randn — cheaper than a broadcast round-trip)."""
    import numpy as np
    import pandas as pd

    def keys_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            P = np.random.default_rng(_HP_SEED).standard_normal(
                (n_tables * n_bits, X.shape[1])
            )
            bits = (X @ P.T > 0).reshape(len(X), n_tables, n_bits)
            keys = (bits << np.arange(n_bits, dtype=np.int64)).sum(axis=2)
            out = pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), n_tables),
                    "table_id": np.tile(
                        np.arange(n_tables, dtype=np.int32), len(X)
                    ),
                    "key": keys.reshape(-1),
                }
            )
            yield out

    return emb.select("vec_id", "embedding").mapInPandas(
        keys_batches, "vec_id long, table_id int, key long"
    )


def embedding_near_dup_pairs(
    emb: DataFrame, threshold: float = COSINE_DUP_THRESHOLD
) -> DataFrame:
    """All (a_id, b_id, cosine) with cosine >= threshold: hyperplane-LSH
    bucket join for candidates, exact JVM-side cosine verify. Output
    rows == the brute-force all-pairs formulation whenever every
    positive pair collides in >= 1 table (miss probability bounded
    above)."""
    keyed = hyperplane_keys(emb)
    a = keyed.alias("a")
    b = keyed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("a_id"), F.col("b.vec_id").alias("b_id"))
        .distinct()
    )
    v = emb.select(
        "vec_id",
        F.col("embedding").alias("e"),
        _norm(F.col("embedding")).alias("nrm"),
    ).filter(F.col("nrm") > 0)  # zero-norm: no defined cosine (ANSI-safe)
    return (
        cand.join(
            v.select(
                F.col("vec_id").alias("a_id"),
                F.col("e").alias("a_e"),
                F.col("nrm").alias("a_nrm"),
            ),
            "a_id",
        )
        .join(
            v.select(
                F.col("vec_id").alias("b_id"),
                F.col("e").alias("b_e"),
                F.col("nrm").alias("b_nrm"),
            ),
            "b_id",
        )
        .withColumn(
            "cosine_raw",
            _dot(F.col("a_e"), F.col("b_e")) / (F.col("a_nrm") * F.col("b_nrm")),
        )
        .filter(F.col("cosine_raw") >= threshold)
        .select("a_id", "b_id", F.round("cosine_raw", 6).alias("cosine"))
    )


# --- driver-contract entries -------------------------------------------------


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "embeddings")


def _blend_corpus(emb: DataFrame) -> DataFrame:
    """Deterministic near-dup corpus for the graded entry: the testdata
    embeddings have NO natural pairs above cosine 0.52, so (mirroring
    dedup_exact's shifted-copy trick) each vector i gains a blended
    near-dup  v_i + 0.25 * v_{i+1}  at id i+100000 — cosine vs v_i lands
    in [0.968, 0.981] on this corpus while every cross pair stays below
    0.52, a wide margin both sides of the 0.9 threshold. The blend is
    materialized with IDENTICAL double arithmetic in Spark and the
    DuckDB oracle so the exact-verify cosines hash-match."""
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    nxt = base.select(
        (F.col("vec_id") - 1).alias("vec_id"), F.col("e").alias("e2")
    )
    blended = base.join(nxt, "vec_id").select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.zip_with("e", "e2", lambda x, y: x + F.lit(0.25) * y).alias("e"),
    )
    return base.unionByName(blended).select("vec_id", F.col("e").alias("embedding"))


def q_ann_bruteforce(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") < N_PROBE_IDS)
    return cosine_topk_bruteforce(emb, probes).orderBy("q_id", "rank")


SQL_ANN_BRUTEFORCE = f"""
WITH v AS (
  -- nrm > 0 mirrors the engine's zero-norm exclusion (cosine has no
  -- defined value for a direction-less vector; Spark ANSI would throw).
  SELECT vec_id, e, nrm FROM (
    SELECT vec_id, embedding::DOUBLE[] AS e,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM embeddings
  ) WHERE nrm > 0
),
q AS (SELECT vec_id AS q_id, e AS q_e, nrm AS q_nrm FROM v WHERE vec_id < {N_PROBE_IDS}),
scored AS (
  SELECT q.q_id, v.vec_id AS n_id,
         round(list_dot_product(v.e, q.q_e) / (v.nrm * q.q_nrm), 6) AS cosine
  FROM v CROSS JOIN q WHERE v.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, n_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS rank
  FROM scored
)
SELECT q_id, rank, n_id, cosine FROM ranked WHERE rank <= {K}
ORDER BY q_id, rank
"""


# (signature, servable_root, owned_dir) per sf_dir — the shared
# cached_derived_root value shape (root == owned here).
_IVF_CACHE: dict[str, tuple[tuple, str, str]] = {}


def q_ann_ivf(spark, sf_dir):
    """Driver entry runs the REAL architecture: write the cell-
    partitioned index once per (process, sf_dir, table content), probe
    via the pruned scan path. Cache lifecycle (striped build lock,
    content-signature staleness, retire-not-delete) is the ONE shared
    ``cached_derived_root`` protocol — a hand-rolled copy here drifted
    from the fulltext caches once (the retire-not-delete fix)."""
    import tempfile

    from ..sources.tables import cached_derived_root

    emb = _emb(spark, sf_dir)

    def build():
        path = tempfile.mkdtemp(prefix="ocs_ivf_")
        ivf_write(emb, path)
        return path, path

    path = cached_derived_root(
        _IVF_CACHE,
        sf_dir,
        lambda: table_signature(sf_dir, "embeddings"),
        build,
    )
    probes = emb.filter(F.col("vec_id") < N_PROBE_IDS)
    return ivf_topk_indexed(spark, path, probes).orderBy("q_id", "rank")


def q_dedup_embedding_cosine(spark, sf_dir):
    return embedding_near_dup_pairs(_blend_corpus(_emb(spark, sf_dir))).orderBy(
        "a_id", "b_id"
    )


SQL_DEDUP_EMBEDDING_COSINE = f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
blend AS (
  SELECT a.vec_id + 100000 AS vec_id,
         list_transform(range(1, len(a.e) + 1), i -> a.e[i] + 0.25 * b.e[i]) AS e
  FROM base a JOIN base b ON b.vec_id = a.vec_id + 1
),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM blend),
-- nrm > 0 mirrors the engine's zero-norm exclusion (see SQL_ANN_BRUTEFORCE).
v AS (SELECT * FROM (
  SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM corpus
) WHERE nrm > 0)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= {COSINE_DUP_THRESHOLD}
ORDER BY a_id, b_id
"""


QUERIES = {
    "ann_cosine_topk_bruteforce": (q_ann_bruteforce, SQL_ANN_BRUTEFORCE),
    # IVF cell selection is not one-query SQL-expressible -> rows-only
    # driver check; recall vs brute force is pytest-gated.
    "ann_cosine_topk_ivf": (q_ann_ivf, None),
    # Embedding member of the dedup family; brute-force SQL oracle IS
    # the LSH recall check (see embedding_near_dup_pairs docstring).
    "dedup_embedding_cosine": (q_dedup_embedding_cosine, SQL_DEDUP_EMBEDDING_COSINE),
}
