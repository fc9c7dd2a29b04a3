"""Training-data pipeline ops: properties the DuckDB oracle can't check
(SimHash behavior, IVF ANN recall, the multimodal decode stub). The
SQL-expressible entries (exact dedup, n-gram Jaccard, MinHash-LSH, text
quality/lang-id/fingerprints, brute-force ANN, media features) are
auto-graded against DuckDB in test_driver_contract.py."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from oculus_crawl_spark.operators import dedup, multimodal, pipeline, similarity

from .conftest import SF0001


def _docs(spark):
    return (
        spark.read.parquet(f"{SF0001}/documents.parquet")
        .select("doc_id", "text")
    )


def test_simhash_identical_text_collides(spark):
    docs = _docs(spark).limit(20)
    copies = docs.withColumn("doc_id", F.col("doc_id") + 10_000)
    fp = dedup.simhash_fingerprints(docs.unionByName(copies)).collect()
    by_id = {r["doc_id"]: r["simhash"] for r in fp}
    for i in {r["doc_id"] for r in fp if r["doc_id"] < 10_000}:
        assert by_id[i] == by_id[i + 10_000]


def test_simhash_chunk_join_is_exact(spark):
    """The pigeonhole chunk-join must return EXACTLY the pairs with
    hamming <= 3 — verified against a brute-force O(n^2) popcount over
    the same fingerprints."""
    docs = _docs(spark)
    fp = dedup.simhash_fingerprints(docs).collect()
    ids = np.array([r["doc_id"] for r in fp], dtype=np.int64)
    words = np.array([r["simhash"] for r in fp], dtype=np.int64).astype(np.uint64)
    xor = words[:, None] ^ words[None, :]
    ham = np.zeros_like(xor, dtype=np.int64)
    for s in range(64):
        ham += ((xor >> np.uint64(s)) & np.uint64(1)).astype(np.int64)
    ai, bi = np.where((ham <= 3) & (ids[:, None] < ids[None, :]))
    expected = {(int(ids[a]), int(ids[b])) for a, b in zip(ai, bi)}
    got = {
        (r["a_id"], r["b_id"])
        for r in dedup.simhash_near_dup_pairs(docs, max_hamming=3).collect()
    }
    assert got == expected


def test_simhash_hot_chunk_corpus_no_candidate_blowup(spark):
    """Scale guard (VERDICT round 1): an adversarial corpus where EVERY
    fingerprint shares the same 16 low bits — the round-1 4x16-bit chunk
    scheme would emit all C(n,2) candidates — but each pair differs in
    >= 4 of the 6 Manku blocks. The triple tables must emit ZERO
    candidates, and the exact brute force agrees no pair qualifies."""
    n = 300
    rng = np.random.default_rng(11)
    # low 16 bits identical (blocks 0 and 1 constant); each of blocks
    # 2..5 draws from a COLUMN-WISE unique permutation, so every pair
    # differs in exactly 4 blocks -> shares only 2 -> no triple matches.
    b2s = rng.permutation(1 << 11)[:n]
    b3s = rng.permutation(1 << 11)[:n]
    b4s = rng.permutation(1 << 10)[:n]
    b5s = rng.permutation(1 << 10)[:n]
    fps = []
    for i in range(n):
        word = (
            0xBEEF
            | (int(b2s[i]) << 22)
            | (int(b3s[i]) << 33)
            | (int(b4s[i]) << 44)
            | (int(b5s[i]) << 54)
        )
        fps.append((i, np.int64(np.uint64(word)).item()))
    fp_df = spark.createDataFrame(fps, "doc_id long, simhash long")
    cand = dedup.simhash_candidate_pairs(fp_df)
    assert cand.count() == 0
    # sanity: the pairs really are far apart
    words = np.array([w for _, w in fps], dtype=np.int64).astype(np.uint64)
    xor = words[:10, None] ^ words[None, :10]
    ham = sum(
        ((xor >> np.uint64(s)) & np.uint64(1)).astype(int) for s in range(64)
    )
    off_diag = ham[~np.eye(10, dtype=bool)]
    assert off_diag.min() > 3


def test_simhash_triple_tables_catch_all_small_hamming(spark):
    """Exactness of the candidate generator itself on synthetic
    fingerprints: every pair at hamming 0..3 (random bit flips) must
    appear among candidates."""
    rng = np.random.default_rng(23)
    base = int(rng.integers(0, 1 << 63))
    rows = [(0, base)]
    for d in range(1, 4):  # hamming exactly d from base
        for rep in range(5):
            w = base
            for bit in rng.choice(64, size=d, replace=False):
                w ^= 1 << int(bit)
            rows.append((len(rows), w))
    fp_df = spark.createDataFrame(
        [(i, np.int64(np.uint64(w)).item()) for i, w in rows],
        "doc_id long, simhash long",
    )
    cand = {
        (r["a_id"], r["b_id"])
        for r in dedup.simhash_candidate_pairs(fp_df).collect()
    }
    for i, w in rows[1:]:
        assert (0, i) in cand  # all are within hamming 3 of doc 0


def test_simhash_separates_near_dups_from_random(spark):
    """Mean hamming over true near-dup pairs (J>=0.9) must sit far below
    the random-pair mean (~32 for independent 64-bit fingerprints)."""
    docs = _docs(spark)
    jac = {
        (r["a_id"], r["b_id"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    assert jac, "corpus should contain built-in near-dup pairs"
    fp = {r["doc_id"]: r["simhash"] for r in dedup.simhash_fingerprints(docs).collect()}
    near = [bin(fp[a] ^ fp[b]).count("1") for a, b in jac]
    rng = np.random.default_rng(7)
    ids = sorted(fp)
    rand_pairs = {
        (ids[i], ids[j])
        for i, j in zip(
            rng.integers(0, len(ids), 500), rng.integers(0, len(ids), 500)
        )
        if i != j and (ids[min(i, j)], ids[max(i, j)]) not in jac
    }
    rand = [bin(fp[a] ^ fp[b]).count("1") for a, b in rand_pairs]
    assert max(near) < 16
    assert np.mean(near) < np.mean(rand) / 2


def test_batch_signature_kernels_match_perdoc_formulation():
    """The batch-wide MinHash/SimHash kernels (one tokenize C-pass, one
    SipHash call, reduceat segment reductions) must be BIT-IDENTICAL to
    an independent per-document derivation — including None/empty/short
    docs, unicode, and with the chunking forced down to split docs
    across permutation temps."""
    texts = [
        None, "", "a b", "one two three", "x " * 500,
        "Füß Straße ÉÉ 123", "dup dup dup dup", "a!b@c#1$2",
        "the quick brown fox jumps over the lazy dog " * 8,
    ] + [f"doc {i} term{i % 7} filler alpha beta gamma {i * 31 % 11}" for i in range(64)]
    s = pd.Series(texts)

    def perdoc_bands(txt):
        from oculus_crawl_spark.functions.analysis import tokenize

        sh = sorted(set(dedup._shingle_strings(tokenize(txt))))
        if not sh:
            return None
        h = pd.util.hash_array(np.asarray(sh, dtype=object))
        with np.errstate(over="ignore"):
            t = h[:, None] * dedup._A + dedup._B
            bands = t.min(axis=0).reshape(dedup.N_BANDS, dedup.ROWS_PER_BAND)
            keys = np.zeros(dedup.N_BANDS, dtype=np.uint64)
            for r in range(dedup.ROWS_PER_BAND):
                keys = (keys ^ bands[:, r]) * dedup._MIX
        return keys.astype(np.int64).tolist()

    def perdoc_simhash(txt):
        from oculus_crawl_spark.functions.analysis import tokenize

        toks = tokenize(txt)
        if not toks:
            return 0
        terms, counts = np.unique(np.asarray(toks, dtype=object), return_counts=True)
        h = pd.util.hash_array(terms)
        bits = (
            (h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
        ).astype(np.int64)
        score = ((2 * bits - 1) * counts[:, None]).sum(axis=0)
        word = np.where(score > 0, np.uint64(1), np.uint64(0))
        return int((word << np.arange(64, dtype=np.uint64)).sum().astype(np.int64))

    for chunk in (dedup._SIG_CHUNK, 8):  # default + forced doc-splitting
        old = dedup._SIG_CHUNK
        dedup._SIG_CHUNK = chunk
        try:
            got_b = dedup._minhash_band_keys_batch(s)
            got_s = dedup._simhash_batch(s)
        finally:
            dedup._SIG_CHUNK = old
        for i, t in enumerate(texts):
            exp = perdoc_bands(t)
            assert (got_b[i] is None and exp is None) or list(got_b[i]) == exp
            assert int(got_s[i]) == perdoc_simhash(t)


def test_minhash_signature_determinism():
    """Same text -> same band keys across separate invocations (the
    cross-executor determinism the LSH join depends on)."""
    s = pd.Series(["the quick brown fox jumps over the lazy dog again and again"] * 2)
    f = dedup.minhash_bands_udf.func
    a, b = f(s)[0], f(s)[1]
    assert a == b and len(a) == dedup.N_BANDS


def test_jaccard_tokens_pure():
    a = ["x", "y", "z", "w"]
    assert dedup.jaccard_tokens(a, a) == 1.0
    assert dedup.jaccard_tokens(a, ["q", "r", "s"]) == 0.0


def test_batched_verify_matches_perpair_string_jaccard():
    """The fused exact-verify kernel (pre-computed sorted-unique
    shingle-hash arrays, one lexsort merge-count over ALL pairs — no
    per-pair Python loop) must reproduce the per-pair string-set
    formulation exactly — including empty/short texts, repeated docs
    across pairs, unicode, and shingle multisets (duplicate shingles
    must count once). The hash arrays are built by the same
    ``shingle_set_udf`` kernel the verify join projects."""
    from oculus_crawl_spark.functions.analysis import tokenize

    texts = {
        0: "the quick brown fox jumps over the lazy dog",
        1: "the quick brown fox jumps over the lazy cat",
        2: "",
        3: "a b",  # too short for a 3-shingle
        4: "x y z x y z x y z x y z",  # duplicate shingles
        5: "Füß Straße one two three four five",
        6: "one two three four five six seven eight",
        7: "the quick brown fox jumps over the lazy dog",  # dup of 0
    }
    hsets = dedup._shingle_set_batch(pd.Series([texts[i] for i in range(8)]))
    pairs = [(0, 1), (0, 7), (2, 3), (3, 4), (4, 4), (5, 6), (1, 6), (0, 1)]
    pdf = pd.DataFrame(
        {
            "a_id": [a for a, _ in pairs],
            "b_id": [b for _, b in pairs],
            "a_h": [hsets[a] for a, _ in pairs],
            "b_h": [hsets[b] for _, b in pairs],
        }
    )
    got = dedup._verify_pairs(pdf)
    for row, (a, b) in zip(got.itertuples(index=False), pairs):
        # Kernel output is UNROUNDED (the caller's threshold filter
        # needs the exact value; rounding is display-only downstream).
        exp = dedup.jaccard_tokens(tokenize(texts[a]), tokenize(texts[b]))
        assert (row.a_id, row.b_id) == (a, b)
        assert abs(row.jaccard - exp) < 1e-12, (a, b, row.jaccard, exp)
    # Empty batch keeps the schema (mapInPandas requires it).
    empty = dedup._verify_pairs(pdf.iloc[0:0])
    assert list(empty.columns) == ["a_id", "b_id", "jaccard"] and len(empty) == 0


def test_verify_chunking_is_invisible(monkeypatch):
    """The fused kernel's element-budget chunking (memory bound for
    unbounded Arrow-batch pair fanout) must not change any output: run
    the same batch single-pass and with budgets that force every
    boundary shape — mid-batch splits, one-pair chunks, and a budget
    smaller than a single pair's fanout (which must still take the
    pair whole rather than stall)."""
    rng = np.random.default_rng(7)
    vocab = [f"tok{i}" for i in range(40)]
    texts = [
        " ".join(rng.choice(vocab, size=int(n)))
        for n in rng.integers(0, 60, size=24)
    ]
    hsets = dedup._shingle_set_batch(pd.Series(texts))
    pairs = [(int(a), int(b)) for a, b in rng.integers(0, 24, size=(60, 2))]
    pdf = pd.DataFrame(
        {
            "a_id": [a for a, _ in pairs],
            "b_id": [b for _, b in pairs],
            "a_h": [hsets[a] for a, _ in pairs],
            "b_h": [hsets[b] for _, b in pairs],
        }
    )
    baseline = dedup._verify_pairs(pdf)
    for budget in (1, 7, 64, 1000):
        monkeypatch.setattr(dedup, "_VERIFY_CHUNK_ELEMS", budget)
        got = dedup._verify_pairs(pdf)
        pd.testing.assert_frame_equal(got, baseline)


def test_minhash_verify_cache_released_on_drop(spark):
    """The persisted hash-set frame must be unpersisted when the caller
    drops the result: Spark's CacheManager holds cached plans by strong
    reference (the ContextCleaner never collects DataFrame cache
    entries), so without the finalizer every minhash_near_dup_pairs
    call would pin a corpus-sized blob cache until session end."""
    import gc

    docs = (
        spark.read.parquet(f"{SF0001}/documents.parquet")
        .select("doc_id", "text")
        .limit(100)
    )
    jsc = spark.sparkContext._jsc
    gc.collect()
    base = jsc.getPersistentRDDs().size()
    out = dedup.minhash_near_dup_pairs(docs)
    out.count()  # materializes (and caches) the hash-set frame
    assert jsc.getPersistentRDDs().size() > base
    del out
    gc.collect()
    assert jsc.getPersistentRDDs().size() == base


def test_minhash_graded_entry_keeps_cache_alive_through_action(spark):
    """q_dedup_minhash_lsh derives .orderBy() from the operator's
    result; pyspark derivations hold no Python ref to the parent, so
    without the keepalive pin the release finalizer fires BEFORE the
    action and the persist silently degrades to per-join-branch
    recompute (the exact regression the cache was added to fix)."""
    import gc

    from oculus_crawl_spark.operators.dedup import q_dedup_minhash_lsh

    jsc = spark.sparkContext._jsc
    gc.collect()
    base = jsc.getPersistentRDDs().size()
    out = q_dedup_minhash_lsh(spark, SF0001)
    gc.collect()  # the parent frame must survive this
    out.count()
    assert jsc.getPersistentRDDs().size() > base  # cache was live at action
    del out
    gc.collect()
    assert jsc.getPersistentRDDs().size() == base  # and released on drop


def test_ivf_recall_vs_bruteforce(spark):
    """ANN recall@5 at nprobe=3 of 10 cells (~30% scan). This corpus'
    embeddings are near-random 64-d vectors (weak neighbor structure),
    which bounds any partition-pruned ANN; the gate is recall >= 0.5
    and >= 1.5x the scanned fraction (i.e. genuinely better than
    random pruning). Measured 0.64 at freeze time."""
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 20)
    exact = similarity.cosine_topk_bruteforce(emb, probes).collect()
    approx = similarity.ivf_topk(emb, probes, nprobe=3, n_cells=10).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["q_id"], set()).add(r["n_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["q_id"], set()).add(r["n_id"])
    hits = sum(len(exact_sets[q] & approx_sets.get(q, set())) for q in exact_sets)
    total = sum(len(v) for v in exact_sets.values())
    recall = hits / total
    scan_frac = 3 / 10
    assert recall >= 0.5, f"IVF recall@5 = {recall:.3f}"
    assert recall >= 1.5 * scan_frac, f"no better than random pruning: {recall:.3f}"


def test_ivf_indexed_path_matches_inmemory_and_prunes(spark, tmp_path):
    """The written cell-partitioned index must (a) return the same rows
    as the in-memory formulation for identical n_cells/nprobe, and (b)
    probe through a PARTITION-PRUNED scan (PartitionFilters on cell),
    never a full-table read."""
    import contextlib
    import io

    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "ivf")
    n_cells = similarity.ivf_write(emb, path, n_cells=10)
    assert n_cells == 10
    indexed_df = similarity.ivf_topk_indexed(spark, path, probes, nprobe=3)
    mem = similarity.ivf_topk(emb, probes, nprobe=3, n_cells=10)
    assert sorted(map(tuple, indexed_df.collect())) == sorted(
        map(tuple, mem.collect())
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        indexed_df.explain(mode="formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters")[1][:250]


def test_ivf_probe_reads_index_without_stored_norms(spark, tmp_path):
    """An IVF index written before per-vector norms were stored has no
    ``nrm`` column. Read with the declared schema it arrives as NULL,
    and the probe computes those norms itself: its rows equal the rows
    of the same index written with norms."""
    from oculus_crawl_spark.sources.tables import write_table

    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 10)
    assignments, centroids = similarity.ivf_build(emb, n_cells=10)
    for name, table in (("fresh", assignments), ("old", assignments.drop("nrm"))):
        write_table(table, str(tmp_path / name / "assignments"), ["cell"])
        write_table(centroids, str(tmp_path / name / "centroids"))
    assert "nrm" not in spark.read.parquet(str(tmp_path / "old" / "assignments")).columns
    fresh, old = (
        sorted(map(tuple, similarity.ivf_topk_indexed(
            spark, str(tmp_path / name), probes, nprobe=3
        ).collect()))
        for name in ("fresh", "old")
    )
    assert fresh and old == fresh


def test_ivf_derived_sizing():
    assert similarity.derive_n_cells(500) == 22
    assert similarity.derive_n_cells(10**12) == 65536
    assert similarity.derive_nprobe(22) == 7
    assert similarity.derive_nprobe(1) == 1


def test_ivf_assignment_is_nearest_centroid(spark):
    """Every vector must be assigned to its max-cosine centroid (the
    distributed Arrow assignment agrees with a driver-side check)."""
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet").limit(100)
    assignments, centroids = similarity.ivf_build(emb)
    A = assignments.collect()
    C = np.array(
        [r["centroid"] for r in sorted(centroids.collect(), key=lambda r: r["cell"])]
    )
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    for r in A:
        x = np.array(r["embedding"], dtype=np.float64)
        xn = x / np.linalg.norm(x)
        assert int(np.argmax(xn @ Cn.T)) == r["cell"]


def test_embedding_near_dup_matches_bruteforce(spark):
    """Hyperplane-LSH near-dup pairs == exhaustive all-pairs cosine at
    the threshold (recall check independent of the DuckDB oracle), on
    the blended corpus the graded entry uses."""
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    corpus = similarity._blend_corpus(emb)
    rows = corpus.collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    cos = Xn @ Xn.T
    ai, bi = np.where(
        (cos >= similarity.COSINE_DUP_THRESHOLD) & (ids[:, None] < ids[None, :])
    )
    expected = {
        (int(min(ids[a], ids[b])), int(max(ids[a], ids[b])))
        for a, b in zip(ai, bi)
    }
    got = {
        (r["a_id"], r["b_id"])
        for r in similarity.embedding_near_dup_pairs(corpus).collect()
    }
    assert got == expected and len(expected) > 0


def test_hyperplane_keys_deterministic_and_bounded(spark):
    """Keys are stable across invocations (cross-executor determinism
    the bucket join depends on) and fit the r-bit key space."""
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet").limit(50)
    a = similarity.hyperplane_keys(emb).collect()
    b = similarity.hyperplane_keys(emb).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 50 * similarity._HP_TABLES
    assert all(0 <= r["key"] < (1 << similarity._HP_BITS) for r in a)


def test_decode_media_stub_raises():
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"\x89PNG...", "image/png")


def test_media_features_deterministic(spark):
    docs = _docs(spark).limit(10).select(
        "doc_id",
        F.lit("text/synthetic").alias("media_type"),
        F.encode("text", "utf-8").alias("media"),
    )
    a = sorted(map(tuple, multimodal.extract_media_features(docs).collect()))
    b = sorted(map(tuple, multimodal.extract_media_features(docs).collect()))
    assert a == b
    import hashlib

    row = dict(zip(
        [f.name for f in multimodal.extract_media_features(docs).schema.fields],
        a[0],
    ))
    # features must be exactly the md5-derived words of the payload
    text = _docs(spark).filter(F.col("doc_id") == row["doc_id"]).collect()[0]["text"]
    d = hashlib.md5(text.encode()).hexdigest()
    assert row["fp_md5"] == d
    assert row["f0"] == int(d[0:8], 16)


def test_media_features_default_path_zero_python(spark):
    """With no decoder injected, featurization is pure JVM expressions
    (octet_length/md5/conv) — no Arrow crossing, no Python eval node —
    and value-identical to the injected-decoder mapInPandas plumbing's
    bytes-level output."""
    docs = _docs(spark).limit(10).select(
        "doc_id",
        F.lit("text/synthetic").alias("media_type"),
        F.encode("text", "utf-8").alias("media"),
    )
    jvm_df = multimodal.extract_media_features(docs)
    plan = jvm_df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "InPandas" not in plan
    # identity decoder => the Arrow path featurizes the same raw bytes
    arrow_df = multimodal.extract_media_features(docs, decoder=lambda b, _t: b)
    arrow_plan = arrow_df._jdf.queryExecution().executedPlan().toString()
    assert "InPandas" in arrow_plan  # injected decoders DO cross to Python
    assert sorted(map(tuple, jvm_df.collect())) == sorted(
        map(tuple, arrow_df.collect())
    )


def test_clean_corpus_plan_one_shuffle_zero_python(spark):
    """The fused prep pipeline must stay whole-stage codegen with
    EXACTLY one exchange (the dedup groupBy) — the composition's whole
    point is that lang-id + quality + fingerprint ride the scan
    projection and only surviving rows pay a shuffle."""
    df = pipeline.clean_corpus(_docs(spark))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert plan.count("Exchange") == 1


def test_clean_corpus_filters_and_collapses(spark):
    """Survivors = (pred_lang in keep) AND (quality >= floor), derived
    independently from the single-operator outputs; every group from
    the doubled corpus collapses to n_copies=2 with the canonical id
    in the original range."""
    from oculus_crawl_spark.operators import textquality

    docs = _docs(spark)
    copies = docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    out = pipeline.clean_corpus(docs.unionByName(copies)).collect()
    assert len(out) > 0
    assert all(r["n_copies"] == 2 for r in out)
    assert all(r["doc_id"] < 1_000_000 for r in out)
    assert all(r["pred_lang"] == "en" and r["quality"] >= 0.5 for r in out)
    qual = {r["doc_id"]: r["quality"] for r in textquality.quality_scores(docs).collect()}
    langs = {
        r["doc_id"]: r["pred_lang"]
        for r in textquality.lang_id(docs.withColumn("lang", F.lit(""))).collect()
    }
    expected = {
        d for d in qual if qual[d] >= 0.5 and langs[d] == "en"
    }
    assert {r["doc_id"] for r in out} == expected


def test_media_features_null_raises_even_when_guard_pruned(spark):
    """Both paths fail loudly on a NULL payload REGARDLESS of which
    output columns the caller keeps: Catalyst column pruning drops
    unreferenced projections, so a guard riding only on fp_md5 would
    vanish from a select("doc_id","n_bytes") plan and NULL rows would
    silently pass on the JVM path while the mapInPandas kernel (which
    pruning cannot reach inside) raised."""
    docs = spark.createDataFrame(
        [(1, "text/synthetic", bytearray(b"x")), (2, "text/synthetic", None)],
        "doc_id long, media_type string, media binary",
    )
    for cols in (["doc_id", "n_bytes"], ["doc_id"], ["fp_md5"]):
        with pytest.raises(Exception, match="NULL media payload"):
            multimodal.extract_media_features(docs).select(*cols).collect()
        with pytest.raises(Exception, match="NULL media payload"):
            multimodal.extract_media_features(
                docs, decoder=lambda b, _t: b
            ).select(*cols).collect()
    # Non-NULL rows are value-transparent through the guard wrapper.
    ok = docs.filter("media is not null")
    assert sorted(map(tuple, multimodal.extract_media_features(ok).collect())) \
        == sorted(map(tuple, multimodal.extract_media_features(
            ok, decoder=lambda b, _t: b).collect()))


def test_zero_norm_vectors_excluded_not_crashed(spark):
    """A zero embedding vector has no defined cosine: under Spark 4's
    default ANSI mode the norm division would throw DIVIDE_BY_ZERO for
    the whole job (the DuckDB oracle NULL-propagates instead) — the
    engine must EXCLUDE such vectors on every cosine surface, and the
    oracles mirror the exclusion, so both sides agree on a corpus that
    contains one."""
    import duckdb

    dim = 8
    rng = np.random.default_rng(5)
    vecs = [[float(x) for x in rng.standard_normal(dim)] for _ in range(6)]
    vecs[3] = [0.0] * dim  # the direction-less vector
    pdf = pd.DataFrame({"vec_id": range(6), "embedding": vecs})
    emb = spark.createDataFrame(
        [(i, v) for i, v in zip(pdf["vec_id"], pdf["embedding"])],
        "vec_id long, embedding array<float>",
    )
    probes = emb.filter(F.col("vec_id") < 4)  # includes the zero vector

    # Brute force: runs, excludes vec 3 as neighbor AND as probe.
    rows = similarity.cosine_topk_bruteforce(emb, probes, k=3).collect()
    assert rows and all(r["n_id"] != 3 for r in rows)
    assert all(r["q_id"] != 3 for r in rows)

    # Near-dup pairs: runs; no pair involves vec 3.
    pairs = similarity.embedding_near_dup_pairs(emb, threshold=0.0).collect()
    assert pairs and all(3 not in (r["a_id"], r["b_id"]) for r in pairs)

    # IVF: builds and probes without crashing; vec 3 never assigned.
    assignments, _cent = similarity.ivf_build(emb, n_cells=2)
    assert all(r["vec_id"] != 3 for r in assignments.collect())

    # Oracle agreement on the same corpus (duckdb view named like the
    # driver's): the brute-force SQL mirrors the nrm > 0 exclusion.
    # float32 round-trip: the engine reads array<float>, so the oracle
    # must see the same float32-truncated values.
    pdf32 = pd.DataFrame(
        {
            "vec_id": pdf["vec_id"],
            "embedding": [
                np.asarray(v, dtype=np.float32).tolist() for v in vecs
            ],
        }
    )
    con = duckdb.connect()
    con.register("embeddings", pdf32)
    sql = similarity.SQL_ANN_BRUTEFORCE.replace(
        f"vec_id < {similarity.N_PROBE_IDS}", "vec_id < 4"
    ).replace(f"rank <= {similarity.K}", "rank <= 3")
    exp = sorted(
        (int(q), int(rk), int(n), round(float(c), 6))
        for q, rk, n, c in con.execute(sql).fetchall()
    )
    got = sorted(
        (r["q_id"], r["rank"], r["n_id"], round(r["cosine"], 6))
        for r in similarity.cosine_topk_bruteforce(emb, probes, k=3).collect()
    )
    assert got == exp


def test_simhash_empty_docs_do_not_flood_candidates(spark):
    """Contentless docs all fingerprint to the zero sentinel; without
    the sentinel filter every pair of them collides in all 20 tables
    (a 10k-empty-doc shard => ~10^8 meaningless candidates). They must
    be excluded — mirroring the MinHash path's NULL-band exclusion —
    while real near-dups still pair."""
    docs = spark.createDataFrame(
        [
            (1, ""),
            (2, "   "),
            (3, "!!!"),
            (4, "the quick brown fox jumps over the lazy dog"),
            (5, "the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id long, text string",
    )
    pairs = dedup.simhash_near_dup_pairs(docs).collect()
    assert {(r["a_id"], r["b_id"]) for r in pairs} == {(4, 5)}
