"""Vector-family operators: tiled exact pair GEMM, learned-centroid
IVF, and the no-driver-materialization contract.

The sf0.001 embeddings corpus is ~uniform random unit vectors (no
label/cluster geometry), so pruned-probe ANN recall is a data property
near chance level; the operator properties tested here are the ones
that hold for ANY corpus: laziness, block-count invariance, partition
completeness, and exhaustive-probe exactness.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from batchprocessingetl_spark.catalog import load_table
from batchprocessingetl_spark.operators.similarity import (
    cosine_topk,
    ivf_assign,
    ivf_topk,
    learn_ivf_centroids,
    similar_pairs_exact,
)
from batchprocessingetl_spark.sources.readers import local_frame
from batchprocessingetl_spark.workload.vectors import _query_df
from tests.conftest import SF_SMOKE


def test_similar_pairs_is_lazy_no_driver_materialization(spark):
    # Building the operator must not run any job or collect data to the
    # driver: an exploding upstream stage only fires if something forces
    # execution. (The r1 implementation ran df.count() + collect() at
    # call time — this pins the fix.)

    def bomb(batches):
        raise RuntimeError("operator construction forced execution")
        yield  # pragma: no cover

    src = load_table(spark, SF_SMOKE, "embeddings").mapInPandas(
        bomb, schema="vec_id long, embedding array<float>, label int"
    )
    out = similar_pairs_exact(src, 0.5)  # must not raise
    assert set(out.columns) == {"id_a", "id_b", "cosine"}
    with pytest.raises(Exception, match="forced execution"):
        out.count()  # the bomb is live — only an action detonates it


def test_tiled_pairs_invariant_to_block_count(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings").limit(120)
    base = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in similar_pairs_exact(emb, 0.3, n_blocks=1).collect()
    }
    assert base  # nonempty at this threshold
    for n_blocks in (3, 8):
        got = {
            (r["id_a"], r["id_b"], r["cosine"])
            for r in similar_pairs_exact(emb, 0.3, n_blocks=n_blocks).collect()
        }
        assert got == base, f"n_blocks={n_blocks} changed the pair set"


def test_ivf_exhaustive_probe_equals_exact_at_k64(spark):
    # recall == 1.0 when probing all 64 learned cells — the partition
    # loses and duplicates nothing, for any realized centroids.
    emb = load_table(spark, SF_SMOKE, "embeddings")
    base = emb.filter(F.col("vec_id") != 0)
    model = learn_ivf_centroids(base, k=64, seed=1)
    q = _query_df(spark, SF_SMOKE)
    exact = [(r["vec_id"], r["cosine"]) for r in cosine_topk(base, q, 10).collect()]
    full = [
        (r["vec_id"], r["cosine"])
        for r in ivf_topk(base, q, model, 10, nprobe=64).collect()
    ]
    assert full == exact


def test_ivf_assignment_partitions_corpus(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    base = emb.filter(F.col("vec_id") != 0)
    model = learn_ivf_centroids(base, k=16, seed=42)
    assigned = ivf_assign(base, model)
    assert assigned.count() == base.count()  # one row per vector
    stats = assigned.agg(
        F.min("__cell").alias("lo"),
        F.max("__cell").alias("hi"),
        F.countDistinct("__cell").alias("n_cells"),
    ).first()
    assert stats["lo"] >= 0 and stats["hi"] < 16
    assert 1 <= stats["n_cells"] <= 16


def test_ivf_pruned_probe_returns_true_cosines(spark):
    # nprobe < k prunes the candidate set but must never fabricate or
    # perturb a cosine: every returned (vec_id, cosine) appears in the
    # full brute-force ranking.
    emb = load_table(spark, SF_SMOKE, "embeddings")
    base = emb.filter(F.col("vec_id") != 0)
    n = base.count()
    model = learn_ivf_centroids(base, k=16, seed=42)
    q = _query_df(spark, SF_SMOKE)
    truth = {
        (r["vec_id"], r["cosine"]) for r in cosine_topk(base, q, n).collect()
    }
    pruned = ivf_topk(base, q, model, 10, nprobe=4).collect()
    assert len(pruned) == 10
    assert all((r["vec_id"], r["cosine"]) in truth for r in pruned)


def test_multiprobe_lsh_recall_dominates_single_bucket(spark):
    # Hamming-1 multi-probe must return a superset-or-equal quality
    # top-k: its candidate pool contains the single-bucket pool, so
    # recall vs the exact top-k can only improve.
    from batchprocessingetl_spark.operators.similarity import cosine_topk_lsh

    emb = load_table(spark, SF_SMOKE, "embeddings")
    planes_rows = (
        emb.filter(F.col("vec_id").isin([1, 2, 3, 4]))
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    planes = [[float(x) for x in r["embedding"]] for r in planes_rows]
    base = emb.filter(~F.col("vec_id").isin([0, 1, 2, 3, 4]))
    q = _query_df(spark, SF_SMOKE)
    exact = {r["vec_id"] for r in cosine_topk(base, q, 10).collect()}
    single = {r["vec_id"] for r in cosine_topk_lsh(base, q, planes, 10).collect()}
    multi = {
        r["vec_id"] for r in cosine_topk_lsh(base, q, planes, 10, multiprobe=1).collect()
    }
    assert len(multi & exact) >= len(single & exact)
    # on this corpus the 5 probed buckets (of 16) lift recall strictly
    assert len(multi & exact) > len(single & exact)


def test_knn_join_matches_per_query_bruteforce(spark):
    from batchprocessingetl_spark.operators.similarity import as_double, knn_join

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"), as_double(F.col("embedding")).alias("qvec")
    )
    corpus = emb.filter(F.col("vec_id") % 25 != 0)
    got = knn_join(corpus, queries, k=4, payload_cols=("label",)).collect()
    by_qid = {}
    for r in got:
        by_qid.setdefault(r["qid"], []).append(r)
    assert set(by_qid) == {r["qid"] for r in queries.select("qid").collect()}
    for qid, rows in by_qid.items():
        assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == [1, 2, 3, 4]
        # per-query ground truth from the independent single-query operator
        single = cosine_topk(
            corpus, queries.filter(F.col("qid") == qid).select("qvec"), 4
        ).collect()
        assert [(r["vec_id"], r["cosine"]) for r in sorted(rows, key=lambda r: r["rank"])] == [
            (r["vec_id"], r["cosine"]) for r in single
        ], f"qid={qid} diverges from brute force"


def _cosine_knn_rows(spark, n_blocks):
    from batchprocessingetl_spark.operators.similarity import as_double, knn_join

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), as_double(F.col("embedding")).alias("qvec")
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    return {(r["qid"], r["rank"], r["vec_id"], r["cosine"])
            for r in knn_join(corpus, queries, k=5, n_blocks=n_blocks).collect()}


def _hamming_knn_rows(spark, n_blocks):
    from batchprocessingetl_spark.operators.similarity import hamming_knn_join

    # 60 ids share 6 word pairs, so each query's top-5 cuts through a
    # run of equal distances that only the id ASC tie-break orders
    corpus = [(i, i % 6, (i % 6) << 3) for i in range(60)]
    queries = [(100, 0, 0), (101, 5, 40), (102, 3, 1)]
    cdf = local_frame(spark, corpus, "id long, w0 long, w1 long")
    qdf = local_frame(spark, queries, "qid long, qw0 long, qw1 long")
    return {(r["qid"], r["rank"], r["id"], r["hamming"])
            for r in hamming_knn_join(cdf, qdf, 5, n_blocks=n_blocks).collect()}


@pytest.mark.parametrize("rows", [_cosine_knn_rows, _hamming_knn_rows], ids=["cosine", "hamming"])
def test_knn_join_invariant_to_block_count(spark, rows):
    base = rows(spark, 1)
    assert len(base) == 15
    if rows is _hamming_knn_rows:
        assert len({(qid, score) for qid, _, _, score in base}) < len(base), "no distance tie"
        assert {(qid, rank, i) for qid, rank, i, _ in base if qid == 100} == {
            (100, rank, i) for rank, i in enumerate((0, 6, 12, 18, 24), start=1)
        }
    for nb in (4, 16):
        assert rows(spark, nb) == base, f"n_blocks={nb} changed the top-k"


def test_ivf_topk_int8_runs_the_single_query_guard_once(spark, monkeypatch):
    from batchprocessingetl_spark.operators import similarity

    calls = []
    guard = similarity._require_single_query

    def counted(query_df, op):
        calls.append(op)
        guard(query_df, op)

    monkeypatch.setattr(similarity, "_require_single_query", counted)
    base = load_table(spark, SF_SMOKE, "embeddings").filter(F.col("vec_id") != 0)
    model = learn_ivf_centroids(base.limit(50), k=4, seed=7, max_iter=2)
    out = similarity.ivf_topk_int8(base, _query_df(spark, SF_SMOKE), model, 5, nprobe=2)
    assert calls == ["ivf_topk_int8"]
    assert out.count() == 5


def _greedy_semantic_dedup_ground_truth(rows, planes, threshold):
    """Driver-side reference: greedy keep-first dedup per sign-LSH cell."""
    import numpy as np

    p = np.array(planes)
    out = {}
    cells = {}
    for vid in sorted(rows):
        v = np.asarray(rows[vid], dtype=np.float64)
        cell = sum(1 << i for i in range(len(planes)) if float(v @ p[i]) > 0)
        dropped = any(
            float(v @ w) / (np.linalg.norm(v) * np.linalg.norm(w)) >= threshold
            for w in cells.get(cell, [])
        )
        cells.setdefault(cell, []).append(v)
        out[vid] = not dropped
    return out


def test_semantic_dedup_matches_greedy_reference(spark):
    from batchprocessingetl_spark.operators.similarity import semantic_dedup
    from batchprocessingetl_spark.workload.vectors import _plane_rows

    planes = _plane_rows(spark, SF_SMOKE)
    emb = load_table(spark, SF_SMOKE, "embeddings")
    got = {
        r["vec_id"]: r["is_kept"]
        for r in semantic_dedup(emb, planes, 0.3).select("vec_id", "is_kept").collect()
    }
    rows = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.select("vec_id", "embedding").collect()
    }
    want = _greedy_semantic_dedup_ground_truth(rows, planes, 0.3)
    assert got == want
    assert not all(got.values()), "threshold 0.3 should drop something at sf0.001"


def test_semantic_dedup_kept_set_has_no_close_same_cell_pair(spark):
    # Greedy soundness: if kept a < kept b shared a cell with cos >= t,
    # b would have been dropped — so the surviving corpus is t-separated
    # within every cell.
    from batchprocessingetl_spark.operators.similarity import (
        as_double,
        cosine,
        semantic_dedup,
    )
    from batchprocessingetl_spark.workload.vectors import _plane_rows

    planes = _plane_rows(spark, SF_SMOKE)
    emb = load_table(spark, SF_SMOKE, "embeddings")
    kept = semantic_dedup(emb, planes, 0.3).filter("is_kept")
    a = kept.select("__cell", F.col("vec_id").alias("ia"), as_double(F.col("embedding")).alias("va"))
    b = kept.select("__cell", F.col("vec_id").alias("ib"), as_double(F.col("embedding")).alias("vb"))
    close = (
        a.join(b, "__cell")
        .filter(F.col("ia") < F.col("ib"))
        .filter(cosine(F.col("va"), F.col("vb")) >= 0.3)
    )
    assert close.count() == 0


def test_single_query_operators_reject_query_batches(spark):
    """cosine_topk / cosine_topk_lsh / ivf_topk / probe_cells rank
    against ONE query vector; a batch would silently mix neighbors
    across queries (ADVICE r3) — they must refuse it loudly and point
    at knn_join."""

    from batchprocessingetl_spark.operators.similarity import (
        as_double,
        cosine_topk_lsh,
        ivf_topk,
        probe_cells,
    )
    from batchprocessingetl_spark.workload.vectors import _query_df

    emb = load_table(spark, SF_SMOKE, "embeddings")
    base = emb.filter(F.col("vec_id") != 0)
    batch = base.limit(2).select(as_double(F.col("embedding")).alias("qvec"))
    empty = batch.filter(F.lit(False))
    model = learn_ivf_centroids(base.limit(50), k=4, seed=7, max_iter=2)

    for qdf in (batch, empty):
        with pytest.raises(ValueError, match="knn_join"):
            cosine_topk(base, qdf, 5)
        with pytest.raises(ValueError, match="knn_join"):
            cosine_topk_lsh(base, qdf, [[1.0] * 8], 5)
        with pytest.raises(ValueError, match="knn_join"):
            ivf_topk(base, qdf, model, 5)
        with pytest.raises(ValueError, match="knn_join"):
            probe_cells(qdf, model, 2)

    # the legitimate single-row query still works
    assert cosine_topk(base, _query_df(spark, SF_SMOKE), 5).count() == 5


def test_ivf_recall_floor_at_default_settings(spark):
    """VERDICT r3 #5: measured recall floor at the q54 defaults (16
    cells, nprobe=4). docs/SCALE.md records 0.52-0.62 mean recall@10 on
    this uniform-vector corpus; the floor asserts well below it (0.30)
    so k-means partial-sum jitter can't flake, while a real regression
    in cell assignment or probe ranking (which drops recall to ~0 or
    to the nprobe=1 level) fails loudly. Also pins monotonicity: more
    probes never hurt."""
    from batchprocessingetl_spark.operators.similarity import as_double, ivf_topk, knn_join
    from batchprocessingetl_spark.workload.vectors import IVF_K, IVF_NPROBE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    qids = list(range(5))
    corpus = emb.filter(~F.col("vec_id").isin(qids))
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), as_double(F.col("embedding")).alias("qvec")
    )
    exact: dict[int, set[int]] = {}
    for r in knn_join(corpus, queries, 10).collect():
        exact.setdefault(r["qid"], set()).add(r["vec_id"])

    model = learn_ivf_centroids(corpus, k=IVF_K, seed=42, max_iter=6)

    def mean_recall(nprobe: int) -> float:
        hits = 0
        for qid in qids:
            q = emb.filter(F.col("vec_id") == qid).select(
                as_double(F.col("embedding")).alias("qvec")
            )
            got = {r["vec_id"] for r in ivf_topk(corpus, q, model, 10, nprobe=nprobe).collect()}
            hits += len(got & exact[qid])
        return hits / (10 * len(qids))

    r_default = mean_recall(IVF_NPROBE)
    assert r_default >= 0.30, r_default
    assert mean_recall(1) <= r_default  # more probes never hurt


def test_ivf_int8_composite_recall_floor(spark):
    """VERDICT r4 #5 operating point: the multiprobe-IVF + int8-rerank
    composite at HALF probe must beat plain IVF's same-nprobe recall
    floor while scanning ~1/8 the float-equivalent bytes, and at FULL
    probe must reproduce the exact top-k ids EXACTLY (int8 shortlist
    + exact re-rank loses nothing on fixed data — also oracle-pinned
    by q125). Floors sit well under the measured 0.75-1.00 band
    (docs/SCALE.md) so k-means jitter can't flake."""
    from batchprocessingetl_spark.operators.similarity import (
        as_double,
        ivf_topk_int8,
        knn_join,
    )
    from batchprocessingetl_spark.workload.vectors import IVF_K

    emb = load_table(spark, SF_SMOKE, "embeddings")
    qids = list(range(5))
    corpus = emb.filter(~F.col("vec_id").isin(qids))
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), as_double(F.col("embedding")).alias("qvec")
    )
    exact: dict[int, set[int]] = {}
    for r in knn_join(corpus, queries, 10).collect():
        exact.setdefault(r["qid"], set()).add(r["vec_id"])

    model = learn_ivf_centroids(corpus, k=IVF_K, seed=42, max_iter=6)

    def recall(nprobe: int) -> float:
        hits = 0
        for qid in qids:
            q = emb.filter(F.col("vec_id") == qid).select(
                as_double(F.col("embedding")).alias("qvec")
            )
            got = {
                r["vec_id"]
                for r in ivf_topk_int8(
                    corpus, q, model, 10, nprobe=nprobe, rerank=4
                ).collect()
            }
            hits += len(got & exact[qid])
        return hits / (10 * len(qids))

    assert recall(IVF_K) == 1.0  # full probe: exact, deterministically
    assert recall(IVF_K // 2) >= 0.5  # half probe at ~1/16 the bytes


def test_embedding_covariance_matches_numpy(spark):
    import numpy as np

    from batchprocessingetl_spark.workload.vectors import (
        q173_embedding_covariance,
    )

    out = q173_embedding_covariance(spark, SF_SMOKE).collect()
    emb = load_table(spark, SF_SMOKE, "embeddings")
    x = np.array([r["embedding"] for r in emb.collect()], dtype=np.float64)
    ref = np.cov(x, rowvar=False, ddof=1)
    d = x.shape[1]
    assert len(out) == d * (d + 1) // 2
    for r in out:
        assert r["n"] == x.shape[0]
        assert abs(r["cov"] - ref[r["i"], r["j"]]) < 1e-6, (r["i"], r["j"])


def test_kmeans_fixedpoint_matches_python_replay(spark):
    """The fixed-point Lloyd loop must equal an independent pure-Python
    replay of the same recurrence (scale, md5 init, integer distances,
    lower-id tie-break, floor-div centroid update, empty-cluster
    carry-forward) — assignments AND distances, bit for bit."""
    import hashlib
    import math

    from batchprocessingetl_spark.operators.similarity import kmeans_fixedpoint

    vecs = [
        (i, [math.sin(i * 7.3 + d) for d in range(6)]) for i in range(40)
    ] + [(100 + i, [9.0 + 0.001 * i] * 6) for i in range(3)]  # tight far clump
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    k, iters, scale, seed = 4, 3, 10**6, "km"
    got = {
        r["vec_id"]: (r["cluster"], r["dist"])
        for r in kmeans_fixedpoint(
            df, "vec_id", "embedding", k=k, iters=iters, seed=seed, scale=scale
        ).collect()
    }

    sv = {i: [math.floor(x * scale + 0.5) for x in v] for i, v in vecs}
    order = sorted(sv, key=lambda i: (hashlib.md5(f"{seed}:{i}".encode()).hexdigest(), i))
    cents = [sv[i][:] for i in order[:k]]

    def assign():
        out = {}
        for i, v in sv.items():
            out[i] = min(
                (sum((a - b) ** 2 for a, b in zip(v, c)), j)
                for j, c in enumerate(cents)
            )
        return out

    for t in range(iters):
        if t == iters - 1:
            break
        asg = assign()
        sums: dict = {}
        for i, (_, j) in asg.items():
            n, s = sums.get(j, (0, [0] * 6))
            sums[j] = (n + 1, [a + b for a, b in zip(s, sv[i])])
        for j in range(k):
            if j in sums:
                n, s = sums[j]
                cents[j] = [x // n for x in s]
    want = {i: (j, d) for i, (d, j) in assign().items()}
    assert got == want


def test_mmr_prefers_diverse_over_redundant(spark, tmp_path, monkeypatch):
    """MMR sanity on a crafted pool: three equally-relevant vectors
    where two are near-identical and one is their mirror about the
    query axis. Plain top-k is indifferent; MMR's diversity term must
    pick the mirror before the redundant twin. Exercised through the
    q192 driver loop on a tiny parquet table."""
    from batchprocessingetl_spark.workload import vectors as V

    def emb(x, y):
        return [float(x), float(y), 0.0, 0.0]

    rows = [
        (0, emb(1.0, 0.0)),       # the query vector
        (1, emb(0.9, 0.436)),     # relevant
        (2, emb(0.9, 0.4361)),    # near-identical twin of 1
        (3, emb(0.9, -0.436)),    # mirror: same relevance, sim~0.62 to 1
        (4, emb(0.3, 0.954)),     # low relevance
        (5, emb(0.1, 0.995)),     # lower still
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        [(i, v, 0) for i, v in rows],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(f"{sf}/embeddings.parquet")

    monkeypatch.setattr(V, "MMR_POOL", 5)
    monkeypatch.setattr(V, "MMR_K", 3)
    picked = [r["vec_id"] for r in V.q192_mmr_rerank(spark, sf).collect()]
    # first pick: highest relevance (1 wins the id tie-break over 2);
    # second: the mirror 3 (score .7*.9 - .3*.62) beats the twin 2
    # (score .7*.9 - .3*~1.0)
    assert picked[0] == 1
    assert picked[1] == 3
    assert 2 not in picked[:2]


def test_pca_power_iteration_matches_integer_replay(spark):
    """q220's fixed-point power iteration must equal an independent
    numpy integer replay of the same recurrence (quantize, exact Gram,
    max-norm scale with sign-split floor division, 8 matvec steps) —
    bit for bit. The sf0.001 corpus is isotropic (no eigengap), so the
    pin is recurrence replayability, not eigenvector convergence; the
    overflow bound |sum g_s*v_s|*1 <= 64*1e5*1e6 < 2^63 holds by
    construction."""
    import numpy as np

    from batchprocessingetl_spark.workload.vectors import (
        PCA_QS,
        PCA_GS,
        PCA_VS,
        PCA_STEPS,
        q220_pca_power_iteration,
    )

    out = q220_pca_power_iteration(spark, SF_SMOKE).collect()
    v = np.array(
        [r["loading_scaled"] for r in sorted(out, key=lambda r: r["dim"])],
        dtype=np.int64,
    )
    assert np.max(np.abs(v)) == PCA_VS

    x = np.array(
        [r["embedding"] for r in load_table(spark, SF_SMOKE, "embeddings").collect()],
        dtype=np.float64,
    )
    q = np.floor(x * PCA_QS + 0.5).astype(np.int64)
    g = q.T @ q
    gs = np.sign(g) * (np.abs(g) * PCA_GS // np.max(np.abs(g)))
    ref = np.full(gs.shape[0], PCA_VS, dtype=np.int64)
    for _ in range(PCA_STEPS):
        w = gs @ ref
        ref = np.sign(w) * (np.abs(w) * PCA_VS // np.max(np.abs(w)))
    assert np.array_equal(v, ref)
