"""Recall evidence for the approximate similarity paths (round-1 gap:
lsh_bucket_topk and the bucket-blocked near-dup join had no recall
check vs the exact formulation), plus a numpy cross-check of the
multimodal fake-feature stub and an exchange audit of exact dedup."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from ocsf_validator_spark.pipeline import dedup, multimodal, similarity

DIM = 64


def _vecs(spark, n_base=300, n_dups=12, seed=7):
    """Deterministic embeddings: n_base random unit-ish vectors plus
    n_dups near-duplicates of vector 0 (noise 0.01/dim -> cos ~0.997,
    so a near-dup flips each of the 8 hyperplane signs w.p. ~0.026)."""
    rng = np.random.default_rng(seed)
    base = rng.normal(size=(n_base, DIM))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    dups = base[0] + 0.01 * rng.normal(size=(n_dups, DIM))
    dups /= np.linalg.norm(dups, axis=1, keepdims=True)
    rows = [
        (i, [float(x) for x in v], "d" if i >= n_base else "b")
        for i, v in enumerate(np.vstack([base, dups]))
    ]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label string"
    ), base[0]


def test_lsh_bucket_topk_recall(spark):
    df, probe_np = _vecs(spark)
    probe = [float(x) for x in probe_np]
    exact = [
        r.vec_id
        for r in similarity.cosine_topk(
            df.filter(F.col("vec_id") != 0), probe, k=10
        ).collect()
    ]
    approx = [
        r.vec_id
        for r in similarity.lsh_bucket_topk(
            df.filter(F.col("vec_id") != 0), probe, k=10
        ).collect()
    ]
    recall = len(set(exact) & set(approx)) / len(exact)
    # near-dups of the probe dominate the true top-10 and share its
    # hyperplane signs with high probability; fixed seed -> deterministic
    assert recall >= 0.6, f"recall@10 = {recall} ({approx} vs {exact})"
    # everything the bucket path returns must be genuinely high-cosine
    assert set(approx) <= set(
        r.vec_id
        for r in similarity.cosine_topk(
            df.filter(F.col("vec_id") != 0), probe, k=30
        ).collect()
    )


def test_near_dup_bucket_blocking_recall(spark):
    df, _ = _vecs(spark)
    brute = similarity.embedding_near_dup_pairs(
        df, threshold=0.95, n_planes=0, n_tables=1
    )
    # n_planes=0 => every row in bucket 0 => exact all-pairs baseline
    exact_pairs = {(r.a_id, r.b_id) for r in brute.collect()}
    assert len(exact_pairs) >= 60  # the 13 near-dups of v0 inter-match
    got = {
        (r.a_id, r.b_id)
        for r in similarity.embedding_near_dup_pairs(df, threshold=0.95).collect()
    }
    assert got <= exact_pairs  # no false positives ever
    recall = len(got) / len(exact_pairs)
    assert recall >= 0.6, f"near-dup recall = {recall}"


def test_fake_feature_matches_numpy(spark):
    d = spark.createDataFrame(
        [(1, "hello world"), (2, "x" * 37), (3, "")],
        "doc_id bigint, text string",
    )
    feats = {
        r.id: (r.n_bytes, r.sha256, r.feature)
        for r in multimodal.decode_features(
            multimodal.attach_payload(d), dim=8
        ).collect()
    }
    import hashlib

    for _, txt in [(1, "hello world"), (2, "x" * 37), (3, "")]:
        b = txt.encode()
        doc_id = {("hello world"): 1, ("x" * 37): 2, (""): 3}[txt]
        n_bytes, sha, feature = feats[doc_id]
        assert n_bytes == len(b)
        assert sha == hashlib.sha256(b).hexdigest()
        # independent reimplementation: fold bytes into 8 buckets
        acc = [0.0] * 8
        for i, v in enumerate(b):
            acc[i % 8] += float(v)
        want = [v / max(len(b), 1) for v in acc]
        assert feature == pytest.approx(want)


def test_exact_dedup_no_text_in_exchange(spark):
    d = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa"), (5, "ccc"), (6, "bbb")],
        "doc_id bigint, text string",
    )
    pairs = dedup.exact_duplicates(d)
    got = sorted((r.doc_id, r.keep_id) for r in pairs.collect())
    assert got == [(3, 1), (4, 1), (6, 2)]
    # plan audit: no Exchange carries the raw text column
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = pairs._jdf.queryExecution().explainString(mode)
    blocks = plan.split("\n\n")
    for b in blocks:
        if ") Exchange" in b.split("\n")[0]:
            assert "text#" not in b, f"text crossed an exchange:\n{b}"
    # verify leg agrees (hash collisions absent here by construction)
    verified = sorted(
        (r.doc_id, r.keep_id)
        for r in dedup.exact_duplicates(d, verify=True).collect()
    )
    assert verified == got


def test_lsh_candidate_pairs_single_pass_plan(spark):
    """Plan contract for the round-3 formulation: NO self-join (the
    round-2 exploded self-join recomputed the signature aggregation per
    side — a measured 2× regression), so the expensive shingle-explode +
    groupBy(id) subtree must appear exactly once and the whole query is
    agg → agg → pair-explode → distinct: three exchanges, zero joins."""
    d = spark.createDataFrame(
        [(i, f"w{i % 7} common tokens here for all docs {i % 3}") for i in range(40)],
        "doc_id bigint, text string",
    )
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sig = dedup.minhash_signatures(d, n_hashes=8, k=2)
        pairs = dedup.lsh_candidate_pairs(sig, n_hashes=8, band_size=2)
        jvm = spark._jvm
        mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        plan = pairs._jdf.queryExecution().explainString(mode)
        assert "Join" not in plan, plan
        # sig groupBy + (band,key) groupBy + final distinct
        assert plan.count("Exchange hashpartitioning") == 3, plan
        assert pairs.count() > 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_hyperplane_driver_side_matches_sql_derivation(spark):
    """The driver-side hashlib plane components must be bit-identical to
    the in-plan SQL derivation they replaced (oracles replay the md5
    math in SQL, so any drift here breaks hash-exactness)."""
    planes = similarity.hyperplane_components(dim=4, n_planes=2, seed=42)
    rows = spark.sql(
        """
        SELECT p, transform(sequence(0, 3), i ->
          cast(conv(substring(md5(concat('42', '_', p, '_', i)), 1, 8), 16, 10) as double)
          / 4294967296.0 - 0.5) AS comps
        FROM (SELECT explode(sequence(0, 1)) AS p)
        """
    ).collect()
    sql_planes = [list(r.comps) for r in sorted(rows, key=lambda r: r.p)]
    assert planes == sql_planes  # exact equality, not approx
    # bucket of a vector: plain-Python fold == in-plan fold
    df, probe_np = _vecs(spark, n_base=20, n_dups=0)
    buckets = {
        r.vec_id: r.b
        for r in df.select(
            "vec_id", similarity.hyperplane_bucket_col("embedding").alias("b")
        ).collect()
    }
    for r in df.select("vec_id", "embedding").collect():
        assert (
            similarity.hyperplane_bucket_py(list(r.embedding)) == buckets[r.vec_id]
        )


def test_kmeans_refined_ivf_recall(spark):
    """Lloyd-refined centroids on CLUSTERED data: recall@10 must not
    regress vs the raw hash-sample centroids and must clear an absolute
    bar; refinement is deterministic at any parallelism."""
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(4, DIM)) * 3
    pts = np.vstack(
        [c + 0.3 * rng.normal(size=(120, DIM)) for c in centers]
    )
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(pts)],
        "vec_id bigint, embedding array<double>",
    )
    probe = [float(x) for x in pts[0]]
    rest = df.filter(F.col("vec_id") != 0)
    exact = {
        r.vec_id for r in similarity.cosine_topk(rest, probe, k=10).collect()
    }

    def recall(refine_iters):
        got = {
            r.vec_id
            for r in similarity.ivf_topk(
                rest, probe, k=10, n_centroids=8, nprobe=2,
                refine_iters=refine_iters,
            ).collect()
        }
        return len(exact & got) / len(exact)

    r0, r2 = recall(0), recall(2)
    assert r2 >= r0, f"refinement regressed recall: {r2} < {r0}"
    assert r2 >= 0.9, f"refined ivf recall@10 = {r2}"
    # determinism across physical layouts
    base = similarity.ivf_centroids(rest, 8)
    c1 = similarity.kmeans_refine(rest, base, iters=2)
    c2 = similarity.kmeans_refine(rest.repartition(17), base, iters=2)
    assert c1 == c2


def test_jaccard_hash_join_and_doc_freq_cap(spark):
    """Scale formulation of jaccard_pairs: (a) no raw shingle strings
    cross an Exchange (the join keys on xxhash64), (b) the doc-frequency
    cap removes stopword shingles from intersection AND union."""
    rows = [
        # block A: docs 1,2 share 'p q r s t'-grams; doc 3 unrelated
        (1, "en", "web", "p q r s t u v"),
        (2, "en", "web", "p q r s t u w"),
        (3, "en", "web", "z y x w v u t s r q"),
    ]
    d = spark.createDataFrame(
        rows, "doc_id bigint, lang string, source string, text string"
    )
    uncapped = {
        (r.a_id, r.b_id): r.jaccard
        for r in dedup.jaccard_pairs(
            d, ("lang", "source"), k=5, threshold=0.1
        ).collect()
    }
    assert (1, 2) in uncapped
    # cap=2 keeps everything here (each shingle is in <= 2 docs);
    # cap=1 removes every SHARED shingle -> intersections vanish
    capped_all = {
        (r.a_id, r.b_id): r.jaccard
        for r in dedup.jaccard_pairs(
            d, ("lang", "source"), k=5, threshold=0.1, max_doc_freq=2
        ).collect()
    }
    assert capped_all == uncapped
    capped_1 = dedup.jaccard_pairs(
        d, ("lang", "source"), k=5, threshold=0.0, max_doc_freq=1
    ).collect()
    assert capped_1 == []
    # plan audit: no Exchange carries the raw shingle string (_sh)
    pairs = dedup.jaccard_pairs(d, ("lang", "source"), k=5, max_doc_freq=50)
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = pairs._jdf.queryExecution().explainString(mode)
    for b in plan.split("\n\n"):
        if ") Exchange" in b.split("\n")[0]:
            assert "_sh#" not in b, f"raw shingle crossed an exchange:\n{b}"
            assert "text#" not in b, f"text crossed an exchange:\n{b}"


def test_ivf_topk_recall(spark):
    df, probe_np = _vecs(spark)
    probe = [float(x) for x in probe_np]
    rest = df.filter(F.col("vec_id") != 0)
    exact = [
        r.vec_id for r in similarity.cosine_topk(rest, probe, k=10).collect()
    ]
    got = [
        r.vec_id
        for r in similarity.ivf_topk(
            rest, probe, k=10, n_centroids=16, nprobe=4
        ).collect()
    ]
    recall = len(set(exact) & set(got)) / len(exact)
    # the 12 near-dups of the probe share its nearest centroid; nprobe=4
    # of 16 lists covers them (fixed seed -> deterministic)
    assert recall >= 0.8, f"ivf recall@10 = {recall} ({got} vs {exact})"
    # determinism: same centroids at different parallelism
    c1 = similarity.ivf_centroids(df, 8)
    c2 = similarity.ivf_centroids(df.repartition(13), 8)
    assert c1 == c2


def test_connected_components_chain_and_dedup(spark, jobs_of):
    """Min-label propagation merges chains that no single pair states
    (1-2, 2-3 -> {1,2,3}), labels every member with the component min,
    and drop_duplicate_docs keeps exactly canonicals + untouched docs.
    A 6-node chain needs multiple propagation rounds — exercises the
    loop, the convergence check, and the lineage checkpointing. On the
    driver path the bounded collect that picks the path is the only job
    (an eager checkpoint, a count and the collect made 4)."""
    import pytest

    pairs = spark.createDataFrame(
        [(2, 3), (10, 11), (1, 2), (5, 6), (6, 7), (7, 8), (8, 9)],
        "a_id long, b_id long",
    )
    cc, n = jobs_of(lambda: dedup.connected_components(pairs))
    assert n == 1
    got = {r.doc_id: r.canonical_id for r in cc.collect()}
    assert got == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10,
        5: 5, 6: 5, 7: 5, 8: 5, 9: 5,
    }
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in (1, 2, 3, 10, 11, 5, 6, 7, 8, 9, 99)],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id for r in dedup.drop_duplicate_docs(docs, cc).collect()
    )
    assert kept == [1, 5, 10, 99]
    # the DISTRIBUTED path still merges the same chains (the driver
    # union-find fast path above resolves small graphs without
    # iterating — force past it) and its backstop raises instead of
    # emitting half-merged clusters
    got_dist = {
        r.doc_id: r.canonical_id
        for r in dedup.connected_components(
            pairs, small_graph_max=0
        ).collect()
    }
    assert got_dist == got
    with pytest.raises(RuntimeError, match="converge"):
        dedup.connected_components(pairs, max_iters=1, small_graph_max=0)


def test_embedding_health_per_dim(spark):
    from ocsf_validator_spark.pipeline.similarity import embedding_health

    rows = [
        (0, [1.0, 0.0, float("nan"), 2.0]),
        (1, [3.0, 0.0, 5.0, float("inf")]),
        (2, [-1.0, 0.0, 7.0, 6.0]),
        (3, None),  # NULL vector contributes nothing
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.dim: r.asDict() for r in embedding_health(df).collect()}
    assert set(got) == {0, 1, 2, 3}
    # dim 0: healthy
    assert got[0]["n_finite"] == 3 and got[0]["n_nonfinite"] == 0
    assert got[0]["mean"] == 1.0 and got[0]["mean_abs"] == round(5 / 3, 6)
    assert (got[0]["min_val"], got[0]["max_val"]) == (-1.0, 3.0)
    # dim 1: dead dimension — mean_abs exactly 0
    assert got[1]["mean_abs"] == 0.0 and got[1]["mean"] == 0.0
    # dim 2: one NaN counted as non-finite, excluded from stats
    assert got[2]["n_finite"] == 2 and got[2]["n_nonfinite"] == 1
    assert got[2]["mean"] == 6.0 and (got[2]["min_val"], got[2]["max_val"]) == (5.0, 7.0)
    # dim 3: inf counted, excluded from min/max
    assert got[3]["n_nonfinite"] == 1 and got[3]["max_val"] == 6.0


def test_embedding_health_all_nonfinite_dim(spark):
    from ocsf_validator_spark.pipeline.similarity import embedding_health

    df = spark.createDataFrame(
        [(0, [float("nan")]), (1, [float("-inf")])],
        "vec_id long, embedding array<double>",
    )
    r = embedding_health(df).collect()[0]
    assert r.n_finite == 0 and r.n_nonfinite == 2
    assert r.mean is None and r.mean_abs is None
    assert r.min_val is None and r.max_val is None


def test_centroid_drift_known_shift(spark):
    """centroid_drift: identical populations read cosine 1.0 / l2 0.0;
    a constant-offset population reads the exact l2; NULL vectors and
    non-finite values are excluded; empty side yields NULL cosine."""
    import math

    from ocsf_validator_spark.pipeline.similarity import centroid_drift

    base = [[1.0, 2.0, 3.0], [3.0, 2.0, 1.0]]  # centroid (2, 2, 2)
    a = spark.createDataFrame(
        [(i, v) for i, v in enumerate(base)] + [(9, None)],
        "vec_id long, embedding array<double>",
    )
    same = centroid_drift(a, a).collect()[0]
    assert (same.n_a, same.n_b, same.cosine, same.l2) == (2, 2, 1.0, 0.0)
    # b = centroid (3, 3, 3): l2 = sqrt(3), cosine = 1 (parallel)
    b = spark.createDataFrame(
        [(0, [2.0, 3.0, 4.0]), (1, [4.0, 3.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    d = centroid_drift(a, b).collect()[0]
    assert d.l2 == round(math.sqrt(3), 6) and d.cosine == 1.0
    # non-finite values excluded from the mean, not poisoning it
    c = spark.createDataFrame(
        [(0, [2.0, float("nan"), 2.0]), (1, [2.0, 2.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    e = centroid_drift(a, c).collect()[0]
    assert e.cosine == 1.0 and e.l2 == 0.0
    # empty increment: no dims survive the inner join -> sums NULL
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    z = centroid_drift(a, empty).collect()[0]
    assert z.n_b == 0 and z.cosine is None


def test_semdedup_survivors_semantics(spark):
    """SemDeDup keep-rule (NeMo Curator variant): drop iff a LOWER-id
    same-cluster member is within eps. Chain a~b~c with a!~c drops
    BOTH b and c (rank rule, stricter than the paper's greedy);
    cross-cluster near-pairs never interact; determinism across
    parallelism levels."""
    import math

    # two well-separated clusters on axes 0 and 1; within cluster 0 a
    # chain v0~v1, v1~v2 with v0!~v2 (angles 0, 25, 50 degrees)
    def vec(axis, deg):
        v = [0.0] * 8
        v[axis] = math.cos(math.radians(deg))
        v[(axis + 2) % 8] = math.sin(math.radians(deg))
        return v

    rows = [
        (0, vec(0, 0.0)),
        (1, vec(0, 25.0)),   # cos(25deg)=0.906 to v0 -> dropped
        (2, vec(0, 50.0)),   # cos(25)=0.906 to v1 (dropped peer) -> rank rule drops it too
        (3, vec(1, 0.0)),    # other cluster, alone
        (4, vec(1, 25.0)),   # ~v3 -> dropped
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    centroids = [vec(0, 25.0), vec(1, 10.0)]
    out = {
        (r.vec_id, r.cluster_id)
        for r in similarity.semdedup_survivors(
            df, centroids, threshold=0.9
        ).collect()
    }
    assert out == {(0, 0), (3, 1)}
    # lowering the threshold below cos(50deg)=0.64 changes nothing here
    # (2 already dropped); raising it above 0.91 keeps everyone
    all_kept = similarity.semdedup_survivors(df, centroids, threshold=0.95)
    assert all_kept.count() == 5
    # determinism across partitioning
    out2 = {
        (r.vec_id, r.cluster_id)
        for r in similarity.semdedup_survivors(
            df.repartition(7), centroids, threshold=0.9
        ).collect()
    }
    assert out2 == out


def test_semdedup_plan_is_cluster_keyed(spark):
    """The candidate join must be keyed on cluster_id (sum of squared
    cluster sizes, the operator's intrinsic cost) — never a cartesian."""
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)],
        "vec_id int, embedding array<double>",
    )
    plan = (
        similarity.semdedup_survivors(df, [[1.0, 0.0], [0.0, 1.0]])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "cluster_id" in plan


def test_label_balance_semantics(spark):
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 1), (4, None)],
        "vec_id int, label int",
    )
    rows = {r.label: r for r in similarity.label_balance(df).collect()}
    assert rows["0"].n == 3 and rows["1"].n == 1
    assert rows["0"].share == 0.6 and rows[None].share == 0.2
    # imbalance over labeled classes only: 3/1, the NULL row excluded
    assert all(r.imbalance_ratio == 3.0 for r in rows.values())


def test_ann_topk_int8_matches_numpy_quantized_scores(spark):
    """The int8 path's scoring contract: score = (int_dot * s_row) *
    s_probe with half-up floor quantization — replayed here in numpy
    with the identical IEEE ops, exact equality (no tolerance)."""
    df, probe_np = _vecs(spark, n_base=60, n_dups=4)
    probe = [float(x) for x in probe_np]
    got = {
        r.vec_id: r.score_q
        for r in similarity.ann_topk_int8(df, probe, k=8).collect()
    }
    rows = {r.vec_id: r.embedding for r in df.collect()}
    ps = max(abs(x) for x in probe) / 127.0
    pq = np.array(
        [math.floor(x / ps + 0.5) for x in probe], dtype=np.int64
    )
    for vid, sq in got.items():
        emb = rows[vid]
        s = max(abs(x) for x in emb) / 127.0
        q = np.array(
            [0 if s == 0.0 else math.floor(x / s + 0.5) for x in emb],
            dtype=np.int64,
        )
        assert sq == (float(int(q @ pq)) * s) * ps


def test_ann_topk_int8_recall_vs_exact(spark):
    """Int8 quantization keeps recall@10 high on the near-dup fixture
    (the standard int8 trade: tiny score perturbation, rank mostly
    preserved — pin >= 0.8 so a broken quantizer fails loudly)."""
    df, probe_np = _vecs(spark)
    probe = [float(x) for x in probe_np]
    exact = {
        r.vec_id
        for r in similarity.cosine_topk(df, probe, k=10).collect()
    }
    quant = {
        r.vec_id
        for r in similarity.ann_topk_int8(df, probe, k=10).collect()
    }
    assert len(exact & quant) >= 8


def test_ann_topk_int8_zero_vector_scores_zero(spark):
    df = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (1, [1.0, 2.0, 3.0])],
        "vec_id bigint, embedding array<double>",
    )
    rows = {
        r.vec_id: r.score_q
        for r in similarity.ann_topk_int8(df, [1.0, 0.0, 0.0], k=5).collect()
    }
    assert rows[0] == 0.0 and rows[1] > 0.0
    # zero PROBE: every score collapses to 0, ties break by id
    ids = [
        r.vec_id
        for r in similarity.ann_topk_int8(df, [0.0, 0.0, 0.0], k=5).collect()
    ]
    assert ids == [0, 1]
