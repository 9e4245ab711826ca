"""Similarity search over embedding columns (array<float>).

Two tiers:

- ``cosine_topk`` — brute-force exact top-k against a probe vector:
  one scan, one projection (fold-based dot product stays JVM-side in
  whole-stage codegen), then a global top-k (orderBy+limit compiles to
  TakeOrderedAndProject — per-partition heaps + driver merge, NO full
  sort/shuffle).
- ``lsh_bucket_topk`` — the scale path: random-hyperplane LSH buckets
  (sign-bit fingerprint from deterministic seeded projections); the
  probe only scans its own bucket. Bucket assignment is a pure
  projection; at 100 TB the bucket column becomes a partition key so
  probes prune to one partition.
- ``embedding_near_dup_pairs`` — blocked pairwise cosine (near-dup
  detection for training-data dedup).

All arithmetic is double-precision fold (`aggregate`/`zip_with`) so
results are engine-portable for oracle checks.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dbl(col: str) -> str:
    return f"transform({col}, x -> cast(x as double))"


def dot_expr(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (s, v) -> s + v)"


def norm_expr(a: str) -> str:
    return f"sqrt(aggregate({a}, 0D, (s, v) -> s + v * v))"


def _py_norm(vec: list[float]) -> float:
    """Driver-side replay of ``norm_expr``: the identical sequential
    left-to-right s + v*v fold and sqrt over binary64, so a literal
    array's norm folds to the BIT-IDENTICAL double the in-plan
    ``sqrt(aggregate(...))`` would produce — hoisting a constant
    centroid/probe norm out of a per-row (or per-pair) expression can
    then never change a cosine."""
    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def _lit_arr(vec: list[float]) -> str:
    return "array(" + ",".join(f"{float(x)!r}D" for x in vec) + ")"


def cosine_topk(
    df: DataFrame,
    probe: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine against a literal probe vector.
    (id, cos_sim) ordered desc, ties broken by id for determinism.

    The probe's norm is a constant — folded driver-side (bit-identical
    replay of the SQL fold, see :func:`_py_norm`) — and the row vector
    is cast + normed ONCE via bind1 instead of once per sub-expression,
    so the per-row cost is one cast + one dot + one norm fold. Same
    IEEE ops in the same order as the inline dot / (norm * norm), so every
    cos_sim is unchanged to the bit."""
    from ocsf_validator_spark.pipeline.decontam import bind1

    pv = [float(v) for v in probe]
    cos = bind1(
        bind1(
            f"({dot_expr('vv', _lit_arr(pv))} / (nn * {_py_norm(pv)!r}D))",
            norm_expr("vv"),
            "nn",
        ),
        _dbl(vec_col),
        "vv",
    )
    scored = df.select(F.col(id_col), F.expr(cos).alias("cos_sim"))
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def hyperplane_components(
    dim: int = 64, n_planes: int = 8, seed: int = 42
) -> list[list[float]]:
    """The ``n_planes × dim`` random-hyperplane components, computed
    DRIVER-SIDE with hashlib: component (p, i) =
    md5(f"{seed}_{p}_{i}") first-8-hex-digits / 2^32 − 0.5 — the exact
    value the previous in-plan SQL derivation produced
    (``conv(substring(md5(concat(seed,'_',p,'_',i)),1,8),16,10)``), so
    every oracle that replays the md5 derivation in SQL is untouched.
    Division by 2^32 and the 0.5 shift are exact in binary64, hence
    bit-identical across Python, Spark, and DuckDB."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{seed}_{p}_{i}".encode()).hexdigest()[:8], 16)
            / 4294967296.0
            - 0.5
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


def hyperplane_bucket_col(
    vec_col: str = "embedding", dim: int = 64, n_planes: int = 8, seed: int = 42
) -> Column:
    """Random-hyperplane LSH bucket id in [0, 2^n_planes): sign bits of
    dot products with ``n_planes`` deterministic pseudo-random planes.
    Planes are row-independent CONSTANTS, so they are precomputed on the
    driver and embedded as array literals — the per-row cost is
    n_planes fold dot products (the earlier in-plan md5 derivation
    hashed dim × n_planes times PER ROW because the lambda variable
    blocked constant folding — 512 md5 calls/row at the defaults).
    ``n_planes=0`` puts every row in bucket 0 (the exact/no-blocking
    degenerate case, useful as a brute-force baseline)."""
    if n_planes == 0:
        return F.lit(0).cast("int")
    # bind-once: the Column-API formulation referenced the cast vector
    # expression once PER PLANE (n_planes casts + allocations per row);
    # binding it as a lambda variable evaluates it once. Identical fold
    # and left-to-right sum of the same per-plane terms — bit-identical
    # buckets.
    from ocsf_validator_spark.pipeline.decontam import bind1

    terms = [
        f"(case when {dot_expr('vv', _lit_arr(comps))} > 0D "
        f"then {1 << p} else 0 end)"
        for p, comps in enumerate(hyperplane_components(dim, n_planes, seed))
    ]
    body = "cast((" + " + ".join(terms) + ") as int)"
    return F.expr(bind1(body, _dbl(vec_col), "vv"))


def hyperplane_bucket_py(
    vec: list[float], dim: int = 64, n_planes: int = 8, seed: int = 42
) -> int:
    """Bucket id of one vector, computed in plain Python — the driver's
    probe never needs a Spark job. The fold is a sequential
    left-to-right sum, matching the engine's ``aggregate`` fold order,
    so the bucket is bit-identical to hyperplane_bucket_col."""
    if n_planes == 0:
        return 0
    bucket = 0
    for p, comps in enumerate(hyperplane_components(dim, n_planes, seed)):
        acc = 0.0
        for x, y in zip([float(v) for v in vec], comps):
            acc += x * y
        if acc > 0:
            bucket |= 1 << p
    return bucket


def lsh_bucket_topk(
    df: DataFrame,
    probe: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only rows sharing the probe's LSH bucket
    in AT LEAST ONE of ``n_tables`` independent hash tables (per-table
    miss probability multiplies: recall = 1-(1-p)^T). One scan with an
    OR-of-buckets predicate; at scale each table's bucket is a partition
    key → a probe touches ~T/2^n_planes of the data."""
    seeds = [seed + t for t in range(n_tables)]
    pred = None
    for s in seeds:
        # probe's bucket is a pure driver-side dot product — no Spark job
        leg = hyperplane_bucket_col(vec_col, dim, n_planes, s) == int(
            hyperplane_bucket_py(probe, dim, n_planes, s)
        )
        pred = leg if pred is None else (pred | leg)
    return cosine_topk(df.filter(pred), probe, k, vec_col, id_col)


def ivf_assign_col(
    centroids: list[list[float]], vec_col: str = "embedding"
) -> Column:
    """IVF coarse-quantizer assignment: index (0-based) of the nearest
    centroid by cosine — pure column algebra over centroid literals
    (k is small, so the k dot products inline into one projection).
    At scale this column is the table's partition key.

    Bind-once discipline: the row vector is cast ONCE and its norm
    folded ONCE (the inline dot / (norm * norm) re-cast and re-normed the row
    per CENTROID — 4·k·d work per row where k·d + 2·d suffices), the
    centroid norms fold driver-side (:func:`_py_norm`, bit-identical
    to the SQL fold), and the sims array binds once so the
    argmax/array_position pair can't re-evaluate it. Identical IEEE
    ops in the original order — every cosine, hence every assignment,
    is unchanged."""
    from ocsf_validator_spark.pipeline.decontam import bind1

    sims = (
        "array("
        + ",".join(
            f"({dot_expr('vv', _lit_arr(c))} / (nn * {_py_norm(c)!r}D))"
            for c in centroids
        )
        + ")"
    )
    body = bind1(
        bind1(
            bind1(
                "cast(array_position(ss, array_max(ss)) - 1 as int)",
                sims,
                "ss",
            ),
            norm_expr("vv"),
            "nn",
        ),
        _dbl(vec_col),
        "vv",
    )
    return F.expr(body)


def ivf_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Deterministic coarse centroids: the n_centroids rows with the
    smallest md5-prefix hash of the id — a seeded uniform sample,
    reproducible at any parallelism AND in any engine (the md5 keying
    lets a DuckDB oracle replay the exact centroid choice; a k-means
    refinement can replace this without changing the query shape)."""
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    rows = (
        df.select(id_col, vec_col)
        .orderBy(h, F.col(id_col))
        .limit(n_centroids)
        .collect()
    )
    return [[float(x) for x in r[vec_col]] for r in rows]


def kmeans_refine(
    df: DataFrame,
    centroids: list[list[float]],
    iters: int = 2,
    sample_n: int = 1024,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Lloyd refinement of IVF coarse centroids — deterministic at any
    parallelism.

    A hash-sampled centroid set (ivf_centroids) gives poor recall on
    CLUSTERED real embeddings (random points rarely sit near modes);
    a few Lloyd iterations fix that without changing the query shape —
    the refined centroids feed ivf_assign_col as literals exactly like
    the unrefined ones.

    Determinism: the refinement runs DRIVER-SIDE over a bounded sample
    (the ``sample_n`` md5-smallest ids — same seeded-sample trick as
    ivf_centroids, reproducible at any cluster size), with numpy argmax
    assignment matching ivf_assign_col's first-max tie rule. An empty
    cluster keeps its previous centroid. Cross-engine oracle replay of
    iterated float MEANS is brittle (summation-order sensitivity), so
    the refined path is pytest-verified for recall (vs brute force on a
    clustered fixture) rather than DuckDB-replayed; the driver-contract
    ivf_topk query stays on the md5-replayable unrefined centroids."""
    import numpy as np

    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    rows = (
        df.select(id_col, vec_col)
        .orderBy(h, F.col(id_col))
        .limit(sample_n)
        .collect()
    )
    X = np.asarray(
        [[float(x) for x in r[vec_col]] for r in rows], dtype="float64"
    )
    C = np.asarray(centroids, dtype="float64")
    xn = np.linalg.norm(X, axis=1)
    xn[xn == 0] = 1.0
    for _ in range(max(iters, 0)):
        cn = np.linalg.norm(C, axis=1)
        cn[cn == 0] = 1.0
        sims = (X @ C.T) / np.outer(xn, cn)
        assign = np.argmax(sims, axis=1)
        C = np.asarray(
            [
                X[assign == j].mean(axis=0) if np.any(assign == j) else C[j]
                for j in range(len(C))
            ]
        )
    return [[float(x) for x in c] for c in C]


def ivf_topk(
    df: DataFrame,
    probe: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    nprobe: int = 4,
    centroids: list[list[float]] | None = None,
    refine_iters: int = 0,
) -> DataFrame:
    """IVF-flat approximate top-k: score only rows assigned to the
    probe's ``nprobe`` nearest coarse centroids — the inverted-file
    counterpart of lsh_bucket_topk (a probe touches ~nprobe/n_centroids
    of the data; with the assignment as partition key, that is
    partition pruning, not a filter scan).

    ``refine_iters > 0`` runs that many deterministic Lloyd iterations
    (kmeans_refine) over the coarse sample before assignment — better
    recall on clustered data, same plan shape."""
    import numpy as np

    cents = centroids or ivf_centroids(df, n_centroids, vec_col, id_col)
    if refine_iters > 0 and centroids is None:
        cents = kmeans_refine(
            df, cents, iters=refine_iters, vec_col=vec_col, id_col=id_col
        )
    c = np.asarray(cents, dtype="float64")
    p = np.asarray(probe, dtype="float64")
    sims = (c @ p) / (np.linalg.norm(c, axis=1) * np.linalg.norm(p))
    probe_lists = [int(i) for i in np.argsort(-sims)[:nprobe]]
    assigned = ivf_assign_col(cents, vec_col)
    return cosine_topk(
        df.filter(assigned.isin(probe_lists)), probe, k, vec_col, id_col
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    block_cols: tuple[str, ...] = (),
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 2,
    seed: int = 42,
) -> DataFrame:
    """(a_id, b_id, cos_sim) pairs above ``threshold`` — embedding-cosine
    near-duplicate detection.

    The default block is the random-hyperplane LSH bucket (union over
    ``n_tables`` independent tables for recall), NOT a data column: a
    column block (e.g. one giant `label` group) makes the self-join
    quadratic inside the block, while 2^n_planes buckets keep every
    block ~n/2^n_planes regardless of label skew. ``block_cols`` adds
    exact equality keys on top (pairs must also agree on those)."""
    # the base projection feeds both sides of every table's self-join —
    # 2 x n_tables scans of the (wide) vector table without lineage
    # truncation; bucket assignment stays lazy so each leg's plane set
    # computes from the cached vectors
    # vectors pre-cast to double and normed ONCE per row (the per-pair
    # cosine then pays only the dot fold; same product order, so every
    # cos_sim is bit-identical — the semdedup bind-once discipline)
    base = df.select(
        *block_cols,
        F.col(id_col),
        F.expr(_dbl(vec_col)).alias("_v"),
        F.expr(norm_expr(_dbl(vec_col))).alias("_n"),
    ).localCheckpoint(eager=False)
    legs = []
    for t in range(n_tables):
        bucket = hyperplane_bucket_col("_v", dim, n_planes, seed + t)
        keyed = base.select(
            bucket.alias("_bucket"),
            *block_cols,
            F.col(id_col),
            F.col("_v"),
            F.col("_n"),
        )
        a = keyed.select(
            "_bucket",
            *block_cols,
            F.col(id_col).alias("a_id"),
            F.col("_v").alias("_va"),
            F.col("_n").alias("_na"),
        )
        b = keyed.select(
            "_bucket",
            *block_cols,
            F.col(id_col).alias("b_id"),
            F.col("_v").alias("_vb"),
            F.col("_n").alias("_nb"),
        )
        legs.append(
            a.join(b, ["_bucket", *block_cols])
            .filter(F.col("a_id") < F.col("b_id"))
            .select(
                "a_id",
                "b_id",
                F.expr(f"({dot_expr('_va', '_vb')} / (_na * _nb))").alias(
                    "cos_sim"
                ),
            )
            .filter(F.col("cos_sim") >= threshold)
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.distinct() if n_tables > 1 else out


def semdedup_survivors(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with a frozen coarse
    quantizer, then within each cluster drop every item whose cosine
    to a LOWER-id item reaches ``threshold``. Returns the survivor set
    ``(id_col, cluster_id)``.

    Keep-rule semantics: this is the production restatement (NVIDIA
    NeMo Curator's semdedup does exactly this — drop item i iff its
    max cosine to any earlier-ranked cluster member exceeds eps, with
    the id as the ranking), NOT the paper's sequential greedy; the two
    differ only on chains a~b~c where a!~c (greedy re-keeps c, the
    rank rule drops it — a strictly more aggressive dedup). The rule
    is order-free, so the result is deterministic at any parallelism
    and DuckDB-replayable.

    Scale shape (100 TB): assignment is pure column algebra over
    centroid literals (k dot products inlined into one projection — no
    shuffle, no UDF); the only exchange is the self-join keyed on
    cluster_id, whose cost is sum(|cluster|^2) — the operator's
    intrinsic cost in every implementation. Size the codebook like the
    paper (k ~ sqrt(N), e.g. 100k clusters at 10^10 docs) so clusters
    stay ~sqrt(N); AQE's skew-join split handles a hot cluster, and a
    pathological one is sub-blockable with hyperplane_bucket_col as an
    extra join key (recall trade documented there). Vectors cross the
    exchange once per side; the dropped-id set is
    duplication-proportional and broadcasts back for the anti join.
    """
    # bind-once discipline: cast to double and fold each vector's norm
    # ONCE per ROW before the self-join — the inline per-PAIR cosine
    # paid cast + dot + two norm folds per pair (4·d where d suffices).
    # The pair expression divides the dot by the SAME (norm_a * norm_b)
    # product in the same order, so every cosine — and the survivor
    # set — is bit-identical.
    asg = df.select(
        F.col(id_col),
        F.expr(_dbl(vec_col)).alias("_v"),
        ivf_assign_col(centroids, vec_col).alias("cluster_id"),
    ).withColumn("_n", F.expr(norm_expr("_v")))
    a = asg.select(
        "cluster_id",
        F.col(id_col).alias("a_id"),
        F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
    )
    b = asg.select(
        "cluster_id",
        F.col(id_col).alias("b_id"),
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    dropped = (
        a.join(b, "cluster_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(
            F.expr(f"({dot_expr('_va', '_vb')} / (_na * _nb))")
            >= F.lit(float(threshold))
        )
        .select(F.col("b_id").alias(id_col))
        .distinct()
    )
    return asg.join(dropped, id_col, "anti").select(id_col, "cluster_id")


def label_centroid_outliers(
    df: DataFrame,
    emb_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """Embedding-quality audit: the ``k`` vectors per label FARTHEST
    (lowest cosine) from their label's centroid — the standard
    mislabeled/contaminated-example screen run before a labeled
    embedding set is used for training or as ANN ground truth.

    Scale shape (100 TB): the centroid reduction is one
    ``posexplode`` + partial-aggregating ``groupBy(label, dim)`` —
    map-side combine collapses each partition's vectors into
    labels x dims partial sums, so the exchange carries
    ``n_partitions x labels x dims`` fixed-width rows, never vectors.
    The tiny (labels x dims) centroid table re-assembles into one
    array per label and BROADCASTS back; scoring is a scan-speed
    fold-based cosine projection; the per-label top-k is one
    ``row_number`` window over the label-partitioned scores.

    Cross-engine determinism: per-dimension sums accumulate in
    ``decimal(21, 10)`` — exact, order-independent — so the centroid is
    bit-identical no matter how Spark (or the DuckDB oracle) orders the
    rows; the cosine is rounded to 5 dp for the ranking with ``id_col``
    ascending as tie-break (the ann_topk_cosine precision contract).
    """
    dims = (
        df.select(
            F.col(label_col),
            F.posexplode(F.expr(_dbl(emb_col))).alias("_pos", "_val"),
        )
        .groupBy(label_col, "_pos")
        .agg(
            F.sum(F.expr("cast(_val as decimal(21, 10))")).alias("_s"),
            F.count(F.lit(1)).alias("_c"),
        )
    )
    centroids = dims.groupBy(label_col).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(_pos, "
            "cast(_s as double) / cast(_c as double) as _cd))), t -> t._cd)"
        ).alias("_cvec")
    )
    w = Window.partitionBy(label_col).orderBy(
        F.col("cos_sim").asc(), F.col(id_col).asc()
    )
    # the centroid's norm folds ONCE per label on the broadcast side,
    # and the row vector is cast + normed once via bind1 (the inline
    # cosine paid cast + dot + two norm folds per row); same divide-by-
    # (row_norm * centroid_norm) order, so every rounded cos_sim is
    # unchanged
    from ocsf_validator_spark.pipeline.decontam import bind1

    cents = centroids.withColumn("_cn", F.expr(norm_expr("_cvec")))
    cos = bind1(
        bind1(
            f"({dot_expr('vv', '_cvec')} / (nn * _cn))",
            norm_expr("vv"),
            "nn",
        ),
        _dbl(emb_col),
        "vv",
    )
    return (
        df.join(F.broadcast(cents), label_col)
        .select(
            F.col(label_col),
            F.col(id_col),
            F.round(F.expr(cos), 5).alias("cos_sim"),
        )
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(label_col, id_col, "cos_sim")
        .orderBy(label_col, id_col)
    )


def embedding_health(
    df: DataFrame,
    emb_col: str = "embedding",
) -> DataFrame:
    """Embedding-table QA: per-DIMENSION health statistics — the screen
    run before a vector table is trusted for ANN or training. A dead
    dimension (mean_abs ~ 0: the encoder collapsed it), a saturated one
    (|min|/|max| at the clip boundary), or any non-finite leakage
    (NaN/inf from a failed encode) all surface as one bad row here,
    invisible to per-vector norms alone.

    Scale shape: one posexplode + partial-aggregating groupBy(dim) —
    map-side combine collapses each partition to n_dims fixed-width
    partial rows, so the exchange carries n_partitions x dims rows,
    never vectors (the label_centroid_outliers reduction without the
    label key). Cross-engine determinism: values are PRE-ROUNDED to
    7 dp (float32 carries ~7 significant digits, so nothing real is
    lost) so the double->decimal cast is tie-free — a raw float64 cast
    to decimal(_, 10) rounds its 10th decimal differently across
    engines (caught by the gate: one value in 500 flipped the sum by
    1e-10); sums then accumulate in decimal(21,7) (exact,
    order-independent — the centroid trick), means are one double
    division off the exact sums rounded to 6 dp (the tfidf precision
    contract); abs() instead of squares so no decimal multiply can
    overflow precision. Non-finite values are counted but excluded
    from sums/means/min/max (and from the decimal cast, which ANSI
    mode would throw on for NaN).

    Returns (dim, n_finite, n_nonfinite, mean, mean_abs, min_val,
    max_val) ordered by dim; mean/mean_abs NULL for an all-non-finite
    dimension. NULL embeddings contribute nothing (posexplode skips).
    """
    val = F.col("_val")
    inf = float("inf")
    finite = ~F.isnan(val) & (val > -inf) & (val < inf)
    n_fin = F.count(F.when(finite, F.lit(1)))
    dec = "cast(round({x}, 7) as decimal(21, 7))"
    return (
        df.select(F.posexplode(F.expr(_dbl(emb_col))).alias("_pos", "_val"))
        .groupBy("_pos")
        .agg(
            n_fin.alias("n_finite"),
            F.count(F.when(~finite, F.lit(1))).alias("n_nonfinite"),
            F.round(
                F.when(
                    n_fin > 0,
                    F.sum(
                        F.when(finite, F.expr(dec.format(x="_val")))
                    ).cast("double")
                    / n_fin,
                ),
                6,
            ).alias("mean"),
            F.round(
                F.when(
                    n_fin > 0,
                    F.sum(
                        F.when(finite, F.expr(dec.format(x="abs(_val)")))
                    ).cast("double")
                    / n_fin,
                ),
                6,
            ).alias("mean_abs"),
            F.min(F.when(finite, val)).alias("min_val"),
            F.max(F.when(finite, val)).alias("max_val"),
        )
        .select(
            F.col("_pos").alias("dim"),
            "n_finite",
            "n_nonfinite",
            "mean",
            "mean_abs",
            "min_val",
            "max_val",
        )
        .orderBy("dim")
    )


def centroid_drift(
    df_a: DataFrame, df_b: DataFrame, emb_col: str = "embedding"
) -> DataFrame:
    """Embedding-table drift gate: cosine and L2 distance between the
    MEAN VECTORS of two embedding populations — the vector analogue of
    the scalar increment-drift PSI (an encoder regression or a
    distribution shift in today's append moves the increment centroid
    long before any per-vector check fires; run before trusting an
    append into the ANN index).

    Each side is one posexplode + partial-agg groupBy(dim) with the
    embedding_health determinism contract (values pre-rounded 7 dp so
    the decimal cast is tie-free, sums exact in decimal(21,7),
    non-finite values excluded); the two dims-sized frames broadcast-
    join, per-dim products pre-round 7 dp into decimal terms (the X37
    entropy pattern), and the final cosine/L2 are single IEEE ops off
    exact decimal aggregates rounded 6 dp. Degenerate all-zero
    centroids yield NULL cosine (try_divide).

    Returns one row: (n_a, n_b, cosine, l2).
    """
    dec = "cast(round({x}, 7) as decimal(21, 7))"

    def _means(df: DataFrame, tag: str) -> DataFrame:
        vals = df.filter(F.col(emb_col).isNotNull()).select(
            F.posexplode(F.expr(_dbl(emb_col))).alias("_pos", "_val")
        )
        fin = (
            ~F.isnan("_val")
            & (F.col("_val") > float("-inf"))
            & (F.col("_val") < float("inf"))
        )
        return vals.groupBy("_pos").agg(
            F.round(
                F.sum(
                    F.when(fin, F.expr(dec.format(x="_val")))
                ).cast("double")
                / F.count(F.when(fin, F.lit(1))),
                7,
            ).alias(f"m_{tag}")
        )
    na = (
        df_a.filter(F.col(emb_col).isNotNull())
        .agg(F.count(F.lit(1)).alias("n_a"))
    )
    nb = (
        df_b.filter(F.col(emb_col).isNotNull())
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    j = _means(df_a, "a").join(F.broadcast(_means(df_b, "b")), "_pos")
    terms = j.select(
        F.expr(dec.format(x="m_a * m_b")).alias("_dot"),
        F.expr(dec.format(x="m_a * m_a")).alias("_a2"),
        F.expr(dec.format(x="m_b * m_b")).alias("_b2"),
        F.expr(dec.format(x="(m_a - m_b) * (m_a - m_b)")).alias("_d2"),
    ).agg(
        F.sum("_dot").cast("double").alias("dot"),
        F.sum("_a2").cast("double").alias("a2"),
        F.sum("_b2").cast("double").alias("b2"),
        F.sum("_d2").cast("double").alias("d2"),
    )
    return (
        terms.crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            "n_a",
            "n_b",
            F.round(
                F.try_divide(
                    F.col("dot"), F.sqrt(F.col("a2") * F.col("b2"))
                ),
                6,
            ).alias("cosine"),
            F.round(F.sqrt("d2"), 6).alias("l2"),
        )
    )


def label_balance(
    df: DataFrame, label_col: str = "label", id_col: str = "vec_id"
) -> DataFrame:
    """Label-balance audit for a labeled embedding table: per-label
    count, exact share, and the global imbalance ratio (majority n /
    minority n) stamped on every row — the screen run before the
    labels feed a classifier head or an ANN ground-truth split (a 50:1
    skew silently turns accuracy into the majority-class prior).

    One partial-agg scan to |labels| rows; the share divides exact
    longs (bit-deterministic); the imbalance ratio rides a single
    window over the tiny label table (one partition of |labels| rows —
    never the data). NULL labels are counted as their own 'unlabeled'
    row but excluded from the imbalance ratio (missingness is
    null_rate's job, not a class)."""
    counts = df.groupBy(F.col(label_col).cast("string").alias("label")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy(F.lit(1))
    labeled_n = F.max(
        F.when(F.col("label").isNotNull(), F.col("n"))
    ).over(w)
    labeled_min = F.min(
        F.when(F.col("label").isNotNull(), F.col("n"))
    ).over(w)
    total = F.sum("n").over(w)
    return counts.select(
        "label",
        "n",
        F.round(F.col("n") / total, 6).alias("share"),
        F.round(labeled_n / labeled_min, 6).alias("imbalance_ratio"),
    )


def int8_scale_expr(vec_dbl: str) -> str:
    """Per-vector symmetric int8 scale: max|x| / 127 (0.0 for the zero
    vector — its quantized form is all zeros either way)."""
    return f"(array_max(transform({vec_dbl}, x -> abs(x))) / 127.0D)"


def int8_quant_expr(vec_dbl: str, scale: str) -> str:
    """Quantized int64 component array: floor(x/scale + 0.5) — explicit
    half-up rounding, identical in every engine (cast-to-int truncation
    and banker's rounding both vary; floor does not). Zero scale maps
    to all-zero components."""
    return (
        f"transform({vec_dbl}, x -> cast(CASE WHEN {scale} = 0.0D THEN 0.0D "
        f"ELSE floor(x / {scale} + 0.5D) END as bigint))"
    )


def ann_topk_int8(
    df: DataFrame,
    probe: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by int8-quantized dot product with exact rescale — the
    memory-quantization path for ANN at scale: the stored table shrinks
    4x (int8 vs float32; here int64 components stand in for the storage
    type, the ARITHMETIC contract is what matters), scan bandwidth
    drops with it, and the scoring stays engine-exact: the quantized
    dot product is INTEGER math (bit-exact at any parallelism, any
    engine), and the only floats are the two per-vector scales applied
    once per pair in fixed order: score = (dot_q * scale_a) * scale_b.

    Quantization: symmetric per-vector max-abs (scale = max|x|/127),
    half-up rounding via explicit floor(x/s + 0.5) — truncation and
    banker's rounding differ across engines; floor does not. The probe
    is quantized DRIVER-side with the same formula (same IEEE ops, same
    values). Recall loss vs exact cosine is the standard int8 trade
    (pytest pins it on the synthetic table); rank ties break by id."""
    import math

    pd_ = [float(x) for x in probe]
    pmax = max((abs(x) for x in pd_), default=0.0)
    ps = pmax / 127.0
    pq = [
        0 if ps == 0.0 else int(math.floor(x / ps + 0.5)) for x in pd_
    ]
    v = _dbl(vec_col)
    s = int8_scale_expr(v)
    pq_lit = "array(" + ",".join(f"{x}L" for x in pq) + ")"
    # hoist the vector and its scale into REAL columns first: Catalyst
    # does not lift subexpressions out of higher-order-function lambdas,
    # so the textual scale expression embedded in the per-element
    # quantizer would re-run the whole-vector max-abs scan per
    # COMPONENT — O(d^2) per row (the bind-once discipline, BENCH.md
    # lambda-binding addendum). Same ops, same values.
    base = df.select(
        F.col(id_col),
        F.expr(v).alias("_v"),
        F.expr(s).alias("_s"),
    )
    q_col = int8_quant_expr("_v", "_s")
    dot_q = (
        f"aggregate(zip_with({q_col}, {pq_lit}, (x, y) -> x * y), 0L, "
        f"(acc, v2) -> acc + v2)"
    )
    score = F.expr(f"((cast({dot_q} as double) * _s) * {float(ps)}D)")
    scored = base.select(F.col(id_col), score.alias("score_q"))
    return scored.orderBy(
        F.col("score_q").desc(), F.col(id_col)
    ).limit(k)
