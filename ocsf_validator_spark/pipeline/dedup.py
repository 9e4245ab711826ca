"""Deduplication operators: exact, shingle-Jaccard, MinHash+LSH, SimHash.

Scale notes (the 100 TB design point):

- **Exact** dedup is one groupBy on a hash of the text — map-side partial
  aggregation keeps the shuffle proportional to distinct texts, and the
  second join is a semi-join against only the offending keys.
- **MinHash+LSH** replaces the O(n²) pairwise comparison with a
  signature groupBy: candidate pairs only materialize for documents that
  collide in at least one band. Shingles (word k-grams) are built with
  `transform(sequence(...))` — pure column algebra, one scan, no
  explode until the signature aggregation.
- **SimHash** is a single projection (nested `aggregate` over the token
  array), no shuffle at all; near-dup candidates come from banding the
  16-bit fingerprint.
- All hash functions are md5-prefix based (not xxhash64) so every
  result is reproducible in any engine for oracle verification; swap
  `_HASH_FMT` for xxhash64 when oracle parity is not needed (xxhash64 is
  ~3× faster, same plan shape).

Reference parity: the reference's collision detection is
validate_intra_type_collisions (reference validators.py:236-262) —
exact dedup generalizes it from (type, name) keys to content keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocsf_validator_spark.localframe import empty_df, local_df

# md5-prefix → bigint; engine-portable (DuckDB: ('0x'||substr(md5(x),1,8))::BIGINT)
_MD5_HASH = "cast(conv(substring(md5({x}), 1, 8), 16, 10) as bigint)"


def exact_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    verify: bool = False,
) -> DataFrame:
    """(id, keep_id) for every row whose ``text_col`` duplicates an
    earlier (min-id) row.

    The raw document body NEVER crosses an exchange: grouping and the
    join back key on (xxhash64(text), xxhash64(1, text), length(text)) —
    a 128-bit content key computed map-side, so the shuffle carries 20
    bytes per row instead of full texts. At 10^12 docs the chance of any
    128-bit collision is ~1e-15; ``verify=True`` adds a belt-and-braces
    text-equality recheck of the survivor pairs via broadcast joins
    (only sensible when the duplicate set is broadcast-small).

    Oracle-parity note: the DuckDB oracle groups by the RAW text, so the
    correctness gate relies on collision-freeness of the 128-bit key —
    a deliberate trade (adversarial xxhash64 collisions would diverge;
    turn on ``verify`` when that matters more than the shuffle width)."""
    key = [
        F.xxhash64(F.col(text_col)).alias("_h1"),
        F.xxhash64(F.lit(1), F.col(text_col)).alias("_h2"),
        F.length(F.col(text_col)).alias("_len"),
    ]
    keyed = df.select(F.col(id_col), *key)
    canon = (
        keyed.groupBy("_h1", "_h2", "_len")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .drop("_n")
    )
    pairs = (
        keyed.join(canon, ["_h1", "_h2", "_len"])
        .filter(F.col(id_col) != F.col("keep_id"))
        .select(F.col(id_col), F.col("keep_id"))
    )
    if not verify:
        return pairs
    left = df.select(F.col(id_col), F.col(text_col).alias("_ta"))
    right = df.select(
        F.col(id_col).alias("keep_id"), F.col(text_col).alias("_tb")
    )
    return (
        left.join(F.broadcast(pairs), id_col)
        .join(right, "keep_id")
        .filter(F.col("_ta") == F.col("_tb"))
        .select(F.col(id_col), F.col("keep_id"))
    )


def shingle_col(text_col: str = "text", k: int = 5):
    """Distinct word k-gram shingles as an array column — built with
    sequence+transform (no explode, stays in one projection). Token
    array bound once via decontam.bind1 (never re-split per shingle)."""
    from ocsf_validator_spark.pipeline.decontam import bind1

    body = (
        f"array_distinct(transform(sequence(1, greatest(size(tk) - {k - 1}, 1)),"
        f" j -> concat_ws(' ', slice(tk, j, {k}))))"
    )
    return F.expr(bind1(body, f"split({text_col}, ' ')", "tk"))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    k: int = 5,
) -> DataFrame:
    """(id, m0..m{n-1}) MinHash signature over word k-gram shingles.

    One explode + one groupBy(id): the shuffle carries (id, shingle)
    pairs; all n_hashes mins aggregate in the same pass (map-side
    partial min per hash).

    Hash family: hash i = 32-bit word (i % 4) of md5(shingle # i//4) —
    one md5 yields FOUR independent uniform words, so 8 hash functions
    cost 2 md5 evaluations per shingle instead of 8 (md5 is ~all of the
    signature cost; measured 4.3s → 1.9s warm on 500k sf0.1 docs).
    Portable: DuckDB replays it as substr(md5(...), 1+8*(i%4), 8)."""
    sh = df.select(
        F.col(id_col), F.explode(shingle_col(text_col, k)).alias("_sh")
    )
    aggs = [
        F.min(
            F.expr(
                f"cast(conv(substring(md5(concat(_sh, '#', {i // 4})), "
                f"{1 + 8 * (i % 4)}, 8), 16, 10) as bigint)"
            )
        ).alias(f"m{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    sig: DataFrame, id_col: str = "doc_id", n_hashes: int = 8, band_size: int = 2
) -> DataFrame:
    """Distinct (a_id, b_id) pairs colliding in ≥1 LSH band.

    Formulation: explode each signature into (band_no, band_key) rows,
    groupBy(band, key) collecting the sorted member-id list, keep only
    keys with ≥2 members, and emit the pairwise combinations of each
    list with a nested transform (i < j over the sorted array, so
    a_id < b_id by construction). ONE consumer of the signature
    aggregation — the expensive shingle-explode + groupBy(id) subtree
    runs exactly once (the round-2 self-join variant computed it twice:
    the two join sides' exchanges did not canonicalize to one
    ReusedExchange, a measured 2× regression) — and one shuffle of
    (band, key, id). Output stays proportional to collisions; a hot
    band key yields the same O(m²) pairs either way, but the list for
    one key must fit an executor (LSH bands are sized to keep buckets
    small — if a corpus has a mega-bucket, the band is too coarse).

    Object-agg caveat: collect_list plans as ObjectHashAggregateExec,
    which falls back to SORT-BASED aggregation once a task exceeds
    ``spark.sql.objectHashAggregate.sortBased.fallbackThreshold``
    in-memory groups (default 128) — and (band, key) group count is
    n_docs × n_bands, so the fallback ALWAYS engages at scale. Unlike
    the high-cardinality stats-scan pathology this repo engineered
    around (stats.bucketed_probe_stats), that is acceptable HERE:
    sort-based object agg ≈ the sort the pair self-join formulation
    paid anyway, and each group is touched once (no multi-pass
    re-probe). Measured at sf0.1 (500k docs, local[32], warm medians):
    4.89s with the default threshold (fallback engaged) vs 4.60s with
    the threshold raised to 1M (pure hash path) — 6%, inside the run
    spread. Raise the threshold per-job only if profiling shows the
    sort dominating; it trades executor heap for the sort."""
    ex = _band_rows(sig, id_col, n_hashes, band_size)
    members = (
        ex.groupBy("_band", "_key")
        .agg(F.array_sort(F.collect_list(id_col)).alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    pairs = F.expr(
        "flatten(transform(_ids, (a, i) -> "
        "transform(slice(_ids, i + 2, size(_ids)), b -> struct(a, b))))"
    )
    return (
        members.select(F.explode(pairs).alias("_p"))
        .select(F.col("_p.a").alias("a_id"), F.col("_p.b").alias("b_id"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    src: str = "a_id",
    dst: str = "b_id",
    max_iters: int = 25,
    small_graph_max: int = 500_000,
) -> DataFrame:
    """Duplicate-CLUSTER resolution over a near-dup pair graph
    (LSH/Jaccard/embedding pairs): connected components by min-label
    propagation. Returns (doc_id, canonical_id) for every doc that
    appears in at least one pair, where canonical_id is the smallest
    doc id in its component — the pipeline convention "keep the
    smallest id, drop the rest" (see drop_duplicate_docs).

    DETERMINISTIC: the fixpoint label of a node is min(id) over its
    component — schedule- and partitioning-independent, which is what
    makes the result exactly replayable by a recursive-CTE oracle.

    Each round is one join (edge messages) + one min-aggregation, with
    an EAGER localCheckpoint to cut the growing lineage (without it,
    iteration i replays all prior joins and the plan grows
    exponentially). Rounds needed = component DIAMETER, and near-dup
    clusters are dense blobs with tiny diameters (a pair generator
    emits most in-cluster edges directly), so this converges in a
    handful of rounds on real corpora; a graph with adversarially long
    chains would want the O(log n)-round large-star/small-star
    alternating algorithm instead — same output contract.
    ``max_iters`` is the backstop; hitting it raises rather than
    silently emitting half-merged clusters.

    Small-graph fast path: near-dup pair sets are COLLISION-proportional
    (pairs exist only where duplicates exist), so the common case is a
    graph that fits the driver easily. Up to 500k pairs (a few tens of
    MB transient) the edges are collected ONCE (Arrow) and resolved
    with union-find — the identical min-id-per-component labels, zero
    iteration jobs, no per-round convergence counts. Beyond
    ``small_graph_max`` pairs the distributed propagation below takes
    over unchanged (set it to 0 to force that path, e.g. to exercise
    the convergence backstop). One bounded collect decides the path and
    is the small path's input: ``limit(small_graph_max + 1)`` of the
    edges, one job. Only the distributed path stores the edges."""
    base = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    tb = base.limit(small_graph_max + 1).toArrow()
    if tb.num_rows <= small_graph_max:
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for u, v in zip(
            tb.column("u").to_pylist(), tb.column("v").to_pylist()
        ):
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[rv] = ru
        nodes = set(tb.column("u").to_pylist())
        nodes.update(tb.column("v").to_pylist())
        comp_min: dict = {}
        for n in nodes:
            r = find(n)
            if r not in comp_min or n < comp_min[r]:
                comp_min[r] = n
        dt = base.schema["u"].dataType
        schema = T.StructType(
            [T.StructField("doc_id", dt), T.StructField("canonical_id", dt)]
        )
        return local_df(pairs.sparkSession, 
            [(n, comp_min[find(n)]) for n in sorted(nodes)], schema
        )
    edges = base.localCheckpoint(eager=True)
    edges = (
        edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = edges.select("u").distinct().withColumn("lbl", F.col("u"))
    for _ in range(max_iters):
        msgs = edges.join(labels, "u").select(
            F.col("v").alias("u"), F.col("lbl")
        )
        new = (
            labels.unionByName(msgs)
            .groupBy("u")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new.join(labels.withColumnRenamed("lbl", "_old"), "u")
            .filter(F.col("lbl") < F.col("_old"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(pathological chain graph? use a larger max_iters or a "
            "star-contraction variant)"
        )
    return labels.select(
        F.col("u").alias("doc_id"), F.col("lbl").alias("canonical_id")
    )


def drop_duplicate_docs(
    df: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The deduped corpus: drop every doc whose cluster elected a
    different canonical (left-anti join against the non-canonical
    cluster members — defect-proportional right side, so the join
    broadcasts in the common case)."""
    losers = clusters.filter(
        F.col("doc_id") != F.col("canonical_id")
    ).select(F.col("doc_id").alias(id_col))
    return df.join(losers, on=id_col, how="left_anti")


def cluster_split(
    df: DataFrame,
    clusters: DataFrame,
    num: int = 9,
    den: int = 10,
    id_col: str = "doc_id",
    salt: str = "split0",
) -> DataFrame:
    """Near-dup-aware train/holdout split: every member of a duplicate
    CLUSTER lands on the same side. A per-document random split leaks —
    a near-duplicate of a holdout document ends up in train and the
    holdout stops measuring generalization; splitting on the cluster
    REPRESENTATIVE (the component's canonical_id from
    :func:`connected_components`; a doc outside every cluster is its
    own representative) makes straddling impossible by construction.

    The side is ``md5(rep|salt) % den < num`` — the stratified_sample
    determinism trick, so the split is reproducible across runs,
    engines, and re-partitioning, and ADDING documents later never
    reshuffles existing assignments (each cluster's side depends only
    on its representative id).

    At scale: the clusters frame is collision-proportional (pairs
    exist only where near-dups exist), so the left join broadcasts
    under AQE; the hash + threshold is map-side. Returns
    ``(id_col, rep_id, split)`` with split in {'train', 'holdout'}.
    """
    rep = F.coalesce(F.col("canonical_id"), F.col(id_col))
    h = _MD5_HASH.format(x=f"concat(cast(rep_id as string), '|', '{salt}')")
    return (
        df.select(id_col)
        .join(
            clusters.withColumnRenamed("doc_id", id_col).select(
                id_col, "canonical_id"
            ),
            id_col,
            "left",
        )
        .select(F.col(id_col), rep.alias("rep_id"))
        .select(
            id_col,
            "rep_id",
            F.when(F.expr(h) % den < num, F.lit("train"))
            .otherwise(F.lit("holdout"))
            .alias("split"),
        )
    )


def _shingle_pair_stats(
    df: DataFrame,
    block_cols: tuple[str, ...],
    text_col: str,
    id_col: str,
    k: int,
    max_doc_freq: int | None,
) -> DataFrame:
    """Shared candidate machinery for the set-overlap family
    (:func:`jaccard_pairs`, :func:`containment_pairs`): per blocked
    candidate pair, the intersection size and both documents' shingle
    set sizes — (a_id, b_id, _common, _sza, _szb), a_id < b_id.

    Scale shape: the raw ~k-word shingle string is replaced by its
    64-bit xxhash64 IMMEDIATELY after the explode, so the self-join
    shuffles 8-byte keys instead of text (the exact_duplicates content-
    key trade: the oracle compares raw shingles, so correctness rides on
    64-bit collision-freeness — ~1e-9 at a billion distinct shingles
    per block). ``max_doc_freq`` drops shingles that appear in more
    than that many documents of a block (stopword-shingle removal):
    a shingle shared by m docs emits m² join rows, so one hot shingle
    in a big block is quadratic — the cap bounds every shingle's
    contribution at max_doc_freq². Capped shingles leave the universe
    entirely (both intersection AND per-doc sizes), which any oracle
    must mirror."""
    sh = df.select(
        *block_cols,
        F.col(id_col),
        F.explode(shingle_col(text_col, k)).alias("_sh"),
    ).select(*block_cols, id_col, F.xxhash64("_sh").alias("_h"))
    # the shingle frame feeds the doc-freq cap, the per-doc sizes, and
    # BOTH self-join sides; without lineage truncation every consumer
    # re-runs scan+explode+hash — 8 corpus scans measured on the
    # executed plan. Checkpoint the 8-byte-keyed projection once (the
    # persist-the-tokenized-projection trade, automated).
    sh = sh.localCheckpoint(eager=False)
    if max_doc_freq is not None:
        # shingles are distinct per doc, so count(*) per (block, hash)
        # IS the doc frequency; semi join keeps only sub-cap shingles
        ok = (
            sh.groupBy(*block_cols, "_h")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_doc_freq)
            .select(*block_cols, "_h")
        )
        # the capped frame again has three consumers (sizes + both
        # self-join sides): truncate so the semi join runs once
        sh = sh.join(ok, [*block_cols, "_h"], "semi").localCheckpoint(
            eager=False
        )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("_sz"))
    a = sh.select(*block_cols, F.col(id_col).alias("a_id"), "_h")
    b = sh.select(*block_cols, F.col(id_col).alias("b_id"), "_h")
    common = (
        a.join(b, [*block_cols, "_h"])
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("_common"))
    )
    sa = sizes.select(F.col(id_col).alias("a_id"), F.col("_sz").alias("_sza"))
    sb = sizes.select(F.col(id_col).alias("b_id"), F.col("_sz").alias("_szb"))
    return common.join(sa, "a_id").join(sb, "b_id")


def jaccard_pairs(
    df: DataFrame,
    block_cols: tuple[str, ...] = ("lang", "source"),
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Pairwise word-k-gram Jaccard within blocking-key groups —
    (a_id, b_id, jaccard). The inverted-index formulation: explode
    shingles, self-join to count the intersection, then join per-doc
    shingle counts for the union size. Blocking bounds the candidate
    set; without it this is a full O(n²). Scale/cap notes on
    :func:`_shingle_pair_stats`."""
    stats = _shingle_pair_stats(
        df, block_cols, text_col, id_col, k, max_doc_freq
    )
    jac = F.col("_common") / (F.col("_sza") + F.col("_szb") - F.col("_common"))
    return stats.select("a_id", "b_id", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def containment_pairs(
    df: DataFrame,
    block_cols: tuple[str, ...] = ("lang", "source"),
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Directional set containment — the one-sided near-dup Jaccard
    misses. ``c(A in B) = |A ∩ B| / |A|``: a short document quoted or
    embedded wholesale inside a long one scores near 1.0 on
    containment while its Jaccard stays tiny (the union is dominated by
    the long doc). The standard screen for quote/subset contamination
    between a corpus and itself.

    Emits (a_id, b_id, containment_a_in_b, containment_b_in_a) for
    pairs where EITHER direction >= ``threshold``; same blocking,
    hashing, and hot-shingle cap as :func:`_shingle_pair_stats`."""
    stats = _shingle_pair_stats(
        df, block_cols, text_col, id_col, k, max_doc_freq
    )
    c_ab = F.col("_common") / F.col("_sza")
    c_ba = F.col("_common") / F.col("_szb")
    return (
        stats.select(
            "a_id",
            "b_id",
            F.round(c_ab, 6).alias("containment_a_in_b"),
            F.round(c_ba, 6).alias("containment_b_in_a"),
        )
        .filter(
            (F.col("containment_a_in_b") >= threshold)
            | (F.col("containment_b_in_a") >= threshold)
        )
        .orderBy("a_id", "b_id")
    )


def simhash_col(text_col: str = "text", bits: int = 16):
    """SimHash fingerprint of the whitespace-token multiset — one pure
    column expression, zero shuffle. ``bits`` ≤ 32 keeps the oracle SQL
    tractable.

    Each token is md5-hashed exactly ONCE: the token array maps to a
    hash array first (``transform``, evaluated a single time as the
    fold's input), then one fold accumulates the per-bit ±1 counts in an
    array accumulator. The earlier bits-outer/tokens-inner nesting
    re-evaluated md5(token) inside the per-bit lambda — ``bits``×
    redundant hashing that Catalyst cannot CSE across lambda scopes.
    Integer-identical fingerprints, so the DuckDB oracle (which replays
    the per-bit formula) is unchanged."""
    tok = f"split({text_col}, ' ')"
    h = _MD5_HASH.format(x="t")
    hashes = f"transform({tok}, t -> {h})"
    counts = (
        f"aggregate({hashes}, array_repeat(0L, {bits}), (acc, hv) -> "
        f"zip_with(acc, sequence(0, {bits - 1}), (a, b) -> "
        f"a + if((hv div shiftleft(1L, b)) % 2 = 1, 1L, -1L)))"
    )
    # bit b of the fingerprint is set iff its signed count is positive
    return F.expr(
        f"aggregate(zip_with({counts}, sequence(0, {bits - 1}), "
        f"(c, b) -> if(c > 0, shiftleft(1L, b), 0L)), 0L, (s, v) -> s + v)"
    )


def dedup_against(
    new_df: DataFrame,
    prior_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup: rows of ``new_df`` whose ``text_col``
    does NOT already appear in ``prior_df`` — the daily-increment shape
    (dedup today's crawl against everything already ingested) where
    re-running :func:`exact_duplicates` over the full corpus would
    rescan the whole history for every increment.

    Both sides collapse to the exact-dedup 128-bit content key
    map-side (the body never crosses an exchange; same derivation as
    exact_duplicates so the two ops can never disagree about what "the
    same text" means), the prior side deduplicates to DISTINCT keys
    before the anti join, and at production scale the prior key set is
    exactly what a checkpoint manifest persists between increments —
    20 bytes/doc instead of the corpus. NULL text never matches
    anything (SQL anti-join NULL semantics would otherwise keep every
    NULL row; here NULL-text rows are kept, matching the oracle's
    ``NOT IN (non-null keys)`` reading).

    Returns the surviving ``new_df`` rows unchanged.
    """
    key = lambda d: [
        F.xxhash64(F.col(text_col)).alias("_h1"),
        F.xxhash64(F.lit(1), F.col(text_col)).alias("_h2"),
        F.length(F.col(text_col)).alias("_len"),
    ]
    seen = (
        prior_df.filter(F.col(text_col).isNotNull())
        .select(*key(prior_df))
        .distinct()
    )
    new_keyed = new_df.select("*", *key(new_df))
    return (
        new_keyed.join(seen, ["_h1", "_h2", "_len"], "left_anti")
        .drop("_h1", "_h2", "_len")
    )


def _band_rows(sig: DataFrame, id_col: str, n_hashes: int, band_size: int):
    """Explode a signature frame into (id, _band, _key) rows — the
    shared banding of lsh_candidate_pairs, factored so the incremental
    ops can never band differently from the full-corpus op."""
    n_bands = n_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"m{i}").cast("string")
                        for i in range(b * band_size, (b + 1) * band_size)
                    ],
                ).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select(F.col(id_col), F.explode(bands).alias("_bk")).select(
        F.col(id_col),
        F.col("_bk.band").alias("_band"),
        F.col("_bk.key").alias("_key"),
    )


def lsh_pairs_against(
    new_sig: DataFrame,
    prior_sig: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """Incremental MinHash-LSH: distinct (new_id, prior_id) candidate
    pairs between an increment and the already-ingested corpus — the
    near-dup analogue of :func:`dedup_against`. Both sides band
    identically to :func:`lsh_candidate_pairs` and meet in ONE
    (band, key)-keyed equi-join: work is collision-proportional, never
    new x prior. At production scale ``prior_sig`` is the persisted
    signature table (n_hashes longs per doc — the state a checkpoint
    manifest carries between increments), so an increment computes
    shingles only for ITSELF and never rescans history."""
    new_b = _band_rows(new_sig, id_col, n_hashes, band_size).withColumnRenamed(
        id_col, "new_id"
    )
    prior_b = _band_rows(
        prior_sig, id_col, n_hashes, band_size
    ).withColumnRenamed(id_col, "prior_id")
    return (
        new_b.join(prior_b, ["_band", "_key"])
        .select("new_id", "prior_id")
        .distinct()
    )


def lsh_filter_against(
    new_df: DataFrame,
    new_sig: DataFrame,
    prior_sig: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """Rows of ``new_df`` that are NOT near-duplicates of the prior
    corpus: a new doc is dropped iff ANY of its LSH bands hits a prior
    band bucket. The prior side collapses to DISTINCT (band, key)
    buckets before the probe (prior ids are irrelevant to the filter),
    so the join's build side is bucket-count-proportional, and the hit
    set that reaches the final anti join is one id per dropped doc."""
    prior_keys = _band_rows(
        prior_sig, id_col, n_hashes, band_size
    ).select("_band", "_key").distinct()
    hits = (
        _band_rows(new_sig, id_col, n_hashes, band_size)
        .join(prior_keys, ["_band", "_key"], "semi")
        .select(id_col)
        .distinct()
    )
    return new_df.join(hits, id_col, "left_anti")


def dup_rate(
    df: DataFrame,
    by: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-``by`` duplication telemetry — the report every dedup run
    ships: how much of each source is exact duplicates of
    earlier-ingested content (first-seen-wins by ``id_col``, the X7
    convention, so a mirror source that re-crawls another source shows
    ~100% here while the original shows 0).

    Same scale discipline as :func:`exact_duplicates`: the 128-bit
    map-side content key (never the body) is what crosses the key
    exchange; the firsts frame is collision-proportional in group
    count; the verdict join is key-hashed. NULL-text rows are
    EXPLICITLY routed around the keying (xxhash64(NULL) is a real
    seed-hash value — grouping it would alias every NULL text into one
    giant duplicate class) and count as never-duplicate. dup_rate is an
    exact-count ratio rounded 6 dp.

    Returns (by, n_docs, dup_docs, dup_rate)."""
    base = df.select(F.col(by), F.col(id_col), F.col(text_col))
    keyed = base.filter(F.col(text_col).isNotNull()).select(
        by,
        id_col,
        F.xxhash64(F.col(text_col)).alias("_h1"),
        F.xxhash64(F.lit(1), F.col(text_col)).alias("_h2"),
        F.length(F.col(text_col)).alias("_len"),
    )
    firsts = keyed.groupBy("_h1", "_h2", "_len").agg(
        F.min(id_col).alias("_keep")
    )
    flagged = keyed.join(firsts, ["_h1", "_h2", "_len"]).select(
        by, (F.col(id_col) != F.col("_keep")).alias("_dup")
    )
    nulls = base.filter(F.col(text_col).isNull()).select(
        by, F.lit(False).alias("_dup")
    )
    return (
        flagged.unionByName(nulls)
        .groupBy(by)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("_dup").cast("int")).cast("bigint").alias(
                "dup_docs"
            ),
            F.round(
                F.sum(F.col("_dup").cast("int"))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("dup_rate"),
        )
    )
