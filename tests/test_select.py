"""Corpus-selection operators (pipeline/select.py): n-gram top-k,
stratified sampling, token-budget cuts.

The load-bearing test is the histogram-cutoff ≡ naive-window
equivalence for token_budget_select — the two-stage plan only earns its
keep if it returns EXACTLY the greedy prefix the oracle window
computes, for every bin width.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ocsf_validator_spark.pipeline import select


@pytest.fixture()
def docs(spark):
    rows = []
    words = ["alpha", "beta", "gamma", "delta", "the", "of", "a"]
    for i in range(120):
        n = 1 + (i * 7) % 40  # includes 1-token docs (ngram guard)
        text = " ".join(words[(i + j) % len(words)] for j in range(n))
        rows.append((i, text, ["en", "de", "zh"][i % 3]))
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


@pytest.fixture()
def docs_with_nulls(spark, docs):
    extra = spark.createDataFrame(
        [
            (1000, None, "en"),        # NULL text: excluded from budgets
            (1001, "alpha beta gamma delta alpha", None),  # NULL stratum
            (1002, "beta gamma the of a beta gamma", None),
            (1003, None, None),
        ],
        "doc_id long, text string, lang string",
    )
    return docs.unionByName(extra)


def naive_budget(scored, budget):
    w = Window.partitionBy("lang").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        scored.select("*", F.sum("n_tokens").over(w).alias("_cum"))
        .filter(F.col("_cum") <= budget)
        .select("doc_id", "lang", "n_tokens", "quality")
    )


def test_ngram_topk_counts_and_short_doc_guard(spark):
    df = spark.createDataFrame(
        [(0, "a b a b c"), (1, "a b x"), (2, "solo")],
        "doc_id long, text string",
    )
    rows = {r["ngram"]: r["cnt"] for r in select.ngram_topk(df, n=2, k=10).collect()}
    # "solo" has one token: contributes nothing (sequence(1,0) guard)
    assert rows == {"a b": 3, "b a": 1, "b c": 1, "b x": 1}


def test_ngram_topk_deterministic_tiebreak(docs):
    top = select.ngram_topk(docs, n=2, k=5).collect()
    pairs = [(r["cnt"], r["ngram"]) for r in top]
    # sorted by cnt desc then ngram asc, and stable across runs
    assert pairs == sorted(pairs, key=lambda p: (-p[0], p[1]))
    assert pairs == [
        (r["cnt"], r["ngram"]) for r in select.ngram_topk(docs, n=2, k=5).collect()
    ]


def test_ngram_topk_hash_keyed_exchange(spark, docs):
    """Plan contract for the 100 TB shape: the corpus-wide count
    exchange is keyed on the 60-bit gram HASH — no raw gram string may
    cross a hashpartitioning Exchange (the singleton-heavy gram tail
    defeats partial agg, so a raw-string groupBy would ship ~the whole
    token stream). String recovery must be a broadcast probe of the
    k-row winner set, never a shuffle join."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = select.ngram_topk(docs, n=2, k=10)
        jvm = spark._jvm
        mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = out._jdf.queryExecution().explainString(mode)
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        for b in plan.split("\n\n"):
            head = b.split("\n")[0]
            if ") Exchange" in head and "hashpartitioning" in b:
                # (the k-bounded final presentation sort is range-
                # partitioned and exempt; partial-min buffers show as
                # min#N and are ≤ k rows per partition by construction)
                assert "ngram#" not in b, f"raw gram crossed:\n{b}"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_stratified_sample_deterministic_and_scoped(docs):
    out = select.stratified_sample(
        docs, rates={"en": (1, 1), "zh": (0, 1)}, default_rate=(1, 2)
    )
    got = out.groupBy("lang").count().collect()
    by_lang = {r["lang"]: r["count"] for r in got}
    assert by_lang.get("en") == 40  # rate 1/1 keeps every en doc
    assert "zh" not in by_lang     # rate 0/1 drops the stratum
    assert 0 < by_lang.get("de", 0) < 40  # default 1/2 keeps a subset
    again = select.stratified_sample(
        docs, rates={"en": (1, 1), "zh": (0, 1)}, default_rate=(1, 2)
    )
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_stratified_sample_empty_rates(docs):
    out = select.stratified_sample(docs, rates={}, default_rate=(1, 1))
    assert out.count() == docs.count()


@pytest.mark.parametrize("n_bins", [1, 4, 64])
def test_token_budget_equals_naive_window(docs, n_bins):
    scored = select.quality_scored(docs)
    for budget in (0, 37, 400, 10**6):
        got = select.token_budget_select(docs, budget=budget, n_bins=n_bins)
        want = naive_budget(scored, budget)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), f"bins={n_bins} budget={budget}"


def test_stratified_sample_null_stratum_gets_default_rate(spark, docs_with_nulls):
    """A NULL stratum takes the default rate CONSISTENTLY — the same
    row must not be dropped just because an unrelated stratum was
    named (the ~isin NULL trap)."""
    d = docs_with_nulls
    with_named = select.stratified_sample(
        d, rates={"en": (1, 1)}, default_rate=(1, 1)
    )
    without_named = select.stratified_sample(d, rates={}, default_rate=(1, 1))
    null_ids = {1001, 1002, 1003}
    assert null_ids <= {r["doc_id"] for r in with_named.collect()}
    assert null_ids <= {r["doc_id"] for r in without_named.collect()}


def test_token_budget_null_text_and_null_stratum(docs_with_nulls):
    """NULL text never crashes the driver cutoff and is excluded; a
    NULL stratum gets its own budget partition, matching the naive
    window over the scored (non-NULL-token) rows."""
    scored = select.quality_scored(docs_with_nulls).filter(
        F.col("n_tokens").isNotNull()
    )
    for budget in (5, 40, 10**6):
        got = select.token_budget_select(docs_with_nulls, budget=budget, n_bins=8)
        want = naive_budget(scored, budget)
        got_rows = sorted(map(tuple, got.collect()))
        assert got_rows == sorted(map(tuple, want.collect())), budget
        ids = {r[0] for r in got_rows}
        assert 1000 not in ids and 1003 not in ids  # NULL text excluded
    # big budget keeps both NULL-stratum docs
    assert {1001, 1002} <= {
        r["doc_id"]
        for r in select.token_budget_select(
            docs_with_nulls, budget=10**6, n_bins=8
        ).collect()
    }


def test_token_budget_pre_scored_roundtrip(docs):
    scored = select.quality_scored(docs)
    a = select.token_budget_select(docs, budget=400, n_bins=16)
    b = select.token_budget_select(scored, budget=400, n_bins=16, pre_scored=True)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_token_budget_single_boundary_exchange(docs):
    """Plan contract: the kept-whole branch is exchange-free; only the
    boundary bin's window introduces a shuffle."""
    out = select.token_budget_select(docs, budget=100, n_bins=64)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_containment_catches_subset_jaccard_misses(spark):
    from ocsf_validator_spark.pipeline.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta eta theta"
    long = short + " " + " ".join(f"filler{i}" for i in range(60))
    df = spark.createDataFrame(
        [
            (0, short, "en", "s"),
            (1, long, "en", "s"),
            (2, "totally different words here entirely", "en", "s"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    cont = containment_pairs(df, ("lang", "source"), k=3, threshold=0.9).collect()
    assert [(r["a_id"], r["b_id"]) for r in cont] == [(0, 1)]
    # the short doc's shingles are all in the long one
    assert cont[0]["containment_a_in_b"] == 1.0
    assert cont[0]["containment_b_in_a"] < 0.2
    # Jaccard at the same strictness sees nothing (union is dominated
    # by the long doc)
    assert (
        jaccard_pairs(df, ("lang", "source"), k=3, threshold=0.5).count() == 0
    )


# ---------------------------------------------------------------------------
# weighted_sample_topk
# ---------------------------------------------------------------------------

import hashlib
import math

from ocsf_validator_spark.pipeline.select import weighted_sample_topk


def naive_weighted(rows, k, salt="ws0"):
    """(id, weight) -> top-k by the md5-derived ES key, Python replay."""
    keyed = []
    for i, w in rows:
        if i is None or w is None or w <= 0:
            continue
        h = int(hashlib.md5(f"{i}|{salt}".encode()).hexdigest()[:15], 16)
        u = (h + 1) / 1152921504606846977.0
        keyed.append((round(-math.log(u) / w, 6), i, float(w)))
    keyed.sort(key=lambda t: (t[0], t[1]))
    return [(i, w, key) for key, i, w in keyed[:k]]


def test_weighted_sample_matches_replay(spark):
    rows = [(f"d{i:03d}", float(1 + (i % 7))) for i in range(120)]
    rows += [("dnull", None), (None, 5.0), ("dzero", 0.0), ("dneg", -2.0)]
    df = spark.createDataFrame(rows, "doc_id string, w double")
    for salt in ("ws0", "ws1"):
        got = [
            (r.doc_id, r.weight, r.sample_key)
            for r in weighted_sample_topk(
                df, "w", 25, id_col="doc_id", salt=salt
            ).collect()
        ]
        assert got == naive_weighted(rows, 25, salt=salt)
    # excluded rows can never win even with k > table size
    all_got = weighted_sample_topk(df, "w", 1000).collect()
    assert len(all_got) == 120


def test_weighted_sample_is_weight_proportional():
    # statistical law checked on the replay (engine == replay above):
    # across salts, a weight-20 row must win far more often than a
    # weight-1 row; expected inclusion ratio is ~weight ratio for small
    # k/n, so even a loose 4x bound is a real test of proportionality
    heavy = [(f"h{i}", 20.0) for i in range(10)]
    light = [(f"l{i}", 1.0) for i in range(190)]
    h_wins = l_wins = 0
    for s in range(200):
        win_ids = {i for i, _, _ in naive_weighted(heavy + light, 20, salt=f"s{s}")}
        h_wins += sum(1 for i, _ in heavy if i in win_ids)
        l_wins += sum(1 for i, _ in light if i in win_ids)
    # per-row inclusion frequency
    assert h_wins / 10 > 4 * (l_wins / 190)


def test_weighted_sample_plan_no_shuffle(spark):
    # the whole operator must be scan -> project -> TakeOrderedAndProject:
    # per-partition heaps merged on the driver, never an Exchange
    df = spark.createDataFrame(
        [(f"d{i}", float(i + 1)) for i in range(100)],
        "doc_id string, w double",
    )
    plan = (
        weighted_sample_topk(df, "w", 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_weighted_sample_per_group_equals_naive_window(spark):
    from ocsf_validator_spark.pipeline.select import weighted_sample_per_group

    rows = [
        (f"d{i:03d}", ["en", "de", "zh"][i % 3], float(1 + (i % 9)))
        for i in range(150)
    ]
    rows += [("dnull", None, 3.0), ("dzero", "en", 0.0), (None, "de", 2.0)]
    rows += [("dnan", "en", float("nan"))]
    df = spark.createDataFrame(rows, "doc_id string, lang string, w double")

    def naive(sdf, k):
        keyed = sdf.filter(
            F.col("doc_id").isNotNull()
            & F.col("lang").isNotNull()
            & F.col("w").isNotNull()
            & (F.col("w") > 0)
        ).select(
            "lang",
            "doc_id",
            F.col("w").alias("weight"),
            F.round(
                -F.expr(
                    "ln((cast(conv(substring(md5(concat(cast(doc_id as string),"
                    " '|', 'ws0')), 1, 15), 16, 10) as bigint) + 1)"
                    " / 1152921504606846977e0)"
                )
                / F.col("w"),
                6,
            ).alias("sample_key"),
        )
        w = Window.partitionBy("lang").orderBy(
            F.col("sample_key").asc(), F.col("doc_id").asc()
        )
        return (
            keyed.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k)
            .drop("_rk")
        )

    # rows compare by repr: the NaN row's key is NaN, and nan != nan
    for k in (1, 7, 1000):
        want = sorted(map(repr, naive(df, k).collect()))
        # stage-1's per-partition cut must be invisible at any layout
        for parts in (1, 3, 16):
            got = sorted(
                map(
                    repr,
                    weighted_sample_per_group(
                        df.repartition(parts), "lang", "w", k
                    ).collect(),
                )
            )
            assert got == want, f"k={k} parts={parts}"
    # per-group counts: k per group when the group is big enough
    got7 = weighted_sample_per_group(df, "lang", "w", 7).collect()
    by_lang = {}
    for r in got7:
        by_lang[r.lang] = by_lang.get(r.lang, 0) + 1
    assert by_lang == {"en": 7, "de": 7, "zh": 7}


def test_weighted_sample_per_group_plan_and_jobs(spark, jobs_of):
    """k above Spark's default windowGroupLimitThreshold (1000) still
    plans the WindowGroupLimit Partial stage before the exchange, with
    no Python map stage, and the collect runs no more jobs than the
    pandas top-k it replaced (3 on this input)."""
    from ocsf_validator_spark.pipeline.select import weighted_sample_per_group

    df = spark.createDataFrame(
        [(f"d{i}", ["en", "de"][i % 2], float(1 + i % 5)) for i in range(100)],
        "doc_id string, lang string, w double",
    ).repartition(4)
    plan = (
        weighted_sample_per_group(df, "lang", "w", 10_000)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    limits = [ln for ln in plan.splitlines() if "WindowGroupLimit" in ln]
    assert any(ln.rstrip().endswith("Partial") for ln in limits), plan
    assert any(ln.rstrip().endswith("Final") for ln in limits), plan
    assert "MapInPandas" not in plan and "PythonMapInArrow" not in plan
    rows, jobs = jobs_of(weighted_sample_per_group(df, "lang", "w", 3).collect)
    assert len(rows) == 6
    assert jobs <= 3


def test_corpus_mix_shares_and_entropy(spark):
    """corpus_mix: shares sum to ~1; a perfectly uniform token mix has
    entropy log2(n_groups); NULL text counts 0 tokens; a single-source
    corpus has entropy 0."""
    from ocsf_validator_spark.pipeline.textstats import corpus_mix

    df = spark.createDataFrame(
        [
            ("a", "w x y z"),      # 4 tokens
            ("b", "p q r s"),      # 4 tokens
            ("c", "m n"),          # 2 tokens
            ("c", "o t"),          # +2 -> 4
            ("d", None),           # 0 tokens
            ("d", "u v w1 w2"),    # 4
        ],
        "source string, text string",
    )
    rows = {r.source: r for r in corpus_mix(df, by="source").collect()}
    assert rows["a"].tokens == 4 and rows["c"].tokens == 4
    assert rows["d"].docs == 2 and rows["d"].tokens == 4
    assert abs(sum(r.token_share for r in rows.values()) - 1.0) < 1e-5
    # uniform over 4 groups -> exactly 2 bits (rounded shares are exact)
    assert rows["a"].mix_entropy_bits == 2.0
    one = spark.createDataFrame([("only", "x y z")], "source string, text string")
    assert corpus_mix(one, by="source").collect()[0].mix_entropy_bits == 0.0


def test_lang_mismatch_audit_edges(spark):
    """lang_mismatch_audit: NULL text detects 'und' and mismatches a
    declared tag; zero-mismatch groups carry NULL top_mispred; the top
    wrong prediction tie-breaks on lang_pred ASC; NULL declared lang
    mismatches any prediction (IS DISTINCT FROM semantics)."""
    from ocsf_validator_spark.pipeline.textstats import lang_mismatch_audit

    rows = [
        # srcA/en: 2 clean en docs + 1 der-doc detected de -> 1/3 mismatch
        ("srcA", "en", "the a of and is"),
        ("srcA", "en", "the the a of"),
        ("srcA", "en", "der die und ist"),
        # srcB/zh: undetectable -> every doc mismatches (und), incl NULL text
        ("srcB", "zh", "xi jin ping"),
        ("srcB", "zh", None),
        # srcB/fr: tie between 'de' and 'es' mispredictions -> 'de' wins ASC
        ("srcB", "fr", "der die und ist das"),
        ("srcB", "fr", "el la y es"),
        ("srcB", "fr", "le la et est"),
        # srcC/NULL declared: prediction 'en' IS DISTINCT FROM NULL -> mismatch
        ("srcC", None, "the a of"),
    ]
    df = spark.createDataFrame(rows, "source string, lang string, text string")
    got = {
        (r.source, r.lang): r
        for r in lang_mismatch_audit(df).collect()
    }
    a = got[("srcA", "en")]
    assert (a.n_docs, a.n_mismatch, a.top_mispred, a.top_mispred_n) == (3, 1, "de", 1)
    assert a.mismatch_rate == round(1 / 3, 6)
    b = got[("srcB", "zh")]
    assert (b.n_docs, b.n_mismatch, b.top_mispred) == (2, 2, "und")
    f = got[("srcB", "fr")]
    assert (f.n_docs, f.n_mismatch, f.top_mispred, f.top_mispred_n) == (3, 2, "de", 1)
    c = got[("srcC", None)]
    assert (c.n_docs, c.n_mismatch, c.top_mispred) == (1, 1, "en")
    # a fully-clean group: no mismatch leg row -> NULL top fields
    clean = spark.createDataFrame(
        [("s", "en", "the a of and is")], "source string, lang string, text string"
    )
    r = lang_mismatch_audit(clean).collect()[0]
    assert (r.n_mismatch, r.mismatch_rate, r.top_mispred, r.top_mispred_n) == (
        0, 0.0, None, None,
    )


def test_gopher_rules_flags_and_keep(spark):
    """gopher_rules: each rule fires on its crafted failure doc, the
    clean doc keeps, NULL text fails everything, boundary values are
    inclusive, and the plan is a zero-Exchange projection."""
    from ocsf_validator_spark.pipeline.textstats import gopher_rules

    clean = "the a of and is " + " ".join(f"word{i:03d}" for i in range(45))
    rows = [
        (1, clean),                                    # passes all
        (2, "the a of and is"),                        # too few words
        (3, "the a of and is " + " ".join("xy" for _ in range(60))),   # mean len < 3
        (4, "the a of and is " + " ".join("#" for _ in range(20))),    # symbols + alpha
        (5, "the " + " ".join("word%03d" % i for i in range(50))),     # 1 stopword hit
        (6, None),                                     # NULL fails all
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = gopher_rules(df, min_words=30)
    got = {r.doc_id: r for r in out.collect()}
    assert got[1].keep and got[1].n_rules_failed == 0
    assert not got[2].ok_word_count and not got[2].keep
    assert not got[3].ok_mean_word_len
    assert not got[4].ok_symbol_ratio and not got[4].ok_alpha_frac
    assert not got[5].ok_stopwords and got[5].ok_word_count
    assert got[6].n_rules_failed == 5 and not got[6].keep
    # inclusive boundary: exactly min_words tokens passes
    b = spark.createDataFrame(
        [(7, "the a of and is " + " ".join(f"w{i}" for i in range(25)))],
        "doc_id long, text string",
    )
    assert gopher_rules(b, min_words=30).collect()[0].ok_word_count
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_itemset_pairs_support_and_lift(spark):
    """itemset_pairs: support counts BASKETS not events, lift is exact,
    min_support filters, item_a < item_b ordering, NULLs excluded, no
    event-stream self-join in the plan."""
    from ocsf_validator_spark.pipeline.select import itemset_pairs

    rows = [
        # u1..u3 all do {a,b}; u4 does {a}; u5 does {b,c}; u6 does {c}
        (1, "a"), (1, "b"), (1, "b"),       # repeat doesn't inflate
        (2, "a"), (2, "b"),
        (3, "b"), (3, "a"),
        (4, "a"),
        (5, "b"), (5, "c"),
        (6, "c"),
        (None, "a"), (7, None),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    got = {
        (r.item_a, r.item_b): (r.support, r.n_a, r.n_b, r.lift)
        for r in itemset_pairs(df, min_support=2).collect()
    }
    # N = 7 baskets (u1..u6 + u7-with-null-item... u7's only item is NULL
    # -> basket excluded entirely -> N = 6)
    assert got == {("a", "b"): (3, 4, 4, round(3 * 6 / 16, 6))}
    # min_support=1 admits (b, c)
    g1 = {
        (r.item_a, r.item_b): r.support
        for r in itemset_pairs(df, min_support=1).collect()
    }
    assert g1[("b", "c")] == 1 and ("a", "c") not in g1
    plan = (
        itemset_pairs(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan


def test_mix_to_weights_rates_and_saturation(spark):
    from ocsf_validator_spark.pipeline.select import mix_to_weights

    # 300 docs of 10 tokens per source -> 3000 tokens available each
    rows = []
    for s in ("a", "b", "c"):
        for i in range(300):
            rows.append((f"{s}{i}", "t " * 10, s))
    df = spark.createDataFrame(rows, "doc_id string, text string, source string")
    # 3:1 mix over a 2000-token budget: a targets 1500/3000 = 1/2,
    # b targets 500/3000 = 1/6; c unnamed -> dropped entirely
    out = mix_to_weights(
        df, {"a": 3, "b": 1}, budget_tokens=2000
    )
    got = out.groupBy("source").count().collect()
    by = {r.source: r["count"] for r in got}
    assert "c" not in by
    assert 100 <= by.get("a", 0) <= 200      # ~150 of 300 at rate 1/2
    assert 20 <= by.get("b", 0) <= 90        # ~50 of 300 at rate 1/6
    # saturation: budget far above availability keeps everything named
    full = mix_to_weights(df, {"a": 1}, budget_tokens=10**9)
    assert full.count() == 300
    # determinism across partitioning
    a1 = sorted(r.doc_id for r in out.collect())
    a2 = sorted(
        r.doc_id
        for r in mix_to_weights(
            df.repartition(13), {"a": 3, "b": 1}, budget_tokens=2000
        ).collect()
    )
    assert a1 == a2


def test_mix_to_weights_config_errors(spark):
    import pytest as _pytest

    from ocsf_validator_spark.pipeline.select import mix_to_weights

    df = spark.createDataFrame(
        [("d", "x y", "a")], "doc_id string, text string, source string"
    )
    with _pytest.raises(ValueError):
        mix_to_weights(df, {}, budget_tokens=100)
    with _pytest.raises(ValueError):
        mix_to_weights(df, {"a": 1}, budget_tokens=0)
    with _pytest.raises(ValueError):
        mix_to_weights(df, {"a": -1}, budget_tokens=100)
    # a named-but-absent source yields an empty (not failing) sample
    assert mix_to_weights(df, {"zz": 1}, budget_tokens=100).count() == 0
