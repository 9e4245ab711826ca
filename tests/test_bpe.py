"""BPE vocabulary induction (pipeline/bpe.py): the distributed
word-frequency-table learner must match the textbook pure-Python
reference merge-for-merge (integer counts, lexicographic tie break);
application is pure column algebra whose replace-chain overlap rule is
pinned against the same reference tokenizer."""

from __future__ import annotations

import collections
import re

from ocsf_validator_spark.pipeline import bpe

DOCS = [
    (0, "the cat sat on the mat", "s1"),
    (1, "the cat ate the rat", "s1"),
    (2, "that hat is the best hat", "s2"),
    (3, "a cat a hat a mat", "s2"),
]
SCHEMA = "doc_id int, text string, source string"


def _py_bpe(words, n, min_freq=2):
    vocab = collections.Counter(
        " ".join(list(w)) + " " + bpe.EOW for w in words
    )
    merges = []
    for _ in range(n):
        pairs = collections.Counter()
        for w, c in vocab.items():
            syms = w.split(" ")
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        (a, b), cnt = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if cnt < min_freq:
            break
        merges.append((a, b))
        nv = collections.Counter()
        for w, c in vocab.items():
            s = f" {w} ".replace(f" {a} {b} ", f" {a}{b} ").strip()
            nv[s] += c
        vocab = nv
    return merges


def _py_tokens(text, merges):
    total = 0
    for w in re.findall("[a-z]+", text.lower()):
        s = " ".join(list(w)) + " " + bpe.EOW
        for a, b in merges:
            s = f" {s} ".replace(f" {a} {b} ", f" {a}{b} ").strip()
        total += len(s.split(" "))
    return total


def test_bpe_learn_matches_reference(spark, persisted_rdds):
    """The learned merges match the reference, and every word table
    bpe_learn checkpointed is freed by the time it returns."""
    df = spark.createDataFrame(DOCS, SCHEMA)
    words = []
    for _, t, _s in DOCS:
        words += re.findall("[a-z]+", t.lower())
    expected = _py_bpe(words, 8)
    before = persisted_rdds()
    got = bpe.bpe_learn(df, n_merges=8)
    assert got == expected and len(got) >= 4
    assert persisted_rdds() - before == set()


def test_bpe_learn_determinism_across_partitioning(spark):
    df = spark.createDataFrame(DOCS, SCHEMA)
    a = bpe.bpe_learn(df, n_merges=5)
    b = bpe.bpe_learn(df.repartition(7), n_merges=5)
    assert a == b


def test_bpe_apply_matches_reference_tokenizer(spark):
    df = spark.createDataFrame(DOCS, SCHEMA)
    merges = bpe.bpe_learn(df, n_merges=6)
    got = {
        r.doc_id: r.n
        for r in df.select(
            "doc_id", bpe.bpe_token_count_col("text", merges).alias("n")
        ).collect()
    }
    for doc_id, text, _ in DOCS:
        assert got[doc_id] == _py_tokens(text, merges), (doc_id, text)


def test_bpe_stats_plan_is_one_aggregation(spark):
    """Application is pure column algebra: the stats query plans ONE
    exchange (the groupBy) and no Python UDF stage."""
    from ocsf_validator_spark.pipeline.bpe_frozen import BPE_MERGES

    df = spark.createDataFrame(DOCS, SCHEMA)
    out = bpe.bpe_token_stats(df, BPE_MERGES)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_bpe_empty_and_early_stop(spark):
    df = spark.createDataFrame([(0, "zz qq", "s")], SCHEMA)
    # every pair is unique (freq 1 each) -> min_freq=2 stops immediately
    assert bpe.bpe_learn(df, n_merges=4) == []
    empty = spark.createDataFrame([], SCHEMA)
    assert bpe.bpe_learn(empty, n_merges=4) == []
    # token stats over NULL text: zero tokens, doc still counted
    dfn = spark.createDataFrame([(0, None, "s")], SCHEMA)
    r = bpe.bpe_token_stats(dfn, [("a", "b")]).collect()[0]
    assert r.n_docs == 1 and r.bpe_tokens == 0 and r.tokens_per_word is None
