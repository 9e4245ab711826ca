"""Round-2 feature coverage: nested-payload constraints (struct paths,
map-key conformance), unresolvable-column findings, severity overrides,
the residual PandasCheck leg, and the PERMISSIVE/FAILFAST JSON parse
paths — mirroring reference test_validators.py:25-42 and 106-158
(nested required/unknown-key trails) and the ValidatorOptions severity
tests (reference runner.py:57-116)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocsf_validator_spark.sources import corrupt_json_violations, parse_json_column
from ocsf_validator_spark.spec import (
    ConstraintSet,
    Deprecated,
    MapKeysIn,
    NotNull,
    PandasCheck,
    Severity,
    TypeCast,
    transcript_suite,
)
from ocsf_validator_spark.verdict import exit_code_rows, verdicts
from ocsf_validator_spark.violations import (
    all_violations,
    dataset_findings,
    residual_violations,
    row_violations,
)

KEYS = ("conv_id", "turn_idx")


@pytest.fixture()
def nested(spark):
    """Rows with a struct payload and a map payload — the Spark shape of
    the reference's nested-dict documents."""
    rows = [
        ("c1", 0, (640, 480), {"k": "1"}),
        ("c1", 1, (None, 480), {"k": "2", "zz": "9"}),  # null width, unknown key
        ("c2", 0, (800, 600), None),                    # null map: never violates
        ("c2", 1, None, {"bad": "x", "worse": "y"}),    # null struct
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, "
        "meta struct<width:int, height:int>, props map<string,string>",
    )


def test_struct_path_not_null(spark, nested):
    suite = ConstraintSet(
        name="n", constraints=[NotNull(column="meta.width")]
    )
    got = sorted(
        row_violations(nested, suite, KEYS).collect(),
        key=lambda r: (r.conv_id, r.turn_idx),
    )
    # (c2,1): the parent struct itself is NULL -> the required child is
    # missing too (reference compare_keys reports the missing trail)
    assert [(r.conv_id, r.turn_idx) for r in got] == [("c1", 1), ("c2", 1)]
    assert "meta.width is required but null" in got[0].reason


def test_map_keys_in(spark, nested):
    suite = ConstraintSet(
        name="n", constraints=[MapKeysIn(column="props", allowed=("k",))]
    )
    got = sorted(
        row_violations(nested, suite, KEYS).collect(),
        key=lambda r: (r.conv_id, r.turn_idx),
    )
    # null map (c2,0) must NOT violate; multi-key reason is sorted
    assert [(r.conv_id, r.turn_idx) for r in got] == [("c1", 1), ("c2", 1)]
    assert got[0].reason == "unknown key(s) [zz] in props"
    assert got[1].reason == "unknown key(s) [bad,worse] in props"


def test_unresolvable_column_is_reported_not_skipped(spark, nested):
    """A constraint on a column that doesn't resolve yields a dataset
    finding — the round-1 silent-skip false-PASS is gone."""
    suite = ConstraintSet(
        name="n",
        constraints=[
            NotNull(column="meta.depth"),     # struct field doesn't exist
            TypeCast(column="nope", to_type="int"),
            NotNull(column="meta.width"),     # resolves: no finding
        ],
    )
    got = dataset_findings(nested, suite, KEYS, include_coverage=False).collect()
    reasons = {r.constraint_id: r.reason for r in got}
    assert "required.meta.depth" in reasons
    assert "typecheck.nope" in reasons
    assert "required.meta.width" not in reasons
    assert "do not resolve" in reasons["required.meta.depth"]
    # and the full pipeline carries them (no crash, no silence)
    ids = {r.constraint_id for r in all_violations(nested, suite, KEYS).collect()}
    assert "required.meta.depth" in ids


def test_severity_override_flips_verdict(spark, transcripts):
    """Same suite, same data: remapping deprecated.role WARNING->ERROR
    flips the run from pass to fail (reference ValidatorOptions)."""
    base = ConstraintSet(
        name="t",
        constraints=[
            Deprecated(
                column="role",
                deprecated={"function": ("0.9", "use role='tool' instead")},
            )
        ],
    )
    v1 = all_violations(transcripts, base, KEYS)
    vd1 = verdicts(transcripts, v1, base).collect()
    assert exit_code_rows(vd1) == 0  # WARNING passes

    remapped = base.with_severities({"deprecated.role": "ERROR"})
    assert remapped.by_id()["deprecated.role"].severity == Severity.ERROR
    v2 = all_violations(transcripts, remapped, KEYS)
    assert exit_code_rows(verdicts(transcripts, v2, remapped).collect()) == 1

    with pytest.raises(KeyError):
        base.with_severities({"no.such.constraint": "ERROR"})
    # the original suite is untouched
    assert base.by_id()["deprecated.role"].severity == Severity.WARNING


def test_residual_pandas_check(spark):
    # defined in-function: cloudpickle serializes it by value (test
    # modules aren't importable on executors)
    def _text_shout_check(pdf):
        mask = pdf["text"].notna() & pdf["text"].str.isupper()
        return mask, "text is all-caps: " + pdf["text"].astype(str)

    df = spark.createDataFrame(
        [("c1", 0, "hello"), ("c1", 1, "LOUD"), ("c2", 0, None), ("c2", 1, "OK")],
        "conv_id string, turn_idx int, text string",
    )
    suite = ConstraintSet(
        name="r",
        constraints=[
            PandasCheck(
                column="text",
                columns=("text",),
                check=_text_shout_check,
                check_id="no_shouting",
                severity=Severity.WARNING,
            )
        ],
    )
    got = sorted(
        residual_violations(df, suite, KEYS).collect(),
        key=lambda r: (r.conv_id, r.turn_idx),
    )
    assert [(r.conv_id, r.turn_idx) for r in got] == [("c1", 1), ("c2", 1)]
    assert got[0].reason == "text is all-caps: LOUD"
    assert got[0].severity == "WARNING"
    # rides all_violations; constraint_id is stable across processes
    ids = {r.constraint_id for r in all_violations(df, suite, KEYS).collect()}
    assert ids == {"residual.no_shouting"}
    # missing column -> dataset finding, not a crash
    bad = ConstraintSet(
        name="r2",
        constraints=[
            PandasCheck(
                column="absent",
                columns=("absent",),
                check=_text_shout_check,
                check_id="ghost",
            )
        ],
    )
    got2 = all_violations(df, bad, KEYS).collect()
    assert any(
        r.constraint_id == "residual.ghost" and "do not resolve" in r.reason
        for r in got2
    )


def test_permissive_parse_flags_corrupt_rows(spark):
    df = spark.createDataFrame(
        [
            ("c1", 0, '{"k": "1"}'),
            ("c1", 1, '{"k": broken'),
            ("c2", 0, None),
        ],
        "conv_id string, turn_idx int, payload string",
    )
    got = corrupt_json_violations(df, "payload", keys=KEYS).collect()
    assert [(r.conv_id, r.turn_idx) for r in got] == [("c1", 1)]
    assert got[0].constraint_id == "parse.json"
    assert "not parseable JSON" in got[0].reason
    # parsed column is usable on the clean rows
    parsed = parse_json_column(df, "payload").collect()
    ok = {(r.conv_id, r.turn_idx): r._parsed for r in parsed}
    assert ok[("c1", 0)] == {"k": "1"}
    assert ok[("c1", 1)] is None


def test_failfast_parse_raises(spark):
    df = spark.createDataFrame(
        [("c1", 0, '{"k": broken')], "conv_id string, turn_idx int, payload string"
    )
    staged = parse_json_column(df, "payload", mode="FAILFAST")
    with pytest.raises(Exception, match="(?i)malformed|failfast"):
        staged.collect()


def test_residual_check_on_struct_path(spark, nested):
    """Review regression: a PandasCheck over a dotted struct path must
    see the column under its DECLARED name (select aliasing), not the
    bare leaf name."""

    def _width_check(pdf):
        col = pdf["meta.width"]
        mask = col.notna() & (col > 700)
        return mask, "width too large: " + col.fillna(-1).astype(int).astype(str)

    suite = ConstraintSet(
        name="r3",
        constraints=[
            PandasCheck(
                column="meta.width",
                columns=("meta.width",),
                check=_width_check,
                check_id="width_cap",
            )
        ],
    )
    got = residual_violations(nested, suite, KEYS).collect()
    assert [(r.conv_id, r.turn_idx) for r in got] == [("c2", 0)]
    assert got[0].reason == "width too large: 800"
