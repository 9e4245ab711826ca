"""Constraint-suite inheritance — the reference's dependency-graph
resolution (reference processor.py:195-498) re-expressed for constraint
suites.

The reference resolves a graph of JSON documents connected by three
directives, applying deep merges parents-first with memoization:

- ``$include``   (IncludeParser,  processor.py:333-411)
- ``extends``    (ExtendsParser,  processor.py:223-252)
- ``profiles``   (ProfilesParser, processor.py:255-282)
- dictionary enrichment (AttributesParser, processor.py:285-331)

Our suites are small driver-side specs (dicts), so this entire phase is
a driver-side compile — no Spark job. Semantics preserved 1:1:

- deep_merge: EXISTING keys win, dict values merge recursively, exclude
  keys skipped (reference deep_merge, processor.py:19-40).
- merge order: subject ← includes ← extends ← profiles, parents
  resolved first, each suite resolved exactly once (memoized ``fulfilled``
  set, processor.py:463,476-494).
- self-inheritance is an error (processor.py:481).
- a profile that is also included is redundant → warning
  (processor.py:482-485).
- dictionary enrichment backfills per-column defaults without pulling
  in unlisted columns; record-level values always win
  (tests/test_dependencies.py:200-222 semantics).
- ``check_only`` = the reference's ``update=False`` dry-run used as the
  include-targets validator (processor.py:446-451, validators.py:161-166).
"""

from __future__ import annotations

import copy
from typing import Any, Iterable, Mapping

from ocsf_validator_spark.spec import (
    AllowedColumns,
    Alternation,
    Check,
    ClosingRole,
    Constraint,
    ConstraintSet,
    Deprecated,
    DriftGate,
    EnumCoverage,
    FunctionalDependency,
    Glob,
    GroupMetricBound,
    InEnum,
    MapKeysIn,
    MaxLen,
    MetricBound,
    Monotonic,
    NotNull,
    OpeningRole,
    Precedence,
    QuantileBound,
    Range,
    Regex,
    Severity,
    TurnOrdering,
    TypeCast,
    Unique,
    VolumeGate,
)


class SuiteResolutionError(Exception):
    """Unresolvable/missing target (reference MissingIncludeError and
    friends, errors.py:114-146)."""


class SelfInheritanceError(SuiteResolutionError):
    """Suite extends/includes itself (reference processor.py:481)."""


def deep_merge(
    subj: dict[str, Any],
    other: Mapping[str, Any],
    exclude: Iterable[str] = (),
) -> dict[str, Any]:
    """Merge ``other`` into ``subj`` IN PLACE: keys already in subj win;
    dict values merge recursively (reference deep_merge semantics,
    processor.py:19-40)."""
    excl = set(exclude)
    for k, v in other.items():
        if k in excl:
            continue
        if k not in subj:
            subj[k] = copy.deepcopy(v)
        elif isinstance(subj[k], dict) and isinstance(v, Mapping):
            deep_merge(subj[k], v)
    return subj


_KINDS: dict[str, type[Constraint]] = {
    "required": NotNull,
    "ref": InEnum,
    "deprecated": Deprecated,
    "typecheck": TypeCast,
    "regex": Regex,
    "glob": Glob,
    "max_len": MaxLen,
    "range": Range,
    "unique": Unique,
    "order": TurnOrdering,
    "monotonic": Monotonic,
    "precedence": Precedence,
    "opening": OpeningRole,
    "closing": ClosingRole,
    "alternation": Alternation,
    "check": Check,
    "fd": FunctionalDependency,
    "group_metric": GroupMetricBound,
    "metric": MetricBound,
    "quantile": QuantileBound,
    "volume": VolumeGate,
    "drift": DriftGate,
    "schema": AllowedColumns,
    "coverage": EnumCoverage,
    "map_keys": MapKeysIn,
}

# spec-dict fields that are not constructor kwargs
_META_FIELDS = {"kind"}


def build_constraint(constraint_id: str, spec: Mapping[str, Any]) -> Constraint:
    """Instantiate a Constraint from a merged spec dict."""
    kind = spec.get("kind")
    if kind not in _KINDS:
        raise SuiteResolutionError(
            f"constraint {constraint_id!r}: unknown kind {kind!r}"
        )
    cls = _KINDS[kind]
    kwargs: dict[str, Any] = {}
    for k, v in spec.items():
        if k in _META_FIELDS:
            continue
        if k == "severity":
            v = Severity.parse(v)
        elif isinstance(v, list):
            v = tuple(v)
        elif isinstance(v, dict) and k == "deprecated":
            v = {kk: tuple(vv) for kk, vv in v.items()}
        kwargs[k] = v
    kwargs.setdefault("id_override", constraint_id)
    try:
        return cls(**kwargs)
    except (TypeError, ValueError) as e:
        # an unknown field, or a value the constraint rejects when it
        # is built: the suite does not resolve
        raise SuiteResolutionError(f"constraint {constraint_id!r}: {e}") from e


# fields the dictionary may backfill per column, keyed by constraint kind
_DICT_BACKFILL = {
    "ref": ("values", "extra_allowed"),
    "max_len": ("max_len",),
    "range": ("lo", "hi"),
    "regex": ("pattern",),
    "required": ("severity",),
    "deprecated": ("deprecated",),
    "coverage": ("values",),
}


def _enrich_from_dictionary(
    constraints: dict[str, dict[str, Any]], dictionary: Mapping[str, Mapping[str, Any]]
) -> None:
    """Dictionary enrichment (reference AttributesParser,
    processor.py:285-331): for every constraint whose column appears in
    the dictionary, backfill missing fields — record values win, unlisted
    dictionary columns are NOT pulled in as new constraints
    (tests/test_dependencies.py:200-222)."""
    for spec in constraints.values():
        col = spec.get("column")
        if col not in dictionary:
            continue
        entry = dictionary[col]
        fields = _DICT_BACKFILL.get(spec.get("kind"), ())
        for f in fields:
            if f not in spec and f in entry:
                spec[f] = copy.deepcopy(entry[f])


def resolve(
    registry: Mapping[str, Mapping[str, Any]],
    name: str,
    check_only: bool = False,
    warnings: list[str] | None = None,
) -> ConstraintSet | None:
    """Resolve suite ``name`` against a registry of suite specs.

    Suite spec shape::

        {"extends": "base" | None,
         "profiles": ["mixin", ...],          # multi-target mixins
         "include": ["frag", ...],            # $include analogue
         "dictionary": {col: {field: default}},
         "constraints": {constraint_id: {kind, column, ...}}}

    Returns the compiled ConstraintSet, or None when ``check_only``
    (the dry-run only verifies every target resolves — reference
    processor.py update=False mode)."""
    warnings = warnings if warnings is not None else []
    fulfilled: dict[str, dict[str, Any]] = {}
    in_progress: set[str] = set()

    def _imprecise(target: str) -> str | None:
        """Imprecise-base resolution (reference resolve_imprecise_base,
        processor.py:162-192: an extends target that misses at its exact
        path but resolves from a parent directory): a namespaced target
        'ext/base' falls back to its basename, and a bare 'base' to a
        UNIQUE '.../base' key. Resolvable-but-imprecise is an INFO-tier
        warning, not an error (reference `imprecise_inheritance: INFO`)."""
        base = target.rsplit("/", 1)[-1]
        if "/" in target and base in registry:
            return base
        suffix = [k for k in registry if k.endswith(f"/{target}")]
        if len(suffix) == 1:
            return suffix[0]
        return None

    def _get_name(target: str, origin: str) -> str:
        if target in registry:
            return target
        imp = _imprecise(target)
        if imp is not None:
            warnings.append(
                f"INFO suite {origin!r}: imprecise target {target!r} "
                f"resolved to {imp!r}"
            )
            return imp
        raise SuiteResolutionError(
            f"suite {origin!r}: target {target!r} not found"
        )

    def _get(target: str, origin: str) -> Mapping[str, Any]:
        return registry[_get_name(target, origin)]

    def _resolve(n: str) -> dict[str, Any]:
        if n in fulfilled:
            return fulfilled[n]
        if n in in_progress:
            raise SelfInheritanceError(f"suite {n!r} inherits from itself (cycle)")
        in_progress.add(n)
        spec = _get(n, n)
        merged: dict[str, Any] = {
            "constraints": copy.deepcopy(dict(spec.get("constraints", {}))),
            "dictionary": copy.deepcopy(dict(spec.get("dictionary", {}))),
        }
        includes = list(spec.get("include", []))
        profiles = list(spec.get("profiles", []))
        redundant = set(includes) & set(profiles)
        for r in sorted(redundant):
            # reference processor.py:482-485 RedundantProfileIncludeError
            warnings.append(
                f"suite {n!r}: profile {r!r} is also included (redundant)"
            )
        parents: list[str] = []
        parents += includes
        if spec.get("extends"):
            if spec["extends"] == n:
                raise SelfInheritanceError(f"suite {n!r} extends itself")
            parents.append(spec["extends"])
        parents += [p for p in profiles if p not in redundant]
        for p in parents:
            parent = _resolve(_get_name(p, n))
            # subject keys win; constraint specs merge field-wise
            deep_merge(merged["constraints"], parent["constraints"])
            deep_merge(merged["dictionary"], parent["dictionary"])
        in_progress.discard(n)
        fulfilled[n] = merged
        return merged

    merged = _resolve(name)
    if check_only:
        return None
    _enrich_from_dictionary(merged["constraints"], merged["dictionary"])
    cs = ConstraintSet(name=name)
    for cid, spec in merged["constraints"].items():
        cs.add(build_constraint(cid, spec))
    return cs
