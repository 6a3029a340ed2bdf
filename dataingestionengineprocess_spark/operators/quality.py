"""Data-quality validation: declarative rules with pass/quarantine
split (SURVEY.md §2.2 P4).

The reference validates partner CSVs inside its opaque Python process;
here rules are named Column predicates evaluated in ONE pass -- the
violation list is assembled as an array column, so a 100 TB batch is
scanned once regardless of rule count, and the split is two cheap
filters on the same scan (cached by the caller, `ValidationResult`).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

VIOLATIONS_COL = "_violations"


@dataclass
class Rule:
    """A named constraint; rows where `condition` is false (or null)
    are quarantined with the rule name recorded."""
    name: str
    condition: Column


def not_null(col: str) -> Rule:
    return Rule(f"not_null_{col}", F.col(col).isNotNull())


def in_range(col: str, lo, hi) -> Rule:
    return Rule(f"range_{col}", F.col(col).between(lo, hi))


def matches(col: str, pattern: str) -> Rule:
    return Rule(f"matches_{col}", F.col(col).rlike(pattern))


def one_of(col: str, values: list) -> Rule:
    return Rule(f"one_of_{col}", F.col(col).isin(values))


def referential(col: str, dim_keys: DataFrame) -> "ReferentialRule":
    return ReferentialRule(col, dim_keys)


@dataclass
class ReferentialRule:
    """FK check against a dimension key set: implemented as a
    broadcast left-semi mark join, not a per-row lookup."""
    col: str
    dim_keys: DataFrame

    @property
    def name(self) -> str:
        return f"referential_{self.col}"


@dataclass
class ValidationResult:
    passed: DataFrame
    quarantined: DataFrame  # original columns + _violations array<string>
    #: the marked frame both splits derive from; a caller that reads
    #: both holds it in `session.cached` so the rules run in one scan
    marked: DataFrame


def validate(df: DataFrame, rules: list) -> ValidationResult:
    """Apply all rules in one scan; split pass/quarantine."""
    simple = [r for r in rules if isinstance(r, Rule)]
    refs = [r for r in rules if isinstance(r, ReferentialRule)]

    for ref in refs:
        keys = ref.dim_keys.toDF("__refkey").dropDuplicates()
        df = df.join(
            F.broadcast(keys),
            df[ref.col] == F.col("__refkey"),
            "left",
        ).withColumn(f"__ok_{ref.name}", F.col("__refkey").isNotNull()) \
         .drop("__refkey")

    checks = [
        F.when(~r.condition.eqNullSafe(True), F.lit(r.name)) for r in simple
    ] + [
        F.when(~F.col(f"__ok_{ref.name}"), F.lit(ref.name)) for ref in refs
    ]
    marked = df.withColumn(
        VIOLATIONS_COL,
        F.array_compact(F.array(*checks)) if checks else F.array().cast("array<string>"),
    )
    for ref in refs:
        marked = marked.drop(f"__ok_{ref.name}")
    passed = marked.filter(F.size(VIOLATIONS_COL) == 0).drop(VIOLATIONS_COL)
    quarantined = marked.filter(F.size(VIOLATIONS_COL) > 0)
    return ValidationResult(passed=passed, quarantined=quarantined,
                            marked=marked)


def schema_drift(old, new) -> list[dict]:
    """Detect schema changes between two deliveries of a feed:
    added / removed / type-changed columns (the partner silently
    reordering columns is handled upstream by the header-aware
    by-name CSV reader; this catches the changes that need a human).

    Accepts DataFrames or StructTypes. Pure metadata -- no job runs.
    Returns a list of {column, change, old_type, new_type} dicts,
    sorted by column name (empty list == no drift).

    Duplicate column names (a malformed but real CSV hazard) are kept
    as a MULTISET per name: the types compare as comma-joined sorted
    lists, so "two 'amount' columns became one" reports as
    ``type_changed`` instead of silently matching.
    """
    def fields(s):
        st = s.schema if hasattr(s, "schema") else s
        per_name: dict[str, list[str]] = {}
        for f in st.fields:
            per_name.setdefault(f.name, []).append(
                f.dataType.simpleString()
            )
        return {c: ",".join(sorted(ts)) for c, ts in per_name.items()}

    o, n = fields(old), fields(new)
    out = []
    for c in sorted(o.keys() | n.keys()):
        if c not in n:
            out.append({"column": c, "change": "removed",
                        "old_type": o[c], "new_type": None})
        elif c not in o:
            out.append({"column": c, "change": "added",
                        "old_type": None, "new_type": n[c]})
        elif o[c] != n[c]:
            out.append({"column": c, "change": "type_changed",
                        "old_type": o[c], "new_type": n[c]})
    return out
