"""Declarative data-quality verification (the Deequ model, re-expressed
Spark-first).

Public model: "Automating Large-Scale Data Quality Verification"
(Schelter et al., VLDB 2018) — unit tests for data: a suite of
CONSTRAINTS, each an (analyzer metric, assertion) pair, verified by
computing all metrics over the dataset and applying the assertions
driver-side. The reference pipeline has no quality layer at all; at
100 TB a broken upstream feed is a when, not an if, so verification is
a first-class operator here.

Execution shape (the part that matters at scale):
- every ROW-LEVEL metric (size, completeness, compliance/pattern/
  membership ratios, min/max/mean/sum/stddev) compiles into ONE
  ``df.agg(...)`` — a single scan + single partial-aggregate reduce
  regardless of how many constraints the suite holds (Deequ's
  "shareable analyzers" property);
- GROUPED metrics (uniqueness/distinctness over a column set) each add
  one hash-aggregate on their column set — the unavoidable shuffle —
  and multiple constraints over the same column set share one pass;
- referential integrity is one broadcast-able anti-join per (fk, dim).

Definitions (Deequ's):
- completeness(c)        = count(c not null) / count(*)
- uniqueness(cols)       = #value-tuples occurring exactly once / count(*)
- distinctness(cols)     = #distinct value-tuples / count(*)
- compliance(pred)       = count(pred) / count(*)

All metric values are DOUBLE; ratios are exact integer-count divisions,
so they reproduce bit-identically in any engine (oracle-friendly).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class _Constraint:
    name: str
    kind: str  # row_agg | grouped | ref_integrity
    metric_col: object | None  # Column expr for row_agg
    assertion: Callable[[float], bool]
    # grouped: (cols tuple, which: uniqueness|distinctness)
    grouped: tuple[tuple[str, ...], str] | None = None
    # ref_integrity: (fk_col, dim_df, dim_col)
    ref: tuple[str, DataFrame, str] | None = None


@dataclass
class ConstraintResult:
    check: str
    constraint: str
    value: float | None
    status: str  # pass | fail
    level: str  # error | warning


def _ratio(cond) -> object:
    # exact integer-count division → bit-identical across engines
    return F.sum(F.when(cond, 1).otherwise(0)).cast("double") / F.count(
        F.lit(1)
    ).cast("double")


class Check:
    """A named group of constraints at a severity level; methods chain
    (the Deequ DSL surface)."""

    def __init__(self, name: str = "check", level: str = "error"):
        self.name = name
        self.level = level
        self.constraints: list[_Constraint] = []

    # -- row-level (all fuse into one aggregate pass) -------------------

    def has_size(self, assertion: Callable[[float], bool]) -> "Check":
        self.constraints.append(
            _Constraint("size", "row_agg", F.count(F.lit(1)).cast("double"), assertion)
        )
        return self

    def is_complete(self, col: str) -> "Check":
        return self.has_completeness(col, lambda v: v == 1.0)

    def has_completeness(self, col: str, assertion) -> "Check":
        self.constraints.append(
            _Constraint(
                f"completeness({col})",
                "row_agg",
                F.count(F.col(col)).cast("double") / F.count(F.lit(1)).cast("double"),
                assertion,
            )
        )
        return self

    def satisfies(self, predicate_sql: str, name: str, assertion=None) -> "Check":
        self.constraints.append(
            _Constraint(
                f"compliance({name})",
                "row_agg",
                _ratio(F.expr(predicate_sql)),
                assertion or (lambda v: v == 1.0),
            )
        )
        return self

    def is_non_negative(self, col: str) -> "Check":
        return self.satisfies(f"{col} >= 0", f"{col} non-negative")

    def is_contained_in(self, col: str, values: list, assertion=None) -> "Check":
        self.constraints.append(
            _Constraint(
                f"membership({col})",
                "row_agg",
                _ratio(F.col(col).isin(values)),
                assertion or (lambda v: v == 1.0),
            )
        )
        return self

    def has_min(self, col: str, assertion) -> "Check":
        self.constraints.append(
            _Constraint(f"min({col})", "row_agg", F.min(col).cast("double"), assertion)
        )
        return self

    def has_max(self, col: str, assertion) -> "Check":
        self.constraints.append(
            _Constraint(f"max({col})", "row_agg", F.max(col).cast("double"), assertion)
        )
        return self

    def has_mean(self, col: str, assertion) -> "Check":
        self.constraints.append(
            _Constraint(
                f"mean({col})",
                "row_agg",
                F.sum(F.col(col).cast("decimal(38,6)")).cast("double")
                / F.count(F.col(col)).cast("double"),
                assertion,
            )
        )
        return self

    # -- grouped (one hash-aggregate per distinct column set) -----------

    def is_unique(self, *cols: str) -> "Check":
        return self.has_uniqueness(list(cols), lambda v: v == 1.0)

    def has_uniqueness(self, cols: list[str], assertion) -> "Check":
        self.constraints.append(
            _Constraint(
                f"uniqueness({','.join(cols)})",
                "grouped",
                None,
                assertion,
                grouped=(tuple(cols), "uniqueness"),
            )
        )
        return self

    def has_distinctness(self, cols: list[str], assertion) -> "Check":
        self.constraints.append(
            _Constraint(
                f"distinctness({','.join(cols)})",
                "grouped",
                None,
                assertion,
                grouped=(tuple(cols), "distinctness"),
            )
        )
        return self

    # -- cross-dataset ---------------------------------------------------

    def is_referentially_valid(
        self, fk_col: str, dim: DataFrame, dim_col: str, assertion=None
    ) -> "Check":
        """fraction of rows whose fk value exists in dim (null fks count
        as invalid, per FK semantics on required keys)."""
        self.constraints.append(
            _Constraint(
                f"ref_integrity({fk_col})",
                "ref_integrity",
                None,
                assertion or (lambda v: v == 1.0),
                ref=(fk_col, dim, dim_col),
            )
        )
        return self


class VerificationSuite:
    """Runs checks over one DataFrame: fuse row-level metrics into one
    aggregate, share grouped passes per column set, then apply
    assertions driver-side over the (bounded, one value per constraint)
    metric row."""

    def __init__(self, df: DataFrame):
        self.df = df

    def run(self, checks: list[Check]) -> list[ConstraintResult]:
        flat: list[tuple[Check, _Constraint]] = [
            (ch, c) for ch in checks for c in ch.constraints
        ]
        values: dict[int, float | None] = {}
        # 1) fused row-level pass
        row_aggs = [
            (i, c.metric_col.alias(f"m{i}"))
            for i, (_ch, c) in enumerate(flat)
            if c.kind == "row_agg"
        ]
        if row_aggs:
            row = self.df.agg(*[a for _i, a in row_aggs]).collect()[0]
            for i, _a in row_aggs:
                v = row[f"m{i}"]
                values[i] = None if v is None else float(v)
        # 2) grouped passes, shared per column set
        group_sets = {
            c.grouped[0]
            for _ch, c in flat
            if c.kind == "grouped"
        }
        grouped_vals: dict[tuple[str, ...], tuple[float, float]] = {}
        for cols in group_sets:
            freq = self.df.groupBy(*cols).agg(F.count(F.lit(1)).alias("n"))
            row = freq.agg(
                F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("once"),
                F.count(F.lit(1)).alias("distinct_n"),
                F.sum("n").alias("total"),
            ).collect()[0]
            total = float(row["total"] or 0)
            grouped_vals[cols] = (
                (float(row["once"] or 0) / total) if total else 0.0,
                (float(row["distinct_n"] or 0) / total) if total else 0.0,
            )
        for i, (_ch, c) in enumerate(flat):
            if c.kind == "grouped":
                uniq, dist = grouped_vals[c.grouped[0]]
                values[i] = uniq if c.grouped[1] == "uniqueness" else dist
        # 3) referential-integrity joins
        for i, (_ch, c) in enumerate(flat):
            if c.kind == "ref_integrity":
                fk, dim, dim_col = c.ref
                total = self.df.count()
                if total == 0:
                    values[i] = 0.0
                    continue
                valid = (
                    self.df.join(
                        F.broadcast(dim.select(F.col(dim_col).alias(fk)).distinct()),
                        on=fk,
                        how="left_semi",
                    ).count()
                )
                values[i] = valid / total
        out = []
        for i, (ch, c) in enumerate(flat):
            v = values.get(i)
            ok = False
            if v is not None:
                try:
                    ok = bool(c.assertion(v))
                except Exception:
                    ok = False
            out.append(
                ConstraintResult(ch.name, c.name, v, "pass" if ok else "fail", ch.level)
            )
        return out

    def run_as_dataframe(self, spark: SparkSession, checks: list[Check]) -> DataFrame:
        rows = [
            (r.check, r.constraint, r.value, r.status, r.level)
            for r in self.run(checks)
        ]
        return spark.createDataFrame(
            rows,
            "check string, constraint string, value double, status string, level string",
        )
