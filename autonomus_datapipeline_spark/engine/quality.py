"""Data-quality rule engine.

The reference declared this capability without code: a
``data_quality_results`` table (rule_name / rule_config / passed /
failure_samples — reference: db/init.sql:256-270; SURVEY.md §1.4). This is
the Spark-first implementation:

- rule kinds: not_null, unique, in_range, matches_regex, accepted_values,
  freshness (max age of a timestamp column)
- ALL rules are evaluated in ONE aggregation pass over the data (each rule
  compiles to a conditional-count expression) — at 100 TB you cannot afford
  a job per rule; uniqueness is the one exception (it needs its own groupBy)
- per-rule failure counts + up to N sample failing rows
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field
from functools import partial
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from autonomus_datapipeline_spark.session import fan_out


@dataclass
class DQRule:
    name: str
    kind: str
    column: str
    config: dict[str, Any] = field(default_factory=dict)


@dataclass
class DQResult:
    rule: DQRule
    passed: bool
    failure_count: int
    total_count: int
    failure_samples: list[dict] = field(default_factory=list)


def _violation_predicate(rule: DQRule, now: _dt.datetime | None) -> Column:
    c = F.col(rule.column)
    if rule.kind == "not_null":
        return c.isNull()
    if rule.kind == "in_range":
        lo, hi = rule.config.get("min"), rule.config.get("max")
        pred = F.lit(False)
        if lo is not None:
            pred = pred | (c < lo)
        if hi is not None:
            pred = pred | (c > hi)
        return pred | c.isNull()
    if rule.kind == "matches_regex":
        return ~c.rlike(rule.config["pattern"]) | c.isNull()
    if rule.kind == "accepted_values":
        return ~c.isin(*rule.config["values"]) | c.isNull()
    if rule.kind == "freshness":
        max_age_s = rule.config["max_age_seconds"]
        now = now or _dt.datetime.now(tz=_dt.timezone.utc)
        if now.tzinfo is None:  # naive: UTC, the session time zone
            now = now.replace(tzinfo=_dt.timezone.utc)
        age_s = F.lit(int(now.timestamp())) - F.unix_timestamp(c)
        return (age_s > max_age_s) | c.isNull()
    raise ValueError(f"unknown rule kind {rule.kind!r}")


def evaluate_rules(
    df: DataFrame,
    rules: list[DQRule],
    sample_failures: int = 5,
    now: _dt.datetime | None = None,
) -> list[DQResult]:
    """Evaluate all rules; single aggregation job for row-level rules plus
    one groupBy per uniqueness rule and one bounded sample collect per
    failing rule. The follow-up jobs (samples and groupBys) depend only on
    the aggregation's counts, so they run concurrently (:func:`fan_out`);
    results are row rules in rule order, then uniqueness rules."""
    row_rules = [r for r in rules if r.kind != "unique"]
    uniq_rules = [r for r in rules if r.kind == "unique"]

    aggs = [F.count(F.lit(1)).alias("__total")]
    preds = [_violation_predicate(r, now) for r in row_rules]
    for i, pred in enumerate(preds):
        aggs.append(F.sum(F.when(pred, 1).otherwise(0)).alias(f"__viol_{i}"))
    counts = df.agg(*aggs).collect()[0] if row_rules else None
    total = int(counts["__total"]) if counts is not None else df.count()

    def sample(i: int) -> list[dict]:
        return [
            row.asDict(recursive=True)
            for row in df.filter(preds[i]).limit(sample_failures).collect()
        ]

    def uniqueness(r: DQRule) -> DQResult:
        dupes = (
            df.groupBy(r.column)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
        )
        sample_rows = dupes.limit(sample_failures).collect()
        n_dupe_keys = dupes.count()
        return DQResult(
            r,
            n_dupe_keys == 0,
            n_dupe_keys,
            total,
            [row.asDict() for row in sample_rows],
        )

    fails = [int(counts[f"__viol_{i}"]) for i in range(len(row_rules))]
    # The follow-up jobs (failure samples, uniqueness groupBys) are
    # independent of each other: run them concurrently, keep rule order.
    sampled = [i for i, n in enumerate(fails) if n and sample_failures]
    jobs = [partial(sample, i) for i in sampled]
    jobs += [partial(uniqueness, r) for r in uniq_rules]
    done = fan_out(df.sparkSession, lambda job: job(), jobs)
    samples = dict(zip(sampled, done))
    results = [
        DQResult(r, n == 0, n, total, samples.get(i, []))
        for i, (r, n) in enumerate(zip(row_rules, fails))
    ]
    return results + done[len(sampled):]
