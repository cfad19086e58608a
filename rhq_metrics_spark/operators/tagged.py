"""A5: group-by-tag statistics — stats keyed by tag-value combination.

Reference: TaggedBucketPointTransformer (core/.../transformers/
TaggedBucketPointTransformer.java:41-73) + TaggedDataPointCollector
(.../TaggedDataPointCollector.java:38-85): filter points whose
*point-level* tags satisfy every (key → pattern) predicate, then group
by the combination of those tag keys' values (not by time) and emit the
same stat set as A1.

Tag predicates follow PatternUtil.filterPattern (PatternUtil.java:34-41):
``*`` → ``.*``, leading ``!`` negates, Java full-match anchoring.

Spark-first: map-access filter + groupBy on the extracted tag values —
one hash-agg, no explode.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from rhq_metrics_spark.operators.stats import _stat_aggs
from rhq_metrics_spark.tags.compiler import full_match


def tag_predicate(tags_col: Column, key: str, pattern: str) -> Column:
    """Point-tag predicate with the reference's regex conventions."""
    value = tags_col[key]
    if pattern == "*":
        return value.isNotNull()
    negated = pattern.startswith("!")
    if negated:
        pattern = pattern[1:]
    matched = full_match(value, pattern)
    return value.isNotNull() & (~matched if negated else matched)


def tagged_stats(
    df: DataFrame,
    tag_filters: Mapping[str, str],
    percentiles: Sequence[float] = (),
    value_col: str = "value",
    tags_col: str = "tags",
    approx: bool = False,
    value_scale: int | None = None,
) -> DataFrame:
    """Output: one column ``tag_<key>`` per filter key + A1 stat columns."""
    if not tag_filters:
        raise ValueError("tagged_stats requires at least one tag filter")
    tags = F.col(tags_col)
    cond = None
    for k, pat in tag_filters.items():
        p = tag_predicate(tags, k, pat)
        cond = p if cond is None else (cond & p)
    keys = [tags[k].alias(f"tag_{k}") for k in tag_filters]
    return (
        df.filter(cond)
        .groupBy(*keys)
        .agg(*_stat_aggs(value_col, percentiles, approx, value_scale))
    )
