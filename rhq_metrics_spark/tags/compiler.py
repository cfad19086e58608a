"""Tag-query compiler: AST → a single DataFrame filter over metric definitions.

Reference evaluation semantics (ExpressionTagQueryParser.java:114-247):

- ``key = v``   → metrics whose tags contain key with exactly v (:156-158)
- ``key != v``  → metrics that HAVE the key but with a different value
  (:160-164) — NOT "missing or different"
- ``key ~ re``  → metrics that have the key and whose value full-matches
  the Java regex; ``*`` rewrites to ``.*``; a leading ``!`` negates
  (PatternUtil.java:34-41).  Java ``matches()`` anchors — emulated with
  ``^(?:re)$`` (:166-185)
- bare ``key``  → existence (:209-213); ``NOT key`` → tag map lacks the
  key (:186-208)
- ``IN`` / ``NOT IN`` → value-set variants (:120-140); NOT IN keeps only
  metrics that have the key (same has-key convention as ``!=``)
- ``AND`` / ``OR`` → intersection / union of the metric-id sets
  (:229-237)

Architecture divergence (deliberate, Spark-first): the reference
executes one Cassandra index seek per leaf and intersects/unions id
sets, with a hand-rolled cost model to order the seeks
(SimpleTagQueryParser.java:121-231).  Here the whole expression
compiles to **one boolean Column** over the definitions table's
``tags`` map — a single scan, no joins, no shuffles; Catalyst pushes it
down.  The cost-based seek reordering is therefore unnecessary.  The one
reference rewrite worth keeping — regex ``a|b|c`` with no metacharacters
→ IN-list (SimpleTagQueryParser.java:216-230) — is applied at compile
time.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from rhq_metrics_spark.tags.parser import And, Cmp, Exists, In, Or, parse_tag_query

_PLAIN_ALTERNATION_RE = re.compile(r"^[a-zA-Z_0-9.]+(\|[a-zA-Z_0-9.]+)+$")


def full_match(value: Column, pattern: str) -> Column:
    """Java ``matches()``: ``value`` full-matches the Java regex
    ``pattern``.  Spark's regex functions use ``find()``, so the pattern
    is anchored.  ``regexp_instr`` runs the same ``java.util.regex``
    find as ``rlike`` but binds the pattern as a reference, where
    ``rlike`` inlines a literal pattern into the generated code: each
    new pattern would then compile a fresh whole-stage class, and a tag
    query pays a Janino compile per request."""
    return F.regexp_instr(value, F.lit(f"^(?:{pattern})$")) > 0


def _wildcard(pattern: str) -> str:
    """The reference's bare ``*`` pattern means any value."""
    return ".*" if pattern == "*" else pattern


def _regex_predicate(tags: Column, key: str, pattern: str) -> Column:
    negated = pattern.startswith("!")
    if negated:
        pattern = pattern[1:]
    value = tags[key]
    # reference rewrite: plain alternation a|b|c → IN-list (exact seeks)
    if _PLAIN_ALTERNATION_RE.match(pattern):
        matched = value.isin(*pattern.split("|"))
    else:
        matched = full_match(value, _wildcard(pattern))
    return value.isNotNull() & (~matched if negated else matched)


def compile_node(node, tags: Column) -> Column:
    if isinstance(node, And):
        return compile_node(node.left, tags) & compile_node(node.right, tags)
    if isinstance(node, Or):
        return compile_node(node.left, tags) | compile_node(node.right, tags)
    if isinstance(node, Cmp):
        value = tags[node.key]
        if node.op == "=":
            return value == node.value
        if node.op == "!=":
            return value.isNotNull() & (value != node.value)
        if node.op == "~":
            return _regex_predicate(tags, node.key, node.value)
        if node.op == "!~":
            return _regex_predicate(tags, node.key, "!" + node.value)
        raise ValueError(f"unknown op {node.op}")
    if isinstance(node, In):
        value = tags[node.key]
        if not node.values:
            return F.lit(False) if not node.negated else value.isNotNull()
        member = value.isin(*node.values)
        return value.isNotNull() & (~member if node.negated else member)
    if isinstance(node, Exists):
        value = tags[node.key]
        return value.isNull() if node.negated else value.isNotNull()
    raise TypeError(f"unknown AST node: {node!r}")


def compile_expression(expression: str, tags_col: str = "tags") -> Column:
    """Compile a tag-query expression into a boolean Column."""
    return compile_node(parse_tag_query(expression), F.col(tags_col))


def compile_simple_query(tag_map: dict[str, str], tags_col: str = "tags") -> Column:
    """The second, simpler ``tags=k1:v1,k2:v2`` syntax
    (SimpleTagQueryParser.java:233-439): values may be ``*`` (existence),
    ``!re`` (negated regex), ``a|b|c`` (alternation → IN), or a regex;
    all keys AND-ed."""
    tags = F.col(tags_col)
    cond: Column | None = None
    for key, pattern in tag_map.items():
        if pattern == "*":
            p = tags[key].isNotNull()
        else:
            p = _regex_predicate(tags, key, pattern)
        cond = p if cond is None else (cond & p)
    if cond is None:
        raise ValueError("empty simple tag query")
    return cond


def find_metric_ids(
    metrics_idx: DataFrame,
    expression: str | None = None,
    simple: dict[str, str] | None = None,
    id_regex: str | None = None,
    tags_col: str = "tags",
) -> DataFrame:
    """S7/J1 front-end: metric definitions matching a tag query plus the
    optional metric-name regex filter (``!``-negatable,
    MetricsServiceImpl.java:576-583)."""
    df = metrics_idx
    if expression is not None:
        df = df.filter(compile_expression(expression, tags_col))
    if simple:
        df = df.filter(compile_simple_query(simple, tags_col))
    if id_regex:
        negated = id_regex.startswith("!")
        m = full_match(F.col("metric"),
                       _wildcard(id_regex[1:] if negated else id_regex))
        df = df.filter(~m if negated else m)
    return df
