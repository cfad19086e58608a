"""Tag-query language — parser + compiler vs the reference's semantics.

Mirrors ExpressionTagQueryITest / TagsITest cases (SURVEY.md §5):
=, !=, ~, !~, IN, NOT IN, bare key, NOT key, AND/OR, parens, quoting,
has-key convention for negative operators, full-match regex anchoring.
"""

import pyspark.sql.functions as F
import pytest

from rhq_metrics_spark.model import METRICS_IDX_SCHEMA
from rhq_metrics_spark.tags import find_metric_ids, full_match, parse_tag_query
from rhq_metrics_spark.tags.parser import And, Cmp, Exists, In, Or


@pytest.fixture(scope="module")
def metrics_idx(spark):
    rows = [
        ("t1", "gauge", "m1", {"a1": "a", "hostname": "web01", "env": "prod"}, None),
        ("t1", "gauge", "m2", {"a1": "b", "hostname": "web02", "env": "stage"}, None),
        ("t1", "gauge", "m3", {"a1": "abc", "hostname": "db01", "env": "prod"}, 7),
        ("t1", "gauge", "m4", {"a1": "defg", "env": "dev"}, None),
        ("t1", "gauge", "m5", {"hostname": "web03"}, 30),
    ]
    return spark.createDataFrame(rows, METRICS_IDX_SCHEMA)


def ids(df):
    return sorted(r["metric"] for r in df.select("metric").collect())


class TestParser:
    def test_simple_eq(self):
        assert parse_tag_query("a1 = b") == Cmp("a1", "=", "b")

    def test_precedence_and_over_or(self):
        node = parse_tag_query("a = 1 OR b = 2 AND c = 3")
        assert isinstance(node, Or) and isinstance(node.right, And)

    def test_parens(self):
        node = parse_tag_query("(a = 1 OR b = 2) AND c = 3")
        assert isinstance(node, And) and isinstance(node.left, Or)

    def test_quoted_value(self):
        assert parse_tag_query("a = 'hello world'") == Cmp("a", "=", "hello world")

    def test_quoted_escapes(self):
        assert parse_tag_query(r"a = 'it\'s'") == Cmp("a", "=", "it's")

    def test_in_list(self):
        assert parse_tag_query("a IN [x, y]") == In("a", ("x", "y"), False)

    def test_not_in(self):
        assert parse_tag_query("a NOT IN ['x']") == In("a", ("x",), True)

    def test_exists_and_not(self):
        assert parse_tag_query("a1") == Exists("a1", False)
        assert parse_tag_query("NOT a1") == Exists("a1", True)

    def test_case_insensitive_keywords(self):
        node = parse_tag_query("a = 1 and b = 2 or not c")
        assert isinstance(node, Or)

    def test_bad_input(self):
        with pytest.raises(ValueError):
            parse_tag_query("a = ")
        with pytest.raises(ValueError):
            parse_tag_query("(a = 1")


class TestCompiler:
    def test_eq(self, metrics_idx):
        assert ids(find_metric_ids(metrics_idx, "env = prod")) == ["m1", "m3"]

    def test_neq_requires_key(self, metrics_idx):
        # m5 has no env tag → excluded (has-key convention, :160-164)
        assert ids(find_metric_ids(metrics_idx, "env != prod")) == ["m2", "m4"]

    def test_regex_full_match(self, metrics_idx):
        # Java matches() anchoring: 'web' alone matches nothing
        assert ids(find_metric_ids(metrics_idx, "hostname ~ web")) == []
        assert ids(find_metric_ids(metrics_idx, "hostname ~ 'web.*'")) == [
            "m1", "m2", "m5",
        ]

    def test_not_regex(self, metrics_idx):
        # has-key convention: m4 (no hostname) excluded
        assert ids(find_metric_ids(metrics_idx, "hostname !~ 'web.*'")) == ["m3"]

    def test_star_is_existence(self, metrics_idx):
        assert ids(find_metric_ids(metrics_idx, "hostname ~ '*'")) == [
            "m1", "m2", "m3", "m5",
        ]

    def test_in(self, metrics_idx):
        assert ids(find_metric_ids(metrics_idx, "a1 IN [a, b]")) == ["m1", "m2"]

    def test_not_in_requires_key(self, metrics_idx):
        assert ids(find_metric_ids(metrics_idx, "a1 NOT IN [a, b]")) == ["m3", "m4"]

    def test_exists(self, metrics_idx):
        assert ids(find_metric_ids(metrics_idx, "a1")) == ["m1", "m2", "m3", "m4"]

    def test_not_exists(self, metrics_idx):
        assert ids(find_metric_ids(metrics_idx, "NOT a1")) == ["m5"]

    def test_and_or_parens(self, metrics_idx):
        q = "(env = prod OR env = stage) AND hostname ~ 'web.*'"
        assert ids(find_metric_ids(metrics_idx, q)) == ["m1", "m2"]

    def test_alternation_rewrite_to_in(self, metrics_idx):
        # plain a|b|c alternation compiles to isin (SimpleTagQueryParser:216-230)
        assert ids(find_metric_ids(metrics_idx, "a1 ~ 'a|b'")) == ["m1", "m2"]

    def test_simple_map_syntax(self, metrics_idx):
        assert ids(find_metric_ids(metrics_idx, simple={"env": "prod"})) == ["m1", "m3"]
        assert ids(find_metric_ids(metrics_idx, simple={"a1": "*"})) == [
            "m1", "m2", "m3", "m4",
        ]
        assert ids(find_metric_ids(metrics_idx, simple={"a1": "!a"})) == [
            "m2", "m3", "m4",
        ]
        assert ids(
            find_metric_ids(metrics_idx, simple={"env": "prod", "hostname": "web.*"})
        ) == ["m1"]

    def test_id_regex_filter(self, metrics_idx):
        assert ids(find_metric_ids(metrics_idx, "env = prod", id_regex="m1")) == ["m1"]
        assert ids(find_metric_ids(metrics_idx, "env = prod", id_regex="!m1")) == ["m3"]


def test_full_match_twins_rlike_and_compiles_once(spark, tmp_path):
    """``full_match`` keeps ``rlike``'s anchored Java-regex answers
    (nulls included) but leaves the pattern out of the generated code,
    so a new pattern reuses the compiled stage instead of compiling a
    fresh one."""
    values = ["", "web01", "web", "a\nb", "abc\n", "x.y", "xzy", None,
              "\u03a9\u03a9", "a|b", "WEB01"]
    path = str(tmp_path / "values")
    spark.createDataFrame([(v,) for v in values], "v string") \
        .coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    v = F.col("v")
    patterns = [".*", "web", "web.*", "a.b", "abc", r"x\.y", "[a-c]+",
                "(?i)web01", "", "\u03a9+", "a|b", "a\\|b"]
    for p in patterns:
        got = df.select(v, full_match(v, p).alias("m")).collect()
        want = df.select(v, v.rlike(f"^(?:{p})$").alias("m")).collect()
        assert sorted(got, key=str) == sorted(want, key=str), p

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    def compiled_by(cond) -> int:
        before = compiles.getCount()
        df.filter(cond).collect()
        return compiles.getCount() - before

    compiled_by(full_match(v, "w.*1"))
    assert compiled_by(full_match(v, "w.*2")) == 0
    # the inlined rlike pattern is what made every new pattern compile
    assert compiled_by(v.rlike("^(?:w.*3)$")) > 0

