from rhq_metrics_spark.tags.compiler import (
    compile_expression,
    compile_simple_query,
    find_metric_ids,
    full_match,
)
from rhq_metrics_spark.tags.parser import parse_tag_query

__all__ = [
    "compile_expression",
    "compile_simple_query",
    "find_metric_ids",
    "full_match",
    "parse_tag_query",
]
