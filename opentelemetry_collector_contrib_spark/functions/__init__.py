from .severity import SEVERITY_TABLE, severity_text_expr, severity_number_expr, severity_case_sql
from .timefmt import strptime_to_spark
from .tokens import encode_text, DECODE_SQL_DUCKDB

__all__ = [
    "SEVERITY_TABLE",
    "severity_text_expr",
    "severity_number_expr",
    "severity_case_sql",
    "strptime_to_spark",
    "encode_text",
    "DECODE_SQL_DUCKDB",
]
