from .parse import build_service_log_text, parse_service_logs

__all__ = ["build_service_log_text", "parse_service_logs", "sql_ident"]


def sql_ident(name: str) -> str:
    """``name`` as one backtick-quoted Spark SQL identifier (embedded
    backticks doubled), for column names interpolated into SQL text: a
    name with spaces, dots or backticks then parses as the same column
    the Column API would resolve."""
    return "`" + name.replace("`", "``") + "`"
