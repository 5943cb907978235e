"""Scalar/vector helper functions built purely from pyspark.sql.functions —
JVM-side, codegen-friendly, no Python UDFs in any hot path."""

from .vectors import cosine, dot, l2_norm  # noqa: F401


def _quote_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier, embedded backticks
    doubled, so any column name can be spliced into a SQL expression
    string."""
    return "`" + name.replace("`", "``") + "`"
