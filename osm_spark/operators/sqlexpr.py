"""Quoting for operator plans written as SQL expression strings."""

from __future__ import annotations


def sql_name(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(s: str) -> str:
    """``s`` as a SQL string literal: the parser unescapes backslashes,
    so a regexp's ``\\d`` must reach it as ``\\\\d``."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
