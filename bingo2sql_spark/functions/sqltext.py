"""Spark SQL text builders for plan construction.

Every `pyspark.sql.functions` call is one or more py4j round trips to
the driver JVM, so a statement template assembled Column by Column
costs thousands of gateway calls before any job runs. Building the same
expression as SQL text and handing it to Spark in one `F.expr` /
`selectExpr` call parses it into the identical Catalyst tree at the
cost of a few calls. These helpers quote Python values into that text.
"""

from __future__ import annotations

# Spark's string-literal unescaping (ParserUtils.unescapeSQLString, the
# default spark.sql.parser.escapedStringLiterals=false) maps \\ and \'
# back and decodes \uXXXX; control characters travel as \uXXXX so the
# SQL text itself never carries a raw NUL or line break
_STR_ESCAPES = {ord("\\"): "\\\\", ord("'"): "\\'"}
_STR_ESCAPES.update({c: f"\\u{c:04x}" for c in range(32)})
_STR_ESCAPES[0x7F] = "\\u007f"


def str_lit(s: str) -> str:
    """A Python string as a Spark SQL string literal."""
    return "'" + s.translate(_STR_ESCAPES) + "'"


def ident(name: str) -> str:
    """A column or field name as a backquoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def field(struct: str, name: str) -> str:
    """`struct`.`name` — one field of a struct column."""
    return f"{ident(struct)}.{ident(name)}"
