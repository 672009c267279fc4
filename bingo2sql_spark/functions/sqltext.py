"""Spark SQL text builders for plan construction.

Every `pyspark.sql.functions` call is one or more py4j round trips to
the driver JVM, so a statement template assembled Column by Column
costs thousands of gateway calls before any job runs. Building the same
expression as SQL text and handing it to Spark in one `F.expr` /
`selectExpr` call parses it into the identical Catalyst tree at the
cost of a few calls. These helpers quote Python values into that text
and plan it over named DataFrames (`Views`).
"""

from __future__ import annotations

import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

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


class Views:
    """The DataFrames one SQL text reads, each as a temp view under a
    fresh name. `add(df)` returns the backquoted name to splice into the
    text; `sql(spark, text)` registers the views, plans the text, and
    drops the views again. The returned DataFrame keeps the analyzed
    plan, so it outlives the views and the catalog is left as it was;
    fresh names keep plans built concurrently on one session apart.

    One statement costs a few gateway calls however wide it is, where
    `select(*cols)` or `selectExpr(*texts)` pay one per argument to
    build the Java list, and a Column tree one or more per node."""

    def __init__(self) -> None:
        self._frames: dict[str, DataFrame] = {}

    def add(self, df: DataFrame) -> str:
        name = f"_bingo_{uuid.uuid4().hex}"
        self._frames[name] = df
        return ident(name)

    def sql(self, spark: SparkSession, text: str) -> DataFrame:
        registered = []
        try:
            for name, df in self._frames.items():
                df._jdf.createOrReplaceTempView(name)
                registered.append(name)
            return DataFrame(spark._jsparkSession.sql(text), spark)
        finally:
            for name in registered:
                spark.catalog.dropTempView(name)


def sql_over(df: DataFrame, build: Callable[[str], str]) -> DataFrame:
    """The SQL text `build(name)` over the one DataFrame `df`, which it
    reads as the relation `name`, planned on df's session."""
    views = Views()
    return views.sql(df.sparkSession, build(views.add(df)))


def sql(spark: SparkSession, text: str) -> DataFrame:
    """A SQL text that reads no DataFrame, planned in one gateway call
    (`spark.sql` also ships its empty parameter list)."""
    return Views().sql(spark, text)
