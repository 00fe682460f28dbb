"""True LocalRelation construction for small driver-side tables.

``spark.createDataFrame(list)`` routes through ``parallelize`` and
yields an RDD-backed DataFrame cut into ``defaultParallelism`` slices:
every collect/broadcast of it is a real Spark job (measured ~0.2-0.4 s
at the action floor), and a cross join of two of them becomes an
N x M-task CartesianProduct (measured 13.8 s for 50x50 rows at
local[32]). A SQL ``VALUES`` list instead parses straight into a
``LocalTableScan``: collect is driver-only (~0.04 s, no job), a
broadcast builds without launching tasks, and local x local joins are
single-partition.

``local_df`` renders rows as a VALUES clause with explicit CASTs to
the requested DDL schema (so types match ``createDataFrame`` exactly)
for the supported scalar types, and falls back to plain
``createDataFrame`` for anything else or for row sets large enough
that parse time / plan size would bite (serving batches of tens of
thousands of qterm rows)."""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import _parse_datatype_string

#: above this many rows the VALUES parse/plan cost outgrows the saved
#: job (and very large literal plans stress the driver) — fall back
MAX_LOCAL_ROWS = 2048


def _render(v) -> str | None:
    """One SQL literal, or None when the value type is unsupported
    (caller falls back to createDataFrame)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return ("CAST('Infinity' AS DOUBLE)" if v > 0
                    else "CAST('-Infinity' AS DOUBLE)")
        # repr round-trips doubles exactly; the string->double CAST
        # parses with strtod, so the bits survive
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, str):
        # a quote or backslash would need escaping, and how the parser
        # reads a backslash depends on
        # spark.sql.parser.escapedStringLiterals — leave those to the
        # fallback (engine terms match [a-z0-9]+, so serving never
        # takes it)
        if "'" in v or "\\" in v or "\x00" in v:
            return None
        return f"'{v}'"
    return None


def local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A DataFrame over `rows` with DDL `schema`, as a LocalRelation
    when possible (see module doc), else plain createDataFrame."""
    rows = list(rows)
    if not rows or len(rows) > MAX_LOCAL_ROWS:
        return spark.createDataFrame(rows, schema)
    st = _parse_datatype_string(schema)
    rendered: list[str] = []
    for r in rows:
        cells = []
        for v in r:
            lit = _render(v)
            if lit is None:
                return spark.createDataFrame(rows, schema)
            cells.append(lit)
        rendered.append("(" + ", ".join(cells) + ")")
    casts = ", ".join(
        f"CAST(c{i} AS {f.dataType.simpleString()}) AS {f.name}"
        for i, f in enumerate(st.fields)
    )
    cols = ", ".join(f"c{i}" for i in range(len(st.fields)))
    return spark.sql(
        f"SELECT {casts} FROM (VALUES {', '.join(rendered)}) "
        f"AS t({cols})"
    )


def in_filter(col: str, values) -> Column:
    """``col IN (values)`` as ONE parsed expression. ``Column.isin``
    makes one py4j round trip per literal (0.12-0.19 s for a 100-query
    batch's ~330 terms, against ~0.02 s parsed); the optimized plan is
    the same ``In``/``InSet`` either way. Falls back to ``isin`` when
    a value has no literal here (see ``_render``) or `values` is empty
    (``IN ()`` does not parse)."""
    values = list(values)
    lits = [_render(v) for v in values]
    if not lits or None in lits:
        return F.col(col).isin(values)
    return F.expr(f"`{col}` IN ({', '.join(lits)})")
