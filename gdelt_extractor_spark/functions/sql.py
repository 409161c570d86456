"""Plan building from SQL strings.

Every ``F.*`` call is a Py4J round trip from the Python driver to the
JVM, and every Column it returns is one more JVM reference to delete:
one ``F.col`` costs about 14 round trips, an ``F.expr`` 3 and a
``selectExpr`` about one per string.  The operators on the flows users
run (the GDELT load, curation and near-dup dedup) therefore build
their projections as SQL text derived from their arguments; these
helpers spell the pieces the same way everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def name(col: str) -> str:
    """``col`` as a SQL column reference, resolved as ``F.col(col)``
    resolves it: each dot-separated part backquoted, so a dot still
    reaches into a struct; a name already holding backquotes is taken
    as written."""
    if "`" in col:
        return col
    return ".".join(f"`{part}`" for part in col.split("."))


def lit(value: bool | int | float | str) -> str:
    """A Python constant as the SQL literal ``F.lit`` would build:
    floats as DOUBLE (a bare ``0.6`` parses as DECIMAL), strings raw,
    so regex backslashes pass through untouched (a raw literal cannot
    hold a quote; such a string is escaped instead)."""
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        return f"{value!r}D"
    if "'" in value:
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return f"r'{value}'"


def where(df: DataFrame, cond: str) -> DataFrame:
    """The ``df`` rows where the SQL condition ``cond`` holds.  A
    generator, not a filter: Catalyst pushes a filter below the
    projection that computes its inputs and inlines them, so a
    condition on a derived column (a GDELT row's split fields, a
    document's token array) recomputes the derivation once per
    reference (5x the parse time of a 200k-line v2 export; 10 splits
    of every document for the Gopher verdict).  A generator's input is
    computed once, below it."""
    keep = f"explode(CASE WHEN {cond} THEN array(0) END) AS _keep"
    return df.selectExpr("*", keep).drop("_keep")
