"""Bounded driver finish: the one rule by which an operator runs a
small (usually contracted) frame on the driver instead of paying
several scheduler round trips per distributed iteration on it.

``collect_if_small(df, keys)`` hands back the whole frame as pandas
when it has at most ``DRIVER_FINISH_ROWS`` rows AND its ``keys``
columns all share one integral or binary-collated string type, else
``None``.  One ``limit(cap + 1).toPandas()`` job both decides and
carries the data.  The type rule (``admits``) is the domain of the
exactness argument the callers rely on: for integral and UTF8_BINARY
string values, Python's ``==``/``<`` agree with Catalyst's (UTF-8
binary order is code-point order), so a driver loop that groups, takes
minima or breaks ties on the keys returns exactly what the distributed
loop returns.  Floating, decimal, collated-string (e.g.
``StringType("UTF8_LCASE")``, whose equality and order are not
Python's), nested and mixed-type keys route to the distributed loop.
For an admitted frame and a non-negative cap, ``None`` therefore
means "more than the cap rows", so the frame is known non-empty.

The cap is a constant, not an option: callers pick the route from the
frame's observed size and type.  Tests force the distributed route by
setting ``DRIVER_FINISH_ROWS`` below any row count (-1 admits no
frame, not even an empty one).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import IntegralType, StringType

# 100k edges: a few MB through Arrow, ~20 MB for the largest driver
# structure a caller builds on it (connected_components' union-find)
DRIVER_FINISH_ROWS = 100_000


def admits(df: DataFrame, keys: list[str]) -> bool:
    types = {df.schema[k].dataType for k in keys}
    if len(types) != 1:
        return False
    t = next(iter(types))
    return isinstance(t, IntegralType) or t == StringType()


def collect_if_small(df: DataFrame, keys: list[str]) -> pd.DataFrame | None:
    if not admits(df, keys):
        return None
    pdf = df.limit(DRIVER_FINISH_ROWS + 1).toPandas()
    return pdf if len(pdf) <= DRIVER_FINISH_ROWS else None


def collect_pairs_if_small(
    pairs: DataFrame, sym: DataFrame, keys: list[str]
) -> pd.DataFrame | None:
    """``collect_if_small(sym, keys)``'s decision for a symmetrized
    edge set ``sym`` (two rows per row of ``pairs``), taken on
    ``pairs`` without building ``sym``: one ``limit(cap // 2 + 1)`` job
    that admits when 2·rows ≤ cap, the same rule on every cap (odd, 0
    and -1 included).  The type rule reads ``sym``, so ids the union
    widens (int beside bigint) are admitted as they are there.  Returns
    the collected ``pairs`` rows."""
    if not admits(sym, keys):
        return None
    pdf = pairs.limit(DRIVER_FINISH_ROWS // 2 + 1).toPandas()
    return pdf if 2 * len(pdf) <= DRIVER_FINISH_ROWS else None


def none_means_large(df: DataFrame, keys: list[str]) -> bool:
    """True when ``collect_if_small(df, keys)`` returning ``None`` can
    only mean "more than the cap rows" (so ``df`` is non-empty): the
    keys are admitted and the cap is not a test's negative one."""
    return admits(df, keys) and DRIVER_FINISH_ROWS >= 0
