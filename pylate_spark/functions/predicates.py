"""Column predicates whose planning cost does not grow with their input.

``Column.isin(values)`` sends every literal to the JVM with its own
py4j calls (a ``lit`` per value plus one list ``add`` each), so a filter
on a few hundred query terms costs several hundred driver↔JVM round
trips before Spark sees the plan. :func:`in_list` renders the same
predicate as SQL text and parses it in ONE call: Catalyst receives the
identical ``In`` (``InSet`` above the optimizer's conversion threshold)
over the same literals, so Parquet pushdown and partition pruning are
unchanged.
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F


def _sql_string(s: str) -> str:
    """Single-quoted Spark SQL literal, escaped for the default parser
    (``spark.sql.parser.escapedStringLiterals=false``)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _escapes_processed() -> bool:
    spark = SparkSession.getActiveSession()
    conf = "spark.sql.parser.escapedStringLiterals"
    return spark is None or spark.conf.get(conf, "false").lower() != "true"


def in_list(name: str, values: Iterable) -> Column:
    """``name IN (values…)`` — equivalent to ``F.col(name).isin(values)``
    for ints or strings, built with a constant number of gateway calls.

    An empty ``values`` gives ``false`` (``isin([])`` filters every row
    out too). Strings containing ``'`` or ``\\`` need the parser's
    escape processing; where a session turned it off the predicate
    falls back to ``isin``, which is slower but still exact."""
    vals = list(values)
    if not vals:
        return F.lit(False)
    if all(isinstance(v, str) for v in vals):
        special = any("'" in v or "\\" in v for v in vals)
        if special and not _escapes_processed():
            return F.col(name).isin(vals)
        body = ", ".join(map(_sql_string, vals))
    elif all(isinstance(v, (int, np.integer)) and not isinstance(v, bool) for v in vals):
        body = ", ".join(str(int(v)) for v in vals)
    else:
        raise TypeError("in_list takes only ints or only strings")
    quoted = "`" + name.replace("`", "``") + "`"
    return F.expr(f"{quoted} IN ({body})")
