"""Dump .explain("formatted") for every catalog query (or the named
ones) into <out_dir>/<name>_<tag>.txt (tag = before/after).

Usage: python scripts/dump_plans.py <out_dir> <tag> [name ...]
e.g.   python scripts/dump_plans.py plans/r08 after bm25_join_topk

Jobs a query runs eagerly while it is being planned (a ``collect()``
inside the operator, e.g. search_join's bucket pre-job) are appended
after the final plan, one "== eager job" section each.

Plans are captured at sf0.001 (the correctness scale) — plan SHAPE
(Exchange count, join strategy, PushedFilters, Python-eval nodes) is
what the optimization round pins; sizes differ at bench scale but the
shape claims hold at both.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("PYLATE_TEST_SF_DIR", "/root/testdata/sf0.001")


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main(out_dir: str, tag: str, only: list[str]) -> None:
    from pylate_spark.session import get_spark

    import __spark_entry__ as entry_mod

    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"dump_plans_{tag}")
    queries = entry_mod.queries()
    names = only or sorted(queries)
    # the session's concrete DataFrame class (Spark 4's classic
    # DataFrame overrides the collect of pyspark.sql.DataFrame)
    DataFrame = type(spark.range(1))
    collect = DataFrame.collect
    for name in names:
        queries[name](spark, SF_DIR)  # first call builds shared fixtures
        eager: list[str] = []

        def recording_collect(self):
            eager.append(_explain(self))
            return collect(self)

        DataFrame.collect = recording_collect
        try:
            df = queries[name](spark, SF_DIR)
        finally:
            DataFrame.collect = collect
        plan = _explain(df) + "".join(
            f"\n== eager job {i} ==\n{p}" for i, p in enumerate(eager)
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2], sys.argv[3:])
