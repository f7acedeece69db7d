"""Compare two sets of saved benchmark results.

    python3 perfbench/compare.py --base perfbench/.work/results/query-*trace0.json \
                                 --new  other/results/query-*trace0.json

For every workload and end-to-end metric it prints each side's median
and quartiles and the change of the medians, judged against the bound
in ``BENCHMARK.json`` when that file sits at the checkout root. A
change whose base spread (quartile distance over median) is wider than
the bound is reported as unresolved, not as unchanged.

Results recorded on different hosts are refused (exit code 2): the
host record's hardware, versions, master and heap must all match.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
from perfbench.host import HOST_KEYS  # noqa: E402


def load(paths: list[str]) -> list[dict]:
    return [json.loads(Path(p).read_text()) for p in paths]


def host_key(rec: dict) -> tuple:
    return tuple(rec["host"].get(k) for k in HOST_KEYS)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args(argv)
    base, new = load(args.base), load(args.new)
    hosts = {host_key(r) for r in base + new}
    if len(hosts) != 1:
        print("refusing to compare: results come from different hosts:", file=sys.stderr)
        for h in sorted(hosts, key=str):
            print("  " + json.dumps(dict(zip(HOST_KEYS, h))), file=sys.stderr)
        return 2
    spec = Path(__file__).resolve().parent.parent / "BENCHMARK.json"
    bounds = {}
    if spec.is_file():
        bounds = {m["name"]: (m["bound"], m["better"]) for m in json.loads(spec.read_text())["end_to_end"]}
    sides: dict[str, dict[str, dict[str, list[float]]]] = defaultdict(lambda: defaultdict(lambda: defaultdict(list)))
    for side, recs in (("base", base), ("new", new)):
        for r in recs:
            if r["trace"]:
                continue
            for m, v in r["e2e"].items():
                sides[r["workload"]][m][side].append(float(v))
    for wl in sorted(sides):
        print(f"## {wl}")
        for m, s in sorted(sides[wl].items()):
            if not s["base"] or not s["new"]:
                continue
            b1, b, b3 = quartiles(s["base"])
            n1, n, n3 = quartiles(s["new"])
            change = n / b - 1 if b else float("nan")
            verdict = ""
            if m in bounds:
                bound, better = bounds[m]
                worse = change if better == "lower" else -change
                spread = (b3 - b1) / b if b else float("inf")
                if spread > bound:
                    verdict = f"unresolved (base spread {spread:.1%} > bound {bound:.0%})"
                else:
                    verdict = "REGRESSION" if worse > bound else "within bound"
            print(f"{m:<14} base {b:.4f} [{b1:.4f}, {b3:.4f}] n={len(s['base'])}  "
                  f"new {n:.4f} [{n1:.4f}, {n3:.4f}] n={len(s['new'])}  {change:+.1%}  {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
