"""Tracing for the benchmark's traced runs (``--trace 1``).

Three sources, all recorded from outside the engine:

- spans the harness opens around calls into each layer (name, start,
  end, parent, op id), kept in memory; each span is also the Spark job
  group of the jobs it submits, so
- Spark's event log (turned on through ``get_spark(extra_conf=...)``)
  can be attributed to spans: executor run time, GC, shuffle, spill and
  task times per stage, grouped by the span that submitted the job;
- an in-process replay of the query kernel (``plans.wand.score_shard``)
  and the posting codec on the rows a search batch matched, with
  counting wrappers around ``decode_postings`` and ``choose_mode`` in
  the ``plans.wand`` namespace.

Untraced runs create a :class:`Tracer` with ``enabled=False``: spans
cost nothing and no engine function is wrapped.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
from collections import defaultdict
from pathlib import Path

import numpy as np


def event_log_conf(log_dir: Path) -> dict[str, str]:
    """Spark conf that writes one plain-JSON event log into ``log_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """In-memory span recorder; every span is the Spark job group of the
    jobs submitted inside it (innermost span wins)."""

    def __init__(self, sc, enabled: bool, tag: str = ""):
        self.sc = sc
        self.enabled = enabled
        self.tag = tag  # keeps job groups unique when runs share a session
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    def _set_group(self) -> None:
        if self._stack:
            sid = self._stack[-1]
            self.sc.setJobGroup(self.group(sid), self.spans[sid]["name"])
        else:
            self.sc.setJobGroup("pb-none", "outside any span")

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "op": self.op, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group()

    def wrap(self, module, attr: str, span_name: str) -> None:
        """Replace ``module.attr`` with a version that runs inside a span
        (traced runs only); :meth:`unwrap_all` restores it."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapped(*a, **kw):
            with self.span(span_name):
                return orig(*a, **kw)

        self._patches.append((module, attr, orig))
        setattr(module, attr, wrapped)

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def group(self, sid: int) -> str:
        return f"pb{self.tag}-{sid}"

    def groups(self, prefix: str) -> set[str]:
        """Job groups of every span whose name starts with ``prefix``."""
        return {self.group(s["id"]) for s in self.spans if s["name"].startswith(prefix)}

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans))


# --- event log ---------------------------------------------------------------

def _task_bytes(metrics: dict) -> tuple[int, int, int, int]:
    """(input, shuffle read, shuffle write, disk spill) bytes of one task."""
    sr = metrics.get("Shuffle Read Metrics", {})
    sw = metrics.get("Shuffle Write Metrics", {})
    return (
        int(metrics.get("Input Metrics", {}).get("Bytes Read", 0)),
        int(sr.get("Remote Bytes Read", 0)) + int(sr.get("Local Bytes Read", 0)),
        int(sw.get("Shuffle Bytes Written", 0)),
        int(metrics.get("Disk Bytes Spilled", 0)),
    )


class StageStats:
    __slots__ = ("stage", "group", "run_ms", "gc_ms", "input_b", "read_b", "write_b",
                 "spill_b", "task_ms")

    def __init__(self, stage: int, group: str | None):
        self.stage, self.group = stage, group
        self.run_ms = self.gc_ms = 0
        self.input_b = self.read_b = self.write_b = self.spill_b = 0
        self.task_ms: list[int] = []

    def skew(self) -> float:
        """max / median task time (1.0 = perfectly even)."""
        if not self.task_ms:
            return 0.0
        med = statistics.median(self.task_ms)
        return max(self.task_ms) / med if med > 0 else 1.0

    def row(self, span: str) -> dict:
        """The stage as one row of the traced run's stage table."""
        return {
            "span": span, "stage": self.stage, "run_s": self.run_ms / 1e3,
            "gc_s": self.gc_ms / 1e3, "input_mb": self.input_b / 1e6,
            "shuffle_read_mb": self.read_b / 1e6, "shuffle_write_mb": self.write_b / 1e6,
            "spill_mb": self.spill_b / 1e6, "tasks": len(self.task_ms),
            "task_max_s": max(self.task_ms, default=0) / 1e3,
            "task_median_s": statistics.median(self.task_ms) / 1e3 if self.task_ms else 0.0,
        }


def read_event_log(log_dir: Path) -> tuple[dict[str, int], list[StageStats]]:
    """Parse every event log under ``log_dir`` → (jobs per job group,
    per-stage stats with the job group of the job that ran the stage)."""
    stage_group: dict[int, str | None] = {}
    jobs: dict[str, int] = defaultdict(int)
    stages: dict[int, StageStats] = {}
    files = [p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith(".")]
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[group] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    st = stages.get(sid)
                    if st is None:
                        st = stages[sid] = StageStats(sid, stage_group.get(sid))
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    st.run_ms += int(m.get("Executor Run Time", 0))
                    st.gc_ms += int(m.get("JVM GC Time", 0))
                    i, r, w, s = _task_bytes(m)
                    st.input_b += i
                    st.read_b += r
                    st.write_b += w
                    st.spill_b += s
                    if info.get("Finish Time") and info.get("Launch Time"):
                        st.task_ms.append(int(info["Finish Time"]) - int(info["Launch Time"]))
    return dict(jobs), list(stages.values())


class SpanStats:
    """Event-log stats of the jobs submitted inside a set of spans."""

    def __init__(self, jobs: dict[str, int], stages: list[StageStats], groups: set[str]):
        self.jobs = sum(n for g, n in jobs.items() if g in groups)
        self.stages = [s for s in stages if s.group in groups]

    def mb(self, field: str) -> float:
        return sum(getattr(s, field) for s in self.stages) / 1e6

    def heaviest(self) -> StageStats | None:
        return max(self.stages, key=lambda s: s.run_ms, default=None)

    def heaviest_s(self) -> float:
        st = self.heaviest()
        return st.run_ms / 1e3 if st else 0.0

    def skew(self) -> float:
        """Task skew of the stage that did the most executor work."""
        st = self.heaviest()
        return st.skew() if st else 0.0


# --- kernel / codec replay ----------------------------------------------------

REPLAY_COLS = ["shard", "term", "df", "b_first", "b_last", "b_n", "b_max_tf", "b_min_dl",
               "b_off", "payload"]


class KernelReplay:
    """Replays ``plans.wand.score_shard`` and the posting codec on the
    segment rows one search batch matched, in this process, with
    counting wrappers in the ``plans.wand`` namespace."""

    def __init__(self):
        self.counts: dict[str, float] = defaultdict(float)
        self.times: dict[str, float] = defaultdict(float)

    def replay(self, spark, index_dir: str, qrows: list[tuple[int, str]], k: int) -> None:
        from pyspark.sql import functions as F

        from pylate_spark import storage
        from pylate_spark.config import IndexConfig
        from pylate_spark.functions import codec
        from pylate_spark.functions.bm25 import idf_np
        from pylate_spark.functions.tokenize import tokenize_py
        from pylate_spark.plans import wand
        from pylate_spark.plans.build import IndexPaths, active_dir, load_manifest

        paths = IndexPaths(index_dir)
        manifest = load_manifest(paths)
        config = IndexConfig.from_dict(manifest["config"])
        qmap = {int(q): sorted(set(tokenize_py(t, config.token_pattern))) for q, t in qrows}
        terms = sorted({t for ts in qmap.values() for t in ts})
        dfs = {
            r["term"]: int(r["df"])
            for r in spark.read.parquet(active_dir(paths, manifest, "term_stats"))
            .where(F.col("term").isin(terms)).select("term", "df").collect()
        }
        n_docs = int(manifest["n_docs"])
        idf = {t: float(idf_np(df, n_docs)) for t, df in dfs.items()}
        qmap = {q: [t for t in ts if t in idf] for q, ts in qmap.items()}
        qmap = {q: ts for q, ts in qmap.items() if ts}
        rows = (
            spark.read.parquet(active_dir(paths, manifest, "segments"))
            .where(F.col("term").isin(list(idf)))
            .select(*REPLAY_COLS)
            .toPandas()
        )
        tomb_dir = active_dir(paths, manifest, "tombstones")
        tomb = None
        if storage.exists(tomb_dir):
            tomb = np.sort(spark.read.parquet(tomb_dir).toPandas()["docid"].to_numpy(np.int64))
        avgdl, params = float(manifest["avgdl"]), config.bm25
        c = self.counts
        c["postings_matched"] += float(rows["df"].sum())
        c["blocks_matched"] += float(sum(len(b) for b in rows["b_n"]))

        orig_decode, orig_choose = wand.decode_postings, wand.choose_mode

        def counting_decode(payload, blocks, select=None):
            out = orig_decode(payload, blocks, select=select)
            c["postings_decoded"] += out[0].size
            c["blocks_decoded"] += blocks.first.size if select is None else len(select)
            return out

        def counting_choose(n_terms, k_):
            mode = orig_choose(n_terms, k_)
            c[f"queries_{mode}"] += 1
            return mode

        groups = [g for _, g in rows.groupby("shard", sort=True)]
        for mode in ("auto", "cascade", "exhaustive"):
            if mode == "auto":
                wand.decode_postings, wand.choose_mode = counting_decode, counting_choose
            try:
                t0 = time.perf_counter()
                for g in groups:
                    wand.score_shard(g, qmap, idf, avgdl, k, params, mode=mode,
                                     tombstones=tomb, shard_size=config.shard_size)
                self.times[mode] += time.perf_counter() - t0
            finally:
                wand.decode_postings, wand.choose_mode = orig_decode, orig_choose

        from pylate_spark.plans.segments import blocks_from_row

        for i in range(len(rows)):
            row = rows.iloc[i]
            blocks = blocks_from_row(row)
            t0 = time.perf_counter()
            d, tf, dl = codec.decode_postings(row["payload"], blocks)
            t1 = time.perf_counter()
            codec.encode_postings(d, tf, dl, block_size=config.block_size)
            t2 = time.perf_counter()
            self.times["decode"] += t1 - t0
            self.times["encode"] += t2 - t1
            c["codec_postings"] += d.size
