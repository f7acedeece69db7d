"""Benchmark entry point.

    python3 perfbench/run.py --workload {query,dedup} --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One process runs one workload: it
starts a local Spark session sized for the reference host (see
README.md), sets the workload up,
runs its closed loop for ``--seconds``, checks every output, stops the
JVM and its Python workers, and prints

- one line per reported end-to-end metric (name, value, unit, sample
  count), the host record, and with ``--trace 1`` the per-layer table;
- as the last line, one JSON object with ``correct``, ``attempted``,
  ``failed`` and ``metrics``: the gated end-to-end metrics of
  ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
  ``--trace 1``.

Scratch data goes to ``perfbench/.work/run-<pid>/`` and is deleted at
exit; each result is also saved under ``perfbench/.work/results/``,
which ``perfbench/compare.py`` reads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

T_PROCESS = time.perf_counter()

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
HEAP = "2g"  # PYLATE_SPARK_DRIVER_MEM: the reference host has 15 GB, shared


def declared(key: str) -> dict[str, str]:
    """Metric name → unit of one metric list of ``BENCHMARK.json``
    (``end_to_end``: the gated metrics of ``--trace 0``; ``per_layer``:
    those of ``--trace 1``, where a layer a workload does not run
    reports 0)."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[key]}


#: reported end-to-end metrics printed above the result line, per
#: workload (name, value, unit, sample count)
DETAIL = {
    "query": ["setup_s", "setup_wall_s", "setup_cpu_s", "build_docs_per_s",
              "index_bytes_per_doc", "search_p50_s", "search_p90_s", "search_qps", "op_cpu_s",
              "ref_cpu_s", "join_p50_s", "scan_p50_s", "delete_p50_s", "add_p50_s",
              "failed_frac", "peak_rss_mb"],
    "dedup": ["setup_s", "setup_wall_s", "setup_cpu_s", "lsh_pairs_s", "simhash_pairs_s",
              "clusters_s", "op_cpu_s", "ref_cpu_s", "failed_frac", "peak_rss_mb"],
}
#: why a DETAIL metric has no value in a run
UNMEASURED = {
    "join_p50_s": "measured in traced runs only: join, scan and delete do not fit the "
                  "untraced run's time budget",
    "scan_p50_s": "measured in traced runs only (see join_p50_s)",
    "delete_p50_s": "measured in traced runs only (see join_p50_s)",
    "add_p50_s": "never measured: add_documents re-finalizes the whole index (~20 s on "
                 "the reference host) and does not fit a run's time budget",
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["query", "dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def configure_env(work: Path) -> None:
    """Keep every file the JVM, Spark and Python write inside ``work``,
    and size the session through the engine's own env knobs."""
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYLATE_SPARK_DRIVER_MEM"] = HEAP
    os.environ["PYLATE_SPARK_LOCAL_DIR"] = str(work / "spark-local")
    # For every JVM, the launcher spark-submit starts first included;
    # added to the engine's own java options, which session.py keeps
    # choosing. No perf data file and no temp file outside ``work``. C1
    # only: the JVM lives about a minute per run, and with C2 on,
    # compiling took about half of all CPU seconds and per-batch CPU
    # drifted down through the whole run (3.9 -> 2.0 s per search batch)
    # instead of settling.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={work / 'tmp'}")
    import tempfile

    tempfile.tempdir = None


def start_spark(work: Path, master: str, trace: bool):
    from perfbench.tracing import event_log_conf
    from pylate_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": (work / "warehouse").as_uri(),
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update(event_log_conf(work / "eventlog"))
    return get_spark(app_name="perfbench", master=master, extra_conf=conf)


def jvm_gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(int(b.getCollectionTime()), 0) for b in beans) / 1e3


def stop_spark(spark) -> None:
    """Stop the session, then the JVM (which takes its Python workers
    with it), and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone; the wait below decides
        pass
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def run_workload(spark, name: str, seed: int, seconds: float, trace: bool, tiny: bool,
                 work: Path):
    """Run one workload on a live session → the :class:`Run` record."""
    from perfbench.tracing import Tracer
    from perfbench.workloads import SIZES, WORKLOADS, Run

    tracer = Tracer(spark.sparkContext, enabled=trace, tag=name)
    wl_work = work / name
    wl_work.mkdir()
    run = Run(spark=spark, tracer=tracer, work=wl_work, seed=seed, seconds=seconds,
              sizes=SIZES[name]["tiny" if tiny else "full"],
              jvm_pid=spark.sparkContext._gateway.proc.pid)
    WORKLOADS[name][0](run)
    run.layer["cache.persisted_rdds"] = run.persisted_rdds[-1] if run.persisted_rdds else 0
    run.layer["trace.op_p50_s"] = run.e2e["op_p50_s"]
    run.layer["trace.op_cpu_s"] = run.e2e["op_cpu_s"]
    run.layer["trace.op_cpu_rel"] = run.e2e["op_cpu_rel"]
    return run


def execute(names: list[str], seed: int, seconds: float, trace: bool, tiny: bool,
            work: Path) -> list:
    """One session: run each named workload in turn, stop the JVM, and
    complete the records (setup, memory, and with ``trace`` the
    event-log layers). The command line runs one workload per process;
    the self-test runs all of them in one."""
    from perfbench.host import RssSampler

    configure_env(work)
    master = f"local[{os.cpu_count()}]"
    t0 = time.perf_counter()
    spark = start_spark(work, master, trace)
    session_s = time.perf_counter() - t0
    runs = []
    try:
        with RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
            for name in names:
                runs.append(run_workload(spark, name, seed, seconds, trace, tiny, work))
            gc_s = jvm_gc_s(spark)
    finally:
        for run in runs:
            run.tracer.unwrap_all()
        stop_spark(spark)
    for name, run in zip(names, runs):
        run.e2e["setup_wall_s"] = run.setup_end - T_PROCESS
        run.e2e["peak_rss_mb"] = rss.peak_total_mb
        run.layer.update({
            "session.start_s": session_s,
            "spark.gc_s": gc_s,
            "proc.jvm_rss_mb": rss.peak_jvm_mb,
            "proc.python_rss_mb": rss.peak_python_mb,
        })
        run.rss_samples = rss.samples
        run.master = master
        if trace:
            finish_layers(run, name, work / "eventlog")
    return runs


def finish_layers(run, name: str, log_dir: Path) -> None:
    from perfbench.tracing import read_event_log
    from perfbench.workloads import WORKLOADS

    jobs, stages = read_event_log(log_dir)
    WORKLOADS[name][1](run, jobs, stages)
    spans = {run.tracer.group(s["id"]): s["name"] for s in run.tracer.spans}
    run.stages = [st.row(spans[st.group]) for st in stages if st.group in spans]


def tracing_overhead(name: str, traced: dict, tiny: bool, host: dict) -> str:
    """Traced op medians against the untraced results of the same sizes,
    host and commit saved in this checkout."""
    from perfbench.host import HOST_KEYS

    same = (*HOST_KEYS, "git_commit")
    base: dict[str, list[float]] = {"op_cpu_rel": [], "op_cpu_s": [], "op_p50_s": []}
    for p in (WORK / "results").glob(f"{name}-*-trace0.json"):
        try:
            rec = json.loads(p.read_text())
            if rec.get("tiny", False) != tiny or any(rec["host"].get(k) != host.get(k) for k in same):
                continue
            e2e = rec["e2e"]
            for m in base:
                base[m].append(float(e2e[m]))
        except (OSError, ValueError, KeyError):
            continue
    if not base["op_cpu_rel"]:
        return "n/a (no untraced result of this workload, host and commit saved in this checkout)"
    parts = []
    for m, vals in base.items():
        med = statistics.median(vals)
        parts.append(f"{m} {traced[m] / med - 1:+.1%} ({traced[m]:.4f} traced vs "
                     f"{med:.4f} untraced median of {len(vals)} runs)")
    return "; ".join(parts)


def report(run, name: str, host: dict, trace: bool, tiny: bool) -> dict:
    """Print the human-readable lines and build the result record."""
    run.put("setup_s", run.e2e["setup_s"], "s", 1)
    run.put("setup_wall_s", run.e2e["setup_wall_s"], "s", 1)
    run.put("failed_frac", run.failed / max(run.attempted, 1), "ratio", run.attempted)
    run.put("peak_rss_mb", run.e2e["peak_rss_mb"], "MB", run.rss_samples)
    print(f"# workload {name}  seed {host['seed']}  trace {int(trace)}")
    for m in DETAIL[name]:
        d = run.detail.get(m)
        if d is None:
            print(f"e2e  {m:<22} {'unmeasured':>14} {'s':<6} n=0  ({UNMEASURED[m]})")
        else:
            print(f"e2e  {m:<22} {d['value']:>14.4f} {d['unit']:<6} n={d['n']}")
    print("persisted_rdds after each op: " + " ".join(map(str, run.persisted_rdds)))
    for f in run.failures:
        print(f"FAILED {f}")
    print("host " + json.dumps(host, sort_keys=True))
    if trace:
        for m, unit in declared("per_layer").items():
            print(f"layer  {m:<34} {float(run.layer.get(m, 0.0)):>16.4f} {unit}")
        print("tracing overhead: " + tracing_overhead(name, run.e2e, tiny, host))
    return {
        "workload": name, "trace": int(trace), "tiny": tiny, "host": host, "e2e": run.e2e,
        "detail": run.detail, "layer": run.layer, "failures": run.failures,
        "attempted": run.attempted, "failed": run.failed,
        "persisted_rdds": run.persisted_rdds, "op_times": run.op_times, "ref_cpu": run.ref_cpu,
        "stages": run.stages,
    }


def result_line(run, trace: bool) -> str:
    names = declared("per_layer" if trace else "end_to_end")
    source = run.layer if trace else run.e2e
    metrics = {m: {"value": float(source.get(m, 0.0)), "unit": u} for m, u in names.items()}
    return json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                       "failed": run.failed, "metrics": metrics})


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "pylate_spark" / "__init__.py").is_file():
        print(f"perfbench: no pylate_spark package at {ROOT}; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.host import host_record

    work = WORK / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    trace = bool(args.trace)
    try:
        (run,) = execute([args.workload], args.seed, args.seconds, trace, False, work)
        host = host_record(ROOT, run.master, HEAP, os.environ["PYLATE_SPARK_LOCAL_DIR"], args.seed)
        record = report(run, args.workload, host, trace, False)
        results = WORK / "results"
        results.mkdir(parents=True, exist_ok=True)
        stem = (f"{args.workload}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
                f"-seed{args.seed}-trace{args.trace}")
        (results / f"{stem}.json").write_text(json.dumps(record, indent=1, default=float))
        if trace:
            run.tracer.dump(results / f"{stem}-spans.json")
        print(result_line(run, trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
