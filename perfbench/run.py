"""Crawl-engine benchmark: one workload per invocation, closed loop.

    python3 perfbench/run.py --workload midcrawl_round --seed 1 --seconds 10 --trace 0

Run from the repository root. One process issues each operation
only after the previous one has completed and been checked. The last
line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics.
The line before it (``{"detail": ...}``) repeats the figures under the
names of the workload's own operation (``round_s.p50``, ``crawl_s``,
``extract_s``, ...), with sample counts, ratio bases and host facts.

Everything the run writes stays under ``.perfbench/`` in the
repository root: fixtures cached per (rows, seed), and a per-run work
directory (stores, shuffle files, event log) removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(REPO, ".perfbench")
DRIVER_MEMORY = "2g"


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _fs_type(path: str) -> str:
    best, fstype = "", "?"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            if len(parts) > 2 and path.startswith(parts[1]) and len(parts[1]) > len(best):
                best, fstype = parts[1], parts[2]
    return fstype


def host_facts(spark) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f
                          if line.startswith("MemTotal:")).split()[1])
    java = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return {
        "nproc": os.cpu_count(),
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "spark": spark.version,
        "java": (java.stderr.splitlines() or ["?"])[0],
        "python": platform.python_version(),
        "work_fs": _fs_type(STATE),
    }


def ensure_fixtures(rows: int, seed: int) -> str:
    """Pages/robots for (rows, seed), generated once and cached; never
    part of any timed figure."""
    from pixcrawler_spark.fixtures import write_fixtures

    d = os.path.join(STATE, "fixtures", f"rows{rows}_seed{seed}")
    if not os.path.exists(os.path.join(d, "robots.parquet")):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_fixtures(tmp, rows=rows, seed=seed)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


def start_session(work: str, cores: int, trace: bool):
    from pixcrawler_spark.session import get_spark
    from perfbench.workloads import SHUFFLE_PARTITIONS

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def closed_loop(workload, ctx, seconds: float, tracer=None) -> list[dict]:
    """Run operations back to back for ``seconds`` (at least one); each
    is reset (untimed), timed, then checked (untimed). With a tracer,
    each operation is a root span and its store writes are counted."""
    from perfbench.tracing import files_snapshot, files_written

    walk = [os.path.join(ctx.work, n) for n in workload.store_names]
    ops: list[dict] = []
    t_end = time.monotonic() + seconds
    while not ops or time.monotonic() < t_end:
        rec = {"ok": False}
        try:
            workload.reset(ctx)
            before = files_snapshot(walk) if tracer else None
            t0 = time.monotonic()
            if tracer is not None:
                with tracer.op_span(len(ops) + 1):
                    out = workload.op(ctx)
            else:
                out = workload.op(ctx)
            rec["wall_s"] = time.monotonic() - t0
            if tracer:
                rec["files"], rec["bytes"] = files_written(
                    before, files_snapshot(walk))
            errs = workload.check(ctx, out)
            for e in errs:
                print(f"perfbench: check failed: {e}", file=sys.stderr)
            rec.update(ok=not errs, units=workload.work_units(out),
                       summaries=workload.summaries(out))
        except Exception:
            traceback.print_exc(file=sys.stderr)
        ops.append(rec)
    return ops


def _median(xs):
    return float(statistics.median(xs)) if xs else float("nan")


def main(argv: list[str] | None = None) -> int:
    if not os.path.isdir(os.path.join(REPO, "pixcrawler_spark")):
        return _fail(f"no pixcrawler_spark package under {REPO}; run from "
                     f"a checkout of the repository")
    sys.path.insert(0, REPO)
    from perfbench.workloads import WORKLOADS, Ctx

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    workload = WORKLOADS[args.workload]()
    cores = min(3, os.cpu_count() or 1)
    t0 = time.monotonic()
    fixture_dir = ensure_fixtures(workload.rows, args.seed)
    fixtures_s = time.monotonic() - t0

    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import the engine; keep every temp file in the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    from perfbench.procs import PeakRss, stop_spark

    trace = bool(args.trace)
    tracer = None
    untraced: list[dict] = []
    with PeakRss() as rss:
        t0 = time.monotonic()
        spark = start_session(work, cores, trace)
        start_s = time.monotonic() - t0
        try:
            host = host_facts(spark)
            ctx = Ctx(spark=spark, work=work,
                      pages_path=os.path.join(fixture_dir, "pages.parquet"),
                      robots_path=os.path.join(fixture_dir, "robots.parquet"),
                      seed=args.seed)
            t0 = time.monotonic()
            workload.prepare(ctx)
            prepare_s = time.monotonic() - t0
            t0 = time.monotonic()
            with rss.paused():  # untimed, outside setup_s and peak_rss_mb
                workload.reference(ctx)
            reference_s = time.monotonic() - t0
            t0 = time.monotonic()
            workload.warmup(ctx)
            warmup_s = time.monotonic() - t0
            if trace:
                from perfbench.tracing import Tracer

                # half the window untraced, half traced: the difference
                # of their medians is the tracing overhead
                untraced = closed_loop(workload, ctx, args.seconds / 2)
                n_extract = len(ctx.extract_times)
                tracer = Tracer(spark)
                tracer.install()
                ops = closed_loop(workload, ctx, args.seconds / 2, tracer)
                tracer.uninstall()
            else:
                ops = closed_loop(workload, ctx, args.seconds)
        finally:
            stop_spark(spark)

    all_ops = untraced + ops
    attempted = len(all_ops)
    failed = sum(not o["ok"] for o in all_ops)
    good = [o for o in ops if o["ok"]]
    op_p50 = _median([o["wall_s"] for o in good])
    work_per_s = (sum(o["units"] for o in good)
                  / sum(o["wall_s"] for o in good)) if good else float("nan")
    setup_s = start_s + prepare_s + warmup_s

    detail = {
        "workload": workload.name, "seed": args.seed, "rows": workload.rows,
        "cores": cores, "host": host, "attempted": attempted,
        "failed_ratio": failed / attempted,
        "setup_s": {"session.start_s": start_s, "prepare_s": prepare_s,
                    "session.warmup_s": warmup_s},
        "peak_rss_mb": rss.peak_mb, "peak_rss_by_process": rss.peak_by_name,
        "untimed_s": {"fixtures": fixtures_s, "reference": reference_s},
        "work_per_s": work_per_s,
        "ops_s": [o.get("wall_s") for o in ops],
    }
    if workload.name == "ingest_extract":
        detail.update({"extract_s": op_p50, "n": len(good),
                       "pages_per_s": work_per_s})
    elif workload.name == "midcrawl_round":
        detail.update({"round_s.p50": op_p50, "n": len(good),
                       "decided_per_s": work_per_s,
                       "round_summary": good[-1]["summaries"] if good else None})
    else:
        rounds = [s["wall_seconds"] for o in good for s in o["summaries"]]
        decided = sum(o["units"] for o in good)
        detail.update({"crawl_s": op_p50, "n": len(good),
                       "round_s.p50": _median(rounds), "rounds_n": len(rounds),
                       "decided_per_s": decided / sum(rounds) if rounds else None,
                       "round_summaries": good[-1]["summaries"] if good else None})

    if trace:
        from perfbench.tracing import layer_metrics, read_event_log

        tracer.dump(os.path.join(
            STATE, "traces", f"{workload.name}-seed{args.seed}.json"))
        log = read_event_log(os.path.join(work, "eventlog"))
        layers = layer_metrics(tracer.spans, log, cores, workload.main_table)
        extracts = ctx.extract_times[n_extract:] or ctx.extract_times
        untraced_p50 = _median([o["wall_s"] for o in untraced if o["ok"]])
        layers.update({
            "sources.tables.files_written": _median([o.get("files", 0) for o in good]),
            "sources.tables.bytes_written": _median([o.get("bytes", 0) for o in good]),
            "functions.text.extract_s": _median(extracts),
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "trace.overhead_s": op_p50 - untraced_p50,
        })
        detail["trace"] = {"untraced_op_s.p50": untraced_p50,
                           "traced_op_s.p50": op_p50, "spans": len(tracer.spans)}
        values, kind = layers, "per_layer"
    else:
        values = {"setup_s": setup_s, "op_s.p50": op_p50,
                  "peak_rss_mb": rss.peak_mb}
        kind = "end_to_end"
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in _declared()[kind]}

    # shuffle files, stores and event log all live in the work directory
    detail["work_mb"] = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(work) for f in fs) / 2**20
    st = os.statvfs(work)
    detail["work_fs_free_mb"] = st.f_bavail * st.f_frsize / 2**20
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _declared() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
