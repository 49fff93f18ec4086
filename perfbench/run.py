"""Run one benchmark workload against the engine and print one JSON line.

    python3 perfbench/run.py --workload daily_delta --seed 3 --seconds 10 --trace 0

Run from the repository root. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. A detail line
with the workload-specific names, tails and sample counts goes to
stderr. Exit status: 0 when every result passed its correctness gate,
1 when one did not, 2 when the engine package cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

#: set-up repetitions per run; ``setup_s`` takes their median (two keep
#: a run of the slowest workload near 50 s on a 4-core VM)
SETUP_REPS = 2

#: operations run before the measured window; their samples are dropped
WARM_STEPS = 1

def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    return p.parse_args(argv)


# -- session ----------------------------------------------------------------


def host_cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def driver_heap_mb() -> int:
    """A quarter of available memory, between 1 and 3 GiB."""
    with open("/proc/meminfo") as fh:
        info = {line.split(":")[0]: int(line.split()[1]) for line in fh}
    return max(1024, min(3072, info["MemAvailable"] // 1024 // 4))


def start_session(tmp: str):
    from automated_datastore_discovery_with_aws_glue_spark.session import get_spark

    cores = host_cores()
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": f"{driver_heap_mb()}m",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": os.path.join(tmp, "local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job/stage of a run in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    spark.range(200_000).selectExpr("sum(id)", "count(*)").collect()
    spark.range(2_000).selectExpr("id % 7 k", "md5(cast(id as string)) h").groupBy("k").count().collect()


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process and every descendant
    (the driver JVM and any Python workers)."""
    total = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


def stop_session(spark) -> None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    SparkContext._gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- metrics ------------------------------------------------------------------


def tail(samples: list[float]) -> float | None:
    """The highest percentile with at least ten samples beyond it."""
    s = sorted(samples)
    return s[len(s) - 11] if len(s) >= 11 else None


def end_to_end(wl, setup_s: float, state_ratio: float) -> dict:
    return {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(wl.lat["op"]) * 1e3,
        "state_bytes_per_input_byte": state_ratio,
    }


def detail(wl) -> dict:
    """Workload-specific names for the end-to-end figures, with tails
    and sample counts (stderr only)."""
    out: dict = {"samples": {k: len(v) for k, v in wl.lat.items()}}
    ops, reports = wl.lat.get("op", []), wl.lat.get("report", [])
    if not ops:
        return out
    med = statistics.median
    ms = lambda v: None if v is None else v * 1e3  # noqa: E731
    throughput = wl.items / sum(ops)
    if wl.name == "daily_delta":
        out.update(
            delta_cycle_p50_s=med(ops),
            delta_cycle_tail_s=tail(ops + wl.lat.get("drift", [])),
            delta_rows_per_s=throughput,
            report_query_p50_ms=ms(med(reports)),
            report_query_tail_ms=ms(tail(reports)),
        )
    elif wl.name == "corpus_dedup":
        out.update(dedup_docs_per_s=throughput, dedup_delta_p50_s=med(ops))
    elif wl.name == "vector_serve":
        out.update(topk_p50_ms=ms(med(ops)), topk_tail_ms=ms(tail(ops)), queries_per_s=throughput)
    out.update(wl.extra)
    return out


def per_layer(wl, tracer, jobs, stages, session: dict, versions_max: int) -> dict:
    from tracing import END, NAME, PARENT, START, Attribution, self_times

    att = Attribution(tracer, jobs, stages)
    spans = tracer.spans
    selfs = self_times(spans)
    c = tracer.counters
    n = max(1, c.get("steps", 0))  # per-layer figures are per traced step

    def ids(pred):
        return [i for i, s in enumerate(spans) if pred(s[NAME])]

    def self_s(name):
        return sum(selfs[i] for i in ids(lambda x: x == name))

    def mean_dur(name):
        d = [spans[i][END] - spans[i][START] for i in ids(lambda x: x == name)]
        return (sum(d) / len(d)) if d else 0.0

    def ratio(a, b):
        return a / b if b else 0.0

    catalog = {s[NAME] for s in spans if s[NAME].startswith("catalog.")}
    top_catalog = [i for i in ids(lambda x: x.startswith("catalog.")) if spans[spans[i][PARENT]][NAME] == "op"]
    op_spans = ids(lambda x: x == "op")
    classify_names = {"catalog.classify", "classify.count", "classify.derive"}
    cls_cpu = att.stage_sum("cpu_s", classify_names, innermost_only=True)
    m = {
        "session.start_s": session["start_s"],
        "session.warmup_s": session["warmup_s"],
        "session.peak_rss_mb": session["peak_rss_mb"],
        "sources.read_s": self_s("sources.read") / n,
        "sources.infer_jobs": att.jobs_in({"sources.read"}) / n,
        "sources.input_bytes": c.get("sources.input_bytes", 0) / n,
    }
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    # onboard and register run in set-up only: medians over the set-ups
    for phase in ("onboard", "register"):
        m[f"catalog.{phase}_s"] = med(wl.setup_lat.get(phase, []))
    for phase in ("recrawl", "classify", "publish", "report", "maintain"):
        m[f"catalog.{phase}_s"] = self_s(f"catalog.{phase}") / n
    m.update(
        {
            "catalog.driver_only_s": att.idle(top_catalog) / n,
            "catalog.jobs_per_cycle": att.jobs_in(catalog) / n,
            "catalog.recrawl_skip_ratio": ratio(c.get("catalog.recrawl_skipped", 0), c.get("catalog.recrawl_checked", 0)),
            "catalog.delta_file_ratio": ratio(c.get("sources.files_scanned", 0), c.get("sources.files_listed", 0)),
            "classify.executor_cpu_s": cls_cpu / n,
            "classify.cells": c.get("classify.cells", 0) / n,
            "classify.cpu_ns_per_cell": ratio(cls_cpu * 1e9, c.get("classify.cells", 0)),
            "classify.tasks": att.stage_sum("tasks", classify_names, innermost_only=True) / n,
        }
    )
    for op in ("read", "merge", "append", "replace_partitions", "vacuum", "commit"):
        m[f"store.{op}_calls"] = len(ids(lambda x, op=op: x == f"store.{op}")) / n
        m[f"store.{op}_s"] = self_s(f"store.{op}") / n
    m.update(
        {
            "store.commit_retries": c.get("store.commit_retries", 0) / n,
            "store.versions_max": versions_max,
            "store.bytes_written": c.get("store.bytes_written", 0) / n,
            "store.files_written": c.get("store.files_written", 0) / n,
        }
    )
    n_delta = max(1, len(ids(lambda x: x == "dedup.delta")))
    n_q = max(1, len(ids(lambda x: x == "ann.topk")))
    m.update(
        {
            "dedup.bulk_s": med(wl.setup_lat.get("bulk", [])),
            "dedup.delta_s": mean_dur("dedup.delta"),
            "dedup.jobs_per_batch": att.jobs_in({"dedup.delta"}) / n_delta,
            "dedup.executor_cpu_s": att.stage_sum("cpu_s", {"dedup.delta"}) / n_delta,
            "dedup.shuffle_write_bytes": att.stage_sum("shuffle_write_bytes", {"dedup.delta"}) / n_delta,
            "dedup.spill_bytes": att.stage_sum("spill_bytes", {"dedup.delta"}) / n_delta,
            "dedup.kept_ratio": wl.extra.get("dedup.kept_ratio", 0.0),
            "ann.build_s": med(wl.setup_lat.get("build", [])),
            "ann.ingest_s": mean_dur("ann.ingest"),
            "ann.topk_s": mean_dur("ann.topk"),
            "ann.jobs_per_query": att.jobs_in({"ann.topk"}) / n_q,
            "ann.tasks_per_query": att.stage_sum("tasks", {"ann.topk"}) / n_q,
            "ann.input_bytes_per_query": att.stage_sum("input_bytes", {"ann.topk"}) / n_q,
        }
    )
    every = {"op"}
    m.update(
        {
            "spark.jobs": att.jobs_in(every) / n,
            "spark.stages": sum(1 for s in att.stage_span if att.under(s, every)) / n,
            "spark.tasks": att.stage_sum("tasks", every) / n,
            "spark.executor_run_s": att.stage_sum("run_s", every) / n,
            "spark.executor_cpu_s": att.stage_sum("cpu_s", every) / n,
            "spark.gc_s": att.stage_sum("gc_s", every) / n,
            "spark.shuffle_read_bytes": att.stage_sum("shuffle_read_bytes", every) / n,
            "spark.shuffle_write_bytes": att.stage_sum("shuffle_write_bytes", every) / n,
            "spark.spill_bytes": att.stage_sum("spill_bytes", every) / n,
            "spark.driver_only_s": att.idle(op_spans) / n,
            "spark.unattributed_jobs": att.jobs_in(every, innermost_only=True) / n,
        }
    )
    op_wall = sum(spans[i][END] - spans[i][START] for i in op_spans)
    child_cover = sum(
        (spans[i][END] - spans[i][START]) - selfs[i] for i in op_spans
    )
    traced, untraced = wl.lat_traced.get("op", []), wl.lat.get("op", [])
    m["trace.overhead_ratio"] = ratio(med(traced), med(untraced))
    m["trace.coverage"] = ratio(child_cover, op_wall)
    m["trace.steps"] = c.get("steps", 0)
    return m


def versions_max(root: str) -> int:
    best = 0
    for d, _dirs, files in os.walk(root):
        if "_LATEST" in files:
            with open(os.path.join(d, "_LATEST")) as fh:
                best = max(best, int(fh.read().strip() or 0))
    return best


def declared_units() -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}


# -- main ---------------------------------------------------------------------


def run(args) -> int:
    from tracing import Tracer, harvest, install
    from workloads import TINY, WORKLOADS, Sizes

    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench_tmp"))
    os.environ["TMPDIR"] = tmp
    # no JVM perf-data file under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None
    tracer = Tracer()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(tmp)
        t1 = time.perf_counter()
        wl = WORKLOADS[args.workload](spark, args.seed, tracer, TINY if args.tiny else Sizes())
        warm_up(spark)
        session = {"start_s": t1 - t0, "warmup_s": time.perf_counter() - t1}
        reps = []
        for r in range(SETUP_REPS):
            root = os.path.join(tmp, f"setup{r}")
            if r:
                wl.discard(os.path.join(tmp, f"setup{r - 1}"))
            t = time.perf_counter()
            wl.setup(root)
            reps.append(time.perf_counter() - t)
        setup_s = session["start_s"] + session["warmup_s"] + statistics.median(reps)

        steps = failed_steps = 0

        def attempt(traced: bool) -> None:
            nonlocal steps, failed_steps
            tracer.active = traced
            if traced:
                tracer.counters["steps"] = tracer.counters.get("steps", 0) + 1
            try:
                wl.step(steps)
            except Exception:  # noqa: BLE001 - a failed operation is counted, the loop goes on
                traceback.print_exc()
                failed_steps += 1
            finally:
                tracer.active = False
            steps += 1

        for _ in range(WARM_STEPS):
            attempt(False)
        # state size at a fixed point, not after however many operations
        # the window fits
        state_ratio = wl.state_ratio()
        wl.reset_samples()
        if args.trace:
            install(tracer)
        since = time.time()
        start = time.perf_counter()
        while time.perf_counter() - start < args.seconds:
            # a traced run alternates traced and untraced steps, so the
            # overhead ratio compares identical work
            attempt(bool(args.trace) and steps % 2 == 0)
        wl.gate()
        attempted = steps + wl.attempted
        failed = failed_steps + wl.failed

        session["peak_rss_mb"] = peak_rss_mb()
        if args.trace:
            tracer.close()
            jobs, stages = harvest(spark, since)
            metrics = per_layer(wl, tracer, jobs, stages, session, versions_max(wl.state_root))
            tracer.dump(
                os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "jobs": jobs, "stages": stages, "metrics": metrics},
            )
        else:
            metrics = end_to_end(wl, setup_s, state_ratio)
        units = declared_units()
        info = detail(wl)
        info.update(setup_reps_s=reps, session=session, error_rate=failed / attempted, failures=wl.failures[:20])
        print("perfbench detail: " + json.dumps(info), file=sys.stderr)
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        tracer.close()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def main() -> int:
    args = parse_args()
    sys.path.insert(0, ROOT)
    try:
        import automated_datastore_discovery_with_aws_glue_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine package not found under {ROOT}: {exc}", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(ROOT, ".perfbench_tmp"), exist_ok=True)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
