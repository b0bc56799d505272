#!/usr/bin/env python3
"""Benchmark of the keep/drop + scrub pipeline: one workload, one seed.

    python3 perfbench/run.py --workload pages_default --seed 1 --seconds 8 --trace 0

Runs from the root of a source checkout on local[<usable cores>] in this
single driver process:

1. makes the workload's inputs from the seed (parquet; cached per seed);
2. set-up: get_spark plus a small first run_pipeline job that starts the
   Python workers (timed: setup_s);
3. an untimed call of the workload, so its plan shape is warm;
4. timed calls, each checked against the reference, until --seconds have
   passed and the workload's minimum number of calls is done; docs_per_s
   is the median over the first min_calls calls only;
5. stops Spark and waits for every process it started.

The last stdout line is one JSON object: correct, attempted, failed and
the metrics listed in BENCHMARK.json (end_to_end with --trace 0, per_layer
with --trace 1). The line before it carries the run's metadata: sample
count and quartiles of docs_per_s, host steal and load average.

--trace 1 also writes Spark's event log and a spans file under
perfbench/.work/runs/<run id>/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = ROOT / "dataqualitykit_spark"
# driver JVM heap, fixed in size (-Xms = -Xmx, see _spark_conf): with a
# growable heap the collector's sizing swung the JVM's peak RSS by half
# between identical runs. Pages are not pre-touched, so the JVM's resident
# heap still follows what the run touches (jvm.peak_rss_mb)
DRIVER_MEM = "1g"
KEEP_RUNS = 12  # run directories kept under .work/runs
KEEP_INPUTS = 8  # cached per-seed inputs kept under .work/cache (~13 MB each)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", type=float, default=1.0, help="input size factor (smoke test only)"
    )
    return p.parse_args(argv)


def _environment(work: Path) -> None:
    """Launch hygiene, set before the JVM starts: workers import the package
    from this checkout, and every scratch file stays inside it. That moves
    Spark's local dir off the tmpfs that get_spark picks onto the checkout's
    file system; pipeline.shuffle_write_s shows what shuffle writes cost."""
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM, including spark-submit's launcher: temp files inside the
    # checkout and no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _spark_conf(work: Path, event_dir: Path | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
    }
    if event_dir is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": event_dir.as_uri(),
            }
        )
    return conf


def _stop(spark) -> list[int]:
    """Stop the session and the gateway JVM, then wait for every process
    this one started (JVM, Python worker daemon and its workers)."""
    from pyspark import SparkContext

    from host import descendants, wait_gone

    pids = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    return wait_gone(pids)


def _quartiles(values: list[float]) -> dict:
    if len(values) < 2:
        v = values[0] if values else 0.0
        return {"p25": v, "median": v, "p75": v, "n": len(values)}
    q = statistics.quantiles(values, n=4)
    return {"p25": q[0], "median": statistics.median(values), "p75": q[2], "n": len(values)}


def _prune(parent: Path, keep: int) -> None:
    """Delete all but the `keep` newest entries of `parent`."""
    for p in sorted(parent.iterdir(), key=lambda p: p.stat().st_mtime)[:-keep]:
        shutil.rmtree(p, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, str(HERE))
    args = parse_args(argv)
    if not (PKG / "__init__.py").is_file():
        print(f"perfbench: no dataqualitykit_spark package under {ROOT}", file=sys.stderr)
        return 2
    try:
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: pyspark is not importable: {exc}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    import host
    import layers
    from eventlog import EventLog
    from spans import Spans
    from workloads import WORKLOADS, dir_bytes

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wl = WORKLOADS[args.workload]
    work = HERE / ".work"
    run_id = f"{wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = work / "runs" / run_id
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    _environment(work)
    contention = host.Contention()
    trace = bool(args.trace)
    spans = Spans(trace, run_id)
    cores = len(os.sched_getaffinity(0))

    inp = wl.prepare(work / "cache", PKG, args.seed, args.scale)

    from pyspark.sql import functions as F

    from dataqualitykit_spark import get_spark, run_pipeline
    from dataqualitykit_spark.sources import TableIO

    event_dir = run_dir / "eventlog" if trace else None
    if event_dir is not None:
        event_dir.mkdir()
    with spans.span("setup"):
        with spans.span("session.get_spark") as get_s:
            spark = get_spark(
                app_name=f"perfbench-{wl.name}",
                master=f"local[{cores}]",
                extra_conf=_spark_conf(work, event_dir),
            )
        spark.sparkContext.setLogLevel("ERROR")
        with spans.span("session.warmup") as warm_s:
            run_pipeline(TableIO(spark, inp.root, fmt="parquet").read("setup")).agg(
                F.count(F.lit(1)), F.sum("n_chars")
            ).collect()

    with spans.span("warm") as warm_call:
        wl.warm(spark, inp, str(run_dir / "warm"))
    shutil.rmtree(run_dir / "warm", ignore_errors=True)

    out = str(run_dir / "out")
    rates, writes, f1s, calls = [], [], [], []
    attempted = failed = 0
    t_begin = time.perf_counter()
    while True:
        shutil.rmtree(out, ignore_errors=True)
        attempted += 1
        try:
            with spans.span(f"{wl.name}.call", index=attempted) as call:
                wl.call(spark, inp, out)
            with spans.span("check", index=attempted):
                ok, f1, detail = wl.check(inp, out)
        except Exception:  # a failed call is counted, and the run goes on
            traceback.print_exc()
            failed += 1
        else:
            f1s.append(f1)
            if ok:
                rates.append(inp.docs / call["seconds"])
                writes.append(dir_bytes(out) / inp.text_bytes)
                calls.append(call)
            else:
                print(f"perfbench: check failed on call {attempted}: {detail}", file=sys.stderr)
                failed += 1
        if time.perf_counter() - t_begin >= args.seconds and attempted >= wl.min_calls:
            break

    layer: dict = {}
    cc_span = None
    if trace and calls:
        layer.update(layers.kernels(inp.sample))
        layer["sources.scan_s"] = layers.scan_s(spark, inp)
        layer.update(layers.DEDUP_ZERO)
        layer.update(layers.LINEAGE_ZERO)
        if wl.name == "near_dense":
            found, cc_span = layers.dedup(spark, inp, out, str(run_dir), spans)
            layer.update(found)
        if wl.name == "resumable_buckets":
            layer.update(layers.lineage(spark, inp, out, calls[-1]["start"], wl, spans))
        layer["_scored_rows"] = layers.scored_rows(out)
    peak_rss_mb, rss_split = host.tree_peak_rss_mb()
    killed = _stop(spark)
    if killed:
        print(f"perfbench: killed leftover processes {killed}", file=sys.stderr)

    # the same call positions on both sides of a comparison: a faster
    # program fits more calls into --seconds, and later calls run warmer
    timed = calls[: wl.min_calls]
    rate_q = _quartiles(rates[: wl.min_calls])
    stage_tasks = None
    if trace and calls:
        log = EventLog(str(event_dir))
        per_call = [log.window(c["start"] * 1e3, c["end"] * 1e3, cores) for c in timed]
        stage_tasks = [pc.pop("_stage_tasks") for pc in per_call]
        for name in per_call[0]:
            layer[name] = statistics.median(pc[name] for pc in per_call)
        layer["udfs.bytes_to_python_per_input_byte"] = (
            layer.pop("_python_bytes_sent") / inp.text_bytes
        )
        rows_in = layer.pop("_python_rows")
        scored = layer.pop("_scored_rows")
        layer["udfs.scored_row_frac"] = scored / rows_in if rows_in else 0.0
        if cc_span is not None:
            layer["dedup.cc_jobs"] = log.window(
                cc_span["start"] * 1e3, cc_span["end"] * 1e3, cores
            )["spark.jobs"]
        layer["session.get_spark_s"] = get_s["seconds"]
        layer["session.warmup_s"] = warm_s["seconds"]
        layer["jvm.peak_rss_mb"] = rss_split.get("java", (0, 0.0))[1]
        layer["traced.docs_per_s"] = rate_q["median"]
        spans.write(str(run_dir / "spans.json"))

    if trace:
        wanted = spec["per_layer"]
        values = layer
    else:
        wanted = spec["end_to_end"]
        values = {
            "docs_per_s": rate_q["median"],
            "setup_s": get_s["seconds"] + warm_s["seconds"],
            "peak_rss_mb": peak_rss_mb,
            "write_bytes_per_input_byte": statistics.median(writes) if writes else 0.0,
            "keep_f1": statistics.median(f1s) if f1s else 0.0,
            "success_rate": (attempted - failed) / attempted,
        }
    correct = failed == 0 and bool(calls)
    if correct and set(values) != {m["name"] for m in wanted}:
        raise RuntimeError(
            f"metric names differ from BENCHMARK.json: {sorted(set(values) ^ {m['name'] for m in wanted})}"
        )
    meta = {
        "run": run_id,
        "workload": wl.name,
        "seed": args.seed,
        "docs": inp.docs,
        "cores": cores,
        "docs_per_s": rate_q,
        "setup": {"get_spark_s": get_s["seconds"], "warmup_s": warm_s["seconds"]},
        "warm_call_s": warm_call["seconds"],
        "calls": attempted,
        "median_over_calls": len(timed),
        "calls_s": [c["seconds"] for c in calls],
        # per timed call: [tasks, runs the Python scorer] of each stage
        "stage_tasks": stage_tasks,
        "peak_rss_mb_by_command": rss_split,
        "host": contention.report(),
    }
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted
        },
    }
    (run_dir / "result.json").write_text(json.dumps({"meta": meta, "result": result}, indent=1))
    shutil.rmtree(out, ignore_errors=True)
    _prune(work / "runs", KEEP_RUNS)
    _prune(work / "cache", KEEP_INPUTS)
    print(json.dumps({"perfbench_meta": meta}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
