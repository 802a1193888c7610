"""One measured process: session set-up, warm-up, timed runs, checks.

Started by ``run.py`` as a fresh process, so the program's process-wide
caches start empty, as they do for a scheduled job.  It writes one JSON
record to ``--out``; ``run.py`` turns it into the benchmark's result line.

Set-up (``setup_s``) runs from the moment ``run.py`` starts this process
until the session is ready and the warm-up is done.  The warm-up is the
same for every workload: one ``forecast()`` call on a tiny series input
of its own (a scan, a shuffle, a sort and an Arrow Python stage), so the
first timed call does not absorb the JVM class loading, JIT and Python
worker start that every query shares.  Code generated for each query
shape is still compiled in the timed run, as in any fresh process.

Runs then follow one another (a closed loop: each call starts after the
previous one returns), each on an input instance of its own, until their
total time reaches ``--seconds``.  With ``--trace 1`` the runs alternate
untraced and traced (untraced, traced, untraced at least); the per-layer
metrics come from the traced runs, and the tracing overhead is each traced
run minus the untraced run after it (the first run also pays for the
query shapes' code generation, so it is not the baseline).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time
import traceback
from pathlib import Path

from spans import NullTracer, Tracer, stream_listener, wait_for_streams
from workloads import WORKLOADS


def _spark(scratch: Path):
    from time_series_spark_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(scratch / "warehouse"),
            # temp files inside the checkout; no perf-data file in /tmp
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={scratch / 'tmp'} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warmup(spark, fleet_dir: str) -> None:
    from time_series_spark_spark.operators.forecast import forecast

    fleet = spark.read.parquet(str(Path(fleet_dir) / "fleet.parquet"))
    forecast(fleet, ["series_id"], "ds", "y", horizon=7).toPandas()


def _one_run(wl, spark, inp, tracer, scratch: Path) -> tuple[float, dict]:
    shutil.rmtree(scratch, ignore_errors=True)
    scratch.mkdir(parents=True)
    state = wl.prepare(spark, inp, scratch)
    t = time.perf_counter()
    res = wl.run(spark, inp, tracer, scratch, state)
    return time.perf_counter() - t, res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans-out", required=True)
    ap.add_argument("--t0", type=float, required=True)
    args = ap.parse_args()

    wl = WORKLOADS[args.workload]
    inputs = json.loads(Path(args.inputs).read_text())
    scratch = Path(args.scratch)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    spark = _spark(scratch)
    session_ready = time.time()
    _warmup(spark, inputs["warmup"])
    setup_end = time.time()
    rec = {
        "setup_s": setup_end - args.t0,
        "session.start_s": session_ready - args.t0,
        "session.warmup_s": setup_end - session_ready,
        "runs": [],
        "attempted": 0,
        "failed": 0,
        "failures": [],
    }

    results = []
    measured = 0.0
    for i, inp in enumerate(inputs["instances"]):
        if i and measured >= args.seconds and (not args.trace or i >= 3):
            break
        traced = bool(args.trace) and i % 2 == 1
        tracer = Tracer(spark, f"run{i}") if traced else NullTracer()
        listener = stream_listener(tracer) if traced else None
        if listener is not None:
            spark.streams.addListener(listener)
        try:
            run_s, res = _one_run(wl, spark, inp, tracer, scratch / "work")
        except Exception:  # noqa: BLE001 - a failed run is counted, not fatal
            rec["attempted"] += 1
            rec["failed"] += 1
            rec["failures"].append(f"run {i} raised:\n{traceback.format_exc()}")
            print(rec["failures"][-1], file=sys.stderr)
            break
        finally:
            if listener is not None:
                wait_for_streams(tracer)
                spark.streams.removeListener(listener)
        if not traced:
            measured += run_s
        run = {"run_s": run_s, "traced": traced, "ops": res["ops"]}
        if rec["runs"] and rec["runs"][-1]["traced"]:
            rec["runs"][-1]["overhead_s"] = rec["runs"][-1]["run_s"] - run_s
        if traced:
            run["layers"] = tracer.layer_metrics(cores)
            top = [s for s in tracer.spans if s["parent"] is None]
            run["span_coverage"] = sum(s["end"] - s["start"] for s in top) / run_s
            run["layer_self_s"] = tracer.self_times()
            tracer.dump(f"{args.spans_out}-run{i}.json", {"run_s": run_s})
        rec["runs"].append(run)
        results.append((inp, res, run))

    rec["driver_rss_peak_mb"] = (
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    )

    # output checks, and the traced runs' workload figures: after the
    # timed region
    for inp, res, run in results:
        try:
            n, failures = wl.check(res, inp)
            if run["traced"]:
                run["figures"] = wl.figures(spark, inp, res)
        except Exception:  # noqa: BLE001 - a check that crashes is a failure
            n, failures = 1, [f"check raised:\n{traceback.format_exc()}"]
        rec["attempted"] += n
        rec["failed"] += len({f.split(":")[0] for f in failures})
        rec["failures"] += failures
    for f in rec["failures"]:
        print(f"FAILED {f}", file=sys.stderr)
    spark.stop()
    Path(args.out).write_text(json.dumps(rec, default=float))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
