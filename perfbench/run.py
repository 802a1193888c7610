"""Cold end-to-end benchmark of the engine, with a per-layer traced mode.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload forecast_fleet --seed 1 --seconds 10 --trace 0

Workloads: ``forecast_fleet``, ``llm_curation`` and ``cdc_upsert`` (see
``BENCHMARK.json`` for why each was chosen, ``METRICS.md`` for what each
metric measures).  The
inputs are generated from ``--seed`` (``corpus.py``) and cached under
``.perfbench_cache/``.  A fresh measuring process (``worker.py``) then
runs the workload on ``local[<cores>]`` as a closed loop for ``--seconds``
and checks every output.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``).  With ``--trace 1`` the spans and layer self times are also
written to ``.perfbench_out/``.

Everything the run writes stays inside the checkout: scratch tables,
checkpoints, Spark local dirs and temp files go to ``.perfbench_run/``,
which is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import corpus  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# Runs one process makes at most: the loop stops earlier once the untraced
# runs have filled --seconds, but never before one run (three with
# --trace 1: untraced, traced, untraced).  Each run has an input instance
# of its own.
MAX_RUNS = 3
WARMUP_SEED = 0  # the warm-up input is the same tiny input for every seed
DEADLINE_S = 175.0  # the whole run, generation included


def _declared() -> tuple[dict, dict]:
    """Metric names and units, as BENCHMARK.json declares them."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def _inputs(workload: str, seed: int) -> dict:
    """Generate (or reuse) every input the measuring process will read."""
    wl = WORKLOADS[workload]
    instances = [
        {
            kind: str(corpus.ensure(kind, corpus.instance_seed(seed, i)))
            for kind in wl.kinds
        }
        for i in range(MAX_RUNS)
    ]
    warmup = str(corpus.ensure("fleet_tiny", WARMUP_SEED))
    return {"instances": instances, "warmup": warmup}


def _session_pids(sid: int) -> list[int]:
    """Live (not zombie) processes of session ``sid``."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            # fields after the parenthesised command: state, ppid, pgrp, session
            stat = (Path("/proc") / entry / "stat").read_text()
        except OSError:
            continue
        state, _ppid, _pgrp, session = stat.rsplit(")", 1)[1].split()[:4]
        if int(session) == sid and state != "Z":
            pids.append(int(entry))
    return pids


def _stop_session(sid: int) -> None:
    """Kill what is left of the worker's session (its JVM and the Python
    worker daemon, which runs in a process group of its own) and wait
    until every member has gone."""
    for _ in range(200):
        pids = _session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def _metrics(rec: dict, trace: bool) -> dict:
    end_to_end, per_layer = _declared()
    plain = [r for r in rec["runs"] if not r["traced"]]
    traced = [r for r in rec["runs"] if r["traced"]]
    run_s = statistics.median(r["run_s"] for r in plain)
    if not trace:
        values = {
            "setup_s": rec["setup_s"],
            "run_s": run_s,
            "ok_frac": 1.0 - rec["failed"] / rec["attempted"],
            "driver_rss_peak_mb": rec["driver_rss_peak_mb"],
        }
        units = end_to_end
    else:
        values = {}
        for name in per_layer:
            xs = [
                {**r["layers"], **r.get("figures", {})}.get(name)
                for r in traced
            ]
            xs = [x for x in xs if x is not None]
            values[name] = statistics.median(xs) if xs else 0
        values.update(
            {
                "session.start_s": rec["session.start_s"],
                "session.warmup_s": rec["session.warmup_s"],
                "trace.run_s": statistics.median(r["run_s"] for r in traced),
                "trace.untraced_run_s": run_s,
                "trace.overhead_s": statistics.median(
                    [r["overhead_s"] for r in traced if "overhead_s" in r] or [0.0]
                ),
                "trace.span_coverage": statistics.median(
                    r["span_coverage"] for r in traced
                ),
            }
        )
        units = per_layer
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()

    pkg = ROOT / "time_series_spark_spark"
    harness = ROOT / "tests" / "oracle_harness.py"
    if not pkg.is_dir() or not harness.is_file():
        print(f"perfbench: no program to measure under {ROOT}", file=sys.stderr)
        return 2
    if args.seed < 0:
        print("perfbench: --seed must be >= 0", file=sys.stderr)
        return 2

    inputs = _inputs(args.workload, args.seed)
    scratch = ROOT / ".perfbench_run" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        (scratch / d).mkdir(parents=True)
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    (scratch / "inputs.json").write_text(json.dumps(inputs))

    cores = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM="2g",
        TMPDIR=str(scratch / "tmp"),
        SPARK_LOCAL_DIRS=str(scratch / "spark-local"),
        PYSPARK_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",  # no .pyc writes outside the checkout
        PYTHONPATH=os.pathsep.join(
            [str(ROOT), str(ROOT / "tests"), os.environ.get("PYTHONPATH", "")]
        ),
    )
    spans_out = out_dir / f"{args.workload}-seed{args.seed}"
    cmd = [
        sys.executable, str(HERE / "worker.py"),
        "--workload", args.workload,
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--inputs", str(scratch / "inputs.json"),
        "--scratch", str(scratch),
        "--out", str(scratch / "result.json"),
        "--spans-out", str(spans_out),
        "--t0", repr(time.time()),
    ]
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr,
        start_new_session=True,
    )
    try:
        code = proc.wait(timeout=max(DEADLINE_S - (time.time() - start), 1.0))
    except subprocess.TimeoutExpired:
        code = None
        print("perfbench: measuring process timed out", file=sys.stderr)
    finally:
        _stop_session(proc.pid)
        if proc.poll() is None:
            proc.wait()
    try:
        rec = json.loads((scratch / "result.json").read_text()) if code == 0 else None
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if rec is None or not rec["runs"]:
        print(f"perfbench: no result (exit code {code})", file=sys.stderr)
        return 1

    metrics = _metrics(rec, bool(args.trace))
    if args.trace:
        (out_dir / f"{args.workload}-seed{args.seed}-layers.json").write_text(
            json.dumps(
                {
                    "metrics": metrics,
                    "layer_self_s": [r["layer_self_s"] for r in rec["runs"] if r["traced"]],
                },
                indent=1,
            )
        )
    for r in rec["runs"]:
        ops = " ".join(f"{name}={x:.3f}" for name, x in r["ops"])
        kind = "traced" if r["traced"] else "untraced"
        print(f"perfbench {args.workload} seed={args.seed} {kind} run "
              f"{r['run_s']:.3f} s: {ops}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": rec["failed"] == 0,
                "attempted": rec["attempted"],
                "failed": rec["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
