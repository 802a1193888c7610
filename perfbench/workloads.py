"""The workloads: what one run calls, and how its outputs are checked.

Each workload has

- ``kinds``: the generated inputs one run reads (see ``corpus.py``);
- ``prepare(spark, inp, scratch)``: untimed set-up of one run;
- ``run(spark, inp, tracer, scratch, state)``: one cold run.  Every
  DataFrame is built fresh inside the run and every result is delivered to
  pandas, so no shuffle output of an earlier run is reused.  It returns the
  delivered results and the latency of each operation;
- ``check(res, inp)``: output checks, run after the timed region.  It
  returns ``(operations checked, list of failure messages)``;
- ``figures(spark, inp, res)``: per-layer figures read from the inputs and
  outputs of a traced run.

The benchmark reaches the program only through its public calls:
``REGISTRY[name].fn``, ``operators.forecast.forecast``/``backtest``,
``sources.io`` versioned-table calls and
``streaming.jobs.stream_merge_to_versioned_table``.
"""

from __future__ import annotations

import os
import shutil
import time
from pathlib import Path

import numpy as np
import pandas as pd

LLM_CURATION = [
    "docs_dedup",
    "docs_remove_dup_spans",
    "docs_lm_perplexity",
    "docs_dup_clusters",
    "emb_pq_topk",
    "emb_ivf_topk",
    "docs_bm25_search",
]

# the rows-only queries' output columns: their schema and non-empty check
ROWS_ONLY_COLUMNS = {
    "emb_pq_topk": ["query_id", "cand_id", "cos", "rk"],
    "emb_ivf_topk": ["query_id", "cand_id", "cos", "rk"],
}

FORECAST_HORIZON = 14
BACKTEST_HORIZON = 28
BACKTEST_CUTOFFS = ["2024-03-31", "2024-04-30", "2024-05-31"]
CHECK_SAMPLE = 6  # series re-fit with the single-series kernel per run


class _Delivered:
    """Stands in for a DataFrame in ``oracle_harness.compare``: hands back
    the rows the timed run already delivered instead of running again."""

    def __init__(self, pdf: pd.DataFrame):
        self.pdf = pdf

    def toPandas(self) -> pd.DataFrame:  # noqa: N802 - DataFrame's name
        return self.pdf.copy()


def _timed_call(tracer, name: str, build, ops: list) -> pd.DataFrame:
    """Build one DataFrame (the program's query code) and deliver it."""
    t0 = time.perf_counter()
    with tracer.span(name, "queries"):
        df = build()
    pdf = tracer.deliver(df)
    ops.append((name, time.perf_counter() - t0))
    return pdf


class Workload:
    kinds: tuple[str, ...] = ()

    def prepare(self, spark, inp, scratch):
        """Untimed per-run set-up; its result is passed to ``run``."""
        return None

    def figures(self, spark, inp, res) -> dict:
        """Per-layer figures of one run that come from its inputs and
        outputs rather than from spans (read after the timed region)."""
        return {}


# --------------------------------------------------------------------------
# llm_curation
# --------------------------------------------------------------------------


class LlmCuration(Workload):
    kinds = ("corpus",)
    names = LLM_CURATION

    def run(self, spark, inp, tracer, scratch, state):
        from time_series_spark_spark.queries import REGISTRY

        corpus = str(inp["corpus"])
        ops, out = [], {}
        for name in self.names:
            fn = REGISTRY[name].fn
            out[name] = _timed_call(tracer, name, lambda: fn(spark, corpus), ops)
        return {"ops": ops, "out": out}

    def check(self, res, inp):
        import oracle_harness

        from time_series_spark_spark.queries import REGISTRY

        con = oracle_harness.duck_connect(str(inp["corpus"]))
        failures = []
        for name, pdf in res["out"].items():
            q = REGISTRY[name]
            if q.oracle is not None:
                ok = oracle_harness.compare(
                    None, con, name, lambda _s, _d, p=pdf: _Delivered(p),
                    q.oracle, str(inp["corpus"]), verbose=False,
                )
                if not ok:
                    failures.append(f"{name}: differs from the DuckDB oracle")
            elif list(pdf.columns) != ROWS_ONLY_COLUMNS[name] or pdf.empty:
                failures.append(f"{name}: empty or not the expected columns")
        con.close()
        return len(res["out"]), failures


# --------------------------------------------------------------------------
# forecast_fleet
# --------------------------------------------------------------------------


class ForecastFleet(Workload):
    kinds = ("fleet",)

    def run(self, spark, inp, tracer, scratch, state):
        from time_series_spark_spark.operators.forecast import backtest, forecast

        path = str(Path(inp["fleet"]) / "fleet.parquet")
        ops = []
        fc = _timed_call(
            tracer,
            "forecast",
            lambda: forecast(
                spark.read.parquet(path), ["series_id"], "ds", "y",
                horizon=FORECAST_HORIZON,
            ),
            ops,
        )
        bt = _timed_call(
            tracer,
            "backtest",
            lambda: backtest(
                spark.read.parquet(path), ["series_id"], "ds", "y",
                BACKTEST_CUTOFFS, horizon=BACKTEST_HORIZON,
            ),
            ops,
        )
        return {"ops": ops, "out": {"forecast": fc, "backtest": bt}}

    @staticmethod
    def _series(inp) -> pd.DataFrame:
        return pd.read_parquet(Path(inp["fleet"]) / "fleet.parquet")

    def figures(self, spark, inp, res) -> dict:
        """Input shape: the share of series in same-grid cohorts (the
        multi-RHS solve) and on the scalar path (missing days)."""
        s = self._series(inp)
        per = s.groupby("series_id").agg(
            start=("ds", "min"), missing=("y", lambda v: v.isna().any())
        )
        return {
            "forecast.cohorts": per.loc[~per.missing, "start"].nunique(),
            "forecast.cohort_share": float((~per.missing).mean()),
            "forecast.scalar_share": float(per.missing.mean()),
        }

    def check(self, res, inp):
        from time_series_spark_spark.operators.forecast import fit_forecast_series

        s = self._series(inp)
        n = s.series_id.nunique()
        fc, bt = res["out"]["forecast"], res["out"]["backtest"]
        failures = []
        if len(fc) != n * FORECAST_HORIZON:
            failures.append(f"forecast: {len(fc)} rows, want {n * FORECAST_HORIZON}")
        if len(bt) != n * len(BACKTEST_CUTOFFS):
            failures.append(f"backtest: {len(bt)} rows, want {n * len(BACKTEST_CUTOFFS)}")
        rng = np.random.default_rng(len(s))
        ids = sorted(rng.choice(s.series_id.unique(), CHECK_SAMPLE, replace=False))
        # always include series on the scalar path
        ids += sorted(s.loc[s.y.isna(), "series_id"].unique()[:2])
        for sid in ids:
            g = s[s.series_id == sid].sort_values("ds")
            ds = g.ds.to_numpy().astype("datetime64[us]")
            y = g.y.to_numpy(dtype=float)
            ref = fit_forecast_series(ds, y, FORECAST_HORIZON)
            got = fc[fc.series_id == sid].sort_values("ds")
            if not _close(got, ref, ["yhat", "yhat_lower", "yhat_upper"]):
                failures.append(f"forecast: series {sid} differs from the single-series fit")
            got_bt = bt[bt.series_id == sid].sort_values("cutoff")
            ref_bt = _backtest_ref(ds, y)
            if not _close(got_bt, ref_bt, ["mae", "rmse", "coverage"]):
                failures.append(f"backtest: series {sid} differs from the single-series fit")
        return 2, failures


def _backtest_ref(ds, y) -> pd.DataFrame:
    """Rolling-origin scores of one series from the single-series kernel."""
    from time_series_spark_spark.operators.forecast import fit_forecast_series

    rows = []
    for co in BACKTEST_CUTOFFS:
        train = ds <= np.datetime64(co)
        fc = fit_forecast_series(ds[train], y[train], BACKTEST_HORIZON)
        m = fc.merge(pd.DataFrame({"ds": ds, "y": y}), on="ds", how="inner")
        err = m.y - m.yhat
        rows.append(
            {
                "mae": float(err.abs().mean()),
                "rmse": float(np.sqrt((err**2).mean())),
                "coverage": float(((m.y >= m.yhat_lower) & (m.y <= m.yhat_upper)).mean()),
            }
        )
    return pd.DataFrame(rows)


def _close(got: pd.DataFrame, ref: pd.DataFrame, cols) -> bool:
    """Equal at the registry's 4-decimal rounding (one unit of slack in the
    last place, for the multi-RHS solve's different summation order)."""
    if len(got) != len(ref):
        return False
    for c in cols:
        a = np.round(got[c].to_numpy(dtype=float), 4)
        b = np.round(ref[c].to_numpy(dtype=float), 4)
        if not np.allclose(a, b, rtol=0, atol=1.5e-4, equal_nan=True):
            return False
    return True


# --------------------------------------------------------------------------
# cdc_upsert
# --------------------------------------------------------------------------


class CdcUpsert(Workload):
    kinds = ("corpus", "changelog")
    key = "o_orderkey"

    def prepare(self, spark, inp, scratch):
        """A fresh table, checkpoint and stream source directory."""
        src = scratch / "source"
        shutil.copytree(inp["changelog"], src)
        files = sorted(src.iterdir())
        # the file source plans micro-batches in modification-time order at
        # millisecond resolution: stamp the changelogs one second apart, in
        # name order, so they arrive in the order the replay applies them
        base = time.time() - len(files)
        for i, f in enumerate(files):
            os.utime(f, (base + i, base + i))
        first = files[0]
        return {
            "table": str(scratch / "table"),
            "checkpoint": str(scratch / "checkpoint"),
            "source": str(src),
            "schema": spark.read.parquet(str(first)).schema,
        }

    def run(self, spark, inp, tracer, scratch, state):
        from time_series_spark_spark.sources.io import (
            compact_versioned,
            describe_versioned_history,
            read_versioned,
            write_versioned,
        )
        from time_series_spark_spark.streaming.jobs import (
            stream_merge_to_versioned_table,
        )

        table = state["table"]
        with tracer.span("write_versioned", "sources"):
            orders = spark.read.parquet(str(Path(inp["corpus"]) / "orders.parquet"))
            write_versioned(
                orders.repartitionByRange(8, self.key).sortWithinPartitions(self.key),
                table,
            )
        stream_start = time.time()
        with tracer.span("stream_merge_to_versioned_table", "streaming"):
            stream = (
                spark.readStream.schema(state["schema"])
                .option("maxFilesPerTrigger", 1)
                .parquet(state["source"])
            )
            stream_merge_to_versioned_table(
                stream, table, [self.key], ["seq"],
                checkpoint_dir=state["checkpoint"],
            )
        with tracer.span("describe_versioned_history", "sources"):
            hist = tracer.deliver(describe_versioned_history(spark, table))
        hist = hist.sort_values("version").reset_index(drop=True)
        snapshots, reads, read_calls = {}, [], []
        for v in hist.version:
            t = time.perf_counter()
            with tracer.span("read_versioned", "sources"):
                df = read_versioned(spark, table, as_of=int(v))
            read_calls.append(time.perf_counter() - t)
            snapshots[int(v)] = tracer.deliver(df)
            reads.append(time.perf_counter() - t)
        t = time.perf_counter()
        with tracer.span("compact_versioned", "sources"):
            compact_versioned(spark, table)
        compact_s = time.perf_counter() - t

        # commit latency of each micro-batch: the gap between consecutive
        # commit stamps, the first one counted from the stream's start
        stamps = hist.committed_at.to_numpy() / 1e6
        commits = np.diff(np.concatenate([[stream_start], stamps[1:]]))
        return {
            "ops": [("commit", float(x)) for x in commits],
            "out": {"history": hist, "snapshots": snapshots},
            "table": table,
            "reads": reads,
            "read_calls": read_calls,
            "compact_s": compact_s,
        }

    def figures(self, spark, inp, res) -> dict:
        """Write, read and space figures, from the commit history and the
        table directory.  Space amplification is measured before the
        compaction: the compaction's own files are left out."""
        from time_series_spark_spark.sources.io import read_versioned

        hist = res["out"]["history"]
        table = res["table"]

        def files(v):
            return {
                f.removeprefix("file:")
                for f in read_versioned(spark, table, as_of=v).inputFiles()
            }

        last = int(hist.version.max())
        per_version = [files(v) for v in range(last + 1)]
        snap = per_version[-1]
        snap_bytes = sum(os.path.getsize(f) for f in snap)
        compacted = files(last + 1) - snap
        compact_bytes = sum(os.path.getsize(f) for f in compacted)
        stored = sum(f.stat().st_size for f in Path(table).rglob("*") if f.is_file())
        added = set().union(
            *(cur - prev for prev, cur in zip(per_version, per_version[1:]))
        )
        merges = hist[hist["mode"] == "merge"]
        changed = sum(
            len(pd.read_parquet(f)) for f in sorted(Path(inp["changelog"]).iterdir())
        )
        commits = [x for _, x in res["ops"]]
        return {
            "cdc.commit_p50_s": float(np.median(commits)),
            "cdc.read_p50_s": float(np.median(res["reads"])),
            "cdc.space_amp": (stored - compact_bytes) / snap_bytes,
            "sources.commit_files_added": int(merges.n_adds.fillna(0).sum()),
            "sources.commit_rows_written": int(merges.n_rows_added.fillna(0).sum()),
            "sources.commit_bytes_written": sum(os.path.getsize(f) for f in added),
            "sources.rows_rewritten_per_changed": float(
                merges.n_rows_added.fillna(0).sum() / changed
            ),
            "sources.snapshot_files": len(snap),
            "sources.read_s": float(np.median(res["read_calls"])),
            "sources.read_files": float(np.median([len(f) for f in per_version])),
            "sources.compact_s": res["compact_s"],
            "sources.compact_bytes_rewritten": compact_bytes,
        }

    def check(self, res, inp):
        """Every committed version equals a pandas replay of the seed and
        the changelogs applied in order, last writer (``seq``) per key."""
        hist = res["out"]["history"]
        snaps = res["out"]["snapshots"]
        state = pd.read_parquet(Path(inp["corpus"]) / "orders.parquet")
        cols = list(state.columns)
        batches = sorted(Path(inp["changelog"]).iterdir())
        failures = []
        if len(hist) != 1 + len(batches):
            failures.append(f"history: {len(hist)} versions, want {1 + len(batches)}")
        for v in range(1 + len(batches)):
            if v > 0:
                ch = pd.read_parquet(batches[v - 1]).sort_values("seq")
                ch = ch.drop_duplicates(self.key, keep="last")[cols]
                state = pd.concat(
                    [state[~state[self.key].isin(ch[self.key])], ch],
                    ignore_index=True,
                )
            got = snaps.get(v)
            if got is None or not _frame_equal(got[cols], state, self.key):
                failures.append(f"version {v}: differs from the replay")
        return 1 + len(batches), failures


def _frame_equal(a: pd.DataFrame, b: pd.DataFrame, key: str) -> bool:
    if len(a) != len(b):
        return False
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_datetime64_any_dtype(x):
            x, y = x.astype("datetime64[us]"), y.astype("datetime64[us]")
        if not (x.to_numpy() == y.to_numpy()).all():
            return False
    return True


WORKLOADS = {
    "forecast_fleet": ForecastFleet(),
    "llm_curation": LlmCuration(),
    "cdc_upsert": CdcUpsert(),
}
