"""Seeded input generators for the benchmark.

Every input the program sees is made here from ``--seed``; nothing is read
from outside the checkout.  Three kinds of input:

- ``fleet``: a synthetic corpus of independent daily series for
  ``forecast_fleet`` (long format: ``series_id, ds, y``).  Series start on
  one of a few ragged start dates and all end on the same day, so they fall
  into a few same-grid cohorts (the multi-RHS solve); a share of them carry
  missing days as null ``y`` (the scalar ``fit_forecast_series`` path).
- ``corpus``: the engine's ten-table test schema (TPC-H-ish star schema,
  ``events``, ``documents``, ``embeddings``), built as a seeded base block
  replicated in the stress10x manner: fact keys shifted per replica, and
  replicas perturbed (text gets a replica token and word substitutions,
  vectors are jittered, values nudged).  Dimensions stay 1x.
- ``changelog``: upsert files for ``cdc_upsert``, one file per
  micro-batch, over the corpus's ``orders`` keys plus a few new keys.

Outputs are cached under ``.perfbench_cache/`` in the checkout, keyed by
kind, seed and generator version, so a second run with the same seed
reuses the bytes.  Generation is never inside a timed region.

``python3 perfbench/corpus.py --self-check`` regenerates every kind twice
for one seed and once for another, and fails unless the same seed gives
identical bytes and a different seed gives different ones.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 1
CACHE = Path(__file__).resolve().parent.parent / ".perfbench_cache"

# forecast_fleet shape
FLEET_SERIES = 1500
FLEET_DAYS = 730
FLEET_END = np.datetime64("2024-06-30", "D")
FLEET_START_OFFSETS = (0, 91, 182, 365)  # days after the first start: cohorts
FLEET_MISSING_SHARE = 0.1

# corpus shape: base block scale factor (sf 0.1 has 150 000 orders) and the
# replica count of the fact tables
CORPUS_SF = 0.005
CORPUS_REPLICAS = 2
SHIFT = 10_000_000

# changelog shape: each batch updates keys inside one range of an eighth of
# the key space (recent-order churn), so a merge touches few files
CHANGE_BATCHES = 4
CHANGE_ROWS = 400
CHANGE_NEW_SHARE = 0.1
CHANGE_RANGE = 1 / 8

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
)
PART_TYPES = np.array(
    ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
)
PART_ADJ = np.array(["large", "hot", "blue", "small", "red", "cold"])
PART_NOUN = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([VERSION, seed, *stream])


def _write(table: pa.Table, path: Path, row_group_size: int = 16384) -> None:
    pq.write_table(
        table, path, row_group_size=row_group_size, compression="snappy"
    )


def _days(start: str, n: int, rng, size: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n, size)).astype("datetime64[us]")


# --------------------------------------------------------------------------
# forecast_fleet
# --------------------------------------------------------------------------


def write_fleet(seed: int, out: Path, n_series: int = FLEET_SERIES) -> None:
    """Daily series ``series_id, ds, y``."""
    rng = _rng(seed, 1)
    start0 = FLEET_END - (FLEET_DAYS - 1)
    offsets = rng.choice(FLEET_START_OFFSETS, n_series)
    missing = rng.random(n_series) < FLEET_MISSING_SHARE
    ids, dss, ys = [], [], []
    for sid in range(n_series):
        n = FLEET_DAYS - int(offsets[sid])
        ds = start0 + int(offsets[sid]) + np.arange(n)
        t = np.arange(n, dtype=float)
        level = rng.uniform(50, 500)
        y = (
            level
            + rng.normal(0, 0.05) * t
            + rng.uniform(0, 0.2) * level * np.sin(2 * np.pi * t / 7 + rng.uniform(0, 6.3))
            + rng.uniform(0, 0.3) * level * np.sin(2 * np.pi * t / 365.25 + rng.uniform(0, 6.3))
            + rng.normal(0, 0.05 * level, n)
        )
        y = np.round(y, 2)
        ids.append(np.full(n, sid, dtype=np.int64))
        dss.append(ds.astype("datetime64[us]"))
        ys.append(y)
    y_all = np.concatenate(ys)
    valid = np.ones(len(y_all), dtype=bool)
    pos = 0
    for sid in range(n_series):
        n = len(ys[sid])
        if missing[sid]:
            # a few scattered missing days, never in the first 60 (every
            # backtest cutoff keeps at least five training points)
            drop = rng.choice(np.arange(60, n), size=rng.integers(3, 15), replace=False)
            valid[pos + drop] = False
        pos += n
    table = pa.table(
        {
            "series_id": pa.array(np.concatenate(ids)),
            "ds": pa.array(np.concatenate(dss)),
            "y": pa.array(y_all, mask=~valid),
        }
    )
    _write(table, out / "fleet.parquet", row_group_size=131072)


# --------------------------------------------------------------------------
# ten-table corpus
# --------------------------------------------------------------------------


def _text(rng, n_words: int) -> str:
    return " ".join(rng.choice(WORDS, n_words))


def _base(seed: int, sf: float) -> dict[str, dict]:
    """One base block of every table, as column dicts."""
    rng = _rng(seed, 2)
    n_orders = int(1_500_000 * sf)
    n_li = 4 * n_orders
    n_cust = int(150_000 * sf)
    n_part = int(200_000 * sf)
    n_supp = int(10_000 * sf)
    n_events = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = int(50_000 * sf)
    n_vecs = n_docs

    t = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": np.array(REGIONS),
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": np.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": np.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": np.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    }
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(rng.choice(PART_ADJ, n_part), " "),
            rng.choice(PART_NOUN, n_part),
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(np.array(["O", "P", "F"]), n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": _days("1995-01-01", 2404, rng, n_orders),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    }
    rf_ls = np.array(["A O", "A F", "N O", "N F", "R O", "R F"])[
        rng.integers(0, 6, n_li)
    ]
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_orders, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array([s[0] for s in rf_ls]),
        "l_linestatus": np.array([s[2] for s in rf_ls]),
        "l_shipdate": _days("1995-01-02", 2498, rng, n_li),
    }
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400_000_000
    ts = ts0 + np.sort(rng.integers(0, span_us, n_events)).astype("timedelta64[us]")
    t["events"] = {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    }
    texts = [_text(rng, int(k)) for k in rng.integers(10, 101, n_docs)]
    # a few exact duplicates and 'dup'-marked near-duplicates of earlier
    # documents, as in the engine's test corpus
    for i in range(n_docs):
        u = rng.random()
        if i > 0 and u < 0.02:
            texts[i] = texts[int(rng.integers(0, i))]
        elif i > 0 and u < 0.06:
            src = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(src)))
            texts[i] = " ".join(src[:j] + ["dup"] + src[j:])
    t["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    }
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 1, (10, 64))
    e = rng.normal(0, 1, (n_vecs, 64)) + 0.07 * centers[labels]
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": e.astype(np.float32),
        "label": labels.astype(np.int32),
    }
    return t


def _perturb_text(rng, text: str, r: int) -> str:
    words = text.split()
    flip = rng.random(len(words)) < 0.05
    words = [str(rng.choice(WORDS)) if f else w for w, f in zip(words, flip)]
    return f"r{r} " + " ".join(words)


def _replicate(base: dict, r: int, rng) -> dict:
    """Replica ``r`` of the fact tables: keys shifted, content perturbed."""
    out = {}
    d = dict(base["documents"])
    d["doc_id"] = d["doc_id"] + r * SHIFT
    if r:
        d["text"] = np.array(
            [_perturb_text(rng, s, r) for s in d["text"]], dtype=object
        )
        d["n_chars"] = np.array([len(s) for s in d["text"]], dtype=np.int64)
    out["documents"] = d
    e = dict(base["embeddings"])
    e["vec_id"] = e["vec_id"] + r * SHIFT
    if r:
        emb = e["embedding"] + rng.normal(0, 0.02, e["embedding"].shape)
        e["embedding"] = emb.astype(np.float32)
    out["embeddings"] = e
    ev = dict(base["events"])
    ev["event_id"] = ev["event_id"] + r * 100 * SHIFT
    ev["user_id"] = ev["user_id"] + r * SHIFT
    if r:
        ev["value"] = np.round(ev["value"] * rng.uniform(0.99, 1.01, len(ev["value"])), 2)
    out["events"] = ev
    o = dict(base["orders"])
    o["o_orderkey"] = o["o_orderkey"] + r * SHIFT
    if r:
        o["o_totalprice"] = np.round(
            o["o_totalprice"] * rng.uniform(0.99, 1.01, len(o["o_totalprice"])), 2
        )
    out["orders"] = o
    li = dict(base["lineitem"])
    li["l_orderkey"] = li["l_orderkey"] + r * SHIFT
    if r:
        li["l_extendedprice"] = np.round(
            li["l_extendedprice"]
            * rng.uniform(0.99, 1.01, len(li["l_extendedprice"])),
            2,
        )
    out["lineitem"] = li
    return out


def _arrow(cols: dict) -> pa.Table:
    arrays = {}
    for name, v in cols.items():
        if name == "embedding":
            flat = pa.array(v.reshape(-1), type=pa.float32())
            arrays[name] = pa.ListArray.from_arrays(
                pa.array(np.arange(0, v.size + 1, v.shape[1], dtype=np.int32)),
                flat,
            )
        elif v.dtype == object or v.dtype.kind == "U":
            arrays[name] = pa.array(v.tolist(), type=pa.string())
        else:
            arrays[name] = pa.array(v)
    return pa.table(arrays)


def write_corpus(seed: int, out: Path) -> None:
    base = _base(seed, CORPUS_SF)
    rng = _rng(seed, 3)
    reps = [_replicate(base, r, rng) for r in range(CORPUS_REPLICAS)]
    for name, cols in base.items():
        if name in reps[0]:
            parts = [_arrow(rep[name]) for rep in reps]
            table = pa.concat_tables(parts)
        else:
            table = _arrow(cols)
        # small row groups keep a multi-task scan on these small files
        _write(table, out / f"{name}.parquet", row_group_size=4096)


# --------------------------------------------------------------------------
# cdc_upsert changelogs
# --------------------------------------------------------------------------


def write_changelog(seed: int, corpus: Path, out: Path) -> None:
    """One upsert file per micro-batch over ``orders``: rows carry every
    table column plus ``seq`` (the last-writer-wins order).  Keys repeat
    within and across batches; a share are new keys (inserts)."""
    rng = _rng(seed, 4)
    keys = np.sort(
        pq.read_table(corpus / "orders.parquet", columns=["o_orderkey"])[
            "o_orderkey"
        ].to_numpy()
    )
    span = int(len(keys) * CHANGE_RANGE)
    n_cust = pq.read_metadata(corpus / "customer.parquet").num_rows
    next_key = int(keys.max()) + 1
    seq = 0
    for b in range(CHANGE_BATCHES):
        n_new = int(CHANGE_ROWS * CHANGE_NEW_SHARE)
        lo = int(rng.integers(0, len(keys) - span))
        old = rng.choice(keys[lo : lo + span], CHANGE_ROWS - n_new)
        new = np.arange(next_key, next_key + n_new, dtype=np.int64)
        next_key += n_new
        k = np.concatenate([old, new])
        # a few keys updated twice in one batch: last writer (seq) wins
        k = np.concatenate([k, rng.choice(old, 20)])
        n = len(k)
        cols = {
            "o_orderkey": k.astype(np.int64),
            "o_custkey": rng.integers(0, n_cust, n),
            "o_orderstatus": rng.choice(np.array(["O", "P", "F"]), n),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n), 2),
            "o_orderdate": _days("1995-01-01", 2404, rng, n),
            "o_orderpriority": rng.choice(PRIORITIES, n),
            "seq": np.arange(seq, seq + n, dtype=np.int64),
        }
        seq += n
        _write(_arrow(cols), out / f"batch_{b:03d}.parquet")


# --------------------------------------------------------------------------
# cache
# --------------------------------------------------------------------------


def _build(kind: str, seed: int, out: Path, cache: Path) -> None:
    if kind == "fleet":
        write_fleet(seed, out)
    elif kind == "fleet_tiny":
        write_fleet(seed, out, n_series=40)
    elif kind == "corpus":
        write_corpus(seed, out)
    elif kind == "changelog":
        write_changelog(seed, ensure("corpus", seed, cache), out)
    else:
        raise ValueError(f"unknown input kind {kind!r}")


def instance_seed(seed: int, instance: int) -> int:
    """Seed of the ``instance``-th input of one benchmark run: each run of
    a workload inside one process gets inputs of its own, so no cache the
    program keys on a path or on content can carry over between runs."""
    return seed * 64 + instance


def ensure(kind: str, seed: int, cache: Path = CACHE) -> Path:
    """The directory holding input ``kind`` for ``seed``, built if absent.
    A build lands in a temporary directory and is renamed into place, so
    a crashed build never leaves a half-written cache entry."""
    out = cache / f"v{VERSION}" / f"{kind}-{seed}"
    if out.is_dir():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    _build(kind, seed, tmp, cache)
    try:
        tmp.rename(out)
    except OSError:  # another process built it first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def digest(path: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(path.iterdir()):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def self_check(seed: int = 7) -> int:
    """Same seed → identical bytes; different seed → different bytes."""
    root = CACHE / "self-check"
    shutil.rmtree(root, ignore_errors=True)
    bad = []
    for kind in ("fleet", "corpus", "changelog"):
        a = digest(ensure(kind, seed, root / "a"))
        b = digest(ensure(kind, seed, root / "b"))
        c = digest(ensure(kind, seed + 1, root / "c"))
        status = "ok" if a == b and a != c else "FAIL"
        if status != "ok":
            bad.append(kind)
        print(f"{kind}: same-seed-equal={a == b} other-seed-differs={a != c} {status}")
    shutil.rmtree(root, ignore_errors=True)
    return 1 if bad else 0


if __name__ == "__main__":
    if sys.argv[1:] == ["--self-check"]:
        raise SystemExit(self_check())
    raise SystemExit("usage: python3 perfbench/corpus.py --self-check")
