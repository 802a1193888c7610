"""A19 parquet layout audit: the distributed footer reader and the
flag semantics that feed the A17 compaction/maintenance story."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq


def test_parquet_layout_report_multifile_and_flag(spark, tmp_path):
    """(1) one output row per (file, row group), counts exact across a
    multi-file directory with heterogeneous layouts; (2) the
    one-giant-row-group defect (the round-9 100x lesson) is visible as
    a single group carrying all rows; (3) byte sizes are positive and
    the report is footer-only (runs in milliseconds on files whose data
    pages would take far longer)."""
    from time_series_spark_spark.sources.io import parquet_layout_report

    good = tmp_path / "good.parquet"
    bad = tmp_path / "bad.parquet"
    pq.write_table(
        pa.table({"x": list(range(10_000))}), good, row_group_size=1_000
    )
    pq.write_table(
        pa.table({"x": list(range(10_000))}), bad  # default: ONE group
    )
    rep = parquet_layout_report(
        spark, str(tmp_path / "*.parquet")
    ).toPandas()

    g = rep[rep["path"].str.endswith("good.parquet")]
    b = rep[rep["path"].str.endswith("bad.parquet")]
    assert len(g) == 10 and set(g["n_rows"]) == {1_000}
    assert list(g.sort_values("group_idx")["group_idx"]) == list(range(10))
    assert len(b) == 1 and int(b["n_rows"].iloc[0]) == 10_000
    assert (rep["n_bytes"] > 0).all()
    # per-file totals reconcile with the footers' own row counts
    assert g["n_rows"].sum() == 10_000 and b["n_rows"].sum() == 10_000

    # the maintenance predicate a pipeline alerts on: a file whose max
    # row-group row share is ~1.0 cannot parallelize
    share = b["n_rows"].max() / b["n_rows"].sum()
    assert share == 1.0
    assert g["n_rows"].max() / g["n_rows"].sum() == 0.1


def test_parquet_layout_report_distributed_shape(spark, tmp_path):
    """The file list fans out across tasks (mapInPandas over a
    repartitioned path frame) — no driver-side footer loop."""
    from time_series_spark_spark.sources.io import parquet_layout_report

    paths = []
    for i in range(8):
        p = tmp_path / f"f{i}.parquet"
        pq.write_table(pa.table({"x": list(range(100 * (i + 1)))}), p)
        paths.append(str(p))
    rep = parquet_layout_report(spark, paths)
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    got = {
        r["path"].rsplit("/", 1)[-1]: r["n_rows"]
        for r in rep.collect()
    }
    assert got == {f"f{i}.parquet": 100 * (i + 1) for i in range(8)}


def test_compaction_heals_one_row_group_layout(spark, tmp_path):
    """A17 ∘ A19: the audit's flag predicate and the fix compose — a
    directory whose single file is ONE giant row group (scan
    parallelism 1) is rewritten by compact_parquet into multiple
    right-sized files, each its own splittable unit, and the audit
    verifies the heal with zero data loss."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from time_series_spark_spark.sources.io import (
        compact_parquet,
        parquet_layout_report,
    )

    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(  # the round-9 defect: one file, one giant group
        pa.table({"x": list(range(50_000))}),
        src / "blob.parquet",
    )
    before = parquet_layout_report(
        spark, str(src / "*.parquet")
    ).toPandas()
    assert len(before) == 1  # 1 file x 1 group -> 1 scan task, flagged
    assert before["n_rows"].max() / before["n_rows"].sum() == 1.0

    dst = str(tmp_path / "dst")
    stats = compact_parquet(spark, str(src), dst, target_file_bytes=64 * 1024)
    after = parquet_layout_report(spark, f"{dst}/*.parquet").toPandas()
    # multiple independent splittable units now, same rows
    assert after["path"].nunique() > 1
    assert int(after["n_rows"].sum()) == 50_000
    assert after.groupby("path")["n_rows"].sum().max() < 50_000
    assert spark.read.parquet(dst).count() == 50_000
    assert stats["n_files_after"] == after["path"].nunique()


def test_versioned_table_through_subtree_filesystem(spark, tmp_path):
    """The fsio seam (round 10): the WHOLE A13 family — write (replace +
    carry-forward), time travel, OPTIMIZE, VACUUM + retention floor,
    and the (stream_id, batch_id) ledger — runs against a NON-DEFAULT
    pyarrow filesystem. A SubTreeFileSystem re-roots every storage call:
    if any code path bypassed the seam (a stray os/glob/open), it would
    look at the wrong directory and this test would see missing
    manifests or files."""
    from pyarrow import fs as pafs

    from time_series_spark_spark.sources.fsio import TableFS
    from time_series_spark_spark.sources.io import (
        committed_batch_ids,
        compact_versioned,
        read_versioned,
        retention_floor,
        vacuum_versioned,
        write_versioned,
    )

    base = tmp_path / "store"
    base.mkdir()
    sub = pafs.SubTreeFileSystem(str(base), pafs.LocalFileSystem())
    # manifest I/O goes through the subtree FS (root-relative path);
    # Spark addresses the same directory via the composed local path
    tfs = TableFS("vt", filesystem=sub, spark_root=str(base / "vt"))

    assert write_versioned(spark.range(4).selectExpr("id"), tfs) == 0
    assert (
        write_versioned(
            spark.range(4, 6).selectExpr("id"),
            tfs,
            carry_forward=True,
            batch_id=0,
            stream_id="s1",
        )
        == 1
    )
    # every storage artifact landed under the SUBTREE root
    assert (base / "vt" / "_manifest.0.json").exists()
    assert (base / "vt" / "_manifest.1.json").exists()
    assert read_versioned(spark, tfs).count() == 6
    assert read_versioned(spark, tfs, as_of=0).count() == 4
    assert committed_batch_ids(tfs, "s1") == {0}

    stats = compact_versioned(spark, tfs, target_file_bytes=1 << 30)
    assert stats["version"] == 2 and stats["n_files_after"] >= 1
    assert read_versioned(spark, tfs).count() == 6

    vac = vacuum_versioned(tfs, keep_last=1)
    assert vac["floor"] == 2 == retention_floor(tfs)
    assert read_versioned(spark, tfs).count() == 6  # latest unaffected
    import pytest as _pytest

    with _pytest.raises(ValueError, match="retention floor"):
        read_versioned(spark, tfs, as_of=0)
    # the ledger survives vacuum (manifests are kept)
    assert committed_batch_ids(tfs, "s1") == {0}


def test_write_versioned_records_row_group_stats(spark, tmp_path):
    """Round 11 (r10 verdict item 4): every commit records per-added-file
    row-group byte sizes in the manifest (`add_stats`; full-snapshot
    manifests also carry `file_stats` for the whole list), read once at
    commit time from the footers the writer just produced — and
    `fsio.manifest_file_stats` resolves the full map through the delta
    chain."""
    import json

    import pyarrow.parquet as pq

    from time_series_spark_spark.sources.fsio import (
        as_table_fs,
        manifest_file_stats,
        manifest_files,
    )
    from time_series_spark_spark.sources.io import write_versioned

    table = tmp_path / "vt"
    write_versioned(spark.range(100).repartition(2).selectExpr("id"), str(table))
    with open(table / "_manifest.0.json") as fh:
        m0 = json.load(fh)
    assert set(m0["add_stats"]) == set(m0["adds"]) and len(m0["adds"]) == 2
    assert m0["file_stats"] == m0["add_stats"]  # first commit: files == adds
    for rel, rg_bytes in m0["add_stats"].items():
        md = pq.ParquetFile(table / rel).metadata
        assert rg_bytes == [
            md.row_group(g).total_byte_size for g in range(md.num_row_groups)
        ]
    # a carry-forward DELTA manifest records stats for ITS adds only...
    write_versioned(
        spark.range(100, 150).selectExpr("id"), str(table), carry_forward=True
    )
    with open(table / "_manifest.1.json") as fh:
        m1 = json.load(fh)
    assert "files" not in m1 and set(m1["add_stats"]) == set(m1["adds"])
    # ...and the chain resolver covers the FULL snapshot file list
    tfs = as_table_fs(str(table))
    stats = manifest_file_stats(tfs, 1)
    assert set(stats) >= set(manifest_files(tfs, 1))


def test_versioned_stream_plans_without_datafile_io(spark, tmp_path, monkeypatch):
    """Round 11 (r10 verdict item 4): `partitions()` splits a
    multi-row-group file into multiple slices from the manifest's
    commit-time stats alone — no data-file open at plan time (the
    legacy footer-read fallback stays for manifests without stats,
    pinned by the vt4 case in test_streaming.py)."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from time_series_spark_spark.sources.pydatasource import (
        VersionedTableStreamReader,
    )

    table = tmp_path / "vt"
    (table / "v=0").mkdir(parents=True)
    pq.write_table(
        pa.table({"id": list(range(5000))}),
        table / "v=0" / "big.parquet",
        row_group_size=1000,  # 5 groups
    )
    md = pq.ParquetFile(table / "v=0" / "big.parquet").metadata
    rg_bytes = [
        md.row_group(g).total_byte_size for g in range(md.num_row_groups)
    ]
    with open(table / "_manifest.0.json", "w") as fh:
        json.dump(
            {
                "version": 0,
                "files": ["v=0/big.parquet"],
                "adds": ["v=0/big.parquet"],
                "add_stats": {"v=0/big.parquet": rg_bytes},
                "schema": spark.range(1).schema.json(),
                "n_files": 1,
                "batch_id": None,
                "stream_id": None,
            },
            fh,
        )
    rd = VersionedTableStreamReader({"path": str(table)})
    rd.TARGET_SLICE_BYTES = 8_000  # ~one 1000-row int64 group per slice

    def _no_plan_time_open(*a, **k):
        raise AssertionError("partitions() opened a data file at plan time")

    monkeypatch.setattr(pq, "ParquetFile", _no_plan_time_open)
    parts = rd.partitions(
        {"version": 0, "snapshot": True}, {"version": 0, "snapshot": False}
    )
    assert len(parts) == 5
    assert sorted(g for p in parts for g in p.row_groups) == [0, 1, 2, 3, 4]
    monkeypatch.undo()
    # the stats-planned slices read exactly the file's rows, once each
    assert sum(sum(b.num_rows for b in rd.read(p)) for p in parts) == 5000


def test_committed_batch_ids_no_directory_listing(spark, tmp_path, monkeypatch):
    """Round 11 (r10 verdict item 6): the sink's per-micro-batch ledger
    check resolves the latest version via the `_latest.json` hint —
    never a manifest-directory LISTING (O(versions) at streaming
    cadence). Pinned by poisoning TableFS.ls for the duration."""
    from time_series_spark_spark.sources.fsio import TableFS
    from time_series_spark_spark.sources.io import (
        committed_batch_ids,
        write_versioned,
    )

    table = str(tmp_path / "vt")
    for b in range(3):
        write_versioned(
            spark.range(b * 5, (b + 1) * 5).selectExpr("id"),
            table,
            carry_forward=True,
            batch_id=b,
            stream_id="s1",
        )

    def _no_listing(self, *rel):
        raise AssertionError("committed_batch_ids listed the manifest dir")

    monkeypatch.setattr(TableFS, "ls", _no_listing)
    assert committed_batch_ids(table, "s1") == {0, 1, 2}
    assert committed_batch_ids(table, "other") == set()


def test_versioned_stream_on_replace_option(spark, tmp_path):
    """Round 11: manifests record the commit mode, and the J11e source's
    onReplace option picks the Delta posture — 'added' (default)
    re-emits a replace commit's files as adds; 'fail' raises at plan
    time so downstream exactly-once state is never silently corrupted
    by re-emitted rows."""
    import json

    import pytest as _pytest

    from time_series_spark_spark.sources.io import write_versioned
    from time_series_spark_spark.sources.pydatasource import (
        VersionedTableStreamReader,
    )

    table = tmp_path / "vt"
    write_versioned(spark.range(5).selectExpr("id"), str(table))
    write_versioned(
        spark.range(5, 8).selectExpr("id"), str(table), carry_forward=True
    )
    write_versioned(spark.range(20).selectExpr("id"), str(table))  # replace
    with open(table / "_manifest.1.json") as fh:
        assert json.load(fh)["mode"] == "append"
    with open(table / "_manifest.2.json") as fh:
        assert json.load(fh)["mode"] == "replace"

    span = ({"version": 0, "snapshot": False}, {"version": 2, "snapshot": False})
    # default: the replace's files arrive as adds (ignoreChanges)
    rd = VersionedTableStreamReader({"path": str(table)})
    parts = rd.partitions(*span)
    n = sum(sum(b.num_rows for b in rd.read(p)) for p in parts)
    assert n == 3 + 20  # v1 increment + the replace snapshot re-emitted
    # onReplace=fail: loud plan-time error naming the replace version
    rd_f = VersionedTableStreamReader(
        {"path": str(table), "onReplace": "fail"}
    )
    with _pytest.raises(ValueError, match="REPLACE"):
        rd_f.partitions(*span)
    # an append-only range still plans fine under fail
    assert rd_f.partitions(
        {"version": 0, "snapshot": False}, {"version": 1, "snapshot": False}
    )
    with _pytest.raises(ValueError, match="onReplace"):
        VersionedTableStreamReader({"path": str(table), "onReplace": "bogus"})


def test_describe_versioned_history(spark, tmp_path):
    """A13d (round 11): DESCRIBE HISTORY reads manifests only — one row
    per version with mode / file+row deltas / checkpoint flag / stream
    provenance; fields a legacy writer never recorded surface as NULL
    rather than a guess."""
    import json

    from time_series_spark_spark.sources.io import (
        describe_versioned_history,
        write_versioned,
    )

    table = tmp_path / "vt"
    write_versioned(spark.range(6).selectExpr("id").coalesce(1), str(table))
    write_versioned(
        spark.range(6, 10).selectExpr("id").coalesce(1),
        str(table),
        carry_forward=True,
        batch_id=7,
        stream_id="s1",
    )
    write_versioned(spark.range(3).selectExpr("id").coalesce(1), str(table))
    hist = {r["version"]: r for r in describe_versioned_history(spark, str(table)).collect()}
    assert hist[0]["mode"] == "append" and hist[0]["is_checkpoint"]
    assert hist[0]["n_files"] == 1 and hist[0]["n_rows_added"] == 6
    assert hist[1]["mode"] == "append" and not hist[1]["is_checkpoint"]
    assert hist[1]["n_files"] == 2 and hist[1]["n_adds"] == 1
    assert hist[1]["n_rows_added"] == 4
    assert hist[1]["stream_id"] == "s1" and hist[1]["batch_id"] == 7
    assert hist[2]["mode"] == "replace" and hist[2]["n_rows_added"] == 3
    assert hist[2]["is_checkpoint"] and hist[2]["stream_id"] is None

    # legacy manifest (pre-round-11 writer): mode / n_rows_added NULL
    m_path = table / "_manifest.1.json"
    with open(m_path) as fh:
        m = json.load(fh)
    for k in ("mode", "n_rows_added", "add_stats"):
        m.pop(k, None)
    with open(m_path, "w") as fh:
        json.dump(m, fh)
    hist = {r["version"]: r for r in describe_versioned_history(spark, str(table)).collect()}
    assert hist[1]["mode"] is None and hist[1]["n_rows_added"] is None
    assert hist[1]["n_adds"] == 1  # adds still present in the manifest


def test_restore_versioned(spark, tmp_path):
    """A13e (round 11): RESTORE is a metadata-only rollback — a new
    manifest re-referencing the target version's files. Laws: (1) the
    latest snapshot equals the restored version exactly; (2) history is
    preserved (every prior version still time-travels; the rollback is
    its own mode='restore' commit); (3) restored files are re-protected
    from vacuum; (4) the streaming source emits NOTHING for a restore
    by default and fails loudly under onReplace=fail; (5) restoring
    below the retention floor refuses."""
    import pytest as _pytest

    from time_series_spark_spark.sources.io import (
        describe_versioned_history,
        read_versioned,
        restore_versioned,
        vacuum_versioned,
        write_versioned,
    )
    from time_series_spark_spark.sources.pydatasource import (
        VersionedTableStreamReader,
    )

    table = str(tmp_path / "vt")
    write_versioned(spark.range(6).selectExpr("id").coalesce(1), table)
    write_versioned(spark.range(100).selectExpr("id").coalesce(1), table)
    v = restore_versioned(table, 0)
    assert v == 2
    # (1) exact rollback, (2) history preserved
    assert sorted(r["id"] for r in read_versioned(spark, table).collect()) == list(range(6))
    assert read_versioned(spark, table, as_of=1).count() == 100
    hist = {r["version"]: r for r in describe_versioned_history(spark, table).collect()}
    assert hist[2]["mode"] == "restore" and hist[2]["n_adds"] == 0
    assert hist[2]["n_files"] == 1 and hist[2]["is_checkpoint"]
    # (4) stream: a restore emits nothing...
    rd = VersionedTableStreamReader({"path": table})
    parts = rd.partitions(
        {"version": 1, "snapshot": False}, {"version": 2, "snapshot": False}
    )
    assert parts == []
    # ...and fails loudly under onReplace=fail
    rd_f = VersionedTableStreamReader({"path": table, "onReplace": "fail"})
    with _pytest.raises(ValueError, match="RESTORE"):
        rd_f.partitions(
            {"version": 1, "snapshot": False},
            {"version": 2, "snapshot": False},
        )
    # (3) vacuum keeps the restored version's files (re-referenced by
    # the latest manifest) even when their ORIGINAL version is pruned
    vacuum_versioned(table, keep_last=1)
    assert read_versioned(spark, table).count() == 6
    # (5) below-floor restore refuses (v1's files are gone)
    with _pytest.raises(ValueError, match="retention floor"):
        restore_versioned(table, 1)
    # a post-restore carry-forward append composes
    write_versioned(
        spark.range(6, 9).selectExpr("id").coalesce(1),
        table,
        carry_forward=True,
    )
    assert read_versioned(spark, table).count() == 9


def test_versioned_as_of_timestamp(spark, tmp_path):
    """Round 11: TIMESTAMP AS OF time travel — every commit stamps
    committed_at (epoch µs); a timestamp resolves to the LATEST version
    committed at or before it. Boundary-exact (resolution uses the
    recorded stamps themselves), loud on pre-history instants and on
    tables written before stamps existed."""
    import json

    import pytest as _pytest

    from time_series_spark_spark.sources.io import (
        describe_versioned_history,
        read_versioned,
        write_versioned,
    )

    table = tmp_path / "vt"
    write_versioned(spark.range(3).selectExpr("id"), str(table))
    write_versioned(
        spark.range(3, 7).selectExpr("id"), str(table), carry_forward=True
    )
    ts = {
        r["version"]: r["committed_at"]
        for r in describe_versioned_history(spark, str(table)).collect()
    }
    assert ts[0] is not None and ts[1] >= ts[0]
    # exactly at each commit instant -> that version
    assert read_versioned(spark, str(table), as_of_timestamp=ts[0]).count() == 3
    assert read_versioned(spark, str(table), as_of_timestamp=ts[1]).count() == 7
    # far future -> latest; just before the first commit -> loud error
    assert (
        read_versioned(
            spark, str(table), as_of_timestamp=ts[1] + 10**12
        ).count()
        == 7
    )
    with _pytest.raises(ValueError, match="committed at or before"):
        read_versioned(spark, str(table), as_of_timestamp=ts[0] - 1)
    with _pytest.raises(ValueError, match="not both"):
        read_versioned(spark, str(table), as_of=0, as_of_timestamp=ts[0])
    # legacy manifests (no stamp) cannot match a timestamp
    for v in (0, 1):
        p = table / f"_manifest.{v}.json"
        with open(p) as fh:
            m = json.load(fh)
        m.pop("committed_at", None)
        with open(p, "w") as fh:
            json.dump(m, fh)
    with _pytest.raises(ValueError, match="predates commit timestamps"):
        read_versioned(spark, str(table), as_of_timestamp=ts[1])


def test_vacuum_dry_run(spark, tmp_path):
    """Round 11: VACUUM DRY RUN reports exactly what the real pass would
    do — same floor, same files/bytes — while changing NOTHING (no
    floor publish, no deletes); the subsequent real vacuum matches the
    forecast."""
    from time_series_spark_spark.sources.io import (
        read_versioned,
        retention_floor,
        vacuum_versioned,
        write_versioned,
    )

    table = str(tmp_path / "vt")
    for r in range(3):
        write_versioned(
            spark.range(r * 5, (r + 1) * 5).selectExpr("id").coalesce(1),
            table,
        )  # replace commits -> old files genuinely unreferenced
    what_if = vacuum_versioned(table, keep_last=1, dry_run=True)
    assert what_if["dry_run"] and what_if["floor"] == 2
    assert what_if["n_files_deleted"] == 2 and what_if["bytes_deleted"] > 0
    # nothing changed: no floor, all versions still readable
    assert retention_floor(table) == 0
    assert read_versioned(spark, table, as_of=0).count() == 5
    # the real pass matches the forecast
    real = vacuum_versioned(table, keep_last=1)
    assert real["floor"] == what_if["floor"]
    assert real["n_files_deleted"] == what_if["n_files_deleted"]
    assert real["bytes_deleted"] == what_if["bytes_deleted"]
    assert real["versions_pruned"] == what_if["versions_pruned"]


def test_manifest_publish_put_if_absent(spark, tmp_path):
    """Round 11: the manifest publish is PUT-IF-ABSENT (Delta's LogStore
    contract) — a writer losing a commit race gets a loud
    FileExistsError and the committed manifest is untouched. Atomic via
    link(2) on the local filesystem; existence-pre-check fallback on
    other filesystems (exercised through SubTreeFileSystem)."""
    import pytest as _pytest
    from pyarrow import fs as pafs

    from time_series_spark_spark.sources.fsio import TableFS, as_table_fs
    from time_series_spark_spark.sources.io import (
        read_versioned,
        write_versioned,
    )

    table = str(tmp_path / "vt")
    write_versioned(spark.range(5).selectExpr("id"), table)
    tfs = as_table_fs(table)
    committed = tfs.read_json("_manifest.0.json")
    # a racing writer that resolved the same version number loses loudly
    with _pytest.raises(FileExistsError, match="concurrent commit"):
        tfs.write_json_atomic(
            {"version": 0, "files": []}, "_manifest.0.json", if_absent=True
        )
    assert tfs.read_json("_manifest.0.json") == committed  # untouched
    assert not list((tmp_path / "vt").glob("*.tmp"))  # loser's tmp cleaned
    assert read_versioned(spark, table).count() == 5
    # non-local branch: same contract through a SubTreeFileSystem
    sub = TableFS(
        "vt2",
        filesystem=pafs.SubTreeFileSystem(
            str(tmp_path), pafs.LocalFileSystem()
        ),
        spark_root=str(tmp_path / "vt2"),
    )
    sub.mkdirs()
    sub.write_json_atomic({"version": 0}, "_manifest.0.json", if_absent=True)
    with _pytest.raises(FileExistsError, match="concurrent commit"):
        sub.write_json_atomic(
            {"version": 0}, "_manifest.0.json", if_absent=True
        )
    assert not list((tmp_path / "vt2").glob("*.tmp"))



def test_manifest_publish_race_inside_publish_window(tmp_path, monkeypatch):
    """A rival writer publishing the same version between this writer's
    temp-file write and its link(2): this writer still loses with
    FileExistsError, the rival's manifest stands, and no temp file of
    either writer survives (racing writers never share a temp file)."""
    import os

    import pytest as _pytest

    from time_series_spark_spark.sources.fsio import as_table_fs

    tfs = as_table_fs(str(tmp_path / "vt"))
    tfs.mkdirs()
    real_link = os.link

    def rival_then_link(src, dst):
        monkeypatch.setattr(os, "link", real_link)
        tfs.write_json_atomic({"w": "rival"}, "_manifest.0.json", if_absent=True)
        real_link(src, dst)

    monkeypatch.setattr(os, "link", rival_then_link)
    with _pytest.raises(FileExistsError, match="concurrent commit"):
        tfs.write_json_atomic({"w": "me"}, "_manifest.0.json", if_absent=True)
    assert tfs.read_json("_manifest.0.json") == {"w": "rival"}
    assert not list((tmp_path / "vt").glob("*.tmp"))

def test_compact_versioned_zorder_preserves_and_prunes(spark, tmp_path):
    """A9 ∘ A17b (round 12): OPTIMIZE ZORDER rewrites the snapshot in
    Morton order as the NEXT version — data preserved exactly, prior
    versions still travel, and a tight range predicate on a zorder
    column overlaps strictly fewer row-group [min,max] envelopes than
    on the shuffled layout (the pruning proof, measured from footers
    via parquet_rowgroup_stats_report)."""
    from pyspark.sql import functions as F

    from time_series_spark_spark.sources.fsio import (
        as_table_fs,
        manifest_files,
    )
    from time_series_spark_spark.sources.io import (
        compact_versioned,
        parquet_rowgroup_stats_report,
        read_versioned,
        write_versioned,
    )

    path = str(tmp_path / "vt")
    df = spark.range(20_000).select(
        (F.xxhash64("id") % 1000).alias("a"),
        (F.xxhash64("id", F.lit(1)) % 1000).alias("b"),
        "id",
    )
    write_versioned(df.repartition(8), path)
    tfs = as_table_fs(path)
    before = [tfs.spark_path(f) for f in manifest_files(tfs, 0)]
    rep = compact_versioned(
        spark, path, target_file_bytes=25_000, zorder_by=["a", "b"]
    )
    assert rep["zorder_by"] == ["a", "b"]
    after = [
        tfs.spark_path(f) for f in manifest_files(tfs, rep["version"])
    ]
    # data preserved bit-for-bit (same multiset of rows)
    assert read_versioned(spark, path).exceptAll(df).count() == 0
    assert df.exceptAll(read_versioned(spark, path)).count() == 0
    assert read_versioned(spark, path, as_of=0).count() == 20_000

    def overlap(paths, col, lo, hi):
        st = parquet_rowgroup_stats_report(spark, paths, col)
        tot = st.count()
        ov = st.filter(
            (F.col("col_max") >= lo) & (F.col("col_min") <= hi)
        ).count()
        return ov / tot

    # pruning tightens on BOTH dimensions (the multi-column property a
    # plain sort on `a` cannot give)
    assert overlap(after, "a", 100, 150) < overlap(before, "a", 100, 150)
    assert overlap(after, "b", -500, -450) < overlap(before, "b", -500, -450)


def test_zorder_rejects_unsupported_types(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from time_series_spark_spark.sources.io import (
        compact_versioned,
        write_versioned,
    )

    path = str(tmp_path / "vt")
    write_versioned(
        spark.range(10).select(F.format_string("s%d", "id").alias("s")),
        path,
    )
    with _pytest.raises(ValueError, match="unsupported type"):
        compact_versioned(spark, path, zorder_by=["s"])


def test_ledger_compaction_flat_over_200_batches(tmp_path, monkeypatch):
    """Round 13 (r12 verdict item 3): checkpoint-manifest ledgers are
    compacted to max(batch_id) per stream_id — O(streams), not
    O(batches). 200 streaming-cadence commits later, every checkpoint's
    ledger is ONE pair and its serialized size is flat, where the old
    full-pair ledger re-serialized all 200 pairs into the last
    checkpoint. Uses the pyarrow staging shim (the two-process-race
    pattern) so all 200 commits run the REAL write_versioned."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from time_series_spark_spark.sources import io as io_mod
    from time_series_spark_spark.sources.fsio import as_table_fs
    from time_series_spark_spark.sources.io import (
        committed_batch_ids,
        latest_committed_batch_id,
    )

    class _FakeDF:
        schema = T.StructType([T.StructField("id", T.LongType())])

    def _stage(df, tfs_, version):
        import uuid

        stage = f"v={version}-{uuid.uuid4().hex[:8]}"
        tfs_.mkdirs(stage)
        pq.write_table(
            pa.table({"id": pa.array([version], type=pa.int64())}),
            tfs_.path(stage, "part-0.parquet"),
        )
        return stage, [f"{stage}/part-0.parquet"]

    monkeypatch.setattr(io_mod, "_stage_data_files", _stage)
    table = str(tmp_path / "vt")
    tfs = as_table_fs(table)
    for b in range(200):
        v = io_mod.write_versioned(
            _FakeDF(), table, batch_id=b, carry_forward=True, stream_id="s"
        )
        assert v == b
    ledger_sizes = []
    for v in range(0, 200, io_mod._CHECKPOINT_INTERVAL):
        m = tfs.read_json(f"_manifest.{v}.json")
        assert m["ledger"] == [["s", v]]  # ONE pair: the watermark
        ledger_sizes.append(len(json.dumps(m["ledger"])))
    # flat up to the bid's own digit count (10 vs 12 bytes), where the
    # full-pair form would be ~2000 bytes by the last checkpoint
    assert max(ledger_sizes) - min(ledger_sizes) <= 2
    assert latest_committed_batch_id(table, "s") == 199
    assert latest_committed_batch_id(table, "other") is None
    # enumerable recent ids still include everything since the last
    # checkpoint, plus each older checkpoint's watermark
    ids = committed_batch_ids(table, "s")
    assert {181, 190, 199} <= ids and 199 in ids


def test_legacy_full_pair_ledger_migrates_on_next_snapshot(spark, tmp_path):
    """A table whose checkpoint manifests still carry the round-12 FULL
    (stream_id, batch_id) pair list compacts on the first new snapshot
    commit, and the monotone redelivery watermark is preserved."""
    from time_series_spark_spark.sources.fsio import as_table_fs
    from time_series_spark_spark.sources.io import (
        latest_committed_batch_id,
        write_versioned,
    )

    table = str(tmp_path / "vt")
    write_versioned(
        spark.range(3).selectExpr("id"), table, batch_id=0, stream_id="s"
    )
    tfs = as_table_fs(table)
    legacy = dict(tfs.read_json("_manifest.0.json"))
    legacy["ledger"] = [["s", b] for b in range(100)]  # pre-compaction form
    tfs.write_json_atomic(legacy, "_manifest.0.json")
    assert latest_committed_batch_id(table, "s") == 99
    # next snapshot commit (replace) migrates: one pair per stream
    write_versioned(spark.range(5).selectExpr("id"), table)
    m = tfs.read_json("_manifest.1.json")
    assert m["ledger"] == [["s", 99]]
    assert latest_committed_batch_id(table, "s") == 99  # watermark kept


def test_compact_ledger_multi_stream_and_none_scope():
    """_compact_ledger keeps one max per scope, including the legacy
    None scope, with deterministic output order."""
    from time_series_spark_spark.sources.io import _compact_ledger

    pairs = [
        ["a", 3], ["b", 7], ["a", 9], [None, 2], ["b", 1], [None, 5],
    ]
    assert _compact_ledger(pairs) == [[None, 5], ["a", 9], ["b", 7]]


def test_optimize_data_change_false_posture(spark, tmp_path):
    """Round 13 (Delta's dataChange=false): compaction publishes
    mode='optimize' — a pure layout rewrite of the SAME rows — and the
    J11e source emits NOTHING for it under EITHER onReplace posture
    (re-emitting would duplicate every row; failing would forbid
    compacting a streamed table). Appends after the compaction stream
    normally; history records the mode; data_change=False is refused
    for commits that genuinely change data."""
    import json

    import pytest as _pytest

    from time_series_spark_spark.sources.io import (
        compact_versioned,
        describe_versioned_history,
        read_versioned,
        write_versioned,
    )
    from time_series_spark_spark.sources.pydatasource import (
        VersionedTableStreamReader,
    )

    table = tmp_path / "vt"
    write_versioned(
        spark.range(2000).selectExpr("id").repartition(8), str(table)
    )
    write_versioned(
        spark.range(2000, 2005).selectExpr("id"),
        str(table),
        carry_forward=True,
    )
    rep = compact_versioned(spark, str(table), target_file_bytes=1 << 30)
    assert rep["version"] == 2
    with open(table / "_manifest.2.json") as fh:
        assert json.load(fh)["mode"] == "optimize"
    write_versioned(
        spark.range(3000, 3003).selectExpr("id"),
        str(table),
        carry_forward=True,
    )

    span = (
        {"version": 0, "snapshot": False},
        {"version": 3, "snapshot": False},
    )
    for opts in ({}, {"onReplace": "fail"}):
        rd = VersionedTableStreamReader({"path": str(table), **opts})
        parts = rd.partitions(*span)
        n = sum(sum(b.num_rows for b in rd.read(p)) for p in parts)
        # v1 increment + v3 increment; the optimize at v2 emits nothing
        assert n == 5 + 3, opts
    # the table itself is intact and time-travels across the optimize
    assert read_versioned(spark, str(table)).count() == 2008
    assert read_versioned(spark, str(table), as_of=1).count() == 2005
    modes = [
        r["mode"]
        for r in describe_versioned_history(spark, str(table))
        .orderBy("version")
        .collect()
    ]
    assert modes == ["append", "append", "optimize", "append"]
    # data_change=False only marks replace-shaped rewrites of an
    # existing snapshot
    with _pytest.raises(ValueError, match="data_change"):
        write_versioned(
            spark.range(3).selectExpr("id"),
            str(tmp_path / "fresh"),
            data_change=False,
        )
    with _pytest.raises(ValueError, match="data_change"):
        write_versioned(
            spark.range(3).selectExpr("id"),
            str(table),
            carry_forward=True,
            data_change=False,
        )


def test_compact_ledger_properties():
    """Hypothesis laws for _compact_ledger: one entry per scope, each the
    max; idempotent; insensitive to input order; compact(a + b) ==
    compact(compact(a) + b) (the migration path: a legacy full-pair
    ledger followed by new pairs compacts to the same watermarks)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from time_series_spark_spark.sources.io import _compact_ledger

    pair = st.tuples(
        st.one_of(st.none(), st.text(alphabet="abc", max_size=2)),
        st.integers(min_value=0, max_value=10_000),
    ).map(list)
    pairs = st.lists(pair, max_size=50)

    @settings(max_examples=200, deadline=None)
    @given(a=pairs, b=pairs)
    def run(a, b):
        out = _compact_ledger(a)
        # one entry per scope, each the true max
        assert len({sid for sid, _ in out}) == len(out)
        expect = {}
        for sid, bid in a:
            expect[sid] = max(expect.get(sid, -1), bid)
        assert {tuple(p) for p in out} == set(expect.items())
        # idempotent and order-insensitive
        assert _compact_ledger(out) == out
        assert _compact_ledger(list(reversed(a))) == out
        # incremental migration ≡ batch compaction
        assert _compact_ledger(_compact_ledger(a) + b) == _compact_ledger(
            a + b
        )

    run()


def test_compact_versioned_preserves_evolved_schema(spark, tmp_path):
    """Round 14 (ADVICE fix): OPTIMIZE reads the snapshot under the
    MANIFEST-authoritative schema. On an additively-evolved table the
    files have heterogeneous physical schemas; a bare spark.read.parquet
    may infer from a pre-evolution file and the rewrite would silently
    DROP the evolved column — invisible downstream because the optimize
    commit tells streams 'same logical rows'."""
    import json

    from time_series_spark_spark.sources.fsio import as_table_fs
    from time_series_spark_spark.sources.io import (
        compact_versioned,
        read_versioned,
        write_versioned,
    )

    path = str(tmp_path / "vt")
    write_versioned(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, val long")
        .coalesce(1),
        path,
    )
    # additive evolution: the append carries a new `tier` column
    write_versioned(
        spark.createDataFrame(
            [(3, 30, "gold")], "k long, val long, tier string"
        ).coalesce(1),
        path,
        carry_forward=True,
    )
    rep = compact_versioned(spark, path, target_file_bytes=1 << 30)
    got = read_versioned(spark, path)
    assert "tier" in got.columns
    rows = {r["k"]: r["tier"] for r in got.collect()}
    assert rows == {1: None, 2: None, 3: "gold"}
    # and the optimize manifest's schema still carries the column
    m = as_table_fs(path).read_json(f"_manifest.{rep['version']}.json")
    names = [f["name"] for f in json.loads(m["schema"])["fields"]]
    assert names == ["k", "val", "tier"]


def test_vacuum_deletes_orphan_sidecars(spark, tmp_path, monkeypatch):
    """Round 14 (ADVICE fix): a writer crashing between the sidecar write
    and the manifest publish leaves an orphan _snapshot.*.parquet no
    manifest references — vacuum now deletes exactly those, keeping every
    manifest-referenced sidecar."""
    from time_series_spark_spark.sources import io as io_mod
    from time_series_spark_spark.sources.fsio import as_table_fs
    from time_series_spark_spark.sources.io import (
        read_versioned,
        vacuum_versioned,
        write_versioned,
    )

    monkeypatch.setattr(io_mod, "_PARQUET_SNAPSHOT_MIN_FILES", 1)
    path = str(tmp_path / "vt")
    write_versioned(spark.range(10).selectExpr("id as k"), path)
    write_versioned(
        spark.range(10, 15).selectExpr("id as k"), path, carry_forward=True
    )
    tfs = as_table_fs(path)
    referenced = {
        name
        for name in tfs.ls()
        if name.startswith("_snapshot.") and name.endswith(".parquet")
    }
    assert referenced  # threshold=1 forces sidecar snapshots
    # simulate the crashed writer: a sidecar nothing references
    orphan = "_snapshot.7-deadbeef.parquet"
    with tfs.fs.open_output_stream(tfs.path(orphan)) as f:
        f.write(b"PAR1junkPAR1")
    what_if = vacuum_versioned(path, keep_last=1, dry_run=True)
    assert what_if["n_sidecars_deleted"] == 1
    assert tfs.exists(orphan)  # dry run deleted nothing
    real = vacuum_versioned(path, keep_last=1)
    assert real["n_sidecars_deleted"] == 1
    assert not tfs.exists(orphan)
    for name in referenced:
        assert tfs.exists(name)  # manifest-referenced sidecars kept
    assert read_versioned(spark, path).count() == 15
