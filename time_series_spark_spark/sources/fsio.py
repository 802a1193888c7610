"""Filesystem seam for the manifest-versioned table family (A13/A13b/
A13c/A17b/J11d/J11e — round-10 portability item).

Everything the versioned table does to storage — manifest list/read/
atomic-publish, retention floor, data-file sizing/deletion — goes through
:class:`TableFS`, a thin wrapper over a ``pyarrow.fs.FileSystem`` plus the
table root. The default is the local filesystem (byte-identical behavior
to the previous ``os``/``glob``/``os.rename`` code), but any pyarrow
filesystem works: ``SubTreeFileSystem`` (exercised in tests), ``S3FileSystem``,
``HadoopFileSystem``, ``GcsFileSystem``.

Atomicity note, honest and load-bearing: the manifest publish is
``write tmp → move``. On POSIX local filesystems ``move`` is ``rename(2)``
— atomic, which is the single-writer commit protocol the table documents.
Object stores have no atomic rename: a production deployment there must
replace ``write_json_atomic`` with a conditional put (S3
``If-None-Match:*``, GCS ``ifGenerationMatch=0``) or an external lock/
catalog — exactly the swap Delta's LogStore abstraction makes per-store.
The seam exists so that swap is one method, not a rewrite.

Spark itself cannot scan through an arbitrary pyarrow filesystem object —
it resolves paths via Hadoop FileSystem from the path STRING. So
``TableFS`` carries a parallel ``spark_root``: the spelling of the same
location that Spark's reader/writer understands (for the local default
they are identical; for a ``SubTreeFileSystem`` over a local base the
caller passes the composed local path; for s3a://-style deployments the
caller passes the Hadoop-addressable URI).
"""

from __future__ import annotations

import json
import posixpath
import re
import uuid


class TableFS:
    """A table root on some ``pyarrow.fs.FileSystem``.

    Parameters
    ----------
    root : fs-native path of the table directory (for the default local
        filesystem this is a plain path, normalized to absolute).
    filesystem : a ``pyarrow.fs.FileSystem``; ``None`` → local.
    spark_root : the spelling of the same directory Spark can address
        (defaults to ``root`` — correct for the local filesystem and for
        any URI Hadoop resolves natively).
    """

    def __init__(self, root: str, filesystem=None, spark_root: str | None = None):
        from pyarrow import fs as pafs

        if filesystem is None:
            import os

            root = os.path.abspath(root)
            filesystem = pafs.LocalFileSystem()
        self.fs = filesystem
        self.root = root.rstrip("/")
        self.spark_root = (spark_root or root).rstrip("/")

    # -- paths -------------------------------------------------------------
    def path(self, *rel: str) -> str:
        return posixpath.join(self.root, *rel) if rel else self.root

    def spark_path(self, *rel: str) -> str:
        return posixpath.join(self.spark_root, *rel) if rel else self.spark_root

    # -- metadata ----------------------------------------------------------
    def exists(self, *rel: str) -> bool:
        from pyarrow import fs as pafs

        info = self.fs.get_file_info(self.path(*rel))
        return info.type != pafs.FileType.NotFound

    def size(self, *rel: str) -> int:
        return self.fs.get_file_info(self.path(*rel)).size

    def ls(self, *rel: str) -> list[str]:
        """Base names of entries DIRECTLY under a directory (non-recursive);
        empty list when the directory does not exist."""
        from pyarrow import fs as pafs

        sel = pafs.FileSelector(
            self.path(*rel), recursive=False, allow_not_found=True
        )
        return sorted(posixpath.basename(i.path) for i in self.fs.get_file_info(sel))

    def ls_info(self, *rel: str) -> list:
        from pyarrow import fs as pafs

        sel = pafs.FileSelector(
            self.path(*rel), recursive=False, allow_not_found=True
        )
        return self.fs.get_file_info(sel)

    # -- I/O ---------------------------------------------------------------
    def mkdirs(self, *rel: str) -> None:
        self.fs.create_dir(self.path(*rel), recursive=True)

    def read_json(self, *rel: str) -> dict:
        with self.fs.open_input_stream(self.path(*rel)) as f:
            return json.loads(f.read().decode("utf-8"))

    def write_json_atomic(
        self, obj: dict, *rel: str, if_absent: bool = False
    ) -> None:
        """Publish a small JSON file atomically: write a temp file named
        per writer (``<name>.<uuid>.tmp``), then move it over the final
        name — rename(2) on local/HDFS (atomic; the commit protocol),
        copy-delete on object stores (NOT atomic there: swap in a
        conditional put, see module docstring).

        ``if_absent=True`` is the PUT-IF-ABSENT the commit log needs
        (Delta's LogStore contract): two writers racing to publish the
        same version must produce ONE winner and ONE loud
        ``FileExistsError`` — never a silent clobber (``rename(2)``
        REPLACES an existing destination). On the local filesystem this
        is truly atomic via ``link(2)`` (fails with EEXIST, no window);
        on other pyarrow filesystems it degrades to an existence
        pre-check + move, which narrows but does not close the race —
        the same store-specific gap the module docstring documents, to
        be closed by a conditional put (S3 ``If-None-Match:*``, GCS
        ``ifGenerationMatch=0``) in a real deployment."""
        from pyarrow import fs as pafs

        final = self.path(*rel)
        # one temp name per writer: writers racing for one version must
        # not truncate, link or delete each other's temp file
        tmp = f"{final}.{uuid.uuid4().hex}.tmp"
        with self.fs.open_output_stream(tmp) as f:
            f.write(json.dumps(obj).encode("utf-8"))
        if not if_absent:
            self.fs.move(tmp, final)
            return
        if isinstance(self.fs, pafs.LocalFileSystem):
            import os

            try:
                os.link(tmp, final)  # atomic put-if-absent (EEXIST on loss)
            except FileExistsError:
                self.fs.delete_file(tmp)
                raise FileExistsError(
                    f"concurrent commit: {final} already published"
                )
            self.fs.delete_file(tmp)
            return
        if self.exists(*rel):  # non-local: narrowed, not closed (see above)
            self.fs.delete_file(tmp)
            raise FileExistsError(
                f"concurrent commit: {final} already published"
            )
        self.fs.move(tmp, final)

    def delete_file(self, *rel: str) -> None:
        self.fs.delete_file(self.path(*rel))

    def delete_dir(self, *rel: str) -> None:
        self.fs.delete_dir(self.path(*rel))

    def __repr__(self) -> str:  # debugging aid only
        return f"TableFS({self.fs.type_name}:{self.root})"


_MANIFEST_RE = re.compile(r"^_manifest\.(\d+)\.json$")


def as_table_fs(table_path: "str | TableFS") -> TableFS:
    """The A13 family's argument conversion: every function accepts either
    a plain path string (local filesystem — the sandbox default) or a
    ready ``TableFS`` (any pyarrow filesystem)."""
    return table_path if isinstance(table_path, TableFS) else TableFS(table_path)


def manifest_versions(tfs: TableFS) -> list[int]:
    """Committed version numbers, from the manifest directory listing
    (one LIST call — the same planner-side listing any table format's
    log replay does)."""
    out = []
    for name in tfs.ls():
        m = _MANIFEST_RE.match(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def latest_version(tfs: TableFS) -> int | None:
    """Latest committed version in O(1) via the ``_latest.json`` hint
    (probe-forward covers a hint left stale-low by a crash between
    manifest publish and hint publish); falls back to the full listing
    for tables written before the hint existed. ``None`` = no commits."""
    if tfs.exists("_latest.json"):
        v = int(tfs.read_json("_latest.json")["version"])
        if tfs.exists(f"_manifest.{v}.json"):
            while tfs.exists(f"_manifest.{v + 1}.json"):
                v += 1
            return v
    versions = manifest_versions(tfs)
    return versions[-1] if versions else None


def is_snapshot_manifest(m: dict) -> bool:
    """True when a manifest restates the full file list itself — inline
    (``files``) or via a parquet sidecar (``files_parquet``, round 13)
    — i.e. the delta-chain walk terminates here."""
    return "files" in m or "files_parquet" in m


def snapshot_sidecar(tfs: TableFS, m: dict, columns: list[str]):
    """Read the requested columns of a snapshot's parquet sidecar
    (``path`` / ``rg_bytes`` / ``col_stats``) — the column pruning is
    the point: a file-list resolution reads ONE string column of a
    sidecar that also carries the stats, instead of re-parsing a
    ~100 MB inline JSON blob at 10⁶ files (Delta's parquet
    checkpoints, round 13)."""
    import pyarrow.parquet as pq

    return pq.read_table(
        tfs.path(m["files_parquet"]), filesystem=tfs.fs, columns=columns
    )


def snapshot_files(tfs: TableFS, m: dict) -> list[str]:
    """A snapshot manifest's own full file list (inline or sidecar)."""
    if "files" in m:
        return list(m["files"])
    return snapshot_sidecar(tfs, m, ["path"]).column("path").to_pylist()


def manifest_files(tfs: TableFS, version: int) -> list[str]:
    """Resolve the FULL file list of a version by walking the delta
    chain (``adds`` + ``base``) back to the nearest full-snapshot
    manifest (inline ``files`` or a parquet sidecar) — at most
    ``checkpoint_every`` reads (see ``write_versioned``). Pre-round-10
    manifests all carry ``files``, so the walk terminates immediately
    on legacy tables."""
    adds_stack: list[list[str]] = []
    cur = version
    while True:
        m = tfs.read_json(f"_manifest.{cur}.json")
        if is_snapshot_manifest(m):
            files = set(snapshot_files(tfs, m))
            break
        adds_stack.append(m["adds"])
        cur = m["base"]
    for adds in adds_stack:
        files |= set(adds)
    return sorted(files)


def manifest_file_stats(tfs: TableFS, version: int) -> dict:
    """Best-effort per-file row-group BYTE SIZES (``rel → [bytes, ...]``)
    for the files visible at ``version``, resolved by walking the same
    delta chain as :func:`manifest_files` and merging each manifest's
    commit-time ``add_stats`` (and the terminal snapshot's
    ``file_stats``), oldest first so later rewrites win. Round-11
    manifests record these at commit (the writer reads the footers it
    just produced ONCE), so planners — the J11e streaming source above
    all — split files at row-group boundaries with zero data-file I/O.
    Files from legacy manifests are simply absent: callers fall back to
    one footer read for exactly those files."""
    chain = []
    cur = version
    while True:
        m = tfs.read_json(f"_manifest.{cur}.json")
        chain.append(m)
        if is_snapshot_manifest(m):
            break
        cur = m["base"]
    stats: dict = {}
    for m in reversed(chain):
        if "files_parquet" in m:
            t = snapshot_sidecar(tfs, m, ["path", "rg_bytes"])
            stats.update(
                {
                    p: rb
                    for p, rb in zip(
                        t.column("path").to_pylist(),
                        t.column("rg_bytes").to_pylist(),
                    )
                    if rb is not None
                }
            )
        stats.update(m.get("file_stats", {}))
        stats.update(m.get("add_stats", {}))
    return stats


def manifest_col_stats(tfs: TableFS, version: int) -> dict:
    """Best-effort per-file COLUMN MIN/MAX envelopes
    (``rel → {col: [min, max]}``) for the files visible at ``version``,
    resolved by the same delta-chain walk as :func:`manifest_file_stats`
    (terminal snapshot's ``col_stats`` + each commit's
    ``add_col_stats``, oldest first so rewrites win). Round-12 writers
    record these at commit; files from older manifests are simply
    absent — and ABSENT MEANS NEVER PRUNED (data skipping is an
    optimization, not a correctness filter)."""
    import json as _json

    chain = []
    cur = version
    while True:
        m = tfs.read_json(f"_manifest.{cur}.json")
        chain.append(m)
        if is_snapshot_manifest(m):
            break
        cur = m["base"]
    stats: dict = {}
    for m in reversed(chain):
        if "files_parquet" in m:
            t = snapshot_sidecar(tfs, m, ["path", "col_stats"])
            stats.update(
                {
                    p: _json.loads(cs)
                    for p, cs in zip(
                        t.column("path").to_pylist(),
                        t.column("col_stats").to_pylist(),
                    )
                    if cs is not None
                }
            )
        stats.update(m.get("col_stats", {}))
        stats.update(m.get("add_col_stats", {}))
    return stats


def manifest_dvs(tfs: TableFS, version: int) -> dict:
    """Merge-on-read DELETION-VECTOR state visible at ``version``
    (round 14 — Delta deletion vectors / Iceberg v2 position deletes):
    ``rel → sorted row positions`` of rows logically deleted from each
    data file without rewriting it. Resolution walks the same delta
    chain as :func:`manifest_files`: carry-forward APPEND commits never
    change tombstones, so the nearest full-snapshot manifest's recorded
    state (inline ``dv`` below the spill threshold, else a ``dv_parquet``
    sidecar) is authoritative — every snapshot publisher (MoR commits,
    CoW commits, checkpoints, restore) restates it; replace/optimize
    clear it (fresh data / materialized). Empty dict = no tombstones,
    the plain-read fast path."""
    cur = version
    while True:
        m = tfs.read_json(f"_manifest.{cur}.json")
        if is_snapshot_manifest(m):
            break
        cur = m["base"]
    if m.get("dv_parquet"):
        import pyarrow.parquet as pq

        t = pq.read_table(
            tfs.path(m["dv_parquet"]), filesystem=tfs.fs
        )
        return {
            p: [int(x) for x in ps]
            for p, ps in zip(
                t.column("path").to_pylist(),
                t.column("positions").to_pylist(),
            )
        }
    return {
        rel: [int(p) for p in ps] for rel, ps in m.get("dv", {}).items()
    }


def manifest_adds(tfs: TableFS, version: int) -> list[str]:
    """The files ADDED by one commit — directly from the manifest's
    ``adds`` when present (every round-10+ manifest), else the
    files(v) − files(v−1) difference (legacy manifests)."""
    m = tfs.read_json(f"_manifest.{version}.json")
    if "adds" in m:
        return sorted(m["adds"])
    prev = set(manifest_files(tfs, version - 1)) if version > 0 else set()
    return sorted(set(snapshot_files(tfs, m)) - prev)
