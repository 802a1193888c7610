"""bench.py's choice of the previous round's record for its drift check."""

from __future__ import annotations

import os
import sys
from pathlib import Path
from unittest import mock

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

with mock.patch.dict(os.environ):  # bench.py pins SPARK_GRAFT_CPUS on import
    import bench


def test_round_benches_skip_core_count_variants(tmp_path):
    assert bench._round_benches(tmp_path) == []
    for name in (
        "BENCH_r9.json", "BENCH_r10.json", "BENCH_r14_c8.json",
        "BENCH_r15.json", "BENCH_r15_c8.json", "BENCH_r16.json.bak",
    ):
        (tmp_path / name).write_text("{}")
    got = [f.name for f in bench._round_benches(tmp_path)]
    assert got == ["BENCH_r9.json", "BENCH_r10.json", "BENCH_r15.json"]

