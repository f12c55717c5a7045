"""Each output check accepts a correct output and rejects a planted fault.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, gen
from perfbench.stream_lake import pinned_scan_counts

MAX_ROWS = 8


@pytest.fixture
def load():
    rng = np.random.default_rng(0)
    users = gen.Users(5, 1.1)
    ts = gen.BASE_MS + np.sort(rng.integers(0, gen.DAY_MS, 60))
    return gen.location_table(rng, users, 60, ts)


def write_layout(table: pa.Table, root: str, codec: str = "snappy") -> None:
    """A correct ingest_batch-shaped output: user_id=<u>/ dirs of files
    sorted by timestamp, at most MAX_ROWS rows each, user_id dropped."""
    for user in sorted(set(table.column("user_id").to_pylist())):
        part = table.filter(pa.compute.equal(table.column("user_id"), user))
        part = part.sort_by("timestamp").drop_columns(["user_id"])
        d = os.path.join(root, f"user_id={user}")
        os.makedirs(d)
        for i in range(0, part.num_rows, MAX_ROWS):
            pq.write_table(part.slice(i, MAX_ROWS), os.path.join(d, f"part-{i:04d}.parquet"),
                           compression=codec)


def layout_problems(root, table):
    return checks.check_bulk_layout(root, table, "user_id", "timestamp", MAX_ROWS)


def first_file(root):
    return checks.parquet_files(root)[0]


def test_layout_accepts_correct_output(tmp_path, load):
    write_layout(load, str(tmp_path))
    assert layout_problems(str(tmp_path), load) == []


def test_layout_rejects_oversized_file(tmp_path, load):
    write_layout(load, str(tmp_path))
    path = first_file(str(tmp_path))
    t = pq.read_table(path)
    pq.write_table(pa.concat_tables([t] * (MAX_ROWS + 1)).slice(0, MAX_ROWS + 1).sort_by("timestamp"), path)
    assert any(f"> {MAX_ROWS}" in p for p in layout_problems(str(tmp_path), load))


def test_layout_rejects_unsorted_file(tmp_path, load):
    write_layout(load, str(tmp_path))
    path = next(p for p in checks.parquet_files(str(tmp_path)) if pq.read_metadata(p).num_rows > 1)
    t = pq.read_table(path)
    pq.write_table(t.take(list(range(t.num_rows))[::-1]), path, compression="snappy")
    assert any("decreases" in p for p in layout_problems(str(tmp_path), load))


def test_layout_rejects_row_in_wrong_partition(tmp_path, load):
    write_layout(load, str(tmp_path))
    dirs = sorted(os.listdir(tmp_path))
    os.rename(os.path.join(tmp_path, dirs[0]), os.path.join(tmp_path, "user_id=nobody"))
    assert any("misplaced" in p for p in layout_problems(str(tmp_path), load))


def test_layout_rejects_lost_row(tmp_path, load):
    write_layout(load, str(tmp_path))
    path = first_file(str(tmp_path))
    t = pq.read_table(path)
    pq.write_table(t.slice(1), path, compression="snappy")
    assert any("1 input rows missing" in p for p in layout_problems(str(tmp_path), load))


def test_layout_rejects_wrong_codec(tmp_path, load):
    write_layout(load, str(tmp_path), codec="gzip")
    assert any("codecs" in p for p in layout_problems(str(tmp_path), load))


def test_same_rows_accepts_reordered_rows(load):
    assert checks.check_same_rows(load.take(list(range(load.num_rows))[::-1]), load, "t") == []


def test_same_rows_rejects_duplicate(load):
    got = pa.concat_tables([load, load.slice(0, 1)])
    assert checks.check_same_rows(got, load, "t") == ["t: 0 rows missing, 1 rows extra"]


def test_same_rows_rejects_changed_value(load):
    lat = load.column("latitude").to_pylist()
    lat[3] += 1e-9
    got = load.set_column(load.schema.get_field_index("latitude"), "latitude", pa.array(lat))
    assert checks.check_same_rows(got, load, "t") == ["t: 1 rows missing, 1 rows extra"]


def test_same_rows_rejects_missing_column(load):
    assert checks.check_same_rows(load.drop_columns(["speed"]), load, "t")


def test_pinned_scan_counts():
    dues = [100, 200, 300]
    users = [np.array(["a", "b"]), np.array(["a", "a"]), np.array(["a"])]
    first = {100: 1, 200: 2, 300: 3}
    # pinned at v2, since 150: only the file due 200 is visible and in range
    scans = [("a", 150, 2, 2), ("a", 150, 2, 3), ("b", 0, 3, 1)]
    got = checks.check_counts(pinned_scan_counts(scans, dues, users, first), "scan")
    assert got == ["scan 1 (v2, a): got 3, want 2"]


def test_pinned_scan_counts_file_never_committed():
    scans = [("a", 0, 5, 1)]
    rows = pinned_scan_counts(scans, [100], [np.array(["a"])], {})
    assert checks.check_counts(rows, "scan") == ["scan 0 (v5, a): got 1, want 0"]


def test_oracle_accepts_reordered_rows_and_columns():
    assert checks.check_oracle("q", ["b", "a"], [(1.0, "x"), (2.5, None)],
                               ["a", "b"], [(None, 2.5), ("x", 1.0)]) == []


def test_oracle_rejects_changed_value():
    assert checks.check_oracle("q", ["a"], [(1,), (2,)], ["a"], [(1,), (3,)])


def test_oracle_rejects_missing_row():
    assert checks.check_oracle("q", ["a"], [(1,)], ["a"], [(1,), (1,)])
