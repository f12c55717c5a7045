"""Output checks. Each returns a list of mismatch descriptions (empty when
the output is correct); every mismatch counts as one failed operation.
They run outside the timed regions and read files with pyarrow, so a check
never depends on the read path it is checking."""

from __future__ import annotations

import math
import os
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
from oracle_utils import canonical_rows


def parquet_files(root: str) -> list[str]:
    out = []
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        out.extend(os.path.join(d, f) for f in files if f.endswith(".parquet"))
    return sorted(out)


def check_bulk_layout(
    table_dir: str,
    expected: pa.Table,
    partition_col: str,
    key_col: str,
    max_rows: int,
) -> list[str]:
    """The reference checklist on an ``ingest_batch`` output: every input
    row lands once under the partition dir of its own ``partition_col``
    value, every file holds at most ``max_rows`` rows, ``key_col`` is
    non-decreasing within each file, and every column chunk is snappy."""
    bad: list[str] = []
    seen: Counter = Counter()
    prefix = f"{partition_col}="
    for path in parquet_files(table_dir):
        part = os.path.basename(os.path.dirname(path))
        if not part.startswith(prefix):
            bad.append(f"{path}: not under a {prefix} dir")
            continue
        f = pq.ParquetFile(path)
        meta = f.metadata
        if meta.num_rows > max_rows:
            bad.append(f"{path}: {meta.num_rows} rows > {max_rows}")
        codecs = {
            meta.row_group(g).column(c).compression
            for g in range(meta.num_row_groups)
            for c in range(meta.num_columns)
        }
        if codecs != {"SNAPPY"}:
            bad.append(f"{path}: codecs {sorted(codecs)}")
        keys = f.read(columns=[key_col]).column(0).to_pylist()
        if any(b < a for a, b in zip(keys, keys[1:])):
            bad.append(f"{path}: {key_col} decreases within the file")
        user = part[len(prefix):]
        seen.update((user, k) for k in keys)
    want = Counter(
        zip(expected.column(partition_col).to_pylist(), expected.column(key_col).to_pylist())
    )
    if seen != want:
        missing = sum((want - seen).values())
        extra = sum((seen - want).values())
        bad.append(f"{table_dir}: {missing} input rows missing, {extra} rows extra or misplaced")
    return bad


def _row_key(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_row_key(x) for x in v)
    return v


def row_multiset(table: pa.Table, columns: list[str]) -> Counter:
    cols = [table.column(c).to_pylist() for c in columns]
    return Counter(tuple(_row_key(v) for v in row) for row in zip(*cols))


def check_same_rows(got: pa.Table, expected: pa.Table, what: str) -> list[str]:
    """``got`` holds exactly the rows of ``expected`` (as a multiset, over
    ``expected``'s columns)."""
    cols = expected.column_names
    missing_cols = set(cols) - set(got.column_names)
    if missing_cols:
        return [f"{what}: columns {sorted(missing_cols)} missing"]
    a = row_multiset(got, cols)
    b = row_multiset(expected, cols)
    if a == b:
        return []
    return [f"{what}: {sum((b - a).values())} rows missing, {sum((a - b).values())} rows extra"]


def check_counts(observed: list[tuple], what: str) -> list[str]:
    """Each item is ``(label, got, want)``; one mismatch per differing item."""
    return [f"{what} {label}: got {got}, want {want}" for label, got, want in observed if got != want]


def check_oracle(name: str, spark_cols, spark_rows, duck_cols, duck_rows) -> list[str]:
    """The entry's rows equal the DuckDB oracle's under the canonical form
    of ``tests/oracle_utils.py`` (columns by name, floats to 9 significant
    digits, timestamps as UTC epoch micros, rows sorted)."""
    got = canonical_rows(list(spark_cols), spark_rows)
    want = canonical_rows(list(duck_cols), duck_rows)
    if got == want:
        return []
    return [f"{name}: {len(got[1])} rows, columns {got[0]} differ from the oracle's "
            f"{len(want[1])} rows, columns {want[0]}"]
