"""catalog.table_bytes: the one zero-job size probe behind the
scale-tiered caches (g_triangle_count, ev_gap_percentiles)."""

from __future__ import annotations

import os

from metadata_wrangler_spark import catalog


def _write(path, n: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(b"\0" * n)


def test_table_bytes_single_file(tmp_path):
    _write(tmp_path / "events.parquet", 1234)
    assert catalog.table_bytes(str(tmp_path), "events") == 1234


def test_table_bytes_sums_directory_backed_table(tmp_path):
    """A directory-backed table reports its data bytes — not the
    directory inode's size, which switched the caches off at the
    scale that needs them."""
    table = tmp_path / "customer.parquet"
    _write(table / "part-00000.parquet", 3 << 20)
    _write(table / "c_nationkey=7" / "part-00001.parquet", 500)
    _write(table / "_SUCCESS", 0)
    _write(table / ".part-00000.parquet.crc", 99)
    assert catalog.table_bytes(str(tmp_path), "customer") == (3 << 20) + 500


def test_table_bytes_unknown_is_none(tmp_path, monkeypatch):
    assert catalog.table_bytes(str(tmp_path), "customer") is None

    _write(tmp_path / "events.parquet" / "part-00000.parquet", 10)

    def denied(path):
        raise PermissionError(path)

    monkeypatch.setattr(os.path, "getsize", denied)
    assert catalog.table_bytes(str(tmp_path), "events") is None
