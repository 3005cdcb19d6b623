"""The session factory's lake-size-derived local shuffle width."""

from __future__ import annotations

import os

from noaa_data_pipeline_spark.session import _derived_shuffle_partitions


def _lake(root, files: dict[str, int]) -> str:
    for rel, kib in files.items():
        os.makedirs(os.path.dirname(f"{root}/{rel}"), exist_ok=True)
        with open(f"{root}/{rel}", "wb") as fh:
            fh.write(b"\0" * kib * 1024)
    return str(root)


def _width(monkeypatch, sf_dir: str, cpus: int = 64, target_mb: float = 1 / 1024) -> int | None:
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_TARGET_MB", str(target_mb))
    return _derived_shuffle_partitions(cpus)


# 16 KiB of parquet in a single-file table and a two-part directory
# table; the side files must not count
FLAT = {"a.parquet": 4, "b.parquet/part-0.parquet": 6, "b.parquet/part-1.parquet": 6,
        "b.parquet/_SUCCESS": 50, "notes.txt": 50}


def test_flat_lake_width_unchanged(monkeypatch, tmp_path):
    flat = _lake(tmp_path, FLAT)
    assert _width(monkeypatch, flat) == 16  # 16 KiB / 1 KiB target
    assert _width(monkeypatch, flat, cpus=8) == 8  # core cap
    assert _width(monkeypatch, flat, target_mb=1) == 4  # floor
    assert _width(monkeypatch, str(tmp_path / "missing")) is None


def test_partitioned_lake_counts_every_level(monkeypatch, tmp_path):
    """A two-level ``name.parquet/part=*/x.parquet`` lake gets the
    same width as its flat copy: every level of a table directory
    counts."""
    nested = _lake(tmp_path / "nested", {
        "a.parquet": 4, "b.parquet/part=0/x.parquet": 6, "b.parquet/part=1/x.parquet": 6,
        "b.parquet/part=1/.x.parquet.crc": 50,
    })
    flat = _lake(tmp_path / "flat", FLAT)
    assert _width(monkeypatch, nested) == _width(monkeypatch, flat) == 16
