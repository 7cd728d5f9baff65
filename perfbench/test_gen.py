"""The input generator is a function of the seed alone.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for base, _, names in os.walk(root):
        for name in names:
            path = os.path.join(base, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = f.read()
    return out


@pytest.mark.parametrize("profile", sorted(gen.PROFILES))
def test_same_seed_same_bytes(tmp_path, profile):
    gen.generate(11, profile, str(tmp_path / "a"))
    gen.generate(11, profile, str(tmp_path / "b"))
    a, b = _files(str(tmp_path / "a")), _files(str(tmp_path / "b"))
    assert sorted(a) == sorted(b)
    assert all(a[name] == b[name] for name in a)
    stream = tmp_path / "a" / "event_stream"
    mtimes = [os.path.getmtime(stream / n) for n in sorted(os.listdir(stream))]
    assert mtimes == sorted(mtimes)


def test_other_seed_other_values(tmp_path):
    gen.generate(11, "graph_ann", str(tmp_path / "a"))
    gen.generate(12, "graph_ann", str(tmp_path / "b"))
    for table in ("lineitem", "embeddings", "events"):
        a = pq.read_table(tmp_path / "a" / f"{table}.parquet")
        b = pq.read_table(tmp_path / "b" / f"{table}.parquet")
        assert a.num_rows == b.num_rows
        assert not a.equals(b)


def test_tables_match_declared_schemas(tmp_path):
    from financial_data_engineering_spark.schemas import SCHEMAS

    sizes = gen.generate(3, "etl_stream", str(tmp_path))
    assert set(sizes) == set(SCHEMAS)
    for name, schema in SCHEMAS.items():
        got = pq.read_schema(tmp_path / f"{name}.parquet").names
        assert got == [f.name for f in schema.fields], name
