"""``session.read_parquet``: the schema memo behind every batch parquet read.

A hit must start no Spark job; everything else must behave exactly like
a plain ``spark.read.parquet`` (same schema, same errors).
"""

from __future__ import annotations

import os
import pathlib
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import BinaryType, LongType, StringType

from samza_hello_samza_spark import session
from samza_hello_samza_spark.session import load_table, read_parquet
from tests.conftest import SF_DIR, jobs_started

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
PACKAGE = pathlib.Path(session.__file__).parent


def _error(fn):
    with pytest.raises(Exception) as info:
        fn()
    e = info.value
    return type(e), getattr(e, "getCondition", lambda: None)(), str(e).splitlines()[0]


def _write(spark, path, ddl_rows, ddl):
    spark.createDataFrame(ddl_rows, ddl).write.mode("overwrite").parquet(str(path))


def test_overwrite_with_new_schema_reinfers(spark, tmp_path):
    d = tmp_path / "t"
    _write(spark, d, [(1,)], "a INT")
    assert read_parquet(spark, str(d)).columns == ["a"]
    assert read_parquet(spark, str(d)).columns == ["a"]
    _write(spark, d, [(1, "x")], "a INT, b STRING")
    df = read_parquet(spark, str(d))
    assert df.schema == spark.read.parquet(str(d)).schema
    assert df.columns == ["a", "b"]
    assert df.collect()[0]["b"] == "x"


def test_inference_confs_key_the_memo(spark, tmp_path):
    nanos = tmp_path / "nanos"
    nanos.mkdir()
    pq.write_table(
        pa.table({"ts": pa.array([1_000_000_000], pa.timestamp("ns"))}),
        nanos / "part-0.parquet",
    )
    blob = tmp_path / "blob"
    blob.mkdir()
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), blob / "part-0.parquet")
    old = spark.conf.get(NANOS_CONF)
    try:
        spark.conf.set(NANOS_CONF, "true")
        assert read_parquet(spark, str(nanos)).schema["ts"].dataType == LongType()
        spark.conf.set(NANOS_CONF, "false")
        # no cached LongType: the read fails exactly as Spark's own does
        assert _error(lambda: read_parquet(spark, str(nanos))) == _error(
            lambda: spark.read.parquet(str(nanos))
        )
        spark.conf.set(NANOS_CONF, "true")
        assert read_parquet(spark, str(nanos)).schema["ts"].dataType == LongType()
        assert read_parquet(spark, str(nanos)).collect()[0]["ts"] == 1_000_000_000
    finally:
        spark.conf.set(NANOS_CONF, old)
    try:
        assert read_parquet(spark, str(blob)).schema["b"].dataType == BinaryType()
        spark.conf.set("spark.sql.parquet.binaryAsString", "true")
        assert read_parquet(spark, str(blob)).schema["b"].dataType == StringType()
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert read_parquet(spark, str(blob)).schema["b"].dataType == BinaryType()


def test_missing_and_empty_dirs_raise_like_spark(spark, tmp_path):
    missing = str(tmp_path / "missing")
    empty = tmp_path / "empty"
    empty.mkdir()
    for p in (missing, str(empty)):
        assert _error(lambda: read_parquet(spark, p)) == _error(
            lambda: spark.read.parquet(p)
        )
    # a memoised directory that is emptied, then removed, fails the same way
    d = tmp_path / "gone"
    _write(spark, d, [(1,)], "a INT")
    read_parquet(spark, str(d))
    for f in os.listdir(d):
        os.remove(d / f)
    assert _error(lambda: read_parquet(spark, str(d))) == _error(
        lambda: spark.read.parquet(str(d))
    )
    shutil.rmtree(d)
    assert _error(lambda: read_parquet(spark, str(d))) == _error(
        lambda: spark.read.parquet(str(d))
    )


def test_file_uri_and_plain_path_share_an_entry(spark, tmp_path):
    d = tmp_path / "uri"
    _write(spark, d, [(1,)], "a INT")
    assert jobs_started(spark, lambda: read_parquet(spark, str(d))) >= 1
    n = len(session._SCHEMA_MEMO)
    for uri in (f"file://{d}", f"file:{d}"):
        df = read_parquet(spark, uri)
        assert jobs_started(spark, lambda u=uri: read_parquet(spark, u)) == 0
        assert df.collect()[0]["a"] == 1
    assert len(session._SCHEMA_MEMO) == n


def test_warm_load_table_starts_no_job(spark, tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    for name in ("events", "documents", "orders"):
        src = os.path.join(SF_DIR, f"{name}.parquet")
        copy = shutil.copytree if os.path.isdir(src) else shutil.copy
        copy(src, sf / f"{name}.parquet")
        cold = jobs_started(spark, lambda n=name: load_table(spark, str(sf), n))
        warm = jobs_started(spark, lambda n=name: load_table(spark, str(sf), n))
        assert cold >= 1, name  # the counter sees the inference job
        assert warm == 0, name


def test_glob_paths_fall_through(spark, tmp_path):
    _write(spark, tmp_path / "g1", [(1,)], "a INT")
    _write(spark, tmp_path / "g2", [(2,)], "a INT")
    glob = str(tmp_path / "g*")
    before = dict(session._SCHEMA_MEMO)
    for _ in range(2):
        assert jobs_started(spark, lambda: read_parquet(spark, glob)) >= 1
    assert sorted(r["a"] for r in read_parquet(spark, glob).collect()) == [1, 2]
    assert not any(glob in k for k in session._SCHEMA_MEMO)
    assert set(session._SCHEMA_MEMO) - set(before) == set()


def _plain(v) -> bool:
    if isinstance(v, tuple):
        return all(_plain(x) for x in v)
    return v is None or isinstance(v, (str, int, float, bool))


def test_memo_is_plain_bounded_data(spark, tmp_path, monkeypatch):
    d = tmp_path / "b"
    _write(spark, d, [(1,)], "a INT")
    key = (os.path.abspath(str(d)),)
    read_parquet(spark, str(d))
    n = len(session._SCHEMA_MEMO)
    read_parquet(spark, str(d), mergeSchema="true")
    try:
        spark.conf.set("spark.sql.parquet.binaryAsString", "true")
        read_parquet(spark, str(d))
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    # one entry per path set, whatever the options and confs
    assert len(session._SCHEMA_MEMO) == n and key in session._SCHEMA_MEMO
    for k, v in session._SCHEMA_MEMO.items():
        assert _plain(k) and _plain(v), (k, v)
    monkeypatch.setattr(session, "_SCHEMA_MEMO_MAX", 2)
    for i in range(4):
        _write(spark, tmp_path / f"cap{i}", [(i,)], "a INT")
        read_parquet(spark, str(tmp_path / f"cap{i}"))
    assert len(session._SCHEMA_MEMO) <= 2


#: raw batch parquet reads: ``.read.parquet(``, ``.read.option(…).parquet(``
#: and ``.read.schema(…).parquet(``, chained over any line breaks.
#: ``readStream`` does not match.
_RAW_READ = re.compile(
    r"\.read\s*(?:\.\s*(?:option|options|schema)\s*\((?:[^()]|\([^()]*\))*\)\s*)*"
    r"\.\s*parquet\s*\(",
    re.S,
)


def test_no_raw_batch_parquet_reads_outside_session():
    hits = []
    for p in sorted(PACKAGE.rglob("*.py")):
        if p.name == "session.py" and p.parent == PACKAGE:
            continue
        src = p.read_text()
        for m in _RAW_READ.finditer(src):
            line = src.count("\n", 0, m.start()) + 1
            hits.append(f"{p.relative_to(PACKAGE.parent)}:{line}")
    assert not hits, (
        "batch parquet reads must go through session.read_parquet: " + ", ".join(hits)
    )
