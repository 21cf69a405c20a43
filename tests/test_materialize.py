"""One materialisation policy: ``session.materialize(df, role)`` is the
only storage action in the package, and ``session.released()`` frees
what a scope materialised."""

from __future__ import annotations

import ast
import hashlib
import inspect
import pathlib

import pytest
from py4j.java_gateway import JavaObject
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from samza_hello_samza_spark import session
from samza_hello_samza_spark.session import load_table, materialize, released
from tests.conftest import SF_DIR
from tests.test_state_store import _package_sources

STORAGE_CALLS = {"localCheckpoint", "persist", "cache", "unpersist", "checkpoint"}


def _storage_actions(src: str) -> list[tuple[int, str]]:
    found = []
    for node in ast.walk(ast.parse(src)):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in STORAGE_CALLS
        ):
            found.append((node.lineno, node.func.attr))
        if isinstance(node, ast.Name) and node.id == "StorageLevel":
            found.append((node.lineno, "StorageLevel"))
        if isinstance(node, ast.alias) and node.name == "StorageLevel":
            found.append((0, "import StorageLevel"))
    return found


def test_no_storage_action_outside_session():
    """No module but ``session.py`` names a storage action, and the
    two lineage-cutting roles are ``localCheckpoint``."""
    offenders = {
        rel: acts
        for rel, src in _package_sources()
        if rel != "session.py" and (acts := _storage_actions(src))
    }
    assert offenders == {}
    assert session.ROLES["iterative"] is session._checkpoint
    assert session.ROLES["overwrite_barrier"] is session._checkpoint
    checkpoint = inspect.getsource(session._checkpoint)
    assert [a for _, a in _storage_actions(checkpoint)] == ["localCheckpoint"]
    bench = (pathlib.Path(__file__).parent.parent / "bench.py").read_text()
    assert "getPersistentRDDs" not in bench and "clearCache" not in bench


def _analyzed(df: DataFrame) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def test_lineage_cutting_roles_cut_lineage(spark):
    """``iterative`` and ``overwrite_barrier`` handles read a
    checkpointed RDD, not the plan they were built from; a ``corpus``
    handle keeps its lineage."""
    df = spark.range(50).select((F.col("id") % 7).alias("k"))
    with released():
        for role in ("iterative", "overwrite_barrier", "bounded"):
            assert _analyzed(materialize(df, role)) == "LogicalRDD", role
        corpus = materialize(df, "corpus")
        assert _analyzed(corpus) != "LogicalRDD"
        assert "Range" in corpus._jdf.queryExecution().analyzed().toString()


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_released_frees_each_scope_and_nothing_outside(spark):
    df = spark.range(40).select((F.col("id") % 5).alias("k"))
    before = _persistent_ids(spark)
    with released():
        outer = materialize(df, "bounded")
        with released():
            materialize(df.filter("k > 1"), "bounded")
            materialize(df.filter("k > 2"), "corpus").count()
            inner_ids = _persistent_ids(spark) - before
        after_inner = _persistent_ids(spark) - before
        assert outer.count() == 40  # the inner exit left the outer handle
    assert len(inner_ids) == 3 and len(after_inner) == 1
    assert _persistent_ids(spark) == before
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        outer.count()

    with pytest.raises(RuntimeError):
        with released():
            materialize(df, "bounded")
            raise RuntimeError("fold failed")
    assert _persistent_ids(spark) == before

    untracked = materialize(df, "bounded")  # outside any scope
    assert len(_persistent_ids(spark) - before) == 1
    session._release(untracked, "bounded")
    assert _persistent_ids(spark) == before


def _drop_blocks(spark, rdd_ids) -> None:
    """What a lost executor does to a handle: its blocks are gone, its
    cache entry stays."""
    jvm = spark.sparkContext._jvm
    master = jvm.org.apache.spark.SparkEnv.get().blockManager().master()
    for i in rdd_ids:
        master.removeRdd(i, True)
        for p in range(spark.sparkContext._jsc.getPersistentRDDs()[i].getNumPartitions()):
            assert master.getLocations(jvm.org.apache.spark.storage.RDDBlockId(i, p)).size() == 0


def _hash(df: DataFrame) -> str:
    rows = sorted("|".join(str(v) for v in r) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def test_lost_blocks_recompute_corpus_and_fail_bounded(spark):
    """A ``corpus`` handle whose blocks are lost after its first
    consumer recomputes them from its lineage: the second consumer's
    hash equals the first's. A ``bounded`` checkpoint cannot, and says
    so, which is why release comes after a scope's last action."""
    from samza_hello_samza_spark.operators.dedup import _doc_shingles

    # an earlier test may have left the same plan cached (outside any
    # scope): the persist below would reuse that entry, not make one
    spark.catalog.clearCache()
    with released():
        before = _persistent_ids(spark)
        sh = _doc_shingles(spark, SF_DIR)  # its shingle set is a corpus handle
        consumer = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        first = _hash(consumer)
        lost = _persistent_ids(spark) - before
        assert lost
        _drop_blocks(spark, lost)
        assert lost <= _persistent_ids(spark)
        assert _hash(consumer) == first

        per_lang = materialize(
            load_table(spark, SF_DIR, "documents").groupBy("lang").count(), "bounded"
        )
        _drop_blocks(spark, _persistent_ids(spark) - before - lost)
        with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
            per_lang.collect()


def _walk(value, path: str):
    if isinstance(value, (DataFrame, Column, JavaObject)):
        raise AssertionError(f"{path} holds a {type(value).__name__}")
    if isinstance(value, dict):
        for k, v in value.items():
            _walk(k, f"{path}[key]")
            _walk(v, f"{path}[{k!r}]")
    elif isinstance(value, (list, tuple, set, frozenset)):
        for i, v in enumerate(value):
            _walk(v, f"{path}[{i}]")


def test_module_caches_hold_plain_data(spark):
    """Scoped release frees every block a key materialised, so a module
    cache that kept a DataFrame, a Column or a JVM handle would serve a
    dead plan to the next key. Every cache holds plain data only."""
    from samza_hello_samza_spark.operators import ann_index, similarity
    from samza_hello_samza_spark.registry import all_queries
    from samza_hello_samza_spark.sources import inverted

    queries = all_queries()
    for key in ("bm25_batch_wand", "bm25_batch_indexed", "ann_sq8_indexed_topk"):
        with released():
            queries[key](spark, SF_DIR).collect()
    caches = {
        "session._SCHEMA_MEMO": session._SCHEMA_MEMO,
        "ann_index._SIDECAR_JSON_CACHE": ann_index._SIDECAR_JSON_CACHE,
        "similarity._QUERY_VEC_CACHE": similarity._QUERY_VEC_CACHE,
        "inverted._PRICING_CACHE": inverted._PRICING_CACHE,
        "inverted._VOCAB_CACHE": inverted._VOCAB_CACHE,
        "inverted._DF_CACHE": inverted._DF_CACHE,
    }
    for name, cache in caches.items():
        assert cache, f"{name} is empty: the keys above no longer fill it"
        _walk(dict(cache), name)
