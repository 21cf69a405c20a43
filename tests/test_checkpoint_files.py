"""Streaming checkpoint files go through the FileSystem-based manager.

``session.get_spark`` names Spark's ``FileSystemBasedCheckpointFileManager``
in ``spark.sql.streaming.checkpointFileManagerClass``; on a local FS
Spark would otherwise pick the FileContext-based manager, which forks
five times as many processes per atomic write without native libhadoop.
"""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JJavaError

from samza_hello_samza_spark.session import _fs_checkpoint_manager_class


def _manager(spark, path: str):
    """The manager Spark's streaming code opens for ``path``, built the
    way a query builds it: from the session's Hadoop conf."""
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    pkg = _fs_checkpoint_manager_class().rsplit(".", 1)[0]
    factory = getattr(getattr(spark._jvm, pkg), "CheckpointFileManager")
    return factory.create(spark._jvm.org.apache.hadoop.fs.Path(path), conf)


def test_session_checkpoints_use_filesystem_manager(spark, tmp_path):
    """The class resolves in the running Spark, and it is what a query
    opening a checkpoint under ``tmp_path`` gets."""
    name = _manager(spark, str(tmp_path)).getClass().getName()
    assert name == _fs_checkpoint_manager_class()
    assert name.endswith(".FileSystemBasedCheckpointFileManager")


def test_atomic_create_still_detects_a_concurrent_writer(spark, tmp_path):
    """``createAtomic(p, overwriteIfPossible=False)`` on an existing
    ``p`` fails when the stream is closed and leaves ``p`` as it was:
    the check Spark's metadata logs rely on to detect two queries
    writing one checkpoint."""
    fm = _manager(spark, str(tmp_path))
    target = spark._jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
    out = fm.createAtomic(target, False)
    out.write(bytearray(b"first"))
    out.close()
    out = fm.createAtomic(target, False)
    out.write(bytearray(b"second"))
    with pytest.raises(Py4JJavaError, match="FileAlreadyExistsException"):
        out.close()
    assert (tmp_path / "0").read_bytes() == b"first"
    assert [p.name for p in tmp_path.iterdir() if not p.name.startswith(".")] == ["0"]
