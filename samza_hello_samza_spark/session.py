"""SparkSession factory tuned for both local[*] testing and cluster scale.

Every knob here is chosen for the 100 TB target, then scaled down by
env for local runs:

- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic join-strategy switching replace hand-tuning.
- Arrow on: any Pandas-UDF operator (minhash, multimodal) moves
  columnar batches, not pickled rows.
- ``spark.sql.shuffle.partitions`` is max(cores, 16) locally; on a
  real cluster AQE coalesces from a deliberately high initial number.
- Broadcast threshold raised: TPC-H-style dims (region, nation,
  customer, supplier, part) must broadcast, never shuffle.
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
import uuid
from collections import OrderedDict
from contextlib import contextmanager
from urllib.parse import unquote, urlsplit

import pyspark
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: All tables the driver materializes per scale factor.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _fs_checkpoint_manager_class() -> str:
    """Spark's FileSystem-based ``CheckpointFileManager`` for the
    installed Spark: 4.1 moved it into a ``checkpointing`` package, and
    a name that does not resolve fails every streaming query at start."""
    version = tuple(int(x) for x in pyspark.__version__.split(".")[:2])
    pkg = "org.apache.spark.sql.execution.streaming"
    if version >= (4, 1):
        pkg += ".checkpointing"
    return f"{pkg}.FileSystemBasedCheckpointFileManager"


def get_spark(app_name: str = "samza-hello-samza-spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults."""
    cpus = cpus or default_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # local mode: max(cores, 16) shuffle tasks — one per core from
        # 16 cores up, 16 below that (one task per core measured 2×
        # faster than 2×cores at sf0.1 — scheduling overhead dominates
        # tiny partitions). On a cluster, raise
        # spark.sql.adaptive.coalescePartitions.initialPartitionNum
        # instead and let AQE coalesce down.
        .config("spark.sql.shuffle.partitions", str(max(cpus, 16)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # keep stdout clean: bench.py's final JSON line is machine-read
        # from a bounded stdout tail, so no progress bars may interleave.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Driver testdata stores TIMESTAMP(NANOS); read as long and
        # convert in load_table (truncating to micros, matching what
        # DuckDB does when it reads the same files).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Every streaming checkpoint file (offsets, commits, query
        # metadata, the file-source and file-sink _spark_metadata logs,
        # HDFS-backed state-store deltas, RocksDB checkpoint uploads) is
        # written through the FileSystem-based manager. On a local FS
        # Spark picks the FileContext-based one, which without native
        # libhadoop forks 10 processes per atomic write (8 readlink for
        # symlink resolution, 2 chmod); this one forks the 2 chmod
        # (median per 300 B write on a 4-vCPU VM: 29 ms vs 9 ms). With
        # overwriteIfPossible=False it checks that the target is absent,
        # then renames, so a concurrent update to a log is still
        # detected. Read only when a query or state store opens its
        # checkpoint: no batch plan changes.
        .config("spark.sql.streaming.checkpointFileManagerClass", _fs_checkpoint_manager_class())
    )
    return builder.getOrCreate()


def cluster_conf(
    executors: int = 1000, cores_per_executor: int = 4
) -> dict[str, str]:
    """Recommended configs for the 100 TB / ~1000-executor deployment.

    The local factory above mirrors these where they apply; this dict
    is the documented delta for a real cluster (pass to
    ``SparkSession.builder.config(map=...)`` or spark-defaults):

    - shuffle partitions start HIGH (4 per core) and AQE coalesces
      down — undershooting means >2 GB partitions and spilled sorts;
      AQE can only merge, never split non-skew partitions.
    - advisory partition size bounds what AQE coalesces toward.
    - broadcast threshold stays modest: at 1000 executors an oversized
      broadcast is amplified 1000×; explicit `broadcast()` hints in
      the plans cover the known dims.
    - shuffle service + dynamic allocation let the fleet breathe
      between stages of very different widths.
    - the streaming checkpoint manager is left to Spark: the local
      factory's FileSystem-based manager commits a checkpoint file by
      rename, which is atomic on a local FS and HDFS but not on an
      object store (S3, GCS, ABFS without hierarchical namespace).
    """
    total_cores = executors * cores_per_executor
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(4 * total_cores),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(128 * 1024 * 1024),
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(2 * total_cores),
        "spark.sql.files.maxPartitionBytes": str(256 * 1024 * 1024),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.dynamicAllocation.enabled": "true",
        "spark.dynamicAllocation.maxExecutors": str(executors),
        "spark.shuffle.service.enabled": "true",
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.session.timeZone": "UTC",
    }


#: SQL confs that change the schema parquet inference returns; their
#: values are part of a memo entry's key.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive",
)

#: Bound on the schema memo: one entry per path set, least recently
#: used evicted first.
_SCHEMA_MEMO_MAX = 1024

#: path set -> (options + inference confs, schema JSON, file
#: fingerprint). Plain data only: no DataFrame or JVM handle.
_SCHEMA_MEMO: OrderedDict[tuple[str, ...], tuple[tuple, str, tuple]] = OrderedDict()
#: streaming foreachBatch callbacks read from their own threads.
_SCHEMA_MEMO_LOCK = threading.Lock()


def _local_path(path: str) -> str | None:
    """Normalised local path of an absolute path or ``file:`` URI (the
    form ``input_file_name()`` returns); None for globs, other schemes
    and relative paths (Spark resolves those against the JVM's working
    directory, which this process may have left)."""
    if any(c in path for c in "*?[{"):
        return None
    parts = urlsplit(path)
    if parts.scheme == "file":
        path = unquote(parts.path)
    elif parts.scheme:
        return None
    return os.path.normpath(path) if os.path.isabs(path) else None


def write_json_atomic(path: str, obj, indent: int | None = None) -> None:
    """Replace the JSON file at ``path`` in one step: readers see the old
    content or the new, never a truncated file. The temp name is unique
    per call, so concurrent writers never share one; the last
    ``os.replace`` wins. No fsync: durability against power loss is
    not covered."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=indent)
    os.replace(tmp, path)


def index_base_dir() -> str:
    """Directory that holds every cached corpus-derived layout (ANN and
    BM25 indexes, edge and component tables, materialized views):
    ``SPARK_GRAFT_INDEX_DIR``, else the system temp dir."""
    return os.environ.get("SPARK_GRAFT_INDEX_DIR", tempfile.gettempdir())


def _fingerprint(paths: tuple[str, ...]) -> tuple | None:
    """(name, size, mtime_ns) of every file under ``paths``; None when a
    path is missing or holds no file (Spark then raises its own error)."""
    out = []
    try:
        for p in paths:
            if os.path.isfile(p):
                st = os.stat(p)
                out.append((p, st.st_size, st.st_mtime_ns))
                continue
            if not os.path.isdir(p):
                return None
            for dirpath, dirs, files in os.walk(p, followlinks=True):
                dirs.sort()
                for f in sorted(files):
                    fp = os.path.join(dirpath, f)
                    st = os.stat(fp)
                    out.append((fp, st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    return tuple(out) or None


def read_parquet(
    spark: SparkSession,
    *paths: str,
    schema: StructType | str | None = None,
    **options,
) -> DataFrame:
    """Batch parquet read; every batch read in the package goes here.

    ``spark.read.parquet`` runs one Spark job per call just to infer the
    schema from the footers. This helper keeps the schema Spark inferred,
    keyed by the path set, the reader options and the SQL confs that
    change inference, next to a fingerprint (name, size, ``mtime_ns``)
    of every file under the paths. A later read whose key and
    fingerprint both match passes the kept schema and runs no job.
    Anything else — a miss, a changed file, a glob, a non-``file``
    scheme, a missing or empty path — is a plain inferring read, so
    errors are exactly Spark's. An explicit ``schema`` bypasses the memo.
    """
    reader = spark.read.options(**options)
    if schema is not None:
        return reader.schema(schema).parquet(*paths)
    local = tuple(_local_path(p) for p in paths)
    if not local or None in local:
        return reader.parquet(*paths)
    key = (
        tuple(sorted((k, str(v)) for k, v in options.items())),
        tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS),
    )
    fp = _fingerprint(local)
    with _SCHEMA_MEMO_LOCK:
        hit = _SCHEMA_MEMO.get(local)
        if hit is not None:
            _SCHEMA_MEMO.move_to_end(local)
    if fp is not None and hit is not None and hit[0] == key and hit[2] == fp:
        return reader.schema(StructType.fromJson(json.loads(hit[1]))).parquet(*paths)
    df = reader.parquet(*paths)
    if fp is not None:
        entry = (key, df.schema.json(), fp)
        with _SCHEMA_MEMO_LOCK:
            _SCHEMA_MEMO[local] = entry
            _SCHEMA_MEMO.move_to_end(local)
            while len(_SCHEMA_MEMO) > _SCHEMA_MEMO_MAX:
                _SCHEMA_MEMO.popitem(last=False)
    return df


#: columns stored as TIMESTAMP(NANOS) in the driver parquet, per table.
_NANOS_TS_COLUMNS = {"events": ("ts",)}


def normalize_nanos_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Convert an int64-nanos column to a µs timestamp, if needed.

    Driver testdata has shipped both encodings across rounds:
    TIMESTAMP(NANOS) (read as long under nanosAsLong) and plain
    TIMESTAMP(MICROS) (read as timestamp directly). Guarding on the
    actual dtype makes every consumer — batch loader, streaming file
    sources, tests — robust to either. The long path uses true integer
    division (`div`): int64 nanos (~1.8e18) exceed double's 2^53
    mantissa, so a float divide drifts ±1µs vs DuckDB's integer
    truncation of the same files.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    if isinstance(df.schema[col].dataType, LongType):
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    elif isinstance(df.schema[col].dataType, TimestampNTZType):
        # session timezone is pinned to UTC, so this cast reinterprets
        # the same wall-clock instant; LTZ is required by streaming
        # watermarks (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise).
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


#: Tables whose per-byte compute is dominated by downstream work
#: (regex tokenization of text, array math over vectors) and that no
#: operator reads with file-identity semantics (``input_file_name``,
#: physical-order tiebreaks). These get the scan-parallelism floor
#: below; the fact tables (lineitem/orders/part) feed the
#: zonemap/bloom per-FILE builds and must keep their native file
#: granularity, and events feeds topic_log offset assignment whose
#: tiebreak is physical order.
_SPREAD_TABLES = frozenset({"documents", "embeddings"})


def _n_parquet_files(path: str) -> int:
    """Driver-side stat of a table's parquet file count (no Spark
    job). A single small parquet file is ONE row group, hence ONE
    scan task no matter how many cores wait on it — byte-range
    splitting cannot cross a row-group boundary."""
    if os.path.isdir(path):
        return sum(
            1
            for dirpath, _dirs, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )
    return 1


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table.

    A plain parquet read (``read_parquet``) keeps the scan a v1
    FileScan with full predicate pushdown + column pruning; callers
    filter/select directly on the result so Catalyst prunes at the
    source. A repeat load of an unchanged table reuses the schema
    inferred the first time and starts no Spark job; the memo entry is
    dropped as soon as any file under the table's path changes name,
    size or ``mtime_ns``, or an inference conf or option differs.

    r12 scan-parallelism floor (guide §2.5 "input skew: one huge
    unsplittable file" + the r11-accepted ``similarity._spread_scan``
    discipline): when a compute-heavy table's committed layout has
    fewer parquet files than the session has cores, every tokenize/
    vector stage above the scan runs on that handful of tasks while
    the rest of the box idles — at bench scale ``documents`` is ONE
    single-row-group file, so one task regex-tokenizes the whole
    corpus. Round-robin the scan to ``defaultParallelism`` first:
    filters/pruning still push to the scan below the exchange, the
    shuffled bytes are the (pruned) scan output, and a layout with
    ≥ cores files — every layout at the 100 TB shape — is a no-op by
    the same gate. Scale-adaptive by construction: the target is the
    session's parallelism, never a constant.
    """
    # Runtime-set (not only in our builder): the driver harness hands us
    # ITS session, which won't have this conf. It is a SQL conf, so
    # setting it per-session here is safe and idempotent.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = read_parquet(spark, path)
    for col in _NANOS_TS_COLUMNS.get(name, ()):
        df = normalize_nanos_ts(df, col)
    if name in _SPREAD_TABLES:
        par = spark.sparkContext.defaultParallelism
        if _n_parquet_files(path) < par:
            df = df.repartition(par)
    return df


def _checkpoint(df: DataFrame) -> DataFrame:
    return df.localCheckpoint()


def _persist(df: DataFrame) -> DataFrame:
    return df.persist(StorageLevel.MEMORY_AND_DISK)


#: materialisation role -> storage action (the policy is in
#: ``materialize``'s docstring).
ROLES = {
    "iterative": _checkpoint,
    "overwrite_barrier": _checkpoint,
    "bounded": _checkpoint,
    "corpus": _persist,
}

#: per thread, the open ``released()`` scopes, innermost last; a
#: foreachBatch fold runs on its own thread and so in its own scope.
_SCOPES = threading.local()


def materialize(df: DataFrame, role: str) -> DataFrame:
    """``df`` materialised the way its ``role`` says; every
    ``localCheckpoint``/``persist`` in the package goes through here.

    The role is a reason the caller knows and this helper cannot see:

    - ``iterative`` -> ``localCheckpoint()``. Loop state and the
      inputs every round re-reads: pagerank, kcore and label rounds,
      BPE and WordPiece merges, k-center, the quality-classifier
      gradient. Each round must cut the lineage, or the plan grows
      with the round count; a persist keeps the lineage.
    - ``overwrite_barrier`` -> ``localCheckpoint()``. The sink is the
      path the plan reads: merge rewrites, sidecar and stats
      refreshes, the IVF rebalance. A lazy persist would read the
      files the write is replacing.
    - ``bounded`` -> ``localCheckpoint()``. Entity-bounded aggregates
      and candidate-pair sets that two or more jobs read: small, and
      evaluated once, eagerly.
    - ``corpus`` -> ``persist(MEMORY_AND_DISK)``. Corpus-linear
      relations (shingles, signatures, n-gram counts, postings) and
      drained topic batches. Lazy, so it folds into the first
      consumer's job; spillable; never pinned deserialized in executor
      memory; and recomputed from its lineage when a block is lost.

    Inside a ``released()`` scope the handle is registered with the
    innermost one and freed when it exits; outside any scope nothing
    tracks it.
    """
    out = ROLES[role](df)
    if getattr(_SCOPES, "stack", None):
        _SCOPES.stack[-1].append((out, role))
    return out


def _release(df: DataFrame, role: str) -> None:
    """Free ``df``'s blocks and wait for the removal to finish."""
    if ROLES[role] is _checkpoint:
        # PySpark exposes no handle on a localCheckpoint's RDD; the
        # analyzed plan of the checkpointed frame is a LogicalRDD over it.
        df._jdf.queryExecution().analyzed().rdd().unpersist(True)
    else:
        df.unpersist(True)


@contextmanager
def released():
    """Scope in which every ``materialize`` handle is released on exit.

    Exit comes after the scope's last action: a checkpointed frame
    used after its release fails with
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``. Release blocks until the
    blocks are gone, so no removal work leaks past the scope. Scopes
    nest; each handle belongs to the innermost one open on its thread.
    """
    stack = _SCOPES.__dict__.setdefault("stack", [])
    stack.append([])
    try:
        yield
    finally:
        for df, role in reversed(stack.pop()):
            _release(df, role)
