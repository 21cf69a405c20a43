"""MERGE INTO for parquet tables — the lakehouse upsert primitive.

Delta/Iceberg's ``MERGE INTO target USING source ON key`` expressed
with stock Spark: the target lives hash-bucketed on its key
(``bucket = pmod(xxhash64(key), N)`` — the same routing rule as
``topic_log``), so a merge

1. buckets the source rows (delta-sized, no shuffle of the target),
2. reads ONLY the target partitions whose bucket appears in the
   source (partition pruning at file listing — a small delta touches
   few buckets; an idle bucket's files are never opened),
3. resolves matches with ONE full-outer equi-join per key:
   - matched + delete condition        → row dropped
   - matched                           → source columns win (update)
   - source-only                       → insert
   - target-only                       → carried unchanged
4. rewrites only the touched buckets via dynamic partition overwrite
   — untouched bucket files are bit-identical afterwards
   (pytest-asserted), which is what bounds merge cost by
   O(delta + touched buckets), never O(table).

Semantics follow SQL MERGE with source-wins update (the whole source
row replaces the target row on a match, NULLs included); the source
must be key-unique with non-null keys (validated, ValueError) — the
standard MERGE cardinality rule.

Schema evolution (the Delta ``mergeSchema`` behavior): a source with
NEW columns widens the table — new columns are null on target-only
rows and in untouched buckets (parquet footer merge on read). A
source MISSING a target column, or sharing a column at a different
type, fails loudly (ValueError): "whole source row wins" is undefined
for absent columns, and silently null-filling an update would destroy
data.
Crash model: dynamic overwrite is atomic per partition directory but
not across buckets; the multi-source transactional upgrade is
``maintenance.TxnView``'s manifest swap (same trade-off as
``mv_refresh_job``, documented there).
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table, materialize, read_parquet, write_json_atomic

DEFAULT_BUCKETS = 32


class ConstraintViolation(ValueError):
    """A write would land rows that fail a table CHECK constraint."""


def _check_constraints(df: DataFrame, constraints: dict[str, str] | None) -> None:
    """Enforce Delta-style CHECK constraints on the rows a write is
    about to land: every expression must evaluate to TRUE for every
    row (NULL counts as a violation — Delta's strictness, NOT the
    SQL-standard CHECK which passes on UNKNOWN; a quality gate that
    lets NULLs through silently is how bad rows reach a 100 TB table).

    Cost: ONE map-side conditional-count aggregate over the write set
    (all constraints fused into a single job — no per-constraint
    scans); example rows are fetched only on failure. Raises
    ``ConstraintViolation`` BEFORE any data or manifest is touched, so
    the table state is unchanged on rejection.
    """
    if not constraints:
        return
    viol = {
        name: (~F.coalesce(F.expr(expr), F.lit(False))).cast("long")
        for name, expr in constraints.items()
    }
    counts = df.agg(
        *[F.sum(v).alias(name) for name, v in viol.items()]
    ).collect()[0]
    failed = {name: int(counts[name] or 0) for name in constraints}
    failed = {n: c for n, c in failed.items() if c > 0}
    if not failed:
        return
    name = sorted(failed)[0]
    examples = (
        df.filter(~F.coalesce(F.expr(constraints[name]), F.lit(False)))
        .drop("_bucket")
        .limit(3)
        .collect()
    )
    raise ConstraintViolation(
        f"CHECK constraint(s) violated: "
        f"{ {n: f'{c} row(s)' for n, c in sorted(failed.items())} } — "
        f"first examples for {name!r} ({constraints[name]}): "
        f"{[r.asDict() for r in examples]}"
    )


def _validate_merge_source(source: DataFrame, key: str) -> None:
    # one aggregate job validates both cardinality rules: key-unique
    # AND no NULL keys (count_distinct ignores NULLs, so either
    # defect makes the two counts diverge). ValueError, not assert —
    # `python -O` strips asserts and a duplicate-key source would
    # silently row-multiply through the full-outer join.
    chk = source.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col(key)).alias("k"),
    ).collect()[0]
    if chk.n != chk.k:
        raise ValueError(
            f"MERGE source must be key-unique with non-null keys: "
            f"{chk.n} rows, {chk.k} distinct non-null keys"
        )


def _gate_schema_evolution(full: DataFrame, src: DataFrame):
    """Schema evolution gate (see module docstring): source may ADD
    columns; it may not drop or re-type existing ones. Returns
    (existing cols, new source-only cols, source field types)."""
    t_fields = {f.name: f.dataType for f in full.schema if f.name != "_bucket"}
    s_fields = {f.name: f.dataType for f in src.schema if f.name != "_bucket"}
    missing = [c for c in t_fields if c not in s_fields]
    if missing:
        raise ValueError(
            f"MERGE source is missing table columns {missing}: "
            "'whole source row wins' is undefined for absent columns — "
            "select them from the table first or backfill explicitly"
        )
    retyped = [
        (c, str(t_fields[c]), str(s_fields[c]))
        for c in t_fields
        if s_fields[c] != t_fields[c]
    ]
    if retyped:
        raise ValueError(f"MERGE source re-types table columns: {retyped}")
    new_cols = [c for c in s_fields if c not in t_fields]
    cols = [f.name for f in full.schema if f.name != "_bucket"]
    return cols, new_cols, s_fields


def _merge_rows(
    target: DataFrame,
    src: DataFrame,
    key: str,
    cols: list[str],
    new_cols: list[str],
    s_fields: dict,
    delete_cond: F.Column | None,
):
    """The MERGE core both table variants share: one full-outer
    equi-join resolving update/insert/delete/carry, returning the
    checkpointed merged rows (with ``_bucket``) and audit counts."""
    t = target.alias("t")
    s = src.alias("s")
    joined = t.join(s, F.col(f"t.{key}") == F.col(f"s.{key}"), "full_outer")
    matched = F.col(f"t.{key}").isNotNull() & F.col(f"s.{key}").isNotNull()
    # a delete-marked source row must never INSERT either (the
    # "WHEN NOT MATCHED AND cond THEN skip" clause): without it, a
    # REPLAYED tombstone would re-insert the row it once deleted —
    # with it, applying a CDC batch is fully idempotent.
    deleting = (
        F.col(f"s.{key}").isNotNull() & F.coalesce(delete_cond, F.lit(False))
        if delete_cond is not None
        else F.lit(False)
    )
    # SQL-MERGE update semantics: the WHOLE source row wins on a
    # match — branch per row on the source key, never per-column
    # coalesce (which would silently resurrect the stale target
    # value whenever an update sets a column to NULL). Added
    # columns have no target side: null of the source's type on
    # target-only rows (untouched buckets get the same null at read
    # time — footer merge / allowMissingColumns union).
    src_row = F.col(f"s.{key}").isNotNull()
    merged = joined.filter(~deleting).select(
        *[
            F.when(src_row, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
            for c in cols
        ],
        *[
            F.when(src_row, F.col(f"s.{c}"))
            .otherwise(F.lit(None).cast(s_fields[c]))
            .alias(c)
            for c in new_cols
        ],
        F.coalesce(F.col("s._bucket"), F.col("t._bucket")).alias("_bucket"),
    )
    # break the lineage to the files being replaced: Spark refuses
    # (correctly) to overwrite a path its own plan still reads.
    # The checkpoint holds touched-bucket rows only — the bound the
    # whole design exists to provide.
    merged = materialize(merged, "overwrite_barrier")
    counts = joined.agg(
        F.sum((matched & ~deleting).cast("long")).alias("updated"),
        F.sum((matched & deleting).cast("long")).alias("deleted"),
        F.sum((F.col(f"t.{key}").isNull() & ~deleting).cast("long")).alias(
            "inserted"
        ),
    ).collect()[0]
    return merged, {
        "inserted": int(counts.inserted or 0),
        "updated": int(counts.updated or 0),
        "deleted": int(counts.deleted or 0),
    }


class MergeTable:
    """A hash-bucketed parquet table with MERGE INTO support.

    ``constraints`` (optional): Delta-style CHECK constraints —
    {name: SQL boolean expression over the table columns}. Every
    write path (``write_full``, ``merge``) validates the rows it is
    about to land and raises ``ConstraintViolation`` before touching
    the table; see ``_check_constraints`` for semantics and cost.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_col: str,
        n_buckets: int = DEFAULT_BUCKETS,
        constraints: dict[str, str] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.n_buckets = n_buckets
        self.constraints = dict(constraints or {})

    def _bucket(self) -> F.Column:
        return F.pmod(
            F.xxhash64(F.col(self.key_col).cast("string")), F.lit(self.n_buckets)
        ).cast("int")

    def write_full(self, df: DataFrame) -> None:
        _check_constraints(df, self.constraints)
        (
            df.withColumn("_bucket", self._bucket())
            .repartition("_bucket")
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(self.path)
        )

    def read(self) -> DataFrame:
        # mergeSchema: after an add-column merge, untouched bucket
        # files lack the new column — footer merge null-fills them.
        # Costs a footer read per file at planning; at 100 TB you
        # freeze the merged schema in a catalog instead and pass it
        # to .schema(...) — the bucket layout is unchanged either way.
        return (
            read_parquet(self.spark, self.path, mergeSchema="true")
            .drop("_bucket")
        )

    def merge(self, source: DataFrame, delete_cond: F.Column | None = None) -> dict:
        """SQL-MERGE the source into the table; returns audit counts.

        ``delete_cond`` is evaluated against the SOURCE row of a
        matched pair ("when matched and <cond> then delete") — qualify
        columns with the ``s.`` alias, e.g. ``F.col("s.status") ==
        "closed"``.
        """
        key = self.key_col
        _validate_merge_source(source, key)
        src = materialize(source.withColumn("_bucket", self._bucket()), "bounded")
        touched = sorted(r._bucket for r in src.select("_bucket").distinct().collect())
        if not touched:
            return {"inserted": 0, "updated": 0, "deleted": 0, "buckets": []}

        # a brand-new (or emptied) table has no parquet files to infer
        # a schema from — bootstrap: the first merge's source DEFINES
        # the table schema and every source row is an insert. ONLY the
        # genuinely-missing-table conditions take this path; any other
        # read failure (transient IO, corrupt footer, permissions)
        # re-raises — bootstrapping on those would dynamic-overwrite
        # touched buckets with source-only rows and destroy the
        # matched target rows they failed to read.
        try:
            full = read_parquet(self.spark, self.path, mergeSchema="true")
        except AnalysisException as e:
            marker = str(getattr(e, "getErrorClass", lambda: None)() or e)
            if "PATH_NOT_FOUND" in marker or "UNABLE_TO_INFER_SCHEMA" in marker:
                full = src.filter(F.lit(False))
            else:
                raise
        cols, new_cols, s_fields = _gate_schema_evolution(full, src)
        target = full.filter(F.col("_bucket").isin(touched))
        merged, counts = _merge_rows(
            target, src, key, cols, new_cols, s_fields, delete_cond
        )
        # constraints gate the rows ABOUT TO LAND (the rewritten
        # buckets' post-merge state) — Delta's contract: incoming
        # writes are validated, untouched buckets are grandfathered.
        _check_constraints(merged, self.constraints)
        (
            merged.repartition("_bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_bucket")
            .parquet(self.path)
        )
        return {**counts, "buckets": touched}

    def bucket_files(self) -> dict[int, list[str]]:
        out: dict[int, list[str]] = {}
        for entry in os.listdir(self.path):
            if entry.startswith("_bucket="):
                b = int(entry.split("=")[1])
                d = os.path.join(self.path, entry)
                out[b] = sorted(
                    f for f in os.listdir(d) if f.endswith(".parquet")
                )
        return out


class VersionedMergeTable:
    """MergeTable with snapshot isolation and time travel.

    ``MergeTable``'s dynamic partition overwrite is atomic per bucket
    directory but NOT across buckets: a crash mid-write can leave a
    multi-bucket merge half-applied, and history is destroyed in
    place. This variant closes both gaps with the repo's
    snapshot-manifest commit (TxnView / ann_index discipline), i.e.
    the Iceberg/Delta transaction-log design re-expressed minimally:

    - every merge writes its touched buckets' NEW files under an
      immutable ``data/v{N}/_bucket=*/`` directory — untouched bucket
      files are never rewritten, not even touched;
    - one MANIFEST.json maps, PER VERSION, each bucket to the version
      directory that last rewrote it; ``os.replace`` of the manifest
      is the single commit point, so readers see every merge fully or
      not at all — cross-bucket atomicity by atomicity of the swap;
    - ``read(version=K)`` resolves any historical snapshot (time
      travel): one pruned read per distinct writer version (the
      bucket filter is a partition filter, so only the snapshot's
      bucket directories are listed), unioned by name with missing
      columns null-filled — schema evolution works across versions
      without rewriting old files.

    Scale shape: merge cost is O(source + touched-bucket rows), the
    manifest is O(versions × buckets) — KB — and nothing ever
    rewrites an untouched file, which is what makes the layout safe
    for petabyte tables with concurrent readers.

    Writer model: optimistic single-winner. Each merge atomically
    claims its target version with an O_EXCL ``v{N}.claim`` marker
    BEFORE writing data; of two concurrent merges that both read
    current=N, exactly one proceeds and the other raises RuntimeError
    having written nothing (retry after re-reading). Readers need no
    coordination — they resolve against an immutable manifest
    snapshot (pytest: concurrent-merge reader test).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_col: str,
        n_buckets: int = DEFAULT_BUCKETS,
        constraints: dict[str, str] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.n_buckets = n_buckets
        self.constraints = dict(constraints or {})
        os.makedirs(path, exist_ok=True)

    # -- manifest ---------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.path, "MANIFEST.json")

    def manifest(self) -> dict:
        import json

        p = self._manifest_path()
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {"current": 0, "snapshots": {}}

    def _swap_manifest(self, man: dict) -> None:
        write_json_atomic(self._manifest_path(), man)  # THE commit point

    def versions(self) -> list[int]:
        return sorted(int(v) for v in self.manifest()["snapshots"])

    def _data_dir(self, version: int) -> str:
        return os.path.join(self.path, "data", f"v{version}")

    def _dv_dir(self, version: int) -> str:
        return os.path.join(self.path, "deletes", f"v{version}")

    def _spec(self, man: dict, version: int) -> int:
        """The bucket count a snapshot was written under (the table's
        partition SPEC — Iceberg's term). Recorded per version and
        copied forward on every commit; pre-spec manifests fall back
        to the constructor value (backward compatible)."""
        return int(man.get("spec", {}).get(str(version), self.n_buckets))

    def _bucket(self, n_buckets: int | None = None) -> F.Column:
        return F.pmod(
            F.xxhash64(F.col(self.key_col).cast("string")),
            F.lit(n_buckets or self.n_buckets),
        ).cast("int")

    # -- read -------------------------------------------------------------

    def _read_snapshot(
        self,
        snap: dict[str, int],
        buckets: list[int] | None = None,
        dvs: dict[str, list[int]] | None = None,
    ) -> DataFrame:
        by_writer: dict[int, list[int]] = {}
        for b, m in snap.items():
            if buckets is None or int(b) in buckets:
                by_writer.setdefault(int(m), []).append(int(b))
        parts = []
        for m, bs in sorted(by_writer.items()):
            parts.append(
                read_parquet(self.spark, self._data_dir(m), mergeSchema="true")
                .filter(F.col("_bucket").isin(bs))  # partition filter
            )
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        # deletion vectors: subtract this snapshot's tombstoned keys.
        # Keys are table-unique, so a key anti-join is exact; every DV
        # read is pruned to the buckets it covers (partition filter),
        # so the anti-join's build side is tombstone-sized, never
        # table-sized.
        by_dv: dict[int, list[int]] = {}
        for b, vers in (dvs or {}).items():
            if buckets is None or int(b) in buckets:
                for m in vers:
                    by_dv.setdefault(int(m), []).append(int(b))
        doomed = None
        for m, bs in sorted(by_dv.items()):
            part = (
                read_parquet(self.spark, self._dv_dir(m))
                .filter(F.col("_bucket").isin(bs))
                .select(self.key_col)
            )
            doomed = part if doomed is None else doomed.unionByName(part)
        if doomed is not None:
            out = out.join(doomed, self.key_col, "left_anti")
        return out

    def _snapshot_dvs(self, man: dict, version: int) -> dict[str, list[int]]:
        return dict(man.get("deletes", {}).get(str(version), {}))

    def read(
        self, version: int | None = None, tag: str | None = None
    ) -> DataFrame:
        """The table at ``version`` (default: current). Time travel is
        just reading an older snapshot's bucket→writer map (minus its
        deletion vectors). ``tag=`` resolves a named ref created by
        :meth:`create_tag` — ``VERSION AS OF`` by name."""
        man = self.manifest()
        if tag is not None:
            if version is not None:
                raise ValueError("pass version= or tag=, not both")
            version = self.resolve_tag(tag, man=man)
        v = man["current"] if version is None else version
        if str(v) not in man["snapshots"]:
            raise FileNotFoundError(f"no snapshot v{v} in {self.path}")
        df = self._read_snapshot(
            man["snapshots"][str(v)], dvs=self._snapshot_dvs(man, v)
        )
        if df is None:  # table emptied at this version
            raise FileNotFoundError(f"snapshot v{v} holds no buckets")
        return df.drop("_bucket")

    # -- write ------------------------------------------------------------

    def write_full(self, df: DataFrame) -> None:
        _check_constraints(df, self.constraints)
        src = df.withColumn("_bucket", self._bucket())
        (
            src.repartition("_bucket")
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(self._data_dir(1))
        )
        per_bucket = (
            src.groupBy("_bucket").agg(F.count(F.lit(1)).alias("n")).collect()
        )
        present = sorted(r._bucket for r in per_bucket)
        self._swap_manifest(
            {
                "current": 1,
                "snapshots": {"1": {str(b): 1 for b in present}},
                "spec": {"1": self.n_buckets},
                "ops": {
                    "1": {
                        "operation": "WRITE",
                        "inserted": int(sum(r.n for r in per_bucket)),
                        "updated": 0,
                        "deleted": 0,
                    }
                },
            }
        )

    def merge(
        self,
        source: DataFrame,
        delete_cond: F.Column | None = None,
        txn: tuple[str, int] | None = None,
    ) -> dict:
        """Atomic multi-bucket MERGE; see MergeTable.merge for the row
        semantics (identical — same shared core).

        ``txn=(app_id, version)`` makes the merge IDEMPOTENT per
        writer application — the Delta ``txnAppId``/``txnVersion``
        pattern: the manifest records each app's highest applied
        transaction version IN THE SAME atomic swap as the data
        commit, and a merge whose version is ≤ the recorded watermark
        returns ``{"applied": False}`` having written nothing. That
        closes the crash window every marker-file consumer has
        (commit landed, marker didn't): here the watermark IS part of
        the commit, so a replayed micro-batch can never fold twice —
        true exactly-once for streaming foreachBatch sinks.
        """
        key = self.key_col
        _validate_merge_source(source, key)
        man = self.manifest()
        if txn is not None:
            app_id, txn_version = txn
            applied = int(man.get("txn", {}).get(app_id, -1))
            if txn_version <= applied:
                return {
                    "applied": False,
                    "inserted": 0,
                    "updated": 0,
                    "deleted": 0,
                    "buckets": [],
                    "version": man["current"],
                }
        # route the source by the CURRENT snapshot's partition spec —
        # after a rebucket the constructor's n_buckets may be stale.
        spec = self._spec(man, man["current"])
        src = materialize(source.withColumn("_bucket", self._bucket(spec)), "bounded")
        touched = sorted(
            r._bucket for r in src.select("_bucket").distinct().collect()
        )
        if not touched:
            # nothing to write ⇒ nothing to make idempotent: an empty
            # replay is already a no-op, so the txn watermark is not
            # advanced (no commit happens here)
            return {"applied": False, "inserted": 0, "updated": 0,
                    "deleted": 0, "buckets": [], "version": man["current"]}
        snap = dict(man["snapshots"].get(str(man["current"]), {}))
        dvs = self._snapshot_dvs(man, man["current"])
        target = self._read_snapshot(snap, buckets=touched, dvs=dvs)
        if target is None:
            target = src.filter(F.lit(False))
        cols, new_cols, s_fields = _gate_schema_evolution(target, src)
        merged, counts = _merge_rows(
            target, src, key, cols, new_cols, s_fields, delete_cond
        )
        # validated BEFORE the version claim: a rejected write must
        # leave no claim file behind for other writers to wait on.
        _check_constraints(merged, self.constraints)
        new_version = man["current"] + 1
        nonce = self._claim(new_version)
        (
            merged.repartition("_bucket")
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(self._stage_dir(self._data_dir(new_version), nonce))
        )
        # a touched bucket whose merge deleted every row writes no
        # directory — it must leave the snapshot entirely.
        present = {
            r._bucket for r in merged.select("_bucket").distinct().collect()
        }
        for b in touched:
            if b in present:
                snap[str(b)] = new_version
            else:
                snap.pop(str(b), None)
        man["snapshots"][str(new_version)] = snap
        man.setdefault("spec", {})[str(new_version)] = spec
        # a rewritten bucket materializes its tombstones: the new files
        # hold the post-DV rows, so the new snapshot drops the touched
        # buckets' DV entries (older snapshots keep theirs — time
        # travel still applies them).
        for b in touched:
            dvs.pop(str(b), None)
        man.setdefault("deletes", {})[str(new_version)] = dvs
        man.setdefault("ops", {})[str(new_version)] = {
            "operation": "MERGE",
            **counts,
        }
        if txn is not None:
            # the watermark rides the SAME swap as the data commit —
            # there is no state where the data landed but the
            # watermark didn't (or vice versa)
            man.setdefault("txn", {})[txn[0]] = int(txn[1])
        self._publish(new_version, nonce, self._data_dir(new_version))
        self._commit(man, new_version, nonce)  # all-or-nothing swap
        return {
            **counts,
            "applied": True,
            "buckets": touched,
            "version": new_version,
        }

    def _claim(self, version: int) -> str:
        """Atomically CLAIM ``version`` with an O_EXCL marker before
        writing any data. Two concurrent writers that both read
        current=N would otherwise write into the SAME v{N+1} directory
        and race the manifest read-modify-write, silently losing one
        commit. First claimer wins; the loser fails loudly here,
        having written nothing.

        The claim file carries a writer-unique NONCE. Ownership (the
        file still holding OUR nonce) is re-verified at both commit
        points — before the staging rename publishes any data and
        before the manifest swap — so a writer whose claim was broken
        as stale (``merge_with_retry``) aborts cleanly instead of
        racing the retaker into the same ``data/v{N}`` directory."""
        import uuid

        nonce = uuid.uuid4().hex
        claim = os.path.join(self.path, f"v{version}.claim")
        try:
            fd = os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, nonce.encode())
            os.close(fd)
        except FileExistsError:
            raise RuntimeError(
                f"concurrent writer already claimed version {version} "
                f"of {self.path}; re-read the table and retry"
            ) from None
        return nonce

    def _owns_claim(self, version: int, nonce: str) -> bool:
        try:
            with open(os.path.join(self.path, f"v{version}.claim")) as f:
                return f.read() == nonce
        except FileNotFoundError:
            return False

    def _stage_dir(self, final_dir: str, nonce: str) -> str:
        # same parent as the final dir, so the publish rename is an
        # atomic same-filesystem rename.
        return f"{final_dir}.stage-{nonce}"

    def _publish(self, version: int, nonce: str, final_dir: str) -> None:
        """Atomically publish a claimant-unique staging directory as
        ``final_dir``. Data reaches the final path ONLY through this
        rename, and only while the claim file still carries our nonce
        — a slow writer whose claim was broken removes its staging
        output and aborts, never contaminating the retaker's commit.

        If the final dir already exists it is an orphan from a dead
        claimant that renamed but died before its manifest swap (the
        manifest never references uncommitted versions, checked
        below): holding the claim, we may safely clear it."""
        import shutil

        stage = self._stage_dir(final_dir, nonce)
        if not self._owns_claim(version, nonce):
            shutil.rmtree(stage, ignore_errors=True)
            raise RuntimeError(
                f"claim on version {version} of {self.path} was broken as "
                "stale while this writer was running; retry against the "
                "new snapshot"
            )
        if os.path.isdir(final_dir):
            if self.manifest()["current"] >= version:
                shutil.rmtree(stage, ignore_errors=True)
                raise RuntimeError(
                    f"version {version} of {self.path} already committed "
                    "by another writer; retry against the new snapshot"
                )
            shutil.rmtree(final_dir)
        os.rename(stage, final_dir)

    def _commit(self, man: dict, new_version: int, nonce: str) -> None:
        """Re-verify ownership + linearity, then swap — shared by
        every writer."""
        if not self._owns_claim(new_version, nonce):
            raise RuntimeError(
                f"claim on version {new_version} of {self.path} was broken "
                "as stale before the manifest swap; retry"
            )
        if self.manifest()["current"] != new_version - 1:
            raise RuntimeError(
                f"concurrent commit detected on {self.path}: manifest moved "
                f"past version {new_version - 1} while this writer was active"
            )
        man["current"] = new_version
        self._swap_manifest(man)

    # -- deletion vectors ---------------------------------------------------

    def delete_where(self, cond: F.Column) -> dict:
        """Row-level DELETE without rewriting a single data file — the
        Iceberg v2 position-delete / Delta deletion-vector design on
        this layout's terms (key deletes; keys are table-unique).

        The matched keys land under an immutable ``deletes/v{N}``
        directory, bucket-partitioned like the data they tombstone,
        and the new snapshot maps each touched bucket to its DV list.
        Readers subtract tombstones with a bucket-pruned key
        anti-join; a later MERGE or ``compact_deletes`` that rewrites
        a bucket materializes (and drops) its DVs.

        Why it matters at 100 TB: deleting a thousand rows from a
        terabyte bucket costs O(matched keys) write — not an O(bucket)
        rewrite — at the price of a tombstone-sized anti-join per read
        until compaction. That is the standard lakehouse trade, and
        GDPR-style point deletes are its canonical workload.

        Scan cost to FIND the keys is one snapshot read filtered by
        ``cond`` (any predicate); the write is tombstone-sized.
        Same optimistic single-winner commit as ``merge``.
        """
        man = self.manifest()
        cur = man["current"]
        snap = dict(man["snapshots"].get(str(cur), {}))
        dvs = self._snapshot_dvs(man, cur)
        full = self._read_snapshot(snap, dvs=dvs)
        if full is None:
            return {"deleted": 0, "buckets": [], "version": cur}
        doomed = materialize(
            full.filter(cond).select(self.key_col, "_bucket"), "bounded"
        )
        touched = sorted(
            r._bucket for r in doomed.select("_bucket").distinct().collect()
        )
        if not touched:
            return {"deleted": 0, "buckets": [], "version": cur}
        n = doomed.count()
        new_version = cur + 1
        nonce = self._claim(new_version)
        (
            doomed.repartition("_bucket")
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(self._stage_dir(self._dv_dir(new_version), nonce))
        )
        new_dvs = {b: list(v) for b, v in dvs.items()}
        for b in touched:
            new_dvs.setdefault(str(b), []).append(new_version)
        man["snapshots"][str(new_version)] = snap  # data files UNTOUCHED
        man.setdefault("deletes", {})[str(new_version)] = new_dvs
        man.setdefault("spec", {})[str(new_version)] = self._spec(man, cur)
        man.setdefault("ops", {})[str(new_version)] = {
            "operation": "DELETE",
            "inserted": 0,
            "updated": 0,
            "deleted": int(n),
        }
        self._publish(new_version, nonce, self._dv_dir(new_version))
        self._commit(man, new_version, nonce)
        return {"deleted": n, "buckets": touched, "version": new_version}

    def compact_deletes(self) -> dict:
        """Materialize every outstanding deletion vector: rewrite the
        DV-carrying buckets (post-tombstone rows) as a new version and
        clear their DV entries — reads of the new snapshot pay no
        anti-join. Untouched buckets' files are never rewritten, same
        as ``merge``."""
        man = self.manifest()
        cur = man["current"]
        snap = dict(man["snapshots"].get(str(cur), {}))
        dvs = self._snapshot_dvs(man, cur)
        if not dvs:
            return {"buckets": [], "version": cur}
        touched = sorted(int(b) for b in dvs)
        rows = self._read_snapshot(snap, buckets=touched, dvs=dvs)
        new_version = cur + 1
        nonce = self._claim(new_version)
        present: set[int] = set()
        if rows is not None:
            rows = materialize(rows, "overwrite_barrier")
            (
                rows.repartition("_bucket")
                .write.mode("overwrite")
                .partitionBy("_bucket")
                .parquet(self._stage_dir(self._data_dir(new_version), nonce))
            )
            present = {
                r._bucket for r in rows.select("_bucket").distinct().collect()
            }
            self._publish(new_version, nonce, self._data_dir(new_version))
        for b in touched:
            if b in present:
                snap[str(b)] = new_version
            else:
                snap.pop(str(b), None)  # bucket fully tombstoned
        man["snapshots"][str(new_version)] = snap
        man.setdefault("deletes", {})[str(new_version)] = {}
        man.setdefault("spec", {})[str(new_version)] = self._spec(man, cur)
        # logically a no-op: tombstones materialize, row set unchanged
        man.setdefault("ops", {})[str(new_version)] = {
            "operation": "COMPACT",
            "inserted": 0,
            "updated": 0,
            "deleted": 0,
        }
        self._commit(man, new_version, nonce)
        return {"buckets": touched, "version": new_version}

    def clone_to(self, dest_path: str) -> "VersionedMergeTable":
        """Zero-copy CLONE: an independent table sharing this one's
        data files — Delta's ``SHALLOW CLONE`` on a filesystem
        layout's terms.

        Every committed data/DV file is HARDLINKED into ``dest_path``
        (O(files) metadata work, zero bytes moved) and the manifest is
        copied, so the clone reads every historical version the
        source had at clone time, and commits on either side diverge
        independently from then on. Safe by the layout's immutability
        discipline: files are never modified in place — commits only
        add new version dirs, and ``expire_snapshots`` unlinks, which
        with hardlinks just drops one reference (pytest: expiring the
        source leaves the clone's reads intact). The per-app ``txn``
        watermarks are NOT copied — a clone is a new table; a loader
        replaying into it must fold from scratch. On object storage
        the same design is expressed as manifest file-references
        instead of hardlinks; the commit protocol is unchanged.
        """
        import shutil

        man = self.manifest()
        if man["current"] == 0:
            raise FileNotFoundError(f"no snapshot to clone in {self.path}")
        if os.path.exists(os.path.join(dest_path, "MANIFEST.json")):
            raise FileExistsError(f"clone target {dest_path} already exists")
        os.makedirs(dest_path, exist_ok=True)
        for sub in ("data", "deletes"):
            src_root = os.path.join(self.path, sub)
            if not os.path.isdir(src_root):
                continue
            for dirpath, _dirs, files in os.walk(src_root):
                rel = os.path.relpath(dirpath, self.path)
                tgt = os.path.join(dest_path, rel)
                os.makedirs(tgt, exist_ok=True)
                for f in files:
                    src_f = os.path.join(dirpath, f)
                    dst_f = os.path.join(tgt, f)
                    try:
                        os.link(src_f, dst_f)
                    except OSError:
                        shutil.copy2(src_f, dst_f)  # cross-device fallback
        man.pop("txn", None)  # a clone is a NEW table for loaders
        clone = VersionedMergeTable(
            self.spark,
            dest_path,
            self.key_col,
            n_buckets=self.n_buckets,
            constraints=self.constraints,
        )
        write_json_atomic(clone._manifest_path(), man)
        return clone

    def history(self) -> DataFrame:
        """DESCRIBE HISTORY: one row per committed version with the
        operation kind and its audited row counts — Delta's
        ``DESCRIBE HISTORY`` / Iceberg's ``snapshots`` metadata table
        on this layout's terms. Reads only the manifest (KB), so cost
        is O(versions) driver work regardless of table size; versions
        committed by a pre-ops writer surface as ``UNKNOWN`` rather
        than failing the read."""
        man = self.manifest()
        ops = man.get("ops", {})
        rows = []
        for v in sorted(int(x) for x in man["snapshots"]):
            o = ops.get(str(v), {})
            rows.append(
                (
                    v,
                    str(o.get("operation", "UNKNOWN")),
                    int(o.get("inserted", 0)),
                    int(o.get("updated", 0)),
                    int(o.get("deleted", 0)),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version long, operation string, inserted long, "
            "updated long, deleted long",
        )

    # -- named refs: tags + branches ----------------------------------------

    def tags(self) -> dict[str, int]:
        """Every named tag → the version it pins (Iceberg's ``refs``
        metadata table; manifest-only, O(tags) driver work)."""
        return {
            n: int(v) for n, v in self.manifest().get("tags", {}).items()
        }

    def resolve_tag(self, name: str, man: dict | None = None) -> int:
        man = self.manifest() if man is None else man
        refs = man.get("tags", {})
        if name not in refs:
            raise KeyError(f"no tag {name!r} on {self.path}")
        return int(refs[name])

    def _commit_metadata(self, man: dict, operation: str) -> int:
        """Commit a metadata-only change as a table version through
        the SAME claim/stage/swap protocol data writes use — Delta's
        model, where every action (including ref changes) is a
        numbered commit in the log, so tag operations serialize with
        concurrent merges instead of racing their manifest swaps.
        The new version's snapshot/spec/DV state is the previous
        version's, carried forward verbatim: no data dir is written,
        time travel to the new version reads the same files, and
        ``read_changes`` across it reports zero net change (the
        ``rebucket`` precedent). Caller mutates ``man`` (tags map)
        BEFORE calling; validation must happen before that so a
        rejected op leaves no claim behind."""
        cur = man["current"]
        if cur == 0:
            raise FileNotFoundError(f"no snapshot in {self.path}")
        new_version = cur + 1
        nonce = self._claim(new_version)
        man["snapshots"][str(new_version)] = dict(
            man["snapshots"][str(cur)]
        )
        man.setdefault("spec", {})[str(new_version)] = self._spec(man, cur)
        prev_dvs = man.get("deletes", {}).get(str(cur), {})
        man.setdefault("deletes", {})[str(new_version)] = {
            b: list(v) for b, v in prev_dvs.items()
        }
        man.setdefault("ops", {})[str(new_version)] = {
            "operation": operation,
            "inserted": 0,
            "updated": 0,
            "deleted": 0,
        }
        self._commit(man, new_version, nonce)
        return new_version

    def restore(self, version: int) -> int:
        """``RESTORE TABLE ... TO VERSION AS OF`` — make snapshot
        ``version`` current again as a NEW numbered commit (Delta's
        model: a rollback never rewrites history; it appends).

        Zero-copy: the new version's snapshot carries the TARGET's
        bucket pointers, DV state, and partition spec verbatim — no
        data file is copied or rewritten, and because kept snapshots
        pin the files they reference, ``expire_snapshots`` after a
        restore cannot reclaim the restored data out from under it.
        Everything downstream composes for free: time travel to the
        in-between versions keeps working, ``history()`` shows the
        RESTORE entry, and ``read_changes`` across the restore commit
        emits exactly the row diff the rollback un-does (the CDC
        consumers — join-MV, ANN index, downstream folds — absorb a
        restore like any other commit). Goes through the same
        claim/swap protocol as every write, so a restore serializes
        with concurrent merges. Returns the restore commit's version.
        """
        man = self.manifest()
        target = int(version)
        if str(target) not in man["snapshots"]:
            raise FileNotFoundError(
                f"cannot restore to v{target}: no such snapshot in {self.path}"
            )
        cur = man["current"]
        if target == cur:
            raise ValueError(
                f"v{target} is already the current version of {self.path}"
            )
        new_version = cur + 1
        nonce = self._claim(new_version)
        man["snapshots"][str(new_version)] = dict(man["snapshots"][str(target)])
        man.setdefault("spec", {})[str(new_version)] = self._spec(man, target)
        tgt_dvs = man.get("deletes", {}).get(str(target), {})
        man.setdefault("deletes", {})[str(new_version)] = {
            b: list(v) for b, v in tgt_dvs.items()
        }
        man.setdefault("ops", {})[str(new_version)] = {
            "operation": f"RESTORE v{target}",
            "inserted": 0,
            "updated": 0,
            "deleted": 0,
        }
        self._commit(man, new_version, nonce)
        return new_version

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Pin ``version`` (default: current) under an immutable name —
        ``ALTER TABLE CREATE TAG``. Tagged versions survive
        ``expire_snapshots`` regardless of the retention window, so a
        tag is the durable audit handle ("the corpus we trained v3
        on") the raw version numbers are not. Returns the metadata
        commit's version."""
        man = self.manifest()
        target = man["current"] if version is None else int(version)
        if str(target) not in man["snapshots"]:
            raise FileNotFoundError(
                f"cannot tag v{target}: no such snapshot in {self.path}"
            )
        if name in man.get("tags", {}):
            raise FileExistsError(
                f"tag {name!r} already exists on {self.path} "
                f"(-> v{man['tags'][name]}); delete it first"
            )
        man.setdefault("tags", {})[name] = target
        return self._commit_metadata(man, f"CREATE TAG {name}")

    def delete_tag(self, name: str) -> int:
        """Drop a tag (the pinned version becomes expirable again).
        Returns the metadata commit's version."""
        man = self.manifest()
        if name not in man.get("tags", {}):
            raise KeyError(f"no tag {name!r} on {self.path}")
        del man["tags"][name]
        return self._commit_metadata(man, f"DROP TAG {name}")

    def _branch_dir(self, name: str) -> str:
        return os.path.join(self.path, "_branches", name)

    def create_branch(self, name: str) -> "VersionedMergeTable":
        """A named mutable fork of the table at its current state —
        branches on this layout are zero-copy shallow clones kept
        under ``_branches/`` (hardlinked data, independent manifest),
        so branch commits diverge from the main line and neither
        side's ``expire_snapshots`` can break the other's reads.
        WAP (write-audit-publish) is branch → validate → merge the
        branch's read() back via ``merge``."""
        if "/" in name or name.startswith("."):
            raise ValueError(f"bad branch name {name!r}")
        return self.clone_to(self._branch_dir(name))

    def branch(self, name: str) -> "VersionedMergeTable":
        """Handle on an existing branch created by
        :meth:`create_branch`."""
        d = self._branch_dir(name)
        if not os.path.exists(os.path.join(d, "MANIFEST.json")):
            raise KeyError(f"no branch {name!r} on {self.path}")
        return VersionedMergeTable(
            self.spark,
            d,
            self.key_col,
            n_buckets=self.n_buckets,
            constraints=self.constraints,
        )

    def branches(self) -> list[str]:
        root = os.path.join(self.path, "_branches")
        if not os.path.isdir(root):
            return []
        return sorted(
            n
            for n in os.listdir(root)
            if os.path.exists(os.path.join(root, n, "MANIFEST.json"))
        )

    # -- partition-spec evolution -------------------------------------------

    def rebucket(self, n_buckets: int) -> dict:
        """Change the table's bucket count as ONE committed version —
        Iceberg's partition-spec evolution on this layout's terms.

        A table bucketed for yesterday's volume skews today's: too few
        buckets and each merge rewrites giant partitions, too many and
        small files proliferate. ``rebucket`` rewrites the CURRENT
        snapshot under the new spec into an immutable ``data/v{N}``
        dir and commits it with the same claim/stage/swap protocol as
        ``merge`` — readers of older versions keep their own spec's
        files (time travel intact; each snapshot records the spec it
        was written under), later merges route sources by the NEW spec
        (read from the manifest, never the constructor), and deletion
        vectors are materialized by the rewrite exactly like a
        bucket-rewriting merge.

        Cost is honestly table-sized (one read + one write — this IS
        the rewrite), and the CDF step across the boundary compares
        the full before/after images but nets to ZERO changes (carried
        rows are value-identical; pytest-asserted) — a rebucket is
        metadata motion, not data change.
        """
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        man = self.manifest()
        cur = man["current"]
        if cur == 0:
            raise FileNotFoundError(f"no snapshot to rebucket in {self.path}")
        old_spec = self._spec(man, cur)
        if n_buckets == old_spec:
            return {"version": cur, "n_buckets": n_buckets, "rewritten": False}
        full = self._read_snapshot(
            dict(man["snapshots"][str(cur)]), dvs=self._snapshot_dvs(man, cur)
        )
        rows = (
            full.drop("_bucket")
            .withColumn("_bucket", self._bucket(n_buckets))
            .transform(materialize, "overwrite_barrier")
        )
        new_version = cur + 1
        nonce = self._claim(new_version)
        (
            rows.repartition("_bucket")
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(self._stage_dir(self._data_dir(new_version), nonce))
        )
        present = sorted(
            r._bucket for r in rows.select("_bucket").distinct().collect()
        )
        man["snapshots"][str(new_version)] = {
            str(b): new_version for b in present
        }
        man.setdefault("deletes", {})[str(new_version)] = {}
        man.setdefault("spec", {})[str(new_version)] = int(n_buckets)
        # spec evolution nets zero row changes (pytest-asserted)
        man.setdefault("ops", {})[str(new_version)] = {
            "operation": "REBUCKET",
            "inserted": 0,
            "updated": 0,
            "deleted": 0,
        }
        self._publish(new_version, nonce, self._data_dir(new_version))
        self._commit(man, new_version, nonce)
        return {
            "version": new_version,
            "n_buckets": int(n_buckets),
            "rewritten": True,
            "buckets": present,
        }

    def optimize_zorder(
        self,
        col_a: str,
        col_b: str,
        bits: int = 6,
        files_per_bucket: int = 4,
    ) -> dict:
        """Delta's OPTIMIZE ZORDER as ONE committed version: rewrite
        the current snapshot with every bucket's rows clustered along
        the (col_a, col_b) Morton curve, split into
        ``files_per_bucket`` curve-block files per bucket dir.

        Layout motion only — the row set is unchanged (CDF across the
        boundary nets zero; pytest) and the bucket column is untouched
        so merge routing and time travel are unaffected. What changes
        is data skipping: before, a bucket's single unsorted file has
        min/max stats spanning the whole domain; after, each file is a
        contiguous curve block with tight stats on BOTH interleaved
        dimensions, so a box predicate prunes most files at the scan
        (and parquet row-group stats tighten identically inside each
        file). At 100 TB this is the difference between a 2-column
        point query reading GB and reading the table.

        Same claim/stage/swap commit as ``rebucket``; deletion vectors
        are materialized by the rewrite (the new snapshot carries no
        DVs). Cost is honestly table-sized — this IS the rewrite — and
        it runs as maintenance, never on the ingest path.
        """
        from .zorder import zorder_code

        man = self.manifest()
        cur = man["current"]
        if cur == 0:
            raise FileNotFoundError(f"no snapshot to optimize in {self.path}")
        spec = self._spec(man, cur)
        full = self._read_snapshot(
            dict(man["snapshots"][str(cur)]), dvs=self._snapshot_dvs(man, cur)
        )
        if full is None:
            return {"version": cur, "rewritten": False}
        shift = max(0, 2 * bits - max(1, (files_per_bucket - 1).bit_length()))
        rows = (
            zorder_code(full, col_a, col_b, bits)
            .withColumn("_zblock", F.shiftright("_zcode", shift).cast("int"))
            .repartition(
                max(spec * files_per_bucket, 1), "_bucket", "_zblock"
            )
            .sortWithinPartitions("_bucket", "_zblock", "_zcode")
            .drop("_zcode", "_zblock")
            .transform(materialize, "overwrite_barrier")
        )
        new_version = cur + 1
        nonce = self._claim(new_version)
        (
            rows.write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(self._stage_dir(self._data_dir(new_version), nonce))
        )
        present = sorted(
            r._bucket for r in rows.select("_bucket").distinct().collect()
        )
        man["snapshots"][str(new_version)] = {
            str(b): new_version for b in present
        }
        man.setdefault("deletes", {})[str(new_version)] = {}
        man.setdefault("spec", {})[str(new_version)] = spec
        man.setdefault("ops", {})[str(new_version)] = {
            "operation": "OPTIMIZE",
            "inserted": 0,
            "updated": 0,
            "deleted": 0,
        }
        self._publish(new_version, nonce, self._data_dir(new_version))
        self._commit(man, new_version, nonce)
        return {
            "version": new_version,
            "rewritten": True,
            "buckets": present,
        }

    # -- change data feed ---------------------------------------------------

    def read_changes(
        self,
        from_version: int,
        to_version: int,
        include_preimages: bool = False,
    ) -> DataFrame:
        """The change-data-feed between two snapshots: one row per
        inserted / updated / deleted key per commit, tagged
        ``_change_type`` and ``_commit_version`` — Delta CDF / Iceberg
        incremental-read semantics derived purely from the snapshots
        (no change log is stored).

        Walks consecutive version pairs and diffs ONLY the buckets
        whose writer version or DV list changed between them — i.e.
        exactly the buckets that commit touched, so the cost of
        reading N commits' changes is the size of those commits, not
        N table scans. Within a changed bucket, carried rows appear
        identically on both sides and are dropped by an all-columns
        null-safe comparison; updates emit the AFTER image, deletes
        the BEFORE image.

        ``include_preimages=True`` switches updates to the Delta CDF
        retraction encoding — TWO rows per updated key,
        ``update_preimage`` (before) and ``update_postimage`` (after)
        — which is what a downstream INCREMENTAL AGGREGATE needs: the
        preimage retracts the old contribution (-1 weight), the
        postimage adds the new one (+1), so sums/counts fold with
        signed deltas and never re-scan the table
        (``incremental.update_aggregate_signed``).

        Versions are consecutive by construction (the claim protocol
        admits no gaps), so every commit in (from, to] is walked.
        """
        man = self.manifest()
        for v in (from_version, to_version):
            if str(v) not in man["snapshots"]:
                raise FileNotFoundError(f"no snapshot v{v} in {self.path}")
        if from_version >= to_version:
            raise ValueError("read_changes requires from_version < to_version")
        key = self.key_col
        out = None
        for v in range(from_version + 1, to_version + 1):
            snap_a = man["snapshots"][str(v - 1)]
            snap_b = man["snapshots"][str(v)]
            dv_a = self._snapshot_dvs(man, v - 1)
            dv_b = self._snapshot_dvs(man, v)
            changed = sorted(
                int(b)
                for b in set(snap_a) | set(snap_b)
                if snap_a.get(b) != snap_b.get(b) or dv_a.get(b) != dv_b.get(b)
            )
            if not changed:
                continue
            before = self._read_snapshot(snap_a, buckets=changed, dvs=dv_a)
            after = self._read_snapshot(snap_b, buckets=changed, dvs=dv_b)
            ref = after if after is not None else before
            cols = [c for c in ref.columns if c != "_bucket"]

            def _aligned(df, alias):
                if df is None:
                    df = ref.filter(F.lit(False))
                return df.select(
                    *[
                        (F.col(c) if c in df.columns else F.lit(None)).alias(c)
                        for c in cols
                    ]
                ).alias(alias)

            t = _aligned(before, "t")
            a = _aligned(after, "a")
            j = t.join(a, F.col(f"t.{key}") == F.col(f"a.{key}"), "full_outer")
            t_key, a_key = F.col(f"t.{key}"), F.col(f"a.{key}")
            same = F.lit(True)
            for c in cols:
                same = same & F.col(f"t.{c}").eqNullSafe(F.col(f"a.{c}"))
            deleted = a_key.isNull()
            changed = j.filter(~(t_key.isNotNull() & a_key.isNotNull() & same))
            if include_preimages:
                # retraction encoding: AFTER images for inserts and
                # update postimages, BEFORE images for deletes and
                # update preimages — same changed-row set, updates
                # emit two rows.
                after_rows = changed.filter(a_key.isNotNull()).select(
                    *[F.col(f"a.{c}").alias(c) for c in cols],
                    F.when(t_key.isNull(), F.lit("insert"))
                    .otherwise(F.lit("update_postimage"))
                    .alias("_change_type"),
                    F.lit(v).cast("long").alias("_commit_version"),
                )
                before_rows = changed.filter(t_key.isNotNull()).select(
                    *[F.col(f"t.{c}").alias(c) for c in cols],
                    F.when(deleted, F.lit("delete"))
                    .otherwise(F.lit("update_preimage"))
                    .alias("_change_type"),
                    F.lit(v).cast("long").alias("_commit_version"),
                )
                chg = after_rows.unionByName(before_rows)
            else:
                chg = changed.select(
                    *[
                        # delete rows emit the BEFORE image, others AFTER
                        F.when(deleted, F.col(f"t.{c}"))
                        .otherwise(F.col(f"a.{c}"))
                        .alias(c)
                        for c in cols
                    ],
                    F.when(t_key.isNull(), F.lit("insert"))
                    .when(deleted, F.lit("delete"))
                    .otherwise(F.lit("update"))
                    .alias("_change_type"),
                    F.lit(v).cast("long").alias("_commit_version"),
                )
            out = chg if out is None else out.unionByName(chg)
        if out is None:
            # empty change range: derive the schema from ANY snapshot
            # holding buckets — read(version=to_version) would raise on
            # a fully-emptied table, where an empty frame is the answer.
            ref = None
            for v in sorted(man["snapshots"], key=int, reverse=True):
                df = self._read_snapshot(man["snapshots"][v])
                if df is not None:
                    ref = df.drop("_bucket").filter(F.lit(False))
                    break
            if ref is None:
                raise FileNotFoundError(
                    f"no snapshot of {self.path} holds any buckets; "
                    "cannot infer a change-feed schema"
                )
            return ref.select(
                "*",
                F.lit("").alias("_change_type"),
                F.lit(0).cast("long").alias("_commit_version"),
            )
        return out

    # -- retention ----------------------------------------------------------

    def expire_snapshots(self, keep_last: int) -> dict:
        """Drop all but the newest ``keep_last`` snapshots and delete
        every version directory (data and DV) no kept snapshot
        references — the Iceberg ``expireSnapshots`` retention sweep.

        Commit order is swap-then-delete: the manifest stops
        advertising the expired versions BEFORE any file dies, so a
        reader that re-resolves sees only kept snapshots; a reader
        pinned to an expired manifest is the documented retention
        trade every lakehouse makes (that is why retention windows
        exceed query lifetimes). Time travel to kept versions still
        works because their bucket→writer maps reference only
        surviving directories (snapshots are cumulative maps, so a
        kept snapshot may reference an OLD writer version — that
        directory survives)."""
        import shutil

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        man = self.manifest()
        vs = sorted(int(v) for v in man["snapshots"])
        # tagged versions are retention-exempt: a tag is a promise
        # that this exact snapshot stays readable (Iceberg semantics)
        keep = (
            set(vs[-keep_last:])
            | {man["current"]}
            | {int(v) for v in man.get("tags", {}).values()}
        )
        drop = [v for v in vs if v not in keep]
        if not drop:
            return {"dropped": [], "removed_dirs": 0}
        man["snapshots"] = {
            v: s for v, s in man["snapshots"].items() if int(v) in keep
        }
        man["deletes"] = {
            v: d
            for v, d in man.get("deletes", {}).items()
            if int(v) in keep
        }
        live_data = {m for s in man["snapshots"].values() for m in s.values()}
        live_dv = {
            m
            for d in man.get("deletes", {}).values()
            for vers in d.values()
            for m in vers
        }
        self._swap_manifest(man)  # stop advertising BEFORE deleting
        removed = 0
        for v in drop:
            for d, live in ((self._data_dir(v), live_data), (self._dv_dir(v), live_dv)):
                if v not in live and os.path.isdir(d):
                    shutil.rmtree(d)
                    removed += 1
        # reclaim abandoned staging dirs of writers that died mid-write:
        # a stage for version ≤ current can never publish (the owner's
        # publish/commit re-verify would raise), so it is garbage.
        cur = man["current"]
        for parent in (os.path.join(self.path, "data"), os.path.join(self.path, "deletes")):
            if not os.path.isdir(parent):
                continue
            for entry in os.listdir(parent):
                if ".stage-" in entry:
                    try:
                        v = int(entry.split(".stage-")[0].lstrip("v"))
                    except ValueError:
                        continue
                    if v <= cur:
                        shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)
                        removed += 1
        return {"dropped": drop, "removed_dirs": removed}

    def merge_with_retry(
        self,
        source: DataFrame,
        delete_cond: F.Column | None = None,
        max_wait_s: float = 600.0,
        poll_s: float = 0.05,
    ) -> dict:
        """The multi-writer MERGE queue: optimistic merge + claim-retry.

        ``merge`` is single-winner by design — of N concurrent writers
        that read the same ``current``, one claims the next version and
        the rest raise having written nothing. This wrapper turns that
        into a queue: on a lost claim it WAITS for the winner's commit
        (manifest ``current`` advancing past the contended version),
        then re-runs the whole merge against the NEW snapshot — so each
        retry re-reads the winner's rows and the final table equals
        applying every writer's merge in commit (version) order, i.e.
        a serializable history. Progress is the retry condition, not
        time: the loop re-attempts only after observing a new commit,
        so N contending writers serialize in exactly N commits.

        A claim whose writer died before committing never advances the
        manifest; after ``max_wait_s`` without progress the stale claim
        is broken (the claim file is removed) and the merge retried.
        Breaking the claim of a writer that is merely SLOW is safe: a
        writer only stages into a claimant-unique
        ``data/v{N}.stage-{nonce}`` directory and re-verifies that the
        claim file still holds ITS nonce both before the atomic rename
        that publishes the data and before the manifest swap — a
        broken-claim writer removes its staging output and raises
        (landing back in this retry loop) without ever touching the
        retaker's ``data/v{N}``. An orphan ``data/v{N}`` left by a
        claimant that died between rename and swap is cleared by the
        next claim owner inside ``_publish`` (the manifest never
        references uncommitted versions). ``max_wait_s`` therefore
        only tunes how soon a DEAD claimant's slot is reclaimed; its
        default sits far above plausible merge durations so live slow
        writers normally finish first. Returns the winning merge's
        audit dict plus the number of retries under ``"retries"``.
        """
        import time

        retries = 0
        while True:
            base = self.manifest()["current"]
            try:
                out = self.merge(source, delete_cond)
                out["retries"] = retries
                return out
            except RuntimeError:
                retries += 1
            # lost the claim on version base+1: wait for the winner's
            # commit to land, then retry against the new snapshot.
            waited = 0.0
            while self.manifest()["current"] <= base:
                time.sleep(poll_s)
                waited += poll_s
                if waited >= max_wait_s:
                    # no commit after max_wait_s: the claimant is dead.
                    # Break its claim and retake; os.remove of a claim
                    # someone ALSO just broke raises FileNotFoundError
                    # → that racer already retook it, keep waiting.
                    stale = os.path.join(self.path, f"v{base + 1}.claim")
                    try:
                        os.remove(stale)
                    except FileNotFoundError:
                        pass
                    break


# -- registered demo query: the change data feed as evidence ----------------

_CDF_CUT = "1997-01-01"
_CDF_END = "1998-01-01"


def _cdf_orders_table(
    spark: SparkSession, sf_dir: str, name: str = "cdf_orders"
) -> VersionedMergeTable:
    """A three-version customer-state table built deterministically
    from orders: v1 = each customer's latest pre-1997 order, v2 = a
    MERGE of their latest 1997 order (matched 'F' rows delete — and a
    delete-marked source never inserts), v3 = a deletion-vector
    ``delete_where`` on a key residue. Built once per sf_dir (marker
    file); every step is engine-deterministic, so the CDF it yields is
    oracle-checkable."""
    import os as _os

    from pyspark.sql import Window

    from ..operators.ann_index import _index_root, _tag

    path = _os.path.join(_index_root(), _tag(sf_dir), name)
    tbl = VersionedMergeTable(spark, path, "o_custkey", n_buckets=16)
    done = _os.path.join(path, "_CDF_DONE")
    if _os.path.exists(done):
        return tbl

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )

    def latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "o_custkey",
                F.col("o_orderkey").alias("last_orderkey"),
                F.col("o_orderstatus").alias("last_status"),
            )
        )

    cut = F.lit(_CDF_CUT).cast("timestamp")
    end = F.lit(_CDF_END).cast("timestamp")
    v1 = latest(orders.filter(F.col("o_orderdate") < cut))
    src = latest(
        orders.filter((F.col("o_orderdate") >= cut) & (F.col("o_orderdate") < end))
    )
    tbl.write_full(v1)
    tbl.merge(src, delete_cond=F.col("s.last_status") == "F")
    tbl.delete_where(F.col("last_orderkey") % 7 == 3)
    open(done, "w").close()
    return tbl


def orders_cdf_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full change log (1 → 3] of the deterministic customer-state
    table: MERGE-driven inserts/updates/deletes at v2 plus
    deletion-vector deletes at v3, each diffed from ONLY the buckets
    its commit touched. Hash-checked against a DuckDB oracle that
    replays the same three states from the raw orders table."""
    tbl = _cdf_orders_table(spark, sf_dir)
    return tbl.read_changes(1, 3).select(
        "o_custkey",
        "last_orderkey",
        "last_status",
        "_change_type",
        "_commit_version",
    )


def orders_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: ``read(version=2)`` of the deterministic customer-
    state table — the MID-history snapshot (after the MERGE commit,
    BEFORE the deletion-vector delete). The tags/branches/retention
    machinery is pytest-covered; this key hash-pins the read path
    itself: a pinned version must return exactly the state the commit
    log says it held, byte-for-byte, regardless of every commit that
    came after. The oracle replays v2 from raw orders with the same
    CTE chain the change-feed oracle uses — so the Spark snapshot
    resolution (manifest version → bucket files → DV mask) is checked
    against first principles, not against the engine's own history.
    Cost: a plain pruned snapshot read; version resolution is one
    manifest lookup."""
    tbl = _cdf_orders_table(spark, sf_dir)
    return tbl.read(version=2).select(
        "o_custkey", "last_orderkey", "last_status"
    )


def orders_cdf_downstream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC consumer chain end-to-end, oracle-checked: the
    deterministic table's committed changes flow
    CDF (retraction encoding) → ``TopicLog`` → signed incremental
    fold, and the key returns the FOLDED DOWNSTREAM STATE — one row
    per ``last_status`` with the customer count and orderkey sum the
    retractions maintain. Because updates retract their preimage and
    deletion-vector deletes retract the deleted row, the state equals
    a plain GROUP BY over the table's FINAL snapshot, which is what
    the DuckDB oracle computes by replaying the three versions from
    raw orders. Cycles are cursor-gated (``publish_cdf``) and
    offset-committed (``fold_cdf_from_topic``, whose commit-version
    watermark lives in the state store's manifest), so re-running the
    key publishes and folds nothing — the same state returns every
    time.
    """
    import os as _os

    from ..operators.ann_index import _index_root, _tag
    from ..streaming.maintenance import fold_cdf_from_topic, publish_cdf
    from .incremental import VersionedState
    from .topic_log import TopicLog

    tbl = _cdf_orders_table(spark, sf_dir)
    # "_v2": the state layout is the VersionedState store; a root left
    # by the earlier flat layout would hold an "all done" cursor and
    # offsets next to state the store cannot read.
    root = _os.path.join(_index_root(), _tag(sf_dir), "cdf_downstream_v2")
    topic = TopicLog(spark, _os.path.join(root, "topic"), n_partitions=4)
    cursor = _os.path.join(root, "cursor.json")
    state = _os.path.join(root, "state")
    schema = (
        "o_custkey BIGINT, last_orderkey BIGINT, last_status STRING, "
        "_change_type STRING, _commit_version BIGINT"
    )
    # cycle 1 bootstraps (v1 full load as inserts), cycle 2 publishes
    # the (1 → current] changes; further cycles are cursor/offset
    # no-ops, so the key is idempotent across runs.
    for _ in range(2):
        publish_cdf(tbl, topic, cursor, key_col="o_custkey")
        fold_cdf_from_topic(
            spark,
            topic,
            "downstream",
            state,
            schema,
            keys=["last_status"],
            value_col="last_orderkey",
        )
    st = VersionedState(spark, state).read()
    return st.select(
        "last_status",
        F.col("n_events").cast("long").alias("n_customers"),
        F.col("sum_value").cast("long").alias("sum_last_orderkey"),
    )


ORACLES: dict[str, str] = {
    "orders_cdf_changes": f"""
        WITH v1 AS MATERIALIZED (
            SELECT o_custkey, o_orderkey AS last_orderkey,
                   o_orderstatus AS last_status
            FROM (
                SELECT o_custkey, o_orderkey, o_orderstatus,
                       row_number() OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_orderdate DESC, o_orderkey DESC
                       ) AS rn
                FROM orders WHERE o_orderdate < TIMESTAMP '{_CDF_CUT}'
            ) WHERE rn = 1
        ),
        src AS MATERIALIZED (
            SELECT o_custkey, o_orderkey AS last_orderkey,
                   o_orderstatus AS last_status
            FROM (
                SELECT o_custkey, o_orderkey, o_orderstatus,
                       row_number() OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_orderdate DESC, o_orderkey DESC
                       ) AS rn
                FROM orders
                WHERE o_orderdate >= TIMESTAMP '{_CDF_CUT}'
                  AND o_orderdate < TIMESTAMP '{_CDF_END}'
            ) WHERE rn = 1
        ),
        v2 AS MATERIALIZED (
            SELECT CASE WHEN s.o_custkey IS NOT NULL
                        THEN s.o_custkey ELSE t.o_custkey END AS o_custkey,
                   CASE WHEN s.o_custkey IS NOT NULL
                        THEN s.last_orderkey ELSE t.last_orderkey END AS last_orderkey,
                   CASE WHEN s.o_custkey IS NOT NULL
                        THEN s.last_status ELSE t.last_status END AS last_status
            FROM v1 t FULL OUTER JOIN src s ON t.o_custkey = s.o_custkey
            WHERE NOT (s.o_custkey IS NOT NULL AND s.last_status = 'F')
        ),
        c2 AS (
            SELECT CASE WHEN a.o_custkey IS NULL
                        THEN t.o_custkey ELSE a.o_custkey END AS o_custkey,
                   CASE WHEN a.o_custkey IS NULL
                        THEN t.last_orderkey ELSE a.last_orderkey END AS last_orderkey,
                   CASE WHEN a.o_custkey IS NULL
                        THEN t.last_status ELSE a.last_status END AS last_status,
                   CASE WHEN t.o_custkey IS NULL THEN 'insert'
                        WHEN a.o_custkey IS NULL THEN 'delete'
                        ELSE 'update' END AS _change_type,
                   CAST(2 AS BIGINT) AS _commit_version
            FROM v1 t FULL OUTER JOIN v2 a ON t.o_custkey = a.o_custkey
            WHERE NOT (t.o_custkey IS NOT NULL AND a.o_custkey IS NOT NULL
                       AND t.last_orderkey IS NOT DISTINCT FROM a.last_orderkey
                       AND t.last_status IS NOT DISTINCT FROM a.last_status)
        ),
        c3 AS (
            SELECT o_custkey, last_orderkey, last_status,
                   'delete' AS _change_type, CAST(3 AS BIGINT) AS _commit_version
            FROM v2 WHERE last_orderkey % 7 = 3
        )
        SELECT * FROM c2 UNION ALL SELECT * FROM c3
    """,
}

# the downstream state is the final snapshot's GROUP BY — v3 = v2
# minus the deletion-vector residue — replayed from raw orders with
# the same v1/src/v2 CTE chain as the change-log oracle.
def orders_cdf_join_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN materialized view from the
    change feed — the IVM seam every lakehouse MV engine
    (Databricks MVs / Materialize) is built on, composed here from
    parts this repo already oracle-checks: the view is the
    customer-state table ENRICHED with the customer dim
    (state ⋈ customer → mktsegment), bootstrapped once at v1 and then
    maintained purely from ``read_changes`` batches — never
    recomputed.

    Apply protocol per change batch (1 → current]:

    1. NET the batch per key (last ``_commit_version`` wins — a key
       updated at v2 and deleted at v3 nets to a delete);
    2. upserts re-enrich via a dim join of ONLY the changed keys
       (broadcast change batch against the dim — at 100 TB the dim
       lookup costs |changes|, not |view|);
    3. one MERGE applies the upserts, one delete-marked MERGE the
       retractions — each costs only the buckets it touches (the
       merge-table contract), so view maintenance is
       change-batch-sized end to end.

    The key returns the maintained MV table's rows; the DuckDB oracle
    recomputes the view FROM SCRATCH at the final state (the v1→v3
    CTE replay joined to customer) — the IVM invariant
    (incremental ≡ recompute) is exactly what the hash compare pins,
    and a pytest asserts the same against the in-engine recompute.
    Idempotent across runs: the build is marker-gated and the two
    merges carry ``txn=`` watermarks, so a re-entrant run folds
    nothing twice.
    """
    import os as _os

    from pyspark.sql import Window

    from ..operators.ann_index import _index_root, _tag

    base = _cdf_orders_table(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    root = _os.path.join(_index_root(), _tag(sf_dir), "cdf_join_mv")
    mv = VersionedMergeTable(
        spark, _os.path.join(root, "mv"), "o_custkey", n_buckets=16
    )
    done = _os.path.join(root, "_MV_DONE")
    if not _os.path.exists(done):
        _os.makedirs(root, exist_ok=True)
        # bootstrap: the enriched view at v1 (the one full compute)
        mv.write_full(base.read(version=1).join(cust, "o_custkey"))
        # incremental apply of everything since
        cur = base.versions()[-1]
        ch = base.read_changes(1, cur)
        w = Window.partitionBy("o_custkey").orderBy(
            F.col("_commit_version").desc()
        )
        net = (
            ch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .transform(materialize, "bounded")  # change-batch-sized, read twice below
        )
        ups = (
            net.filter(F.col("_change_type") != "delete")
            .select("o_custkey", "last_orderkey", "last_status")
        )
        dels = (
            net.filter(F.col("_change_type") == "delete")
            .select("o_custkey", "last_orderkey", "last_status")
        )
        # dim lookup ONLY for changed keys: broadcast the batch side
        mv.merge(
            cust.join(F.broadcast(ups), "o_custkey"),
            txn=("cdf_join_mv", 1),
        )
        # a delete-marked source deletes matched keys and never
        # inserts (the same contract _cdf_orders_table's v2 uses)
        mv.merge(
            cust.join(F.broadcast(dels), "o_custkey"),
            delete_cond=F.lit(True),
            txn=("cdf_join_mv", 2),
        )
        open(done, "w").close()
    return mv.read().select(
        "o_custkey", "last_orderkey", "last_status", "c_mktsegment"
    )


def _cdf_restore_table(spark: SparkSession, sf_dir: str) -> VersionedMergeTable:
    """The deterministic three-version customer-state table PLUS a
    RESTORE back to v1 as commit v4 — the rollback every CDC consumer
    downstream must absorb like any other commit. Manifest-gated:
    current == 3 means the restore hasn't landed yet (exactly one
    restore ever commits)."""
    tbl = _cdf_orders_table(spark, sf_dir, name="cdf_orders_restore")
    if tbl.manifest()["current"] == 3:
        tbl.restore(1)
    return tbl


def orders_restore_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table RESTORE driven through the CDC consumer chain into a
    JOIN materialized view — the drill that certifies a rollback is
    just another commit to every downstream (VERDICT r07 #1): the
    deterministic table commits v2 MERGE + v3 delete and then
    RESTOREs to v1 (v4); ``publish_cdf`` ships every version's diff
    (the restore batch is the exact row set the rollback un-does) and
    ``apply_cdf_to_join_mv`` nets each drain per key, re-enriches
    only changed keys via a broadcast customer-dim join, and applies
    with txn-watermarked merges. The key returns the maintained MV —
    which, because the restore batch reverts updates, re-inserts
    deletions, and retracts v2's inserts, must equal the V1 SNAPSHOT
    enriched with the dim. The DuckDB oracle recomputes exactly that
    from raw orders (the v1 CTE ⋈ customer), so the hash compare pins
    restore-through-consumer end to end, not engine-vs-itself.
    Idempotent across runs: cursor + consumer offsets + txn
    watermarks make re-cycles no-ops (same rows, same version count).

    Scale shape: every cycle is change-batch-sized (netting windows
    over drained rows; dim lookup ∝ |changes|; merges touch only
    their buckets) — a 100 TB restore folds through the same path at
    the cost of its diff, never a view rebuild.

    Reference parity: StreamTableJoinExample.java's changelog-backed
    table contract — a consumer must converge to the table's current
    snapshot whatever compaction/rollback history produced it.
    """
    import os as _os

    from ..operators.ann_index import _index_root, _tag
    from ..streaming.maintenance import apply_cdf_to_join_mv, publish_cdf
    from .topic_log import TopicLog

    tbl = _cdf_restore_table(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    root = _os.path.join(_index_root(), _tag(sf_dir), "restore_join_mv")
    topic = TopicLog(spark, _os.path.join(root, "topic"), n_partitions=4)
    cursor = _os.path.join(root, "cursor.json")
    mv = VersionedMergeTable(
        spark, _os.path.join(root, "mv"), "o_custkey", n_buckets=16
    )
    schema = (
        "o_custkey BIGINT, last_orderkey BIGINT, last_status STRING, "
        "_change_type STRING, _commit_version BIGINT"
    )
    # cycle 1 bootstraps (v1 as inserts), cycle 2 drains (1 → 4] —
    # including the restore batch; further cycles are no-ops.
    for _ in range(2):
        publish_cdf(tbl, topic, cursor, key_col="o_custkey")
        apply_cdf_to_join_mv(
            spark, topic, "restore_mv", mv, dim, "o_custkey", schema
        )
    return mv.read().select(
        "o_custkey", "last_orderkey", "last_status", "c_mktsegment"
    )


def orders_table_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY over the deterministic three-version customer
    table: WRITE/MERGE/DELETE rows with audited counts. The table is
    built deterministically from orders (its own cached instance, so
    the ops ledger is always present), and every count is replayable
    from raw orders — the oracle re-derives the same history with the
    v1/src/v2 CTE chain the CDF oracle uses."""
    tbl = _cdf_orders_table(spark, sf_dir, name="cdf_orders_hist")
    return tbl.history()


ORACLES["orders_cdf_downstream"] = (
    ORACLES["orders_cdf_changes"].split(",\n        c2 AS (")[0]
    + f""",
        v3 AS (
            SELECT * FROM v2 WHERE last_orderkey % 7 != 3
        )
        SELECT last_status,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(last_orderkey) AS BIGINT) AS sum_last_orderkey
        FROM v3 GROUP BY last_status
    """
)

# the history ledger replayed from raw orders: v1 row count, the
# MERGE's matched/unmatched × delete-flag split, and the DV delete's
# key-residue count over the v2 state.
ORACLES["orders_table_history"] = (
    ORACLES["orders_cdf_changes"].split(",\n        c2 AS (")[0]
    + """,
        m AS (
            SELECT
              CAST(coalesce(sum(CASE WHEN t.o_custkey IS NOT NULL
                                      AND s.last_status <> 'F'
                                     THEN 1 END), 0) AS BIGINT) AS upd,
              CAST(coalesce(sum(CASE WHEN t.o_custkey IS NOT NULL
                                      AND s.last_status = 'F'
                                     THEN 1 END), 0) AS BIGINT) AS del,
              CAST(coalesce(sum(CASE WHEN t.o_custkey IS NULL
                                      AND s.last_status <> 'F'
                                     THEN 1 END), 0) AS BIGINT) AS ins
            FROM src s LEFT JOIN v1 t ON t.o_custkey = s.o_custkey
        )
        SELECT CAST(1 AS BIGINT) AS version, 'WRITE' AS operation,
               (SELECT CAST(count(*) AS BIGINT) FROM v1) AS inserted,
               CAST(0 AS BIGINT) AS updated, CAST(0 AS BIGINT) AS deleted
        UNION ALL
        SELECT CAST(2 AS BIGINT), 'MERGE', ins, upd, del FROM m
        UNION ALL
        SELECT CAST(3 AS BIGINT), 'DELETE', CAST(0 AS BIGINT),
               CAST(0 AS BIGINT),
               (SELECT CAST(count(*) AS BIGINT) FROM v2
                WHERE last_orderkey % 7 = 3)
    """
)

ORACLES["orders_cdf_join_mv"] = (
    ORACLES["orders_cdf_changes"].split(",\n        c2 AS (")[0]
    + """,
        v3 AS (
            SELECT * FROM v2 WHERE last_orderkey % 7 != 3
        )
        SELECT v.o_custkey, v.last_orderkey, v.last_status, c.c_mktsegment
        FROM v3 v JOIN customer c ON v.o_custkey = c.c_custkey
    """
)

# v2 replayed from raw orders — the same CTE prefix as the change-log
# oracle, selecting the snapshot instead of the diff.
ORACLES["orders_time_travel"] = (
    ORACLES["orders_cdf_changes"].split(",\n        c2 AS (")[0]
    + """
        SELECT o_custkey, last_orderkey, last_status FROM v2
    """
)

# the restore-through-consumer invariant: the maintained MV after the
# v4 RESTORE equals the V1 snapshot ⋈ dim, replayed from raw orders.
ORACLES["orders_restore_audit"] = (
    ORACLES["orders_cdf_changes"].split(",\n        src AS MATERIALIZED (")[0]
    + """
        SELECT v.o_custkey, v.last_orderkey, v.last_status, c.c_mktsegment
        FROM v1 v JOIN customer c ON v.o_custkey = c.c_custkey
    """
)

QUERIES = {
    "orders_cdf_changes": orders_cdf_changes,
    "orders_cdf_downstream": orders_cdf_downstream,
    "orders_cdf_join_mv": orders_cdf_join_mv,
    "orders_restore_audit": orders_restore_audit,
    "orders_table_history": orders_table_history,
    "orders_time_travel": orders_time_travel,
}
