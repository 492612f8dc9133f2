"""Lakehouse-lite: an ACID table format over plain parquet + a JSON
transaction log.

The reference's load layer (/root/reference/etl/load.py:103) gets
idempotency from SQLite transactions; plain parquet directories (our
``writers.py``) get it from whole-directory overwrite, which loses
history and makes concurrent readers see partial state. This module
adds the missing piece using only public, published design — the
transaction-log architecture of the Delta Lake paper (Armbrust et al.,
VLDB 2020): data lives in immutable parquet files, and a sequentially
numbered JSON log under ``_log/`` records which files are live at each
version. Everything a reader needs is derived by replaying the log, so

- **snapshot isolation**: a reader resolves its file list once; later
  commits add/remove files but never mutate them, so the scan is
  consistent no matter how long it runs;
- **time travel**: any retained version replays to an exact file list;
- **atomic commits**: a commit IS the atomic creation of the next log
  entry (``open(..., "x")`` — create-exclusive). Writers race on the
  version number, not on data files; losers rebase (append) or abort
  (overwrite/merge) — optimistic concurrency, again per the paper;
- **O(changed files) MERGE**: upserts rewrite only the data files that
  actually contain a matched key (found distributedly via
  ``input_file_name()``), not the table, not even the partition;
- **compaction as metadata**: OPTIMIZE swaps N small files for few big
  ones in one commit; concurrent readers of older versions still see
  the old files until VACUUM ages them out.

At 100 TB this is the difference between "rewrite the table" and
"commit a few KB of JSON": the log scales with change rate, data files
are immutable and cache-friendly, and the driver only ever handles
file *names* (the log), never rows. Local filesystem rename/create-
exclusive stands in for what object stores do with conditional PUTs.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_LOG_DIR = "_log"
_VERSION_DIGITS = 20  # zero-padded so lexicographic == numeric order
_CKPT_SUFFIX = ".checkpoint.json"
# Snapshot-checkpoint cadence (the Delta paper's log checkpointing):
# every N commits the committer also writes <version>.checkpoint.json
# holding the fully-replayed state at that version, and every replay
# starts from the newest checkpoint at or below its target instead of
# from version 0. Without this, each read/prune/CDC pays O(all
# commits) of driver-side JSON opens, and a long-lived streaming sink
# doing one read-modify-write per micro-batch turns quadratic over the
# stream's life.
_CHECKPOINT_INTERVAL = 10

# Sentinel distinguishing "caller did not pin a read version" from a
# pinned None (= the caller observed an EMPTY table): a read-modify-
# write caller must be able to pin either.
_UNPINNED = object()

# Commit-entry fields owned by the table itself. Caller metadata
# (``extra=``) may never shadow these — a silent overwrite of ``add`` /
# ``remove`` would corrupt the transaction log.
_RESERVED_ENTRY_KEYS = frozenset(
    {
        "operation",
        "add",
        "remove",
        "schema",
        "rows_written",
        "version",
        "files_rewritten",
        "files_carried",
        "files_before",
        "files_after",
        "zorder_by",
        "zorder_gens",
        "zorder_gens_by",
        "retained",
        "stats",
    }
)


def _stat_json(v):
    """JSON-safe, order-preserving stat value (ISO strings for temporal
    types sort the same as the underlying values)."""
    if v is None:
        return None
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _normalize_bound(column: str, value, schema: StructType | None):
    """Coerce a pruning bound to the same canonical representation the
    stats manifest stores for ``column``'s logical type, or raise when
    the bound's type cannot be compared against that column. Without a
    committed schema (pre-schema log) the raw ``_stat_json`` form is
    used, matching the previous best-effort behavior."""
    import datetime as dt

    if value is None:
        return None
    if schema is None:
        return _stat_json(value)
    field = next((f for f in schema.fields if f.name == column), None)
    if field is None:
        raise KeyError(f"Column {column!r} is not in the table schema")
    t = field.dataType.typeName()
    if t == "date":
        if isinstance(value, dt.datetime):
            return value.date().isoformat()
        if isinstance(value, dt.date):
            return value.isoformat()
        if isinstance(value, str):
            try:
                return dt.date.fromisoformat(value).isoformat()
            except ValueError:
                # datetime-shaped string on a date column: truncating
                # to the date only loosens the prune; the caller's
                # exact bound is still applied by read_where's
                # residual filter.
                return dt.datetime.fromisoformat(value).date().isoformat()
    elif t in ("timestamp", "timestamp_ntz"):
        if isinstance(value, dt.datetime):
            return value.isoformat()
        if isinstance(value, dt.date):
            return dt.datetime.combine(value, dt.time.min).isoformat()
        if isinstance(value, str):
            return dt.datetime.fromisoformat(value).isoformat()
    elif t == "string":
        if isinstance(value, str):
            return value
    elif not isinstance(value, bool) and isinstance(value, (int, float)):
        return value
    raise TypeError(
        f"Bound {value!r} ({type(value).__name__}) cannot be compared "
        f"against column {column!r} of type {field.dataType.simpleString()}"
    )


def _typed_bound(column: str, canonical, schema: StructType | None):
    """The normalized (canonical) bound converted BACK to the column's
    Python type, so an exact row-level filter can apply the very same
    bound the stats classification used — retire_below's requirement
    (a read path tolerates a loosened prune because its residual
    filter re-applies the caller's bound; a DELETE must not)."""
    import datetime as dt

    if canonical is None or schema is None:
        return canonical
    field = next((f for f in schema.fields if f.name == column), None)
    if field is None:
        return canonical
    t = field.dataType.typeName()
    if t == "date":
        return dt.date.fromisoformat(canonical)
    if t in ("timestamp", "timestamp_ntz"):
        return dt.datetime.fromisoformat(canonical)
    return canonical


class ConcurrentWriteError(RuntimeError):
    """A conflicting commit landed between this writer's read and its
    attempted commit, and the operation cannot be safely rebased."""


class DuplicateCommitError(ConcurrentWriteError):
    """An interloping commit carries the same ``conflict_on`` key value
    as this writer's entry — the unique-commit-key contract (e.g. a
    streaming batch_id) would be violated by landing both."""


class _Snapshot(NamedTuple):
    """One replayed table version: the live files in add order, the last
    commit entry (None on an empty log), the per-file stats manifest
    (file -> {column: [min, max, null_count]}), the committed schema
    parsed once, and the version it resolves to (None when empty)."""

    live: list[str]
    last: dict | None
    stats: dict[str, dict]
    schema: StructType | None
    version: int | None


class LakehouseTable:
    """A versioned parquet table at ``path`` with a ``_log/`` commit log.

    All metadata operations are driver-side by design (the log is KBs);
    all data operations are Spark jobs.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.log_dir = os.path.join(path, _LOG_DIR)

    # ---------------------------------------------------------------- log

    def _disk_bytes(self, names) -> int:
        """Total on-disk bytes of table-relative file names (missing
        files count zero) — shared by optimize's merge-mass telemetry
        and retire_below's drop accounting."""
        total = 0
        for f in names:
            try:
                total += os.path.getsize(os.path.join(self.path, f))
            except OSError:
                pass
        return total

    def _log_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:0{_VERSION_DIGITS}d}.json")

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        return sorted(
            int(f[: -len(".json")])
            for f in os.listdir(self.log_dir)
            if f.endswith(".json") and not f.endswith(_CKPT_SUFFIX)
        )

    # ---------------------------------------------------- checkpoints

    def _ckpt_path(self, version: int) -> str:
        return os.path.join(
            self.log_dir, f"{version:0{_VERSION_DIGITS}d}{_CKPT_SUFFIX}"
        )

    def _checkpoint_versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        return sorted(
            int(f[: -len(_CKPT_SUFFIX)])
            for f in os.listdir(self.log_dir)
            if f.endswith(_CKPT_SUFFIX)
        )

    def _load_checkpoint(self, version: int) -> dict | None:
        """The checkpoint payload at ``version``, or None when the file
        is unreadable (a torn legacy write) — callers fall back to a
        deeper replay, never to wrong state."""
        try:
            with open(self._ckpt_path(version)) as fh:
                ck = json.load(fh)
            if ck.get("version") != version:
                return None
            return ck
        except (OSError, json.JSONDecodeError):
            return None

    def _newest_checkpoint(self, as_of: int | None = None) -> tuple[int, dict] | None:
        """Newest loadable checkpoint at or below ``as_of`` (latest when
        None): (version, payload), walking past corrupt files."""
        for v in reversed(self._checkpoint_versions()):
            if as_of is not None and v > as_of:
                continue
            ck = self._load_checkpoint(v)
            if ck is not None:
                return v, ck
        return None

    def _write_checkpoint(self, version: int) -> None:
        """Materialize the replayed state at ``version`` as a snapshot
        checkpoint: live file list (in add order), per-file stats
        manifest, the last commit entry (schema carrier), and the
        latest value of every metadata key committed so far. Built
        incrementally from the previous checkpoint, so the cost is
        O(interval) commit reads, and written atomically via rename —
        concurrent committers of the same version produce identical
        content, so last-writer-wins is harmless. Best-effort END TO
        END: the caller just committed successfully, so NO failure here
        (an unreadable base checkpoint, a commit swept by a concurrent
        clean_log, a full disk) may propagate and make the committer
        report a landed commit as failed — replay correctness never
        depends on this file existing."""
        tmp = self._ckpt_path(version) + f".tmp-{uuid.uuid4().hex[:8]}"
        try:
            live, last, stats, _, _ = self._snapshot(version)
            key_values: dict = {}
            start = 0
            prev = self._newest_checkpoint(version - 1)
            if prev is not None:
                start, ck = prev
                key_values = dict(ck.get("key_values", {}))
            for v in self._versions():
                if v <= start or v > version:
                    continue
                entry = self._read_commit(v)
                for k, val in entry.items():
                    if k not in ("add", "remove", "stats"):
                        key_values[k] = val
            payload = {
                "version": version,
                "live": live,
                "stats": stats,
                "last": last,
                "key_values": key_values,
            }
            with open(tmp, "w") as fh:
                json.dump(payload, fh)
            os.replace(tmp, self._ckpt_path(version))
        except Exception:
            self._remove([tmp])

    def latest_version(self) -> int | None:
        vs = self._versions()
        return vs[-1] if vs else None

    def _read_commit(self, version: int) -> dict:
        with open(self._log_path(version)) as fh:
            return json.load(fh)

    def _snapshot(self, as_of: int | None = None) -> _Snapshot:
        """Replay the log up to ``as_of`` (inclusive; latest when None)
        into the one snapshot every operation works against. The stats
        manifest accumulates each add's ``stats`` entry (files from
        pre-stats commits simply have no entry and are never pruned).
        Starts from the newest snapshot checkpoint at or below
        ``as_of`` — O(commits since checkpoint) JSON opens, bounded by
        the checkpoint interval, instead of O(all commits); time travel
        below the oldest checkpoint still replays from version 0
        (commit JSONs are never deleted)."""
        live: dict[str, None] = {}  # ordered set
        stats: dict[str, dict] = {}
        last = None
        start = 0
        ckpt = self._newest_checkpoint(as_of)
        vs = self._versions()
        if ckpt is not None:
            start, ck = ckpt
            live = dict.fromkeys(ck["live"])
            stats = dict(ck["stats"])
            last = ck["last"]
        elif vs and vs[0] > 1:
            # Commits always number from 1; a log whose oldest
            # surviving commit is >1 with no checkpoint at or below
            # the target has been retention-cleaned (clean_log) —
            # replaying the remainder from empty state would
            # silently produce a WRONG snapshot.
            raise FileNotFoundError(
                f"Log cleaned below version {vs[0]}; no checkpoint "
                f"covers a replay at version {as_of}"
            )
        # Continuity guard: commit numbers are consecutive by
        # construction, so every version in (start, target] must still
        # be listed — a gap means a concurrent clean_log deleted
        # commits after the checkpoint was chosen, and replaying past
        # it would silently return a stale snapshot labeled ``as_of``.
        target = as_of if as_of is not None else (vs[-1] if vs else start)
        to_apply = [v for v in vs if start < v <= target]
        if len(to_apply) != max(0, target - start):
            raise FileNotFoundError(
                f"Commits ({start}, {target}] are incomplete — log "
                f"cleaned concurrently; retry the read"
            )
        for v in to_apply:
            entry = self._read_commit(v)
            for f in entry.get("remove", []):
                live.pop(f, None)
                stats.pop(f, None)
            entry_stats = entry.get("stats", {})
            for f in entry.get("add", []):
                live[f] = None
                if f in entry_stats:
                    stats[f] = entry_stats[f]
            last = entry
        schema = (
            StructType.fromJson(json.loads(last["schema"]))
            if last and "schema" in last
            else None
        )
        return _Snapshot(
            list(live), last, stats, schema, target if last is not None else None
        )

    def _checked(self, version: int | None) -> _Snapshot:
        """The snapshot a reader may scan: ``version`` (latest when
        None) must be in the retained log and every live file must
        still be on disk."""
        vs = self._versions()
        if not vs:
            raise FileNotFoundError(f"No lakehouse log at {self.log_dir}")
        if version is not None and version not in vs:
            raise ValueError(f"Version {version} not in retained log {vs}")
        snap = self._snapshot(version)
        missing = [
            f for f in snap.live if not os.path.exists(os.path.join(self.path, f))
        ]
        if missing:
            raise FileNotFoundError(
                f"Version {version or vs[-1]} references vacuumed files "
                f"{missing[:3]}{'...' if len(missing) > 3 else ''}"
            )
        return snap

    def _scan(self, schema: StructType, files: Sequence[str]) -> DataFrame:
        """Schema-pinned scan of table-relative ``files`` — an empty
        frame of ``schema`` when there are none."""
        if not files:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(
            *[os.path.join(self.path, f) for f in files]
        )

    def history(self) -> list[dict]:
        """Commit metadata, oldest first (DESCRIBE HISTORY)."""
        return [self._read_commit(v) for v in self._versions()]

    def latest_entry(self) -> dict | None:
        """The newest commit entry, or None on an empty table — O(1) log
        reads, for callers (e.g. streaming sinks) that keep a watermark
        in the latest entry instead of scanning the whole history."""
        v = self.latest_version()
        return self._read_commit(v) if v is not None else None

    def latest_value(self, key: str, as_of: int | None = None):
        """Newest committed value for metadata ``key`` (at or before
        ``as_of`` when given), scanning backward and stopping at the
        first entry that carries it. For a writer that stamps ``key``
        on every one of its commits (a streaming sink's watermark), the
        scan cost is O(commits by OTHER writers since its last commit)
        — not O(all commits) — and the backward walk stops at the
        newest snapshot checkpoint, whose accumulated ``key_values``
        map answers for everything at or below it: even a key last
        written long ago costs O(commits since checkpoint). The
        checkpoint PAYLOAD is only parsed when the walk actually
        reaches the boundary without finding the key — in the steady
        state (a sink stamping ``key`` on every commit) the answer
        comes from the newest commit and no checkpoint JSON is opened,
        keeping the per-micro-batch metadata cost O(1) even as the
        checkpoint grows with the table's file count."""
        vs = self._versions()
        ck_versions = [
            v
            for v in self._checkpoint_versions()
            if as_of is None or v <= as_of
        ]
        boundary = ck_versions[-1] if ck_versions else 0
        for v in reversed(vs):
            if as_of is not None and v > as_of:
                continue
            if v <= boundary:
                break
            entry = self._read_commit(v)
            if key in entry:
                return entry[key]
        if boundary:
            ckpt = self._newest_checkpoint(as_of)  # loads, skipping corrupt
            ckpt_v = ckpt[0] if ckpt is not None else 0
            # commits between the loadable checkpoint and the (possibly
            # corrupt, unloadable) boundary still need scanning
            for v in reversed(vs):
                if v <= ckpt_v or v > boundary:
                    continue
                entry = self._read_commit(v)
                if key in entry:
                    return entry[key]
            if ckpt is not None:
                return ckpt[1].get("key_values", {}).get(key)
        if vs and vs[0] > 1:
            # Same contract as _snapshot: below a cleaned log's
            # replay base, "not found" is indistinguishable from
            # "cleaned away" — refuse rather than let a caller pinned
            # to a pre-cleanup version treat a landed watermark as
            # absent (and, e.g., re-apply a committed batch).
            raise FileNotFoundError(
                f"Log cleaned below version {vs[0]}; "
                f"latest_value(as_of={as_of}) cannot see pre-cleanup commits"
            )
        return None

    # -------------------------------------------------------------- write

    # Column dtypes that get per-file min/max stats in the commit log.
    # JSON-representable with order-preserving serialization (dates and
    # timestamps via ISO strings, which sort lexically); decimals and
    # nested types are skipped, never mis-pruned.
    _STATS_DTYPES = frozenset(
        {"tinyint", "smallint", "int", "bigint", "float", "double",
         "string", "date", "timestamp", "timestamp_ntz"}
    )

    # Ceilings for the driver-side stats fast path (below): a staged
    # commit at or under BOTH takes the in-process pyarrow pass, one
    # over either runs the distributed stats job. Micro-batch commits
    # (a streaming sink's per-batch delta/merge — KBs to a few MB) sit
    # far under the caps on ANY deployment; bulk loads and full
    # OPTIMIZE rewrites sit far over them at scale and keep the
    # cluster-parallel path.
    _DRIVER_STATS_MAX_BYTES = 32 * 1024 * 1024
    _DRIVER_STATS_MAX_ROWS = 1_000_000

    @classmethod
    def _stats_column(cls, schema: StructType | None, name: str) -> bool:
        """Whether ``schema`` has a stats-eligible column ``name``."""
        return schema is not None and any(
            f.name == name and f.dataType.simpleString() in cls._STATS_DTYPES
            for f in schema.fields
        )

    @classmethod
    def _driver_file_stats(
        cls, paths: list[str], cols: list[tuple[str, str]]
    ) -> tuple[dict[str, dict], dict[str, int]] | None:
        """Per-file stats manifest computed in-process with pyarrow —
        the fused-stats fast path for metadata-scale commits. Returns
        (file -> {col: [min, max, null_count]}, file -> rows) with
        values EXACTLY matching what the distributed min/max/count
        pass produces (same comparison semantics: code-point string
        order, NaN greatest for floats à la Spark's total order,
        session-TZ-naive timestamps via the same UTC-instant ->
        local-wall conversion Spark's collect performs), or None when
        the commit exceeds the size/row ceilings or pyarrow cannot
        serve it — callers fall back to the Spark job, never to wrong
        stats."""
        try:
            import pyarrow.parquet as pq
        except ImportError:  # pragma: no cover - pyarrow ships with pyspark
            return None

        metas = []
        total_bytes = total_rows = 0
        for p in paths:
            try:
                total_bytes += os.path.getsize(p)
                md = pq.ParquetFile(p)
            except Exception:
                return None
            metas.append((p, md))
            total_rows += md.metadata.num_rows
        if (
            total_bytes > cls._DRIVER_STATS_MAX_BYTES
            or total_rows > cls._DRIVER_STATS_MAX_ROWS
        ):
            return None
        col_names = [c for c, _ in cols]
        stats: dict[str, dict] = {}
        rows: dict[str, int] = {}
        for p, md in metas:
            base = os.path.basename(p)
            # row count from the FOOTER (a zero-column read reports 0)
            n_file = md.metadata.num_rows
            rows[base] = n_file
            if not col_names:
                stats[base] = {}
                continue
            try:
                tbl = md.read(columns=col_names)
            except Exception:
                return None
            fstats: dict[str, list] = {}
            for c, t in cols:
                arr = tbl.column(c)
                nulls = arr.null_count
                if n_file - nulls == 0:
                    fstats[c] = [None, None, nulls]
                    continue
                dense = arr.drop_null()
                if t in ("float", "double"):
                    import numpy as np

                    a = dense.to_numpy(zero_copy_only=False).astype(
                        "float64", copy=False
                    )
                    nan_mask = np.isnan(a)
                    finite = a[~nan_mask]
                    # Spark's total order puts NaN above everything:
                    # max is NaN iff any NaN; min is the smallest
                    # non-NaN unless the column is all-NaN.
                    mx = float("nan") if nan_mask.any() else float(a.max())
                    mn = float(finite.min()) if finite.size else float("nan")
                elif t == "timestamp":
                    # Spark collect() renders a TimestampType as the
                    # naive driver-local wall time of the stored UTC
                    # instant; mirror it exactly so bounds normalized
                    # by _normalize_bound compare in the same frame.
                    # An INT96-encoded file reads back tz-NAIVE in
                    # Arrow even though the instant is UTC — the Spark
                    # dtype (not the Arrow tz) decides the semantics.
                    import datetime as _dt

                    def _walltime(v):
                        # pyarrow may hand back pandas Timestamps;
                        # normalize to plain datetime first
                        if hasattr(v, "to_pydatetime"):
                            v = v.to_pydatetime()
                        if v.tzinfo is None:
                            v = v.replace(tzinfo=_dt.timezone.utc)
                        return v.astimezone().replace(tzinfo=None)

                    vals = [_walltime(v) for v in dense.to_pylist()]
                    mn, mx = min(vals), max(vals)
                elif t == "timestamp_ntz":
                    # wall-clock semantics: naive on both sides
                    def _naive(v):
                        if hasattr(v, "to_pydatetime"):
                            v = v.to_pydatetime()
                        return v.replace(tzinfo=None) if v.tzinfo else v

                    vals = [_naive(v) for v in dense.to_pylist()]
                    mn, mx = min(vals), max(vals)
                else:
                    # ints, strings (code-point == binary order for
                    # valid UTF-8 — same as Spark), dates
                    vals = dense.to_pylist()
                    mn, mx = min(vals), max(vals)
                # NaN min/max pass through exactly like the
                # distributed path (json carries NaN the same way
                # collect() does): Spark's order puts NaN above every
                # value, so a range/IN probe CAN match those rows —
                # storing the all-NULL marker here instead would let
                # pruning silently skip them.
                fstats[c] = [_stat_json(mn), _stat_json(mx), nulls]
            stats[base] = fstats
        return stats, rows

    def _spark_file_stats(
        self, staging: str
    ) -> tuple[dict[str, dict], dict[str, int]]:
        """The distributed stats source, in ``_driver_file_stats``'s
        shape: ONE Spark job over the staged files (groupBy
        input_file_name, min/max/non-null count per eligible column).
        A file with no rows forms no group, so it gets no manifest
        entry."""
        staged = self.spark.read.parquet(staging)
        cols = [c for c, t in staged.dtypes if t in self._STATS_DTYPES]
        # the third stats element is the per-file NULL count: min/max
        # are NULL-blind, so range arithmetic alone can never prove a
        # file holds no NULL rows — retire_below's whole-file drop
        # needs that proof (files from pre-null-count commits carry
        # 2-element stats and are treated as "nulls unknown")
        aggs = [F.count(F.lit(1)).alias("__n")] + [
            f
            for i, c in enumerate(cols)
            for f in (
                F.min(F.col(c)).alias(f"__mn_{i}"),
                F.max(F.col(c)).alias(f"__mx_{i}"),
                F.count(F.col(c)).alias(f"__nn_{i}"),
            )
        ]
        per_file = (
            staged.withColumn("__f", F.input_file_name())
            .groupBy("__f")
            .agg(*aggs)
            .collect()
        )
        file_stats: dict[str, dict] = {}
        file_rows: dict[str, int] = {}
        for r in per_file:
            base = os.path.basename(r["__f"])
            file_rows[base] = r["__n"]
            file_stats[base] = {
                c: [
                    _stat_json(r[f"__mn_{i}"]),
                    _stat_json(r[f"__mx_{i}"]),
                    int(r["__n"]) - int(r[f"__nn_{i}"]),
                ]
                for i, c in enumerate(cols)
            }
        return file_stats, file_rows

    def _stage_files(self, df: DataFrame) -> tuple[list[str], int, dict]:
        """Write ``df`` as immutable parquet files into the table dir
        under commit-unique names; return (relative names, row count,
        per-file column stats).

        Files are invisible to readers until a log entry references
        them, so a failed job leaves only unreferenced garbage for
        VACUUM — never a torn table.

        Stats come from ``_driver_file_stats`` (in-process, no Spark
        job) when the commit is at or under the ``_DRIVER_STATS_MAX_*``
        caps — every streaming micro-batch delta — and from
        ``_spark_file_stats`` above them. Either way they ride in the
        commit entry — the manifest-stats pattern every lakehouse
        format uses for data skipping — and per-file row counts ride
        next to them (the ``__nrows__`` pseudo-column) so maintenance
        operations can do row accounting by log arithmetic instead of
        a count job.
        """
        token = uuid.uuid4().hex[:12]
        staging = os.path.join(self.path, f"_staging_{token}")
        df.write.mode("overwrite").parquet(staging)
        staged = sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
        file_stats, file_rows = self._driver_file_stats(
            [os.path.join(staging, f) for f in staged],
            [(c, t) for c, t in df.dtypes if t in self._STATS_DTYPES],
        ) or self._spark_file_stats(staging)
        names = []
        stats: dict[str, dict] = {}
        for i, f in enumerate(staged):
            name = f"part-{token}-{i:05d}.parquet"
            os.replace(os.path.join(staging, f), os.path.join(self.path, name))
            names.append(name)
            if f in file_stats:
                stats[name] = file_stats[f]
                # a real stats-eligible column named __nrows__ owns the
                # slot (see _manifest_rows)
                if "__nrows__" not in stats[name]:
                    stats[name]["__nrows__"] = [None, None, int(file_rows[f])]
        shutil.rmtree(staging, ignore_errors=True)
        return names, sum(file_rows.values()), stats

    def _check_schema(
        self, df: DataFrame, table: StructType | None, evolve: bool
    ) -> str:
        """Enforce write-time schema-on-write (the lakehouse contract
        plain parquet dirs lack) against the committed ``table``
        schema. Returns the schema JSON to commit."""
        incoming = df.schema
        if table is None:
            return incoming.json()
        table_fields = {f.name: f.dataType for f in table.fields}
        new = [f for f in incoming.fields if f.name not in table_fields]
        for f in incoming.fields:
            if f.name in table_fields and f.dataType != table_fields[f.name]:
                raise ValueError(
                    f"Schema mismatch on {f.name}: table has "
                    f"{table_fields[f.name].simpleString()}, incoming "
                    f"{f.dataType.simpleString()}"
                )
        missing = [f.name for f in table.fields if f.name not in
                   {g.name for g in incoming.fields}]
        if missing:
            raise ValueError(f"Incoming data lacks table columns {missing}")
        if new and not evolve:
            raise ValueError(
                f"Incoming columns {[f.name for f in new]} not in table "
                f"schema; pass evolve=True to add them"
            )
        if new:
            merged = StructType(table.fields + new)
            return merged.json()
        return incoming.json()

    @staticmethod
    def _remove(paths) -> int:
        """Best-effort delete of ``paths``; returns how many went."""
        n = 0
        for p in paths:
            try:
                os.remove(p)
                n += 1
            except OSError:
                pass
        return n

    def _commit(
        self,
        entry: dict,
        read_version: int | None,
        extra: dict | None = None,
        conflict_on: str | None = None,
        monotone_max: tuple[str, ...] = (),
        staged: Sequence[str] = (),
    ) -> int:
        """The one commit path: merge caller metadata ``extra`` into
        ``entry`` (no reserved transaction-log key may be shadowed),
        then land it as the next log version with optimistic
        concurrency. ``entry`` was computed against ``read_version``;
        if other commits landed since, append rebases over them,
        anything that removes files aborts with ConcurrentWriteError.
        ``staged`` names the data files staged for THIS commit: they
        are removed when it is refused or loses a race, so a retrying
        caller (the maintenance hooks swallow ConcurrentWriteError
        every cycle) never orphans a file set per attempt. Files the
        entry merely re-adds (a restore's live files) must not be
        passed.

        ``conflict_on`` names a metadata key that must be unique across
        commits: an interloper carrying the same value for it raises
        DuplicateCommitError even when the operations would otherwise
        commute (two blind appends). The check is race-free because a
        writer that loses the version-number O_EXCL race loops back
        here and re-scans — so of two concurrent writers with the same
        key value, exactly one commits.

        ``monotone_max`` names metadata keys that form a max-lattice
        across commits (a streaming sink's ``batch_hwm`` watermark):
        during the rebase scan the entry's value is raised to any
        HIGHER value an interloper committed after ``read_version``,
        so the newest stamp can never regress below an earlier
        commit's. Induction: the caller folds every stamp at or below
        ``read_version`` into its value, this scan folds the rest —
        so each committed stamp is the max over all prior ones, and
        readers may trust the newest stamp as the true high-water
        mark even under concurrent blind-append writers."""
        # staged files no commit will reference: VACUUM would reclaim
        # them, removing them here saves it the work
        staged_paths = [os.path.join(self.path, f) for f in staged]
        clash = _RESERVED_ENTRY_KEYS.intersection(extra or ())
        if clash:
            self._remove(staged_paths)
            raise ValueError(
                f"extra metadata keys {sorted(clash)} collide with reserved "
                "commit-entry fields; rename them (e.g. nest under a "
                "caller-owned key)"
            )
        entry.update(extra or {})
        try:
            while True:
                vs = self._versions()
                for v in vs:
                    if read_version is not None and v <= read_version:
                        continue
                    interloper = self._read_commit(v)
                    if (
                        conflict_on is not None
                        and conflict_on in interloper
                        and interloper[conflict_on] == entry.get(conflict_on)
                    ):
                        raise DuplicateCommitError(
                            f"Version {v} already committed "
                            f"{conflict_on}={entry.get(conflict_on)!r}"
                        )
                    for k in monotone_max:
                        if k in interloper and (
                            k not in entry or interloper[k] > entry[k]
                        ):
                            entry[k] = interloper[k]
                    if entry["operation"] == "append" and not interloper.get("remove"):
                        continue  # blind appends commute
                    raise ConcurrentWriteError(
                        f"Version {v} ({interloper['operation']}) landed after "
                        f"this writer read v{read_version}; "
                        f"{entry['operation']} cannot be rebased"
                    )
                next_v = vs[-1] + 1 if vs else 1
                os.makedirs(self.log_dir, exist_ok=True)
                entry["version"] = next_v
                try:
                    fd = os.open(
                        self._log_path(next_v), os.O_CREAT | os.O_EXCL | os.O_WRONLY
                    )
                except FileExistsError:
                    continue  # lost the race on the number; re-validate + retry
                with os.fdopen(fd, "w") as fh:
                    json.dump(entry, fh)
                if next_v % _CHECKPOINT_INTERVAL == 0:
                    self._write_checkpoint(next_v)
                return next_v
        except ConcurrentWriteError:
            self._remove(staged_paths)
            raise

    def write(
        self,
        df: DataFrame,
        mode: str = "append",
        evolve: bool = False,
        extra: dict | None = None,
        conflict_on: str | None = None,
        read_version=_UNPINNED,
        monotone_max: tuple[str, ...] = (),
    ) -> int:
        """Commit ``df`` as a new table version. ``mode``: append |
        overwrite. ``extra`` merges caller metadata into the log entry
        (e.g. a streaming batch_id for replay idempotence);
        ``conflict_on`` names an ``extra`` key that must be unique
        across commits (DuplicateCommitError if a concurrent writer
        lands the same value first). ``read_version`` pins the version
        the caller's input was DERIVED from: a read-modify-write caller
        (e.g. a streaming sketch sink) passes the version it read —
        None meaning it observed an EMPTY table — so any commit landing
        in between aborts the overwrite instead of being silently
        clobbered; left unpinned, it is captured here (the plain
        blind-write case). ``monotone_max`` names ``extra`` keys whose
        values must never regress across commits (watermarks): the
        rebase scan raises them to any higher value committed after
        ``read_version`` (see ``_commit``). Returns the committed
        version number."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        pinned = read_version is not _UNPINNED
        snap = self._snapshot(read_version if pinned else None)
        if not pinned:
            read_version = snap.version
        schema_json = self._check_schema(df, snap.schema, evolve)
        files, n, stats = self._stage_files(df)
        return self._commit(
            {
                "operation": mode,
                "add": files,
                "remove": snap.live if mode == "overwrite" else [],
                "schema": schema_json,
                "rows_written": n,
                "stats": stats,
            },
            read_version,
            extra,
            conflict_on,
            monotone_max,
            staged=files,
        )

    # --------------------------------------------------------------- read

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read (time travel when ``version`` is given). The
        file list is resolved ONCE, here — later commits cannot change
        what this DataFrame scans (snapshot isolation)."""
        snap = self._checked(version)
        return self._scan(snap.schema, snap.live)

    def _manifest_rows(self, snap: _Snapshot, files: Sequence[str]) -> int | None:
        """Row count of ``files`` by log arithmetic: the sum of their
        ``__nrows__`` manifest counts. None when any file predates the
        manifest row counts, or when a real stats-eligible table column
        is literally named ``__nrows__`` (its manifest slot holds
        genuine column stats, not a count)."""
        if self._stats_column(snap.schema, "__nrows__"):
            return None
        counts = [snap.stats.get(f, {}).get("__nrows__") for f in files]
        if any(k is None for k in counts):
            return None
        return sum(int(k[2]) for k in counts)

    def live_rows(self, version: int | None = None) -> int | None:
        """Total live row count by PURE LOG ARITHMETIC (see
        ``_manifest_rows``) — no file opened, no Spark job. None means
        "unknown" (an empty log, pre-manifest files or a shadowed
        ``__nrows__`` slot), never zero."""
        snap = self._snapshot(version)
        if snap.last is None:
            return None
        return self._manifest_rows(snap, snap.live)

    def prune_files(
        self,
        column: str,
        lower=None,
        upper=None,
        version: int | None = None,
    ) -> tuple[list[str], int]:
        """Data skipping: the live files whose [min, max] range for
        ``column`` can intersect [lower, upper], plus the total live
        count. Files without stats for the column are conservatively
        kept; files whose stats are all-null are skipped (a range
        predicate never matches NULL). Pure log arithmetic — no file
        footer is opened, no Spark job runs.

        Bounds are validated against the column's logical type from the
        committed schema before comparing: temporal stats live in the
        log as canonical isoformat strings, so a caller's string bound
        is re-parsed and re-serialized to the same canonical form (a
        space-separated timestamp bound would otherwise compare
        lexically wrong against the 'T' separator and silently drop
        live files), and a bound whose type cannot match the column
        raises instead of corrupting the prune."""
        live, _, stats, schema, _ = self._snapshot(version)
        lo = _normalize_bound(column, lower, schema)
        hi = _normalize_bound(column, upper, schema)
        keep = []
        for f in live:
            s = stats.get(f, {}).get(column)
            if s is None:
                keep.append(f)
                continue
            mn, mx = s[0], s[1]
            if mn is None:  # every value in the file is NULL
                continue
            if lo is not None and mx < lo:
                continue
            if hi is not None and mn > hi:
                continue
            keep.append(f)
        return keep, len(live)

    def read_where(
        self,
        column: str,
        lower=None,
        upper=None,
        version: int | None = None,
    ) -> DataFrame:
        """Snapshot read of ``column BETWEEN lower AND upper`` (either
        bound optional) that opens ONLY the files the stats manifest
        can't rule out, then applies the exact residual filter — same
        rows as ``read().where(...)``, a fraction of the scan. This is
        why OPTIMIZE's Z-order exists: clustered files have tight
        min/max ranges, so a point/range query skips almost all of
        them."""
        snap = self._checked(version)
        keep, _ = self.prune_files(column, lower, upper, version=snap.version)
        df = self._scan(snap.schema, keep)
        c = F.col(column)
        if lower is not None:
            df = df.where(c >= F.lit(lower))
        if upper is not None:
            df = df.where(c <= F.lit(upper))
        return df

    def prune_files_in(
        self, column: str, values, version: int | None = None
    ) -> tuple[list[str], int]:
        """Data skipping for an equality-probe SET: the live files
        whose [min, max] range for ``column`` can contain AT LEAST ONE
        of ``values``, plus the total live count — the multi-point
        form of ``prune_files`` an index-probe workload needs (a
        micro-batch's band keys against a Z-ordered LSH index; a
        point-lookup IN list). Files without stats are conservatively
        kept; all-NULL files are skipped (equality never matches NULL,
        and NULL probe values are dropped for the same reason). Pure
        log arithmetic — values are sorted once, then each file is one
        binary search (O(F log K)); no file footer is opened and no
        Spark job runs."""
        keep, n_live, _snap, _vals = self._prune_files_in(
            column, values, version
        )
        return keep, n_live

    def _prune_files_in(
        self,
        column: str,
        values,
        version: int | None = None,
        snap: _Snapshot | None = None,
    ) -> tuple[list[str], int, _Snapshot, list]:
        """``prune_files_in`` plus the snapshot it pruned and the
        normalized, sorted, deduplicated probe values — one log replay
        and ONE normalization pass serve the prune, the schema lookup,
        and the residual filter (``read_where_in`` calls this so the
        per-batch probe hot path never re-parses the probe set). A
        caller already holding ``snap`` (merge) prunes against it
        instead of replaying ``version``."""
        import bisect

        if snap is None:
            snap = self._snapshot(version)
        live, _, stats, schema, _ = snap
        vals = sorted(
            {
                _normalize_bound(column, v, schema)
                for v in values
                if v is not None
            }
        )
        if not vals:
            return [], len(live), snap, vals
        keep = []
        for f in live:
            s = stats.get(f, {}).get(column)
            if s is None:
                keep.append(f)
                continue
            mn, mx = s[0], s[1]
            if mn is None:  # every value in the file is NULL
                continue
            if isinstance(mn, float) and mn != mn:
                # all-NaN file: a bisect against NaN bounds proves
                # nothing (every comparison is False) — keep
                keep.append(f)
                continue
            if isinstance(mx, float) and mx != mx:
                # NaN max (file holds some NaN under Spark's
                # NaN-greatest order) = unbounded above: keep if any
                # probe value sits at or above the real min
                if bisect.bisect_left(vals, mn) < len(vals):
                    keep.append(f)
                continue
            i = bisect.bisect_left(vals, mn)
            if i < len(vals) and vals[i] <= mx:
                keep.append(f)
        return keep, len(live), snap, vals

    def read_where_in(
        self, column: str, values, version: int | None = None
    ) -> DataFrame:
        """Snapshot read of ``column IN (values)`` that opens ONLY the
        files the stats manifest can't rule out, then applies the
        exact residual IN filter — same rows as
        ``read().where(col.isin(values))``, a fraction of the scan
        when the table is clustered (OPTIMIZE ``zorder_by`` on the
        probe column). The streaming dedup sinks' per-batch index
        probe reads through this instead of a full ``read()``.

        The residual filter is a BROADCAST SEMI-JOIN against the probe
        set, not ``isin``: an In expression with tens of thousands of
        literal children costs seconds of py4j marshaling + analysis
        per call (measured ~12s at 15k keys), while a one-column
        broadcast join ships the same keys in one hop and keeps the
        scan inside WholeStageCodegen — identical row semantics (NULL
        matches neither way).

        Probe values are coerced to the column's logical type with the
        same contract as ``read_where``'s bounds: a ``'2020-01-01'``
        string against a date/timestamp column probes the rows that
        date/timestamp equals (the prune already normalized it; the
        residual join must agree, not reject the string)."""
        keep, _, snap, vals = self._prune_files_in(column, values, version)
        if snap.last is None:
            raise FileNotFoundError(f"No lakehouse log at {self.log_dir}")
        df = self._scan(snap.schema, keep)
        if not vals:
            return df.where(F.lit(False))
        field = next(f for f in snap.schema.fields if f.name == column)
        # vals are already normalized (canonical ISO strings for
        # temporal columns) — only the parse back to native types
        # remains before they can ride in a DataFrame
        keys_df = self.spark.createDataFrame(
            [(_typed_bound(column, v, snap.schema),) for v in vals],
            StructType([field]),
        )
        return df.join(F.broadcast(keys_df), column, "leftsemi")

    # -------------------------------------------------------------- merge

    # Auto-prune ceiling for merge's touched-file detection: above
    # this many distinct first-PK probe values the stats prune is
    # skipped (an oversized driver-side probe set costs more than it
    # saves) and the detection scans the full live set as before.
    _MERGE_AUTO_PRUNE_CAP = 100_000

    def merge(
        self,
        updates: DataFrame,
        primary_key: Sequence[str],
        extra: dict | None = None,
        read_version=_UNPINNED,
        deletes: DataFrame | None = None,
        conflict_on: str | None = None,
        prune_keys: tuple[str, list | None] | None = None,
    ) -> dict:
        """MERGE INTO: matched keys take the update row, unmatched
        update rows insert, and keys in ``deletes`` (a DataFrame of
        primary-key rows) are removed — the WHEN MATCHED THEN DELETE
        clause a CDC-apply needs. Rewrites ONLY data files containing a
        changed key — found distributedly by tagging each target row
        with ``input_file_name()`` and semi-joining the (broadcast)
        change keys. At 100 TB a point-upsert touches a handful of
        files; everything else is carried forward as metadata.
        ``extra``, ``conflict_on`` and ``read_version`` work as in
        ``write``: the whole merge runs against the one snapshot at
        ``read_version`` and lands through ``_commit``.
        ``prune_keys`` bounds the touched-file DETECTION scan with the
        stats manifest: ``(column, values)`` names a primary-key
        column and the distinct probe values every update/delete row
        carries in it (a streaming sink already collected exactly this
        set for its ``read_where_in`` probe — zero extra work), and
        the detection then scans only the files whose [min, max] range
        for that column can hold a probe value (a file provably free
        of every probe value cannot contain a full-key match). Files
        outside the candidate set are carried forward untouched —
        identical result, O(candidate files) instead of O(table) scan
        per merge. ``(column, None)`` skips pruning (the caller knows
        its probe set is over-cap); ``None`` (default) auto-collects
        the first PK column's distinct values up to
        ``_MERGE_AUTO_PRUNE_CAP`` and prunes with those.
        """
        pinned = read_version is not _UNPINNED
        snap = self._checked(read_version if pinned else None)
        if not pinned:
            read_version = snap.version
        keys = list(primary_key)
        if (
            prune_keys is not None
            and prune_keys[1] is not None
            and prune_keys[0] not in keys
        ):
            raise ValueError(
                f"prune_keys column {prune_keys[0]!r} is not part of the "
                f"primary key {keys} — pruning on it could skip touched "
                "files"
            )
        # The update set is consumed by three separate jobs (touched-
        # file detection, the kept-rows anti-join's broadcast, the
        # staged rewrite) — without a cache each one re-executes the
        # caller's whole delta plan (probes, joins). MEMORY_AND_DISK
        # so an oversized generic merge spills instead of OOMing;
        # sink updates are batch-bounded by contract. Released in the
        # finally so an exception anywhere in detection/staging doesn't
        # leak the cached update set for the session's lifetime.
        from pyspark import StorageLevel

        updates = updates.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            change_keys = updates.select(*keys)
            if deletes is not None:
                change_keys = change_keys.unionByName(deletes.select(*keys))
            change_keys = change_keys.distinct()

            prune_col, prune_vals = prune_keys or (keys[0], None)
            # auto-prune only when the first PK column carries stats — a
            # boolean/decimal/binary key has no manifest entry and
            # _normalize_bound would (rightly) reject its bounds
            if prune_keys is None and self._stats_column(snap.schema, keys[0]):
                cap = self._MERGE_AUTO_PRUNE_CAP
                auto = (
                    change_keys.select(keys[0]).distinct().limit(cap + 1).collect()
                )
                if len(auto) <= cap:
                    prune_vals = [r[0] for r in auto]
            scan_files = snap.live
            if prune_vals is not None:
                cand = set(self._prune_files_in(prune_col, prune_vals, snap=snap)[0])
                scan_files = [f for f in snap.live if f in cand]
            touched_files = []
            if scan_files:
                tagged = self._scan(snap.schema, scan_files).withColumn(
                    "_lh_file", F.input_file_name()
                )
                touched_files = [
                    os.path.basename(r[0])
                    for r in tagged.join(
                        F.broadcast(change_keys), keys, "left_semi"
                    )
                    .select("_lh_file")
                    .distinct()
                    .collect()
                ]
            touched_set = set(touched_files)
            untouched = [f for f in snap.live if f not in touched_set]

            merged = updates.select(*snap.schema.fieldNames())
            if touched_files:
                kept = self._scan(snap.schema, touched_files).join(
                    change_keys, keys, "left_anti"
                )
                merged = kept.unionByName(merged)
            files, n, stats = self._stage_files(merged)
            v = self._commit(
                {
                    "operation": "merge",
                    "add": files,
                    "remove": touched_files,
                    "schema": snap.last["schema"],
                    "rows_written": n,
                    "stats": stats,
                    "files_rewritten": len(touched_files),
                    "files_carried": len(untouched),
                },
                read_version,
                extra,
                conflict_on,
                staged=files,
            )
        finally:
            updates.unpersist()
        return {
            "version": v,
            "files_rewritten": len(touched_files),
            "files_carried": len(untouched),
            "rows_written": n,
        }

    def retire_below(
        self,
        column: str,
        cutoff,
        extra: dict | None = None,
        conflict_on: str | None = None,
    ) -> dict:
        """Stats-bounded ``DELETE WHERE column < cutoff`` — the state
        retirement primitive (the lakehouse form of Flink's state TTL):
        a per-key IVM state table accumulates one row per user/customer
        forever, and rows whose activity watermark fell behind the
        retention horizon pay storage and generation-merge mass for
        data nothing will probe again.

        Three file classes, decided by pure log arithmetic (the
        ``prune_files`` stats manifest — no footer opened to classify):

        - ``max(column) < cutoff``: every row retires — the file is
          dropped WHOLE from the live set, a pure metadata remove
          (never read, never rewritten; VACUUM reclaims the bytes);
        - ``min(column) >= cutoff`` (or all-NULL): untouched — carried
          forward as metadata;
        - straddling the cutoff (or no stats recorded): rewritten
          keeping rows with ``column >= cutoff OR column IS NULL`` (a
          retirement predicate never matches NULL, matching
          ``prune_files``'s NULL semantics).

        Steady state under a periodic retirement cycle the table holds
        only rows inside the horizon, so each cycle's rewrite volume is
        bounded by the LIVE window, not by all keys ever — the missing
        bound that file-level VACUUM + incremental clustering (which
        bound metadata and probe cost, not row count) could not give.

        Nothing to retire returns ``{"noop": True}`` WITHOUT a commit.
        Snapshot-pinned like ``merge``: a commit landing between the
        pin and ours raises ``ConcurrentWriteError`` (staged files are
        cleaned up) — maintenance hooks call this best-effort and let
        the next cycle retry. Readers pinned to older versions keep
        working; retired generations drop out of the Z-order manifest
        on the next optimize cycle (it intersects with the live set).
        """
        live, last, stats, schema, read_version = self._snapshot()
        if last is None:
            raise FileNotFoundError(f"No lakehouse log at {self.log_dir}")
        cut = _normalize_bound(column, cutoff, schema)
        if cut is None:
            raise ValueError("retire_below needs a non-NULL cutoff")
        # The NORMALIZED bound is the effective retirement predicate on
        # both the classification and the rewrite filter — a raw bound
        # that only loosens under normalization (a datetime on a date
        # column truncates to its date) would otherwise classify files
        # with one cutoff and delete rows with another, retiring
        # identical values differently depending on file layout.
        typed_cut = _typed_bound(column, cut, schema)
        drop: list[str] = []
        straddle: list[str] = []
        for f in live:
            s = stats.get(f, {}).get(column)
            if s is None:
                straddle.append(f)  # no stats: conservative rewrite
                continue
            mn, mx = s[0], s[1]
            nnulls = s[2] if len(s) > 2 else None
            if mn is None:  # all-NULL file: never matches the predicate
                continue
            if mx < cut and nnulls == 0:
                # provably no NULL rows (min/max are NULL-blind, so the
                # whole-file drop additionally needs the manifest's
                # null count; pre-null-count commits and mixed-NULL
                # files fall through to the straddle rewrite, whose
                # filter retains the NULL rows)
                drop.append(f)
            elif mn < cut:
                straddle.append(f)

        if not drop and not straddle:
            return {
                "version": read_version,
                "noop": True,
                "files_dropped": 0,
                "files_rewritten": 0,
            }
        files, n, stats_out = [], 0, {}
        if straddle:
            c = F.col(column)
            kept = self._scan(schema, straddle).where(
                (c >= F.lit(typed_cut)) | c.isNull()
            )
            files, n, stats_out = self._stage_files(kept)
        bytes_dropped = self._disk_bytes(drop)
        v = self._commit(
            {
                "operation": "retire",
                "add": files,
                "remove": drop + straddle,
                "schema": last["schema"],
                "rows_written": n,
                "stats": stats_out,
                "retire_column": column,
                "retire_below": cut,
                "files_dropped": len(drop),
                "files_rewritten": len(straddle),
                "bytes_dropped": bytes_dropped,
            },
            read_version,
            extra,
            conflict_on,
            staged=files,
        )
        return {
            "version": v,
            "files_dropped": len(drop),
            "files_rewritten": len(straddle),
            "rows_kept": n,
            "bytes_dropped": bytes_dropped,
        }

    # ----------------------------------------------------- optimize/vacuum

    def _zorder_cluster(
        self, df: DataFrame, zorder_by: Sequence[str], target_files: int
    ) -> DataFrame:
        """CLUSTER ``df`` on a Z-order (Morton) curve over the given
        columns: each column is bucketed into 8-bit cells (equal-width
        over its min/max — one broadcast aggregate, fully map-side
        after that; production systems refine this with sampled rank
        boundaries under heavy skew) and the bits interleaved, then
        rows range-partition by the curve into ``target_files``
        partitions. Rows close in EVERY dimension land in the same
        file, so per-file min/max footers become tight in all
        Z-ordered columns at once and a reader's filter on ANY of them
        prunes files — the published lakehouse data-skipping layout,
        where a single-column sort only prunes its own column.

        STRING columns cluster by an order-preserving numeric
        surrogate: the first 7 bytes of the UTF-8 encoding read as a
        big-endian integer (zero-padded on the right, so shorter
        strings sort first exactly as Spark's binary string comparison
        does). Per-file min/max stats stay on the RAW column, so
        ``prune_files``/``read_where`` comparisons are exact; ties
        beyond the 7-byte prefix only loosen file boundaries, never
        correctness — which is all an equality-probe workload (e.g. an
        LSH band index) needs from clustering."""
        bits = 8
        dtypes = dict(df.dtypes)

        def _zsrc(c):
            if dtypes.get(c) == "string":
                return F.conv(
                    F.rpad(
                        F.hex(F.substring(F.encode(F.col(c), "UTF-8"), 1, 7)),
                        14,
                        "0",
                    ),
                    16,
                    10,
                ).cast("double")
            return F.col(c).cast("double")

        stats = df.agg(
            *[
                f
                for c in zorder_by
                for f in (
                    F.min(_zsrc(c)).alias(f"__mn_{c}"),
                    F.max(_zsrc(c)).alias(f"__mx_{c}"),
                )
            ]
        )
        out = df.crossJoin(F.broadcast(stats))
        for c in zorder_by:
            span = F.col(f"__mx_{c}") - F.col(f"__mn_{c}")
            frac = F.when(span > 0, (
                _zsrc(c) - F.col(f"__mn_{c}")
            ) / span).otherwise(F.lit(0.0))
            cell = F.least(
                F.floor(frac * (2**bits)).cast("long"), F.lit(2**bits - 1)
            )
            out = out.withColumn(f"__cell_{c}", F.coalesce(cell, F.lit(0)))
        z = F.lit(0).cast("long")
        for b in range(bits - 1, -1, -1):
            for c in zorder_by:
                bit = F.shiftright(F.col(f"__cell_{c}"), b).bitwiseAND(1)
                z = F.shiftleft(z, 1).bitwiseOR(bit.cast("long"))
        helper = [f"__cell_{c}" for c in zorder_by] + [
            f"__mn_{c}" for c in zorder_by
        ] + [f"__mx_{c}" for c in zorder_by]
        return (
            out.withColumn("__z", z)
            .repartitionByRange(max(target_files, 1), "__z")
            .sortWithinPartitions("__z")
            .drop("__z", *helper)
        )

    def optimize(
        self,
        target_files: int = 1,
        zorder_by: Sequence[str] | None = None,
        incremental: bool = False,
        max_generations: int = 8,
    ) -> dict:
        """Compaction as a metadata swap: rewrite live files into
        ``target_files`` new files (clustered when ``zorder_by`` is
        given — see ``_zorder_cluster``) and commit add+remove
        atomically. Readers pinned to older versions keep working —
        their files are removed from the LOG, not the disk (that's
        VACUUM).

        ``incremental=False`` (default) rewrites the FULL live set —
        the one-shot layout command. A continuously maintained index
        (a streaming sink Z-ordering its probe table every N batches)
        cannot pay that: on a growing table a full rewrite per cycle
        is amortized O(table) bytes WRITTEN per batch. For that
        workload ``incremental=True`` applies the LSM/size-tiered
        idea to clustering instead:

        - the table's live files are partitioned into clustered
          GENERATIONS (tracked in the commit log under
          ``zorder_gens``, a list of file-name lists that survives
          ``clean_log`` via checkpoint ``key_values``) plus the
          unclustered appends landed since the last cycle;
        - each cycle Z-order-rewrites ONLY the unclustered appends
          into a new generation — per-cycle write volume is bounded
          by recent-append volume, never by table size (``read_where_in``
          prunes by per-file stats, so multiple sorted generations
          compose for free: a point probe opens at most one narrow
          file per generation);
        - when the generation count would exceed ``max_generations``,
          the SMALLEST generations (by on-disk bytes — the
          size-tiered merge policy) fold into the new rewrite so the
          count stays bounded; total write amplification per ingested
          byte stays O(max_generations · log N) instead of the full
          rewrite's O(N/cycle).

        Files rewritten by a later MERGE drop out of their generation
        (the manifest is intersected with the live set each cycle) and
        their replacements re-cluster as ordinary appends. A full
        (non-incremental) ``optimize`` resets the manifest to the
        single generation it produces. Rows never change either way —
        only layout; a no-op cycle (nothing unclustered) commits
        nothing and returns ``{"noop": True}``."""
        snap = self._checked(None)
        live, read_version = snap.live, snap.version
        rewrite = live
        gens_kept: list[list[str]] = []
        if incremental:
            if not zorder_by:
                raise ValueError("incremental optimize requires zorder_by")
            if max_generations < 1:
                raise ValueError(
                    f"max_generations must be >= 1, got {max_generations}"
                )
            live_set = set(live)
            # a generation is only "clustered" for THIS call if it was
            # built on the same columns — switching zorder_by must
            # re-cluster everything, not silently no-op
            prev_by = self.latest_value("zorder_gens_by", as_of=read_version)
            prev = (
                self.latest_value("zorder_gens", as_of=read_version) or []
                if prev_by == list(zorder_by)
                else []
            )
            gens = [
                kept
                for g in prev
                if (kept := [f for f in g if f in live_set])
            ]
            clustered = {f for g in gens for f in g}
            unclustered = [f for f in live if f not in clustered]
            if not unclustered:
                return {
                    "version": read_version,
                    "files_before": len(live),
                    "files_after": len(live),
                    "noop": True,
                }
            n_merge = max(0, len(gens) + 1 - max_generations)
            if n_merge:
                by_size = sorted(gens, key=self._disk_bytes)
                folded, gens_kept = by_size[:n_merge], by_size[n_merge:]
                rewrite = unclustered + [f for g in folded for f in g]
            else:
                gens_kept = gens
                rewrite = unclustered
        df = self._scan(snap.schema, rewrite)
        # Row accounting for the drift check by LOG ARITHMETIC
        # (_manifest_rows) replaces a whole count() job per maintenance
        # cycle; when the manifest cannot answer, the count job runs —
        # never a skipped check.
        n_before = self._manifest_rows(snap, rewrite) if rewrite else 0
        if n_before is None:
            n_before = df.count()
        if zorder_by:
            out = self._zorder_cluster(df, zorder_by, target_files)
        else:
            out = df.coalesce(target_files)
        files, n, stats = self._stage_files(out)
        if n != n_before:
            self._remove(os.path.join(self.path, f) for f in files)
            raise ValueError(f"Compaction row drift: {n_before} -> {n}")

        # merge-mass telemetry: bytes folded in vs bytes staged out,
        # in the COMMIT LOG (history() is the audit surface a 100 TB
        # operator alerts on) as well as the return value
        bytes_in, bytes_out = self._disk_bytes(rewrite), self._disk_bytes(files)
        gens = gens_kept + [files] if zorder_by else []
        v = self._commit(
            {
                "operation": "optimize",
                "add": files,
                "remove": rewrite,
                "schema": snap.last["schema"],
                "rows_written": n,
                "stats": stats,
                "bytes_rewritten": bytes_in,
                "bytes_written": bytes_out,
                "zorder_by": list(zorder_by) if zorder_by else None,
                "zorder_gens": gens,
                "zorder_gens_by": list(zorder_by) if zorder_by else None,
            },
            read_version,
            staged=files,
        )
        return {
            "version": v,
            "files_before": len(live),
            "files_after": len(live) - len(rewrite) + len(files),
            "files_rewritten": len(rewrite),
            "rows_rewritten": n,
            "bytes_rewritten": bytes_in,
            "bytes_written": bytes_out,
            "generations": len(gens),
        }

    def restore(self, version: int) -> dict:
        """RESTORE TABLE ... TO VERSION (the Delta/Iceberg rollback
        command): make an old snapshot current again by committing a
        new entry whose live set IS that snapshot's file list — pure
        metadata, no data files touched, and the bad versions stay in
        the log for forensics/time travel. The recovery story after a
        bad write or MERGE: roll forward-by-rolling-back instead of
        hand-editing state.

        Both snapshots are reader-checked (``_checked``), so a target
        whose files were VACUUMed fails like time travel does. The
        target's stats manifests are carried over so data skipping
        keeps working on the restored snapshot. The entry lands
        through ``_commit`` pinned to the current version, with no
        staged files: its adds are existing data files."""
        target = self._checked(version)
        current = self._checked(None)
        restored = set(target.live)
        v = self._commit(
            {
                "operation": "restore",
                "restored_version": version,
                "add": target.live,
                "remove": [f for f in current.live if f not in restored],
                "schema": target.last["schema"],
                "rows_written": target.last.get("rows_written"),
                "stats": {
                    f: target.stats[f] for f in target.live if f in target.stats
                },
            },
            current.version,
        )
        return {"version": v, "restored_version": version,
                "n_files": len(target.live)}

    def table_changes(
        self,
        from_version: int,
        to_version: int | None = None,
        primary_key: Sequence[str] = ("id",),
    ) -> DataFrame:
        """Change-data-feed between two retained versions: time-travel
        both snapshots and diff them into insert/update/delete rows
        (operators.cdc.table_changes — one co-partitioned full-outer
        join on the PK). This is the lakehouse CDF surface consumers
        poll instead of re-reading the table: at 100 TB the output is
        the (small) set of changed keys, and the inputs are file-list
        resolutions from a KB-scale log."""
        from ..operators.cdc import table_changes as _diff

        return _diff(
            self.read(version=from_version),
            self.read(version=to_version),
            primary_key=list(primary_key),
        )

    def clean_log(self, retain_versions: int = 20) -> dict:
        """Metadata retention cleanup (the Delta log-cleanup analogue
        of VACUUM): delete commit JSONs — and superseded checkpoints —
        strictly below the newest checkpoint that still covers every
        retained version. The replay base checkpoint and its commit
        stay, so every version >= it remains queryable; time travel
        below it raises by contract (``_snapshot`` detects the
        truncated prefix — commits number from 1 — instead of silently
        replaying partial state). A table whose log would otherwise
        grow one entry per streaming micro-batch forever stays
        O(retain + interval) JSON files."""
        vs = self._versions()
        if len(vs) <= retain_versions:
            return {"log_entries_removed": 0, "checkpoints_removed": 0}
        horizon = vs[-retain_versions]  # oldest version that must stay queryable
        base = None
        for v in reversed(self._checkpoint_versions()):
            if v <= horizon and self._load_checkpoint(v) is not None:
                base = v
                break
        if base is None:
            return {"log_entries_removed": 0, "checkpoints_removed": 0}
        return {
            "log_entries_removed": self._remove(
                self._log_path(v) for v in vs if v < base
            ),
            "checkpoints_removed": self._remove(
                self._ckpt_path(v) for v in self._checkpoint_versions() if v < base
            ),
            "replay_base": base,
        }

    def vacuum(self, retain_versions: int = 1) -> dict:
        """Delete data files unreferenced by the newest
        ``retain_versions`` versions (plus orphaned staging debris).
        Time travel older than the horizon stops working — by contract,
        as in any lakehouse."""
        vs = self._versions()
        horizon = vs[-retain_versions:] if retain_versions > 0 else vs[-1:]
        keep: set[str] = set()
        for v in horizon:
            keep.update(self._snapshot(v).live)
        removed = 0
        for f in os.listdir(self.path):
            full = os.path.join(self.path, f)
            if f.startswith("_staging_") and os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)
                removed += 1
            elif f.endswith(".parquet") and os.path.isfile(full) and f not in keep:
                os.remove(full)
                removed += 1
        return {"files_removed": removed, "retained_versions": [v for v in horizon]}
