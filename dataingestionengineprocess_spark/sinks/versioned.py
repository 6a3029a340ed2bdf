"""Versioned warehouse tables: atomic publish via immutable version
directories.

`compact_table` / `merge_upsert` (warehouse.py) rewrite a table with a
two-rename swap whose contract is single-writer / no-concurrent-reader
(the table path briefly does not exist mid-swap). This module is the
layout their docstrings point at for when that contract is too weak --
the directory half of the snapshot pattern public table formats use:

    <table>/
      _v/v0000000001/              immutable parquet snapshot
      _v/v0000000002-pAPP-e42/     (committed once Spark's _SUCCESS
                                    marker lands; an exactly-once
                                    producer's app id + epoch ride in
                                    the name)

Correctness rules, in order of authority:

1. A version directory is COMMITTED iff it contains ``_SUCCESS``
   (written last by Spark's file output committer). Half-written
   snapshots from a crashed publish are never visible and never
   block progress -- the next publish simply claims the next number.
2. The source of truth for "current" is *the largest committed
   version*, resolved by listing ``_v`` (dozens of entries, one cheap
   RPC). No pointer file: a cached pointer either needs the listing
   to validate anyway or becomes a second source of truth that can
   disagree with the first.
3. Version directories are immutable after commit. A reader that
   resolved version N keeps reading N's files for the whole query
   even while N+1 publishes -- no torn reads, no vanishing paths.
   ``expire`` is the only mutation; it refuses to touch the newest
   ``keep_last`` committed versions AND any snapshot that is the
   last record of a producer's applied epoch (the exactly-once
   ledger -- see `merge`).

At 100 TB the extra cost is one tiny directory listing per query plan
-- noise against the scan -- and compaction/merge become always-online
operations instead of maintenance-window ones.
"""

from __future__ import annotations

import math
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..objectstore import hadoop_fs
from ..session import local_frame
from .warehouse import keep_latest_merge

_VDIR = "_v"
_WIDTH = 10  # zero-padded => lexicographic order == numeric order
_NAME_RE = re.compile(
    rf"^v(\d{{{_WIDTH}}})(?:-p([0-9a-f]{{1,16}}))?(?:-e(\d+))?$"
)


def _vname(n: int, epoch: int | None = None, app: str | None = None) -> str:
    """Version dir name; an exactly-once producer's (app, epoch) rides
    IN the name (``v0000000007-p1a2b3c4d-e42``) so it commits
    atomically with the snapshot's ``_SUCCESS`` marker -- a separate
    marker file could land before/after the commit and tear the
    replay-dedup decision. ``app`` scopes epochs to one producer
    (e.g. one streaming checkpoint): epochs restart at 0 whenever a
    stream gets a fresh checkpoint, so an UNscoped guard would
    silently drop every batch of the new stream."""
    if app is not None and not re.fullmatch(r"[0-9a-f]{1,16}", app):
        raise ValueError(f"app must be 1-16 lowercase hex chars, got {app!r}")
    base = f"v{n:0{_WIDTH}d}"
    if app is not None:
        base += f"-p{app}"
    if epoch is not None:
        base += f"-e{epoch}"
    return base


def _parse_vname(name: str) -> tuple[int, str | None, int | None] | None:
    """(version, app|None, epoch|None) from a version dir name."""
    m = _NAME_RE.match(name)
    if not m:
        return None
    n, app, epoch = m.groups()
    return int(n), app, int(epoch) if epoch is not None else None


class VersionedTable:
    """Snapshot-versioned parquet table rooted at ``path``."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._fs, _ = hadoop_fs(spark, path)
        self._hp = spark.sparkContext._jvm.org.apache.hadoop.fs.Path

    # -- fs helpers ---------------------------------------------------------

    def _exists(self, p: str) -> bool:
        return self._fs.exists(self._hp(p))

    def _dirs(self, committed_only: bool = True) -> dict[int, str]:
        """version number -> dir name (``v…`` / ``v…-pAPP-eN``)."""
        vroot = os.path.join(self.path, _VDIR)
        if not self._exists(vroot):
            return {}
        out: dict[int, str] = {}
        for st in self._fs.listStatus(self._hp(vroot)):
            name = st.getPath().getName()
            parsed = _parse_vname(name) if st.isDirectory() else None
            if parsed is None:
                continue
            n = parsed[0]
            if committed_only and not self._exists(
                os.path.join(vroot, name, "_SUCCESS")
            ):
                continue
            out[n] = name
        return out

    # -- introspection ------------------------------------------------------

    def versions(self) -> list[int]:
        """Committed version numbers, ascending."""
        return sorted(self._dirs())

    def last_epoch(self, app: str | None = None) -> int | None:
        """Largest applied epoch for producer ``app`` among committed
        snapshots (None when that producer has none). The exactly-once
        question -- "has this (app, epoch) already been applied?" --
        reads from here. Epochs of OTHER producers are invisible:
        they restart independently and must not suppress each other."""
        epochs = [
            e for _, a, e in map(_parse_vname, self._dirs().values())
            if e is not None and a == app
        ]
        return max(epochs) if epochs else None

    def current_version(self) -> int | None:
        """Largest committed version (resolved by listing -- the
        single source of truth)."""
        vs = self.versions()
        return vs[-1] if vs else None

    def history(self) -> DataFrame:
        """One row per committed snapshot (the DESCRIBE HISTORY
        equivalent): version, producer app/epoch stamps, byte size,
        file count, and whether it is current. Driver-side listing
        only -- no data files are opened."""
        rows = []
        cur = None
        dirs = self._dirs()
        if dirs:
            cur = max(dirs)
        for n in sorted(dirs):
            _, app, epoch = _parse_vname(dirs[n])
            summary = self._fs.getContentSummary(
                self._hp(os.path.join(self.path, _VDIR, dirs[n]))
            )
            rows.append((
                n, app, epoch, summary.getLength(),
                int(summary.getFileCount()), n == cur,
            ))
        return local_frame(
            self.spark, rows,
            "version int, app string, epoch long, bytes long, "
            "n_files int, is_current boolean",
        )

    # -- read ---------------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """DataFrame over one immutable snapshot. ``version=None``
        resolves the current version at PLAN time and pins it -- the
        returned frame keeps reading that snapshot even if newer
        versions publish mid-query (snapshot isolation)."""
        dirs = self._dirs()
        if version is None:
            if not dirs:
                raise FileNotFoundError(
                    f"versioned table {self.path} has no committed version"
                )
            version = max(dirs)
        elif version not in dirs:
            raise FileNotFoundError(
                f"{self.path} has no committed version {version}"
            )
        return self.spark.read.parquet(
            os.path.join(self.path, _VDIR, dirs[version])
        )

    # -- write --------------------------------------------------------------

    def publish(self, df: DataFrame, n_files: int | None = None,
                epoch: int | None = None, app: str | None = None) -> int:
        """Write ``df`` as the next snapshot and make it current.

        Commit point = Spark's ``_SUCCESS`` marker in the new version
        dir. A crash before the marker leaves an invisible partial
        dir; the next publish claims a higher number.

        ``(app, epoch)`` stamps an exactly-once producer id (e.g. a
        streaming checkpoint + micro-batch epoch) into the version
        name, atomically with the commit -- see `merge`'s replay
        dedup."""
        pending = self._dirs(committed_only=False)
        n = (max(pending) + 1) if pending else 1
        target = os.path.join(self.path, _VDIR, _vname(n, epoch, app))
        writer = df.repartition(n_files) if n_files else df
        writer.write.mode("error").parquet(target)
        return n

    def diff(self, keys: list[str], v_from: int,
             v_to: int | None = None) -> DataFrame:
        """Change-data-capture between two snapshots: one row per key
        whose presence or payload changed, with ``change_type`` in
        {insert, delete, update} and the full old/new payloads as
        structs (NULL on the missing side). ``v_to=None`` diffs
        against current.

        One full-outer equi-join on the key across two snapshot scans
        -- at 100 TB, publish both snapshots partitioned by the key so
        the join is co-located. Payload comparison is struct equality
        over the UNION of both snapshots' non-key columns (publish
        imposes no schema contract, so the schemas may differ): a
        column present on one side only is NULL-filled on the other,
        making a row whose only change is a newly-added or dropped
        column correctly report as an update instead of comparing
        equal over the old schema (or crashing on a dropped one)."""
        new_v = self.current_version() if v_to is None else v_to
        old_df, new_df = self.read(v_from), self.read(new_v)
        payload = sorted(
            (set(old_df.columns) | set(new_df.columns)) - set(keys)
        )
        # Unify types on BOTH sides: a column present in both snapshots
        # but re-typed between them would otherwise build old/new
        # structs with mismatched field types and fail the struct
        # equality at analysis -- exactly the crash the NULL-fill
        # handles for the missing-column case. A column whose dtype
        # DIFFERS between the snapshots unifies to STRING, never to one
        # side's type: casting old DOUBLE 4.7 into a new INT type would
        # silently compare 4 == 4 (a masked change) and misreport the
        # old payload as the truncated value. String unification keeps
        # both true values visible; the cost is that a pure-widening
        # retype (4 INT -> 4.0 DOUBLE) reports as an update, which a
        # schema change arguably is. Same-typed columns cast to their
        # own type -- a Catalyst no-op.
        old_t, new_t = dict(old_df.dtypes), dict(new_df.dtypes)
        retyped = {
            c for c in payload
            if c in old_t and c in new_t and old_t[c] != new_t[c]
        }

        def unified(c: str) -> str:
            if c in retyped:
                return "string"
            return new_t.get(c, old_t.get(c))

        def side(df: DataFrame, alias: str):
            have = set(df.columns)
            cols = [
                (F.col(c) if c in have else F.lit(None))
                .cast(unified(c)).alias(c)
                for c in payload
            ]
            return df.select(*keys, F.struct(*cols).alias(alias))

        old_s = side(old_df, "old")
        new_s = side(new_df, "new")
        joined = old_s.join(new_s, keys, "full_outer")
        return (
            joined.withColumn(
                "change_type",
                F.when(F.col("old").isNull(), F.lit("insert"))
                .when(F.col("new").isNull(), F.lit("delete"))
                # A retyped column is itself a change for every key
                # that survives the retype: the string unification
                # above can make both renderings coincide (STRING '4'
                # -> INT 4 casts to '4' on both sides), which would
                # otherwise mask the schema change entirely -- so any
                # retype forces update for all both-present rows.
                .when(F.lit(bool(retyped)), F.lit("update"))
                .when(~F.col("old").eqNullSafe(F.col("new")),
                      F.lit("update")),
            )
            .filter(F.col("change_type").isNotNull())
            .select(*keys, "change_type", "old", "new")
        )

    # -- maintenance --------------------------------------------------------

    def expire(self, keep_last: int = 2) -> dict:
        """Delete snapshots older than the newest ``keep_last``
        committed ones -- EXCEPT any snapshot that is the newest
        record of some producer's applied epoch. Those are the
        exactly-once ledger: deleting the last ``-pAPP-eN`` dir would
        make a checkpoint-lagged replay of epoch N look new and
        re-apply it. (`compact` carries the newest stamp forward, so
        under normal maintenance the protected snapshot soon becomes
        old enough to release.) Readers pinned to an expired snapshot
        fail like readers of a vacuumed lakehouse table -- retention
        is the snapshot-isolation horizon."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        dirs = self._dirs()
        vs = sorted(dirs)
        # newest version per (app) among epoch-stamped snapshots
        ledger: dict[str | None, int] = {}
        for n in vs:
            _, app, epoch = _parse_vname(dirs[n])
            if epoch is not None and n >= ledger.get(app, -1):
                ledger[app] = n
        protected = set(ledger.values())
        doomed = [
            n for n in (vs[:-keep_last] if len(vs) > keep_last else [])
            if n not in protected
        ]
        for n in doomed:
            self._fs.delete(
                self._hp(os.path.join(self.path, _VDIR, dirs[n])), True
            )
        return {"expired": doomed,
                "kept": [n for n in vs if n not in doomed]}

    def compact(self, target_file_bytes: int = 128 * 1024 * 1024) -> dict:
        """Online OPTIMIZE: rewrite the current snapshot right-sized
        into a NEW version. Unlike `warehouse.compact_table`'s
        two-rename swap, concurrent readers are safe the whole time:
        they hold the old immutable snapshot; the flip is the commit
        marker of the new one. The source snapshot's (app, epoch)
        stamp is carried forward so compaction never erases the
        exactly-once ledger (see `expire`)."""
        dirs = self._dirs()
        if not dirs:
            raise FileNotFoundError(f"nothing to compact at {self.path}")
        cur = max(dirs)
        _, app, epoch = _parse_vname(dirs[cur])
        vpath = os.path.join(self.path, _VDIR, dirs[cur])
        summary = self._fs.getContentSummary(self._hp(vpath))
        total = summary.getLength()
        n_files = max(1, math.ceil(total / target_file_bytes))
        new = self.publish(self.read(cur), n_files=n_files,
                           epoch=epoch, app=app)
        return {"from_version": cur, "to_version": new, "bytes": total}

    def merge(self, updates: DataFrame, keys: list[str],
              order_col: str, epoch: int | None = None,
              app: str | None = None) -> dict:
        """Keep-latest MERGE as a snapshot publish (same semantics as
        `warehouse.merge_upsert`: greatest ``order_col`` per key wins,
        ties break toward the update). Metrics ride along on the
        single write action via ``observe()`` -- no extra scans.

        ``(app, epoch)`` makes the merge EXACTLY-ONCE under micro-batch
        replay: if a committed snapshot of the SAME producer (``app``)
        already carries an epoch >= this one, the batch was applied
        before a checkpoint-lagged retry and the call returns
        ``{"skipped": True}`` without writing -- the foreachBatch
        transactional-sink pattern (txnAppId/txnVersion), with the
        applied-epoch record committed atomically inside the version
        name instead of in a side store. A DIFFERENT producer's epochs
        never suppress this one: a stream restarted with a fresh
        checkpoint gets a fresh app id and its epoch 0 merges
        normally (keep-latest semantics make the reprocessing safe)."""
        if epoch is not None:
            last = self.last_epoch(app)
            if last is not None and epoch <= last:
                return {"skipped": True, "epoch": epoch,
                        "last_epoch": last}
        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(f"nothing to merge into at {self.path}")
        survivors, stats = keep_latest_merge(
            self.read(cur), updates, keys, order_col
        )
        new = self.publish(survivors, epoch=epoch, app=app)
        return {"from_version": cur, "to_version": new, **stats()}

    def delete(self, predicate, keys_df: DataFrame | None = None,
               keys: list[str] | None = None) -> dict:
        """Row-level DELETE as a snapshot publish: the new version
        contains every current row EXCEPT those matching -- the
        right-to-be-forgotten / bad-partner-batch lifecycle op.

        Two forms:
        - ``delete(predicate)``: drop rows where the Column/SQL-string
          predicate holds;
        - ``delete(None, keys_df=ids, keys=["user_id"])``: drop rows
          whose key appears in ``keys_df`` (broadcast anti-join -- the
          deletion list is always tiny relative to the table).

        Counts ride on the single write action via ``observe()``.
        NOTE on physical erasure: like every snapshot store, deleted
        rows remain readable through OLDER versions (time travel)
        until ``expire()`` reclaims them -- a compliance delete is
        ``delete(...)`` followed by ``expire(keep_last=1)``. The
        source snapshot's (app, epoch) stamp is carried forward
        (exactly as ``compact`` does): without it, the PRE-delete
        snapshot would remain the newest record of the producer's
        epoch, ``expire``'s ledger protection would pin it forever,
        and the prescribed compliance flow could never physically
        reclaim the deleted rows.
        """
        from pyspark.sql import Observation

        dirs = self._dirs()
        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(f"nothing to delete from at {self.path}")
        _, app, epoch = _parse_vname(dirs[cur])
        existing = self.read(cur)

        if keys_df is not None:
            if not keys:
                raise ValueError("keys_df requires keys")
            marked = existing.join(
                F.broadcast(keys_df.select(*keys).dropDuplicates()),
                keys, "left_anti",
            )
        else:
            if predicate is None:
                raise ValueError("pass a predicate or keys_df")
            cond = F.expr(predicate) if isinstance(predicate, str) else predicate
            marked = existing.filter(~cond.eqNullSafe(True))

        obs = Observation("vdelete_kept")
        kept = marked.observe(obs, F.count(F.lit(1)).alias("rows_after"))
        new = self.publish(kept, epoch=epoch, app=app)
        rows_after = int(obs.get["rows_after"])
        return {
            "from_version": cur,
            "to_version": new,
            "rows_after": rows_after,
        }
