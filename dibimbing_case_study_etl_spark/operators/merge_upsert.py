"""Keyed upsert (MERGE) over plain partitioned Parquet — the engine's one
genuinely custom plan shape (SURVEY §2.6).

Reproduces the reference's Postgres ``INSERT ... ON CONFLICT (pk) DO UPDATE``
(`scripts/load_parquet_to_postgres_l1.py:52-61`) as a composed DataFrame
program:

1. **In-batch duplicate arbitration** — Postgres applies batch rows
   sequentially so the *last* duplicate wins (`load:140-147`); a
   set-oriented merge must pre-dedup with an explicit ordering
   (``latest_per_key`` on ``order_by``).
2. **Split-update semantics** — on key match only ``update_cols`` take the
   source value, null included; every other column keeps the target value
   (L1 deliberately does NOT update date/hour, `load:56-60`; L2 updates all
   non-key cols, `upsert_l2_for_ds.sql:28-33`).
3. **Partition-scoped atomicity** — only partitions present in the source
   are read back and rewritten (`partitionOverwriteMode=dynamic``); untouched
   partitions are never opened. Requires the partition column to be
   functionally dependent on the merge keys (here: date = date(ts), ts ∈ PK),
   so a matched row can never migrate between partitions.

Plan shape: ONE full outer join of the touched target slice with the deduped
source on the keys. A presence flag on each side picks every column:
``update_cols`` from the source where a source row exists, the others from
the target where a target row exists (matched rows, unmatched target rows
and inserts in one pass). The flags, not ``coalesce``, make a null source
value overwrite. The target is read with the deduped source's schema, so no
job is spent inferring it; this is a contract: the target was created from
a source with the same columns (its first merge writes exactly that).

Scale: the merge cost is O(touched partitions), not O(table). The join is an
equi-join on the PK — at 100 TB both sides arrive hash-partitioned by key
(the source already is, by the dedup window). Re-running any batch converges
(idempotency, `README.md:38, 261`).

**Concurrency contract (SINGLE WRITER, fenced).** Plain Parquet has no
transaction log: dynamic partition overwrite is atomic per partition
directory (staged then swapped) but carries no cross-writer coordination —
two concurrent merges into the same table interleave as last-writer-wins
per partition, and one writer's read snapshot can miss the other's
in-flight rows (lost update). The reference sidesteps this with a
Postgres transaction (`load_parquet_to_postgres_l1.py:143-148`). This
engine makes the contract EXPLICIT and enforced through
:class:`WriterLease` (r5 — upgrading the r4 single-host advisory lock):
an exclusive lease with crash-expiry (TTL + heartbeats) and MONOTONIC
FENCING TOKENS. A second driver raises :class:`ConcurrentWriterError` —
never silently corrupts; a crashed driver's lease is stolen after its
TTL; and a stalled-then-resumed zombie writer fails its pre-commit
``check()`` instead of overwriting the new owner's partitions. The lease
file needs atomic create-if-absent (POSIX/NFSv4/HDFS/ABFS have it; plain
S3 needs conditional PUT or an external coordinator). The residual
unprotected window is the commit itself — closing it needs a CAS on the
data path, i.e. a transactional table format; if Delta/Iceberg is on the
classpath its native MERGE INTO replaces this module, and the composed
plan keeps the engine dependency-free.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Sequence
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dibimbing_case_study_etl_spark.operators.dedup_window import latest_per_key


class ConcurrentWriterError(RuntimeError):
    """Another merge holds the table's writer lock — the caller must retry
    or serialize its pipelines; proceeding would interleave partition
    overwrites from two read snapshots (lost updates)."""


class WriterLease:
    """Fenced writer lease over a storage path — the multi-driver upgrade
    of the r4 advisory lock (which only excluded writers on ONE host and
    could not stop a stalled owner from committing after its lock was
    reclaimed).

    Protocol (works on any store with atomic create-if-absent — POSIX
    ``O_CREAT|O_EXCL``, HDFS/ABFS ``create(overwrite=false)``; plain S3
    needs S3 conditional PUT or an external coordinator, documented
    below):

    - ``acquire()`` atomically creates ``<table>.__writer_lease`` holding
      ``{owner, token, heartbeat}``. The FENCING TOKEN is monotonic: it
      persists across releases in ``<table>.__writer_epoch`` and every
      acquisition (normal or steal) increments it.
    - A holder whose ``heartbeat`` is older than ``ttl_sec`` is presumed
      crashed; the next acquirer STEALS the lease with a higher token.
      Long merges call ``heartbeat()`` between stages.
    - ``check()`` re-reads the lease and raises
      :class:`ConcurrentWriterError` unless this acquisition's token
      still holds. ``merge_upsert`` calls it immediately before the
      final partition-overwrite commit, so a stalled-then-resumed zombie
      writer aborts INSTEAD of overwriting the thief's partitions. The
      residual race is the commit duration itself (between check() and
      the rename) — leases cannot close that window on a non-CAS data
      path; a transactional table format (Delta/Iceberg) is the answer
      where that residue matters, and this module stays dependency-free.
    """

    def __init__(self, table_path: str, ttl_sec: float = 3600.0, owner: str | None = None):
        base = table_path.removeprefix("file:").rstrip("/")
        self.lease_path = base + ".__writer_lease"
        self.epoch_path = base + ".__writer_epoch"
        self.ttl_sec = ttl_sec
        self.owner = owner or f"pid:{os.getpid()}"
        self.token: int | None = None

    def _read_epoch(self) -> int:
        try:
            return int(json.load(open(self.epoch_path))["token"])
        except (OSError, ValueError, KeyError):
            return 0

    def _bump_epoch(self) -> int:
        token = self._read_epoch() + 1
        tmp = f"{self.epoch_path}.{os.getpid()}.{time.monotonic_ns()}"
        with open(tmp, "w") as f:
            json.dump({"token": token}, f)
        os.replace(tmp, self.epoch_path)  # atomic on POSIX
        return token

    def _read_lease(self) -> dict | None:
        try:
            return json.load(open(self.lease_path))
        except OSError:
            return None
        except ValueError:  # torn read of an in-flight write: treat as held
            return {"owner": "?", "token": -1, "heartbeat": time.time()}

    def acquire(self) -> "WriterLease":
        os.makedirs(os.path.dirname(self.lease_path) or ".", exist_ok=True)
        try:
            fd = os.open(self.lease_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            cur = self._read_lease()
            # expiry is judged by the HOLDER's declared ttl (recorded in the
            # lease), not the acquirer's — each writer promises its own
            # heartbeat cadence at acquisition time
            holder_ttl = float(cur.get("ttl", self.ttl_sec)) if cur else self.ttl_sec
            if cur is not None and time.time() - cur.get("heartbeat", 0) <= holder_ttl:
                raise ConcurrentWriterError(
                    f"writer lease {self.lease_path!r} held by "
                    f"{cur.get('owner')!r} (token {cur.get('token')}); "
                    "concurrent merges into one plain-Parquet table are "
                    "last-writer-wins per partition and can lose updates — "
                    "serialize the pipelines, or adopt a transactional "
                    "table format for multi-writer"
                ) from None
            # expired: steal with a strictly higher fencing token
            try:
                os.unlink(self.lease_path)
            except OSError:
                pass
            fd = os.open(self.lease_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        self.token = self._bump_epoch()
        os.write(
            fd,
            json.dumps(
                {
                    "owner": self.owner,
                    "token": self.token,
                    "ttl": self.ttl_sec,
                    "heartbeat": time.time(),
                }
            ).encode(),
        )
        os.close(fd)
        return self

    def heartbeat(self) -> None:
        """Refresh the lease (owner-only; call between long merge stages)."""
        self.check()
        tmp = f"{self.lease_path}.{os.getpid()}.{time.monotonic_ns()}"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "owner": self.owner,
                    "token": self.token,
                    "ttl": self.ttl_sec,
                    "heartbeat": time.time(),
                },
                f,
            )
        os.replace(tmp, self.lease_path)

    def check(self) -> None:
        """Raise unless this acquisition's fencing token still holds."""
        cur = self._read_lease()
        if cur is None or cur.get("token") != self.token or cur.get("owner") != self.owner:
            raise ConcurrentWriterError(
                f"fencing check failed for {self.lease_path!r}: this writer "
                f"holds token {self.token} but the lease now shows "
                f"{cur and cur.get('token')} ({cur and cur.get('owner')!r}) — "
                "the lease expired and was stolen while this merge ran; "
                "aborting before the commit can clobber the new owner's writes"
            )

    def release(self) -> None:
        cur = self._read_lease()
        if cur is not None and cur.get("token") == self.token and cur.get("owner") == self.owner:
            try:
                os.unlink(self.lease_path)
            except OSError:
                pass


@contextmanager
def writer_lock(target_path: str, stale_sec: float = 3600.0):
    """Exclusive writer lease for the merge duration (see
    :class:`WriterLease` — r5 upgraded the r4 single-host advisory lock
    to a fenced lease with monotonic tokens and crash-expiry). Yields the
    lease so callers can ``heartbeat()``/``check()`` mid-merge."""
    lease = WriterLease(target_path, ttl_sec=stale_sec).acquire()
    try:
        yield lease
    finally:
        lease.release()


def _exists(spark: SparkSession, path: str) -> bool:
    if "://" not in path or path.startswith("file:"):
        return os.path.exists(path.removeprefix("file:"))
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    keys: Sequence[str],
    update_cols: Sequence[str],
    order_by: Sequence[Column | str],
    partition_col: str = "date",
    lock: bool = True,
) -> int:
    """MERGE ``source`` into the Parquet table at ``target_path``.

    ``order_by`` resolves duplicate keys *within* the source batch (first row
    under this ordering wins — pass e.g. ``[F.desc("load_ds"), F.desc("_row")]``
    for last-wins batch semantics). Returns -1: the merged-row count is
    unknown without an extra action over the deduped source; callers that
    need it can count ``latest_per_key(source, ...)`` themselves.

    CONTRACT: ``partition_col`` must be functionally dependent on ``keys``
    (here: date = date(ts), ts ∈ PK). If a key could appear under two
    partition values, a source row in a partition the target stores that
    key elsewhere in would insert a duplicate instead of updating —
    partition-scoped merging cannot see across partitions by design
    (that's what keeps it O(touched partitions)). The property suite
    demonstrates the violation mode (tests/test_property.py).

    CONTRACT: the table at ``target_path`` was created from a source with
    the same columns as ``source``; it is read back with the source's schema.
    """
    keys = list(keys)
    update_cols = list(update_cols)
    bad = set(update_cols) & set(keys)
    if bad:
        raise ValueError(f"update_cols may not overlap keys: {sorted(bad)}")

    local = "://" not in target_path or target_path.startswith("file:")
    if lock and local:
        with writer_lock(target_path.removeprefix("file:")) as lease:
            return _merge_impl(
                spark, target_path, source, keys, update_cols, order_by,
                partition_col, lease,
            )
    # non-local URI: the lease file cannot be created through os.* — object
    # stores with atomic create-if-absent (HDFS, ABFS) can host the same
    # protocol via their FileSystem API; plain S3 needs conditional PUT or
    # an external coordinator (see module docstring)
    return _merge_impl(spark, target_path, source, keys, update_cols, order_by, partition_col)


def _merge_impl(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    keys: list[str],
    update_cols: list[str],
    order_by: Sequence[Column | str],
    partition_col: str,
    lease: WriterLease | None = None,
) -> int:
    src = latest_per_key(source, keys=keys, order_by=list(order_by))
    src = src.select(*source.columns)  # canonical column order

    if not _exists(spark, target_path):
        if lease is not None:
            lease.check()
        src.write.mode("overwrite").partitionBy(partition_col).parquet(target_path)
        return -1  # unknown without an extra action; caller can count

    # The target was created from a source of the same columns, so its
    # schema is the source's: no footer-reading inference job.
    target = spark.read.schema(src.schema).parquet(target_path)

    # Only partitions the source touches participate (partition pruning on
    # this IN-filter keeps the merge O(touched partitions)). Deduping never
    # drops a partition value, so the raw source gives the same set without
    # the window's shuffle.
    touched = [r[0] for r in source.select(partition_col).distinct().collect()]
    tgt_slice = target.filter(F.col(partition_col).isin(touched))

    # One full outer join on the keys. Presence flags, not coalesce, pick
    # each side, so a null source value still overwrites its target value.
    s_in = F.col("s.__in_s").isNotNull()
    t_in = F.col("t.__in_t").isNotNull()
    joined = tgt_slice.withColumn("__in_t", F.lit(True)).alias("t").join(
        src.withColumn("__in_s", F.lit(True)).alias("s"), on=keys, how="full_outer"
    )

    def pick(c: str) -> Column:
        if c in keys:
            return F.col(c)  # the USING join already merged both sides' keys
        if c in update_cols:
            return F.when(s_in, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
        return F.when(t_in, F.col(f"t.{c}")).otherwise(F.col(f"s.{c}")).alias(c)

    result = joined.select(*[pick(c) for c in src.columns])

    # Self-referential overwrite: the plan reads target_path. Dynamic
    # partition overwrite stages output before committing, but Spark still
    # refuses plans that read the path being overwritten — break the
    # lineage with a localCheckpoint (kept off the driver, spilled to
    # executor storage).
    result = result.localCheckpoint(eager=True)
    # FENCING POINT: the read snapshot and the checkpointed result are
    # final; if our lease expired mid-merge and another driver took over,
    # abort HERE — committing would overwrite the thief's partitions with
    # rows derived from a stale snapshot (the lost-update this lease
    # protocol exists to prevent).
    if lease is not None:
        lease.check()
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        result.write.mode("overwrite").partitionBy(partition_col).parquet(target_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return -1
