"""Write-path sinks (SURVEY §2.1 S6-S11, S13).

Reference semantics:
- S6 upsert: `INSERT ... ON CONFLICT DO UPDATE` on natural keys
  (`src/ingest_v2.py:195-222`) — idempotent re-ingest.
- S7 conditional merge: `coalesce(excluded.x, old.x)`,
  `least/greatest(first_seen/last_seen)` (`src/ingest_v2.py:201-215`).
- S8 delete+rebuild window: delete a date range then insert
  (`crisis_event_rollups.py:108-137,725-754`).
- S9 dynamic date partitions (`src/ingest_v2.py:234-250`).
- S10/S11 CSV/JSON serving exports (`app.py:6387-6739,925-941`).
- S13 TTL result cache with prefix invalidation (`app.py:56-57,
  944-957,7051-7056`).

Spark-first mappings: upsert = full-outer merge + atomic directory
swap (plain parquet; Delta's MERGE INTO is the managed-table
equivalent); delete+rebuild = dynamic partition overwrite, which at
100 TB touches ONLY the affected date partitions — the same targeted
recompute scope the reference uses. Writers to one target serialize on
its ingest lock, an flock (`observe.file_lock`) that a crashed writer
cannot leave held.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..observe import file_lock


def _ingest_lock(target_path: str):
    """Serialize concurrent upserts to one target — the analog of the
    reference's per-table advisory lock (`src/ingest_v2.py:77-103`),
    which makes ingest read-modify-write atomic: an flock on
    `<target>.lock` (`observe.file_lock`), which a crashed holder
    cannot leave held. On a real deployment the table format's commit
    protocol (Delta/Iceberg optimistic commit) plays this role."""
    return file_lock(target_path + ".lock")


def _atomic_swap(tmp: str, dest: str) -> None:
    """Replace dest dir with tmp dir (local-FS swap; on object stores
    this becomes a manifest/table-format commit)."""
    old = dest + ".old-" + uuid.uuid4().hex[:8]
    if os.path.exists(dest):
        os.rename(dest, old)
    os.rename(tmp, dest)
    if os.path.exists(old):
        shutil.rmtree(old)


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    conditional: dict[str, str] | None = None,
) -> DataFrame:
    """MERGE-style upsert into a parquet target on natural keys (S6).

    Default column semantics: the incoming row wins (ON CONFLICT DO
    UPDATE). `conditional` overrides per column (S7):
      'coalesce' -> coalesce(new, old)   (keep old when update is null)
      'least'    -> least(new, old)      (first_seen)
      'greatest' -> greatest(new, old)   (last_seen)
    Returns the merged frame (also written to target_path).

    Concurrent writers serialize on an advisory lock (see
    `_ingest_lock`): each upsert's read-merge-swap is atomic, so
    interleaved upserts behave as if run one after the other — no
    lost updates, last writer wins per conflicting key (the
    reference's `src/ingest_v2.py:77-103` guarantee)."""
    with _ingest_lock(target_path):
        return _merge_upsert_locked(spark, target_path, updates, keys, conditional)


def _merge_frames(
    existing: DataFrame,
    updates: DataFrame,
    keys: list[str],
    conditional: dict[str, str] | None,
) -> DataFrame:
    """The S6/S7 merge itself: full-outer on the natural keys, incoming
    row wins per column unless `conditional` names coalesce/least/
    greatest semantics. Shared by the whole-table and the
    partition-scoped upserts so the two paths can never drift."""
    conditional = conditional or {}
    n = updates.select(
        *keys,
        *[
            F.col(c).alias(f"__new_{c}")
            for c in updates.columns
            if c not in keys
        ],
    )
    merged = existing.join(n, keys, "full_outer")
    value_cols = [c for c in updates.columns if c not in keys]
    out_cols = [F.col(k) for k in keys]
    for c in value_cols:
        new, old = F.col(f"__new_{c}"), F.col(c)
        mode = conditional.get(c, "new_wins")
        if mode == "coalesce":
            expr = F.coalesce(new, old)
        elif mode == "least":
            expr = F.least(new, old)
        elif mode == "greatest":
            expr = F.greatest(new, old)
        else:  # new row wins wholesale, but absent update keeps old
            expr = F.when(new.isNotNull(), new).otherwise(old)
        out_cols.append(expr.alias(c))
    return merged.select(out_cols)


def _merge_upsert_locked(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    conditional: dict[str, str] | None = None,
) -> DataFrame:
    if os.path.exists(target_path):
        existing = spark.read.parquet(target_path)
        merged = _merge_frames(existing, updates, keys, conditional)
    else:
        merged = updates
    tmp = target_path + ".tmp-" + uuid.uuid4().hex[:8]
    merged.write.mode("overwrite").parquet(tmp)
    _atomic_swap(tmp, target_path)
    return spark.read.parquet(target_path)


def merge_upsert_partitioned(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    partition_col: str,
    conditional: dict[str, str] | None = None,
) -> DataFrame:
    """Partition-scoped MERGE upsert (S6 at scale, VERDICT r12 #3): the
    target is a `partition_col`-partitioned parquet table and the
    rewrite is bounded to the partitions the batch actually touches —
    at 100 TB a daily ingest rewrites a few date directories, never the
    table (the whole-table `merge_upsert` swap is the right shape only
    for small dimension tables).

    Mechanics, all existing machinery:
      1. touched = distinct `partition_col` values in the batch — a
         dictionary-class collect (a daily batch touches days, not a
         corpus; same bounded-collect class as the MV dictionary reads);
      2. the existing side reads ONLY those partitions (the isin filter
         is a partition filter, so the scan prunes to the touched
         directories — asserted at runtime via input_file_name in
         the test; DataFrame.inputFiles() reports the PRE-pruning
         relation and cannot witness this);
      3. the S6/S7 merge runs on that pruned slice (`_merge_frames`,
         shared with the whole-table path);
      4. the write goes through `replace_window`'s dynamic partition
         overwrite, which replaces exactly the touched directories and
         leaves every other partition's files byte-identical.

    `partition_col` must be one of `keys`: an update that MOVED a row
    across partitions would have to delete it from a partition the
    batch's values don't name, which a touched-partition rewrite cannot
    see — so that contract is refused loudly rather than silently
    leaving a duplicate behind. (The reference's natural keys include
    the date for every date-partitioned rollup —
    `crisis_event_rollups.py:108-137` — so this matches its semantics.)

    Concurrency: same advisory lock as `merge_upsert`; on a managed
    table format this whole function is Delta/Iceberg `MERGE INTO` with
    partition predicates, whose commit protocol replaces both the lock
    and the directory swap."""
    if partition_col not in keys:
        raise ValueError(
            "merge_upsert_partitioned: partition_col "
            f"{partition_col!r} must be part of the natural key "
            f"{keys} — a partition-crossing update cannot be merged "
            "partition-locally (see docstring)."
        )
    if partition_col not in updates.columns:
        raise ValueError(
            f"merge_upsert_partitioned: updates lack {partition_col!r}"
        )
    with _ingest_lock(target_path):
        if not os.path.exists(target_path):
            updates.write.partitionBy(partition_col).parquet(target_path)
            return spark.read.parquet(target_path)
        touched = [
            r[0]
            for r in updates.select(partition_col).distinct().collect()
        ]
        if any(v is None for v in touched):
            raise ValueError(
                "merge_upsert_partitioned: the batch contains NULL "
                f"{partition_col!r} values — NULL lands in the default "
                "partition and an isin() filter can never match it, so "
                "the merge would silently drop those rows. Clean or "
                "default the partition key upstream."
            )
        existing = (
            spark.read.parquet(target_path)
            .where(F.col(partition_col).isin(touched))
        )
        # Partition-column values come back from the directory names;
        # align column ORDER to the batch so the merged write's schema
        # is stable regardless of partition-discovery ordering.
        existing = existing.select(*updates.columns)
        merged = _merge_frames(existing, updates, keys, conditional)
        replace_window(spark, target_path, merged, date_col=partition_col)
        return spark.read.parquet(target_path)


def write_date_partitioned(df: DataFrame, path: str, date_col: str = "date") -> None:
    """Date-partitioned parquet write (S9): partitions materialize
    dynamically per value, the Spark analog of the reference's
    CREATE-PARTITION-on-ingest DDL."""
    df.write.mode("overwrite").partitionBy(date_col).parquet(path)


def replace_window(
    spark: SparkSession,
    path: str,
    rebuilt: DataFrame,
    date_col: str = "date",
) -> None:
    """Delete+rebuild a date window (S8): dynamic partition overwrite
    replaces ONLY the partitions present in `rebuilt`, leaving every
    other date untouched — the `replaceWhere` / targeted-recompute
    shape of `crisis_event_rollups.py:725-754`."""
    (
        rebuilt.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(date_col)
        .parquet(path)
    )


def csv_sink(df: DataFrame, path: str) -> None:
    """CSV serving export (S10)."""
    df.write.mode("overwrite").option("header", True).csv(path)


def json_rows(df: DataFrame, limit: int = 1000) -> list[dict]:
    """JSON serving rows with type coercion (S11, `app.py:925-941`):
    dates/timestamps -> ISO strings, Decimal -> float, handled by
    Spark's JSON writer semantics.

    This is the ONE sanctioned driver-side collect (it serializes an
    endpoint response), so it clamps to `limit` rows like the
    reference clamps every endpoint (`app.py:2872-2873`) — a miswired
    caller can't collect a fact table. Pass limit=None to opt out
    explicitly (exports that stream to a file should use csv_sink /
    the JSON writer instead)."""
    import json

    if limit is not None:
        df = df.limit(limit)
    return [json.loads(s) for s in df.toJSON().collect()]


def gzip_response(payload: bytes, min_size: int = 1024) -> tuple[bytes, bool]:
    """Serving-layer gzip (S12, `app.py:5694-5719`): compress payloads
    at or above the threshold; smaller ones pass through untouched.
    Returns (body, was_compressed)."""
    import gzip

    if len(payload) < min_size:
        return payload, False
    return gzip.compress(payload, mtime=0), True


class TTLCache:
    """Serving-layer result cache with TTL + prefix invalidation (S13,
    `app.py:56-57,944-957,7051-7056`): write-paths invalidate every
    key under the affected endpoint prefix."""

    def __init__(self, ttl_seconds: float = 300.0, clock=time.monotonic):
        self.ttl = ttl_seconds
        self._clock = clock
        self._store: dict[str, tuple[float, object]] = {}

    def get(self, key: str):
        hit = self._store.get(key)
        if hit is None:
            return None
        stamp, value = hit
        if self._clock() - stamp > self.ttl:
            del self._store[key]
            return None
        return value

    def set(self, key: str, value) -> None:
        self._store[key] = (self._clock(), value)

    def invalidate_prefix(self, prefix: str) -> int:
        doomed = [k for k in self._store if k.startswith(prefix)]
        for k in doomed:
            del self._store[k]
        return len(doomed)


def apply_item_override(
    spark: SparkSession,
    overrides_path: str,
    *,
    url_hash: str,
    risk_override: str | None = None,
    controlled_override: bool | None = None,
    reason: str | None = None,
    user_id: str | None = None,
    created_at: str,
) -> DataFrame:
    """The override-write RPC (`sql/rpcs.sql:apply_item_override`):
    validate, INSERT one row into the item-overrides table, return the
    inserted row — the reference's basic-validation rules verbatim:

    - url_hash required and non-blank after trimming
      (`rpcs.sql:21-23`);
    - at least one of risk_override / controlled_override
      (`rpcs.sql:25-27`);
    - the write is an APPEND (the reference RPC is a plain INSERT —
      multiple overrides per url_hash accumulate; the read path's
      latest-wins/coalesce resolution is a query-side concern).

    Deliberate divergences, both documented: `id` is the sha256 of the
    row's natural content instead of a random uuid (deterministic
    engines don't mint randomness; collisions require identical
    (url_hash, created_at, user_id) which the reference would also
    conflate in effect), and `created_at` is caller-supplied instead
    of now() (same reason — and the reference's timestamptz is the
    DB clock, equally external to the row).

    The append runs under the same advisory ingest lock as the
    upsert sinks, so concurrent override writes serialize. MV
    consumers need no refresh hook: the store keys every MV by its
    base dataset's content, so a changed dataset is a new key; a
    date-partitioned derived table is recomputed per slice with
    `merge_upsert_partitioned` / `replace_window` (§2.10)."""
    trimmed = (url_hash or "").strip()
    if not trimmed:
        raise ValueError("url_hash is required")
    if risk_override is None and controlled_override is None:
        raise ValueError("Provide risk_override or controlled_override")
    row = spark.createDataFrame(
        [
            (
                trimmed,
                risk_override,
                controlled_override,
                reason,
                user_id,
                created_at,
            )
        ],
        "url_hash string, risk_override string, controlled_override boolean,"
        " reason string, user_id string, created_at string",
    ).select(
        F.sha2(
            F.concat_ws(
                "\x1f",
                F.col("url_hash"),
                F.coalesce(F.col("user_id"), F.lit("")),
                F.col("created_at"),
            ),
            256,
        ).alias("id"),
        "url_hash",
        "risk_override",
        "controlled_override",
        "reason",
        "user_id",
        "created_at",
    )
    with _ingest_lock(overrides_path):
        if os.path.exists(overrides_path):
            merged = spark.read.parquet(overrides_path).unionByName(row)
        else:
            merged = row
        tmp = overrides_path + ".tmp-" + uuid.uuid4().hex[:8]
        merged.write.mode("overwrite").parquet(tmp)
        _atomic_swap(tmp, overrides_path)
    return row
