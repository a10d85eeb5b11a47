"""Versioned snapshot tables — a minimal from-scratch table format
(the Iceberg/Delta commit idea reduced to its core) giving the parquet
sink what raw directories cannot: ATOMIC commits, time travel,
rollback, and optimistic concurrency.

Layout::

    table/
      data/<uuid>/part-*.parquet     immutable data segments
      manifests/v00000001.json       one manifest per committed version

A manifest lists the data segments visible at that version plus
metadata (parent version, operation, schema, row count, timestamp).
The MANIFEST IS THE COMMIT: readers resolve the latest manifest and
read exactly its segment list, so a writer that dies mid-copy leaves
only unreferenced files (cleaned by :func:`vacuum`), never a
half-visible table. Commit publication writes the manifest to a temp
file (flushed + fsync'd) and claims the versioned name with an atomic
``os.link`` — so two concurrent writers racing for version N cannot
both win (the loser gets :class:`CommitConflict` and must re-read and
retry — optimistic concurrency, the table-format discipline), AND a
writer killed mid-publication leaves either no manifest or a complete
one, never a truncated current version. ``rollback`` never deletes data — it publishes a NEW
version whose segment list equals the target's, so history stays
intact and time travel keeps working.

Scale posture: a commit writes one small JSON after the data lands —
O(1) driver work regardless of table size; readers list ONE directory
(manifests/) instead of walking the data tree; vacuum deletes only
segments unreferenced by any retained manifest. On an object store the
'x'-mode create would be a conditional PUT (same semantics).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class CommitConflict(RuntimeError):
    """Another writer published this version first — re-read, rebase,
    retry (optimistic concurrency)."""


def _manifest_dir(table: str) -> str:
    return os.path.join(table, "manifests")


def _manifest_path(table: str, version: int) -> str:
    return os.path.join(_manifest_dir(table), f"v{version:08d}.json")


def _versions(table: str) -> list[int]:
    d = _manifest_dir(table)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        if f.startswith("v") and f.endswith(".json"):
            out.append(int(f[1:-5]))
    return sorted(out)


def _load_manifest(table: str, version: int) -> dict:
    with open(_manifest_path(table, version)) as f:
        return json.load(f)


def _publish_manifest(table: str, version: int, manifest: dict) -> None:
    """Atomically claim ``version`` with a COMPLETE manifest.

    The manifest is written to a temp file in manifests/, flushed and
    fsync'd, then ``os.link``'d onto the versioned name — link is an
    atomic claim (fails with FileExistsError if the version exists,
    preserving the optimistic-concurrency race) and, unlike an in-place
    ``open('x') + json.dump``, a process killed mid-write leaves either
    no manifest or a complete one, never a truncated current_version
    that poisons every later read AND blocks the retry. (Iceberg/Delta
    publish manifests via write-temp + atomic rename for the same
    reason; on an object store this step is a conditional PUT.)"""
    os.makedirs(_manifest_dir(table), exist_ok=True)
    tmp = os.path.join(
        _manifest_dir(table), f".tmp-{uuid.uuid4().hex}.json"
    )
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, _manifest_path(table, version))
    except FileExistsError as exc:
        raise CommitConflict(
            f"version {version} was published concurrently"
        ) from exc
    finally:
        os.unlink(tmp)


def _carry_hwm(manifest: dict, table: str, parent: int | None) -> dict:
    """Propagate the stream high-water mark through non-stream commits
    so exactly-once replay detection survives vacuum (see
    :func:`write_stream_snapshots`)."""
    if parent is not None:
        hwm = _load_manifest(table, parent).get("stream_batch_hwm")
        if hwm is not None:
            manifest["stream_batch_hwm"] = hwm
    return manifest


def current_version(table: str) -> int | None:
    vs = _versions(table)
    return vs[-1] if vs else None


def _table_schema(df: DataFrame, base: str | None) -> str:
    """The schema a commit publishes: the ``base`` manifest schema's
    fields in their order, then ``df``'s extra columns (segments that
    lack a column read it as NULL). A same-named column with a different
    type raises ``ValueError`` before anything is published."""
    if base is None:
        return df.schema.json()
    merged = _schema_from_json(base)
    for field in df.schema.fields:
        if field.name not in merged.fieldNames():
            merged.add(field)
            continue
        have = merged[field.name].dataType
        if have != field.dataType:
            raise ValueError(
                f"column {field.name!r} is {have.simpleString()} in the "
                f"table, {field.dataType.simpleString()} in the commit"
            )
    return merged.json()


def commit(
    df: DataFrame,
    table: str,
    mode: str = "append",
    expected_version: int | None = ...,
) -> int:
    """Write ``df`` as a new segment and publish the next version.

    ``mode='append'`` unions the new segment with the parent's list;
    ``'overwrite'`` starts the list fresh. ``expected_version`` pins
    the parent this commit was based on (None = expect an empty
    table); leave it at the default to take whatever is current
    (last-writer-wins append). On a version race the manifest create
    fails atomically and :class:`CommitConflict` is raised — no data
    is visible, the orphaned segment is vacuum-able."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unsupported commit mode {mode!r}")
    os.makedirs(_manifest_dir(table), exist_ok=True)
    parent = current_version(table)
    if expected_version is not ...:
        if parent != expected_version:
            raise CommitConflict(
                f"table at version {parent}, expected {expected_version}"
            )
    if mode == "append" and parent is not None:
        parent_m = _load_manifest(table, parent)
    else:
        parent_m = {}
    schema = _table_schema(df, parent_m.get("schema"))
    segment = os.path.join("data", uuid.uuid4().hex)
    df.write.parquet(os.path.join(table, segment))
    segments = list(parent_m.get("segments", []))
    segments.append(segment)
    version = (parent if parent is not None else -1) + 1
    manifest = {
        "version": version,
        "parent": parent,
        "operation": mode,
        "segments": segments,
        "schema": schema,
        "committed_at": time.time(),
    }
    # the loser of a version race fails inside _publish_manifest,
    # before anything becomes visible.
    _publish_manifest(table, version, _carry_hwm(manifest, table, parent))
    return version


def read_snapshot(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """Read the table AT a version (time travel); latest by default.
    Reads exactly the manifest's segment list — files from later or
    failed commits are invisible by construction."""
    if version is None:
        version = current_version(table)
        if version is None:
            raise ValueError(f"{table} has no committed versions")
    m = _load_manifest(table, version)
    return _read_segments(spark, table, m["segments"], m["schema"])


def _read_segments(
    spark: SparkSession, table: str, segments: list[str], schema_json: str
) -> DataFrame:
    """Read ``segments`` with the manifest schema: segments committed
    before an additive schema change surface the new columns as NULL,
    and no footer-merge job runs (the manifest already holds the union,
    see :func:`_table_schema`)."""
    schema = _schema_from_json(schema_json)
    if not segments:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(
        *[os.path.join(table, s) for s in segments]
    )


def _schema_from_json(schema_json: str):
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(schema_json))


def history(table: str) -> list[dict]:
    """Commit log, oldest first: version, parent, operation, segment
    and row-bearing file counts, timestamp."""
    out = []
    for v in _versions(table):
        m = _load_manifest(table, v)
        out.append(
            {
                "version": m["version"],
                "parent": m["parent"],
                "operation": m["operation"],
                "n_segments": len(m["segments"]),
                "committed_at": m["committed_at"],
            }
        )
    return out


def rollback(table: str, version: int) -> int:
    """Publish a NEW version whose visible data equals ``version``'s.
    Nothing is deleted: the rolled-back-over versions stay readable
    (audit trail), and a later vacuum decides what is reclaimable."""
    parent = current_version(table)
    if parent is None:
        raise ValueError(f"{table} has no committed versions")
    target = _load_manifest(table, version)
    new_version = parent + 1
    manifest = {
        "version": new_version,
        "parent": parent,
        "operation": f"rollback_to_{version}",
        "segments": target["segments"],
        "schema": target["schema"],
        "committed_at": time.time(),
    }
    _publish_manifest(
        table, new_version, _carry_hwm(manifest, table, parent)
    )
    return new_version


def read_changes(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Incremental consumption: the rows ADDED strictly after
    ``from_version`` up to ``to_version`` (latest by default) — i.e.
    the segments in the target manifest that the base manifest does
    not reference. Valid only across append lineage: an overwrite or
    rollback in the range rewrites visibility rather than adding rows,
    so the delta is not expressible as added segments — raises
    ``ValueError`` (callers fall back to a full re-read, the same
    contract as table-format CDC readers without a changelog)."""
    if to_version is None:
        to_version = current_version(table)
    base = set(_load_manifest(table, from_version)["segments"])
    for v in _versions(table):
        if from_version < v <= to_version:
            m = _load_manifest(table, v)
            if m["operation"] != "append":
                raise ValueError(
                    f"non-append operation {m['operation']!r} at version "
                    f"{v}: incremental read undefined, re-read the snapshot"
                )
    target = _load_manifest(table, to_version)
    added = [s for s in target["segments"] if s not in base]
    return _read_segments(spark, table, added, target["schema"])


def write_stream_snapshots(
    stream_df: DataFrame,
    table: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Streaming sink into a snapshot table with EXACTLY-ONCE commits:
    each micro-batch commits through :func:`commit` inside
    ``foreachBatch``, and every manifest carries a MONOTONIC high-water
    mark ``stream_batch_hwm`` (max committed batch id) — on
    restart-after-failure Spark replays the last uncommitted batch, and
    a batch id at or below the LATEST manifest's mark is SKIPPED, so
    replays cannot double-append (the idempotent-sink discipline
    ``foreachBatch`` requires; Spark only guarantees at-least-once
    delivery into it). Dedup reads ONE manifest — O(1) per batch, not
    O(versions) — and, because every commit (stream or not) carries the
    mark forward via ``_carry_hwm``, the guarantee SURVIVES ``vacuum``
    deleting older manifests; batch ids from a structured-streaming
    checkpoint are strictly increasing, so a single max is a complete
    replay record. Returns the started query."""

    def _commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        cur = current_version(table)
        if cur is not None:
            hwm = _load_manifest(table, cur).get("stream_batch_hwm")
            if hwm is not None and batch_id <= hwm:
                return  # replayed batch: already committed, skip
        seen = 0
        while True:
            try:
                parent = current_version(table)
                version = (parent if parent is not None else -1) + 1
                _commit_with_extra(
                    batch_df, table, parent, version,
                    {"stream_batch_id": batch_id},
                )
                return
            except CommitConflict:
                seen += 1
                if seen > 5:
                    raise

    writer = stream_df.writeStream.foreachBatch(_commit_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _commit_with_extra(
    df: DataFrame, table: str, parent: int | None, version: int, extra: dict
) -> None:
    os.makedirs(_manifest_dir(table), exist_ok=True)
    parent_m = _load_manifest(table, parent) if parent is not None else {}
    schema = _table_schema(df, parent_m.get("schema"))
    segment = os.path.join("data", uuid.uuid4().hex)
    df.write.parquet(os.path.join(table, segment))
    segments = list(parent_m.get("segments", []))
    segments.append(segment)
    manifest = {
        "version": version,
        "parent": parent,
        "operation": "append",
        "segments": segments,
        "schema": schema,
        "committed_at": time.time(),
        **extra,
    }
    if "stream_batch_id" in extra:
        prior = parent_m.get("stream_batch_hwm")
        manifest["stream_batch_hwm"] = (
            extra["stream_batch_id"]
            if prior is None
            else max(prior, extra["stream_batch_id"])
        )
    _publish_manifest(table, version, manifest)


def cluster_by(
    spark: SparkSession, table: str, sort_cols: list[str], n_files: int = 4
) -> int:
    """Publish a CLUSTERED rewrite of the current snapshot:
    range-partition on ``sort_cols`` and sort within partitions, so
    each output file owns a disjoint key range — the write-side layout
    that makes file-level min/max zone maps selective (a point/range
    predicate on the sort key prunes to ~one file). Published as a new
    overwrite-style version; history and time travel keep working."""
    df = read_snapshot(spark, table)
    parent = current_version(table)
    if parent is None:
        raise ValueError(f"{table} has no committed versions")
    version = parent + 1
    clustered = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(
        *sort_cols
    )
    segment = os.path.join("data", uuid.uuid4().hex)
    clustered.write.parquet(os.path.join(table, segment))
    manifest = {
        "version": version,
        "parent": parent,
        "operation": f"cluster_by_{'_'.join(sort_cols)}",
        "segments": [segment],
        "schema": _table_schema(df, None),
        "committed_at": time.time(),
    }
    _publish_manifest(table, version, _carry_hwm(manifest, table, parent))
    return version


def vacuum(table: str, keep_last: int = 1) -> list[str]:
    """Delete data segments unreferenced by the ``keep_last`` most
    recent manifests (and drop the older manifests). Time travel
    within the retained window keeps working; orphans from failed
    commits are reclaimed. Returns the deleted segment paths."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    vs = _versions(table)
    keep = set(vs[-keep_last:])
    referenced: set[str] = set()
    for v in keep:
        referenced.update(_load_manifest(table, v)["segments"])
    data_dir = os.path.join(table, "data")
    deleted = []
    if os.path.isdir(data_dir):
        for seg in os.listdir(data_dir):
            rel = os.path.join("data", seg)
            if rel not in referenced:
                shutil.rmtree(os.path.join(table, rel))
                deleted.append(rel)
    for v in vs:
        if v not in keep:
            os.remove(_manifest_path(table, v))
    # reclaim temp manifests orphaned by a writer killed pre-publish
    for f in os.listdir(_manifest_dir(table)):
        if f.startswith(".tmp-"):
            os.remove(os.path.join(_manifest_dir(table), f))
    return sorted(deleted)
