"""Sink maintenance: small-file compaction.

The per-unit, per-sink fan-out (and the reference's 1 MiB flush sizing,
sumologicexporter/config.go:113) produces many small files over time;
training-data consumers want few large, sorted files.  ``compact``
rewrites a parquet directory to ~``target_file_bytes`` files, optionally
sorted, using a staging-dir + atomic rename so readers never observe a
half-compacted sink.

At cluster scale this is the parquet stand-in for Iceberg's
rewrite_data_files; the same call site switches to the Iceberg action
when the catalog is present.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import SparkSession


def dir_bytes(path: str) -> int:
    """Data bytes under ``path`` (hidden files/dirs — _SUCCESS, .crc,
    `_snapshots/` metadata — excluded)."""
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def _partition_cols_on_disk(path: str) -> list[str]:
    """The hive-style partition column chain actually present under
    ``path`` (e.g. ['unit'] or ['cycle']), by walking the first `col=value`
    subdir at each level."""
    cols: list[str] = []
    probe = path
    while True:
        subs = sorted(d for d in os.listdir(probe)
                      if "=" in d and not d.startswith(("_", "."))
                      and os.path.isdir(os.path.join(probe, d)))
        if not subs:
            return cols
        cols.append(subs[0].split("=", 1)[0])
        probe = os.path.join(probe, subs[0])


def compact(spark: SparkSession, path: str,
            target_file_bytes: int = 128 * 1024 * 1024,
            sort_by: list[str] | None = None) -> dict:
    """Rewrite ``path`` into ceil(bytes/target) files.  Returns
    {files_before, files_after, bytes}.

    Snapshot metadata (`_snapshots/`, `_SNAPSHOT.json`) is carried over
    from the old directory and, when the sink had a published snapshot,
    a NEW version is published over the rewritten files — so the
    CURRENT snapshot never lists dangling pre-compaction files (the
    rewrite_data_files + commit sequence; older pinned versions
    naturally dangle, which verify_snapshot/read_pinned report loud)."""
    before = sum(len(fs) for _r, _d, fs in os.walk(path))
    size = dir_bytes(path)
    n_files = max(1, -(-size // target_file_bytes))
    df = spark.read.parquet(path)
    part_cols = _partition_cols_on_disk(path)
    if sort_by:
        df = df.repartitionByRange(n_files, *sort_by).sortWithinPartitions(*sort_by)
    else:
        df = df.coalesce(n_files)
    staging = f"{path.rstrip('/')}__compact_{uuid.uuid4().hex[:8]}"
    writer = df.write.mode("overwrite")
    if part_cols:
        # preserve the on-disk partition layout (unit=K, or the
        # incremental cycle=<id>): writing flat files next to
        # partition dirs would leave a mixed layout later appends can't
        # coexist with ("conflicting directory structures")
        writer = writer.partitionBy(*part_cols)
    writer.parquet(staging)
    backup = f"{path.rstrip('/')}__old"
    os.rename(path, backup)
    os.rename(staging, path)
    # carry snapshot metadata across the swap
    for meta in (_SNAPDIR, "_SNAPSHOT.json"):
        old_meta = os.path.join(backup, meta)
        if os.path.exists(old_meta):
            os.rename(old_meta, os.path.join(path, meta))
    shutil.rmtree(backup)
    prev = read_snapshot(path)
    if prev is not None:
        carried = {k: v for k, v in prev.items()
                   if k not in ("version", "run_id", "published_at",
                                "n_files", "total_bytes", "files")}
        publish_snapshot(path, run_id=f"compact-{uuid.uuid4().hex[:8]}",
                         extra={**carried, "compacted_from": prev.get(
                             "version", 0)})
    after = sum(len(fs) for _r, _d, fs in os.walk(path))
    return {"files_before": before, "files_after": after, "bytes": size}


_SNAPDIR = "_snapshots"
_HINT = "version-hint.text"          # same pointer-file model as Iceberg's
                                     # HadoopTableOperations version hint


def _snap_dir(path: str) -> str:
    return os.path.join(path, _SNAPDIR)


def current_version(path: str) -> int:
    """Current snapshot version (0 = never published)."""
    hint = os.path.join(_snap_dir(path), _HINT)
    if not os.path.exists(hint):
        return 0
    with open(hint) as f:
        return int(f.read().strip())


def publish_snapshot(path: str, run_id: str, extra: dict | None = None) -> str:
    """Atomic versioned snapshot publish (the Iceberg-commit stand-in,
    mirroring HadoopTableOperations: immutable numbered metadata files
    plus a tiny version-hint pointer swapped last).

    Writes `_snapshots/v{N}.json` (N = current+1) listing every data
    file (relative path, bytes) plus run metadata — temp-file + rename,
    never mutated after publish — then atomically swaps
    `_snapshots/version-hint.text` to N.  Readers that pinned version
    N-1 keep a consistent file list even while a later run rewrites
    units; a crashed writer never leaves a half-updated snapshot (an
    orphan v{N}.json without the hint swap is simply unreferenced and
    overwritten by the next publish).  `_SNAPSHOT.json` at the sink
    root is still written as a convenience alias of the current
    version.  Single writer per sink path assumed (enforced upstream by
    the run manifest), so no optimistic-retry loop on the hint swap.
    """
    import json
    import time

    files = []
    for root, dirs, fs in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in sorted(fs):
            if f.startswith(("_", ".")):
                continue
            full = os.path.join(root, f)
            files.append({"path": os.path.relpath(full, path),
                          "bytes": os.path.getsize(full)})
    version = current_version(path) + 1
    snap = {"version": version, "run_id": run_id,
            "published_at": time.time(),
            "n_files": len(files), "total_bytes": sum(f["bytes"] for f in files),
            "files": files, **(extra or {})}
    sd = _snap_dir(path)
    os.makedirs(sd, exist_ok=True)
    target = os.path.join(sd, f"v{version}.json")
    tmp = target + ".tmp"
    with open(tmp, "w") as f:
        json.dump(snap, f)
    os.replace(tmp, target)
    # legacy/current alias at the sink root
    alias_tmp = os.path.join(path, "_SNAPSHOT.json.tmp")
    with open(alias_tmp, "w") as f:
        json.dump(snap, f)
    os.replace(alias_tmp, os.path.join(path, "_SNAPSHOT.json"))
    # the commit point: readers see version N only after this swap
    hint_tmp = os.path.join(sd, _HINT + ".tmp")
    with open(hint_tmp, "w") as f:
        f.write(str(version))
    os.replace(hint_tmp, os.path.join(sd, _HINT))
    return target


def read_snapshot(path: str, version: int | None = None) -> dict | None:
    """Snapshot metadata; ``version=None`` reads the current one."""
    import json
    if version is None:
        version = current_version(path)
        if version == 0:
            # pre-versioning sinks: fall back to the root alias
            legacy = os.path.join(path, "_SNAPSHOT.json")
            if os.path.exists(legacy):
                with open(legacy) as f:
                    return json.load(f)
            return None
    target = os.path.join(_snap_dir(path), f"v{version}.json")
    if not os.path.exists(target):
        return None
    with open(target) as f:
        return json.load(f)


def snapshot_versions(path: str) -> list[int]:
    """Published versions, ascending (the snapshot log)."""
    sd = _snap_dir(path)
    if not os.path.isdir(sd):
        return []
    out = []
    for f in os.listdir(sd):
        if f.startswith("v") and f.endswith(".json"):
            out.append(int(f[1:-5]))
    return sorted(v for v in out if v <= current_version(path))


def verify_snapshot(path: str, version: int | None = None) -> list[str]:
    """Dangling data files in a snapshot (paths listed but no longer on
    storage — e.g. rewritten by compaction or dynamic-partition
    overwrite, the parquet stand-in's analog of reading a snapshot
    whose files were expired).  Empty list = fully readable."""
    snap = read_snapshot(path, version)
    if snap is None:
        raise FileNotFoundError(
            f"no snapshot {'(current)' if version is None else version} "
            f"under {path}")
    missing = []
    for f in snap["files"]:
        full = os.path.join(path, f["path"])
        if not os.path.exists(full) or os.path.getsize(full) != f["bytes"]:
            missing.append(f["path"])
    return missing


def read_pinned(spark: SparkSession, path: str,
                version: int | None = None):
    """Time-travel read: a DataFrame over EXACTLY the pinned snapshot's
    data files (not whatever is on disk now).  Fails loud with the
    dangling file list when the pinned files were since rewritten —
    the same contract as reading an Iceberg snapshot after
    expire_snapshots, instead of silently returning different rows.

    NOTE the parquet stand-in's limitation vs real Iceberg: writers
    here REPLACE files in place (dynamic partition overwrite /
    compaction rename), so an old version stays readable only until
    its units are rewritten.  Appending new units keeps all prior
    versions readable.  The Iceberg runtime path (`table_format=
    "iceberg"`) gets true time travel from the catalog."""
    missing = verify_snapshot(path, version)
    if missing:
        v = version if version is not None else current_version(path)
        raise FileNotFoundError(
            f"snapshot v{v} of {path} has {len(missing)} dangling "
            f"file(s), e.g. {missing[:3]} — rewritten since publish "
            f"(see verify_snapshot)")
    snap = read_snapshot(path, version)
    full = [os.path.join(path, f["path"]) for f in snap["files"]]
    # basePath keeps partition columns (unit=K dirs) in the schema
    return spark.read.option("basePath", path).parquet(*full)


def sweep_snapshots(path: str) -> dict[int, list[str]]:
    """verify_snapshot over EVERY published version: version ->
    dangling file list (empty = that version is still fully pinnable).
    The maintenance sweep an operator runs after compaction/expiry to
    know which historical versions remain time-travelable — see
    ``jobs/verify_snapshots.py`` for the per-sink sweep job."""
    return {v: verify_snapshot(path, v) for v in snapshot_versions(path)}


def expire_snapshots(path: str, keep_last: int = 2) -> list[int]:
    """Drop old snapshot metadata, keeping the newest ``keep_last``
    versions (Iceberg's expire_snapshots, metadata side: data files are
    managed by the overwrite-in-place writers here, so only the
    version JSONs are removed).  Returns the expired versions."""
    versions = snapshot_versions(path)
    expired = versions[:-keep_last] if keep_last > 0 else versions
    for v in expired:
        os.remove(os.path.join(_snap_dir(path), f"v{v}.json"))
    return expired
