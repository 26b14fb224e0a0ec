"""Shared table-write shapes and the one table-rewrite protocol.

- ``salted_partition_write``: the salted ``partitionBy`` write used by
  the IVF/LSH ANN tables and the partitioned KB export, so a fix to the
  salting or write semantics lands everywhere at once.
- ``rewrite_table``: the one crash-safe protocol that rewrites a table
  directory in place (copy to a sibling dir, verify the row count, carry
  the sidecars, marker, rename swap, recovery and orphan sweep). Both
  compactors call it: ``compact_partitioned_table`` for the partitioned
  ANN tables and ``datapipe.dedup.compact_minhash_tables`` for the
  bucketed MinHash tables. Only this module writes or resolves a
  ``.compact-pending`` marker.
- Parameter sidecars: one format for the small JSON files a table keeps
  beside its data (``_ivf_centroids.json``, ``_lsh_planes.json``,
  ``_minhash_params.json``). A sidecar is ``<table dir>/_<name>.json``;
  the underscore makes parquet readers skip it, and ``rewrite_table``
  carries every sidecar into the rewritten table.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_partition_write(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    salt_key: Column,
    files_per_partition: int,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write ``partitionBy(partition_cols)`` with the output file count
    bounded at ≤ (distinct partition values) × ``files_per_partition``.

    A raw partitionBy write opens one file per (task × partition value the
    task sees) — the classic small-files fan-out: 10k input tasks × 256
    values is millions of tiny files. The salted repartition on
    (partition cols, xxhash64(salt_key) mod files_per_partition) costs ONE
    exchange at write time; each (value, salt) slot is then written by the
    one shuffle task that owns it. The bound is a CEILING: slot hash
    collisions into one task merge files (one larger file per value that
    task sees), never multiply them. Salt on a row-id-like key so file
    sizes within a partition value stay even regardless of content.

    ``mode="append"`` grows an existing table: each append adds at most
    the same bounded file count per partition value, so N append
    generations cap at N × the per-write ceiling
    (``compact_partitioned_table`` rewrites back to the single-write
    bound when file counts matter more than append cost)."""
    out = df.repartition(
        *[F.col(c) for c in partition_cols],
        F.pmod(F.xxhash64(salt_key), F.lit(files_per_partition)),
    )
    writer = out.write.mode(mode).partitionBy(*partition_cols)
    getattr(writer, fmt)(path)


def _sidecar_path(table_dir: str, name: str) -> str:
    return os.path.join(table_dir, f"_{name}.json")


def _is_sidecar(entry: str) -> bool:
    return entry.startswith("_") and entry.endswith(".json")


def read_sidecar(table_dir: str, name: str):
    """The JSON value of the sidecar ``name`` of the table at
    ``table_dir``; raises ``FileNotFoundError`` when the table has none."""
    with open(_sidecar_path(table_dir, name)) as f:
        return json.load(f)


def write_sidecar(table_dir: str, name: str, value) -> None:
    """Store ``value`` as the sidecar ``name`` of the table at
    ``table_dir``. JSON round-trips float64 exactly (repr-based), so
    parameters read back bit-identical to what the writer used."""
    os.makedirs(table_dir, exist_ok=True)
    with open(_sidecar_path(table_dir, name), "w") as f:
        json.dump(value, f)


def _marker_path(path: str) -> str:
    return path.rstrip("/") + ".compact-pending"


def _count_data_files(path: str) -> int:
    n = 0
    for root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if not f.startswith(("_", ".")))
    return n


# a compaction attempt's tmp/old dirs younger than this are never swept:
# the whole protocol is single-writer (see rewrite_table), but if an
# operator DOES overlap two compactions of one table, the age gate keeps
# the second run from rmtree'ing the first one's live swap dirs — the
# stranded dirs of a genuine crash are simply collected by the next
# compaction that runs after the window instead
ORPHAN_SWEEP_MIN_AGE_S = 3600


def _sweep_orphan_compaction_dirs(
    path: str, min_age_s: float = ORPHAN_SWEEP_MIN_AGE_S
) -> None:
    """Remove sibling ``<name>.compacting-*`` / ``<name>.precompact-*``
    dirs left by crashed compactions. The tmp name is a fresh uuid per
    attempt, so a crash BEFORE the marker write (mid-copy, or a failed
    row-count verify whose rmtree didn't finish) strands a table-sized
    copy no later marker references — each crashed attempt would leak one
    forever. Called after marker recovery: at that point any surviving
    sibling with these prefixes older than ``ORPHAN_SWEEP_MIN_AGE_S`` is
    an orphan — the marker window's tmp/old were just resolved, the names
    are unique per attempt, and the age gate excludes the one thing the
    single-writer contract can't (another attempt started moments ago).
    ``min_age_s=0`` sweeps every such sibling."""
    import time

    base = path.rstrip("/")
    parent, name = os.path.dirname(base) or ".", os.path.basename(base)
    try:
        siblings = os.listdir(parent)
    except FileNotFoundError:
        return
    cutoff = time.time() - min_age_s
    for entry in siblings:
        if entry.startswith((f"{name}.compacting-", f"{name}.precompact-")):
            full = os.path.join(parent, entry)
            try:
                if min_age_s and os.path.getmtime(full) > cutoff:
                    continue
            except OSError:
                continue
            shutil.rmtree(full, ignore_errors=True)


def _recover_compaction(path: str, marker: str) -> None:
    """Finish or roll back a compaction that crashed mid-swap. Every crash
    window leaves a state this can resolve without data loss, because the
    marker is written only AFTER the compacted copy (data + sidecars) is
    complete on disk:

    - table at ``path``, old copy gone → the swap either never started or
      fully finished: discard the (complete but unpromoted) compacted tmp
      dir and the marker; the caller's compaction re-runs from scratch.
    - ``path`` missing, old copy present → crashed between the two
      renames: promote the compacted tmp if it exists, else restore the
      old copy. Either way the table reappears with all rows.
    - table at ``path`` AND old copy present → crashed after the promote,
      before cleanup: delete the old copy.
    """
    try:
        with open(marker) as f:
            st = json.load(f)
    except json.JSONDecodeError:
        # a plain-text marker of the catalog-swap compactor this protocol
        # replaced: its copy was a catalog table, lost with the process
        # that wrote it (the catalog is in-memory), so only the marker is
        # left to resolve
        os.remove(marker)
        return
    tmp, old = st["tmp"], st["old"]
    if os.path.exists(path):
        if os.path.exists(old):
            shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(tmp):
            shutil.rmtree(tmp, ignore_errors=True)
    elif os.path.exists(tmp):
        os.rename(tmp, path)
        if os.path.exists(old):
            shutil.rmtree(old, ignore_errors=True)
    elif os.path.exists(old):
        os.rename(old, path)
    else:
        raise RuntimeError(
            f"compaction marker {marker} names no surviving table state "
            f"(path={path}, tmp={tmp}, old={old}) — manual inspection "
            "required"
        )
    os.remove(marker)


def recover_rewrite(path: str) -> None:
    """Finish or roll back a rewrite of ``path`` that crashed inside its
    marker window (``_recover_compaction``); a no-op without a marker.
    Call it before judging from the filesystem whether the table at
    ``path`` exists: a crash between the two renames leaves no directory
    there, only the marker and the two copies beside it."""
    marker = _marker_path(path)
    if os.path.exists(marker):
        _recover_compaction(path, marker)


def discard_rewrite_debris(path: str) -> None:
    """Remove what crashed rewrites of ``path`` left beside it: the
    marker and every ``.compacting-*`` / ``.precompact-*`` copy, whatever
    its age. For a caller that deletes the table at ``path``; the copies
    would otherwise stay until a later rewrite of the path swept them."""
    try:
        os.remove(_marker_path(path))
    except FileNotFoundError:
        pass
    _sweep_orphan_compaction_dirs(path, min_age_s=0)


def rewrite_table(
    spark, path: str, write_copy: Callable[[str], None]
) -> dict:
    """Rewrite the parquet table directory at ``path`` in place, crash-
    safely. ``write_copy(tmp)`` writes the rewritten copy of the table
    to the directory ``tmp``; the protocol does everything else:

    1. recover a leftover marker (``recover_rewrite``), then sweep
       orphaned copies of earlier crashed attempts
       (``_sweep_orphan_compaction_dirs``);
    2. write the copy to the sibling ``<path>.compacting-<hex>``;
    3. verify that the copy holds the table's row count — a silent row
       loss here would corrupt every later probe, so the one extra count
       job is the honest price on an explicit maintenance call;
    4. carry the table's sidecars into the copy;
    5. write the marker, rename(path→``<path>.precompact-<hex>``),
       rename(tmp→path), remove the old copy and the marker.

    Single-writer, no concurrent readers — an offline maintenance op,
    exactly like Iceberg's rewrite_data_files wants snapshot isolation.
    The marker is written only once the copy is a complete drop-in
    replacement, so a crash inside the marker window leaves a state the
    next call recovers from, and a crash before it leaves only a
    uuid-named copy the sweep collects once it is older than
    ``ORPHAN_SWEEP_MIN_AGE_S``. Both generations are on disk until the
    promote rename lands, so no window loses rows. The swap moves
    directories only: a catalog table whose location is ``path`` keeps
    its entry, and the caller refreshes it.

    Returns {rows, files_before, files_after}."""
    recover_rewrite(path)
    _sweep_orphan_compaction_dirs(path)
    marker = _marker_path(path)
    hexid = uuid.uuid4().hex
    tmp = path.rstrip("/") + f".compacting-{hexid}"
    old = path.rstrip("/") + f".precompact-{hexid}"
    files_before = _count_data_files(path)
    n_before = spark.read.parquet(path).count()
    write_copy(tmp)
    n_after = spark.read.parquet(tmp).count()
    if n_after != n_before:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"compaction of {path} would change the row count "
            f"({n_before} → {n_after}); original left untouched"
        )
    # carry sidecars BEFORE the marker: once the marker exists, the tmp
    # dir must be a complete drop-in replacement
    for entry in os.listdir(path):
        if _is_sidecar(entry):
            shutil.copy2(os.path.join(path, entry), os.path.join(tmp, entry))
    with open(marker, "w") as f:
        json.dump({"tmp": tmp, "old": old}, f)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    os.remove(marker)
    spark.catalog.refreshByPath(path)
    return {
        "rows": n_before,
        "files_before": files_before,
        "files_after": _count_data_files(path),
    }


def compact_partitioned_table(
    spark,
    path: str,
    partition_cols: list[str],
    salt_key: Column | str,
    files_per_partition: int,
) -> dict:
    """Rewrite a partitioned parquet table back to the single-write file
    ceiling — the maintenance op ``salted_partition_write(mode="append")``
    points at: N append generations accumulate N × files_per_partition
    files per value, and at some point the per-file open cost on every
    probe outweighs the one-off rewrite. One full scan + the same salted
    exchange as a fresh write, swapped in by ``rewrite_table`` (row count
    verified, sidecars such as ``_ivf_centroids.json`` and
    ``_lsh_planes.json`` carried, crash-recoverable), so probes and
    appends keep working against the compacted table. Returns
    {rows, files_before, files_after}."""
    key = F.col(salt_key) if isinstance(salt_key, str) else salt_key
    return rewrite_table(
        spark,
        path,
        lambda tmp: salted_partition_write(
            spark.read.parquet(path), tmp, partition_cols, key,
            files_per_partition,
        ),
    )
