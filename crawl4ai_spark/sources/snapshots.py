"""Iceberg-style snapshot tables over parquet + JSON manifest.

The north rule requires checkpointed, resumable frontier iterations with
per-partition lineage. The sandbox has no Iceberg runtime jar, so this module
provides the minimal equivalent semantics on plain parquet:

- a table is a directory with ``manifest.json`` listing snapshots;
- each snapshot is an immutable set of parquet data directories plus
  free-form metadata (iteration number, row counts, ...), stored as a
  DELTA record (``base`` snapshot id + ``added`` dirs, resolved by
  walking the base chain) — storing full dir lists per snapshot would
  make the manifest O(N²) in the iteration count and its per-commit
  rewrite the dominant driver cost on a 10k-iteration frontier (Iceberg
  avoids the same blow-up with manifest lists + fast-appends);
- ``append`` creates a new snapshot = previous dirs + one new dir (no data
  rewrite — O(1) metadata commit, like an Iceberg fast-append);
- ``replace`` creates a new snapshot from scratch (like INSERT OVERWRITE);
- readers pin a snapshot id → snapshot isolation / time travel;
- the manifest is committed via write-temp-then-rename, so a crashed writer
  never corrupts the table and a resumed run continues from the last
  committed snapshot (SURVEY.md §4 custom-work item 4);
- ``stage`` writes the data invisibly and ``commit_staged`` publishes it
  later, idempotently: a writer that records its staged dir names in
  one table's commit can roll the other tables' commits forward after a
  crash (the crawl loop's protocol, ``plans/crawl.py``). No commit is
  ever retracted, so readers and ``stream()`` never see rows vanish;
- ``stream()`` tails an append-only table through ``stream/``, a
  hardlink mirror of the committed dirs that every commit brings up to
  date after its manifest commit.

On a real cluster this class is swapped for Iceberg tables (writeTo(...)
.append() / MERGE INTO); the crawl loop only touches this narrow interface.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

# the ``stream/`` mirror's sentinel prefix: ``.linked-<dir>`` marks a dir
# whose files are all linked (hidden from Spark's file source)
_LINKED = ".linked-"


class SnapshotTable:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def _read_manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"snapshots": [], "current": None}
        with open(self._manifest_path) as f:
            return json.load(f)

    def _commit_manifest(self, manifest: dict) -> None:
        tmp = self._manifest_path + "." + uuid.uuid4().hex + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic on POSIX

    def _write_data(self, df) -> str:
        """Write to a STAGING dir (dot-prefixed: invisible to Spark
        readers); ``_commit`` renames it to its ``data-*`` name just
        before the manifest commit. A writer that crashes mid-job
        therefore leaves only a ``.staging-*`` dir no reader can observe —
        without this, a resumed run's re-append would double its rows
        downstream.

        ``df`` is a Spark DataFrame or a driver-resident
        ``pyarrow.Table``. The latter is for tiny metadata tables whose
        rows the driver already holds (per-partition lineage: ≤
        #partitions rows per iteration): a Spark write would cost a full
        job round trip for a handful of rows, and pyarrow writes the same
        footer-compatible parquet that ``spark.read.parquet`` unions with
        Spark-written dirs."""
        name = ".staging-" + uuid.uuid4().hex
        path = os.path.join(self.root, name)
        if isinstance(df, DataFrame):
            df.write.mode("overwrite").parquet(path)
        else:
            import pyarrow.parquet as pq

            os.makedirs(path)
            pq.write_table(df, os.path.join(path, "part-00000.parquet"))
        return name

    # -- public API ---------------------------------------------------------

    def current_snapshot_id(self) -> int | None:
        return self._read_manifest()["current"]

    def snapshot_meta(self, snapshot_id: int | None = None) -> dict | None:
        m = self._read_manifest()
        sid = snapshot_id if snapshot_id is not None else m["current"]
        for s in m["snapshots"]:
            if s["id"] == sid:
                return s["meta"]
        return None

    def snapshots(self) -> list[dict]:
        return self._read_manifest()["snapshots"]

    def snapshot_dirs(self, snapshot_id: int | None = None) -> list[str] | None:
        """Full (chain-resolved) data-dir list of a snapshot; the current
        one when ``snapshot_id`` is None. None for an unknown id."""
        m = self._read_manifest()
        sid = snapshot_id if snapshot_id is not None else m["current"]
        return self._snapshot_dirs(m, sid)

    def append(self, df, meta: dict | None = None) -> int:
        m = self._read_manifest()
        return self._commit(m, m["current"], [self._write_data(df)], meta)

    def replace(self, df, meta: dict | None = None) -> int:
        m = self._read_manifest()
        return self._commit(m, None, [self._write_data(df)], meta)

    def stage(self, df) -> str:
        """Phase 1 of a two-phase commit: run the (expensive) data write
        into an invisible ``.staging-*`` dir and return its name. Publish
        later with ``commit_staged`` — until then no reader can observe
        the rows. Lets a multi-table commit stage all data writes
        concurrently, then order the O(1) manifest commits so one
        designated table is the atomic commit point."""
        return self._write_data(df)

    def commit_staged(
        self, staged: str, meta: dict | None = None, mode: str = "append"
    ) -> int | None:
        """Phase 2: publish a ``stage``d dir as a snapshot commit.

        Idempotent, so a writer that recorded ``staged`` before a crash
        can roll the commit forward on resume: a dir some snapshot
        already references is not committed again (returns None), and a
        dir that a crash inside ``_commit``'s publish window left renamed
        to ``data-*`` but unreferenced is committed under that name."""
        if mode not in ("append", "replace"):
            raise ValueError(f"unknown commit mode: {mode}")
        m = self._read_manifest()
        published = "data-" + staged[len(".staging-"):]
        if published in self._all_referenced(m):
            return None
        if os.path.isdir(os.path.join(self.root, published)):
            staged = published
        base = m["current"] if mode == "append" else None
        return self._commit(m, base, [staged], meta)

    def expire_snapshots(self, keep_last: int = 2) -> int:
        """Iceberg-style ``expire_snapshots``: drop all but the newest
        ``keep_last`` snapshot RECORDS, re-anchor the oldest survivor as
        a full-dir-list record (its delta base is gone), then sweep the
        data dirs no surviving record references.

        This is the missing half of ``_sweep_orphans`` for REPLACE-heavy
        tables (frontier, host_state — replaced every crawl iteration):
        the sweep spares any dir referenced by ANY snapshot, so without
        expiry a 10k-iteration crawl retains 10k dead full frontier
        copies. On APPEND-ONLY tables expiry reclaims no data (every dir
        is still referenced by the tip) but compacts the manifest's
        record list, keeping its parse cost bounded.

        Trades away history: time travel below the new anchor is gone,
        and a ``read_since`` cursor older than the anchor raises the
        rebuilt-table error on its next read (pick ``keep_last`` to
        cover the longest tailing lag). WRITER-ONLY, like every mutation
        here (serial-writer contract). Returns the number of records
        dropped."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        m = self._read_manifest()
        snaps = m["snapshots"]
        cut = len(snaps) - keep_last
        if cut <= 0:
            return 0
        by_id = {s["id"]: s for s in snaps}
        anchor = snaps[cut]
        m["snapshots"] = [
            {
                "id": anchor["id"],
                "dirs": self._dirs_of(by_id, anchor["id"]),
                "meta": anchor.get("meta") or {},
            }
        ] + snaps[cut + 1:]
        self._commit_manifest(m)
        self._sweep_orphans(keep=set(), manifest=m)
        self._sync_stream_dir(manifest=m)
        return cut

    def _sweep_orphans(self, keep: set[str], manifest: dict | None = None) -> None:
        """Garbage-collect crash debris (the Iceberg analog is
        remove_orphan_files): ``.staging-*`` dirs from writers that died
        mid-job, and ``data-*`` dirs from writers that died in the instant
        between the publish rename and the manifest replace. Any such dir
        that is neither referenced by a manifest snapshot (ANY snapshot —
        time-travel readers keep old dirs live) nor in ``keep`` (the commit
        in flight) is unreachable garbage under this table's serial-writer
        contract (concurrent commits in the crawl loop always target
        DIFFERENT tables), so it is deleted. Only writers sweep, and
        unconditionally: the committing writer is THE writer, so every
        unreferenced dir is dead. (stream() does not read the data-* glob
        — its mirror is manifest-driven — so the sweep is disk hygiene and
        batch-glob cleanliness, not stream correctness.)

        ``manifest``: commit-path callers pass the manifest dict already
        in hand, skipping a redundant O(total-dirs) JSON parse per sweep
        (the delta-encoded manifest exists to keep per-commit driver cost
        flat on 10k-iteration crawls)."""
        m = manifest if manifest is not None else self._read_manifest()
        referenced = set(keep) | self._all_referenced(m)
        for name in os.listdir(self.root):
            if not (name.startswith(".staging-") or name.startswith("data-")):
                continue
            if name not in referenced:
                shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)

    @staticmethod
    def _dirs_of(by_id: dict, sid: int | None) -> list[str] | None:
        """Resolve a snapshot's full dir list by walking its base chain
        (oldest dirs first). ``by_id`` is ``{s["id"]: s}`` over the
        manifest's snapshot records. Returns None for an unknown id.
        Full ``dirs`` records (legacy ones and ``expire_snapshots``'
        anchor) terminate the walk. Records are only ever appended, and
        expiry re-anchors the oldest survivor, so a surviving record's
        base always survives — the chain cannot dangle."""
        rec = by_id.get(sid)
        if rec is None:
            return None
        parts: list[list[str]] = []
        while rec is not None:
            if "dirs" in rec:
                parts.append(rec["dirs"])
                rec = None
            else:
                parts.append(rec["added"])
                b = rec.get("base")
                rec = by_id.get(b) if b is not None else None
        dirs: list[str] = []
        for p in reversed(parts):
            dirs.extend(p)
        return dirs

    def _snapshot_dirs(self, m: dict, sid: int | None) -> list[str] | None:
        return self._dirs_of({s["id"]: s for s in m["snapshots"]}, sid)

    @staticmethod
    def _all_referenced(m: dict) -> set[str]:
        """Every dir any snapshot references — the union of all delta
        ``added`` lists (plus legacy full ``dirs`` lists); no chain
        resolution needed for a union."""
        referenced: set[str] = set()
        for s in m["snapshots"]:
            referenced.update(s["dirs"] if "dirs" in s else s["added"])
        return referenced

    def _commit(
        self,
        manifest: dict,
        base_sid: int | None,
        new_dirs: list[str],
        meta: dict | None,
    ) -> int:
        # publish staged dirs: rename .staging-<hex> -> data-<hex> (atomic
        # on POSIX) immediately before the manifest commit. An uncommitted
        # data-* dir exists only if a crash lands between this rename and
        # the manifest replace, and _sweep_orphans erases such debris (and
        # a mid-write crash's) on the next commit, UNCONDITIONALLY: under
        # the serial-writer contract the committing writer is the only
        # live writer, so no age protection is needed.
        # (keep= only needs THIS commit's dirs: the base snapshot's dirs
        # are already manifest-referenced and the sweep spares those.)
        self._sweep_orphans(keep=set(new_dirs), manifest=manifest)
        published = []
        for d in new_dirs:
            if d.startswith(".staging-"):
                new = "data-" + d[len(".staging-"):]
                os.replace(os.path.join(self.root, d), os.path.join(self.root, new))
                d = new
            published.append(d)
        sid = (manifest["current"] or 0) + 1
        # DELTA record: base + added keeps the manifest O(total dirs);
        # a full dir list per snapshot would make it O(dirs²) and the
        # per-commit manifest rewrite the dominant cost on long crawls
        manifest["snapshots"].append(
            {"id": sid, "base": base_sid, "added": published, "meta": meta or {}}
        )
        manifest["current"] = sid
        self._commit_manifest(manifest)
        # AFTER the manifest commit: publish to any live stream() mirror —
        # ordering means the mirror only ever holds manifest-committed
        # files (a crash right here delays delivery until the next commit
        # repairs the mirror; it can never deliver uncommitted rows)
        self._sync_stream_dir(manifest=manifest)
        return sid

    @property
    def _stream_path(self) -> str:
        return os.path.join(self.root, "stream")

    @staticmethod
    def _link_or_copy(src: str, dst: str) -> None:
        if os.path.exists(dst):
            return  # idempotent re-sync after a crash mid-link-phase
        try:
            os.link(src, dst)
        except FileExistsError:
            pass
        except OSError:
            # filesystem without hardlink support (some NFS/FUSE mounts):
            # copy via a hidden temp + atomic rename so the stream source
            # never observes a partially-copied parquet file
            tmp = os.path.join(
                os.path.dirname(dst), "." + os.path.basename(dst) + ".tmp"
            )
            shutil.copy2(src, tmp)
            os.replace(tmp, dst)

    def _sync_stream_dir(self, manifest: dict | None = None) -> None:
        """Reconcile the ``stream/`` mirror with the manifest: hardlink
        each parquet file of the current snapshot's dirs in as
        ``<dir>__<file>`` (unique and stable, so the file-source
        checkpoint never re-delivers a file), and delete every entry whose
        dir the manifest no longer references. Tables nobody streams have
        no mirror and pay one failed ``listdir`` per commit.

        The mirror is listed BEFORE the manifest is read, which makes the
        prune exact for readers and writers alike. A link is created only
        after the manifest commit that references its dir, and dir names
        are uuids that are never reused, so a listed entry whose dir the
        later-read manifest does not reference is debris, never a racing
        commit. Commit paths pass the manifest they just wrote: the writer
        is the only committer, so it is the newest one.

        A dir counts as linked once its hidden sentinel ``.linked-<dir>``
        exists. The sentinel is written after the dir's last file is
        linked, so a sync cut off halfway finishes that dir the next time
        (``_link_or_copy`` skips files already there), and each commit
        lists only the dirs it adds."""
        sd = self._stream_path
        try:
            listed = os.listdir(sd)
        except FileNotFoundError:
            return
        m = manifest if manifest is not None else self._read_manifest()
        referenced = self._all_referenced(m)
        linked = set()
        for fn in listed:
            sentinel = fn.startswith(_LINKED)
            # a link, a sentinel, or a copy fallback's hidden temp file
            d = fn[len(_LINKED):] if sentinel else fn.lstrip(".").split("__", 1)[0]
            if not d.startswith("data-"):
                continue  # not the mirror's (e.g. an old ``_synced`` marker)
            if d not in referenced:
                try:
                    os.remove(os.path.join(sd, fn))
                except OSError:
                    pass
            elif sentinel:
                linked.add(d)
        for d in self._snapshot_dirs(m, m["current"]) or []:
            if d in linked:
                continue
            src_dir = os.path.join(self.root, d)
            try:
                names = os.listdir(src_dir)
            except OSError:
                continue  # swept by expiry since this manifest was read
            for fn in names:
                if fn.endswith(".parquet"):
                    self._link_or_copy(
                        os.path.join(src_dir, fn), os.path.join(sd, f"{d}__{fn}")
                    )
            open(os.path.join(sd, _LINKED + d), "w").close()

    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame | None:
        m = self._read_manifest()
        sid = snapshot_id if snapshot_id is not None else m["current"]
        if sid is None:
            return None
        dirs = self._snapshot_dirs(m, sid)
        if dirs is None:
            raise KeyError(f"snapshot {sid} not found in {self.root}")
        if not dirs:
            return None
        return spark.read.parquet(*[os.path.join(self.root, d) for d in dirs])

    def is_empty(self) -> bool:
        return self.current_snapshot_id() is None

    def stream(self, spark: SparkSession):
        """Structured-Streaming reader over an APPEND-ONLY snapshot table:
        every data dir matches one glob, so the parquet file source
        discovers each committed append as new files — the continuous
        analog of ``read_since`` (crawl results as they complete, the
        reference's ``stream=True`` delivery). The schema is pinned from
        the current snapshot; at least one snapshot must exist.

        Pair with ``.trigger(availableNow=True)`` for catch-up batches or
        a processing-time trigger to tail a live crawl.

        The source is MANIFEST-DRIVEN: it globs the ``stream/`` mirror,
        which ``_sync_stream_dir`` fills with hardlinks to the current
        snapshot's files only AFTER each manifest commit. Crash debris
        (published-but-uncommitted ``data-*`` dirs, orphan ``.staging-*``
        dirs) therefore never reaches a stream, and a writer that crashes
        between its manifest commit and the sync only delays that commit's
        delivery until the next commit or ``stream()`` call. No commit is
        ever retracted, so no delivered row is taken back. The append-only
        contract is enforced: a snapshot whose dir set is not a superset of
        its predecessor's (a ``replace()``) raises. The read path sweeps
        no data or staging dirs: a reader cannot tell debris from a live
        writer's ``stage()``d dir, so that hygiene is the writer's."""
        current = self.read(spark)
        if current is None:
            raise ValueError(f"cannot stream {self.root}: no committed snapshot")
        m = self._read_manifest()
        snaps = m["snapshots"]
        by_id = {s["id"]: s for s in snaps}
        for prev, nxt in zip(snaps, snaps[1:]):
            # delta records make the append-only check structural: a
            # snapshot based on its predecessor is a superset by
            # construction; anything else (replace → base=None, or a
            # legacy full-list record) falls back to the set comparison
            if nxt.get("base") == prev["id"] and "dirs" not in nxt:
                continue
            pd_ = self._dirs_of(by_id, prev["id"]) or []
            nd = self._dirs_of(by_id, nxt["id"]) or []
            if not set(pd_) <= set(nd):
                raise ValueError(
                    f"cannot stream {self.root}: snapshot {nxt['id']} dropped "
                    f"dirs of snapshot {prev['id']} (a replace() happened) — "
                    "stream() only tails append-only tables"
                )
        os.makedirs(self._stream_path, exist_ok=True)
        self._sync_stream_dir()
        return spark.readStream.schema(current.schema).parquet(self._stream_path)

    def read_since(
        self, spark: SparkSession, after_snapshot_id: int | None
    ) -> tuple[int | None, DataFrame | None]:
        """Incremental read: rows appended AFTER ``after_snapshot_id``
        (None = from the beginning). Returns (current_snapshot_id, df) with
        df=None when nothing new. This is the batch analog of the
        reference's ``stream=True`` delivery (results yielded as they
        complete) — readers tail snapshot commits instead of an async
        generator.

        Only valid on APPEND-ONLY tables: after a ``replace`` (frontier,
        host_state) the dir-set difference is meaningless — every current
        dir would look "new" and previously-delivered rows would be
        re-emitted. Such a gap raises so the caller resets its cursor
        instead of silently double-reading.
        """
        m = self._read_manifest()
        cur = m["current"]
        if cur is None or cur == after_snapshot_id:
            return cur, None
        cur_dirs = self._snapshot_dirs(m, cur)
        old_dirs: list[str] = []
        if after_snapshot_id is not None:
            old_dirs_opt = self._snapshot_dirs(m, after_snapshot_id)
            if old_dirs_opt is None:
                # an unknown cursor means the table was rebuilt (fresh
                # manifest) while the caller kept an old snapshot id — an
                # empty-prefix fallback here would silently re-deliver the
                # WHOLE table, the exact double-read the replace guard
                # below exists to prevent
                raise ValueError(
                    f"snapshot {after_snapshot_id} not found in {self.root}: "
                    "the table was rebuilt under this cursor — reset the "
                    "cursor and re-read"
                )
            old_dirs = old_dirs_opt
        old = set(old_dirs)
        if not old <= set(cur_dirs):
            raise ValueError(
                f"snapshot {after_snapshot_id} is not a prefix of {cur} in "
                f"{self.root}: a replace() happened — read_since only tails "
                "append-only tables; reset the cursor and re-read"
            )
        new_dirs = [d for d in cur_dirs if d not in old]
        if not new_dirs:
            return cur, None
        return cur, spark.read.parquet(
            *[os.path.join(self.root, d) for d in new_dirs]
        )
