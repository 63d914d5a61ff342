"""Minimal snapshot-isolation table format on plain parquet — the
multi-version extension of the single-shot manifest proved by
``sink_manifest_atomic`` (plans/corpus.py).

Design (the core of what Delta Lake / Iceberg formalize, reduced to the
two mechanisms that give snapshot isolation):

- **Commit log**: ``<table>/_log/{version:020d}.json``, one JSON
  manifest per version holding the FULL list of live data files for
  that snapshot (Iceberg-style snapshot manifest; simpler than Delta's
  add/remove deltas and O(versions) only in the log dir, never in a
  read), plus any sidecar metadata (per-file stats, delete vectors).
  A manifest file is written exactly once, to its final name, with its
  complete payload — readers never observe a partially-attached
  manifest (the torn-read / missing-delete-vector window a
  write-then-patch scheme would open).
- **CAS publish**: a commit serializes its complete payload to an
  unadvertised temp file and atomically hard-links it to the
  versioned name (link(2) fails EEXIST if taken — exclusive create
  WITH content, so no torn-read window). Two writers racing to
  version N: exactly one link succeeds, the loser re-reads the
  latest snapshot, REBUILDS its file list on top of it (the ``build``
  callback below — a true rebase, so the winner's committed files are
  preserved), and retries at N+1. On a real object store this maps to
  the same primitive every lakehouse uses (S3 conditional PUT / GCS
  generation-match), and the rebase mirrors Delta's logical conflict
  resolution: disjoint file sets commute, so append-vs-append and
  append-vs-OPTIMIZE both succeed without losing either side.
- **Snapshot read / time travel**: readers resolve ONE manifest and
  scan exactly its files — uncommitted/orphan data files in the
  directory are invisible, and ``AS OF version`` is just resolving an
  older manifest. Compaction (OPTIMIZE) rewrites live data into fewer
  files and commits the new list as the next version; superseded files
  stay on disk so older snapshots remain readable (vacuum would prune
  them past a retention horizon).
- **Change data feed**: every commit records whether it changed data
  (``data_change``: appends/deletes true, OPTIMIZE false — Delta's
  ``dataChange`` flag / Iceberg's replace-snapshot exclusion), so
  :meth:`changes_between` can replay exactly the rows added and
  deleted between two versions while skipping compaction churn.

At 100 TB none of this touches the driver with data: manifests carry
file names and stats (bytes here; per-column min/max in a production
format feed scan pruning), commits are O(1) metadata operations, and
every read is a normal pruned parquet scan over the manifest's files.

Parity intent (not a port): re-expresses the BigQuery-warehouse role of
the reference's ``terraform/main.tf:36-40`` as an executable local
table format.
"""

from __future__ import annotations

import json
import math
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from chess_ratings_spark import staging

#: Commit ops that add/remove ROWS (vs rewriting the same rows into
#: different files). OPTIMIZE-style ops are excluded from the change
#: feed: they change the file layout, never the logical table.
#: ``publish`` is a data change: fast-forwarding a branch makes the
#: branch's staged rows visible on main for the first time, so a main
#: CDF consumer must replay them.
#: ``restore`` is a data change: reverting to an old snapshot removes
#: (and may resurrect) rows relative to the current version.
_DATA_CHANGE_PREFIXES = (
    "append", "delete", "stream-batch", "overwrite", "publish", "restore",
    "update", "merge",
)


def _is_data_change(op: str) -> bool:
    return any(op.startswith(p) for p in _DATA_CHANGE_PREFIXES)


def _refuse_type_divergence(before, after, verb: str) -> None:
    """Schema-on-WRITE guard shared by the rewrite verbs: an assign
    expression that changes a column's type (``tag * 1.1`` on an INT
    column) would land a file the union scan can no longer read —
    every later snapshot dies with a parquet type mismatch. Analysis-
    only (no action): compares resolved schemas and refuses loudly
    BEFORE anything is committed."""
    b = {f.name: f.dataType for f in before.fields}
    a = {f.name: f.dataType for f in after.fields}
    if a != b:
        # name every divergence class, so a refusal over an added or
        # removed column is self-explanatory instead of an empty
        # "changes column types ():" (round-11 ADVICE)
        parts = sorted(
            f"{n}: {b[n].simpleString()} -> {a[n].simpleString()}"
            for n in a
            if n in b and a[n] != b[n]
        )
        added = sorted(set(a) - set(b))
        removed = sorted(set(b) - set(a))
        if added:
            parts.append(f"added: {', '.join(added)}")
        if removed:
            parts.append(f"removed: {', '.join(removed)}")
        raise ValueError(
            f"{verb} assignment changes the schema ({'; '.join(parts)}):"
            " the committed file would break every later snapshot read —"
            " cast the expression back to the column's type and assign"
            " only existing columns"
        )


def _read_umask_once() -> int:
    """Probe the process umask exactly once, at import time. os.umask
    is the only portable read, but it is a process-global WRITE too —
    probing it per-publish opened a window where files created by
    concurrent writer threads (the sharded-OPTIMIZE soak pattern)
    were born world-writable while one thread held umask 0 (round-10
    ADVICE). Import runs under the interpreter's module import lock,
    before this module can have spawned writer threads, so the single
    probe here is race-free."""
    import os

    um = os.umask(0)
    os.umask(um)
    return um


#: Frozen at import on purpose: a host app that changes its umask AFTER
#: importing this module keeps publishing metadata at the import-time
#: mode — the accepted cost of never mutating the process-global umask
#: from library code (the per-publish probe raced concurrent writer
#: threads into world-writable files, round-10 ADVICE). A host that
#: needs a different publish mode sets its umask before first import.
_PUBLISHED_MODE: int = 0o666 & ~_read_umask_once()


def _published_mode() -> int:
    """Umask-governed mode for published metadata files (manifests,
    ``_last_checkpoint``). mkstemp temps are created 0600 and both
    hard-link and rename preserve that, so without an explicit chmod a
    reader running as a different user gets PermissionError on the log
    — ``open(path, 'x')`` publishing never had that problem. Reads the
    import-time constant; never mutates process state."""
    return _PUBLISHED_MODE


def _unlink_all(paths: list[str]) -> None:
    """Best-effort unlink + clear, for metadata files written by a
    commit attempt that lost the CAS race — they are referenced by no
    manifest, so leaving them leaks one attempt's worth of JSON per
    lost race (nothing else ever prunes _log/shards/)."""
    import os

    while paths:
        try:
            os.unlink(paths.pop())
        except FileNotFoundError:
            pass


def _apply_delete_vectors(spark: SparkSession, df: DataFrame, dvs) -> DataFrame:
    """Merge-on-read: mask MOR-deleted rows by anti-joining each delete
    vector's keys (broadcast — DVs are key lists, small by design). The
    ONE place the DV-application rule lives: optimize,
    _optimize_sharded and update_cow all materialize deletes through
    this helper, so a future semantics change (column-subset keys,
    non-broadcast large DVs) cannot silently diverge between them."""
    from pyspark.sql import functions as F

    for dv in dvs:
        keys = spark.read.parquet(dv)
        df = df.join(F.broadcast(keys), keys.columns, "left_anti")
    return df


def _require_dv_artifact(dv_path: str, verb: str) -> None:
    """Pre-publish guard (round-11 ADVICE): a scoped-DV artifact is
    written BEFORE the commit that references it, so a concurrent
    vacuum running with no grace window could sweep it as unreferenced
    — and the writer would then publish a manifest pointing at a
    missing artifact, breaking every MOR read of a commit that
    "succeeded". Re-checked on every commit attempt, immediately before
    the CAS publish; vacuum's mtime grace horizon on ``_dvs/`` closes
    the remaining check-to-publish window for any grace period longer
    than a commit attempt."""
    if not Path(dv_path).exists():
        raise RuntimeError(
            f"{verb}'s scoped delete-vector artifact {dv_path} vanished"
            " before publish (a concurrent vacuum with dv_grace_seconds=0"
            " can sweep not-yet-referenced artifacts) — aborting the"
            " commit instead of publishing a manifest that references a"
            " missing artifact; re-run the verb"
        )


class CommitConflict(Exception):
    """Another writer published this version first; retry on the new
    latest snapshot."""


#: ``build`` callback: given the freshly-read latest manifest (None on
#: an empty log), return either the full file list for the new version
#: or ``(files, extra)`` where ``extra`` is additional manifest payload
#: (``file_stats``, ``delete_vectors``, ...). Re-evaluated on EVERY
#: commit attempt so a conflict loser rebases onto the winner's state.
BuildFn = Callable[[dict | None], "list[str] | tuple[list[str], dict]"]


class TableLog:
    """A parquet table with a versioned manifest log under
    ``<base>/_log``. Data files live flat under ``<base>/data``."""

    def __init__(self, base: str | Path, *, log_subdir: str = "_log") -> None:
        self.base = Path(base)
        self.log_dir = self.base / log_subdir
        self.data_dir = self.base / "data"
        self.log_dir.mkdir(parents=True, exist_ok=True)
        self.data_dir.mkdir(parents=True, exist_ok=True)

    # -- log primitives ---------------------------------------------------

    def _manifest_path(self, version: int) -> Path:
        return self.log_dir / f"{version:020d}.json"

    def versions(self) -> list[int]:
        return sorted(int(p.stem) for p in self.log_dir.glob("*.json"))

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def read_manifest(self, version: int | None = None) -> dict:
        if version is None:
            version = self.latest_version()
            if version is None:
                raise FileNotFoundError(f"no commits in {self.log_dir}")
        return json.loads(self._manifest_path(version).read_text())

    def try_commit(
        self, version: int, files: list[str], op: str, extra: dict | None = None
    ) -> None:
        """Publish ``version`` or raise :class:`CommitConflict`. The
        COMPLETE manifest payload (files + any ``extra`` sidecar
        metadata) is serialized to an unadvertised temp file first and
        then atomically HARD-LINKED to the versioned name — link(2)
        fails with EEXIST if the name is taken, so the link IS the
        compare-and-swap, and the name appears with its full content
        in one step. A plain ``open(path, 'x')`` + write is NOT enough:
        the name becomes visible (empty) at the create, and a
        concurrent ``read_manifest`` polling ``latest_version`` can
        read the torn window — caught as a JSONDecodeError by the
        round-9 concurrent-writer soak. On an object store the
        conditional PUT is already all-or-nothing, so this is purely
        the local-filesystem realization of the same primitive."""
        body = {"version": version, "op": op, "data_change": _is_data_change(op),
                "files": sorted(files)}
        if extra:
            body.update(extra)
        self._publish_manifest(version, json.dumps(body, indent=0))

    def _publish_manifest(self, version: int, payload: str) -> None:
        """The ONE storage primitive snapshot isolation needs: publish
        ``payload`` at the versioned name iff the name is free, all-or-
        nothing, raising :class:`CommitConflict` on a lost race. This
        local-FS realization is temp-file + ``link(2)`` (EEXIST = lost
        race; the name appears with its full content in one step). An
        object-store backend overrides JUST this method and the two
        manifest readers (:meth:`versions` / :meth:`read_manifest`)
        with a conditional PUT (GCS ``if-generation-match: 0`` / S3
        ``If-None-Match: *``) and keyed GETs — proven by the
        conditional-PUT soak in tests/test_tablelog.py, which runs the
        same optimistic-concurrency protocol over an emulated
        object-store API with no filesystem rename/link anywhere."""
        import os
        import tempfile

        fd, tmp = tempfile.mkstemp(dir=self.log_dir, prefix=".commit_")
        try:
            with os.fdopen(fd, "w") as fh:
                # mkstemp temps are 0600; the hard link preserves mode,
                # so published manifests would be unreadable to other
                # users. Restore umask-governed permissions (as
                # open(path, 'x') used to give) before publishing.
                os.fchmod(fh.fileno(), _published_mode())
                fh.write(payload)
            try:
                os.link(tmp, self._manifest_path(version))
            except FileExistsError:
                raise CommitConflict(
                    f"version {version} already committed"
                ) from None
        finally:
            os.unlink(tmp)

    def commit(
        self,
        files: list[str] | None = None,
        op: str = "append",
        extra: dict | None = None,
        max_retries: int = 10,
        build: BuildFn | None = None,
    ) -> int:
        """Optimistic-concurrency commit loop: read latest, attempt the
        next version, on conflict re-read and retry.

        Two modes:

        - ``build=callback`` (concurrency-safe): the callback receives
          the freshly-read latest manifest on EVERY attempt and returns
          the new version's file list (optionally ``(files, extra)``) —
          a conflict loser therefore rebases onto the winner's committed
          state instead of republishing a stale list. All internal verbs
          (:meth:`append`, :meth:`optimize`, ...) use this mode.
        - ``files=[...]`` (single-writer): publishes the given list
          verbatim at the next free version. A conflict retry here can
          only mean another writer committed in between, and replaying a
          pre-computed list would silently drop that writer's files — so
          static-list commits do NOT retry: the conflict propagates and
          the caller must re-derive its list from the new snapshot.
        """
        if build is None:
            if files is None:
                raise ValueError("commit needs files=[...] or build=callback")
            latest = self.latest_version()
            nxt = 0 if latest is None else latest + 1
            prev = self.read_manifest(latest) if latest is not None else None
            self._require_new_files_exist(files, prev, op)
            self.try_commit(nxt, files, op, extra)
            return nxt
        for _ in range(max_retries + 1):
            latest = self.latest_version()
            nxt = 0 if latest is None else latest + 1
            prev = self.read_manifest(latest) if latest is not None else None
            built = build(prev)
            bfiles, bextra = built if isinstance(built, tuple) else (built, extra)
            self._require_new_files_exist(bfiles, prev, op)
            try:
                self.try_commit(nxt, bfiles, op, bextra)
                return nxt
            except CommitConflict:
                continue
        raise CommitConflict(f"gave up after {max_retries} retries")

    def _require_new_files_exist(
        self, files: list[str], prev: dict | None, op: str
    ) -> None:
        """Pre-publish guard, the data-file twin of
        :func:`_require_dv_artifact` (round-12 self-review #1): a verb
        lands its data files BEFORE the manifest that references them,
        so a concurrent vacuum with no grace window can sweep them as
        unreferenced — and the commit would then publish a manifest
        referencing missing files, breaking every read of a version
        that "succeeded". Only the files NEW relative to the freshly
        read parent are checked (carried files are referenced by the
        parent and therefore vacuum-live): O(landing size) stats per
        attempt, never O(table)."""
        import os

        carried = set(self.manifest_files(prev)) if prev else set()
        missing = [
            f for f in files if f not in carried and not os.path.exists(f)
        ]
        if missing:
            raise RuntimeError(
                f"{op}: {len(missing)} newly-landed data file(s) vanished"
                f" before publish (e.g. {missing[0]}) — a concurrent"
                " vacuum with no grace window can sweep"
                " not-yet-referenced files; aborting the commit instead"
                " of publishing a manifest that references missing"
                " files; re-run the verb"
            )

    # -- table verbs ------------------------------------------------------

    def _land(self, df: DataFrame, n_files: int, tag: str) -> list[str]:
        """Write ``df`` as exactly ``n_files`` parquet files into the
        data dir. Destination names carry a per-landing random token on
        top of the caller's tag: data files must be IMMUTABLE once
        named, and tag-only names break that under concurrency — two
        OPTIMIZEs racing the same snapshot derive the same tag, and
        their concurrent copies would interleave into the path the
        conflict WINNER then commits (the loser's CommitConflict fires
        at rebase time, after the bytes are already torn). With unique
        names each landing owns its paths outright; losers only orphan
        files, which snapshot isolation already ignores.

        Fixture slices are staged once per session and re-landed by
        hardlink (:func:`staging.land`; guide §1.2)."""
        import uuid

        token = uuid.uuid4().hex[:12]
        return staging.land(
            df, self.data_dir, n_files, name=lambda i: f"{tag}-{token}-{i:05d}.parquet"
        )

    def append(self, df: DataFrame, n_files: int, tag: str) -> int:
        """Land new data files, then commit (latest snapshot at commit
        time) + new files as the next version. The rebase callback
        makes two concurrent appends commute: the loser re-reads the
        winner's manifest and stacks its files on top. Sidecar
        metadata (delete_vectors, file_stats) is CARRIED FORWARD from
        the previous manifest — an append must never resurrect
        MOR-deleted rows or orphan recorded stats (Delta carries DVs
        across appends; only OPTIMIZE consumes them). Refuses a table
        whose latest manifest is sharded-protocol: a full-list rebase
        only carries its own payload shape forward, so mixing the two
        protocols on one table would silently drop the other
        protocol's file references (enforced both ways; see
        :meth:`append_manifest_sharded`)."""
        new = self._land(df, n_files, tag)

        def rebase(prev: dict | None) -> tuple[list[str], dict]:
            if prev is not None and prev.get("sharded"):
                raise ValueError(
                    "protocol mix: table's latest manifest is sharded —"
                    " use append_manifest_sharded(), not append()"
                )
            files = (prev["files"] if prev is not None else []) + new
            carry = {
                k: prev[k]
                for k in ("delete_vectors", "delete_vectors_scoped", "file_stats")
                if prev is not None and k in prev
            }
            return files, carry

        return self.commit(op="append", build=rebase)

    def optimize(self, spark: SparkSession, target_rows_per_file: int = 50_000) -> int:
        """Committed OPTIMIZE: read the live snapshot, rewrite it into
        ceil(n/target) right-sized files, commit the compacted list as
        the next version. Old files stay for time travel.

        Merge-on-read deletes are MATERIALIZED by the rewrite (the
        compacted files hold only live rows — Delta's behavior when
        compacting files carrying deletion vectors), so the snapshot's
        delete vectors are consumed, not carried forward: a v2
        MOR-delete followed by OPTIMIZE must not resurrect the deleted
        rows.

        Conflict rebase (Delta's OPTIMIZE-vs-append resolution): the
        compacted files REPLACE exactly the files this optimize read;
        any files a concurrent append committed in between are disjoint
        from that read set and are carried forward untouched, as is any
        delete vector a concurrent commit attached after our read.

        OPTIMIZE-vs-OPTIMIZE does NOT commute and the loser must FAIL
        (Delta fails the second OPTIMIZE the same way): if the rebase
        finds any file of our read set already gone from the latest
        manifest, the snapshot we compacted was itself rewritten —
        silently merging would keep the winner's compacted files as
        'survivors' AND add our own compacted copy of the same rows,
        duplicating every row. The rebase raises
        :class:`CommitConflict` instead (propagates to the caller; the
        commit loop never swallows a conflict raised by ``build``)."""
        from pyspark.sql import functions as F

        read_manifest = self.read_manifest()
        if read_manifest.get("sharded"):
            return self._optimize_sharded(
                spark, read_manifest, target_rows_per_file
            )
        read_set = set(read_manifest["files"])
        consumed_dvs = set(read_manifest.get("delete_vectors", []))
        consumed_scoped = set(read_manifest.get("delete_vectors_scoped", []))
        df = _apply_delete_vectors(
            spark,
            self._with_scoped_dvs_applied(
                spark, sorted(read_set), read_manifest
            ).drop("_dv_file"),
            consumed_dvs,
        )
        n_rows = df.count()
        n_out = max(1, math.ceil(n_rows / target_rows_per_file))
        new = self._land(df, n_out, tag=f"optimize-v{read_manifest['version'] + 1}")

        def rebase(prev: dict | None) -> tuple[list[str], dict | None]:
            pfiles = set(prev["files"]) if prev is not None else set()
            rewritten = sorted(read_set - pfiles)
            if rewritten:
                raise CommitConflict(
                    "concurrent commit rewrote files this OPTIMIZE read"
                    f" (e.g. {rewritten[0]}); re-run OPTIMIZE on the new"
                    " snapshot"
                )
            prev_scoped = set(prev.get("delete_vectors_scoped", []) if prev else [])
            if prev_scoped != consumed_scoped:
                # a concurrent MOR update added scoped pairs that may
                # reference files this rewrite is dropping — merging
                # would leave the rewritten copies of its old rows
                # unmasked; fail like OPTIMIZE-vs-OPTIMIZE does
                raise CommitConflict(
                    "concurrent MOR update during OPTIMIZE; re-run"
                    " OPTIMIZE on the new snapshot"
                )
            survivors = [
                f for f in (prev["files"] if prev is not None else [])
                if f not in read_set
            ]
            dvs = [
                d for d in (prev.get("delete_vectors", []) if prev else [])
                if d not in consumed_dvs
            ]
            return new + survivors, ({"delete_vectors": dvs} if dvs else None)

        return self.commit(op="optimize", build=rebase)

    def _optimize_sharded(
        self,
        spark: SparkSession,
        read_manifest: dict,
        target_rows_per_file: int = 50_000,
        max_entries_per_shard: int = 1024,
    ) -> int:
        """Committed OPTIMIZE for the sharded-manifest protocol — the
        small-file remedy a high-landing-rate stream sink needs (each
        ``append_manifest_sharded`` lands a few small files; before
        round 10 only the manifests could be compacted, never the data).

        Same semantics as the full-list :meth:`optimize`: the live
        snapshot is resolved (shard fan-out), MOR delete vectors are
        MATERIALIZED by the rewrite (consumed, not carried), and the
        compacted files replace exactly the read set. The committed
        manifest carries a FRESH shard set listing compacted files plus
        any files concurrent appends landed after our read — built
        inside the rebase so a conflict loser re-chunks against the
        winner's state, with a per-attempt uuid token so racing
        attempts never collide on shard names (the manifest CAS stays
        the only arbiter). OPTIMIZE-vs-OPTIMIZE fails exactly like the
        full-list path: any read-set file already gone from the latest
        manifest means our snapshot was itself rewritten —
        :class:`CommitConflict`, never silent row duplication.

        ``op="optimize"`` is data_change=false, so the CDF source and
        :meth:`changes_between` ignore it (layout change, not a logical
        change). Checkpoints covering the replaced shards go stale and
        fall back to full resolution (stale, never wrong — the standing
        checkpoint invariant)."""
        import uuid

        from pyspark.sql import functions as F

        read_set = set(self.manifest_files(read_manifest))
        if not read_set:
            return int(read_manifest["version"])  # empty table: no-op
        consumed_dvs = set(read_manifest.get("delete_vectors", []))
        df = _apply_delete_vectors(
            spark,
            self._with_scoped_dvs_applied(
                spark, sorted(read_set), read_manifest
            ).drop("_dv_file"),
            sorted(consumed_dvs),
        )
        n_rows = df.count()
        n_out = max(1, math.ceil(n_rows / target_rows_per_file))
        new = self._land(
            df, n_out, tag=f"optimize-v{read_manifest['version'] + 1}"
        )
        shard_dir = self.log_dir / "shards"
        shard_dir.mkdir(exist_ok=True)
        # Shards written by a CAS-losing attempt are referenced by no
        # manifest: the loser's rebase runs again with a fresh token,
        # so without cleanup every lost race leaks one attempt's worth
        # of shard JSONs under _log/shards/ forever (vacuum only prunes
        # data files, compact_shards only supersedes referenced shards
        # — round-10 ADVICE). Each rebase call drops the previous
        # attempt's files first; a terminal failure drops its own.
        pending_attempt: list[str] = []

        def rebase(prev: dict | None) -> tuple[list[str], dict]:
            _unlink_all(pending_attempt)
            if prev is None or not prev.get("sharded"):
                raise ValueError(
                    "protocol mix: table's latest manifest is full-list —"
                    " sharded OPTIMIZE cannot rebase onto it"
                )
            pfiles = set(self.manifest_files(prev))
            rewritten = sorted(read_set - pfiles)
            if rewritten:
                raise CommitConflict(
                    "concurrent commit rewrote files this OPTIMIZE read"
                    f" (e.g. {rewritten[0]}); re-run OPTIMIZE on the new"
                    " snapshot"
                )
            entries = sorted(set(new) | (pfiles - read_set))
            token = uuid.uuid4().hex[:12]
            new_shards: list[str] = []
            for i in range(0, len(entries), max_entries_per_shard):
                p = shard_dir / (
                    f"optimize-{token}-{i // max_entries_per_shard:04d}.json"
                )
                with open(p, "x") as fh:
                    fh.write(
                        json.dumps(
                            {"files": entries[i : i + max_entries_per_shard]}
                        )
                    )
                new_shards.append(str(p))
            pending_attempt.extend(new_shards)
            carry: dict = {"manifest_shards": new_shards, "sharded": True}
            dvs = [
                d
                for d in (prev.get("delete_vectors", []) if prev else [])
                if d not in consumed_dvs
            ]
            if dvs:
                carry["delete_vectors"] = dvs
            return [], carry

        try:
            return self.commit(op="optimize", build=rebase)
        except BaseException:
            _unlink_all(pending_attempt)
            raise

    def snapshot(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Snapshot read (time travel when ``version`` is given):
        resolve ONE manifest (plus its shard files when the table uses
        the sharded protocol), scan exactly its files."""
        return spark.read.parquet(*self.resolve_files(version))

    # -- sharded-manifest protocol (Iceberg manifest-list shape) ----------

    def append_manifest_sharded(
        self, df: DataFrame, n_files: int, tag: str, op: str = "append-sharded"
    ) -> int:
        """Append with an O(delta) commit payload — the metadata-scale
        answer to the measured full-list failure mode (DESIGN.md: a
        full-list manifest grows ~162 B per file per COMMIT, so at 1M
        files every commit rewrites ~160 MB of metadata). Here each
        landing writes ONE immutable shard file listing only the NEW
        entries (``_log/shards/<tag>.json``), and the committed
        manifest carries just the shard-reference list — the Iceberg
        manifest-list / Delta checkpoint+delta shape: commit payload
        grows by one path per landing regardless of table size, and a
        snapshot read fans the shard fetches out (here a loop over
        tiny local JSON; on an object store, parallel gets). Shard
        files are immutable once referenced, so the exclusive-create
        commit invariant is unchanged. The CDF streaming source
        resolves shard references when diffing versions, so sharded
        tables feed incrementally too (tests/test_streaming.py);
        rewrite_manifests compactions are data_change=false and
        contribute zero feed rows. Full-list appends and sharded
        appends must not mix on ONE table — each protocol's rebase
        only carries its own payload shape forward — and the rebase
        ENFORCES it: committing onto a full-list manifest raises
        (and :meth:`append` refuses the converse), so a protocol mix
        fails loudly at write time instead of a later diff silently
        missing files."""
        import uuid

        files = self._land(df, n_files, tag)
        shard_dir = self.log_dir / "shards"
        shard_dir.mkdir(exist_ok=True)
        # per-landing token: a tag collision must orphan, never crash
        # or alias — same uniqueness discipline as _land's data files
        shard = shard_dir / f"{tag}-{uuid.uuid4().hex[:12]}.json"
        with open(shard, "x") as fh:
            fh.write(json.dumps({"files": sorted(files)}))

        def rebase(prev: dict | None) -> tuple[list[str], dict]:
            if prev is not None and not prev.get("sharded"):
                raise ValueError(
                    "protocol mix: table's latest manifest is full-list —"
                    " use append(), not append_manifest_sharded()"
                )
            shards = prev.get("manifest_shards", []) if prev is not None else []
            carry = {"manifest_shards": shards + [str(shard)], "sharded": True}
            if prev is not None and "delete_vectors" in prev:
                carry["delete_vectors"] = prev["delete_vectors"]
            return [], carry

        return self.commit(op=op, build=rebase)

    def compact_shards(self, max_entries_per_shard: int = 1024) -> int:
        """Iceberg ``rewrite_manifests``: merge the accumulated
        per-landing shard files into few large shards and commit a
        manifest referencing only those (data files untouched, so
        ``data_change=False`` and the change feed ignores it — the
        metadata twin of OPTIMIZE). Old shards stay on disk because
        prior manifest versions still reference them: time travel
        through a compaction is intact, exactly like data-file
        OPTIMIZE. Keeps snapshot resolution O(total/max_entries) shard
        reads after long landing histories."""
        import uuid

        shard_dir = self.log_dir / "shards"
        shard_dir.mkdir(exist_ok=True)
        # same CAS-loser hygiene as _optimize_sharded: a losing
        # attempt's merged shards are referenced by no manifest
        pending_attempt: list[str] = []

        def rebase(prev: dict | None) -> tuple[list[str], dict]:
            # rebuilt from the freshly-read manifest on EVERY attempt,
            # so a conflict loser re-reads the winner's shards instead
            # of republishing a stale merge (the lost-update class the
            # static-list path refuses to retry); shard names carry a
            # uuid so racing compactors never collide on the files
            # themselves — the manifest CAS stays the only arbiter
            _unlink_all(pending_attempt)
            token = uuid.uuid4().hex[:12]
            entries: list[str] = []
            for s in prev.get("manifest_shards", []) if prev else []:
                entries.extend(json.loads(Path(s).read_text())["files"])
            entries.sort()
            new_shards: list[str] = []
            for i in range(0, len(entries), max_entries_per_shard):
                p = shard_dir / (
                    f"compact-{token}-{i // max_entries_per_shard:04d}.json"
                )
                with open(p, "x") as fh:
                    fh.write(
                        json.dumps({"files": entries[i : i + max_entries_per_shard]})
                    )
                new_shards.append(str(p))
            pending_attempt.extend(new_shards)
            carry = {"manifest_shards": new_shards, "sharded": True}
            if prev is not None and "delete_vectors" in prev:
                carry["delete_vectors"] = prev["delete_vectors"]
            return [], carry

        try:
            return self.commit(op="rewrite-manifests", build=rebase)
        except BaseException:
            _unlink_all(pending_attempt)
            raise

    @staticmethod
    def manifest_files(m: dict) -> list[str]:
        """The file list behind a manifest DICT, whichever protocol
        wrote it: full-list manifests carry it inline; sharded
        manifests reference immutable shard files holding O(delta)
        entries each (tiny local JSON — metadata, same cost class as
        the manifest). Every file-level consumer (snapshot, change
        feed, vacuum, the streaming CDF source's ``_files_of`` twin)
        goes through this so the two protocols diff identically."""
        if not m.get("sharded"):
            return sorted(m["files"])
        out: list[str] = []
        for s in m.get("manifest_shards", []):
            out.extend(json.loads(Path(s).read_text())["files"])
        return sorted(out)

    def resolve_files(self, version: int | None = None) -> list[str]:
        """The file list behind a manifest version (see
        :meth:`manifest_files`)."""
        return self.manifest_files(self.read_manifest(version))

    def restore(self, version: int) -> int:
        """RESTORE TABLE ... TO VERSION (Delta RESTORE / Iceberg
        rollback): commit the OLD snapshot's exact content — file list
        plus its sidecar metadata (delete vectors, stats, shard refs)
        — as the NEXT version. History is never rewritten (the bad
        versions stay time-travelable for forensics); the restore is
        itself an auditable, CAS-published commit, and it is a data
        change: the change feed replays it as deletes of the rows the
        bad versions added and inserts of any rows they had removed.

        Concurrency (Delta RESTORE conflicts with concurrent txns the
        same way): the old snapshot is republished verbatim, so any
        commit that lands after the latest version captured HERE would
        be silently erased by a retry — the rebase callback therefore
        raises :class:`CommitConflict` when the log has advanced past
        the entry snapshot instead of publishing a lost update."""
        old = self.read_manifest(version)
        entry_latest = self.latest_version()

        def rebase(prev: dict | None) -> tuple[list[str], dict]:
            prev_v = -1 if prev is None else int(prev["version"])
            if prev_v != entry_latest:
                raise CommitConflict(
                    f"log advanced to v{prev_v} past v{entry_latest} during"
                    " restore; re-run restore against the new snapshot"
                )
            carry = {
                k: old[k]
                for k in ("delete_vectors", "delete_vectors_scoped",
                          "file_stats", "manifest_shards", "sharded")
                if k in old
            }
            carry["restored_from"] = int(old["version"])
            return old["files"], carry

        return self.commit(op=f"restore-to-{version}", build=rebase)

    # -- branches (write-audit-publish) ------------------------------------

    def create_branch(self, name: str, version: int | None = None) -> "TableLog":
        """Fork a branch at ``version`` (default: latest) — Iceberg-style
        refs reduced to their mechanism: a branch is a SEPARATE commit
        log over the SAME immutable data directory. The fork point is
        recorded as the branch's first commit (identical file list, op
        ``branch-create``), so branch version numbering continues from
        main's and :meth:`fast_forward` can verify ancestry. Writes to
        the branch land data files normally but publish manifests only
        in the branch log — invisible to main readers until a publish.
        This is the Write-Audit-Publish isolation primitive: stage data
        on a branch, audit the branch snapshot, publish by fast-forward.
        """
        m = self.read_manifest(version)
        br = TableLog(self.base, log_subdir=f"_branches/{name}/_log")
        carry = {
            k: m[k]
            for k in ("delete_vectors", "delete_vectors_scoped",
                      "file_stats", "manifest_shards", "sharded")
            if k in m
        }
        carry["forked_from"] = int(m["version"])
        br.try_commit(
            int(m["version"]), m["files"], op="branch-create", extra=carry
        )
        return br

    def branch(self, name: str) -> "TableLog":
        """Handle to an existing branch's log (same data dir)."""
        return TableLog(self.base, log_subdir=f"_branches/{name}/_log")

    def clone_to(self, dest_base: str | Path, version: int | None = None) -> "TableLog":
        """SHALLOW CLONE (Delta CLONE): a new table at ``dest_base``
        whose v0 manifest references this table's data files — zero
        bytes copied. Round-10 addition over the bare
        ``commit(files, op='clone')`` idiom: the clone is REGISTERED
        with a back-pointer under the source log
        (``_log/_clones/<token>.json``), which :meth:`vacuum` consults
        so source maintenance cannot physically delete files a
        registered clone still references (the cross-table
        reference-counting production formats use, reduced to its
        mechanism). The back-pointer is written BEFORE the clone's v0
        commit (round-10 ADVICE): register-then-commit means a source
        vacuum racing the clone either sees the pointer (and protects
        the files) or the clone has not committed yet (and a failed
        commit unlinks the pointer again) — the commit-then-register
        order had a window where a racing vacuum could delete files
        the just-committed clone references. A pointer whose target
        log directory does not exist yet is treated as LIVE-pending by
        vacuum only until the clone dir appears or the pointer is
        unlinked here; pointers whose clone was later deleted are
        pruned by vacuum. Deleting the clone's directory deregisters
        it. Unregistered hand-rolled clones remain the documented
        hazard."""
        import uuid

        m = self.read_manifest(version)
        clone = TableLog(dest_base)
        carry: dict = {
            k: m[k]
            for k in ("delete_vectors", "delete_vectors_scoped",
                      "manifest_shards", "sharded")
            if k in m
        }
        carry["clone_source"] = str(self.base)
        ptr_dir = self.log_dir / "_clones"
        ptr_dir.mkdir(parents=True, exist_ok=True)
        ptr = ptr_dir / f"{uuid.uuid4().hex[:12]}.json"
        # Atomic pointer PUBLISH (mkstemp + hard-link, the try_commit
        # CAS): vacuum discovers pointers by GLOB, not via a committed
        # manifest, so an open('x')+write pointer had a visible-but-
        # partial window during which vacuum's reader falls into its
        # "mid-write: protect nothing" branch — survivable only via
        # the second-scan re-filter. With link(2) the pointer appears
        # WITH its full pending_files payload, so the in-flight clone
        # is protected from the first scan that can see it.
        import os as _os
        import tempfile as _tempfile

        _fd, _tmp = _tempfile.mkstemp(dir=ptr_dir, prefix=".ptr_")
        with _os.fdopen(_fd, "w") as fh:
            _os.fchmod(fh.fileno(), _published_mode())
            fh.write(
                json.dumps(
                    {
                        "clone_base": str(Path(dest_base).resolve()),
                        # resolved files the pending clone will
                        # reference (shard fan-out included): vacuum
                        # protects these until v0 is committed, at
                        # which point the pointer is finalized and
                        # vacuum reads the clone's own log instead
                        "pending_files": sorted(self.manifest_files(m)),
                        # scoped-DV artifacts the pending clone will
                        # reference — protected from the DV sweep the
                        # same way (a clone of an old version may
                        # reference an artifact no retained source
                        # manifest still lists)
                        "pending_dvs": sorted(
                            m.get("delete_vectors_scoped", [])
                        ),
                    }
                )
            )
        try:
            _os.link(_tmp, ptr)
        finally:
            try:
                _os.unlink(_tmp)
            except OSError:
                pass
        try:
            clone.try_commit(0, m.get("files", []), op="clone", extra=carry)
        except BaseException:
            ptr.unlink(missing_ok=True)
            raise
        # finalize: drop the pending marker so a later clone DELETION
        # (log dir gone) is distinguishable from a commit in flight —
        # written to a temp name and atomically renamed over the
        # pointer, same no-torn-read discipline as try_commit
        import os
        import tempfile

        fd, tmp = tempfile.mkstemp(dir=ptr_dir, prefix=".ptr_")
        with os.fdopen(fd, "w") as fh:
            os.fchmod(fh.fileno(), _published_mode())
            fh.write(json.dumps({"clone_base": str(Path(dest_base).resolve())}))
        os.replace(tmp, ptr)
        return clone

    def fast_forward(self, branch: "TableLog", name: str) -> int:
        """Publish a branch: commit the branch head's file list as
        main's next version — but ONLY if main still sits at the
        branch's fork point (the fast-forward condition; Iceberg's
        ``fast_forward`` procedure fails the same way). If main
        advanced with its own data changes, the branch must rebase
        (re-fork + re-apply) — silently merging two diverged file
        lists could double-commit or drop files, so the conflict
        propagates via :class:`CommitConflict` instead of retrying.
        """
        head = branch.read_manifest()
        fork = int(branch.read_manifest(branch.versions()[0])["forked_from"])

        def build(prev: dict | None) -> tuple[list[str], dict]:
            prev_v = -1 if prev is None else int(prev["version"])
            if prev_v != fork:
                raise CommitConflict(
                    f"main advanced to v{prev_v} past fork v{fork};"
                    " not a fast-forward — rebase the branch"
                )
            carry = {
                k: head[k]
                for k in ("delete_vectors", "delete_vectors_scoped",
                          "file_stats", "manifest_shards", "sharded")
                if k in head
            }
            carry["published_branch"] = name
            carry["branch_head"] = int(head["version"])
            return head["files"], carry

        return self.commit(op=f"publish-{name}", build=build, max_retries=0)

    # -- change data feed -------------------------------------------------

    def changes_between(
        self, spark: SparkSession, v_from: int, v_to: int
    ) -> DataFrame:
        """Incremental read (Delta CDF / Iceberg incremental scan): the
        rows ADDED and DELETED by each commit in ``(v_from, v_to]``,
        tagged ``_change_type`` ('insert' | 'delete') and
        ``_commit_version``. Commits whose ``data_change`` flag is
        false (OPTIMIZE / compaction) contribute NOTHING — they rewrote
        the same rows into different files, which is exactly the churn
        an incremental consumer must not re-process.

        - inserts at v = scan of the files v added over v-1 (file-level
          manifest diff — shard references are resolved first, so
          sharded-protocol tables feed identically; appends never
          rewrite, so a new file IS new rows);
        - deletes at v = the v-1 snapshot semi-joined to the delete
          vectors v added (the full deleted rows, as Delta CDF emits
          them, not just keys).

        Everything is a pruned parquet scan unioned lazily; the driver
        touches file names only.
        """
        from functools import reduce

        from pyspark.sql import functions as F

        feeds: list[DataFrame] = []
        prev = self.read_manifest(v_from)
        prev_files = set(self.manifest_files(prev))
        for v in range(v_from + 1, v_to + 1):
            m = self.read_manifest(v)
            m_files = set(self.manifest_files(m))
            if m.get("data_change", True):
                added = sorted(m_files - prev_files)
                if added:
                    feeds.append(
                        spark.read.parquet(*added)
                        .withColumn("_change_type", F.lit("insert"))
                        .withColumn("_commit_version", F.lit(v).cast("int"))
                    )
                removed = sorted(prev_files - m_files)
                if removed:
                    # a data-change commit that DROPS files (RESTORE /
                    # overwrite) logically deletes their rows — emit
                    # them, as Delta CDF does for remove actions. (An
                    # OPTIMIZE also drops files but is data_change=
                    # false and never reaches this branch.)
                    feeds.append(
                        spark.read.parquet(*removed)
                        .withColumn("_change_type", F.lit("delete"))
                        .withColumn("_commit_version", F.lit(v).cast("int"))
                    )
                dv_added = [
                    d for d in m.get("delete_vectors", [])
                    if d not in set(prev.get("delete_vectors", []))
                ]
                for dv in dv_added:
                    keys = spark.read.parquet(dv)
                    deleted = (
                        spark.read.parquet(*sorted(prev_files))
                        .join(F.broadcast(keys), keys.columns, "left_semi")
                        .withColumn("_change_type", F.lit("delete"))
                        .withColumn("_commit_version", F.lit(v).cast("int"))
                    )
                    feeds.append(deleted)
                scoped_added = [
                    d for d in m.get("delete_vectors_scoped", [])
                    if d not in set(prev.get("delete_vectors_scoped", []))
                ]
                for dv in scoped_added:
                    # MOR update: the masked OLD row versions are the
                    # deletes (the appended files already fed as
                    # inserts above) — pair-joined on (file, keys)
                    pairs = spark.read.parquet(dv)
                    on = ["_dv_file"] + [
                        c for c in pairs.columns if c != "_dv_file"
                    ]
                    deleted = (
                        spark.read.parquet(*sorted(prev_files))
                        .withColumn("_dv_file", F.expr(self._NORM_FILE))
                        .join(F.broadcast(pairs), on, "left_semi")
                        .drop("_dv_file")
                        .withColumn("_change_type", F.lit("delete"))
                        .withColumn("_commit_version", F.lit(v).cast("int"))
                    )
                    feeds.append(deleted)
            prev, prev_files = m, m_files
        if not feeds:
            raise ValueError(f"no data-change commits in ({v_from}, {v_to}]")
        return reduce(lambda a, b: a.unionByName(b), feeds)

    # -- file statistics / data skipping ----------------------------------

    @staticmethod
    def bucketize_range(
        df: DataFrame, bucket_col: str, width: int
    ) -> tuple[str, dict[int, tuple[int, int]]]:
        """The Spark half of :meth:`append_range_bucketed` — ONE
        grouped stats aggregation plus ONE partitioned write of the
        bucketed input to a scratch dir — factored out so callers that
        stage the SAME fixture table repeatedly (the MOR verb queries
        each build an identical base table) can compute it once and
        land per-table copies via ``prestaged=``; the land step is then
        pure file copies + a commit, no Spark jobs. Returns
        ``(scratch_dir, {bucket: (min, max)})``; the caller owns the
        scratch dir's lifetime when it passes it back as
        ``prestaged``."""
        from pyspark.sql import functions as F

        b = df.withColumn(
            "__bucket", F.floor(F.col(bucket_col) / width).cast("int")
        )
        stats = {
            int(r["__bucket"]): (int(r["mn"]), int(r["mx"]))
            for r in b.groupBy("__bucket")
            .agg(F.min(bucket_col).alias("mn"), F.max(bucket_col).alias("mx"))
            .collect()
        }
        scratch = Path(staging.new_dir("crs_tablelog_"))
        if stats:
            (
                b.repartition(len(stats), "__bucket")
                .write.partitionBy("__bucket")
                .mode("overwrite")
                .parquet(str(scratch / "w"))
            )
        return str(scratch), stats

    def append_range_bucketed(
        self,
        df: DataFrame,
        bucket_col: str,
        width: int,
        tag: str,
        *,
        prestaged: tuple[str, dict[int, tuple[int, int]]] | None = None,
    ) -> int:
        """Land ``df`` as one file per ``bucket_col`` range bucket
        (bucket i = values in [i*width, (i+1)*width), floor semantics —
        negative values land in negative buckets, matching the ``//``
        floor division the oracles replay), recording each file's
        [min, max] of ``bucket_col`` in the manifest — the per-file
        stats every lakehouse manifest carries. Stats come from ONE
        grouped aggregation over the input (executor-side; the driver
        sees n_buckets scalar triples), and ALL buckets land in ONE
        partitioned write: repartition on the bucket key routes each
        bucket to exactly one task, so every ``partitionBy`` dir holds
        exactly one part file (the previous per-bucket filter+write
        loop ran n_buckets sequential jobs — measured 5.3 s -> ~1.5 s
        on the 18-bucket partition-evolution query). Stats ride in the
        same single-write manifest (``extra`` payload of the commit),
        never patched in afterwards. An empty input commits an empty
        delta (next version = previous snapshot unchanged). Passing
        ``prestaged`` (from :meth:`bucketize_range`) skips the Spark
        work entirely and lands copies of the prestaged files — the
        scratch dir is left intact for further reuse."""
        import shutil
        import uuid

        cleanup = prestaged is None
        scratch_str, stats = prestaged or self.bucketize_range(
            df, bucket_col, width
        )
        entries: list[dict] = []
        files: list[str] = []
        if stats:
            scratch = Path(scratch_str)
            try:
                token = uuid.uuid4().hex[:12]
                for i in sorted(stats):
                    parts = sorted((scratch / "w" / f"__bucket={i}").glob("*.parquet"))
                    assert len(parts) == 1, f"bucket {i}: {len(parts)} files"
                    dst = self.data_dir / f"{tag}-{token}-b{i:04d}.parquet"
                    staging.link_or_copy(parts[0], dst)
                    files.append(str(dst))
                    mn, mx = stats[i]
                    entries.append({"path": str(dst), "stats": {bucket_col: [mn, mx]}})
            finally:
                if cleanup:
                    shutil.rmtree(scratch, ignore_errors=True)

        def rebase(prev: dict | None) -> tuple[list[str], dict]:
            if prev is not None and prev.get("sharded"):
                raise ValueError(
                    "protocol mix: table's latest manifest is sharded —"
                    " full-list append_range_bucketed() cannot commit onto it"
                )
            pfiles = prev["files"] if prev is not None else []
            pstats = prev.get("file_stats", []) if prev is not None else []
            carry = {"file_stats": pstats + entries}
            for k in ("delete_vectors", "delete_vectors_scoped"):
                if prev is not None and k in prev:
                    carry[k] = prev[k]
            return pfiles + files, carry

        return self.commit(op="append", build=rebase)

    def update_cow(
        self,
        spark: SparkSession,
        predicate: str,
        assign: dict[str, str],
        *,
        prune_col: str | None = None,
        prune_lo: int | None = None,
        prune_hi: int | None = None,
        tag: str = "update-cow",
    ) -> dict:
        """Copy-on-write UPDATE (Delta/Iceberg ``UPDATE ... WHERE``
        without deletion vectors): rewrite ONLY the data files that can
        contain matching rows, carry every other file forward
        untouched, and commit the swapped list as the next version.

        File targeting uses the manifest's per-file ``file_stats`` when
        the caller names the pruned column's range (``prune_col`` +
        ``prune_lo/hi`` — the stats :meth:`append_range_bucketed`
        records): a file whose recorded [min, max] misses the range is
        provably match-free and is NOT read, NOT rewritten — the whole
        point of COW on a 100 TB table is that an UPDATE touching one
        partition's worth of keys rewrites that partition's files, not
        the table. Files without stats are conservatively treated as
        touched (same superset rule as :meth:`snapshot_pruned`).

        Semantics:
        - ``predicate`` / ``assign`` are SQL expression strings; every
          assigned column becomes ``CASE WHEN predicate THEN expr
          ELSE col END`` — non-matching rows in touched files are
          rewritten byte-identical.
        - MOR delete vectors are MATERIALIZED into the rewritten files
          (applied on read, exactly like OPTIMIZE) and carried forward
          for the untouched files they still mask.
        - Rewritten files lose their range stats until a later
          stats-recording rewrite (readers scan stat-less files —
          stale-stats-never-wrong, the standing invariant).
        - Conflicts: a concurrent commit that rewrote any file in our
          read set raises :class:`CommitConflict` (lost-update
          prevention); concurrent APPENDS commute — the rebase carries
          their files and stats forward.
        - ``op="update-cow"`` is a data change: the CDF replays the
          rewrite as file-granularity delete+add (Delta CDF's shape
          for COW updates without row tracking).

        Returns a census dict: committed version, files rewritten /
        carried, rows matched.
        """
        from pyspark.sql import functions as F

        m = self.read_manifest()
        if m.get("sharded"):
            raise ValueError(
                "protocol mix: update_cow targets full-list tables —"
                " sharded tables compact via _optimize_sharded first"
            )
        all_files = list(m.get("files", []))
        if prune_col is not None and (prune_lo is None or prune_hi is None):
            raise ValueError("prune_col requires prune_lo and prune_hi")
        if prune_col is not None:
            stats = {
                e["path"]: e["stats"].get(prune_col)
                for e in m.get("file_stats", [])
            }
            touched = [
                p
                for p in all_files
                if stats.get(p) is None
                or (stats[p][0] <= prune_hi and stats[p][1] >= prune_lo)
            ]
        else:
            touched = all_files
        if not touched:
            return {
                "version": int(m["version"]),
                "files_rewritten": 0,
                "files_carried": len(all_files),
                "n_matched": 0,
            }
        touched_set = set(touched)
        read_scoped = set(m.get("delete_vectors_scoped", []))
        src = _apply_delete_vectors(
            spark,
            self._with_scoped_dvs_applied(spark, sorted(touched), m).drop("_dv_file"),
            m.get("delete_vectors", []),
        )
        cond = F.expr(predicate)
        # two-pass shape, same as Delta's UPDATE: this count action is
        # column-pruned to the predicate's columns only (cheap columnar
        # scan for the metric), the rewrite below reads full rows
        n_matched = src.filter(cond).count()
        out = src
        for col_name, expr in assign.items():
            out = out.withColumn(
                col_name, F.when(cond, F.expr(expr)).otherwise(F.col(col_name))
            )
        _refuse_type_divergence(src.schema, out.schema, "UPDATE")
        new = self._land(out, len(touched), tag=tag)

        def rebase(prev: dict | None) -> tuple[list[str], dict]:
            if prev is None or prev.get("sharded"):
                raise ValueError(
                    "protocol mix: table's latest manifest is sharded —"
                    " full-list update_cow cannot rebase onto it"
                )
            pfiles = set(prev.get("files", []))
            gone = sorted(touched_set - pfiles)
            if gone:
                raise CommitConflict(
                    "concurrent commit rewrote files this UPDATE read"
                    f" (e.g. {gone[0]}); re-run on the new snapshot"
                )
            if set(prev.get("delete_vectors_scoped", [])) != read_scoped:
                # a concurrent MOR update's pairs may reference files
                # this rewrite drops — its old rows would reappear
                # unmasked in our output; conflict, never merge
                raise CommitConflict(
                    "concurrent MOR update during COW update; re-run"
                    " on the new snapshot"
                )
            files = sorted((pfiles - touched_set) | set(new))
            carry: dict = {}
            surviving_stats = [
                e
                for e in prev.get("file_stats", [])
                if e["path"] not in touched_set
            ]
            if surviving_stats:
                carry["file_stats"] = surviving_stats
            if "delete_vectors" in prev:
                carry["delete_vectors"] = prev["delete_vectors"]
            if read_scoped:
                # pairs for rewritten files go inert (masks were
                # materialized into the new files); pairs for untouched
                # files stay live — carry the list unchanged
                carry["delete_vectors_scoped"] = prev["delete_vectors_scoped"]
            return files, carry

        v = self.commit(op="update-cow", build=rebase)
        return {
            "version": int(v),
            "files_rewritten": len(touched),
            "files_carried": len(all_files) - len(touched),
            "n_matched": int(n_matched),
        }

    # -- merge-on-read with file-scoped delete vectors ---------------------

    #: zone of the scoped-DV path column: Spark's ``_metadata.file_path``
    #: is a ``file:``-scheme URI while manifests carry plain paths —
    #: both sides normalize through this expression so pair joins and
    #: manifest-membership checks compare like with like.
    _NORM_FILE = "regexp_replace(_metadata.file_path, '^file:/+', '/')"

    def _with_scoped_dvs_applied(
        self, spark: SparkSession, files: list[str], m: dict
    ):
        """Scan ``files`` with the manifest's FILE-SCOPED delete
        vectors applied (one scan + one anti-join on (file, keys) pairs
        — never per-file reads) and the normalized physical path kept
        as ``_dv_file``. Callers drop the column when done."""
        from pyspark.sql import functions as F

        base = spark.read.parquet(*sorted(files)).withColumn(
            "_dv_file", F.expr(self._NORM_FILE)
        )
        scoped = m.get("delete_vectors_scoped", [])
        if scoped:
            pairs = spark.read.parquet(*scoped)
            on = ["_dv_file"] + [c for c in pairs.columns if c != "_dv_file"]
            base = base.join(F.broadcast(pairs), on, "left_anti")
        return base

    def snapshot_mor(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Merge-on-read snapshot: the manifest's files with BOTH
        delete-vector kinds applied — global key-list DVs (the
        ``lake_delete_mor`` shape: one key list masks every file) and
        FILE-SCOPED (file, key) pair DVs (Delta's actual
        deletion-vector model). Scoped DVs exist because MOR UPDATE is
        inexpressible with key-global DVs: masking an updated row's key
        globally would also mask the re-appended NEW version of that
        row. A scoped pair goes harmlessly inert when its file leaves
        the manifest (OPTIMIZE/COW rewrote it with the mask
        materialized). Plain :meth:`snapshot` stays raw by design —
        MOR-aware readers use this."""
        m = self.read_manifest(version)
        df = self._with_scoped_dvs_applied(
            spark, self.resolve_files(version), m
        ).drop("_dv_file")
        return _apply_delete_vectors(spark, df, m.get("delete_vectors", []))

    def update_mor(
        self,
        spark: SparkSession,
        predicate: str,
        assign: dict[str, str],
        key_cols: list[str],
        *,
        n_files: int = 1,
        tag: str = "update-mor",
    ) -> dict:
        """Merge-on-read UPDATE..WHERE (Delta UPDATE with deletion
        vectors): the matched OLD row versions are masked by a
        FILE-SCOPED delete vector — a parquet of (file, key) pairs —
        and the NEW row versions are appended; NO existing data file is
        rewritten. The O(matched) complement to :meth:`update_cow`'s
        O(touched-files): at 100 TB an update matching 0.01% of rows
        writes ~0.01% of the data instead of every touched file.

        ``key_cols`` must uniquely identify a row WITHIN its file (the
        price of key-based pairs vs Delta's row positions): a pair
        masks every in-file row sharing the keys, so if an unmatched
        row shared them it would be silently deleted — the verb
        COUNTS the masked rows and raises rather than lose data.

        Semantics / concurrency:
        - reads through :meth:`snapshot_mor` (stacked updates compose:
          a second update of the same key masks the first update's
          appended file and appends again — compose means SEQUENTIAL;
          see the conflict rules for racing ones);
        - commutes with concurrent APPENDs (pure file addition);
        - conflicts (:class:`CommitConflict`) if a concurrent commit
          REWROTE any file in the read snapshot — our pairs would go
          inert while the rewritten copies of the old rows stand
          unmasked;
        - conflicts if a concurrent commit CHANGED the scoped-DV list
          (another MOR update raced us, Delta's
          ConcurrentDeleteDelete class): merging would let BOTH
          updates' appended new-versions go live — each racer's pairs
          mask only the base rows it read, not the other racer's
          append — so a key updated by both would surface twice
          (measured: two live rows before this rule). Same
          conservatism as :meth:`update_cow`; the loser's landed
          files are orphans and its DV artifact is unlinked;
        - ``op="update-mor"`` is a data change: the CDF emits the
          masked old rows as deletes and the appended files as inserts.

        Returns a census dict: version, rows matched, files appended
        (0 rewritten, by construction).
        """
        import uuid

        from pyspark.sql import functions as F

        m = self.read_manifest()
        if m.get("sharded"):
            raise ValueError(
                "protocol mix: update_mor targets full-list tables —"
                " sharded tables carry their deltas in shard refs"
            )
        read_files = set(m.get("files", []))
        read_scoped = set(m.get("delete_vectors_scoped", []))
        if not read_files:
            return {"version": int(m["version"]), "n_matched": 0,
                    "files_appended": 0, "files_rewritten": 0}
        base = self._with_scoped_dvs_applied(spark, sorted(read_files), m)
        live = _apply_delete_vectors(spark, base, m.get("delete_vectors", []))
        matched = live.filter(F.expr(predicate))
        n_matched = matched.count()
        if n_matched == 0:
            return {"version": int(m["version"]), "n_matched": 0,
                    "files_appended": 0, "files_rewritten": 0}

        dv_dir = self.base / "_dvs"
        dv_dir.mkdir(parents=True, exist_ok=True)
        dv_path = str(dv_dir / f"{tag}-{uuid.uuid4().hex[:12]}.parquet")
        pairs = matched.select("_dv_file", *key_cols)
        pairs.coalesce(1).write.mode("errorifexists").parquet(dv_path)
        # uniqueness guard: the pairs must mask exactly the matched
        # rows — a surplus means key_cols don't identify rows in-file
        # and an UNMATCHED row would be silently deleted
        written = spark.read.parquet(dv_path)
        on = ["_dv_file", *key_cols]
        n_masked = base.join(F.broadcast(written), on, "left_semi").count()
        if n_masked != n_matched:
            import shutil

            shutil.rmtree(dv_path, ignore_errors=True)
            raise ValueError(
                f"key_cols {key_cols} mask {n_masked} rows but the"
                f" predicate matched {n_matched}: keys must uniquely"
                " identify a row within its file for MOR update"
            )
        out = matched.drop("_dv_file")
        for col_name, expr in assign.items():
            out = out.withColumn(col_name, F.expr(expr))
        _refuse_type_divergence(
            matched.drop("_dv_file").schema, out.schema, "UPDATE"
        )
        new = self._land(out, n_files, tag=tag)

        def rebase(prev: dict | None) -> tuple[list[str], dict]:
            if prev is None or prev.get("sharded"):
                raise ValueError(
                    "protocol mix: table's latest manifest is sharded —"
                    " update_mor cannot rebase onto it"
                )
            pfiles = set(prev.get("files", []))
            gone = sorted(read_files - pfiles)
            if gone:
                raise CommitConflict(
                    "concurrent commit rewrote files this UPDATE read"
                    f" (e.g. {gone[0]}); re-run on the new snapshot"
                )
            if set(prev.get("delete_vectors_scoped", [])) != read_scoped:
                raise CommitConflict(
                    "concurrent MOR update during this UPDATE (scoped-DV"
                    " list changed); re-run on the new snapshot — merging"
                    " would leave both updates' new row versions live"
                )
            carry: dict = {
                "delete_vectors_scoped": prev.get("delete_vectors_scoped", [])
                + [dv_path]
            }
            for k in ("delete_vectors", "file_stats"):
                if k in prev:
                    carry[k] = prev[k]
            _require_dv_artifact(dv_path, "UPDATE")
            return sorted(pfiles | set(new)), carry

        try:
            v = self.commit(op="update-mor", build=rebase)
        except CommitConflict:
            # the loser's DV artifact is referenced by no manifest —
            # unlink it eagerly so the orphan doesn't wait for the next
            # vacuum (whose _dvs/ sweep only reclaims unreferenced
            # artifacts past the grace horizon). The landed data files
            # stay as orphans, invisible by snapshot isolation and
            # reclaimed with the data dir; same cleanup contract as the
            # sharded-OPTIMIZE CAS loser's shard JSONs.
            import shutil

            shutil.rmtree(dv_path, ignore_errors=True)
            raise
        return {
            "version": int(v),
            "n_matched": int(n_matched),
            "files_appended": len(new),
            "files_rewritten": 0,
            "scoped_dv": dv_path,
        }

    def merge_mor(
        self,
        spark: SparkSession,
        source: DataFrame,
        key_cols: list[str],
        *,
        n_files: int = 1,
        tag: str = "merge-mor",
        delete_unmatched: str | None = None,
    ) -> dict:
        """Merge-on-read MERGE (Delta ``MERGE INTO`` with deletion
        vectors, upsert shape: WHEN MATCHED THEN UPDATE SET * / WHEN
        NOT MATCHED THEN INSERT *; with ``delete_unmatched`` also the
        third Delta clause, WHEN NOT MATCHED BY SOURCE [AND <pred>]
        THEN DELETE — pass ``"true"`` for the unconditional form, any
        boolean SQL expression for the conditional one; target rows
        not keyed by the source that satisfy it are masked by the SAME
        scoped-DV artifact as the matched updates, still zero files
        rewritten): target rows whose ``key_cols``
        appear in ``source`` are masked by a FILE-SCOPED delete vector
        and the ENTIRE source lands as appended files — zero existing
        files rewritten. The MOR completion of the verb family
        (delete_mor / update_mor / merge_mor): at 100 TB a daily upsert
        of 0.01% of keys writes O(source) bytes, not O(touched files).

        Contract (both checked with bounded count actions, never
        driver-side data):
        - source keys must be UNIQUE (Delta raises on multiple source
          rows matching one target row; so do we);
        - matched target keys must be unique across the TARGET too
          (a key in two live target rows would collapse 2 -> 1 on
          upsert — ambiguous, refused; same price as update_mor's
          in-file uniqueness, extended table-wide because the mask and
          the insert are keyed globally here).

        Concurrency — STRICTER than update_mor: conflicts on ANY
        file-set OR delete-vector-list change, appends included.
        update_mor's predicate is evaluated against its read snapshot,
        so a concurrent append commutes; MERGE's correctness
        additionally depends on global key uniqueness, and a
        concurrent append can insert a key this merge also inserts —
        invisible to both writers, surfacing later as duplicate keys.
        A concurrent key-global DELETE is just as dangerous: its key
        list would re-mask this merge's appended rows. (Delta's
        Serializable level makes the same call: MERGE reads the whole
        table, so any concurrent change conflicts.)

        Key-global DVs also bound what a merge can express AT READ
        time: a source key already masked by a global DV cannot be
        upserted (the carried list would mask the new version too) —
        the verb refuses and prescribes OPTIMIZE, which materializes
        global DVs and drops them.

        ``op="merge-mor"`` is a data change; the CDF replays it as
        delete(masked old versions) + insert(the appended source) via
        the generic scoped-DV path in :meth:`changes_between`.

        Returns a census dict: version, rows updated (masked), rows
        inserted, rows deleted (by the not-matched-by-source clause),
        files appended (0 rewritten, by construction).
        """
        import uuid

        from pyspark.sql import functions as F

        src_stats = source.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(*key_cols).alias("nk"),
        ).collect()[0]
        n_source, n_keys = int(src_stats["n"]), int(src_stats["nk"])
        if n_source == 0 and delete_unmatched is None:
            m = self.read_manifest()
            return {"version": int(m["version"]), "n_updated": 0,
                    "n_inserted": 0, "n_deleted": 0, "files_appended": 0,
                    "files_rewritten": 0}
        if n_keys != n_source:
            raise ValueError(
                f"source has {n_source} rows but {n_keys} distinct"
                f" {key_cols}: MERGE requires unique source keys"
                " (multiple source rows would match one target row)"
            )

        m = self.read_manifest()
        if m.get("sharded"):
            raise ValueError(
                "protocol mix: merge_mor targets full-list tables —"
                " sharded tables carry their deltas in shard refs"
            )
        read_files = set(m.get("files", []))
        read_scoped = set(m.get("delete_vectors_scoped", []))
        read_global = list(m.get("delete_vectors", []))

        dv_path: str | None = None
        n_matched = 0
        n_deleted = 0
        if read_files:
            base = self._with_scoped_dvs_applied(
                spark, sorted(read_files), m
            )
            live = _apply_delete_vectors(spark, base, read_global)
            # schema-on-WRITE check (Delta's MERGE contract): a source
            # whose column types diverge from the table would land a
            # file the union scan can no longer read — every later
            # snapshot fails loudly. Refuse before committing instead.
            table_schema = {
                f.name: f.dataType for f in base.schema.fields
                if f.name != "_dv_file"
            }
            src_schema = {f.name: f.dataType for f in source.schema.fields}
            if src_schema != table_schema:
                raise ValueError(
                    f"source schema {sorted(src_schema.items(), key=str)}"
                    " does not match the table's"
                    f" {sorted(table_schema.items(), key=str)}: MERGE"
                    " refuses a type-divergent source (the committed"
                    " file would break every later snapshot read)"
                )
            if read_global:
                # key-GLOBAL delete vectors mask a key in EVERY file —
                # including the file this merge is about to append. A
                # source row whose key sits in a global DV would be
                # counted as an insert and then silently re-masked on
                # every read (the upsert vanishes). Inexpressible
                # without rewriting the caller-owned DV artifacts:
                # refuse, and point at OPTIMIZE (which materializes
                # global DVs and drops them).
                n_visible = _apply_delete_vectors(
                    spark, source, read_global
                ).count()
                if n_visible != n_source:
                    raise ValueError(
                        f"{n_source - n_visible} source keys are masked"
                        " by key-global delete vectors, which would"
                        " also mask their merged new versions — run"
                        " OPTIMIZE first to materialize the deletes,"
                        " then re-run the MERGE"
                    )
            src_keys = source.select(*key_cols)
            matched = live.join(
                F.broadcast(src_keys), key_cols, "left_semi"
            ).persist()
            try:
                n_matched = matched.count()
                if n_matched:
                    n_matched_keys = (
                        matched.select(*key_cols).distinct().count()
                    )
                    if n_matched_keys != n_matched:
                        raise ValueError(
                            f"{n_matched} target rows share"
                            f" {n_matched_keys} distinct {key_cols}:"
                            " MERGE needs table-wide unique target keys"
                            " (an upsert would collapse duplicates)"
                        )
                pairs = matched.select("_dv_file", *key_cols)
                doomed = None
                try:
                    if delete_unmatched is not None:
                        # WHEN NOT MATCHED BY SOURCE [AND <pred>] THEN
                        # DELETE: live target rows with no source key,
                        # filtered by the clause predicate, join the
                        # SAME mask. Guard: a doomed (file, key) pair
                        # masks every live row with that pair — a
                        # doomed key shared with a surviving same-file
                        # row would silently delete the survivor;
                        # refuse instead (bounded count actions, no
                        # driver data).
                        doomed = live.join(
                            F.broadcast(src_keys), key_cols, "left_anti"
                        ).filter(F.expr(delete_unmatched)).persist()
                        n_deleted = doomed.count()
                        if n_deleted:
                            on = ["_dv_file", *key_cols]
                            dpairs = doomed.select(*on)
                            n_masked = live.join(
                                F.broadcast(dpairs), on, "left_semi"
                            ).count()
                            if n_masked != n_deleted:
                                raise ValueError(
                                    f"delete_unmatched pairs mask"
                                    f" {n_masked} live rows but the"
                                    f" clause matched {n_deleted}:"
                                    f" {key_cols} must uniquely identify"
                                    " a row within its file for MOR"
                                    " DELETE"
                                )
                            pairs = pairs.unionByName(dpairs)
                    if n_matched or n_deleted:
                        # write while matched AND doomed are still
                        # cached — unpersisting doomed first would
                        # recompute the full live-scan inside the
                        # write job (round-12 self-review #3)
                        dv_dir = self.base / "_dvs"
                        dv_dir.mkdir(parents=True, exist_ok=True)
                        dv_path = str(
                            dv_dir / f"{tag}-{uuid.uuid4().hex[:12]}.parquet"
                        )
                        pairs.coalesce(1).write.mode(
                            "errorifexists"
                        ).parquet(dv_path)
                finally:
                    if doomed is not None:
                        doomed.unpersist()
            finally:
                matched.unpersist()

        if n_source == 0 and dv_path is None:
            # empty source whose delete clause matched nothing: a
            # commit here would publish a data-change version identical
            # to its parent (round-12 self-review #2) — report the
            # no-op instead
            return {"version": int(m["version"]), "n_updated": 0,
                    "n_inserted": 0, "n_deleted": 0, "files_appended": 0,
                    "files_rewritten": 0}

        # an empty source with a delete_unmatched clause is a pure
        # delete: nothing to land
        new = self._land(source, n_files, tag=tag) if n_source else []

        def rebase(prev: dict | None) -> tuple[list[str], dict]:
            if prev is None:
                return sorted(new), {}
            if prev.get("sharded"):
                raise ValueError(
                    "protocol mix: table's latest manifest is sharded —"
                    " merge_mor cannot rebase onto it"
                )
            if (
                set(prev.get("files", [])) != read_files
                or set(prev.get("delete_vectors_scoped", [])) != read_scoped
                or list(prev.get("delete_vectors", [])) != read_global
            ):
                raise CommitConflict(
                    "concurrent commit during MERGE (file set or a"
                    " delete-vector list changed); re-run on the new"
                    " snapshot — a racing writer may have touched,"
                    " deleted, or inserted keys this MERGE read or"
                    " inserts"
                )
            carry: dict = {}
            scoped = list(prev.get("delete_vectors_scoped", []))
            if dv_path is not None:
                scoped = scoped + [dv_path]
            if scoped:
                carry["delete_vectors_scoped"] = scoped
            for k in ("delete_vectors", "file_stats"):
                if k in prev:
                    carry[k] = prev[k]
            if dv_path is not None:
                _require_dv_artifact(dv_path, "MERGE")
            return sorted(read_files | set(new)), carry

        try:
            v = self.commit(op="merge-mor", build=rebase)
        except CommitConflict:
            import shutil

            if dv_path is not None:
                shutil.rmtree(dv_path, ignore_errors=True)
            raise
        return {
            "version": int(v),
            "n_updated": int(n_matched),
            "n_inserted": int(n_source - n_matched),
            "n_deleted": int(n_deleted),
            "files_appended": len(new),
            "files_rewritten": 0,
            **({"scoped_dv": dv_path} if dv_path else {}),
        }

    def snapshot_pruned(
        self, spark: SparkSession, col: str, lo: int, hi: int,
        version: int | None = None,
    ) -> tuple[DataFrame, int, int]:
        """Data skipping from manifest stats: scan ONLY files whose
        recorded [min, max] of ``col`` overlaps [lo, hi] (the exact
        predicate is still applied on top — stats pruning must be a
        superset). Returns (frame, files_total, files_scanned).

        RAW by design, like :meth:`snapshot`: no delete vectors of
        either kind are applied — this is the pruning primitive, and
        MOR-aware readers compose it with :meth:`snapshot_mor`'s
        semantics (or use the batch DataSource, which prunes AND
        applies both DV kinds)."""
        from pyspark.sql import functions as F

        m = self.read_manifest(version)
        stats = {e["path"]: e["stats"][col] for e in m.get("file_stats", [])}
        keep = [
            p for p in m["files"]
            if p not in stats or (stats[p][0] <= hi and stats[p][1] >= lo)
        ]
        df = spark.read.parquet(*keep).filter(F.col(col).between(lo, hi))
        return df, len(m["files"]), len(keep)

    # -- log checkpoints (metadata-as-data) --------------------------------

    def write_checkpoint(self, spark: SparkSession, version: int | None = None) -> dict:
        """Materialize a snapshot's RESOLVED file inventory as parquet
        under ``_log/_checkpoints/{version}`` plus a ``_last_checkpoint``
        pointer — Delta's checkpoint mechanism, applied to the two
        places this log's metadata stops being O(1):

        - **sharded protocol**: snapshot resolution reads one JSON per
          shard reference; after thousands of landings that is
          thousands of metadata gets. The checkpoint collapses them
          into ONE columnar read, and :meth:`resolve_files_via_checkpoint`
          then reads only the shards committed AFTER the checkpoint
          (O(delta) tail, exactly Delta's checkpoint + tail-JSON replay).
        - **per-file stats**: at ~1M files the manifest's stats list is
          itself big data; :meth:`snapshot_pruned` walks it in a driver
          loop. As parquet, pruning becomes a Spark filter over the
          checkpoint (executor-side, scan-prunable, see
          :meth:`snapshot_pruned_ckpt`).

        One row per (path, stat column); files without stats carry one
        row with a NULL ``stat_col``. The checkpoint is a derived
        sidecar, never a commit: writing it changes no version, and a
        reader that ignores it sees identical data (Delta's invariant).
        The ``_last_checkpoint`` pointer is replaced atomically
        (write-temp + rename) so a concurrent reader sees the old or
        the new pointer, never a torn one. The parquet itself is
        written driver-side with pyarrow, NOT via
        ``spark.createDataFrame`` — the rows are manifest metadata the
        driver already holds, and an RDD-backed createDataFrame pays a
        Python-worker round trip per action (~4 s at local[32] for a
        tiny frame, the anti-pattern tables.local_row documents) where
        the arrow write is milliseconds. At 1M+ files production would
        land shard contents as parquet in the first place and
        checkpoint by compacting those with a distributed write;
        ``spark`` stays in the signature for that evolution."""
        import os
        import tempfile

        import pyarrow as pa
        import pyarrow.parquet as pq

        m = self.read_manifest(version)
        v = int(m["version"])
        stats = {e["path"]: e["stats"] for e in m.get("file_stats", [])}
        cols: dict[str, list] = {"path": [], "stat_col": [], "mn": [], "mx": []}
        for p in self.manifest_files(m):
            for c, (mn, mx) in (
                sorted(stats[p].items()) if p in stats else [(None, (None, None))]
            ):
                cols["path"].append(p)
                cols["stat_col"].append(c)
                cols["mn"].append(None if mn is None else int(mn))
                cols["mx"].append(None if mx is None else int(mx))
        schema = pa.schema([
            pa.field("path", pa.string(), nullable=False),
            pa.field("stat_col", pa.string()),
            pa.field("mn", pa.int64()),
            pa.field("mx", pa.int64()),
        ])
        # one IMMUTABLE uniquely-named file per checkpoint write, and
        # the pointer references that exact file — two racing
        # checkpointers therefore never rewrite a path a reader may be
        # following (a parquet write is not atomic; in-place rewrite
        # of a shared part-00000 would expose a torn file through the
        # pointer — same race class as the torn manifest publish).
        # Superseded checkpoint files are orphaned metadata, bytes-
        # bounded by file count, reclaimable with the log dir.
        import uuid

        ckpt_root = self.log_dir / "_checkpoints"
        ckpt_root.mkdir(parents=True, exist_ok=True)
        ckpt_file = ckpt_root / f"{v:020d}-{uuid.uuid4().hex[:12]}.parquet"
        pq.write_table(pa.table(cols, schema=schema), ckpt_file)
        pointer = {
            "version": v,
            "path": str(ckpt_file),
            "n_files": len(self.manifest_files(m)),
            # the shard references this checkpoint subsumes — the tail
            # reader diffs against these; a later rewrite-manifests /
            # restore that drops any of them invalidates the checkpoint
            # (detected, falls back to full resolution)
            "covered_shards": sorted(m.get("manifest_shards", [])),
        }
        # try/finally mirrors try_commit: a failure between mkstemp and
        # replace must not leak a hidden .lc_* temp in the log dir.
        # fchmod restores umask-governed permissions — mkstemp creates
        # 0600, which a reader running as a different user can't open.
        fd, tmp = tempfile.mkstemp(dir=self.log_dir, prefix=".lc_")
        try:
            with os.fdopen(fd, "w") as fh:
                os.fchmod(fh.fileno(), _published_mode())
                fh.write(json.dumps(pointer))
            os.replace(tmp, self.log_dir / "_last_checkpoint")
        except BaseException:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise
        # vacuum interaction: checkpoints are derived metadata that
        # vacuum ignores, and no reader ever scans a checkpoint's
        # paths blind — sharded resolution falls back unless the
        # manifest still references every covered shard (appends only
        # grow that set; restore/rewrite shrink it and invalidate),
        # full-list resolution never consults the checkpoint, and
        # stats pruning refuses a checkpoint older than the latest
        # version. A checkpoint can therefore go stale, never wrong.
        return pointer

    def last_checkpoint(self) -> dict | None:
        p = self.log_dir / "_last_checkpoint"
        return json.loads(p.read_text()) if p.exists() else None

    def resolve_files_via_checkpoint(
        self, spark: SparkSession, version: int | None = None
    ) -> tuple[list[str], dict]:
        """Snapshot file resolution that starts from the newest usable
        checkpoint instead of re-reading every shard reference —
        returns ``(files, census)`` where the census records how much
        metadata the checkpoint saved (``shards_total`` referenced by
        the manifest vs ``shards_read`` actually fetched). Falls back
        to :meth:`resolve_files` — correct, just checkpoint-less —
        when (a) no checkpoint exists, (b) the requested version
        predates it (time travel behind a checkpoint re-reads the old
        manifest, as Delta does), or (c) the manifest's shard list no
        longer contains every shard the checkpoint covered (a
        rewrite-manifests compaction or restore rewrote the log's
        shape; Delta handles this by writing a fresh checkpoint after
        such commits). Full-list manifests are self-contained, so the
        checkpoint path is a no-op for them (census says so)."""
        m = self.read_manifest(version)
        v = int(m["version"])
        shards = list(m.get("manifest_shards", []))
        census = {
            "version": v,
            "shards_total": len(shards),
            "shards_read": len(shards),
            "used_checkpoint": False,
        }
        lc = self.last_checkpoint()
        if (
            lc is None
            or v < int(lc["version"])
            or not m.get("sharded")
            or not set(lc["covered_shards"]) <= set(shards)
        ):
            return self.resolve_files(version), census
        base = [
            r["path"]
            for r in spark.read.parquet(lc["path"]).select("path").distinct().collect()
        ]
        tail = [s for s in shards if s not in set(lc["covered_shards"])]
        out = list(base)
        for s in tail:
            out.extend(json.loads(Path(s).read_text())["files"])
        census.update({"shards_read": len(tail), "used_checkpoint": True})
        return sorted(out), census

    def snapshot_pruned_ckpt(
        self, spark: SparkSession, col: str, lo: int, hi: int
    ) -> tuple[DataFrame, int, int]:
        """Stats pruning evaluated AS A SPARK FILTER over the
        checkpoint parquet instead of a driver-side Python loop over
        the manifest (:meth:`snapshot_pruned`'s shape) — the move that
        keeps file skipping viable when the file inventory itself is
        big data. A file is skipped only if it carries a stats row for
        ``col`` that provably excludes [lo, hi]; files without stats
        (or with stats only on other columns) are kept — pruning must
        stay a superset. Only the SURVIVING paths are collected
        (bounded by predicate selectivity; they feed the scan exactly
        as resolve_files does). The exact predicate is still applied
        on top. Requires a checkpoint at the latest version."""
        from pyspark.sql import functions as F

        lc = self.last_checkpoint()
        latest = self.latest_version()
        if lc is None or int(lc["version"]) != latest:
            raise ValueError(
                "snapshot_pruned_ckpt needs a checkpoint at the latest"
                f" version (have {lc and lc['version']}, latest {latest});"
                " call write_checkpoint() first"
            )
        ckpt = spark.read.parquet(lc["path"])
        prunable = ckpt.filter(
            (F.col("stat_col") == col)
            & ~((F.col("mn") <= F.lit(hi)) & (F.col("mx") >= F.lit(lo)))
        ).select("path")
        keep = [
            r["path"]
            for r in ckpt.select("path").distinct()
            .join(prunable, "path", "left_anti")
            .collect()
        ]
        df = spark.read.parquet(*sorted(keep)).filter(F.col(col).between(lo, hi))
        return df, int(lc["n_files"]), len(keep)

    # -- retention --------------------------------------------------------

    def vacuum(
        self,
        retain_versions: int = 1,
        *,
        dv_grace_seconds: float = 600.0,
        data_grace_seconds: float = 0.0,
    ) -> dict:
        """Physically delete data files not referenced by the newest
        ``retain_versions`` manifests (their log entries stay, so
        history is auditable even when no longer readable — Delta's
        VACUUM semantics). Returns a census dict. Pure metadata diff +
        unlink loop; no data moves.

        Branches share this table's data directory (a branch is only a
        separate commit log), so the live set UNIONS every sibling log
        under the table base — main's ``_log`` and every
        ``_branches/*/_log`` — each at the same retention depth: a
        vacuum on main must not destroy files referenced only by an
        unpublished WAP branch's staged commits. Shallow CLONES made
        with :meth:`clone_to` are protected mechanically (round 10):
        each leaves a back-pointer under ``_log/_clones/`` and the live
        set unions EVERY version of each registered clone's log — a
        clone's whole history references our files by design, so clone
        retention is the clone owner's policy, not ours. A PENDING
        back-pointer (written before the clone's v0 commit; carries
        ``pending_files``) protects exactly the files the in-flight
        clone will reference — closing the round-10 ADVICE race where
        a vacuum between the clone's commit and its (formerly
        post-commit) registration deleted files the clone had just
        referenced. Pending-ness is judged by the POINTER body alone,
        never by directory existence: ``TableLog.__init__`` mkdirs the
        clone's ``_log`` before the pointer is written, so "the dir
        exists" proves nothing about the commit (the round-11 review
        caught the dir-existence gate making the protection dead
        code). A FINALIZED back-pointer whose clone base is
        DEFINITIVELY gone (``os.stat`` → FileNotFoundError — a
        transient ``OSError`` from an unreachable mount never prunes)
        means the clone was deleted: it is deregistered and the stale
        pointer file is pruned (they previously accumulated forever).
        The dead set is re-filtered against a SECOND ``_clones`` scan
        immediately before the unlink loop, so a clone registering
        after the first scan survives; the residual window
        (pointer-write racing an in-progress unlink of an
        already-historical file) is the same class production formats
        close with a retention horizon, and is documented rather than
        claimed closed. Hand-rolled unregistered clones remain
        the documented vacuum-breaks-clones hazard in
        :func:`plans.lakehouse`.

        ``dv_grace_seconds`` / ``data_grace_seconds``: unreferenced
        artifacts/files younger than the horizon are NOT reclaimed —
        every in-flight verb writes its bytes (data landing, DV
        artifact) BEFORE the manifest that references them, and
        sweeping that window targets a commit that still succeeds.
        The same race exists for BOTH kinds; both are double-covered:
        the mtime horizon here, plus the commit path re-checking that
        its new files and DV artifact still exist immediately before
        the CAS publish (``_require_new_files_exist`` /
        ``_require_dv_artifact``), so even a grace-0 sweep produces a
        loud abort, never a corrupt table. ``data_grace_seconds``
        defaults to 0 because the local fixtures assert immediate
        reclamation (a production deployment sets it to hours, like
        Delta's retention horizon); the DV default is 10 minutes
        because no registered plan sweeps a table with in-flight
        scoped DVs."""
        import os

        versions = self.versions()
        keep_vs = versions[-retain_versions:]
        live: set[str] = set()
        for v in keep_vs:
            live.update(self.resolve_files(v))
            live.update(
                self.read_manifest(v).get("delete_vectors_scoped", [])
            )
        live.update(self._clone_referenced_files(prune_stale=True))
        for sibling in sorted(self.base.glob("_branches/*/_log")):
            if sibling == self.log_dir:
                continue
            br_vs = sorted(int(p.stem) for p in sibling.glob("*.json"))
            for v in br_vs[-retain_versions:]:
                m = json.loads((sibling / f"{v:020d}.json").read_text())
                live.update(self.manifest_files(m))
                live.update(m.get("delete_vectors_scoped", []))
        if self.log_dir != self.base / "_log" and (self.base / "_log").exists():
            # vacuum called on a branch handle: main's snapshots are live
            main_vs = sorted(
                int(p.stem) for p in (self.base / "_log").glob("*.json")
            )
            for v in main_vs[-retain_versions:]:
                m = json.loads((self.base / "_log" / f"{v:020d}.json").read_text())
                live.update(self.manifest_files(m))
                live.update(m.get("delete_vectors_scoped", []))
        all_files = {str(p) for p in self.data_dir.glob("*.parquet")}
        # second clone scan right before deletion: a clone registered
        # after the first pass (its pointer now on disk) keeps its
        # files out of the dead set
        late_live = self._clone_referenced_files(prune_stale=False)
        import time as _time

        now = _time.time()
        dead = []
        n_data_in_grace = 0
        for p in sorted(all_files - live - late_live):
            if data_grace_seconds > 0:
                try:
                    if now - os.stat(p).st_mtime < data_grace_seconds:
                        n_data_in_grace += 1
                        continue
                except FileNotFoundError:
                    continue
            dead.append(p)
        for p in dead:
            os.unlink(p)
        # scoped-DV artifacts (MOR UPDATE/MERGE pair parquets under
        # _dvs/) are swept by the same liveness rule: referenced by a
        # retained manifest of ANY sibling log, by a registered
        # clone's manifests, or by a pending clone pointer => live.
        # Superseded artifacts (OPTIMIZE/COW materialized their masks,
        # or their version aged out of retention) are reclaimed here —
        # they previously accumulated forever. Global key-list DVs are
        # caller-owned paths outside the table base and are never
        # swept. A swept DV (or data file — the race is identical for
        # both: bytes land BEFORE the manifest that references them)
        # would target a commit that still succeeds, so unreferenced
        # artifacts younger than ``dv_grace_seconds`` are left alone
        # (Delta's retention-horizon answer), and the commit path
        # re-checks both kinds right before publishing.
        import shutil as _shutil

        dv_root = self.base / "_dvs"
        all_dvs = (
            {str(p) for p in dv_root.glob("*")} if dv_root.exists() else set()
        )
        dead_dvs: list[str] = []
        n_dvs_in_grace = 0
        for p in sorted(all_dvs - live - late_live):
            try:
                if now - os.stat(p).st_mtime < dv_grace_seconds:
                    n_dvs_in_grace += 1
                    continue
            except FileNotFoundError:
                continue  # a conflict loser unlinked it mid-scan
            dead_dvs.append(p)
        for p in dead_dvs:
            if os.path.isdir(p):
                _shutil.rmtree(p, ignore_errors=True)
            else:
                os.unlink(p)
        return {
            "n_live": len(live | late_live),
            "n_removed": len(dead),
            "n_data_in_grace": n_data_in_grace,
            "n_dvs_removed": len(dead_dvs),
            "n_dvs_in_grace": n_dvs_in_grace,
            "retained_versions": keep_vs,
        }

    def _clone_referenced_files(self, *, prune_stale: bool) -> set[str]:
        """Files protected by registered clone back-pointers: a pending
        pointer's staged ``pending_files`` plus every manifest of each
        clone's log. Pointers are scanned under EVERY log that shares
        this table's data directory — this handle's, main's, and every
        sibling branch's — because branches share data files, so a
        vacuum through a branch handle must also honor clones
        registered on main (and vice versa). With ``prune_stale``,
        finalized pointers whose clone base is definitively gone
        (FileNotFoundError, never a transient OSError) are unlinked —
        only under THIS handle's log; other handles' registrations are
        never mutated from here."""
        import os

        ptr_files: list[tuple[Path, bool]] = []
        log_dirs = {self.log_dir, self.base / "_log"} | set(
            self.base.glob("_branches/*/_log")
        )
        for ld in sorted(log_dirs):
            own = ld == self.log_dir
            ptr_files.extend((p, own) for p in sorted(ld.glob("_clones/*.json")))

        live: set[str] = set()
        for ptr, own in ptr_files:
            try:
                body = json.loads(ptr.read_text())
            except (OSError, ValueError):
                continue  # pointer vanished or mid-write: protect nothing
            clone_base = Path(body["clone_base"])
            if "pending_files" in body:
                # v0 commit in flight (or crashed mid-clone): protect
                # its staged read set — never keyed on dir existence
                live.update(body["pending_files"])
                live.update(body.get("pending_dvs", []))
            manifests: list[Path] = []
            try:
                manifests = sorted((clone_base / "_log").glob("*.json"))
            except OSError:
                pass  # unreachable clone log: stay safe, prune nothing
            for mp in manifests:
                try:
                    cm = json.loads(mp.read_text())
                except (OSError, ValueError):
                    continue
                live.update(self.manifest_files(cm))
                # the clone's manifests reference OUR scoped-DV
                # artifacts (clone_to carries the list verbatim):
                # protect them from the DV sweep too
                live.update(cm.get("delete_vectors_scoped", []))
            if prune_stale and own and "pending_files" not in body and not manifests:
                try:
                    os.stat(clone_base)
                except FileNotFoundError:
                    ptr.unlink(missing_ok=True)  # clone deleted -> prune
                except OSError:
                    pass  # transient: keep the registration
        return live
