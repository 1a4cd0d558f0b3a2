"""Snapshot log: atomic commits, isolation, expiry, reachability GC.

The reference signals "this date's data is complete" with a ready-marker
JSON written exactly once (``libs/hoopstat-s3/hoopstat_s3/
silver_s3_manager.py:314-376``) plus an idempotency head-check
(``:255-272``). We generalize both into an Iceberg-style snapshot log:

    _snapshots/v<N>.json   — immutable snapshot record; the newest is HEAD

The exclusive create of ``v<N+1>.json`` is the commit point: exactly one
writer can create each version, and once it exists it is the head.
Readers pin a snapshot id and resolve it to a manifest; maintenance jobs
commit a new snapshot only at the very end, so a crashed job leaves the
table unchanged (the staged files are orphans collected by GC).

Every metadata file of the engine becomes visible through
:func:`write_atomic` (whole, exactly once, or atomically replaced), and
every name that reaches a metadata or staging path passes
:func:`check_name`. An object-store conditional put (S3 If-None-Match)
would replace the local link/rename in ``write_atomic`` alone — the
same issue the reference hit with S3's lack of atomic append
(``meta/adr/ADR-031:49-51``).
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid
from dataclasses import asdict, dataclass, field


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    manifest: str  # path relative to table root
    operation: str  # append | compact | merge | overwrite
    summary: dict = field(default_factory=dict)
    timestamp_ms: int = 0

    @property
    def name(self) -> str:
        return f"v{self.snapshot_id}"


class ConcurrentCommitError(RuntimeError):
    """Another writer committed since this job planned, and the commit
    cannot rebase onto the new head (``table.commit_rewrite`` states
    the rule; a direct ``SnapshotLog.commit`` never rebases)."""


def write_atomic(path: str, text: str, exclusive: bool = False) -> None:
    """Make ``text`` visible at ``path`` whole or not at all — the one
    way every metadata file of a table is published.

    The text goes to a writer-unique ``<path>.tmp-<uuid>`` in the same
    directory (a fixed tmp name would let a concurrent writer tear this
    one's bytes), which is then ``os.replace``d onto ``path``, or with
    ``exclusive`` hard-linked to it: an atomic create-if-absent whose
    ``FileExistsError`` propagates to the caller. The tmp is always
    removed, and its name never ends in ``.json``, so no directory scan
    reads it as a record."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    try:
        with open(tmp, "w") as f:
            f.write(text)
        if exclusive:
            os.link(tmp, path)
        else:
            os.replace(tmp, path)
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)


def check_name(name: str, what: str) -> None:
    """Raise ValueError unless ``name`` is safe as ONE path component:
    non-empty, a leading alphanumeric, only alphanumerics and ``._-``,
    and no ``..`` — "." and ".." pass a bare charset check and would
    resolve to the parent directory."""
    if not (
        name
        and name[0].isalnum()
        and all(c.isalnum() or c in "._-" for c in name)
        and ".." not in name
    ):
        raise ValueError(f"bad {what} {name!r} (leading alnum, then alnum . _ -, no '..')")


class SnapshotLog:
    def __init__(self, table_path: str):
        self.table_path = table_path
        self.dir = os.path.join(table_path, "_snapshots")
        os.makedirs(self.dir, exist_ok=True)

    # -- reads ---------------------------------------------------------
    def current_id(self) -> int | None:
        """HEAD: the newest retained snapshot (expiry never removes it)."""
        ids = self.list_ids()
        return ids[-1] if ids else None

    def get(self, snapshot_id: int) -> Snapshot:
        with open(os.path.join(self.dir, f"v{snapshot_id}.json")) as f:
            return Snapshot(**json.load(f))

    def current(self) -> Snapshot | None:
        sid = self.current_id()
        return self.get(sid) if sid is not None else None

    def list_ids(self) -> list[int]:
        out = []
        for name in os.listdir(self.dir):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def stamped(self, key: str, value, after: int = -1) -> Snapshot | None:
        """The newest retained snapshot with id > ``after`` whose
        ``summary[key] == value``, or None — the one "did this commit
        already land?" lookup (WAP's ``wap_ref``, the stream ingest's
        ``stream_id``). Walks newest-first and stops at ``after``, so a
        caller that remembers the head it last checked reads only the
        snapshots committed since."""
        for sid in reversed(self.list_ids()):
            if sid <= after:
                break
            snap = self.get(sid)
            if snap.summary.get(key) == value:
                return snap
        return None

    def snapshot_as_of(self, ts_ms: int) -> int:
        """Newest RETAINED snapshot committed at or before ``ts_ms``
        (Delta's TIMESTAMP AS OF). Raises if every retained snapshot is
        newer — time travel can't reach past expiry — or if expired
        snapshots sit between the match and ``ts_ms``: a tag-protected
        old snapshot next to an expired middle would otherwise be
        returned SILENTLY for any timestamp in the gap, handing a
        reproducibility consumer a years-older table state."""
        best = None
        next_newer = None
        for sid in self.list_ids():  # sorted; timestamps are monotone
            if self.get(sid).timestamp_ms <= ts_ms:
                best = sid
            else:
                next_newer = sid
                break
        if best is None:
            raise ValueError(f"no retained snapshot at or before ts_ms={ts_ms}")
        if next_newer is not None and next_newer != best + 1:
            raise ValueError(
                f"snapshots v{best + 1}..v{next_newer - 1} were expired; the "
                f"table state at ts_ms={ts_ms} is not reconstructible "
                "(tag snapshots you need to time-travel to)"
            )
        return best

    # -- commits -------------------------------------------------------
    def commit(
        self,
        manifest: str,
        operation: str,
        summary: dict | None = None,
        expected_parent: int | None = None,
    ) -> Snapshot:
        """Optimistic-concurrency commit: fails if HEAD moved past
        ``expected_parent`` (pass the id the job planned against; 0
        claims v1 of a new table, None checks nothing).

        The head check alone is check-then-act — two writers that both
        read head=N would both pass and a second plain replace would
        silently overwrite the first's acknowledged commit. The real
        mutex is the EXCLUSIVE creation of v(N+1).json (``write_atomic``;
        maps to S3 If-None-Match conditional put): exactly one writer can
        create each version, the loser gets ConcurrentCommitError and
        must re-plan. That create is also the commit point — the new
        record is HEAD the moment it exists, so no crash can leave a
        committed version that readers do not see."""
        head = self.current_id()
        if expected_parent is not None and (head or 0) != expected_parent:
            raise ConcurrentCommitError(f"planned against v{expected_parent}, head is v{head}")
        # clamp to the parent's timestamp: snapshot times are NON-
        # DECREASING by construction (a stepped-back wall clock must not
        # break snapshot_as_of's monotone walk)
        ts = int(time.time() * 1000)
        if head is not None:
            ts = max(ts, self.get(head).timestamp_ms)
        snap = Snapshot(
            snapshot_id=(head or 0) + 1,
            parent_id=head,
            manifest=manifest,
            operation=operation,
            summary=summary or {},
            timestamp_ms=ts,
        )
        snap_path = os.path.join(self.dir, f"{snap.name}.json")
        try:
            write_atomic(snap_path, json.dumps(asdict(snap), indent=1), exclusive=True)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"v{snap.snapshot_id} already committed by a concurrent writer"
            ) from None
        return snap

    # -- tags ------------------------------------------------------------
    # Named refs (Iceberg tag analog): `_snapshots/tag-<name>.json`, one
    # file per tag so creation rides the same exclusive-create mutex as
    # commits — no read-modify-write race on a shared registry file. The
    # training-data use case: a run tags the exact snapshot it consumed
    # ("corpus a model trained on"), and expiry/GC keep that snapshot
    # reachable for as long as the tag lives.

    def _tag_path(self, name: str) -> str:
        check_name(name, "tag name")
        return os.path.join(self.dir, f"tag-{name}.json")

    def set_tag(self, name: str, snapshot_id: int | None = None, replace: bool = False) -> dict:
        """Pin ``name`` to ``snapshot_id`` (default: HEAD). Exclusive by
        default (a second tagger gets FileExistsError); ``replace=True``
        retargets atomically."""
        sid = snapshot_id if snapshot_id is not None else self.current_id()
        if sid is None:
            raise ValueError("cannot tag an empty table")
        try:
            self.get(sid)  # must resolve — no dangling tags
        except FileNotFoundError:
            raise ValueError(f"snapshot v{sid} does not exist") from None
        rec = {"name": name, "snapshot_id": sid, "created_ms": int(time.time() * 1000)}
        try:
            write_atomic(self._tag_path(name), json.dumps(rec, indent=1), exclusive=not replace)
        except FileExistsError:
            raise FileExistsError(f"tag {name!r} already exists (replace=True to move)") from None
        return rec

    def resolve_tag(self, name: str) -> int:
        try:
            with open(self._tag_path(name)) as f:
                return int(json.load(f)["snapshot_id"])
        except FileNotFoundError:
            raise KeyError(f"unknown tag {name!r}") from None

    def drop_tag(self, name: str) -> None:
        try:
            os.remove(self._tag_path(name))
        except FileNotFoundError:
            raise KeyError(f"unknown tag {name!r}") from None

    def tags(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for fname in os.listdir(self.dir):
            if fname.startswith("tag-") and fname.endswith(".json"):
                with open(os.path.join(self.dir, fname)) as f:
                    rec = json.load(f)
                out[rec["name"]] = int(rec["snapshot_id"])
        return out

    # -- expiry --------------------------------------------------------
    def expire(self, keep_last: int = 2, older_than_ms: int | None = None) -> list[int]:
        """Drop all but the newest ``keep_last`` snapshots (HEAD and
        TAGGED snapshots always kept). Returns expired ids. Data-file GC
        is a separate pass
        (:func:`hoopstat_haus_spark.lakehouse.gc.collect_garbage`) so a
        crash between expire and GC never loses reachable data — and GC
        derives reachability from the snapshot records expire keeps, so
        tag protection here is all GC needs.

        ``older_than_ms`` adds Iceberg's age cutoff: a snapshot committed
        at or after that timestamp is NEVER expired, regardless of
        ``keep_last`` — age only widens retention, so a retention policy
        of "keep 7 days" cannot be narrowed by a burst of commits.
        ``keep_last=0`` keeps only HEAD, tagged and age-protected ones."""
        if keep_last < 0:
            raise ValueError(f"keep_last must be >= 0, got {keep_last}")
        ids = self.list_ids()
        head = self.current_id()
        keep = set(ids[-keep_last:]) if keep_last else set()  # ids[-0:] is every id
        if head is not None:
            keep.add(head)
        keep.update(self.tags().values())
        if older_than_ms is not None:
            keep.update(i for i in ids if self.get(i).timestamp_ms >= older_than_ms)
        expired = [i for i in ids if i not in keep]
        for sid in expired:
            os.remove(os.path.join(self.dir, f"v{sid}.json"))
        return expired
