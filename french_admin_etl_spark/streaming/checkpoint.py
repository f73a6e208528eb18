"""T7: atomic checkpoint store for the incremental batch driver.

The reference has no checkpointing (whole-file rerun is its recovery,
SURVEY §2.9 T7); the engine checkpoints (batch_id, next_lsn) after every
committed batch. Crash *between* table commit and checkpoint write is the
classic exactly-once hole — closed by the table-side batch fence
(``LakeTable.merge(batch_id=...)``), so the checkpoint only needs
atomic-replace durability, not transactionality.
"""

from __future__ import annotations

import json
import os


def _fsync_dir(d: str) -> None:
    dfd = os.open(d, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


class CheckpointStore:
    def __init__(self, path: str):
        self.path = path

    def load(self) -> dict | None:
        if not os.path.exists(self.path):
            return None
        with open(self.path) as fh:
            return json.load(fh)

    def save(self, state: dict) -> None:
        d = os.path.dirname(self.path)
        if d:  # a bare filename has no directory to create (review
            # finding: os.makedirs('') raises FileNotFoundError)
            os.makedirs(d, exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(state, fh)
            # fsync BEFORE the rename: with delayed allocation a power
            # loss shortly after os.replace can journal the rename ahead
            # of the data blocks, leaving a torn/empty checkpoint that
            # wedges every restart on JSONDecodeError — the exact failure
            # the atomic-replace claim is supposed to close (review
            # finding). The directory entry is then flushed too so the
            # rename itself survives.
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self.path)  # atomic on POSIX
        if d:
            _fsync_dir(d)


def _read_uid(uid_path: str) -> str:
    """An existing ``engine_id``; an empty one is refused, not trusted:
    every dir whose uid came back empty would share the fence namespace
    "" and fence one stream's fresh epochs against another's."""
    with open(uid_path) as fh:
        uid = fh.read().strip()
    if not uid:
        raise ValueError(
            f"{uid_path} is empty; remove it only if no fence was "
            "recorded under it"
        )
    return uid


def stream_fence_uid(checkpoint_dir: str) -> str:
    """Identity of a Structured Streaming checkpoint dir, minted once and
    persisted in ``<dir>/engine_id``.

    Spark epoch ids are scoped to one stream checkpoint, so any
    table-side fence keyed by them must be too: fencing a FRESH
    checkpoint's epoch 0 against an old run's high-water mark silently
    drops the new events while Spark marks their files consumed
    (reviewer-found data loss). Namespacing the fence under this uid
    makes a fresh checkpoint re-apply convergently instead, while
    replayed epochs WITHIN a checkpoint still fence to no-ops."""
    import uuid

    os.makedirs(checkpoint_dir, exist_ok=True)
    uid_path = os.path.join(checkpoint_dir, "engine_id")
    if os.path.exists(uid_path):
        return _read_uid(uid_path)
    # exclusive-create protocol (same as the table's commit): two drivers
    # racing on a fresh dir must agree on ONE uid — a write-then-replace
    # here would let the loser keep fencing under a uid that was never
    # persisted (reviewer finding). os.link fails if the target exists,
    # so exactly one minter wins and the loser re-reads. The tmp is
    # fsynced before the link and the directory after it, as in
    # CheckpointStore.save: otherwise a power loss can bring engine_id
    # back empty, and every checkpoint dir that lost its uid would share
    # the fence namespace "".
    uid = uuid.uuid4().hex[:12]
    tmp = f"{uid_path}.{uid}.tmp"
    with open(tmp, "w") as fh:
        fh.write(uid)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, uid_path)
    except FileExistsError:
        uid = _read_uid(uid_path)
    finally:
        os.unlink(tmp)
    _fsync_dir(checkpoint_dir)
    return uid
