"""The index and probe transaction log — INDEX COMMIT PROTOCOL.

Every lifecycle leg's crash/replay rules live HERE; the lifecycle
docstrings in :mod:`.similarity` and :mod:`.probe` reference this
write-up instead of re-deriving it, and this module is the only code
that knows the record names and the staged-swap directories.

WHY: foreachBatch is AT-LEAST-ONCE under restart — a micro-batch whose
side-effects committed but whose engine checkpoint did not is replayed
after a crash, and a plain ``mode("append")`` parquet write would
double-insert.  The fix is the table-format commit pattern in
miniature: a driver-side JSON log next to the index (Delta's
``_delta_log`` is exactly this), atomically replaced via tmp file +
``os.replace`` (:func:`put`), single-writer local-filesystem contract
(at deployment scale the same records are a Delta/Iceberg commit and
the repair is the format's own uncommitted-file cleanup — same note as
``sources/io.py``).

THE RECORD TYPES

* ``txn.json`` — the COMMIT record: {last_batch_id,
  last_cdc_batch_id?, n, mean_assigned_cos}, replaced atomically as
  the LAST step of a committing writer.  ``last_batch_id`` is the
  append high-water mark (a replayed batch at or below it no-op
  skips); ``last_cdc_batch_id`` is the CDC batch-complete marker
  (phases 1-3 all landed).  The record doubles as the index's STATS
  AUTHORITY: transactional appends commit their (n, mean) fold here
  instead of rewriting the 1-row ``/stats`` parquet per micro-batch;
  every reader resolves stats via ``read_index_stats`` (txn first,
  parquet fallback) and every other stats writer goes through
  :func:`commit_stats`, which keeps the two in lockstep — so the
  parquet can only lag behind a LIVE streaming commit.
* ``txn_intent.json`` — the APPEND intent: {batch_id}, written just
  BEFORE the rows append.  Intent newer than the commit record ==
  crashed half-written attempt (:func:`live_append`).  The attempt's
  touched-list set is NOT recorded (knowing it pre-write cost a
  separate per-batch aggregation action); the replay repair
  recomputes it from the deterministically-replayed batch — same data
  (serial replay), same centroids (every centroid mutator refuses
  under a live intent), same deterministic argmax ⇒ the same set.
  Legacy intents that DO carry a ``touched`` list are honored as
  written.
* ``del_intent.json`` — the DELETE intent: {digest(id set +
  exclude_batch scope), affected lists, d_n, absolute post-delete
  stats, per-list counts}, written BEFORE the partition rewrite and
  removed as the delete's last step.  The digest makes a resume
  verifiably the SAME delete; the absolute stats make the commit
  idempotent under any partial re-run.
* ``retrain_intent.json`` — the RETRAIN intent: the absolute
  post-retrain stats + centroid count, written only AFTER the staged
  trees (``lists_stage`` / ``centroids_stage``) are complete and
  removed after the swap + stats refresh — a live intent means the
  stage is whole and a re-run finishes the swap idempotently; a crash
  before the intent leaves only garbage stage dirs the next retrain
  overwrites.
* ``probe_txn.json`` / ``iso_txn.json`` — ``operators/probe.py``'s
  ``make_streaming_probe_maintainer`` /
  ``make_streaming_isotonic_maintainer`` — are the single-record twins
  for moment-sum and histogram state (:func:`replay_guarded_fold`):
  fold → atomic replace → in-memory update; no intent needed because a
  driver-state fold has no partial side effects.

WHO WRITES WHAT, IN WHAT ORDER

* build: fresh history — :func:`reset` removes every record and
  stage/trash dir, then rows (``__batch`` = -1) + ``/centroids`` +
  ``/stats`` are written.
* append(batch_id): skip if batch_id <= last_batch_id; repair if a
  newer intent is live (see CRASH MAP); then intent → rows (tagged
  ``__batch`` = batch_id) → commit (atomic txn.json replace).
  append(batch_id=None) is the batch shape: no intent, rows tagged
  -1, stats committed through :func:`commit_stats`.
* delete: refuse under a live append intent; digest-check/resume
  under a live delete intent; else intent → partition-bounded rewrite
  → stats (:func:`commit_stats`) → intent removal.
* rebalance / compact: refuse under ANY live intent (their partition
  rewrites would race the owning leg's repair/resume); they move
  rows/bytes, preserve ``__batch`` tags, and update stats (rebalance,
  through :func:`commit_stats`) or nothing (compact).
* CDC batch b (the maintainer, op_col mode): wholesale skip if
  last_cdc_batch_id >= b; else phase 1 (upsert deletes, scoped
  ``exclude_batch=b``, SKIPPED when a live append intent for b proves
  it already committed — ``_upsert_phase1``), phase 2 (inserts +
  replacements through the append txn), phase 3 (plain deletes —
  delete-wins), then the marker rides a txn.json replace LAST.  A live
  phase-3 delete intent whose digest matches jumps the replay straight
  to phase 3 (it is only ever written after phases 1-2 committed).
* batch upsert (``upsert_ivf_index``): the same phase 1 + phase 2;
  with batch_id it inherits every streaming guarantee, without it a
  RETRY self-heals (unscoped phase-1 delete eats the crashed attempt's
  half-appended new versions along with the old ones).
* retrain (``retrain_ivf_index``): stage both sidecars next to the
  live trees → intent (absolute stats) → swap live→trash→stage→live
  per sidecar (:func:`swap_staged`) → stats refresh
  (``last_batch_id`` / ``last_cdc_batch_id`` CARRY OVER — a live stream
  keeps its replay protection across the re-tiling, which a
  fresh-history rebuild would destroy) → intent removal → trash drop;
  every writer refuses under a live retrain intent and retrain refuses
  under live append/delete intents (:func:`guard`).

CRASH MAP (append leg; every point covered)

  before intent            -> nothing on disk; replay re-runs whole
  after intent, in rows    -> replay repairs (recompute the touched
                              partitions from the replayed batch,
                              drop the attempt's ``__batch``-tagged
                              rows from them — partition-pruned —
                              and re-sync /stats from the commit
                              record), then re-appends
  (an EMPTY streaming batch removes its intent instead of
  committing — nothing was written, so the next batch's
  out-of-order guard must not see a live intent)
  after rows, before commit-> same repair + re-append
  after commit             -> no-op skip (visible in the report)

Every record write and removal of every leg goes through :func:`put`,
so ``tests/test_txn_crash_matrix.py`` crashes each leg at each of them
in turn and checks the restart against an uninterrupted twin.

Rows carry an integer ``__batch`` DATA column (-1 = base rows from
build/rebalance/compaction) so the repair can identify an attempt's
rows exactly; rebalance/compaction PRESERVE tags (a repair only ever
targets a batch newer than the commit record, and every moved row's
tag is at or below it under the maintainer's rebalance-after-commit
discipline — enforced for direct callers by :func:`guard`).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import tempfile

COMMIT = "txn.json"
APPEND_INTENT = "txn_intent.json"
DELETE_INTENT = "del_intent.json"
RETRAIN_INTENT = "retrain_intent.json"
PROBE = "probe_txn.json"
ISOTONIC = "iso_txn.json"

#: the sidecar trees a retrain stages next to the live ones and swaps in
_SWAPPED = ("lists", "centroids")


def local_path(path: str, name: str) -> str:
    """``<path>/<name>`` on the driver's filesystem; an object-store
    path raises (the log is a local-filesystem JSON commit record)."""
    if not possible(path):
        raise ValueError(
            "the IVF index transaction log is a local-filesystem JSON "
            f"commit record; got {path!r} — use a table-format "
            "(Delta/Iceberg) commit for object stores"
        )
    return os.path.join(path.removeprefix("file://"), name)


def possible(path: str) -> bool:
    """True iff ``path`` can carry the local-fs JSON transaction log
    (object stores use a table format).  A scheme-less path is treated
    as DRIVER-LOCAL throughout the lifecycle (txn records, metadata
    scans, and the sidecar fast paths alike) — on a cluster whose
    default filesystem is remote, index paths must carry their scheme
    (``hdfs://``, ``s3a://``, …) to route through the Spark
    reads/writes."""
    return "://" not in path or path.startswith("file://")


def read(path: str, name: str) -> dict | None:
    """The record ``name`` under ``path``, or ``None`` when absent."""
    try:
        with open(local_path(path, name)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def put(path: str, name: str, obj: dict | None) -> None:
    """THE record write/remove primitive: replace ``<path>/<name>``
    atomically with ``obj`` (tmp file + ``os.replace`` — POSIX-atomic,
    so a reader never sees a torn record and a crash mid-write leaves
    the previous record intact), or remove it when ``obj`` is
    ``None`` (a missing record is already removed)."""
    target = local_path(path, name)
    if obj is None:
        with contextlib.suppress(FileNotFoundError):
            os.remove(target)
        return
    os.makedirs(os.path.dirname(target), exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(target), prefix=".txn_tmp.")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, target)
    except BaseException:
        with contextlib.suppress(OSError):
            os.remove(tmp)
        raise


def live_append(path: str, txn: dict | None) -> dict | None:
    """The append intent when it is newer than the commit record
    ``txn`` (a crashed, uncommitted attempt), else ``None``."""
    intent = read(path, APPEND_INTENT)
    committed = int(txn["last_batch_id"]) if txn is not None else -1
    if intent is not None and int(intent["batch_id"]) > committed:
        return intent
    return None


def guard(path: str, owner: str | None = None) -> dict | None:
    """THE writer-exclusion guard: refuse to write into an index while
    another leg's intent is live — a crashed delete owns its affected
    partitions until its resume completes, a crashed retrain owns the
    WHOLE index (its staged swap may have moved either sidecar), and a
    crashed append's replay repair owns the partitions it touched (a
    rewrite racing it could move the dead attempt's tagged rows out of
    the repair's reach).  ``owner`` is the intent the calling leg
    resumes or repairs itself, which it checks on its own.  Returns the
    commit record (``None`` when absent or off local fs) so callers
    need not re-read it."""
    if not possible(path):
        return None
    if owner != DELETE_INTENT and read(path, DELETE_INTENT) is not None:
        raise RuntimeError(
            "ivf index has an uncommitted delete intent: re-run "
            "delete_from_ivf_index with the same ids so its resume "
            "completes first"
        )
    if owner != RETRAIN_INTENT and read(path, RETRAIN_INTENT) is not None:
        raise RuntimeError(
            "ivf index has an uncommitted retrain intent: re-run "
            "retrain_ivf_index so its staged swap completes first"
        )
    txn = read(path, COMMIT)
    intent = live_append(path, txn) if owner != APPEND_INTENT else None
    if intent is not None:
        committed = int(txn["last_batch_id"]) if txn is not None else -1
        raise RuntimeError(
            "ivf index has an uncommitted append intent (batch "
            f"{intent['batch_id']} > committed {committed}): replay the "
            "stream so the repair runs first — rewriting partitions "
            "under it would race the repair's partition rewrite"
        )
    return txn


def commit_stats(path: str, n: int, mean: float, write_sidecar, txn=None) -> None:
    """THE stats-commit rule for every writer other than a streaming
    append commit: rewrite the ``/stats`` sidecar (``write_sidecar(n,
    mean)``), then fold the same pair into the commit record when one
    exists (``txn``, or re-read), so the two never disagree and the
    record's high-water marks carry over."""
    write_sidecar(n, mean)
    if not possible(path):
        return
    prior = txn if txn is not None else read(path, COMMIT)
    if prior is not None:
        put(path, COMMIT, {**prior, "n": n, "mean_assigned_cos": mean})


def stage(name: str) -> str:
    """The staged twin of sidecar tree ``name`` (retrain writes here)."""
    return name + "_stage"


def _trash(name: str) -> str:
    return name + "_trash"


def _drop_dirs(path: str, names) -> None:
    for name in names:
        shutil.rmtree(local_path(path, name), ignore_errors=True)


def clear_stage(path: str) -> None:
    """Drop staged trees — garbage from a retrain that crashed BEFORE
    its intent."""
    _drop_dirs(path, [stage(s) for s in _SWAPPED])


def swap_staged(path: str) -> None:
    """Per sidecar tree, move the live tree to trash (skipped when a
    prior attempt already did) and rename the stage in (skipped when
    already in) — each step idempotent, so a crashed swap re-runs to
    completion.  :func:`drop_trash` runs after the intent is gone."""
    for name in _SWAPPED:
        staged, live = local_path(path, stage(name)), local_path(path, name)
        if os.path.exists(staged):
            if os.path.exists(live):
                trash = local_path(path, _trash(name))
                shutil.rmtree(trash, ignore_errors=True)
                os.rename(live, trash)
            os.rename(staged, live)


def drop_trash(path: str) -> None:
    _drop_dirs(path, [_trash(s) for s in _SWAPPED])


def reset(path: str) -> None:
    """Start a fresh transaction history at ``path`` (an index REBUILD):
    remove every index record and every stage/trash tree — a leftover
    commit record would be authoritative for ``read_index_stats`` but
    describe the PREVIOUS index's contents.  No-op off local fs."""
    if not possible(path):
        return
    for name in (COMMIT, APPEND_INTENT, DELETE_INTENT, RETRAIN_INTENT):
        put(path, name, None)
    clear_stage(path)
    drop_trash(path)


def replay_guarded_fold(path: str, name: str, key: str, empty, decode, encode, step):
    """The single-record commit protocol of a driver-state streaming
    fold.  Returns ``(fold, state)``; ``state`` is
    ``{"last_batch_id", key, "log"}``, seeded from record ``name``
    (``decode`` of its ``key`` field) or ``empty``.  ``fold(batch_df,
    batch_id)`` skips a batch at or below the high-water mark as a
    visible no-op, else computes ``step(batch_df, state[key])``,
    commits ``{last_batch_id, key: encode(new)}`` and only then updates
    the in-memory state.  A crash before the commit replays the batch
    against the previous state; a crash after it skips the replay —
    both land on the same committed record."""
    committed = read(path, name)
    state = {
        "last_batch_id": (
            int(committed["last_batch_id"]) if committed is not None else -1
        ),
        key: decode(committed[key]) if committed is not None else empty,
        "log": [],
    }

    def fold(batch_df, batch_id) -> None:
        b = int(batch_id)
        if b <= state["last_batch_id"]:
            state["log"].append({"batch_id": b, "skipped_replay": True})
            return
        new = step(batch_df, state[key])
        put(path, name, {"last_batch_id": b, key: encode(new)})
        state[key] = new
        state["last_batch_id"] = b
        state["log"].append({"batch_id": b, "skipped_replay": False})

    return fold, state
