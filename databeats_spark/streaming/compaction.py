"""The epoch-state protocol shared by every durable streaming sink.

Five foreachBatch sinks keep epoch-partitioned state: the weekly chart
(`chart.py`, ``wk/epoch``), the SPRT monitor (`monitor.py`,
``epoch``), the near-dup ingest guard and the bloom guard
(`ingest_guard.py`, `bloom_guard.py`, ``epoch`` per table) and the
IVF corpus (`ann_ingest.py`, ``epoch/centroid_id``). This module is
the only code that knows how that state is written, read, drained and
compacted; each sink owns just its rows and, next to it, its fold.
The HLL sketch sink (`distincts.py`, one unpartitioned table) reuses
the read and the drain.

- :func:`write_epoch` writes a micro-batch as its own epoch with
  dynamic partition overwrite set on that one write, never on the
  session. foreachBatch is at-least-once — a crash between the sink
  write and the checkpoint commit replays the same data under the
  SAME epoch id — so idempotence comes from the LAYOUT: the replay
  overwrites exactly its own partitions and can never double-count.
- :func:`read_state` reads a state table as the next micro-batch must
  see it: not-yet-created is empty, anything else unreadable fails
  the batch, and the current epoch can be excluded (a replay must see
  the pre-epoch state).
- :func:`drain` runs a sink over everything available now under its
  checkpoint (``<state>_ckpt`` for single-table sinks,
  ``<dir>/_ckpt`` for the guards).

The cost of idempotence-by-layout is monotonic state growth — one
partial partition per touched (key, epoch) forever, and the serving
read folds all of them. :func:`compact_epoch_partials` bounds that:
fold all COMMITTED epoch partials into a single ``epoch=-1`` base
partition per key prefix and drop the folded partitions, leaving the
serving readout byte-identical with far fewer files.

Two safety properties, each structural:

1. **Never fold an epoch that can still replay.** Folding an
   uncommitted epoch into the base would double-count its replay (the
   replayed write recreates the partition the fold already absorbed).
   So compaction reads the checkpoint's ``commits/`` ledger and folds
   only epochs recorded there (plus any existing ``epoch=-1`` base,
   which is by construction already-committed data).

2. **Crash-safe fold-then-swap.** Plain parquet directories have no
   transactions, so the swap is two-phase with a manifest:
   phase 1 writes the folded base under ``_compact_tmp/`` (underscore-
   prefixed — invisible to parquet readers, same filesystem so renames
   are atomic); phase 2 durably writes ``_compact_manifest.json``
   (the exact dirs to delete and moves to perform), then deletes the
   folded partials and renames the tmp base into place. A crash
   anywhere is recovered by :func:`recover_compaction`: before the
   manifest exists the live state is untouched (tmp is discarded);
   after, the manifest is replayed idempotently (deletes of missing
   dirs and moves of already-moved dirs are no-ops). Compaction is a
   MAINTENANCE operation: run it while the stream is stopped (the
   drains are availableNow anyway); readers between phase-2 deletes
   and moves may see a partially-compacted key, which is the
   documented non-goal (serving availability mid-compact).

At 100 TB scale the same protocol holds: the fold is one partial
aggregation over the state table (itself already events-compacted),
and the manifest lists O(partitions) paths, not rows.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable, Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

BASE_EPOCH = -1
_TMP = "_compact_tmp"
_MANIFEST = "_compact_manifest.json"


def write_epoch(
    df: DataFrame, path: str, epoch_id: int, partition_by: Sequence[str]
) -> None:
    """Write a micro-batch as epoch ``epoch_id`` of the state table at
    ``path``: add the BIGINT ``epoch`` column and replace exactly the
    partitions this batch touches. ``partition_by`` is the sink's
    layout, ``epoch`` included."""
    (
        df.withColumn("epoch", F.lit(int(epoch_id)).cast("bigint"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def read_state(
    spark: SparkSession,
    path: str,
    schema: str,
    exclude_epoch: int | None = None,
) -> DataFrame:
    """The state table at ``path``, without ``exclude_epoch``'s rows.
    A table not created yet is empty state with ``schema``; any other
    read failure (a corrupt or unreadable table) raises, so the
    micro-batch fails and the checkpoint retries instead of silently
    resetting the state."""
    try:
        df = spark.read.parquet(path)
    except AnalysisException as exc:
        if exc.getCondition() != "PATH_NOT_FOUND":
            raise
        df = spark.createDataFrame([], schema)
    if exclude_epoch is None:
        return df
    return df.filter(F.col("epoch") != exclude_epoch)


def drain(
    stream: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint: str,
) -> StreamingQuery:
    """Run ``sink`` via foreachBatch over everything ``stream`` has
    available now and wait for it; the checkpoint makes a re-run
    process only new input."""
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def committed_epochs(checkpoint_path: str) -> set[int]:
    """Epoch ids the stream checkpoint has durably committed — the
    only epochs that can never replay. Structured Streaming writes one
    ``commits/<batchId>`` file per committed micro-batch, but RETAINS
    only the last ``minBatchesToRetain`` (default 100) of them — on a
    long-lived stream the ledger is a rotating window, not the full
    history. Batches commit strictly sequentially, so the folding rule
    is ``epoch <= max(ledger)`` (see :func:`_max_committed`): only the
    batch AFTER the newest committed id can still replay. This set is
    therefore a lower-bound witness, not the universe of committed ids."""
    commits = os.path.join(checkpoint_path, "commits")
    try:
        return {int(f) for f in os.listdir(commits) if f.isdigit()}
    except OSError:
        return set()


def _max_committed(committed: set[int]) -> int | None:
    """The real commit frontier: epochs <= this can never replay
    (sequential commits), even when checkpoint retention has rotated
    their individual ``commits/<id>`` files away (ADVICE r11)."""
    return max(committed) if committed else None


def _epoch_leaf_dirs(state_path: str) -> dict[str, list[tuple[int, str]]]:
    """Map key-prefix (relative dir above ``epoch=``; "" when epoch is
    the only partition level) -> [(epoch, relative epoch dir)]."""
    groups: dict[str, list[tuple[int, str]]] = {}
    for dirpath, dirnames, _ in os.walk(state_path):
        rel = os.path.relpath(dirpath, state_path)
        # never descend into the tmp/hidden dirs (rel == "." is the
        # state root itself, not a hidden dir)
        if rel != "." and (rel.startswith(_TMP) or rel.startswith(".") or rel.startswith("_")):
            dirnames.clear()
            continue
        for d in list(dirnames):
            if d.startswith("epoch="):
                try:
                    epoch = int(d.split("=", 1)[1])
                except ValueError:
                    continue
                prefix = "" if rel == "." else rel
                groups.setdefault(prefix, []).append(
                    (epoch, os.path.join(prefix, d) if prefix else d)
                )
                dirnames.remove(d)
    return groups


def recover_compaction(state_path: str) -> bool:
    """Replay (or discard) an interrupted compaction. Returns True if
    a manifest was replayed. Idempotent: safe to call unconditionally
    before any read or compact of the state."""
    mpath = os.path.join(state_path, _MANIFEST)
    tmp = os.path.join(state_path, _TMP)
    if not os.path.exists(mpath):
        # phase-1 crash: live state untouched, tmp is garbage
        shutil.rmtree(tmp, ignore_errors=True)
        return False
    with open(mpath) as f:
        manifest = json.load(f)
    for rel in manifest["delete"]:
        shutil.rmtree(os.path.join(state_path, rel), ignore_errors=True)
    for rel in manifest["move"]:
        src = os.path.join(tmp, rel)
        dst = os.path.join(state_path, rel)
        if os.path.isdir(src):
            os.makedirs(os.path.dirname(dst) or state_path, exist_ok=True)
            shutil.rmtree(dst, ignore_errors=True)
            os.rename(src, dst)
        elif not os.path.isdir(dst):
            # The deletes above have already run; a move whose source
            # vanished with no destination in place means the folded
            # base is GONE (e.g. a src/dst path-rendering mismatch) —
            # treating it as an idempotent no-op would silently lose
            # data (ADVICE r11). Leave the manifest + tmp in place for
            # forensic repair and fail loudly.
            raise RuntimeError(
                f"compaction recovery: manifest move source {src!r} is "
                f"missing and destination {dst!r} does not exist — folded "
                "base lost; manifest left in place for manual repair"
            )
    shutil.rmtree(tmp, ignore_errors=True)
    os.remove(mpath)
    return True


def compact_epoch_partials(
    spark: SparkSession,
    state_path: str,
    fold: Callable[[DataFrame], DataFrame],
    partition_cols: list[str],
    checkpoint_path: str | None = None,
    committed: set[int] | None = None,
    exclude: frozenset[int] | set[int] = frozenset(),
) -> int:
    """Fold committed epoch partials into one ``epoch=-1`` base per key
    prefix. Returns the number of partition groups compacted.

    ``fold`` receives the selected partials (partition columns
    included) and must return one row-set per key with the SAME
    non-epoch schema the sink writes — the serving read's per-key fold
    makes (base + partials) and (folded base) indistinguishable.
    ``partition_cols`` is the sink's partitionBy list, epoch last.
    ``checkpoint_path`` defaults to ``state_path + "_ckpt"`` (the
    drain helpers' convention); pass it explicitly for custom layouts,
    or pass ``committed`` directly when the caller owns the ledger
    (e.g. a foreachBatch sink driven outside the drain helpers).
    ``committed`` is a FRONTIER WITNESS, not a membership filter:
    because micro-batches commit strictly sequentially, every epoch
    ``<= max(committed)`` is folded — including ids absent from the
    set (checkpoint retention rotates old ``commits/<id>`` files away,
    and membership alone would strand pre-window epochs forever). To
    withhold a specific below-frontier epoch, use ``exclude``.
    ``exclude`` holds committed epochs to leave unfolded anyway (the
    ANN corpus keeps its latest epoch so drift() stays meaningful).
    """
    recover_compaction(state_path)
    if committed is None:
        committed = committed_epochs(checkpoint_path or state_path + "_ckpt")
    # Sequential-commit frontier, not set membership: checkpoint
    # retention (minBatchesToRetain, default 100) rotates old
    # commits/<id> files away, and membership alone would strand every
    # pre-window epoch unfolded forever on a long-lived stream
    # (ADVICE r11). Only the batch after max(committed) can replay.
    frontier = _max_committed(committed)

    groups = _epoch_leaf_dirs(state_path)
    selected: list[str] = []
    delete: list[str] = []
    move: list[str] = []
    for prefix, dirs in sorted(groups.items()):
        foldable = [
            (e, rel)
            for e, rel in sorted(dirs)
            if (
                e == BASE_EPOCH
                or (frontier is not None and e <= frontier)
            )
            and e not in exclude
        ]
        if len(foldable) < 2:
            continue  # already a lone base (or lone epoch): no win
        selected.extend(rel for _, rel in foldable)
        delete.extend(rel for _, rel in foldable)
        move.append(
            os.path.join(prefix, f"epoch={BASE_EPOCH}")
            if prefix
            else f"epoch={BASE_EPOCH}"
        )
    if not selected:
        return 0

    tmp = os.path.join(state_path, _TMP)
    shutil.rmtree(tmp, ignore_errors=True)
    partials = spark.read.option("basePath", state_path).parquet(
        *[os.path.join(state_path, rel) for rel in selected]
    )
    folded = fold(partials).withColumn(
        "epoch", F.lit(BASE_EPOCH).cast("long")
    )
    # one file per base partition — the small-files win is the point;
    # the extra exchange moves only already-folded rows
    folded.repartition(*[F.col(c) for c in partition_cols]).write.mode(
        "overwrite"
    ).partitionBy(*partition_cols).parquet(tmp)

    # Pre-flight BEFORE anything destructive: every manifest move
    # source must already exist under tmp. A fold that returned zero
    # rows for a key prefix writes no epoch=-1 dir there, and the
    # 'folded base lost' guard in recover_compaction would only fire
    # AFTER the manifest's deletes destroyed the partials — an
    # unrecoverable loss. Failing here is a clean no-op: live state
    # untouched, tmp discarded on the next recover (ADVICE r12).
    missing = [rel for rel in move if not os.path.isdir(os.path.join(tmp, rel))]
    if missing:
        raise RuntimeError(
            f"compaction aborted before any destruction: fold produced no "
            f"base partition(s) for {missing!r} under {tmp!r} — the fold "
            "callable must return at least one row per selected key prefix"
        )

    # phase 2: durably record the swap, then perform it via recovery
    mpath = os.path.join(state_path, _MANIFEST)
    with open(mpath + ".writing", "w") as f:
        json.dump({"delete": delete, "move": move}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(mpath + ".writing", mpath)
    # fsync the DIRECTORY entry too: the file's bytes are durable but
    # the rename itself is not until the parent dir syncs — on power
    # loss (not mere process crash) the destructive phase below could
    # otherwise persist while the manifest rename does not, leaving no
    # recovery record (ADVICE r11).
    dfd = os.open(state_path, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)
    recover_compaction(state_path)
    return len(move)

