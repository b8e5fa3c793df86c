"""Merge-on-read (MOR) upsert table — the Hudi MERGE_ON_READ counterpart
to ``operators.upsert.UpsertTable`` (COW).

The reference pins COPY_ON_WRITE (`glue_job_script.py:53-54`), which
rewrites every touched partition per commit — write-amplifying for a
10-second micro-batch trigger (`…Template.yaml:33`). Hudi's documented
alternative is MOR: commits append delta logs, readers merge base+logs
on the fly, and a compactor periodically folds logs into the base. This
module is that design, pure Spark:

- **write path is O(batch)**: each upsert appends one delta directory
  (``log/commit=N``); no read-modify-write of stored data. At 100 TB /
  1000 executors this removes the per-commit full-partition rewrite —
  ingest cost no longer scales with stored-partition size.
- **read path merges lazily**: base ∪ logs → one keyed ``max_by``
  aggregation (greatest precombine wins; later commit wins ties) —
  the same algebra as the COW merge, shifted from write to read.
- **compaction is scheduled, not inline**: ``CompactionPolicy`` triggers
  by delta-commit count or log bytes (Hudi's
  ``hoodie.compact.inline.max.delta.commits`` analogue); compaction
  rewrites ONLY partitions present in the logs (dynamic partition
  overwrite); folded commits are RETAINED on the timeline (time travel
  ``read(as_of=…)`` and ``read_incremental`` stay valid across
  compactions) until ``clean`` removes them — Hudi's commit-retention
  model, which COW's ``TimelineTable`` already follows.

Read amplification is bounded by the policy: a reader merges at most
``max_delta_commits`` deltas before a compaction folds them away, and
deltas that share a recorded schema are read as one scan.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_glue_streaming_etl_with_apache_hudi_spark.operators.schema_evolution import (
    conform,
    evolve_schema,
    unify_schemas,
)
from aws_glue_streaming_etl_with_apache_hudi_spark.operators.upsert import SnapshotSidecars
from aws_glue_streaming_etl_with_apache_hudi_spark.operators.upsert import (
    overwrite_writer,
    partial_combine,
    partial_merge,
    precombine_latest,
)

_SEQ = "_commit_seq"
# Hudi's public per-record soft-delete field (shared contract with
# TimelineTable / UpsertTable): marker-true rows become tombstone DELTA
# ROWS (`_deleted`) — MOR's analogue of Hudi's delete log blocks. The
# read-side merge resolves them by precombine order (a stale tombstone
# loses max_by and deletes nothing) and drops tombstone winners from
# every merged view; compaction folds them into the base for free.
_DELETE_MARKER = "_hoodie_is_deleted"
_DELETED = "_deleted"


def _route_delete_marker(batch: DataFrame, merge_mode: str) -> DataFrame:
    """Normalize an incoming batch's `_hoodie_is_deleted` into the
    internal tombstone column (no-op when absent)."""
    if _DELETE_MARKER not in batch.columns:
        return batch
    if merge_mode == "partial":
        raise ValueError(
            f"{_DELETE_MARKER} is not supported with merge_mode='partial': "
            "a patch row cannot also be a tombstone"
        )
    return batch.withColumn(
        _DELETED, F.coalesce(F.col(_DELETE_MARKER), F.lit(False))
    ).drop(_DELETE_MARKER)


def _drop_tombstone_winners(df: DataFrame) -> DataFrame:
    """Merged-view postlude: tombstone winners vanish; stale tombstones
    already lost the max_by and are gone."""
    if _DELETED not in df.columns:
        return df
    return df.filter(~F.coalesce(F.col(_DELETED), F.lit(False))).drop(_DELETED)


@dataclass
class CompactionPolicy:
    """When to fold delta logs into the base (scheduling hook).

    ``max_delta_commits``  compact after this many uncompacted deltas
                           (Hudi ``hoodie.compact.inline.max.delta.commits``).
    ``max_log_bytes``      or when the log directory exceeds this size.
    Either threshold firing schedules a compaction; ``None`` disables
    that dimension.
    """

    max_delta_commits: int | None = 5
    max_log_bytes: int | None = None

    def due(self, n_deltas: int, log_bytes: int) -> bool:
        if self.max_delta_commits is not None and n_deltas >= self.max_delta_commits:
            return True
        if self.max_log_bytes is not None and log_bytes >= self.max_log_bytes:
            return True
        return False


@dataclass
class MergeOnReadTable(SnapshotSidecars):
    """Keyed upsert table with append-only writes and read-side merge.

    Same identity semantics as ``UpsertTable`` (one live row per record
    key per partition path; greatest precombine wins, incoming row wins
    exact ties — glue_job_script.py:55-58), different physical layout:

    ``path/base/``          compacted snapshot (partitioned Parquet)
    ``path/log/commit=N/``  one Parquet delta per upsert commit
    ``path/_mor_meta.json`` schema + commit counter + compaction state
    """

    spark: SparkSession
    path: str
    keys: list[str]
    precombine: str
    partition_by: list[str] = field(default_factory=list)
    table_name: str | None = None
    policy: CompactionPolicy = field(default_factory=CompactionPolicy)
    # "overwrite": the latest delta row replaces the stored row wholesale
    # (Hudi's default payload). "partial": non-null delta columns
    # override, nulls preserve — Hudi PartialUpdateAvroPayload; the
    # natural MOR mode, since CDC/sparse-attribute feeds are exactly the
    # streams a log-structured table ingests (see upsert.partial_merge).
    merge_mode: str = "overwrite"
    # Hudi 1.0 expression indexes on MOR (same declaration surface as
    # UpsertTable.functional_indexes): value -> partition pruning for
    # read_for_expr, maintained as a compacted snapshot sidecar. Delta
    # commits ABSORB the batch's values (the index only grows between
    # compactions — a superset of live values, exact via the residual);
    # compaction rebuilds the folded partitions' entries exactly.
    functional_indexes: dict[str, str] = field(default_factory=dict)
    fidx_max_values: int = 1024

    def __post_init__(self) -> None:
        if self.merge_mode not in ("overwrite", "partial"):
            raise ValueError(f"unknown merge_mode {self.merge_mode!r}")
        if self.functional_indexes and not self.partition_by:
            raise ValueError(
                "functional_indexes requires partition_by (the index maps "
                "expression values to partition paths)"
            )
        if self.fidx_max_values < 1:
            raise ValueError("fidx_max_values must be >= 1")

    # -- layout ------------------------------------------------------------
    @property
    def _base(self) -> str:
        return os.path.join(self.path, "base")

    @property
    def _log(self) -> str:
        return os.path.join(self.path, "log")

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.path, "_mor_meta.json")

    @property
    def _restore_intent_path(self) -> str:
        return os.path.join(self.path, "_restore_intent.json")

    def _write_restore_intent(self, intent: dict) -> None:
        tmp = self._restore_intent_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(intent, f)
        os.replace(tmp, self._restore_intent_path)

    def _restore_intent(self) -> dict | None:
        if not os.path.exists(self._restore_intent_path):
            return None
        with open(self._restore_intent_path) as f:
            return json.load(f)

    def _clear_restore_intent(self) -> None:
        try:
            os.remove(self._restore_intent_path)
        except FileNotFoundError:
            pass

    def exists(self) -> bool:
        return os.path.exists(self._meta_path)

    def _meta(self) -> dict:
        with open(self._meta_path) as f:
            return json.load(f)

    def _save_meta(self, meta: dict) -> None:
        # Local-FS atomic rename; a cluster deployment swaps in the Hadoop
        # FileSystem API (same temp+rename contract on HDFS/S3A).
        os.makedirs(self.path, exist_ok=True)
        tmp = self._meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_path)

    def _log_commits_on_disk(self) -> list[int]:
        """Every delta commit still on disk — including ones already
        folded into the base by compaction (they are RETAINED for time
        travel and incremental pulls until ``clean`` removes them)."""
        if not os.path.isdir(self._log):
            return []
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(self._log)
            if d.startswith("commit=")
        )

    # -- instant states (NBCC visibility) -------------------------------------
    #
    # Single-writer commits are made visible by the meta ``next_seq``
    # line alone (the original design). Multi-writer (NBCC) commits
    # carry explicit instant-state marker files under ``log/_instants/``
    # — ``<seq>.inflight`` written atomically at claim time,
    # ``<seq>.completed`` at publish — because with concurrent writers a
    # HIGHER seq can complete before a LOWER one, and a single watermark
    # cannot express that. Visibility rule, uniform for readers:
    #   completed marker        -> visible (regardless of next_seq)
    #   inflight-only marker    -> INVISIBLE (claimed, not yet published
    #                              — or a crashed writer; fsck rolls back)
    #   no markers (legacy)     -> visible iff seq < next_seq
    @property
    def _instants(self) -> str:
        return os.path.join(self._log, "_instants")

    def _inflight_path(self, seq: int) -> str:
        return os.path.join(self._instants, f"{seq}.inflight")

    def _done_path(self, seq: int) -> str:
        return os.path.join(self._instants, f"{seq}.completed")

    def _has_done(self, seq: int) -> bool:
        return os.path.exists(self._done_path(seq))

    def _has_inflight(self, seq: int) -> bool:
        return os.path.exists(self._inflight_path(seq))

    def _remove_markers(self, seq: int) -> None:
        for p in (self._inflight_path(seq), self._done_path(seq)):
            try:
                os.remove(p)
            except OSError:
                pass

    def _inflight_claims(self) -> list[int]:
        """Claimed-but-unpublished slots, read from the instant markers
        (the claim exists before the data dir does)."""
        if not os.path.isdir(self._instants):
            return []
        return sorted(
            int(n[: -len(".inflight")])
            for n in os.listdir(self._instants)
            if n.endswith(".inflight")
            and not os.path.exists(
                os.path.join(self._instants, n[: -len(".inflight")] + ".completed")
            )
        )

    def _visible(self, seq: int, next_seq: int | None) -> bool:
        if self._has_done(seq):
            return True
        if self._has_inflight(seq):
            return False
        return next_seq is None or seq < next_seq

    def _log_commits(self) -> list[int]:
        """PENDING delta commits: on disk, newer than the last
        compaction, and VISIBLE — below ``next_seq`` for single-writer
        commits, completed-marked for NBCC commits (see the instant-state
        rule above). A crash between the delta write and the publish
        step leaves a dir no reader may see (it was never committed;
        fsck sweeps it)."""
        through = self._compacted_through()
        next_seq = self._meta().get("next_seq") if self.exists() else 1
        return [
            c
            for c in self._log_commits_on_disk()
            if c > through and self._visible(c, next_seq)
        ]

    def _committed_on_disk(self) -> list[int]:
        """On-disk delta commits past the visibility rule — the full
        COMMITTED history (read_incremental / time travel scan these; a
        crashed, never-published dir is invisible here exactly as in
        ``_log_commits``)."""
        next_seq = self._meta().get("next_seq") if self.exists() else 1
        return [
            c for c in self._log_commits_on_disk() if self._visible(c, next_seq)
        ]

    def _compacted_through(self) -> int:
        return self._meta().get("compacted_through", 0) if self.exists() else 0

    def _is_legacy(self) -> bool:
        """Tables written before the commit timeline existed: no
        ``compacted_through`` in meta, logs truncated at compaction, no
        bootstrap commit — their history is simply not on disk."""
        return self.exists() and "compacted_through" not in self._meta()

    def _cleaned_through(self) -> int:
        return self._meta().get("cleaned_through", 0) if self.exists() else 0

    def _log_bytes(self) -> int:
        """Bytes of PENDING deltas only (the read-amplification the
        compaction policy bounds; retained-but-folded logs are the
        cleaner's concern, not the compactor's)."""
        total = 0
        for seq in self._log_commits():
            d = os.path.join(self._log, f"commit={seq}")
            for root, _dirs, files in os.walk(d):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    @property
    def _identity(self) -> list[str]:
        return [c for c in self.partition_by if c not in self.keys] + self.keys

    # -- write path ---------------------------------------------------------
    def upsert(self, batch: DataFrame) -> None:
        """Append one delta commit; schedule compaction if the policy fires.

        O(batch) IO: within-batch precombine, then a single Parquet append.
        Stored data is neither read nor rewritten here.

        Batches may carry ``_hoodie_is_deleted``: marker-true rows land
        as tombstone delta rows (Hudi's MOR delete log blocks) — O(batch)
        like any append; the read-side merge resolves them by precombine
        order and compaction folds them into the base.
        """
        batch = _route_delete_marker(batch, self.merge_mode)
        if self.merge_mode == "partial":
            batch = partial_merge(None, batch, self._identity, self.precombine)
        else:
            batch = precombine_latest(batch, self._identity, self.precombine)

        if not self.exists():
            # Bootstrap = delta commit 1 + an immediate compaction of it:
            # the batch lands BOTH in the base (read-optimized view works
            # from commit one, tombstone winners excluded) and in the
            # retained log (the commit log is the table's full history —
            # time travel and incremental pulls replay it uniformly from
            # seq 1, tombstones included).
            overwrite_writer(
                _drop_tombstone_winners(batch), self.partition_by
            ).parquet(self._base)
            batch.write.mode("overwrite").parquet(
                os.path.join(self._log, "commit=1")
            )
            self._save_meta(
                {
                    # `_deleted` stays delta-internal, as in _evolve_meta
                    "schema": T.StructType(
                        [f for f in batch.schema.fields if f.name != _DELETED]
                    ).json(),
                    "keys": self.keys,
                    "precombine": self.precombine,
                    "partition_by": self.partition_by,
                    "next_seq": 2,
                    "compacted_through": 1,
                    "cleaned_through": 0,
                    "timeline": [
                        {"seq": 1, "action": "deltacommit"},
                        {"seq": 1, "action": "compaction", "through": 1},
                    ],
                }
            )
            # after the meta save, which is the bootstrap's commit point:
            # a crash before it leaves an unmarked dir that fsck sweeps
            self._publish(1, batch.schema, "__single__")
            self._fidx_absorb(batch)
            self._sync_catalog()
            return

        meta = self._meta()
        seq = meta["next_seq"]
        # never clobber an NBCC-published commit sitting at/above the
        # single-writer line; a plain crashed dir (no markers) at this
        # slot is invisible garbage — overwrite heals it
        while self._has_done(seq):
            seq += 1
        # Claim the slot through the SAME O_EXCL inflight-marker path as
        # NBCC writers (r12, ADVICE r11): the former check-then-write left
        # a TOCTOU window where a concurrent _nbcc_claim could win this
        # seq between the _has_inflight probe and the parquet write, both
        # writers then overwriting each other's commit=<seq> directory.
        # The O_EXCL create makes claim acquisition atomic; losing it is
        # reported exactly like finding a pre-existing claim:
        # a claimed-but-unpublished slot is indistinguishable from a LIVE
        # NBCC writer mid-flight — silently reusing it would lose data
        # both ways. A crashed claim is rolled back by fsck() (offline),
        # a live one publishes shortly.
        os.makedirs(self._instants, exist_ok=True)
        try:
            fd = os.open(
                self._inflight_path(seq), os.O_CREAT | os.O_EXCL | os.O_WRONLY
            )
            os.write(fd, json.dumps({"writer": "__single__"}).encode())
            os.close(fd)
        except FileExistsError:
            raise RuntimeError(
                f"commit slot {seq} holds an unpublished NBCC claim; "
                "run fsck() offline if the writer crashed, or route this "
                "write through nbcc_upsert alongside live NBCC writers"
            ) from None
        batch.write.mode("overwrite").parquet(
            os.path.join(self._log, f"commit={seq}")
        )
        # index absorb BEFORE the publish (monotone sidecar-first, the
        # bloom ordering): a crash here leaves absorbed values for an
        # unpublished commit — stale superset candidates, drained at
        # compaction — while the reverse order would leave a published
        # commit the index can MISS (wrong probe results until replay)
        self._fidx_absorb(batch)
        # publish before metadata (the NBCC order): readers see the
        # commit via its markers even if this writer dies mid-meta
        self._publish(seq, batch.schema, "__single__")
        # metadata merge under the micro-lock (r12, ADVICE r11): the
        # unlocked save could clobber a concurrent _nbcc_complete's
        # schema-union/timeline append (lost-update on the JSON blob)
        with self._meta_lock():
            meta = self._meta()
            meta["next_seq"] = max(meta["next_seq"], seq + 1)
            self._evolve_meta(meta, batch)
            meta.setdefault("timeline", []).append(
                {"seq": seq, "action": "deltacommit"}
            )
            self._save_meta(meta)

        # the byte walk only when the policy bounds bytes; a compaction
        # syncs the catalog itself
        log_bytes = self._log_bytes() if self.policy.max_log_bytes is not None else 0
        if not (self.policy.due(len(self._log_commits()), log_bytes) and self.compact()):
            self._sync_catalog()

    # -- non-blocking concurrency control (Hudi 1.0 NBCC) ---------------------
    #
    # Concurrent writers to the SAME keys, and neither aborts — the MOR
    # delta log makes it possible because writers never rewrite shared
    # files: each claims its own commit slot and appends its own
    # directory; the read-side precombine (event time, then commit seq)
    # resolves key overlaps at merge time. Contrast `TimelineTable`'s
    # OCC, where an overlapping writer gets CommitConflict and retries —
    # here the data path never conflicts at all (Hudi 1.0's
    # NON_BLOCKING_CONCURRENCY_CONTROL on MOR, vs its OCC lock-provider
    # mode). What still serializes, exactly as in Hudi's timeline
    # server: the CLAIM of a slot (one atomic O_EXCL file create) and
    # the tiny metadata merge at publish (schema union + timeline
    # append, micro-seconds under `_meta_lock`). Data writes — the
    # O(batch) parquet appends that dominate wall time — run fully in
    # parallel. Table services (compact/clean/restore/fsck) remain
    # offline operations run beside, not inside, the writer pool;
    # compact() additionally refuses to fold past an unpublished claim
    # so a slow writer is never stranded below the compaction line.

    def _meta_lock(self, timeout: float = 30.0):
        """Lock for the metadata micro-section — the shared CommitLock
        (operators/locking.py): token-verified release (a slow holder
        cannot delete a successor's lock) and ttl-based stale-break
        (a crashed holder self-heals after ttl instead of wedging every
        publish until a manual fsck). Contention is bounded by the
        section being two JSON writes."""
        from aws_glue_streaming_etl_with_apache_hudi_spark.operators.locking import CommitLock

        os.makedirs(self.path, exist_ok=True)  # bootstrap takes it first
        return CommitLock(self.path, timeout_s=timeout, ttl_s=120.0)

    def _nbcc_claim(self, writer: str) -> int:
        """Atomically claim the next free commit slot: the O_EXCL create
        of ``<seq>.inflight`` IS the claim — two racers on the same seq
        cannot both win, the loser probes seq+1. O(1) filesystem ops per
        writer, no scan of the table."""
        os.makedirs(self._instants, exist_ok=True)
        seq = max(
            self._meta()["next_seq"],
            max(self._log_commits_on_disk(), default=0) + 1,
        )
        while True:
            try:
                fd = os.open(
                    self._inflight_path(seq), os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
                os.write(fd, json.dumps({"writer": writer}).encode())
                os.close(fd)
                return seq
            except FileExistsError:
                seq += 1

    def _nbcc_write(self, seq: int, batch: DataFrame) -> None:
        """The parallel part: append this writer's delta directory.
        Invisible to every reader until `_nbcc_complete` publishes."""
        batch.write.mode("overwrite").parquet(
            os.path.join(self._log, f"commit={seq}")
        )

    def _publish(self, seq: int, schema: T.StructType | None, writer: str) -> None:
        """Flip instant ``seq`` to completed (atomic rename — readers see
        the commit entirely or not at all). The marker records the
        delta's schema, as a Hudi instant records its writer schema, so
        readers scan the delta with no footer-inference job."""
        record = {"writer": writer}
        if schema is not None:
            record["schema"] = schema.json()
        os.makedirs(self._instants, exist_ok=True)
        tmp = self._done_path(seq) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(record, f)
        os.replace(tmp, self._done_path(seq))

    def _nbcc_complete(self, seq: int, batch: DataFrame, writer: str) -> None:
        """Publish (``_publish``), then merge the metadata under the
        micro-lock. ``next_seq`` advances only across the fully-published
        prefix, so it never exposes a lower unpublished claim; commits
        published above it are visible via their markers."""
        self._publish(seq, batch.schema, writer)
        with self._meta_lock():
            meta = self._meta()
            self._evolve_meta(meta, batch)
            meta.setdefault("timeline", []).append(
                # append order = COMPLETION order (Hudi 1.0's completion-
                # time semantics); seq records the claim order
                {"seq": seq, "action": "deltacommit", "writer": writer}
            )
            nxt = meta["next_seq"]
            while self._has_done(nxt):
                nxt += 1
            meta["next_seq"] = nxt
            self._save_meta(meta)

    def nbcc_upsert(self, batch: DataFrame, writer: str = "w0") -> int:
        """Multi-writer upsert: claim a slot, append the delta in
        parallel with other writers, publish. Returns the commit seq.
        Key overlaps with concurrent writers NEVER abort (no
        CommitConflict): the read-side precombine picks the event-time
        winner whatever the completion interleaving — pinned by
        tests/test_nbcc.py including a stale-writer-completes-last race.

        Table bootstrap is the one serialized write (first writer in
        creates the table under the meta lock; Hudi serializes the first
        commit the same way). Auto-compaction is deliberately NOT
        triggered here — table services run beside the writer pool."""
        if not self.exists():
            with self._meta_lock():
                if not self.exists():
                    self.upsert(batch)  # bootstrap: base + commit 1
                    self._publish(1, self._delta_schema(1), writer)
                    return 1
        batch = _route_delete_marker(batch, self.merge_mode)
        if self.merge_mode == "partial":
            batch = partial_merge(None, batch, self._identity, self.precombine)
        else:
            batch = precombine_latest(batch, self._identity, self.precombine)
        seq = self._nbcc_claim(writer)
        self._nbcc_write(seq, batch)
        self._fidx_absorb(batch)  # sidecar-first: absorb, THEN publish
        self._nbcc_complete(seq, batch, writer)
        return seq

    def nbcc_begin(self, writer: str = "w0") -> int:
        """Two-phase surface, claim half: reserve a commit slot now,
        publish later — what an orchestrator (or a test) uses to hold a
        claim open across other writers' publishes. The table must
        already exist (bootstrap goes through ``nbcc_upsert``)."""
        if not self.exists():
            raise ValueError("nbcc_begin needs an existing table; bootstrap via nbcc_upsert")
        return self._nbcc_claim(writer)

    def nbcc_publish(self, seq: int, batch: DataFrame, writer: str = "w0") -> None:
        """Two-phase surface, publish half: write the claimed slot's
        delta and flip it visible. Order relative to OTHER slots'
        publishes is free — that is the point of NBCC."""
        batch = _route_delete_marker(batch, self.merge_mode)
        if self.merge_mode == "partial":
            batch = partial_merge(None, batch, self._identity, self.precombine)
        else:
            batch = precombine_latest(batch, self._identity, self.precombine)
        self._nbcc_write(seq, batch)
        self._fidx_absorb(batch)  # sidecar-first: absorb, THEN publish
        self._nbcc_complete(seq, batch, writer)

    # -- timeline ------------------------------------------------------------
    def timeline(self) -> list[dict]:
        """Ordered instant metadata — deltacommits, compactions, cleans
        (the MOR counterpart of ``TimelineTable.commits()``)."""
        return list(self._meta().get("timeline", [])) if self.exists() else []

    def latest_commit(self) -> int:
        if not self.exists():
            return 0
        # NBCC commits can be published ABOVE the single-writer line
        return max(self._meta()["next_seq"] - 1, *self._committed_on_disk(), 0)

    # -- savepoints ----------------------------------------------------------
    #
    # Same contract as TimelineTable: a savepoint pins an instant against
    # the cleaner, restore() rolls the table back to it, and later
    # savepoints block destructive operations until deleted. MOR keeps
    # them in the single meta file (its one-writer metadata model) rather
    # than per-savepoint files.

    def savepoints(self) -> list[dict]:
        return list(self._meta().get("savepoints", [])) if self.exists() else []

    def savepoint(self, commit: int | None = None, name: str | None = None) -> int:
        """Pin ``commit`` (default: latest) against cleaning.

        Known limit vs Hudi (which pins data FILES, not replay ranges):
        a savepoint taken at/after the compaction point while earlier
        commits are ALREADY cleaned becomes unrestorable once a LATER
        compaction overtakes it — its reconstruction then needs log-only
        replay from commit 1, and the cleaned commits are gone. The
        failure is loud (``read``/``restore`` raise, nothing silently
        partial); avoid it by savepointing before the first clean, or by
        restoring before compacting past the savepoint."""
        commit = self.latest_commit() if commit is None else commit
        if commit < 1 or commit > self.latest_commit():
            raise ValueError(f"cannot savepoint unknown instant {commit}")
        # Reject only commits that genuinely need log replay through a
        # cleaned range: a commit BELOW the compaction point is served by
        # log-only replay from commit 1, impossible once anything is
        # cleaned. A commit AT/ABOVE the compaction point reads base +
        # pending deltas — in particular cleaned_through == commit ==
        # compacted_through is fully reconstructible from the base alone
        # (read(as_of=commit) succeeds via base + empty pending), so
        # `commit <= cleaned_through` on its own would be over-broad
        # (cleaned_through ≤ compacted_through is a clean() invariant).
        if commit < self._compacted_through() and self._cleaned_through() >= 1:
            raise ValueError(
                f"cannot savepoint {commit}: not reconstructible (clean "
                f"horizon {self._cleaned_through()})"
            )
        meta = self._meta()
        sps = [s for s in meta.get("savepoints", []) if s["commit"] != commit]
        sps.append({"commit": commit, "name": name or f"sp-{commit}", "ts": time.time()})
        meta["savepoints"] = sorted(sps, key=lambda s: s["commit"])
        self._save_meta(meta)
        return commit

    def delete_savepoint(self, commit: int) -> None:
        meta = self._meta() if self.exists() else {}
        sps = meta.get("savepoints", [])
        if commit not in {s["commit"] for s in sps}:
            raise ValueError(f"no savepoint at instant {commit}")
        meta["savepoints"] = [s for s in sps if s["commit"] != commit]
        self._save_meta(meta)

    def restore(self, commit: int) -> int:
        """Roll the table back to savepointed instant ``commit``; returns
        #delta commits dropped.

        A restore point at or after the last compaction is metadata-cheap
        (drop the newer delta dirs). Below it, the base already folded
        newer commits, so the base is REBUILT from the log replay of
        ``read(as_of=commit)`` — a full rewrite, the honest cost of
        un-compacting (Hudi's restore pays the same). Later savepoints
        block the restore until deleted."""
        sps = {s["commit"] for s in self.savepoints()}
        if commit not in sps:
            raise ValueError(f"no savepoint at instant {commit}")
        later = sorted(c for c in sps if c > commit)
        if later:
            raise ValueError(
                f"savepoints at {later} block restore to {commit}; "
                "delete_savepoint them first"
            )
        dropped = [c for c in self._log_commits_on_disk() if c > commit]
        rebuild = commit < self._compacted_through()
        # Durable intent marker (same pattern as upsert.py's clustering
        # manifest): fsck can only repair an interrupted restore if it
        # knows a restore was RUNNING and which side of the base swap the
        # crash hit. phase="begin" means the pre-restore base is still
        # authoritative (fsck rolls BACK); phase="swapped" means the
        # restored base is authoritative (fsck rolls FORWARD by finishing
        # the log drops and the meta update below). The phase flip happens
        # between the two base renames, so every crash point maps to
        # exactly one of the two repairs.
        self._write_restore_intent(
            {
                "commit": commit,
                "rebuild": rebuild,
                "phase": "begin" if rebuild else "swapped",
            }
        )
        if rebuild:
            # write the replayed state to a sibling dir and swap: a full
            # overwrite under dynamic-partition-overwrite mode would leave
            # partitions that no longer exist at `commit` lingering in the
            # base, and writing in place would race the plan still reading
            # the old base files
            state = self.read(as_of=commit)
            # in the table's types: the restored base is read with them
            table = self._sidecar_table_schema()
            state = conform(state, {c: table[c].dataType for c in state.columns})
            tmp_base = self._base + ".restore_tmp"
            shutil.rmtree(tmp_base, ignore_errors=True)
            overwrite_writer(state, self.partition_by).parquet(tmp_base)
            # Swap via aside-rename, never a delete-then-rename: a crash
            # between rmtree(base) and rename(tmp, base) would leave the
            # table with NO base while meta still claims
            # compacted_through > 0 — rows live only in the base would be
            # gone for good (r6 crash-injection finding). With the aside
            # rename every crash point leaves a full copy on disk and
            # fsck() can roll back (old base present) or roll forward
            # (restored base present) to a consistent read.
            old_base = self._base + ".restore_old"
            shutil.rmtree(old_base, ignore_errors=True)
            if os.path.isdir(self._base):
                os.rename(self._base, old_base)
            # point of no return: after this flip fsck completes the
            # restore instead of undoing it
            self._write_restore_intent(
                {"commit": commit, "rebuild": True, "phase": "swapped"}
            )
            os.rename(tmp_base, self._base)
            shutil.rmtree(old_base, ignore_errors=True)
        self._finish_restore(commit, rebuild)
        self._clear_restore_intent()
        self._sync_catalog(base_changed=True)
        return len(dropped)

    def _finish_restore(self, commit: int, rebuild: bool) -> None:
        """The restore steps AFTER the base swap — log-dir drops and the
        meta update. Shared verbatim with fsck's roll-forward repair so
        an interrupted restore converges to the identical on-disk state
        the uninterrupted operator would have produced."""
        for seq in self._log_commits_on_disk():
            if seq > commit:
                shutil.rmtree(
                    os.path.join(self._log, f"commit={seq}"), ignore_errors=True
                )
                self._remove_markers(seq)
        meta = self._meta()
        meta["next_seq"] = commit + 1
        if rebuild or meta.get("compacted_through", 0) > commit:
            meta["compacted_through"] = commit
        if rebuild:
            meta.pop("base_types", None)  # the base was rewritten whole
        # drop the rolled-back instants' timeline entries: their seq
        # numbers are reused by future commits, and ghost entries would
        # make history() report dropped commits (and later, duplicates).
        # A prior restore entry at the same seq is also dropped so a
        # crash between _save_meta and intent-clear replays idempotently.
        meta["timeline"] = [
            e
            for e in meta.get("timeline", [])
            if e["seq"] <= commit
            and not (e["seq"] == commit and e.get("action") == "restore")
        ]
        meta["timeline"].append(
            {"seq": commit, "action": "restore", "through": commit}
        )
        self._save_meta(meta)
        # the index's absorbed values describe a state that no longer
        # exists; serving candidates from it could MISS rows the rewound
        # state still has under other values. Invalidate — probes full-
        # scan until compact()/build_functional_index rebuilds.
        for name in self.functional_indexes:
            self._fidx_invalidate(name)

    def _evolve_meta(self, meta: dict, batch: DataFrame) -> None:
        """Fold ``batch``'s schema into the persisted table schema: new
        columns append, and a stored column takes the wider of its two
        types (Catalyst's widening, ``unify_schemas``). Base files keep
        the type they were written in until a compaction rewrites them,
        so a column whose type changes records its base type under
        ``base_types`` (the first one: the oldest base files hold it)."""
        # `_deleted` is delta-file-internal (tombstone routing): it must
        # never reach the persisted meta schema, or schema-driven empty
        # frames would expose a column the merged read paths drop.
        stored = T.StructType.fromJson(json.loads(meta["schema"]))
        incoming = T.StructType([f for f in batch.schema.fields if f.name != _DELETED])
        resolved = unify_schemas(stored, incoming, self.spark._jvm)
        base_types = {f.name: f for f in self._base_types(meta)}
        for f in stored.fields:
            if resolved[f.name] != f.dataType:
                base_types.setdefault(f.name, f)
        names = set(stored.fieldNames())
        meta["schema"] = T.StructType(
            [T.StructField(f.name, resolved[f.name], f.nullable, f.metadata) for f in stored.fields]
            + [f for f in incoming.fields if f.name not in names]
        ).json()
        if base_types:
            meta["base_types"] = T.StructType(list(base_types.values())).json()

    @staticmethod
    def _base_types(meta: dict) -> list[T.StructField]:
        """Columns the base still stores in an older type than the table
        schema's, each with that type."""
        recorded = meta.get("base_types")
        return T.StructType.fromJson(json.loads(recorded)).fields if recorded else []

    # -- read path ----------------------------------------------------------
    def _read_base_partitions(self, parts: list[tuple]) -> DataFrame:
        """Read ONLY the given base partition directories (basePath-
        scoped), skipping the O(table partitions) listing a full
        ``_read_base()`` pays — the compaction-path read (the COW twin
        is UpsertTable._read_partition_dirs). Directories absent from
        the base (delta-only partitions) are skipped; if none exist an
        empty frame with the table schema returns."""
        from aws_glue_streaming_etl_with_apache_hudi_spark.operators.upsert import _hive_escape_part

        dirs = [
            os.path.join(
                self._base,
                *(
                    f"{c}={_hive_escape_part(v)}"
                    for c, v in zip(self.partition_by, values)
                ),
            )
            for values in parts
        ]
        dirs = [d for d in dirs if os.path.isdir(d)]
        if not dirs:
            return self._empty_frame()
        return self._read_base(dirs)

    def _read_base(self, dirs: list[str] | None = None) -> DataFrame:
        """The base (or the given partition directories of it) read with
        the PERSISTED (evolved-union) schema, not footer inference: after
        a schema-evolving delta and a PARTIAL compaction the base holds
        files with different column sets, and single-footer inference
        silently DROPPED the evolved columns' stored values (r13 repro:
        an int column written by the compacted partition vanished from
        read()). The explicit schema null-fills files that predate a
        column and types partition-dir tokens directly. A column whose
        type changed since the base was written is read in its base type
        and cast to the table's."""
        meta = self._meta()
        table = T.StructType.fromJson(json.loads(meta["schema"]))
        written = {f.name: f.dataType for f in self._base_types(meta)}
        reader = self.spark.read.schema(
            T.StructType(
                [
                    T.StructField(f.name, written.get(f.name, f.dataType), f.nullable, f.metadata)
                    for f in table.fields
                ]
            )
        )
        if dirs is None:
            df = reader.parquet(self._base)
        else:
            df = reader.option("basePath", self._base).parquet(*dirs)
        if not written:
            return df
        return conform(df, {c: table[c].dataType for c in df.columns})

    def _delta_schema(self, seq: int) -> T.StructType | None:
        """The schema recorded when delta ``seq`` was published (its own,
        ``_deleted`` included); None for a delta published before
        schemas were recorded. The table schema would not do: it lacks
        ``_deleted``, and columns added by later commits."""
        try:
            with open(self._done_path(seq)) as f:
                recorded = json.load(f).get("schema")
        except FileNotFoundError:
            return None
        return T.StructType.fromJson(json.loads(recorded)) if recorded else None

    def _read_delta(self, seq: int) -> DataFrame:
        """Delta ``seq`` read alone, with its recorded schema; a delta
        without one has its schema inferred from its footer (one Spark
        job). ``_read_deltas`` falls back to this read."""
        schema = self._delta_schema(seq)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(os.path.join(self._log, f"commit={seq}"))

    def _read_deltas(self, seqs: list[int], seq_col: str) -> DataFrame:
        """Deltas ``seqs`` as one frame, each row tagged with its commit
        seq in ``seq_col``. Deltas whose markers record the same schema
        are ONE relation over their ``commit=N`` directories: with
        ``basePath`` at the log, ``commit`` is a partition column whose
        value is the seq, so k pending deltas of one schema plan one scan
        instead of a union of k. A relation opens at most Spark's
        parallel-listing threshold of directories, so building the frame
        lists files on the driver and starts no job. A delta with no
        recorded schema (a legacy writer), or one whose rows carry a
        ``commit`` column, is read alone. The groups unify in the order
        of their first seq, giving the columns, types and column order
        of a per-delta ``evolve_schema`` union."""
        groups: dict = {}
        for seq in sorted(seqs):
            schema = self._delta_schema(seq)
            if schema is None or "commit" in {n.lower() for n in schema.fieldNames()}:
                groups[seq] = (None, [seq])  # read alone
            else:
                groups.setdefault(schema.json(), (schema, []))[1].append(seq)
        listing = int(self.spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold"))
        frames = []
        for schema, group in groups.values():
            if schema is None:
                frames.append(self._read_delta(group[0]).withColumn(seq_col, F.lit(group[0])))
                continue
            reader = self.spark.read.schema(
                T.StructType(schema.fields + [T.StructField("commit", T.IntegerType())])
            ).option("basePath", self._log)
            for i in range(0, len(group), listing):
                dirs = [os.path.join(self._log, f"commit={s}") for s in group[i : i + listing]]
                frames.append(reader.parquet(*dirs).withColumnRenamed("commit", seq_col))
        merged = frames[0]
        for frame in frames[1:]:
            merged, frame = evolve_schema(merged, frame)
            merged = merged.unionByName(frame)
        return merged

    def _merge_logs(self, base: DataFrame | None, seqs: list[int]) -> DataFrame:
        """``base`` (rows tagged seq 0, or None for a replay of the log
        alone) merged with deltas ``seqs`` (``_read_deltas``): one keyed
        aggregation, the greatest (precombine, commit seq) winning.
        Serves every realtime read, the compaction merge and the
        time-travel replay."""
        if base is not None and not seqs:
            # Bootstrap, compaction and restore all write merged output,
            # so the base holds one tombstone-free row per identity: with
            # no delta pending it IS the state, and the keyed aggregation
            # would only shuffle it. Columns keep the merged read's order;
            # a meta schema saved by an older bootstrap may still list
            # `_deleted`, which the base reads as all-null and is dropped.
            base = _drop_tombstone_winners(base.drop(_SEQ))
            if self.merge_mode == "partial":
                base = base.select(*self._identity, *[c for c in base.columns if c not in self._identity])
            return base
        merged = self._read_deltas(seqs, _SEQ)
        if base is not None:
            base, merged = evolve_schema(base, merged)
            merged = base.unionByName(merged)
        if self.merge_mode == "partial":
            # column-wise latest non-null across base + every delta,
            # ordered by (precombine, commit seq) — one aggregation
            # folds the whole log, same cost shape as the overwrite path
            return partial_combine(
                merged, self._identity, self.precombine, tie_breakers=[_SEQ]
            )
        return _drop_tombstone_winners(
            precombine_latest(
                merged, self._identity, self.precombine, tie_breakers=[_SEQ]
            ).drop(_SEQ)
        )

    def read(self, as_of: int | None = None, where: str | None = None) -> DataFrame:
        """Table state — current, or time-traveled to instant ``as_of``.

        Current state: base ∪ pending deltas, merged on the fly. One
        keyed aggregation; the ``max_by`` ordering is (precombine,
        commit seq, …) so later commits win exact precombine ties —
        identical semantics to the COW merge's batch-wins rule, extended
        transitively across N pending deltas. Base rows carry seq 0
        (they are, by construction, older than any pending delta).

        Time travel (``as_of`` = a commit seq): commits are RETAINED in
        the log after compaction, so any instant down to the clean
        horizon is reconstructible. as_of at/after the last compaction
        reads base + the in-range pending deltas; as_of BEFORE it cannot
        use the (already newer) base, so the state is replayed from the
        commit log alone — commits 1..as_of, the same merge algebra
        (replaying commits the base already folded would be idempotent;
        an as_of below the base simply excludes the base side).
        """
        if where is not None:
            if as_of is None:
                return self.read_where(where)
            # historical reads bypass the (latest-state) index — a past
            # snapshot may hold matching rows in partitions the current
            # index prunes
            return self.read(as_of).filter(F.expr(where))
        if as_of is not None and self._is_legacy():
            # A pre-timeline table truncated its logs at compaction and
            # never logged its bootstrap: historical instants are not on
            # disk, and its commit numbering is shifted relative to the
            # timeline format. Refuse loudly rather than serve the
            # current base as if it were instant `as_of`.
            raise ValueError(
                "this table predates the commit timeline (no "
                "compacted_through in meta): time travel is unavailable; "
                "re-ingest or continue with read()"
            )
        through = self._compacted_through()
        if as_of is None or as_of >= through:
            pend = [
                s for s in self._log_commits() if as_of is None or s <= as_of
            ]
            return self._merge_logs(
                self._read_base().withColumn(_SEQ, F.lit(0)), pend
            )
        if self._cleaned_through() >= 1:
            raise ValueError(
                f"as_of={as_of} predates the clean horizon "
                f"({self._cleaned_through()}): replaying it requires commits "
                "1.. which the cleaner removed"
            )
        seqs = [s for s in self._committed_on_disk() if s <= as_of]
        if not seqs:
            raise ValueError(f"no commits at or before as_of={as_of}")
        return self._merge_logs(None, seqs)

    def read_optimized(self) -> DataFrame:
        """Hudi's read-optimized view: base only, no log merge — stale up
        to the last compaction but scan-speed identical to a plain table."""
        return self._read_base()

    def pending_commits(self) -> list[int]:
        """Delta commits not yet folded into the base (readable window
        for ``read_incremental``)."""
        return self._log_commits()

    def read_incremental(self, begin: int = 0, end: int | None = None) -> DataFrame:
        """Incremental query over the MOR delta log: latest state of
        every record upserted by commits in ``(begin, end]``, tagged
        ``_commit_id``. Scans only the in-range delta directories.

        Commits survive compaction (the base is a read-speed artifact;
        the retained log is the history), so an incremental consumer can
        lag arbitrarily behind the compactor — the same contract as
        ``TimelineTable.incremental``. The floor is the CLEAN horizon:
        ``begin`` below ``cleaned_through`` raises, because the cleaner
        removed those commits."""
        if begin < self._cleaned_through():
            raise ValueError(
                f"begin={begin} predates the clean horizon "
                f"({self._cleaned_through()}): those commits were cleaned"
            )
        commits = [
            c
            for c in self._committed_on_disk()
            if c > begin and (end is None or c <= end)
        ]
        if not commits:
            raise ValueError(
                f"no delta commits in ({begin}, {end if end is not None else '∞'}] "
                f"(on disk: {self._committed_on_disk()})"
            )
        return precombine_latest(
            self._read_deltas(commits, "_commit_id"),
            self._identity, self.precombine, tie_breakers=["_commit_id"],
        )


    # -- expression index (Hudi 1.0 parity, MOR leg) --------------------------
    #
    # Same compacted-snapshot sidecar as UpsertTable (`_fidx/<name>/
    # snapshot.parquet`, SnapshotSidecars), different maintenance
    # contract shaped by the log-structured write path:
    #
    # * a DELTA COMMIT absorbs the batch's (expression value, partition)
    #   pairs into the snapshot — an O(batch) distinct plus a driver
    #   splice. Entries only GROW between compactions: a superseded or
    #   tombstoned row's value lingers as a stale candidate, which is
    #   sound (candidates are a superset; read_for_expr re-applies the
    #   expression filter) and mirrors how Hudi's metadata table carries
    #   stats for not-yet-compacted file slices. Absorption runs under
    #   the meta micro-lock so concurrent NBCC publishes cannot lose
    #   each other's splices — the data path stays parallel, exactly
    #   like the timeline-server-serialized metadata commit in Hudi.
    # * COMPACTION rebuilds the folded partitions' entries exactly from
    #   the new base (stale values drain here), and heals an invalidated
    #   index with a full rebuild.
    # * RESTORE invalidates the index (state rewound under it): probes
    #   fall back to full scans until the next compaction or explicit
    #   build_functional_index. The `.invalid` marker makes the fallback
    #   explicit and crash-safe rather than serving wrong candidates.

    def _sidecar_table_schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self._meta()["schema"]))

    def _fidx_invalid_path(self, name: str) -> str:
        return os.path.join(self._fidx_dir(name), ".invalid")

    def _fidx_lock(self, timeout: float = 30.0):
        """Serializes snapshot splices across concurrent NBCC publishes
        (a read-modify-write on one file). A lock of its own — NOT the
        meta micro-lock — because the bootstrap path absorbs while
        already holding the meta lock, and CommitLock is not
        reentrant."""
        from aws_glue_streaming_etl_with_apache_hudi_spark.operators.locking import CommitLock

        root = os.path.join(self.path, "_fidx")
        os.makedirs(root, exist_ok=True)
        return CommitLock(root, timeout_s=timeout, ttl_s=120.0)

    def _fidx_invalidate(self, name: str) -> None:
        root = self._fidx_dir(name)
        os.makedirs(root, exist_ok=True)
        with open(self._fidx_invalid_path(name), "w") as f:
            f.write("rebuild via compact() or build_functional_index()")

    def _fidx_absorb(self, batch: DataFrame) -> None:
        """Fold one delta batch's expression values into each index
        snapshot (union with the touched partitions' existing entries,
        re-collapsed under the cap). A batch the expression cannot
        analyze against (pre-evolution schema) INVALIDATES the index —
        skipping it would silently lose the batch's rows from every
        future probe, the one failure mode pruning must never have."""
        if not self.functional_indexes:
            return
        pb = self.partition_by
        schema = {f.name: f.dataType for f in self._sidecar_table_schema().fields}
        with self._fidx_lock():
            for name, expr in self.functional_indexes.items():
                if os.path.isfile(self._fidx_invalid_path(name)):
                    continue  # already stale; compaction will heal it
                try:
                    vals = (
                        batch.select(F.expr(expr).alias("fval"), *pb)
                        .distinct()
                        .withColumn("fexact", F.lit(True))
                    )
                    touched = [
                        tuple(r) for r in vals.select(*pb).distinct().collect()
                    ]
                    root = self._fidx_dir(name)
                    snap = self._sidecar_read_snapshot(root, ["fval", "fexact"])
                    if snap is not None and touched:
                        # fold the touched partitions' EXISTING entries in
                        # (base rows still hold their values) before the
                        # cap re-collapse; untouched rows ride the splice
                        in_touched = {self._sidecar_tokens(v) for v in touched}
                        keep = [
                            t in in_touched
                            for t in self._sidecar_snap_tokens(snap)
                        ]
                        if any(keep):
                            import pyarrow as pa

                            old_touched = self._sidecar_frame_of(
                                snap.filter(pa.array(keep)), ["fval", "fexact"]
                            )
                            for p in pb:
                                if p in schema:
                                    old_touched = old_touched.withColumn(
                                        p, F.col(p).cast(schema[p])
                                    )
                            vals = vals.unionByName(
                                old_touched.select("fval", "fexact", *pb)
                            )
                    ok = self._sidecar_commit(
                        root,
                        self._fidx_entries(vals, self.fidx_max_values),
                        ["fval", "fexact"],
                        touched,
                    )
                    if not ok:
                        self._fidx_invalidate(name)
                except Exception:
                    self._fidx_invalidate(name)

    def _fidx_rebuild(self, touched: list[tuple] | None = None) -> None:
        """Recompute entries EXACTLY from the merged view (``touched``
        partitions, or the whole table) and clear any invalidation."""
        if not self.functional_indexes:
            return
        pb = self.partition_by
        src = self.read()
        with self._fidx_lock():
            for name, expr in self.functional_indexes.items():
                full = touched is None or os.path.isfile(
                    self._fidx_invalid_path(name)
                )
                try:
                    vals = (
                        src.select(F.expr(expr).alias("fval"), *pb)
                        .distinct()
                        .withColumn("fexact", F.lit(True))
                    )
                    if not full:
                        cond = None
                        for values in touched:
                            c = None
                            for col, v in zip(pb, values):
                                e = F.col(col).eqNullSafe(F.lit(v))
                                c = e if c is None else (c & e)
                            cond = c if cond is None else (cond | c)
                        vals = vals.filter(cond) if cond is not None else vals
                    ok = self._sidecar_commit(
                        self._fidx_dir(name),
                        self._fidx_entries(vals, self.fidx_max_values),
                        ["fval", "fexact"],
                        None if full else touched,
                    )
                    if ok and os.path.isfile(self._fidx_invalid_path(name)):
                        os.remove(self._fidx_invalid_path(name))
                    if not ok:
                        self._fidx_invalidate(name)
                except Exception:
                    self._fidx_invalidate(name)

    def build_functional_index(self, name: str, expr: str) -> None:
        """(Re)build index ``name`` on ``expr`` from current state — the
        backfill path for tables created before the declaration."""
        self.functional_indexes[name] = expr
        self._fidx_rebuild(touched=None)

    def _read_candidate_partitions(self, parts: list[tuple]) -> DataFrame:
        """The merged (real-time) view restricted to the given
        partitions: base directories listed for candidates only, pending
        deltas filtered to them BEFORE the merge (an unfiltered merge
        onto a restricted base could let a stale delta row of a pruned
        partition win and leak through a later row filter)."""
        pb = self.partition_by
        cond = None
        for values in parts:
            c = None
            for col, v in zip(pb, values):
                e = F.col(col).eqNullSafe(F.lit(v))
                c = e if c is None else (c & e)
            cond = c if cond is None else (cond | c)
        base = self._read_base_partitions(parts).withColumn(_SEQ, F.lit(0))
        return self._merge_logs(base, self._log_commits()).filter(cond)

    # -- compaction ----------------------------------------------------------
    def compact(
        self, zorder_by: list[str] | None = None, n_files: int = 8
    ) -> int:
        """Fold pending deltas into the base; returns #commits compacted.

        Only partitions PRESENT IN THE LOGS are rewritten (dynamic
        partition overwrite) — untouched base partitions are neither read
        nor written, so compaction cost scales with delta size, not table
        size. The merged view is computed once; the folded commits stay
        ON DISK (``compacted_through`` advances instead of truncating
        the log), keeping time travel and incremental pulls valid across
        the compaction — ``clean`` is the operation that actually
        removes history. A crash between base write and meta save
        replays the log onto an already-merged base — idempotent, same
        max_by winner.

        ``zorder_by`` runs the compaction as a clustering service (Hudi's
        inline clustering): the rewritten base files are Z-ordered on the
        given columns into ``n_files`` contiguous Z-ranges per rewrite
        (range exchange + within-partition sort — the COW ``cluster_write``
        layout), so post-compaction scans with predicates on those columns
        skip most files via row-group stats.
        """
        commits = self._log_commits()
        # NBCC guard: never fold past an unpublished claim — a writer
        # completing seq 5 after compaction folded through 6 would land
        # BELOW the compaction line and be excluded from every merge.
        # A crashed claim blocks compaction until fsck rolls it back —
        # exactly Hudi's failed-writer-rollback-before-compaction rule.
        inflight = self._inflight_claims()
        if inflight:
            commits = [c for c in commits if c < min(inflight)]
        if not commits:
            return 0
        retyped = bool(self._base_types(self._meta()))

        def _layout(df: DataFrame) -> DataFrame:
            if not zorder_by:
                return df
            from aws_glue_streaming_etl_with_apache_hudi_spark.operators.clustering import ZCOL, zorder_value

            return (
                df.withColumn(ZCOL, zorder_value(df, zorder_by, 8))
                .repartitionByRange(n_files, ZCOL)
                .sortWithinPartitions(ZCOL)
                .drop(ZCOL)
            )

        if self.partition_by:
            # touched partitions: distinct tuples across all pending deltas
            logs = self._read_deltas(commits, _SEQ).select(*self.partition_by)
            touched = [tuple(r) for r in logs.distinct().collect()]
            if retyped:
                # a column changed type since the base was written: every
                # base partition is rewritten in the table's types (the
                # COW `_retypes` rule), so no file keeps a type the
                # parquet reader might not read as the new one
                stored = self._read_base().select(*self.partition_by).distinct().collect()
                touched = list(dict.fromkeys(touched + [tuple(r) for r in stored]))
            # O(touched) merge: read ONLY the touched base partition
            # directories (basePath-scoped — no O(table partitions)
            # listing) and fold the pending deltas onto them. The first
            # cut did merged=self.read().filter(cond): the filter pruned
            # the SCAN but the InMemoryFileIndex still listed every
            # partition dir — measured 1.0/1.8/10.6 s at 40/400/4000
            # partitions for the same 5-partition delta; flat after.
            base_touched = self._read_base_partitions(touched)
            merged = self._merge_logs(
                base_touched.withColumn(_SEQ, F.lit(0)), commits
            )
            # dynamic overwrite: touched partitions only
            overwrite_writer(_layout(merged), self.partition_by).parquet(self._base)
        else:
            _layout(self.read()).write.mode("overwrite").parquet(self._base)

        meta = self._meta()
        meta["compacted_through"] = max(commits)
        if retyped:
            meta.pop("base_types", None)  # every base partition was rewritten
        meta.setdefault("timeline", []).append(
            {"seq": max(commits), "action": "compaction", "through": max(commits)}
        )
        self._save_meta(meta)
        # exact index rebuild for the folded partitions (stale absorbed
        # values drain here); a partitionless table folded everything
        self._fidx_rebuild(touched=touched if self.partition_by else None)
        self._sync_catalog(base_changed=True)
        return len(commits)

    def clean(self, through: int) -> int:
        """Remove folded delta commits ≤ ``through`` from the retained
        log — the operation that actually gives up history (compaction
        never does). Only commits the base already contains may be
        cleaned; time travel / incremental below the horizon raises
        afterwards (the same only-advancing horizon contract as
        ``TimelineTable.clean``). Returns #commits removed."""
        compacted = self._compacted_through()
        if through > compacted:
            raise ValueError(
                f"cannot clean through {through}: base only contains commits "
                f"≤ {compacted} (compact first)"
            )
        # Savepoints pin their read closure against cleaning. A savepoint
        # AT/AFTER the compaction point reads base + pending deltas — the
        # folded commits clean() removes are not part of its closure, so
        # no clamp is needed. A savepoint BELOW the compaction point is
        # served by log-only replay from commit 1 (read()'s contract), so
        # while one exists NOTHING may be cleaned.
        sps = [s["commit"] for s in self.savepoints()]
        if sps and min(sps) < compacted:
            return 0
        # Advance the horizon marker BEFORE deleting anything: a crash
        # mid-clean then leaves reads below the horizon conservatively
        # REFUSED (marker says gone, some dirs linger — harmless), never
        # silently partial (dirs gone, marker stale — reads would replay
        # an incomplete log as if complete). Same ordering rule as
        # TimelineTable.clean.
        meta = self._meta()
        meta["cleaned_through"] = max(meta.get("cleaned_through", 0), through)
        meta.setdefault("timeline", []).append(
            {"seq": through, "action": "clean", "through": through}
        )
        self._save_meta(meta)
        removed = 0
        for seq in self._log_commits_on_disk():
            if seq <= through:
                shutil.rmtree(
                    os.path.join(self._log, f"commit={seq}"), ignore_errors=True
                )
                self._remove_markers(seq)
                removed += 1
        return removed

    def fsck(self) -> dict:
        """Remove partial-write leftovers: log commit dirs at/above
        ``next_seq`` (a crash between the delta write and the meta save
        — unreadable, but accreting storage), restore staging/aside dirs
        (rolling an interrupted restore swap back or forward to a
        consistent read), and stale meta tmp files. Run offline, like
        compaction/clean. Returns the removed paths."""
        removed: dict = {"dirs": [], "tmp_files": [], "restored": []}
        next_seq = self._meta()["next_seq"] if self.exists() else 1
        # a crash during bootstrap leaves a base with no meta — unreadable
        if not self.exists() and os.path.isdir(self._base):
            shutil.rmtree(self._base, ignore_errors=True)
            removed["dirs"].append(self._base)
        for seq in self._log_commits_on_disk():
            if self._has_done(seq):
                continue  # NBCC-published (possibly above next_seq): live
            if self._has_inflight(seq) or seq >= next_seq:
                # crashed NBCC claim (fsck runs offline — no live writers)
                # or a crashed single-writer delta: roll it back
                full = os.path.join(self._log, f"commit={seq}")
                shutil.rmtree(full, ignore_errors=True)
                self._remove_markers(seq)
                removed["dirs"].append(full)
        # orphan instant markers (dir already gone) + a crashed writer's
        # metadata lock
        if os.path.isdir(self._instants):
            live = set(self._log_commits_on_disk())
            for name in os.listdir(self._instants):
                stem = name.split(".", 1)[0]
                if stem.isdigit() and int(stem) not in live:
                    p = os.path.join(self._instants, name)
                    try:
                        os.remove(p)
                        removed["tmp_files"].append(p)
                    except OSError:
                        pass
        meta_lock = os.path.join(self.path, "_commit.lock")
        if os.path.exists(meta_lock):
            try:
                os.remove(meta_lock)
                removed["tmp_files"].append(meta_lock)
            except OSError:
                pass
        # Interrupted restore. The intent marker written by restore() is
        # the authority on which repair is correct (a base-present check
        # alone cannot distinguish "swap never started" from "swap done,
        # meta update lost" — and for a rebuild restore the latter needs
        # the META finished, not just the directories tidied, or reads
        # merge post-compaction logs onto the rolled-back base):
        # - intent phase="begin": the pre-restore base is authoritative —
        #   roll BACK (restore aside if the base is missing, drop the
        #   staging copy, clear the intent; the operator re-runs restore);
        # - intent phase="swapped": the restored state is authoritative —
        #   roll FORWARD (promote staging if the base rename itself was
        #   lost, then finish the log drops and meta update via the same
        #   _finish_restore the operator runs, clear the intent);
        # - no intent (legacy crash): EITHER full copy is consistent but
        #   the meta was certainly not updated — prefer rolling back to
        #   the aside copy, the guaranteed pre-restore state.
        staging = self._base + ".restore_tmp"
        aside = self._base + ".restore_old"
        intent = self._restore_intent() if self.exists() else None
        if intent is not None and intent.get("phase") == "swapped":
            if not os.path.isdir(self._base) and os.path.isdir(staging):
                os.rename(staging, self._base)
                removed["restored"].append(staging)
            self._finish_restore(int(intent["commit"]), bool(intent["rebuild"]))
            removed["restored"].append(self._restore_intent_path)
            self._clear_restore_intent()
        elif self.exists():
            # phase="begin" or legacy no-intent: pre-restore state wins
            if os.path.isdir(aside):
                if os.path.isdir(self._base):
                    shutil.rmtree(self._base, ignore_errors=True)
                os.rename(aside, self._base)
                removed["restored"].append(aside)
            elif not os.path.isdir(self._base) and os.path.isdir(staging):
                # legacy delete-then-rename crash with no aside copy: the
                # staging dir is the only base on disk — promote it; meta
                # was never updated, so the still-present newer logs merge
                # back to the pre-restore read
                os.rename(staging, self._base)
                removed["restored"].append(staging)
            if intent is not None:
                removed["restored"].append(self._restore_intent_path)
                self._clear_restore_intent()
        for leftover in (aside, staging):
            if os.path.isdir(leftover):
                shutil.rmtree(leftover, ignore_errors=True)
                removed["dirs"].append(leftover)
        tmp = self._meta_path + ".tmp"
        if os.path.exists(tmp):
            try:
                os.remove(tmp)
                removed["tmp_files"].append(tmp)
            except OSError:
                pass
        return removed

    def _sync_catalog(self, base_changed: bool = False) -> None:
        """Hudi MOR's hive-sync registers a table PAIR: ``<name>_rt``
        (realtime: base+log merged at read time — necessarily a view,
        no static file listing can express the merge) and ``<name>_ro``
        (read-optimized: base files only — a REAL external table that
        other sessions and engines scan at plain-parquet speed, stale
        up to the last compaction). The plain name aliases the realtime
        view; compaction advances what ``_ro`` serves."""
        if not self.table_name:
            return
        rt = self.read()
        rt.createOrReplaceTempView(self.table_name)
        rt.createOrReplaceTempView(f"{self.table_name}_rt")
        from aws_glue_streaming_etl_with_apache_hudi_spark import catalog as _catalog

        # The base (and thus _ro's partitions) changes only on first write
        # and at compaction — delta commits must not pay an O(partitions)
        # recoverPartitions each.
        if not base_changed and self.spark.catalog.tableExists(
            f"{self.table_name}_ro"
        ):
            return
        try:
            _catalog.sync_external_table(
                self.spark,
                f"{self.table_name}_ro",
                os.path.abspath(self._base),
                self._read_base().schema,
                list(self.partition_by),
                touched=None,
            )
        except Exception:
            self.read_optimized().createOrReplaceTempView(f"{self.table_name}_ro")


def mor_merge_view(
    base: DataFrame,
    deltas: list[DataFrame],
    keys: list[str],
    precombine: str,
) -> DataFrame:
    """The MOR read-side merge as a pure transform (no IO): base ∪ ordered
    deltas → one ``max_by`` per key, later deltas winning precombine ties.
    This is the algebra ``MergeOnReadTable.read`` executes; exposed for
    the batch query surface and the DuckDB oracle."""
    merged = base.withColumn(_SEQ, F.lit(0))
    for i, d in enumerate(deltas, start=1):
        merged = merged.unionByName(d.withColumn(_SEQ, F.lit(i)), allowMissingColumns=True)
    return precombine_latest(merged, keys, precombine, tie_breakers=[_SEQ]).drop(_SEQ)
