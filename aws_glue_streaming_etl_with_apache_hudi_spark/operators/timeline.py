"""Commit timeline: time travel, incremental pull, and a CDC change feed
for the keyed upsert table.

Hudi's defining storage feature is the ``.hoodie`` commit timeline: every
upsert is an *instant*, and the table supports three query types over it
(all delegated to the connector in the reference — the COW write at
``glue_job_script.py:53-62`` produces the timeline; Spark/Athena query it):

- **snapshot** (optionally *as of* an instant — time travel),
- **incremental** (records upserted between two instants),
- **CDC** (row-level change classification between instants).

``TimelineTable`` is that design, pure Spark, layered on the same
key/precombine/partition semantics as ``operators.upsert.UpsertTable``:

layout::

    path/snapshots/commit=N/<hive partitions>   merged state of the
                                                partitions TOUCHED by
                                                commit N (COW file groups)
    path/deltas/commit=N/                       the precombined batch of
                                                commit N (incremental log)
    path/_timeline/000N.json                    instant metadata: wall ts,
                                                touched partitions, schema

Key design point — **file-group reuse**: commit N only rewrites the
partitions its batch touches; untouched partitions remain *owned* by the
last commit that wrote them. A snapshot as-of C therefore stitches, per
partition, the newest ``snapshots/commit=K`` with K ≤ C that touched it —
exactly Hudi's "latest file slice per file group as of instant" rule,
with the partition as the file group. Snapshot reads are pruned unions of
partitioned Parquet (predicate/partition pushdown intact); no merge work
on the read path (COW, not MOR).

Scale: timeline metadata is O(commits × touched partitions) JSON — the
same order as Hudi's timeline; data IO per commit is O(touched
partitions), and incremental reads scan only the delta files in range
(this is the 100 TB win: a consumer pulling "what changed since instant
T" reads megabytes of deltas, never the table).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_glue_streaming_etl_with_apache_hudi_spark.operators.schema_evolution import evolve_schema
from aws_glue_streaming_etl_with_apache_hudi_spark.operators.upsert import (
    _hive_escape_part,
    _part_str,
    overwrite_writer,
    precombine_latest,
)

COMMIT_COL = "_commit_id"


class CommitConflict(RuntimeError):
    """Another writer committed to an overlapping partition after this
    writer's base instant (OCC validation failure) — re-read and retry."""
CHANGE_COL = "_change_type"
DELETED_COL = "_deleted"
# Hudi's public per-record soft-delete field: a boolean column IN the
# incoming batch (not an API call) marking rows to delete within an
# ordinary upsert commit — the only way a foreachBatch stream can carry
# deletes without a second write path.
HOODIE_DELETE_MARKER = "_hoodie_is_deleted"

# Spark writes null partition values as this directory name (Hive
# convention); timeline metadata stores the same sentinel so the
# partition->owner map survives the round trip.
_NULL_PART = "__HIVE_DEFAULT_PARTITION__"


def _part_token(v) -> str:
    # _part_str, not str() (r10, the ADVICE-r9 render class): the token
    # is compared against Spark's cast-to-string in _partition_filter
    # and against Spark-written directory names in the catalog sync — a
    # Python-side render ('True', '...00.500000') would silently match
    # NOTHING for boolean / fractional-second-timestamp partitions,
    # excluding the stored rows from the merge (the same row-loss class
    # _part_str fixed in the COW table).
    return _NULL_PART if v is None else _part_str(v)


def _has_parquet(d: str) -> bool:
    for root, _dirs, files in os.walk(d):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


@dataclass
class TimelineTable:
    """COW upsert table with a queryable commit timeline.

    Same identity semantics as ``UpsertTable`` (one live row per record
    key per partition path; greatest precombine wins, incoming batch wins
    exact ties — glue_job_script.py:55-58), plus instants.
    """

    spark: SparkSession
    path: str
    keys: list[str]
    precombine: str
    partition_by: list[str] = field(default_factory=list)
    table_name: str | None = None
    # Optimistic concurrency control: serialize the read-merge-write
    # commit section across writers (operators/locking.py). The
    # reference avoids the issue with MaxConcurrentRuns: 1
    # (…Template.yaml:282-285); multi-writer tables need the lock.
    lock_commits: bool = False

    # -- layout -------------------------------------------------------------
    @property
    def _timeline_dir(self) -> str:
        return os.path.join(self.path, "_timeline")

    def _snapshot_dir(self, commit: int) -> str:
        return os.path.join(self.path, "snapshots", f"commit={commit}")

    def _data_dir(self, commit: int, instants: list[dict] | None = None) -> str:
        """Directory holding this instant's full-partition data files: the
        snapshot dir, or the external location for a metadata-only
        bootstrap instant (whose files were adopted in place)."""
        for c in instants if instants is not None else self.commits():
            if c["commit"] == commit and c.get("location"):
                return c["location"]
        return self._snapshot_dir(commit)

    def _delta_dir(self, commit: int) -> str:
        return os.path.join(self.path, "deltas", f"commit={commit}")

    def commits(self) -> list[dict]:
        """Ordered instant metadata — the readable timeline."""
        if not os.path.isdir(self._timeline_dir):
            return []
        out = []
        for name in sorted(os.listdir(self._timeline_dir)):
            # instants only (NNNNNN.json) — skips _clean.json horizon marker
            if name.endswith(".json") and name[:-5].isdigit():
                with open(os.path.join(self._timeline_dir, name)) as f:
                    out.append(json.load(f))
        return out

    @property
    def _clean_meta_path(self) -> str:
        return os.path.join(self._timeline_dir, "_clean.json")

    def clean_horizon(self) -> int:
        """Oldest instant still fully readable (time-travel floor).

        0 when the table has never been cleaned. Persisted by ``clean()``
        — Hudi keeps the same fact as the earliest retained instant on
        its timeline and FAILS time-travel below it; without persistence
        a read below the horizon silently stitches partial state from
        whatever snapshot dirs the cleaner happened to leave live."""
        try:
            with open(self._clean_meta_path) as f:
                return int(json.load(f)["horizon"])
        except (OSError, ValueError, KeyError):
            return 0

    def last_commit(self) -> int:
        cs = self.commits()
        return cs[-1]["commit"] if cs else 0

    def _save_instant(self, meta: dict) -> None:
        # Local-FS atomic rename; cluster deployments swap in the Hadoop
        # FileSystem API (same temp+rename contract).
        os.makedirs(self._timeline_dir, exist_ok=True)
        final = os.path.join(self._timeline_dir, f"{meta['commit']:06d}.json")
        tmp = final + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, final)

    @property
    def _identity(self) -> list[str]:
        return [c for c in self.partition_by if c not in self.keys] + self.keys

    # -- write path ---------------------------------------------------------
    def upsert(self, batch: DataFrame) -> int:
        """Commit one batch; returns the new instant id.

        Writes (a) the delta (precombined batch) for incremental readers
        and (b) merged snapshots of ONLY the touched partitions.

        Batches may carry Hudi's public soft-delete marker
        ``_hoodie_is_deleted`` (boolean): marker-true rows are tombstones
        committed IN THE SAME instant as the batch's upserts — the
        contract that lets a single micro-batch stream mix inserts,
        updates and deletes (glue_job_script.py:105-109 writes
        ``hoodie.datasource.write.operation=upsert``; Hudi routes
        marker-true rows to the delete path of that same upsert).
        Tombstones obey precombine ordering like any record: a stale
        delete (older precombine than the stored row) loses the merge
        and deletes nothing, so CDC replay order cannot corrupt state."""
        if HOODIE_DELETE_MARKER in batch.columns:
            batch = batch.withColumn(
                DELETED_COL,
                F.coalesce(F.col(HOODIE_DELETE_MARKER), F.lit(False)),
            ).drop(HOODIE_DELETE_MARKER)
        batch = precombine_latest(batch, self._identity, self.precombine)
        return self._commit_delta(batch)

    def delete(self, keys_batch: DataFrame) -> int:
        """Ordered delete (tombstone commit): rows matching the record
        keys are removed IF the tombstone's precombine value wins the
        merge — late/stale deletes lose, exactly like late upserts, so
        CDC replay order cannot corrupt state. ``keys_batch`` must carry
        identity + precombine columns (Hudi delete records carry their
        partition path and ordering value too).

        The tombstone is a first-class delta: incremental readers see the
        deleted keys flagged ``_deleted=true`` and ``changes()`` emits
        ``delete`` — without tombstoned deltas, a downstream replica can
        never drop a row."""
        needed = self._identity + [self.precombine]
        missing = [c for c in needed if c not in keys_batch.columns]
        if missing:
            raise ValueError(f"delete batch missing columns {missing}")
        tomb = keys_batch.select(*needed).withColumn(DELETED_COL, F.lit(True))
        tomb = precombine_latest(tomb, self._identity, self.precombine)
        return self._commit_delta(tomb, operation="delete")

    def insert_overwrite(self, batch: DataFrame) -> int:
        """Partition-level overwrite — Hudi's ``insert_overwrite``
        operation / *replacecommit* instant: every partition the batch
        touches is REPLACED by the batch's rows (precombined within the
        batch only; stored rows in those partitions are discarded, not
        merged), while untouched partitions keep their current owner.
        The backfill/restatement write path: recompute one day's
        partition upstream and swap it in atomically without replaying
        per-key deletes.

        Timeline semantics match the merge path: the instant owns its
        touched partitions (snapshot stitching picks it up like any
        commit), time travel below it still sees the replaced rows, and
        rollback removes the replacement wholesale. Incremental readers
        see the NEW rows as the commit's delta; rows that vanished by
        replacement are not tombstoned row-by-row (same contract as
        Hudi's replacecommit, where ``changes()`` over a replace needs a
        snapshot diff instead of the delta log).

        Scale: IO is O(batch + written partitions) — no read-merge of
        stored state at all, which is what makes partition restatement
        of a 100 TB table cheap."""
        batch = precombine_latest(batch, self._identity, self.precombine)
        return self._commit_delta(batch, operation="replace")

    def upsert_occ(self, batch: DataFrame, base: int | None = None) -> int:
        """Multi-writer upsert under true optimistic concurrency control
        (Hudi's ``optimistic_concurrency_control`` with early conflict
        detection): the EXPENSIVE phase — precombine, read-merge against
        the snapshot this writer started from, snapshot write — runs
        entirely OUTSIDE the lock into a private staging directory; the
        lock is held only for validate-and-publish, which is two renames
        and one metadata write. Writers touching DISJOINT partitions
        therefore commit concurrently (their merge work overlaps in
        time); writers overlapping on a partition raise
        :class:`CommitConflict` — the caller re-reads and retries, never
        silently losing the other writer's rows.

        Contrast ``lock_commits=True``, which serializes whole
        read-merge-write cycles: correct, but writer throughput is
        1/commit-latency. At 100 TB with per-partition ingest writers,
        OCC is the difference between N parallel writers and a queue.

        ``base`` is the instant this writer's read view started from
        (default: the current last commit) — the snapshot-isolation
        handle a long-running writer carries so validation is against
        what it actually read, not against whatever is newest when its
        merge finally finishes.
        """
        import shutil
        import uuid

        from aws_glue_streaming_etl_with_apache_hudi_spark.operators.locking import CommitLock

        if base is None:
            base = self.last_commit()
        delta = precombine_latest(batch, self._identity, self.precombine)
        touched = (
            [
                [_part_token(v) for v in row]
                for row in delta.select(*self.partition_by).distinct().collect()
            ]
            if self.partition_by
            else [[]]
        )
        staging = os.path.join(self.path, "_occ_staging", uuid.uuid4().hex)
        delta.write.mode("overwrite").parquet(os.path.join(staging, "delta"))
        delta = self.spark.read.parquet(os.path.join(staging, "delta"))
        if base == 0:
            merged = delta
        else:
            stored = self.read(as_of=base)
            if self.partition_by:
                stored = stored.filter(self._partition_filter(stored, touched))
            stored, delta = evolve_schema(stored, delta)
            tagged = stored.withColumn("_src", F.lit(0)).unionByName(
                delta.withColumn("_src", F.lit(1))
            )
            merged = precombine_latest(
                tagged, self._identity, self.precombine, tie_breakers=["_src"]
            ).drop("_src")
        if DELETED_COL in merged.columns:
            merged = merged.filter(
                ~F.coalesce(F.col(DELETED_COL), F.lit(False))
            ).drop(DELETED_COL)
        overwrite_writer(merged, self.partition_by).parquet(
            os.path.join(staging, "snapshot")
        )
        my_schema = merged.schema

        with CommitLock(self.path):
            mine = {tuple(p) for p in touched}
            # Two conflict classes (ADVICE r6): (1) data overlap — a
            # later instant touched one of this writer's partitions; (2)
            # schema mapping — a later rename/drop instant. The second
            # conflicts REGARDLESS of partitions: this writer's staged
            # snapshot was written under pre-mapping names, and because
            # the snapshot publishes at a commit NEWER than the mapping
            # instant, _apply_renames would never map it — the table
            # would end up with the old and new column both live (or a
            # dropped column resurrected via the schema union below).
            # Remapping inside the lock would mean rewriting the staged
            # parquet under the lock, which is exactly what OCC exists
            # to avoid — so mappings conflict and the caller retries
            # from a post-mapping base.
            conflicts, mapping_conflicts = [], []
            for c in self.commits():
                if c["commit"] <= base:
                    continue
                if c.get("renames") or c.get("operation") in (
                    "rename_column",
                    "drop_column",
                ):
                    mapping_conflicts.append(c["commit"])
                elif mine & {tuple(p) for p in c["touched_partitions"]}:
                    conflicts.append(c["commit"])
            if conflicts or mapping_conflicts:
                shutil.rmtree(staging, ignore_errors=True)
                parts = []
                if conflicts:
                    parts.append(
                        f"instants {conflicts} touched this writer's "
                        "partitions"
                    )
                if mapping_conflicts:
                    parts.append(
                        f"schema-mapping instants {mapping_conflicts} "
                        "(rename/drop) changed column identity"
                    )
                raise CommitConflict(
                    f"{' and '.join(parts)} after base {base}; re-read "
                    "and retry"
                )
            commit = self.last_commit() + 1
            # a concurrent non-conflicting commit may have evolved the
            # schema additively; the published schema is the UNION so the
            # as-of projection never hides its columns
            instants = self.commits()
            fields = list(my_schema.fields)
            if instants:
                latest = T.StructType.fromJson(json.loads(instants[-1]["schema"]))
                have = {f.name for f in fields}
                fields += [f for f in latest.fields if f.name not in have]
            os.makedirs(os.path.dirname(self._delta_dir(commit)), exist_ok=True)
            os.makedirs(os.path.dirname(self._snapshot_dir(commit)), exist_ok=True)
            os.replace(os.path.join(staging, "delta"), self._delta_dir(commit))
            os.replace(os.path.join(staging, "snapshot"), self._snapshot_dir(commit))
            shutil.rmtree(staging, ignore_errors=True)
            self._save_instant(
                {
                    "commit": commit,
                    "operation": "upsert",
                    "ts": time.time(),
                    "touched_partitions": touched,
                    "schema": T.StructType(fields).json(),
                }
            )
            self._sync_catalog()
            return commit

    def insert_overwrite_table(self, batch: DataFrame) -> int:
        """Hudi's ``insert_overwrite_table``: one replacecommit that
        restates the ENTIRE table as the batch (CTAS-refresh semantics).
        Unlike ``insert_overwrite`` — which only replaces the partitions
        the batch touches — this instant takes ownership of every
        currently-live partition too, so partitions absent from the
        batch are emptied (ownership with no files, the delete_partition
        mechanism). Still time-travelable and rollback-able like any
        instant, and incremental readers see the batch as the delta.

        Scale: IO is O(batch); prior state is disowned via metadata,
        never read or rewritten."""
        batch = precombine_latest(batch, self._identity, self.precombine)
        if not self.partition_by:
            return self._commit_delta(batch, operation="replace")
        live: set[tuple] = set()
        for inst in self.commits():
            for p in inst["touched_partitions"]:
                live.add(tuple(p))
        new_parts = {
            tuple(_part_token(v) for v in row)
            for row in batch.select(*self.partition_by).distinct().collect()
        }
        extra = [list(p) for p in sorted(live - new_parts)]
        # extras ride the SAME instant write (single atomic _save_instant):
        # a crash can only ever show all-or-nothing of the restatement
        if self.lock_commits:
            from aws_glue_streaming_etl_with_apache_hudi_spark.operators.locking import CommitLock

            with CommitLock(self.path):
                return self._commit_delta_unlocked(
                    batch, operation="replace", extra_touched=extra
                )
        return self._commit_delta_unlocked(
            batch, operation="replace", extra_touched=extra
        )

    def delete_partition(self, partitions: list[dict]) -> int:
        """Hudi's ``delete_partition`` operation (a *replacecommit* with
        zero rows): drop whole partitions without reading, tombstoning,
        or rewriting any of their rows. Retention/GDPR-erasure write
        path: `delete()` costs a per-key merge of the touched
        partitions; this costs one metadata write regardless of how many
        billions of rows the partitions hold.

        Mechanics: the new instant takes OWNERSHIP of the listed
        partitions but materializes no snapshot files for them, so the
        per-partition owner map resolves them to an empty scan.
        Timeline semantics match every other instant: time travel below
        the commit still reads the dropped rows, rollback() restores
        them wholesale, and incremental readers see no new records
        (same contract as Hudi, where a replacecommit's removals are
        not row-level change records).

        ``partitions`` is a list of dicts, each mapping EVERY partition
        column to a value, e.g. ``[{"year": 2023, "month": 1}]``.
        """
        if not self.partition_by:
            raise ValueError("delete_partition requires a partitioned table")
        instants = self.commits()
        if not instants:
            raise ValueError("delete_partition on an empty timeline")
        touched = []
        for p in partitions:
            missing = [c for c in self.partition_by if c not in p]
            if missing:
                raise ValueError(
                    f"partition spec {p!r} missing partition columns {missing}"
                )
            touched.append([_part_token(p[c]) for c in self.partition_by])
        if not touched:
            raise ValueError("delete_partition needs at least one partition")

        if self.lock_commits:
            from aws_glue_streaming_etl_with_apache_hudi_spark.operators.locking import CommitLock

            with CommitLock(self.path):
                return self._delete_partition_unlocked(instants, touched)
        return self._delete_partition_unlocked(instants, touched)

    def _delete_partition_unlocked(
        self, instants: list[dict], touched: list[list[str]]
    ) -> int:
        commit = self.last_commit() + 1
        schema = T.StructType.fromJson(json.loads(instants[-1]["schema"]))
        # Empty delta: incremental readers correctly see no new records
        # (compact() establishes the same empty-delta replace pattern).
        self.spark.createDataFrame([], schema).write.mode("overwrite").parquet(
            self._delta_dir(commit)
        )
        # Deliberately NO snapshot write: read() skips parquet-less data
        # dirs, so owning a partition with no files IS the deletion.
        self._save_instant(
            {
                "commit": commit,
                "operation": "delete_partition",
                "ts": time.time(),
                "touched_partitions": touched,
                "schema": schema.json(),
            }
        )
        self._sync_catalog()
        return commit

    def bootstrap(self, location: str) -> int:
        """Metadata-only adoption of an existing parquet dataset (Hudi's
        bootstrap operation): registers ``location`` as the table's first
        instant WITHOUT copying or rewriting a byte — at 100 TB, adopting
        the table format must not cost a full rewrite. The files stay
        where they are; the instant records the external location and the
        partition list, and every table service then works: snapshot and
        time-travel reads stitch the location like any owning commit,
        upserts rewrite only touched partitions (into normal snapshot
        dirs — the adopted files are never modified), incremental pull
        treats the bootstrap instant's records as commit 1's, and
        clean/rollback never delete the external location (they only ever
        remove ``snapshots/``/``deltas/`` dirs under the table path).

        Requirements: the table has no commits yet, and ``location`` is
        (for a partitioned table) Hive-partitioned by the same columns.
        """
        if self.commits():
            raise ValueError("bootstrap requires an empty table (no commits)")
        if not os.path.isdir(location):
            raise ValueError(f"bootstrap location not found: {location}")
        df = self.spark.read.parquet(location)
        needed = list(self.partition_by) + [
            c for c in self.keys if c not in self.partition_by
        ] + [self.precombine]
        missing = [c for c in needed if c not in df.columns]
        if missing:
            raise ValueError(f"bootstrap location lacks table columns: {missing}")
        touched = (
            [
                [_part_token(v) for v in row]
                for row in df.select(*self.partition_by).distinct().collect()
            ]
            if self.partition_by
            else [[]]
        )
        # the bootstrap instant owns its records via the external location;
        # the delta dir exists but is empty (incremental() special-cases
        # the operation and reads the location instead)
        self.spark.createDataFrame([], df.schema).write.mode("overwrite").parquet(
            self._delta_dir(1)
        )
        self._save_instant(
            {
                "commit": 1,
                "operation": "bootstrap",
                "ts": time.time(),
                "touched_partitions": touched,
                "schema": df.schema.json(),
                "location": os.path.abspath(location),
            }
        )
        self._sync_catalog()
        return 1

    def history(self, include_archived: bool = False) -> DataFrame:
        """The timeline as a queryable DataFrame (Hudi ``show commits`` /
        Delta ``DESCRIBE HISTORY``): one row per instant with its
        operation, wall-clock time, and touched-partition count.
        ``include_archived=True`` unions the archived timeline (Hudi's
        ``show archived commits``)."""
        instants = self.commits()
        if include_archived:
            active = {c["commit"] for c in instants}
            instants = sorted(
                [a for a in self.archived() if a["commit"] not in active]
                + instants,
                key=lambda c: c["commit"],
            )
        rows = [
            (
                c["commit"],
                c.get("operation", "upsert"),
                float(c["ts"]),
                len(c["touched_partitions"]),
            )
            for c in instants
        ]
        return self.spark.createDataFrame(
            rows, "commit INT, operation STRING, wall_ts DOUBLE, n_partitions INT"
        )

    # -- timeline archival (Hudi archived timeline) --------------------------

    @property
    def _archive_path(self) -> str:
        return os.path.join(self._timeline_dir, "_archive.jsonl")

    def archived(self) -> list[dict]:
        """Instants moved off the active timeline, oldest first. Dedupes
        by commit id — the archive-then-delete crash window can leave an
        instant briefly in both places, and either copy is identical."""
        if not os.path.exists(self._archive_path):
            return []
        seen: set = set()
        out = []
        with open(self._archive_path) as f:
            for line in f:
                if not line.strip():
                    continue
                inst = json.loads(line)
                if inst["commit"] not in seen:
                    seen.add(inst["commit"])
                    out.append(inst)
        return sorted(out, key=lambda c: c["commit"])

    def archive_timeline(self) -> dict:
        """Move no-longer-consulted instants to the append-only archive
        log — Hudi's timeline archival. Without it the active timeline
        (one metadata file per commit, ALL read on every ``commits()``
        call) grows with table lifetime; at one commit a minute that is
        half a million files a year, and every read/plan pays the
        listing. Archival bounds active metadata to O(retained history).

        An instant must STAY active while anything still consults it:
        - at/above the clean horizon (time travel / incremental range);
        - the final owner of any live partition (the cleaner keeps the
          newest owning snapshot <= horizon live; ``read`` resolves data
          through its metadata — location, partition list);
        - a column-mapping instant (``renames``): retained owners older
          than it still map their files forward through its entry.
        Everything else below the horizon is archival-safe: reads refuse
        those as_ofs already (clean() vacuumed their files).

        Crash safety: append+fsync to the archive log FIRST, then delete
        the active instant files — a crash in between leaves the instant
        in both places, which ``archived()`` dedupes and a re-run
        converges (already-archived commits are skipped on append).

        Returns {"archived": [ids]}."""
        horizon = self.clean_horizon()
        instants = self.commits()
        if horizon <= 0 or len(instants) <= 1:
            return {"archived": []}
        # Liveness mirrors clean() exactly: per partition, every owning
        # commit > horizon stays consulted by some retained as_of, and so
        # does the NEWEST owning commit <= horizon (read(as_of) for as_of
        # in [horizon, next rewrite) resolves the partition through it
        # even when the partition is rewritten again later — archiving
        # only the globally-newest owner would silently drop the
        # partition from those valid time-travel reads).
        live_owners: set = set()
        if self.partition_by:
            owners: dict[tuple, list[int]] = {}
            for inst in instants:
                for p in inst["touched_partitions"]:
                    owners.setdefault(tuple(p), []).append(inst["commit"])
            for commits_for_part in owners.values():
                at_or_before = [c for c in commits_for_part if c <= horizon]
                if at_or_before:
                    live_owners.add(max(at_or_before))
                live_owners.update(c for c in commits_for_part if c > horizon)
        else:
            data = [
                c["commit"] for c in instants
                if c.get("operation") not in ("rename_column", "drop_column")
            ]
            at_or_before = [c for c in data if c <= horizon]
            if at_or_before:
                live_owners.add(max(at_or_before))
            live_owners.update(c for c in data if c > horizon)
        already = {a["commit"] for a in self.archived()}
        to_archive = [
            c
            for c in instants
            if c["commit"] < horizon
            and c["commit"] not in live_owners
            and not c.get("renames")
        ]
        if not to_archive:
            return {"archived": []}
        with open(self._archive_path, "a") as f:
            for c in to_archive:
                if c["commit"] not in already:
                    f.write(json.dumps(c) + "\n")
            f.flush()
            os.fsync(f.fileno())
        for c in to_archive:
            try:
                os.remove(
                    os.path.join(self._timeline_dir, f"{c['commit']:06d}.json")
                )
            except FileNotFoundError:
                pass
        return {"archived": [c["commit"] for c in to_archive]}

    def _commit_delta(self, delta_batch: DataFrame, operation: str = "upsert") -> int:
        if self.lock_commits:
            from aws_glue_streaming_etl_with_apache_hudi_spark.operators.locking import CommitLock

            with CommitLock(self.path):
                return self._commit_delta_unlocked(delta_batch, operation)
        return self._commit_delta_unlocked(delta_batch, operation)

    def _commit_delta_unlocked(
        self,
        delta_batch: DataFrame,
        operation: str = "upsert",
        extra_touched: list[list[str]] | None = None,
    ) -> int:
        commit = self.last_commit() + 1

        touched = (
            [
                [_part_token(v) for v in row]
                for row in delta_batch.select(*self.partition_by).distinct().collect()
            ]
            if self.partition_by
            else [[]]
        )
        if extra_touched:
            # ownership WITHOUT files (insert_overwrite_table disowning
            # stale partitions): listed in the instant, no snapshot data
            touched = touched + [p for p in extra_touched if p not in touched]

        delta_batch.write.mode("overwrite").parquet(self._delta_dir(commit))
        # Re-read the delta so snapshot merge + downstream plans scan the
        # compact written file, not the batch's upstream lineage.
        delta = self.spark.read.parquet(self._delta_dir(commit))

        if commit == 1 or operation == "replace":
            # first commit owns its partitions outright; a replacecommit
            # does too BY DEFINITION (insert_overwrite discards stored
            # rows of touched partitions instead of merging them)
            merged = delta
        else:
            stored = self.read()
            if self.partition_by:
                cond = self._partition_filter(stored, touched)
                stored = stored.filter(cond)
            stored, delta = evolve_schema(stored, delta)
            tagged = stored.withColumn("_src", F.lit(0)).unionByName(
                delta.withColumn("_src", F.lit(1))
            )
            merged = precombine_latest(
                tagged, self._identity, self.precombine, tie_breakers=["_src"]
            ).drop("_src")
        if DELETED_COL in merged.columns:
            # tombstone winners vanish from the snapshot (COW delete);
            # losers (stale deletes) were already dropped by the merge
            merged = merged.filter(
                ~F.coalesce(F.col(DELETED_COL), F.lit(False))
            ).drop(DELETED_COL)

        overwrite_writer(merged, self.partition_by).parquet(self._snapshot_dir(commit))

        self._save_instant(
            {
                "commit": commit,
                "operation": operation,
                "ts": time.time(),
                "touched_partitions": touched,
                "schema": merged.schema.json(),
            }
        )
        self._sync_catalog()
        return commit

    def _sync_catalog(self) -> None:
        """Hive-sync for the timeline table (A11, glue_job_script.py:64-73,
        Hudi's actual sync model): the catalog partition's LOCATION points
        at the owning commit's snapshot directory, and each commit flips
        only its touched partitions' locations — other engines and fresh
        sessions always read the latest committed snapshot. Unpartitioned
        tables re-point the table LOCATION. Null partition values cannot
        be spelled in DDL -> temp-view fallback."""
        if not self.table_name:
            return
        from aws_glue_streaming_etl_with_apache_hudi_spark import catalog as _catalog

        instants = self.commits()
        if not instants:
            return
        schema = T.StructType.fromJson(json.loads(instants[-1]["schema"]))
        try:
            if any(inst.get("renames") for inst in instants):
                # external parquet DDL reads files by PHYSICAL column
                # name: a renamed column would silently read null from
                # pre-rename files. Route to the temp-view fallback,
                # which reads through the column mapping.
                raise ValueError(
                    "column-mapping renames present: external-table sync "
                    "would read old files by physical name"
                )
            if not self.partition_by:
                loc = os.path.abspath(
                    self._data_dir(instants[-1]["commit"], instants)
                )
                _catalog.sync_external_table(
                    self.spark, self.table_name, loc, schema, [], touched=None
                )
                # the data lives under a NEW directory each commit
                self.spark.sql(
                    f"ALTER TABLE {_catalog._q(self.table_name)} "
                    f"SET LOCATION {_catalog._sql_literal(loc)}"
                )
                self.spark.sql(
                    f"REFRESH TABLE {_catalog._q(self.table_name)}"
                )
                return
            owner: dict[tuple, int] = {}
            for inst in instants:
                for p in inst["touched_partitions"]:
                    owner[tuple(p)] = inst["commit"]
            part_locs: dict[tuple, str] = {}
            for vals, commit in owner.items():
                if any(v == _NULL_PART for v in vals):
                    raise ValueError("null partition value: DDL cannot spell it")
                # tokens are already _part_str-rendered; escape exactly
                # as Spark's Hive writer named the directories (quotes,
                # colons, unicode — _hive_escape_part on the token)
                d = os.path.join(
                    self._data_dir(commit, instants),
                    *(
                        f"{c}={_hive_escape_part(v)}"
                        for c, v in zip(self.partition_by, vals)
                    ),
                )
                if _has_parquet(d):  # emptied partitions drop out
                    part_locs[vals] = os.path.abspath(d)
            _catalog.sync_external_table_locations(
                self.spark,
                self.table_name,
                os.path.abspath(self.path),
                schema,
                list(self.partition_by),
                part_locs,
            )
        except Exception as exc:
            # A sync that died mid-DDL can leave the SHARED external table
            # with a mix of old- and new-commit partition LOCATIONs. The
            # temp-view fallback masks that only in THIS session — so drop
            # the external table first: cross-session readers then fail
            # loudly (table not found) instead of silently reading a torn
            # mixed-commit snapshot, and the next successful sync recreates
            # it. DROP on an external table never touches data files.
            import logging

            try:
                self.spark.sql(
                    f"DROP TABLE IF EXISTS {_catalog._q(self.table_name)}"
                )
            except Exception:
                pass
            logging.getLogger(__name__).warning(
                "catalog sync for %s failed; external table dropped, "
                "session-local temp view registered instead: %s",
                self.table_name,
                exc,
            )
            self.read().createOrReplaceTempView(self.table_name)

    def _partition_filter(self, df: DataFrame, touched: list[list[str]]):
        """OR-of-ANDs partition predicate from stringified tokens (partition
        columns compare as strings — layout values are strings on disk)."""
        cond = None
        for values in touched:
            clause = None
            for col_name, tok in zip(self.partition_by, values):
                eq = (
                    F.col(col_name).isNull()
                    if tok == _NULL_PART
                    else (F.col(col_name).cast("string") == F.lit(tok))
                )
                clause = eq if clause is None else (clause & eq)
            cond = clause if cond is None else (cond | clause)
        return cond if cond is not None else F.lit(True)

    # -- column-mapping schema evolution --------------------------------------
    def rename_column(self, old: str, new: str) -> int:
        """Metadata-only column rename (Iceberg-style column mapping,
        beyond the reference's additive-only evolution at
        glue_job_script.py:82-94): no data file is touched — the rename
        is an instant carrying a name mapping, and every read stitches
        older files THROUGH the mapping (a snapshot dir written at
        commit K gets every rename recorded after K applied, in order).
        Time travel below the rename still shows the old name; rollback
        across it restores the old name; incremental deltas map the same
        way. At 100 TB this is the difference between a catalog update
        and a full-table rewrite.

        Key, precombine, and partition columns cannot be renamed this
        way — partition names are directory layout and the other two are
        the table's identity; those renames are an offline rewrite."""
        instants = self.commits()
        if not instants:
            raise ValueError("rename_column on an empty timeline")
        schema = T.StructType.fromJson(json.loads(instants[-1]["schema"]))
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"no column {old!r} in {names}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        protected = set(self.keys) | set(self.partition_by) | {self.precombine}
        if old in protected:
            raise ValueError(
                f"cannot rename {old!r}: key/precombine/partition columns "
                "are table identity and physical layout (offline rewrite)"
            )
        new_schema = T.StructType(
            [
                T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
        commit = self.last_commit() + 1
        # empty delta under the NEW schema: incremental readers see no
        # records (the compact()/delete_partition empty-delta pattern)
        self.spark.createDataFrame([], new_schema).write.mode("overwrite").parquet(
            self._delta_dir(commit)
        )
        self._save_instant(
            {
                "commit": commit,
                "operation": "rename_column",
                "renames": [[old, new]],
                "ts": time.time(),
                "touched_partitions": [],
                "schema": new_schema.json(),
            }
        )
        self._sync_catalog()
        return commit

    def drop_column(self, col: str) -> int:
        """Metadata-only column drop (the mapping sibling of
        ``rename_column``): no data file is rewritten — the new instant
        records a schema WITHOUT the column, and snapshot reads project
        to the as-of schema, so the column vanishes from the current
        view while time travel below the drop still shows it and
        rollback restores it. Incremental/CDC feeds keep each commit's
        historical shape (consumers replicating history want the
        columns that existed when the records were written — the
        Hudi/Iceberg CDC contract). Key, precombine, and partition
        columns cannot be dropped."""
        instants = self.commits()
        if not instants:
            raise ValueError("drop_column on an empty timeline")
        schema = T.StructType.fromJson(json.loads(instants[-1]["schema"]))
        names = [f.name for f in schema.fields]
        if col not in names:
            raise ValueError(f"no column {col!r} in {names}")
        protected = set(self.keys) | set(self.partition_by) | {self.precombine}
        if col in protected:
            raise ValueError(
                f"cannot drop {col!r}: key/precombine/partition columns "
                "are table identity and physical layout"
            )
        new_schema = T.StructType([f for f in schema.fields if f.name != col])
        commit = self.last_commit() + 1
        self.spark.createDataFrame([], new_schema).write.mode("overwrite").parquet(
            self._delta_dir(commit)
        )
        self._save_instant(
            {
                "commit": commit,
                "operation": "drop_column",
                "ts": time.time(),
                "touched_partitions": [],
                "schema": new_schema.json(),
            }
        )
        self._sync_catalog()
        return commit

    @staticmethod
    def _apply_renames(df: DataFrame, piece_commit: int, instants: list[dict]) -> DataFrame:
        """Map a data piece written at ``piece_commit`` forward through
        every rename recorded by later instants, oldest first."""
        for inst in instants:
            if inst["commit"] > piece_commit:
                for old, new in inst.get("renames") or []:
                    if old in df.columns:
                        df = df.withColumnRenamed(old, new)
        return df

    # -- snapshot / time-travel read path ------------------------------------
    def read(self, as_of: int | None = None) -> DataFrame:
        """Snapshot query; ``as_of`` pins an instant (time travel).

        Per partition, the owning commit is the newest instant ≤ ``as_of``
        that touched it; the read is a union of partition-pruned scans of
        those snapshot directories, schema-aligned additively (later
        commits may have added columns).
        """
        instants = self.commits()
        if as_of is not None:
            horizon = self.clean_horizon()
            if as_of < horizon:
                raise ValueError(
                    f"time travel to instant {as_of} is below the clean horizon "
                    f"{horizon}: its snapshots were vacuumed by clean(); "
                    f"rebuild from deltas is impossible (they are vacuumed too)"
                )
            instants = [c for c in instants if c["commit"] <= as_of]
        if not instants:
            raise ValueError(f"no commits at or before {as_of!r} in {self.path}")

        latest_schema = T.StructType.fromJson(json.loads(instants[-1]["schema"]))

        if not self.partition_by:
            # the owner is the newest DATA instant (a metadata-only
            # rename/drop owns nothing and must not shadow the table)
            data_instants = [
                c
                for c in instants
                if c.get("operation") not in ("rename_column", "drop_column")
            ]
            if not data_instants:
                return self.spark.createDataFrame([], latest_schema)
            owning = data_instants[-1]["commit"]
            d = self._data_dir(owning, instants)
            if not _has_parquet(d):  # delete commit can empty the table
                return self.spark.createDataFrame([], latest_schema)
            df = self._apply_renames(self.spark.read.parquet(d), owning, instants)
            return df.select(*[f.name for f in latest_schema.fields if f.name in df.columns])

        owner: dict[tuple, int] = {}
        for inst in instants:
            for p in inst["touched_partitions"]:
                owner[tuple(p)] = inst["commit"]
        by_commit: dict[int, list[list[str]]] = {}
        for part, commit in owner.items():
            by_commit.setdefault(commit, []).append(list(part))

        pieces = []
        for commit in sorted(by_commit):
            d = self._data_dir(commit, instants)
            if not _has_parquet(d):  # all of this commit's partitions emptied
                continue
            df = self.spark.read.parquet(d)
            df = df.filter(self._partition_filter(df, by_commit[commit]))
            pieces.append(self._apply_renames(df, commit, instants))
        if not pieces:
            return self.spark.createDataFrame([], latest_schema)
        out = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), pieces)

        # project to the as-of schema: additive evolution makes it a
        # superset of every piece, and a metadata-only drop_column makes
        # it the authority on which historical columns stay visible
        keep = {f.name for f in latest_schema.fields}
        types = {f.name: f.dataType for f in latest_schema.fields}
        return out.select(
            *[
                F.col(c).cast(types[c]).alias(c)
                if c in self.partition_by
                else F.col(c)
                for c in out.columns
                if c in keep
            ]
        )

    def instant_for_ts(self, wall_ts: float) -> int | None:
        """Largest instant whose wall-clock commit time ≤ ``wall_ts``
        (timestamp-based time travel resolves through this)."""
        ok = [c["commit"] for c in self.commits() if c["ts"] <= wall_ts]
        return max(ok) if ok else None

    # -- incremental / CDC read paths ----------------------------------------
    def incremental(self, begin: int = 0, end: int | None = None) -> DataFrame:
        """Hudi incremental query: the latest state of every record
        upserted by instants in ``(begin, end]``, tagged with the instant
        that produced it (``_commit_id``). Scans ONLY delta files in
        range — never the table."""
        metas = [
            c
            for c in self.commits()
            if c["commit"] > begin and (end is None or c["commit"] <= end)
        ]
        if not metas:
            raise ValueError(f"no commits in ({begin}, {end}]")
        horizon = self.clean_horizon()
        if metas[0]["commit"] < horizon:
            raise ValueError(
                f"incremental range ({begin}, {end}] reaches below the clean "
                f"horizon {horizon}: those delta files were vacuumed by clean()"
            )
        # a metadata-only bootstrap instant's "delta" IS its adopted
        # location: those are the records the instant introduced, and an
        # incremental replica built from begin=0 must converge to read()
        # renames recorded at or before the range end map older deltas
        # forward (the view is as-of ``end``)
        rename_instants = [
            c for c in self.commits() if end is None or c["commit"] <= end
        ]
        deltas = [
            self._apply_renames(
                self.spark.read.parquet(
                    c["location"]
                    if c.get("operation") == "bootstrap" and c.get("location")
                    else self._delta_dir(c["commit"])
                ),
                c["commit"],
                rename_instants,
            ).withColumn(COMMIT_COL, F.lit(c["commit"]))
            for c in metas
        ]
        return incremental_view(deltas, self._identity, self.precombine)

    def changes(self, begin: int = 0, end: int | None = None) -> DataFrame:
        """CDC feed for ``(begin, end]``: incremental records classified
        ``insert`` (key absent as of ``begin``) or ``update`` (key
        present) in a ``_change_type`` column."""
        inc = self.incremental(begin, end)
        pre = self.read(as_of=begin) if begin >= 1 else None
        return cdc_view(pre, inc, self._identity)

    def changes_images(
        self, begin: int = 0, end: int | None = None,
        image_cols: list[str] | None = None,
    ) -> DataFrame:
        """``changes`` with BEFORE images (Hudi 1.0 ``cdc.enabled``):
        updates/deletes carry the replaced/erased values as
        ``before_<col>`` columns. Default images = every non-key,
        non-bookkeeping column of the feed."""
        inc = self.incremental(begin, end)
        pre = self.read(as_of=begin) if begin >= 1 else None
        if image_cols is None:
            skip = set(self._identity) | {COMMIT_COL, DELETED_COL}
            image_cols = [
                c for c in inc.columns
                if c not in skip and (pre is None or c in pre.columns)
            ]
        return cdc_view_images(pre, inc, self._identity, image_cols)

    # -- table services: rollback + cleaner ----------------------------------

    def rollback(self, to_commit: int) -> int:
        """Restore the table to instant ``to_commit`` (Hudi savepoint/
        restore): instants after it are removed from the timeline along
        with their snapshot and delta files. Returns #commits dropped.

        Because a snapshot-as-of read stitches per-partition owners from
        instants ≤ as_of, dropping later instants IS the restore — no
        data rewrite happens (O(dropped commits) file deletions).
        """
        import shutil

        if to_commit < 1 or to_commit > self.last_commit():
            raise ValueError(f"cannot rollback to {to_commit}")
        if to_commit < self.clean_horizon():
            raise ValueError(
                f"cannot rollback to {to_commit}: below the clean horizon "
                f"{self.clean_horizon()} (snapshots/deltas vacuumed)"
            )
        blocking = sorted(
            s["commit"] for s in self.savepoints() if s["commit"] > to_commit
        )
        if blocking:
            raise ValueError(
                f"savepoints at {blocking} block rollback to {to_commit}; "
                "delete_savepoint them first"
            )
        dropped = [c["commit"] for c in self.commits() if c["commit"] > to_commit]
        for commit in dropped:
            shutil.rmtree(self._snapshot_dir(commit), ignore_errors=True)
            shutil.rmtree(self._delta_dir(commit), ignore_errors=True)
            try:
                os.remove(os.path.join(self._timeline_dir, f"{commit:06d}.json"))
            except FileNotFoundError:
                pass
        if dropped:
            self._sync_catalog()
        return len(dropped)

    # -- savepoints ---------------------------------------------------------
    #
    # Hudi savepoint/restore: a savepoint PINS an instant against the
    # cleaner (its whole read closure stays on disk however aggressively
    # clean() runs), and restore() rolls the table back to it. Metadata is
    # one JSON file per savepoint under the timeline dir (write = atomic
    # rename; no read-modify-write of shared state, so concurrent
    # savepoint creation never loses an entry). commits() filters to
    # NNNNNN.json names, so savepoint files are invisible to the timeline.

    def _savepoint_path(self, commit: int) -> str:
        return os.path.join(self._timeline_dir, f"savepoint_{commit:06d}.json")

    def savepoints(self) -> list[dict]:
        """Ordered savepoint metadata ({commit, name, ts})."""
        if not os.path.isdir(self._timeline_dir):
            return []
        out = []
        for fname in sorted(os.listdir(self._timeline_dir)):
            if fname.startswith("savepoint_") and fname.endswith(".json"):
                with open(os.path.join(self._timeline_dir, fname)) as f:
                    out.append(json.load(f))
        return out

    def savepoint(self, commit: int | None = None, name: str | None = None) -> int:
        """Pin ``commit`` (default: the latest instant) against cleaning.

        The instant must exist and still be readable (at or above the
        clean horizon) — savepointing already-vacuumed history would
        promise a restore that cannot be served."""
        commit = self.last_commit() if commit is None else commit
        if commit < 1 or commit not in {c["commit"] for c in self.commits()}:
            raise ValueError(f"cannot savepoint unknown instant {commit}")
        if commit < self.clean_horizon():
            raise ValueError(
                f"cannot savepoint {commit}: below the clean horizon "
                f"{self.clean_horizon()} (history vacuumed)"
            )
        meta = {"commit": commit, "name": name or f"sp-{commit}", "ts": time.time()}
        final = self._savepoint_path(commit)
        tmp = final + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, final)
        return commit

    def delete_savepoint(self, commit: int) -> None:
        try:
            os.remove(self._savepoint_path(commit))
        except FileNotFoundError:
            raise ValueError(f"no savepoint at instant {commit}") from None

    def restore(self, commit: int) -> int:
        """Roll the table back to savepointed instant ``commit``.

        Mirrors Hudi's restore contract: the target must actually be
        savepointed, and savepoints ABOVE the target block the restore
        (they are promises to preserve that history — the caller must
        delete them explicitly before destroying it). Returns #commits
        dropped."""
        sps = {s["commit"] for s in self.savepoints()}
        if commit not in sps:
            raise ValueError(f"no savepoint at instant {commit}")
        later = sorted(c for c in sps if c > commit)
        if later:
            raise ValueError(
                f"savepoints at {later} block restore to {commit}; "
                "delete_savepoint them first"
            )
        return self.rollback(commit)

    def compact(self) -> int:
        """Collapse snapshot ownership into ONE instant (Hudi-style full
        compaction, adapted to COW file-group reuse): rewrite the current
        state as a new commit touching EVERY live partition, so a
        snapshot read stitches one directory instead of one per owning
        commit. The read plan goes from O(owning commits) union branches
        back to a single partitioned scan — the lever that keeps
        time-travel reads flat as the timeline grows (at 100 TB you run
        this on a schedule, like Hudi's compactor). History is intact:
        older instants still serve time travel until clean() vacuums
        them. The compaction commit is an empty-delta 'replace' instant
        (incremental readers correctly see no new records). Returns the
        new instant id."""
        state = self.read()
        commit = self.last_commit() + 1
        touched = (
            [
                [_part_token(v) for v in row]
                for row in state.select(*self.partition_by).distinct().collect()
            ]
            if self.partition_by
            else [[]]
        )
        # materialize BEFORE writing: state's lineage reads the snapshot
        # dirs the write below could double-list mid-plan
        state = state.persist()
        try:
            state.count()
            overwrite_writer(state, self.partition_by).parquet(
                self._snapshot_dir(commit)
            )
        finally:
            state.unpersist()
        # empty delta: a compaction commits no new records
        self.spark.createDataFrame([], state.schema).write.mode("overwrite").parquet(
            self._delta_dir(commit)
        )
        self._save_instant(
            {
                "commit": commit,
                "operation": "replacecommit",
                "ts": time.time(),
                "touched_partitions": touched,
                "schema": state.schema.json(),
            }
        )
        self._sync_catalog()
        return commit

    def clean(self, keep_last: int) -> dict:
        """Hudi cleaner: bound retained history to the ``keep_last`` most
        recent instants. Snapshot directories of older instants are
        deleted UNLESS they still own a partition in the current state
        (file-group reuse keeps them live); older delta directories are
        always deletable (incremental/time-travel reads before the
        horizon are gone — the cleaner's documented contract). Timeline
        metadata is kept for all instants so commit ids never regress.

        Returns {"snapshots": [...], "deltas": [...]} of removed ids.
        At scale this is what stops storage growing with every commit:
        retained bytes are O(live table + keep_last deltas), not
        O(history).
        """
        import shutil

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        instants = self.commits()
        if len(instants) <= keep_last:
            return {"snapshots": [], "deltas": []}
        horizon = instants[-keep_last]["commit"]
        # Savepoints clamp the horizon: a pinned instant (and everything
        # at or after it) must stay readable no matter how aggressive the
        # retention ask is. Savepoint creation validates commit >= the
        # current horizon, so the clamp can never regress the floor.
        sps = [s["commit"] for s in self.savepoints()]
        if sps:
            horizon = min(horizon, min(sps))
        # Persist the time-travel floor BEFORE deleting anything: a crash
        # between marker and deletions leaves reads conservatively refused,
        # never silently partial. Horizon only ever advances.
        horizon = max(horizon, self.clean_horizon())
        tmp = self._clean_meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"horizon": horizon, "ts": time.time()}, f)
        os.replace(tmp, self._clean_meta_path)

        # A snapshot stays live if it is the owner of some partition at
        # ANY retained as_of (>= horizon): per partition, that is every
        # owning commit > horizon plus the newest owning commit <= horizon
        # (which serves reads for the whole retained range until the next
        # rewrite).
        if self.partition_by:
            owners: dict[tuple, list[int]] = {}
            for inst in instants:
                for p in inst["touched_partitions"]:
                    owners.setdefault(tuple(p), []).append(inst["commit"])
            live: set[int] = set()
            for commits_for_part in owners.values():
                at_or_before = [c for c in commits_for_part if c <= horizon]
                if at_or_before:
                    live.add(max(at_or_before))
                live.update(c for c in commits_for_part if c > horizon)
        else:
            live = {c["commit"] for c in instants if c["commit"] >= horizon}
            # the retained floor must be the newest DATA instant <= horizon:
            # read(as_of) resolves through data instants only (a metadata-
            # only rename/drop owns no snapshot), so picking a rename here
            # would vacuum the snapshot those reads still consult
            data = [
                c["commit"] for c in instants
                if c.get("operation") not in ("rename_column", "drop_column")
            ]
            at_or_before = [c for c in data if c <= horizon]
            if at_or_before:
                live.add(max(at_or_before))

        removed: dict = {"snapshots": [], "deltas": []}
        for inst in instants:
            c = inst["commit"]
            if c >= horizon:
                continue
            if c not in live and os.path.isdir(self._snapshot_dir(c)):
                shutil.rmtree(self._snapshot_dir(c), ignore_errors=True)
                removed["snapshots"].append(c)
            if os.path.isdir(self._delta_dir(c)):
                shutil.rmtree(self._delta_dir(c), ignore_errors=True)
                removed["deltas"].append(c)
        return removed

    def fsck(self) -> dict:
        """Remove UNREFERENCED data directories (Hudi's marker-based
        partial-write rollback, offline form): a crash between the data
        write and ``_save_instant`` leaves a ``snapshots/commit=N`` or
        ``deltas/commit=N`` directory with no timeline instant — invisible
        to every reader, but accreting storage forever. fsck deletes any
        commit-numbered data dir whose instant json does not exist, plus
        stale ``*.tmp`` metadata files. The bootstrap location is never
        touched (it lives outside the table path).

        Run it like a table service (offline, or under the commit lock
        when ``lock_commits`` — a CONCURRENT writer's data lands before
        its instant, exactly the window fsck would reap). Returns the
        removed paths."""
        import shutil

        lock = None
        if self.lock_commits:
            from aws_glue_streaming_etl_with_apache_hudi_spark.operators.locking import CommitLock

            lock = CommitLock(self.path)
            lock.acquire()
        try:
            valid = {c["commit"] for c in self.commits()}
            removed: dict = {"dirs": [], "tmp_files": []}
            for sub in ("snapshots", "deltas"):
                root = os.path.join(self.path, sub)
                if not os.path.isdir(root):
                    continue
                for d in sorted(os.listdir(root)):
                    if not d.startswith("commit="):
                        continue
                    try:
                        cid = int(d.split("=", 1)[1])
                    except ValueError:
                        continue
                    if cid not in valid:
                        full = os.path.join(root, d)
                        shutil.rmtree(full, ignore_errors=True)
                        removed["dirs"].append(full)
            if os.path.isdir(self._timeline_dir):
                for fname in sorted(os.listdir(self._timeline_dir)):
                    if fname.endswith(".tmp"):
                        full = os.path.join(self._timeline_dir, fname)
                        try:
                            os.remove(full)
                            removed["tmp_files"].append(full)
                        except OSError:
                            pass
            # OCC staging of crashed writers (upsert_occ dies between its
            # staging write and publish). Offline-only, like the rest of
            # fsck: an ACTIVE writer's staging would be reaped too.
            occ_root = os.path.join(self.path, "_occ_staging")
            if os.path.isdir(occ_root):
                for d in sorted(os.listdir(occ_root)):
                    full = os.path.join(occ_root, d)
                    shutil.rmtree(full, ignore_errors=True)
                    removed["dirs"].append(full)
            return removed
        finally:
            if lock is not None:
                lock.release()


# -- pure transforms (no IO): the algebra, exposed for queries + oracles ----


def incremental_view(
    deltas: list[DataFrame], keys: list[str], precombine: str
) -> DataFrame:
    """Merge commit deltas latest-wins. Each delta must carry
    ``_commit_id``; later commits win exact precombine ties (the same
    rule the snapshot merge applies transitively)."""
    merged = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), deltas
    )
    return precombine_latest(merged, keys, precombine, tie_breakers=[COMMIT_COL])


def apply_change_feed(table, feed: DataFrame) -> None:
    """Apply one batch of change records to a replica table — the
    consumer half of CDC (Delta's ``APPLY CHANGES`` / Hudi's
    deltastreamer role). ``feed`` rows carry the source columns plus
    optional ``_deleted`` / ``_commit_id`` flags (the shape
    ``incremental``/``read_incremental_stream`` emit).

    Upserts and deletes are split and applied through the replica's own
    key/precombine semantics, so replaying a feed batch is idempotent
    and out-of-order feeds converge exactly like out-of-order writes on
    the source (stale records lose the precombine merge). Call from
    ``foreachBatch`` to keep a live replica:

        stream = read_incremental_stream(spark, source_table)
        stream.writeStream.foreachBatch(
            lambda df, _id: apply_change_feed(replica, df)).start()
    """
    # One feed batch may carry several generations of a key (an upsert
    # from commit N and its deletion from commit N+1): collapse to the
    # latest record per key FIRST — applying raw records operation-by-
    # operation could resurrect a deleted row.
    ids = table._identity
    ties = [COMMIT_COL] if COMMIT_COL in feed.columns else None
    latest = precombine_latest(feed, ids, table.precombine, tie_breakers=ties)

    cols = [c for c in latest.columns if c not in (DELETED_COL, COMMIT_COL)]
    if DELETED_COL in latest.columns:
        is_del = F.coalesce(F.col(DELETED_COL), F.lit(False))
        deletes = latest.filter(is_del)
        upserts = latest.filter(~is_del)
        if not deletes.isEmpty():
            table.delete(deletes.select(*cols))
    else:
        upserts = latest
    if not upserts.isEmpty():
        table.upsert(upserts.select(*cols))


def cdc_view_images(
    pre: DataFrame | None,
    inc: DataFrame,
    keys: list[str],
    image_cols: list[str],
) -> DataFrame:
    """``cdc_view`` plus BEFORE images (Hudi 1.0 ``cdc.enabled`` /
    Debezium shape): each change row carries the pre-state's
    ``image_cols`` as ``before_<col>`` — null for inserts, the replaced
    values for updates, the erased values for deletes. Downstream
    consumers that maintain aggregates or reverse replicas need the
    before image to SUBTRACT the old contribution; the plain feed only
    supports idempotent overwrite sinks.

    Same scale shape as cdc_view — one key join — except the pre-state
    side now projects keys + image columns (still a column-pruned scan,
    never the full width)."""
    deleted = (
        F.coalesce(F.col(DELETED_COL), F.lit(False))
        if DELETED_COL in inc.columns
        else F.lit(False)
    )
    if pre is None:
        out = inc.withColumn(
            CHANGE_COL, F.when(deleted, "delete").otherwise(F.lit("insert"))
        )
        for c in image_cols:
            out = out.withColumn(f"before_{c}", F.lit(None).cast(inc.schema[c].dataType))
        return out
    before = pre.select(
        *keys,
        F.lit(1).alias("_pre"),
        *[F.col(c).alias(f"before_{c}") for c in image_cols],
    )
    joined = inc.join(before, on=keys, how="left")
    return joined.withColumn(
        CHANGE_COL,
        F.when(deleted, "delete")
        .when(F.col("_pre").isNull(), "insert")
        .otherwise("update"),
    ).drop("_pre")


def cdc_view(pre: DataFrame | None, inc: DataFrame, keys: list[str]) -> DataFrame:
    """Classify incremental records against the pre-state: row-level
    change feed (``insert`` | ``update`` | ``delete`` — tombstoned
    records arrive flagged ``_deleted``). One broadcast-able join on the
    record key — the pre-state side is projected to keys only, so at
    scale this is a key-column scan, not a table scan."""
    deleted = (
        F.coalesce(F.col(DELETED_COL), F.lit(False))
        if DELETED_COL in inc.columns
        else F.lit(False)
    )
    if pre is None:
        return inc.withColumn(
            CHANGE_COL, F.when(deleted, "delete").otherwise(F.lit("insert"))
        )
    existing = pre.select(*keys).withColumn("_pre", F.lit(1))
    joined = inc.join(existing, on=keys, how="left")
    return joined.withColumn(
        CHANGE_COL,
        F.when(deleted, "delete")
        .when(F.col("_pre").isNull(), "insert")
        .otherwise("update"),
    ).drop("_pre")
