"""The ingest workload: the reference job, stream -> foreachBatch -> keyed
upsert -> catalog sync, with an analyst query after every commit, into both
table layouts.

One event stream feeds two streaming pipelines: one into ``UpsertTable``
(copy-on-write, COW), one into ``MergeOnReadTable`` (merge-on-read, MOR, with
its default inline compaction). One client, closed loop: a step hands one
staged event file to the COW pipeline's source directory and waits
(``processAllAvailable``) until its trigger has committed and the post-commit
read has returned, then does the same on the MOR pipeline. Only then does
the next step start. Both layouts see the same inputs in the same JVM state,
so a change that helps one layout and hurts the other shows in their own
per-layer figures.

Per run:

1. Inputs, once and untimed: generate the base table and the event files
   from the seed and compute the expected table state after every file with
   DuckDB.
2. ``SETUP_REPEATS`` set-ups, each in fresh directories: bootstrap both
   tables from the base file with their ``upsert`` and start both streaming
   queries. ``setup_s`` is their median; only the last set-up's tables go on.
3. Warm-up: steps are run and discarded until two in a row in which MOR did
   not compact agree within ``STEADY``.
4. Timed steps: ``seconds / STEP_NOMINAL_S`` of them, rounded up to whole
   MOR compaction cycles (five commits with the default policy), so that every
   run does the same work and holds the same share of compacting commits.
5. End checks on both tables: live rows and checksums against DuckDB's
   latest-by-ts state, and the live row count against what the generator says
   it must be.
"""

from __future__ import annotations

import calendar
import math
import os
import time
from dataclasses import dataclass, field

import duckdb

from aws_glue_streaming_etl_with_apache_hudi_spark.operators.mor import (
    CompactionPolicy,
    MergeOnReadTable,
)
from aws_glue_streaming_etl_with_apache_hudi_spark.operators.upsert import UpsertTable
from aws_glue_streaming_etl_with_apache_hudi_spark.streaming.pipeline import (
    StreamingUpsertPipeline,
)
from common import SETUP_REPEATS, Result, Run, drift_check, median, tree_bytes
from fixtures import IngestStream
from tracing import ProgressListener, TracedTable, instrument

#: Two consecutive warm-up steps within this share of each other end the
#: warm-up.
STEADY = 0.15
WARMUP_MIN, WARMUP_MAX = 2, 10
#: Commit wall of one warm step (both layouts) on a 4-core host;
#: ``seconds`` of commit time is at least this many steps, in whole
#: compaction cycles.
STEP_NOMINAL_S = 2.0
#: 2024-01-01 UTC in µs; ts sums are taken from here so they fit a long
EPOCH_US = 1_704_067_200_000_000
FRESH_SQL = "SELECT day, count(*) AS n, sum(value) AS s, max(ts) AS m FROM {name} GROUP BY day"


def expected_states(base: str, files: list[str]) -> list[dict[str, tuple]]:
    """Per-day (rows, value cents, max ts µs) of the table after each prefix
    of the stream: element ``j`` is the state after ``j`` event files.

    Latest-by-ts per (day, key): each version's change to its day's
    aggregates is taken against the key's previous version, and the
    changes are summed per prefix. That telescoping needs every key's
    versions to be ts-ordered in stream order, which is checked first."""
    con = duckdb.connect()
    try:
        con.execute(
            """
            CREATE TABLE v AS
            SELECT key, epoch_us(ts) AS ts, CAST(round(value * 100) AS BIGINT) AS cents,
                   day, 0 AS f
            FROM read_parquet($base)
            UNION ALL
            SELECT key, epoch_us(ts), CAST(round(value * 100) AS BIGINT), day,
                   list_position($files, filename)
            FROM read_parquet($files, filename = true)
            """,
            {"base": base, "files": files},
        )
        bad = con.execute(
            """
            SELECT count(*) FROM (
              SELECT f < lag(f) OVER (PARTITION BY day, key ORDER BY ts) AS back FROM v)
            WHERE back
            """
        ).fetchone()[0]
        if bad:
            raise ValueError(f"{bad} versions are out of stream order by ts")
        rows = con.execute(
            """
            SELECT f, day,
                   count(*) FILTER (WHERE prev_cents IS NULL),
                   sum(cents - coalesce(prev_cents, 0)),
                   max(ts)
            FROM (SELECT *, lag(cents) OVER (PARTITION BY day, key ORDER BY ts) AS prev_cents
                  FROM v)
            GROUP BY f, day ORDER BY f, day
            """
        ).fetchall()
    finally:
        con.close()
    states: list[dict[str, tuple]] = []
    cur: dict[str, tuple] = {}
    by_f: dict[int, list] = {}
    for f, day, d_rows, d_cents, max_ts in rows:
        by_f.setdefault(f, []).append((day, d_rows, d_cents, max_ts))
    for f in range(len(files) + 1):
        cur = dict(cur)
        for day, d_rows, d_cents, max_ts in by_f.get(f, []):
            n, cents, ts = cur.get(day, (0, 0, 0))
            cur[day] = (n + d_rows, cents + int(d_cents), max(ts, max_ts))
        states.append(cur)
    return states


def final_state(base: str, files: list[str]) -> tuple[int, int, int, int]:
    """(rows, value cents, key sum, ts sum after ``EPOCH_US``) of the latest-by-ts row per
    (day, key) after ``files`` — written directly, without the telescoping
    of ``expected_states``."""
    con = duckdb.connect()
    try:
        return con.execute(
            """
            SELECT count(*), sum(CAST(round(value * 100) AS BIGINT)), sum(key),
                   sum(epoch_us(ts) - $epoch)
            FROM (SELECT *, row_number() OVER (PARTITION BY day, key ORDER BY ts DESC) AS rn
                  FROM (SELECT key, ts, value, day FROM read_parquet($base)
                        UNION ALL
                        SELECT key, ts, value, day FROM read_parquet($files)))
            WHERE rn = 1
            """,
            {"base": base, "files": files or [base], "epoch": EPOCH_US},
        ).fetchone()
    finally:
        con.close()


def _epoch_us(d) -> int:
    return calendar.timegm(d.timetuple()) * 1_000_000 + d.microsecond


class _Client:
    """The post-commit side of one layout's trigger: stamps the commit's
    return, runs the analyst read through the catalog name and checks it
    against the expected state after ``prefix`` event files."""

    def __init__(self, run: Run, layout: str, name: str, expected: list[dict]) -> None:
        self.run = run
        self.layout = layout
        self.name = name
        self.expected = expected
        self.prefix = 0
        self.commit_end: dict[int, float] = {}
        self.read_end: dict[int, float] = {}
        self.read_s: dict[int, float] = {}
        self.errors: list[str] = []

    def post_commit(self, _batch) -> None:
        end = time.time()
        tracer = self.run.tracer
        step = tracer.step
        error = None
        start = time.perf_counter()
        try:
            with tracer.span(f"read.{self.layout}.fresh_plan"):
                df = self.run.spark.sql(FRESH_SQL.format(name=self.name))
            with tracer.span(f"read.{self.layout}.fresh_exec"):
                rows = df.collect()
            got = {r["day"]: (r["n"], round(r["s"] * 100), _epoch_us(r["m"])) for r in rows}
            if got != self.expected[self.prefix]:
                error = f"{self.layout} read after file {self.prefix} differs from the expected state"
        except Exception as exc:  # a failed read fails the step, not the stream
            error = f"{self.layout} read after file {self.prefix} raised {exc!r}"
        self.read_s[step] = time.perf_counter() - start
        self.commit_end[step] = end
        self.read_end[step] = time.time()
        if error:
            self.errors.append(error)


#: layout -> (table class, the operators module the per-layer names use)
LAYOUTS = {"cow": (UpsertTable, "upsert"), "mor": (MergeOnReadTable, "mor")}
#: Per table layout, the spans whose Spark output is that layout's writes.
WRITERS = {
    "cow": {"operators.upsert.upsert"},
    "mor": {"operators.mor.upsert", "operators.mor.compact"},
}


@dataclass
class _Lane:
    """One layout's table, pipeline and client."""

    layout: str
    table: object
    client: _Client
    source: str
    pipeline: StreamingUpsertPipeline
    query: object = None
    batches: list[int] = field(default_factory=list)


def _setup(run: Run, base: str, expected: list[dict], rep: int) -> list[_Lane]:
    """One set-up in fresh directories: bootstrap both tables from the base
    file and start both streaming queries."""
    rep_dir = run.path(f"rep{rep}")
    base_df = run.spark.read.parquet(base)
    lanes = []
    for layout, (cls, module) in LAYOUTS.items():
        lane_dir = os.path.join(rep_dir, layout)
        name = f"perfbench_{layout}_{rep}"
        table = cls(
            run.spark,
            os.path.join(lane_dir, "table"),
            keys=["key"],
            precombine="ts",
            partition_by=["day"],
            table_name=name,
        )
        table.upsert(base_df)
        client = _Client(run, layout, name, expected)
        source = os.path.join(lane_dir, "source")
        os.makedirs(source)
        pipeline = StreamingUpsertPipeline(
            run.spark,
            source,
            base_df.schema,
            TracedTable(table, run.tracer, f"operators.{module}.upsert"),
            os.path.join(lane_dir, "checkpoint"),
            trigger="0 seconds",
            max_files_per_trigger=1,
            post_commit=client.post_commit,
        )
        lanes.append(_Lane(layout, table, client, source, pipeline, pipeline.start()))
    return lanes


def run_ingest(run: Run) -> Result:
    spark = run.spark
    tracer = run.tracer
    stream = (
        IngestStream(seed=run.seed, keys=2_000, days=5, hot_days=2, batch_rows=100)
        if run.tiny
        else IngestStream(seed=run.seed)
    )
    cycle = CompactionPolicy().max_delta_commits  # the MOR table's default policy
    steps_wanted = cycle * math.ceil(run.seconds / (cycle * STEP_NOMINAL_S))
    start = time.perf_counter()
    base, files = stream.write(run.path("inputs"), WARMUP_MAX + steps_wanted)
    expected = expected_states(base, files)
    run.notes["inputs_s"] = round(time.perf_counter() - start, 4)
    if run.wrong_expected:
        # smoke test of the checks: one more row than the truth in one day
        for state in expected:
            day = min(state)
            state[day] = (state[day][0] + 1, *state[day][1:])
    run.writers = WRITERS

    listener = ProgressListener()
    spark.streams.addListener(listener)
    setups: list[float] = []
    lanes: list[_Lane] = []
    for rep in range(SETUP_REPEATS):
        for lane in lanes:
            lane.query.stop()
        start = time.perf_counter()
        lanes = _setup(run, base, expected, rep)
        setups.append(time.perf_counter() - start)
    cow, mor = lanes

    next_file = 0
    input_bytes: list[int] = []

    def step() -> float:
        nonlocal next_file
        src = files[next_file]
        next_file += 1
        input_bytes.append(os.path.getsize(src))
        start = time.perf_counter()
        for lane in lanes:
            lane.client.prefix = next_file
            os.link(src, os.path.join(lane.source, os.path.basename(src)))
            lane.query.processAllAvailable()
        return time.perf_counter() - start

    def compacted() -> bool:
        return not mor.table.pending_commits()

    # warm-up, discarded; steadiness is judged on steps where MOR did not compact
    warm_start = time.perf_counter()
    plain: list[float] = []
    warm: list[float] = []
    while True:
        run.attempted += len(lanes)
        wall = step()
        warm.append(round(wall, 4))
        if not compacted():
            plain.append(wall)
        steady = len(plain) >= WARMUP_MIN and abs(plain[-1] - plain[-2]) <= STEADY * plain[-2]
        if steady or next_file >= WARMUP_MAX:
            break
    warmup_s, warmup_steps = time.perf_counter() - warm_start, next_file
    for lane in lanes:
        lane.batches = list(lane.pipeline.batches_seen)
    input_bytes.clear()

    steps = 0
    compacting: list[bool] = []
    with instrument(tracer, [lane.table for lane in lanes]):
        while steps < steps_wanted:
            tracer.step = steps
            run.attempted += len(lanes)
            try:
                step()
            except Exception as exc:  # a stream died: count it and stop
                run.fail(f"timed step {steps} raised {exc!r}")
                break
            compacting.append(compacted())
            steps += 1
        tracer.step = -1
    for lane in lanes:
        lane.query.stop()
    if steps == 0:
        raise RuntimeError("no timed step completed")

    progress, commit_s, read_s = {}, {}, {}
    rows = 0
    for lane in lanes:
        for error in lane.client.errors:
            run.fail(error)
        timed = lane.pipeline.batches_seen[len(lane.batches) :][:steps]
        progress[lane.layout] = listener.wait_for(str(lane.query.id), timed)
        commit_s[lane.layout] = [
            lane.client.commit_end[i] - p["start"] for i, p in enumerate(progress[lane.layout])
        ]
        read_s[lane.layout] = [lane.client.read_s[i] for i in range(steps)]
        rows += sum(p["rows"] for p in progress[lane.layout])
    spark.streams.removeListener(listener)
    step_commit = [a + b for a, b in zip(commit_s["cow"], commit_s["mor"])]
    step_read = [a + b for a, b in zip(read_s["cow"], read_s["mor"])]

    # end checks, untimed
    consumed = [os.path.join(cow.source, os.path.basename(f)) for f in files[:next_file]]
    want = final_state(base, consumed)
    generator_rows = stream.keys + next_file * round(stream.batch_rows * stream.new_share)
    layer = {"warmup_s": warmup_s, "warmup_steps": warmup_steps}
    for lane in lanes:
        run.attempted += 2
        got = lane.table.read().selectExpr(
            "count(*)",
            "sum(CAST(round(value * 100) AS BIGINT))",
            "sum(key)",
            f"sum(unix_micros(ts) - {EPOCH_US})",
        ).first()
        if tuple(got) != tuple(want):
            run.fail(f"{lane.layout} end state {tuple(got)} differs from the expected {tuple(want)}")
        if got[0] != generator_rows:
            run.fail(f"{lane.layout} live rows {got[0]} drift from the generator's {generator_rows}")
        layer[f"storage.{lane.layout}.table_bytes_per_row"] = tree_bytes(lane.table.path) / got[0]
    # compactions fall unevenly on the two halves; judge drift without them
    drift_check(run, [w for w, c in zip(step_commit, compacting) if not c])
    run.notes.update(
        steps=steps,
        warmup_walls_s=warm,
        setups_s=[round(s, 4) for s in setups],
        commit_p50_s={k: median(v) for k, v in commit_s.items()},
    )
    run.windows = [
        (progress["cow"][i]["start"], mor.client.read_end[i]) for i in range(steps)
    ]
    run.input_bytes = input_bytes[:steps]

    e2e = {
        "setup_s": median(setups),
        "step_p50_s": median(step_commit),
        # one step in five carries a MOR compaction, so the slowest fifth of
        # steps are compactions: the tail is their median, as a percentile
        # over all ten steps would land in either population from run to run
        "step_tail_s": median([w for w, c in zip(step_commit, compacting) if c]),
        "throughput_per_s": rows / sum(step_commit),
        "read_p50_s": median(step_read),
    }
    if tracer.enabled:
        layer.update(_layers(tracer, progress, step_commit))
    return Result(e2e, layer, step_commit)


def _layers(tracer, progress: dict[str, list[dict]], step_commit: list[float]) -> dict:
    n = len(step_commit)

    def per_step(name: str) -> list[float]:
        by_step = tracer.per_step(name)
        return [by_step.get(i, 0.0) for i in range(n)]

    def dur(*keys: str) -> list[float]:
        """Per step, the named progress durations summed over both triggers."""
        return [
            sum(progress[lay][i]["duration_ms"].get(k, 0) for lay in progress for k in keys) / 1000.0
            for i in range(n)
        ]

    hooks = [
        sum(v)
        for v in zip(
            *(per_step(f"read.{lay}.fresh_{part}") for lay in progress for part in ("plan", "exec"))
        )
    ]
    cow_upsert = per_step("operators.upsert.upsert")
    mor_upsert = per_step("operators.mor.upsert")
    compactions = tracer.calls("operators.mor.compact")
    syncs = per_step("catalog.sync")
    out = {
        "sources.offset_s": median(dur("latestOffset", "getBatch")),
        "streaming.checkpoint_s": median(dur("walCommit", "commitOffsets")),
        "streaming.pipeline.self_s": median(
            [a - c - m - h for a, c, m, h in zip(dur("addBatch"), cow_upsert, mor_upsert, hooks)]
        ),
        "operators.upsert.upsert_s": median(cow_upsert),
        "operators.upsert.read_partitions_s": median(
            per_step("operators.upsert.read_partitions")
        ),
        "operators.mor.upsert_s": median(
            [u - c for u, c in zip(mor_upsert, per_step("operators.mor.compact"))]
        ),
        "operators.mor.compact_s": median(compactions),
        "operators.mor.compactions": len(compactions),
        "catalog.sync_s": median(syncs),
        "catalog.syncs": len(tracer.calls("catalog.sync")),
        "trace.step_p50_s": median(step_commit),
    }
    for lay in progress:
        for part in ("plan", "exec"):
            out[f"read.{lay}.fresh_{part}_s"] = median(per_step(f"read.{lay}.fresh_{part}"))
    return out
