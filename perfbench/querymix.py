"""The query-surface workload: one step is one round of a fixed query list.

One client, closed loop. Every round starts slot-cold
(``clear_persist_slots``), then each query's plan is built
(``QUERIES[name].fn(spark, sf_dir)``) and executed to the ``noop`` sink, so
every output column is computed. The inputs are the fixture tables written by
``fixtures.write_query_fixtures`` with seed 42 (the workload seed does not
apply here: the oracle results are fixed with the data).

Per run:

1. Inputs, once and untimed: write the fixtures. Then ``SETUP_REPEATS``
   set-ups, each in a fresh directory of hard links to them: load every
   table through ``readers.load_table``. ``setup_s`` is their median; the
   last set-up's directory is used.
2. Warm-up, discarded: every query is checked against its registered DuckDB
   oracle SQL with ``tests/oracle_utils.compare_query``, then
   ``WARMUP_ROUNDS`` rounds like the timed ones are run.
3. Timed rounds: as many whole ``ROUND_NOMINAL_S`` as fit in ``seconds``, at
   least two. The count is fixed by the work, not by the clock: rounds keep
   getting faster for several rounds after the warm-up, so a clock-bounded
   run would take its median from a different point of that curve on a
   faster host.
"""

from __future__ import annotations

import math
import os
import time

from aws_glue_streaming_etl_with_apache_hudi_spark.operators.dedup import clear_persist_slots
from aws_glue_streaming_etl_with_apache_hudi_spark.queries import QUERIES
from aws_glue_streaming_etl_with_apache_hudi_spark.sources import readers
from common import SETUP_REPEATS, Result, Run, drift_check, median
from fixtures import write_query_fixtures
from oracle_utils import compare_query
from tracing import instrument

#: The round, in order.
QUERY_NAMES = (
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "asof_join_events_orders",
    "text_tfidf_top_term",
    "dedup_minhash_lsh",
    "knn_bruteforce",
    "graph_pagerank_3rounds",
    "upsert_latest_state",
)
#: fixture scale factor (0.01 -> 60 k lineitem rows, 10 k events)
SF = 0.01
#: Untimed noop rounds after the oracle check. The check collects rows; the
#: first round after it that writes to the noop sink ran up to a fifth
#: slower than the next ones.
WARMUP_ROUNDS = 1
#: Wall of one warm round on a 4-core host; ``seconds`` of timed work is
#: this many rounds, so every run times the same rounds.
ROUND_NOMINAL_S = 7.5


def _round(run: Run, sf_dir: str) -> tuple[float, dict[str, tuple[float, float]]]:
    """One slot-cold round; returns its wall and per-query (build, exec)."""
    tracer = run.tracer
    per_query = {}
    start = time.perf_counter()
    clear_persist_slots(run.spark)
    for name in QUERY_NAMES:
        t0 = time.perf_counter()
        with tracer.span(f"queries.{name}.build"):
            df = QUERIES[name].fn(run.spark, sf_dir)
        t1 = time.perf_counter()
        with tracer.span(f"queries.{name}.exec"):
            df.write.format("noop").mode("overwrite").save()
        per_query[name] = (t1 - t0, time.perf_counter() - t1)
    return time.perf_counter() - start, per_query


def run_query_mix(run: Run) -> Result:
    spark = run.spark
    sf = 0.001 if run.tiny else SF
    fixtures = run.path("fixtures")
    write_query_fixtures(fixtures, sf)
    setups = []
    for rep in range(SETUP_REPEATS):
        sf_dir = run.path(f"rep{rep}")
        os.makedirs(sf_dir)
        for name in os.listdir(fixtures):
            os.link(os.path.join(fixtures, name), os.path.join(sf_dir, name))
        start = time.perf_counter()
        for table in readers.FIXTURE_TABLES:
            readers.load_table(spark, sf_dir, table).schema
        setups.append(time.perf_counter() - start)

    # warm-up, discarded: the oracle check of every query, then noop rounds
    warm_start = time.perf_counter()
    for name in QUERY_NAMES:
        run.attempted += 1
        sql = QUERIES[name].sql
        if run.wrong_expected and name == QUERY_NAMES[0]:
            sql = f"SELECT * FROM ({sql}) OFFSET 1"  # smoke test: drop a row
        try:
            ok, msg = compare_query(spark, sf_dir, QUERIES[name].fn, sql)
        except Exception as exc:  # a query that raises fails its check
            ok, msg = False, repr(exc)
        if not ok:
            run.fail(f"{name} differs from its oracle: {msg}")
    warm: list[float] = []
    for _ in range(WARMUP_ROUNDS):
        run.attempted += 1
        try:
            warm.append(round(_round(run, sf_dir)[0], 4))
        except Exception as exc:  # count it; the next round starts clean
            run.fail(f"warm-up round raised {exc!r}")
    warmup_s = time.perf_counter() - warm_start

    rounds: list[float] = []
    per_query: list[dict] = []
    timed_start = time.perf_counter()
    with instrument(run.tracer):
        for step in range(max(2, int(run.seconds / ROUND_NOMINAL_S))):
            run.tracer.step = step
            run.attempted += 1
            lo = time.time()
            try:
                wall, queries = _round(run, sf_dir)
            except Exception as exc:  # count it; the next round starts clean
                run.fail(f"round {step} raised {exc!r}")
                continue
            run.windows.append((lo, time.time()))
            rounds.append(wall)
            per_query.append(queries)
        run.tracer.step = -1
    timed_s = time.perf_counter() - timed_start
    if not rounds:
        raise RuntimeError("no timed round completed")
    drift_check(run, rounds)
    run.notes.update(steps=len(rounds), warmup_walls_s=warm, setups_s=[round(s, 4) for s in setups])

    exec_p50 = {q: median([r[q][1] for r in per_query]) for q in QUERY_NAMES}
    e2e = {
        "setup_s": median(setups),
        "step_p50_s": median(rounds),
        "step_tail_s": max(rounds),
        "throughput_per_s": len(rounds) * len(QUERY_NAMES) / timed_s,
        "read_p50_s": math.exp(sum(math.log(v) for v in exec_p50.values()) / len(exec_p50)),
    }
    layer = {
        "warmup_s": warmup_s,
        "warmup_steps": 1 + WARMUP_ROUNDS,
    }
    if run.tracer.enabled:
        loads = run.tracer.per_step("sources.load_table")
        layer["sources.load_table_s"] = median([loads.get(i, 0.0) for i in range(len(rounds))])
        for q in QUERY_NAMES:
            layer[f"queries.{q}.build_s"] = median([r[q][0] for r in per_query])
            layer[f"queries.{q}.exec_s"] = exec_p50[q]
        layer["trace.step_p50_s"] = median(rounds)
    return Result(e2e, layer, rounds)
