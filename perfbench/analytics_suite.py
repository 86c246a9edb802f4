"""analytics_suite: one closed-loop client running the query suite.

The headline queries of ``bench.py`` run over tables generated from
the seed, each materialized through ``toPandas`` (the SDK's Arrow
interchange). There is no ingest, IVM or subscription here: plan
building, scans, shuffles and Arrow collection dominate. The six
``*_bucketed`` variants are left out: their first use builds bucketed
copies of lineitem and orders (about 11 s of every run's set-up on a
4-CPU host), which the benchmark's time budget cannot carry next to
20-second runs.

Set-up includes one untimed warm pass in which every query's result is
collected and checked by value hash against its DuckDB oracle
(``tools/verify_queries.py``'s ``table_digest``). DuckDB is never
timed: the seconds spent generating the inputs and running the oracles
are returned as ``harness_s`` and left out of ``setup_s``.

The timed window runs the suite in whole passes, as many as come
nearest to the run's seconds (at least one), so every query is timed
equally often; every timed result is checked for the verified row
count and columns.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
import traceback

from perfbench import datagen, stats
from perfbench.metrics import QUERY_LAYER

SF = 0.01


def _oracle_db(sf_dir: str, cpus: int, tmp: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {cpus}")
    con.execute(f"SET temp_directory = '{tmp}'")
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def run(r, sf: float = SF) -> dict:
    from bench import BENCH_QUERIES
    from risingwave_py_spark import registry
    from tools.verify_queries import table_digest

    sf_dir = os.path.join(r.work, "data", f"sf{sf}")
    t0 = time.perf_counter()
    tables = datagen.analytics_tables(r.seed, sf)
    datagen.write_tables(tables, sf_dir)
    harness_s = time.perf_counter() - t0
    input_bytes = float(sum(t.nbytes for t in tables.values()))
    spark = r.spark
    queries = {q: registry.QUERIES[q] for q in BENCH_QUERIES
               if not q.endswith("_bucketed")}

    # warm pass + oracle check (untimed)
    t0 = time.perf_counter()
    con = _oracle_db(sf_dir, r.cpus, os.path.join(r.work, "tmp"))
    harness_s += time.perf_counter() - t0
    expect: dict[str, tuple[list[str], int]] = {}
    for q, fn in queries.items():
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(x) for x in df.collect()]
        except Exception:  # noqa: BLE001 — a failing query fails its check
            traceback.print_exc(file=sys.stderr)
            r.check(f"oracle:{q}", False, "spark error")
            continue
        t0 = time.perf_counter()
        cur = con.execute(registry.ORACLES[q])
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        harness_s += time.perf_counter() - t0
        ok = (sorted(cols) == sorted(ocols) and len(rows) == len(orows)
              and table_digest(cols, rows) == table_digest(ocols, orows))
        r.check(f"oracle:{q}", ok, f"{len(rows)} rows")
        expect[q] = (cols, len(rows))
    con.close()

    samples: dict[str, list[float]] = {q: [] for q in queries}
    bad: list[str] = []
    order = list(queries)
    t_first = r.window_start()
    deadline = t_first + r.seconds
    i = 0
    n = len(order)
    t_pass = t_first
    while True:
        if i % n == 0 and i:
            # another whole pass only if it ends nearer the deadline
            now = time.perf_counter()
            if now + (now - t_pass) / 2 >= deadline:
                break
            t_pass = now
        q = order[i % n]
        i += 1
        r.attempted += 1
        if r.tracer is not None:
            r.tracer.set_op(f"{q}-{i}")
        span = (r.tracer.span(q, QUERY_LAYER[q]) if r.tracer is not None
                else contextlib.nullcontext())
        t0 = time.perf_counter()
        try:
            with span:
                pdf = queries[q](spark, sf_dir).toPandas()
        except Exception:  # noqa: BLE001 — count it, keep the loop going
            traceback.print_exc(file=sys.stderr)
            r.failed += 1
            continue
        samples[q].append((time.perf_counter() - t0) * 1000)
        if q not in expect or (list(pdf.columns), len(pdf)) != expect[q]:
            bad.append(q)
    t_last = r.window_end()
    r.check("timed_results_match_verified", not bad, ", ".join(sorted(set(bad))))

    lat = [x for v in samples.values() for x in v]
    query_ms = {q: stats.median(v) for q, v in samples.items() if v}
    print(f"analytics_suite: {len(lat)} queries in {t_last - t_first:.2f} s, "
          f"sum of per-query medians {sum(query_ms.values()) / 1000:.2f} s",
          file=sys.stderr)
    return {
        "t_first": t_first,
        "t_last": t_last,
        "harness_s": harness_s,
        "op_ms": lat,
        "visible_ms": lat,  # a query's result is visible when it returns
        "ops_per_s": len(lat) / max(1e-9, t_last - t_first),
        "query_ms": query_ms,
        "input_bytes": input_bytes,
        "ops": len(lat),
    }
