"""tick_stream: the reference SDK's own usage under an open loop.

One producer thread sends ticks at seeded random arrival times (a
fixed offered rate, below this host's saturation point); each event is
one ``insert_row(force_flush=True)`` into a tick table. The table feeds
the reference ``demo_simple`` shape: a RAW subscription on the table
and a tumble/``round(avg)`` MV, plus a group-by-symbol sum/count MV.

The subscription does not persist progress: a persisted progress
commit is a Spark-job upsert under the engine lock, and one per
delivery caps the pipeline near 1.3 ticks/s on a 4-CPU host, too few
events in a run for a steady median. The reference's DATAFRAME
subscription on the MV is left out as well: with a second consumer
thread converting each delivery to pandas, the run-to-run spread of
the median latencies doubled (to 18% and 29% over ten seeds).

Latency is timed from each event's scheduled due time, so a stall also
counts against the events queued behind it; how late the generator ran
is reported separately.
"""

from __future__ import annotations

import sys
import threading
import time
import traceback

import numpy as np

from perfbench import checks, datagen, stats

RATE = 2.0          # offered ticks per second
DEAD_S = 0.35       # shortest gap between two arrivals
# ticks sent back to back before the timed window: latency settles only
# after about 20 ticks (JIT warm-up), whatever the time they take
WARM_N = 40
DRAIN_S = 30.0      # how long to wait for the last deliveries
S = "pb"


def _arrivals(rng: np.random.Generator, n: int, span: float) -> np.ndarray:
    """``n`` arrival offsets in [0, span): exponential gaps on top of a
    DEAD_S dead time, scaled so that exactly ``n`` fit in the span."""
    e = rng.exponential(1.0, n + 1)
    gaps = DEAD_S + (span - DEAD_S * (n + 1)) * e / e.sum()
    return np.cumsum(gaps)[:n]


def schedule(seed: int, seconds: float) -> tuple[np.ndarray, list[dict], int]:
    """Warm-up plus timed arrivals; returns due offsets from the start
    of the timed window (0 for the warm-up ticks, which go back to
    back), rows and the index of the first timed event. Gaps are
    random (exponential) on top of a dead time longer than a tick's own
    service time, so the window's median is not set by a few
    seed-dependent clumps; the window holds exactly RATE arrivals per
    second, so throughput compares across seeds."""
    rng = np.random.default_rng(seed)
    due = np.concatenate([np.zeros(WARM_N),
                          _arrivals(rng, max(1, round(RATE * seconds)), seconds)])
    syms = datagen.zipf_symbols(rng, len(due))
    close = rng.integers(10_000, 50_001, len(due)) / 100.0
    vol = rng.integers(1, 1000, len(due))
    base = np.datetime64("2024-01-01T00:00:00", "ms")
    rows = [
        {"id": i, "symbol": str(syms[i]),
         "timestamp": (base + np.timedelta64(int(due[i] * 1000), "ms")).item(),
         "close": float(close[i]), "volume": int(vol[i])}
        for i in range(len(due))
    ]
    return due, rows, WARM_N


def _wait_for(cond, timeout: float) -> None:
    deadline = time.perf_counter() + timeout
    while time.perf_counter() < deadline and not cond():
        time.sleep(0.01)


def run(r) -> dict:
    from risingwave_py_spark import OutputFormat, RisingWave

    rw = RisingWave(spark=r.spark)
    rw.execute(f"CREATE SCHEMA IF NOT EXISTS {S}")
    rw.execute(f"CREATE TABLE {S}.tick (id BIGINT, symbol STRING, "
               "timestamp TIMESTAMP, close DOUBLE, volume BIGINT)")
    mvs = {
        f"{S}.tick_analytics":
            "SELECT window_start, window_end, symbol, round(avg(close)) AS avg_price "
            f"FROM tumble({S}.tick, timestamp, interval '10 seconds') "
            "GROUP BY window_start, window_end, symbol",
        f"{S}.tick_by_symbol":
            f"SELECT symbol, sum(volume) AS vol, count(*) AS n FROM {S}.tick "
            "GROUP BY symbol",
    }
    for fq, stmt in mvs.items():
        rw.mv(schema_name=S, name=fq.split(".")[1], stmt=stmt)
    for fq in mvs:  # for the changelog replay checks
        rw.execute(f"CREATE SUBSCRIPTION {fq}_log FROM {fq} WITH (retention = '86400s')")

    due, rows, n_warm = schedule(r.seed, r.seconds)
    arrivals: dict[int, float] = {}
    seen: list[int] = []
    raw_log: list[tuple] = []
    stop = threading.Event()

    def on_ticks(batch: list) -> None:
        now = time.perf_counter()
        for row in batch:
            seen.append(int(row[0]))
            arrivals.setdefault(int(row[0]), now)
            raw_log.append(tuple(row[:-1]))

    def consume() -> None:
        r.tag_thread()
        rw.on_change(subscribe_from="tick", schema_name=S, handler=on_ticks,
                     output_format=OutputFormat.RAW, max_batch_size=10,
                     _stop_event=stop)

    consumer = threading.Thread(target=consume, daemon=True)
    consumer.start()
    while not rw.engine.cursors:
        time.sleep(0.01)

    starts = np.zeros(len(rows))
    acks = np.full(len(rows), np.nan)
    t0 = time.perf_counter()
    t_first = None
    for i, row in enumerate(rows):
        if i == n_warm:
            # let the warm-up drain, then anchor the timed schedule so
            # its first due time is the start of the window
            _wait_for(lambda: all(j in arrivals for j in range(n_warm)
                                  if not np.isnan(acks[j])), DRAIN_S)
            t_first = t0 = r.window_start()
            ds0 = dict(rw.engine.direct_stats)
        wait = t0 + due[i] - time.perf_counter()
        if wait > 0:
            time.sleep(wait)
        starts[i] = time.perf_counter()
        if r.tracer is not None:
            r.tracer.set_op(f"tick-{i}")
        try:
            rw.insert_row("tick", schema_name=S, force_flush=True, **row)
            acks[i] = time.perf_counter()
        except Exception:  # noqa: BLE001 — count it, keep the loop going
            traceback.print_exc(file=sys.stderr)
            if i >= n_warm:
                r.failed += 1
        if i >= n_warm:
            r.attempted += 1
    t_last_ack = r.window_end()
    acked = [i for i in range(len(rows)) if not np.isnan(acks[i])]
    _wait_for(lambda: all(i in arrivals for i in acked), DRAIN_S)
    t_end = time.perf_counter()
    stop.set()
    consumer.join(timeout=30)
    # consumer stopped: deliver whatever is left through the same cursor
    while got := rw.fetch(f"FETCH 1000 FROM {S}.risingwave_py_cursor_default_tick_sub"):
        on_ticks(got)

    # -- correctness -------------------------------------------------------
    dup = len(seen) - len(set(seen))
    missing = [i for i in acked if i not in arrivals]
    r.check("raw_exactly_once", dup == 0 and not missing and set(seen) <= set(range(len(rows))),
            f"{len(seen)} delivered, {dup} duplicates, {len(missing)} missing")
    stored = checks.bag(tuple(x) for x in rw.engine.spark.table(f"{S}.tick").collect())
    d = checks.diff(checks.replay(raw_log), stored)
    r.check(f"replay:{S}.tick", not d, d or f"{len(raw_log)} changelog rows")
    delivered = {fq: checks.drain_changelog(rw, f"{fq}_log", f"{fq}_check_cursor")
                 for fq in mvs}
    checks.mv_checks(r, rw, mvs, delivered)

    timed = [i for i in range(n_warm, len(rows)) if not np.isnan(acks[i])]
    op_ms = [(acks[i] - (t0 + due[i])) * 1000 for i in timed]
    vis_ms = [(arrivals[i] - (t0 + due[i])) * 1000 for i in timed if i in arrivals]
    late_ms = [(starts[i] - (t0 + due[i])) * 1000 for i in range(n_warm, len(rows))]
    print(f"tick_stream: {len(timed)} timed events at {RATE}/s, "
          f"gen late p99 {stats.pct(late_ms, 99):.1f} ms, "
          f"drain {t_end - t_last_ack:.2f} s", file=sys.stderr)
    return {
        "t_first": t_first,
        "t_last": t_last_ack,
        "op_ms": op_ms,
        "visible_ms": vis_ms,
        "ops_per_s": len(timed) / max(1e-9, t_last_ack - t_first),
        "layer": {"harness.gen_late_ms_p99": stats.pct(late_ms, 99)},
        "input_bytes": float(sum(8 + len(x["symbol"]) + 8 + 8 + 8 for x in rows)),
        "ops": len(timed),
        "direct_stats_delta": {k: rw.engine.direct_stats[k] - ds0[k] for k in ds0},
    }
