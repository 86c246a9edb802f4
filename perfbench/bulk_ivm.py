"""bulk_ivm: closed-loop bulk ingest that keeps IVM on the Spark paths.

One writer runs ops of one shape: an UPDATE and a DELETE, each of a
seeded range of groups, then a seeded pandas micro-batch of BATCH_ROWS
facts with ``insert(force_flush=True)``, whose FLUSH refreshes the MVs
over all three. The fact table feeds three MVs: a group-by with more
groups than the engine's direct-refresh result bound, a join-aggregate
against a dimension table, and a top-N. Deltas this size are above the
direct-refresh delta bound, so the Spark incremental and retraction IVM
paths and Spark job scheduling do most of the work.

An op costs about the same whatever its batch size (three Spark-path
MV refreshes of roughly 1.5-3 s each on a 4-CPU host), so a 10 s
window holds only one or two ops. Giving every op the same shape keeps
them alike, and every op retracts rows through both an UPDATE and a
DELETE. The warm-up is one such op over an unflushed first batch, so
its FLUSH already takes the retraction paths.

Beside the writer, one consumer drains the group-by MV's changelog
(visibility is timed from an op's start to the first delivery of its
MV delta), and one reader issues point and range ``fetch`` queries
against the MVs, sharing the engine lock and executor cores with the
writer.
"""

from __future__ import annotations

import sys
import threading
import time
import traceback

from perfbench import checks, datagen, stats

BATCH_ROWS = 20_000
N_GROUPS = 20_000     # > DIRECT_MAX_RESULT_ROWS
N_DIMS = 1_000
DML_GROUPS = 50       # groups each UPDATE and each DELETE touches
S = "pb"

# creation order is refresh order: the subscribed group-by MV goes last,
# so its delivery does not race the other refreshes for the engine lock
MVS = {
    f"{S}.fact_by_region":
        f"SELECT d.region, sum(f.qty) AS q, count(*) AS n FROM {S}.fact f "
        f"JOIN {S}.dim d ON f.dim = d.dim GROUP BY d.region",
    f"{S}.fact_top":
        "SELECT * FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY price DESC, id) "
        f"AS rn FROM {S}.fact) t WHERE rn <= 10",
    f"{S}.fact_by_grp":
        f"SELECT grp, sum(qty) AS q, count(*) AS n FROM {S}.fact GROUP BY grp",
}


def _next_op(gen: datagen.BulkBatches):
    """A writer op prepared outside the timed call: returns (fact rows
    it inserts, function that runs it against ``rw``)."""
    g_upd, g_del = (int(g) for g in gen.rng.integers(0, N_GROUPS - DML_GROUPS, 2))
    upd = (f"UPDATE {S}.fact SET qty = qty + 1 "
           f"WHERE grp BETWEEN {g_upd} AND {g_upd + DML_GROUPS - 1}")
    dele = f"DELETE FROM {S}.fact WHERE grp BETWEEN {g_del} AND {g_del + DML_GROUPS - 1}"
    batch = gen.batch()

    def op(rw) -> None:
        rw.execute(upd)
        rw.execute(dele)
        rw.insert(batch, "fact", schema_name=S, force_flush=True)

    return len(batch), op


def _read_op(rw, rng, j: int) -> None:
    g = int(rng.integers(0, N_GROUPS - 100))
    kind = j % 4
    if kind == 0:
        rw.fetch(f"SELECT q, n FROM {S}.fact_by_grp WHERE grp = {g}")
    elif kind == 1:
        rw.fetch(f"SELECT count(*), sum(q) FROM {S}.fact_by_grp "
                 f"WHERE grp BETWEEN {g} AND {g + 99}")
    elif kind == 2:
        rw.fetch(f"SELECT region, q, n FROM {S}.fact_by_region")
    else:
        rw.fetch(f"SELECT id, price FROM {S}.fact_top")


def run(r) -> dict:
    import numpy as np

    from risingwave_py_spark import OutputFormat, RisingWave

    rw = RisingWave(spark=r.spark)
    gen = datagen.BulkBatches(r.seed, BATCH_ROWS, N_GROUPS, N_DIMS)
    rw.execute(f"CREATE SCHEMA IF NOT EXISTS {S}")
    rw.execute(f"CREATE TABLE {S}.fact (id BIGINT, grp BIGINT, dim BIGINT, "
               "qty BIGINT, price DOUBLE)")
    rw.execute(f"CREATE TABLE {S}.dim (dim BIGINT, region STRING)")
    rw.insert(gen.dims(), "dim", schema_name=S, force_flush=True)
    for fq, stmt in MVS.items():
        rw.mv(schema_name=S, name=fq.split(".")[1], stmt=stmt)
    for fq in list(MVS)[:2]:
        rw.execute(f"CREATE SUBSCRIPTION {fq}_log FROM {fq} WITH (retention = '86400s')")

    deliveries: list[tuple[float, int, int]] = []  # (time, min epoch, max epoch)
    grp_log: list[tuple] = []
    stop = threading.Event()
    read_ms: list[float] = []
    read_counts = {"attempted": 0, "failed": 0}
    timed = threading.Event()
    # Plain SELECTs on an MV are not isolated from a Spark-path refresh's
    # table swap (a read that overlaps one fails with FILE_NOT_EXIST or
    # TABLE_OR_VIEW_NOT_FOUND), so the reader takes turns with the writer.
    turn = threading.Lock()

    def on_grp(batch: list) -> None:
        now = time.perf_counter()
        eps = [row[-1] for row in batch]
        deliveries.append((now, min(eps), max(eps)))
        grp_log.extend(tuple(row[:-1]) for row in batch)

    def consume() -> None:
        r.tag_thread()
        rw.on_change(subscribe_from="fact_by_grp", schema_name=S, handler=on_grp,
                     output_format=OutputFormat.RAW, max_batch_size=100_000,
                     _stop_event=stop)

    def read_loop() -> None:
        r.tag_thread()
        rng = np.random.default_rng(r.seed + 1)
        j = 0
        while not stop.is_set():
            try:
                with turn:
                    t0 = time.perf_counter()
                    _read_op(rw, rng, j)
                ok = True
            except Exception:  # noqa: BLE001 — count it, keep reading
                traceback.print_exc(file=sys.stderr)
                ok = False
            if timed.is_set():
                read_counts["attempted"] += 1
                if ok:
                    read_ms.append((time.perf_counter() - t0) * 1000)
                else:
                    read_counts["failed"] += 1
            j += 1

    consumer = threading.Thread(target=consume, daemon=True)
    consumer.start()
    while not rw.engine.cursors:
        time.sleep(0.01)
    reader = threading.Thread(target=read_loop, daemon=True)
    reader.start()

    with turn:
        rw.insert(gen.batch(), "fact", schema_name=S)
        _next_op(gen)[1](rw)
    ops: list[tuple[float, float, int, int, int]] = []  # start, ack, ep0, ep1, rows
    t_first = r.window_start()
    ds0 = dict(rw.engine.direct_stats)
    timed.set()
    k = 0
    rows_sent = 0
    while time.perf_counter() < t_first + r.seconds:
        if r.tracer is not None:
            r.tracer.set_op(f"write-{k}")
        n, op = _next_op(gen)
        r.attempted += 1
        try:
            with turn:
                ep0 = rw.engine.current_epoch
                t0 = time.perf_counter()
                op(rw)
                ops.append((t0, time.perf_counter(), ep0, rw.engine.current_epoch, n))
            rows_sent += n
        except Exception:  # noqa: BLE001 — count it, keep the loop going
            traceback.print_exc(file=sys.stderr)
            r.failed += 1
        k += 1
    t_last = r.window_end()
    timed.clear()
    # let the consumer deliver the last op's delta, then stop both threads
    last_ep = rw.engine.current_epoch
    deadline = time.perf_counter() + 30
    while ops and time.perf_counter() < deadline and not any(
            hi > ops[-1][2] for _, _, hi in deliveries):
        time.sleep(0.01)
    stop.set()
    consumer.join(timeout=60)
    reader.join(timeout=60)
    r.attempted += read_counts["attempted"]
    r.failed += read_counts["failed"]
    cur = f"{S}.risingwave_py_cursor_default_fact_by_grp_sub"
    while True:
        got = rw.fetch(f"FETCH 100000 FROM {cur}")
        if not got:
            break
        on_grp(got)

    # -- correctness -------------------------------------------------------
    delivered = {f"{S}.fact_by_grp": grp_log}
    for fq in MVS:
        if fq not in delivered:
            delivered[fq] = checks.drain_changelog(rw, f"{fq}_log", f"{fq}_check_cursor")
    checks.mv_checks(r, rw, MVS, delivered)
    r.check("delivery_in_epoch_order",
            all(a[2] < b[1] for a, b in zip(deliveries, deliveries[1:])),
            f"{len(deliveries)} deliveries")

    vis_ms = []
    for t0, _, ep0, ep1, _ in ops:
        first = next((t for t, lo, hi in deliveries if hi > ep0 and lo <= ep1), None)
        if first is not None:
            vis_ms.append((first - t0) * 1000)
    op_ms = [(ack - t0) * 1000 for t0, ack, *_ in ops]
    print(f"bulk_ivm: {len(ops)} write ops, {rows_sent} rows in {t_last - t_first:.2f} s; "
          f"{len(read_ms)} reads p50 {stats.pct(read_ms, 50):.0f} ms "
          f"p99 {stats.pct(read_ms, 99):.0f} ms; last epoch {last_ep}", file=sys.stderr)
    return {
        "t_first": t_first,
        "t_last": t_last,
        "op_ms": op_ms,
        "visible_ms": vis_ms,
        "ops_per_s": len(ops) / max(1e-9, t_last - t_first),
        "input_bytes": float(gen.next_id * 40 + N_DIMS * 16),
        "ops": len(ops) + len(read_ms),
        "direct_stats_delta": {k: rw.engine.direct_stats[k] - ds0[k] for k in ds0},
    }
