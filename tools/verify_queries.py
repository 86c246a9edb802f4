"""Local replica of the driver's correctness gate.

Runs every `queries()` entry from __spark_entry__ on Spark, runs the
matching `oracle_sql()` on DuckDB over the same parquet tables, and
compares: row count, column names, and an order-insensitive value
hash (rows sorted, columns sorted by name). Floats are compared both
exactly and with a 1e-9 relative fallback report so we can tell a
hash-formatting mismatch from a real numeric divergence.

Usage:
  python tools/verify_queries.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import hashlib
import math
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def pandas_cell(v) -> str:
    """Normalize one pandas-path cell (Spark df.toPandas() / DuckDB
    .df()) to the canonical string a value-level driver hasher would
    agree on across both engines.

    Calibrated against three rounds of driver CORRECTNESS rows:
    int32-vs-int64, ns-vs-us timestamps, and date-vs-midnight-
    timestamp columns were all driver-GREEN (so they normalize equal
    here), while DuckDB HUGEINT→float64 ("9926.0" vs "9926") and
    Spark DECIMAL→object(Decimal) ("123.40" vs "123.4") were driver
    hash-RED — both stay UNEQUAL under this normalization, so a local
    pass implies a driver pass for every divergence class observed."""
    import decimal

    if v is None:
        return "NULL"
    # numpy scalar → python scalar (kills int32/int64, bool_ wrappers)
    if hasattr(v, "item") and getattr(v, "ndim", 1) == 0:
        v = v.item()
    if isinstance(v, (list, tuple)) or (
        hasattr(v, "tolist") and getattr(v, "ndim", 0) >= 1
    ):
        return "[" + ",".join(pandas_cell(x) for x in list(v)) + "]"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"  # deliberately != repr(float) — driver-red class
    if isinstance(v, bool):
        return str(int(v))
    try:  # pd.NaT isinstance-matches dt.datetime — normalize BEFORE it
        if v != v:
            return "NULL"
    except (TypeError, ValueError):
        pass
    if isinstance(v, dt.datetime):  # incl. pd.Timestamp
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, dt.date):
        # a DATE column may come back as TIMESTAMP-at-midnight from
        # the other engine's pandas conversion — observed driver-green
        return dt.datetime(v.year, v.month, v.day).isoformat(
            timespec="microseconds"
        )
    if v != v:  # pd.NaT / other NaN-likes
        return "NULL"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def pandas_repr_problems(pdf, odf) -> list[str]:
    """Compare the two results through the PANDAS path (the driver's
    apparent representation), cell-normalized by :func:`pandas_cell`.
    Catches representation divergences the collect()/fetchall() hash
    can't see while staying green on every pattern the real driver
    has accepted."""
    out: list[str] = []
    if sorted(pdf.columns) != sorted(odf.columns):
        return [f"pandas cols {sorted(pdf.columns)} != {sorted(odf.columns)}"]
    cols = sorted(pdf.columns)
    rows_s = sorted(
        "\x1f".join(pandas_cell(r[c]) for c in cols) for _, r in pdf.iterrows()
    )
    rows_o = sorted(
        "\x1f".join(pandas_cell(r[c]) for c in cols) for _, r in odf.iterrows()
    )
    for x, y in zip(rows_s, rows_o):
        if x != y:
            out.append(f"pandas row diff: {x[:120]} != {y[:120]}")
            if len(out) >= 3:
                break
    return out


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # repr of a double is the canonical shortest round-trip form
        return repr(float(v))
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_digest(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--repeat", type=int, default=1,
        help="run the sweep N times in ONE Spark session (session-reuse flakes)",
    )
    ap.add_argument(
        "--no-pandas", dest="pandas", action="store_false", default=True,
        help="skip the strict pandas-path (driver-representation) check",
    )
    ap.add_argument(
        "--no-arrow", action="store_true",
        help="disable Arrow pandas conversion on the session — replica of "
             "the driver environment where createDataFrame(pandas) takes "
             "the row-inference path (r12 select_distinct oracle fail)",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entrymod
    from risingwave_py_spark.session import build_session

    spark = build_session("verify")
    if args.no_arrow:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        p = f"{args.sf}/{t}.parquet"
        if os.path.isdir(p):  # Spark-written table dir (e.g. sf1 build)
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    names = args.names or list(qs)
    if args.repeat > 1:
        names = names * args.repeat
    n_pass = n_fail = n_rowsonly = 0
    for name in names:
        fn = qs[name]
        t0 = time.time()
        try:
            df = fn(spark, args.sf)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        dec_cols = [
            f.name for f in df.schema.fields
            if f.dataType.typeName().startswith("decimal")
        ]
        el = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(rows)} rows (no oracle) [{el:.1f}s]")
            n_rowsonly += 1
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if dec_cols:
            # Spark DECIMAL lands in pandas as object(decimal.Decimal)
            # while DuckDB DECIMAL lands as float64 — a driver that
            # compares through pandas sees a representation mismatch
            # even when values are identical (the window_filtered_agg
            # r3 red). Registry rule: CAST to DOUBLE on both sides.
            problems.append(f"spark DECIMAL output cols (cast to DOUBLE): {dec_cols}")
        # DuckDB HUGEINT (e.g. SUM over integers) becomes float64 via
        # pandas on the driver side while Spark emits int64 — invisible
        # to fetchall() (both give Python int) but a driver hash fail.
        # DESCRIBE is free; flag any HUGEINT output column.
        try:
            desc = con.execute(f"DESCRIBE {oracles[name]}").fetchall()
            huge = [d[0] for d in desc if "HUGEINT" in str(d[1]).upper()]
            if huge:
                problems.append(f"oracle HUGEINT cols (cast to BIGINT): {huge}")
        except Exception:  # noqa: BLE001  (DESCRIBE can't parse every stmt)
            pass
        if sorted(cols) != sorted(ocols):
            problems.append(f"cols spark={sorted(cols)} oracle={sorted(ocols)}")
        if len(rows) != len(orows):
            problems.append(f"rowcount spark={len(rows)} oracle={len(orows)}")
        if not problems and args.pandas:
            try:
                pdf = df.toPandas()
                odf = con.execute(oracles[name]).df()
                problems.extend(pandas_repr_problems(pdf, odf))
            except Exception as e:  # noqa: BLE001
                problems.append(f"pandas-path error: {e}")
        if not problems:
            hs, ho = table_digest(cols, rows), table_digest(ocols, orows)
            if hs != ho:
                problems.append(f"hash spark={hs} oracle={ho}")
                # diff first few mismatching sorted lines for debugging
                order_s = sorted(range(len(cols)), key=lambda i: cols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                ls = sorted("\x1f".join(norm_cell(r[i]) for i in order_s) for r in rows)
                lo = sorted("\x1f".join(norm_cell(r[i]) for i in order_o) for r in orows)
                shown = 0
                for a, b in zip(ls, lo):
                    if a != b:
                        print(f"      spark : {a[:160]}")
                        print(f"      oracle: {b[:160]}")
                        shown += 1
                        if shown >= 3:
                            break
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} [{el:.1f}s]")
            n_fail += 1
        else:
            print(f"ok    {name}: {len(rows)} rows [{el:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} ok, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
