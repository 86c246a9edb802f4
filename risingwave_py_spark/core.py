"""Public SDK: the reference's exact API surface on a Spark backend.

Parity target: ``RisingWave, RisingWaveConnOptions, RisingWaveConnection,
MaterializedView, Subscription, OutputFormat`` with the signatures of
/root/reference/risingwave/core.py (cited per method). Differences are
deliberate fixes of reference bugs (SURVEY.md §2.10): insert contexts
are keyed by schema-qualified name, ``close()`` works, and no SQL is
built by string interpolation of values.
"""

from __future__ import annotations

import asyncio
import inspect
import logging
import time
from collections.abc import Callable
from enum import Enum
from typing import Any

import pandas as pd

from risingwave_py_spark.engine import SparkEngine
from risingwave_py_spark.plans import rewrite as RW

logger = logging.getLogger(__name__)

# Reference defaults (core.py:20, core.py:68, core.py:368, core.py:372).
DEFAULT_CURSOR_IDLE_INTERVAL_MS = 100
DEFAULT_BUF_SIZE = 5

SubscriptionHandler = Callable[[Any], Any]  # sync or async (coroutine)


class OutputFormat(Enum):  # core.py:150-152
    RAW = 1
    DATAFRAME = 2


class RisingWaveConnOptions:
    """Connection options (core.py:125-147). The Spark engine is
    in-process, so these only shape the session (kept for API parity)."""

    def __init__(self, conn_str: str = ""):
        self.dsn = conn_str

    @classmethod
    def from_connection_info(
        cls, host: str = "localhost", port: int = 4566, user: str = "root",
        password: str = "", database: str = "dev", ssl: str = "disable",
    ) -> "RisingWaveConnOptions":
        return cls(f"postgresql://{user}:{password}@{host}:{port}/{database}?sslmode={ssl}")


def extract_rw_version(sql_version_output: str) -> str:
    """Parse 'PostgreSQL …-RisingWave-x.y.z …' → 'x.y.z' (core.py:40-59)."""
    import re

    m = re.search(r"RisingWave-(\d+\.\d+\.\d+)", sql_version_output)
    return m.group(1) if m else "1.7.0"


def _retry(f, interval_ms: int, times: int):  # core.py:24-37 behavior
    for i in range(times):
        try:
            return f()
        except Exception as e:  # noqa: BLE001
            if i == times - 1:
                raise
            logger.warning("retrying after error: %s", e)
            time.sleep(interval_ms / 1000)
    return None


class InsertContext:
    """Buffered multi-row insert machinery (core.py:62-122).

    Differences from the reference: the buffer is keyed by
    schema-qualified name by the caller (bug fix, §2.10), no SQL string
    rendering/quoting — rows go through ``spark.createDataFrame`` with
    the table's schema (injection-free, type-checked)."""

    def __init__(self, engine: SparkEngine, table_name: str,
                 schema_name: str = "public", buf_size: int = DEFAULT_BUF_SIZE):
        self.engine = engine
        self.schema_name = schema_name
        self.table_name = table_name
        self.fq = engine.qualify(table_name, schema_name)
        self.cols: list[str] = engine.list_columns(table_name, schema_name)
        self.schema = engine.table_schema(table_name, schema_name)
        self.data_buf: list[dict] = []
        self.buf_size = buf_size

        def bulk_insert(**cols):
            self.data_buf.append(cols)
            if len(self.data_buf) >= self.buf_size:
                self.flush()

        def insert(**cols):
            self.data_buf.append(cols)
            self.flush()

        self.bulk_insert_func = bulk_insert
        self.insert_func = insert

    def flush(self) -> None:
        if not self.data_buf:
            return
        rows = []
        for row in self.data_buf:
            vals = {}
            for col in self.cols:
                if col in row:
                    vals[col] = row[col]
                else:
                    logger.warning("column %s not found in row, set to null", col)
                    vals[col] = None
            rows.append(vals)
        tuples = [tuple(r[c] for c in self.cols) for r in rows]
        # Direct row-group ingest (zero Spark jobs) for the buffered
        # client path; None -> Spark-job path (upsert tables, complex
        # column types, uncoercible values — createDataFrame keeps the
        # type-checking contract there).
        if self.engine.insert_rows_local(
            self.table_name, tuples, self.schema, self.schema_name
        ) is None:
            df = self.engine.spark.createDataFrame(tuples, self.schema)
            self.engine.insert_df(self.table_name, df, self.schema_name)
        self.data_buf = []
        self.engine.flush()  # read-your-writes barrier (core.py:121)


class RisingWaveConnection:
    """Query/ingest surface (core.py:155-427)."""

    def __init__(self, engine: SparkEngine, rw_version: str | None = None):
        self.engine = engine
        self.rw_version = rw_version or extract_rw_version(engine.version_string)
        self._insert_ctx: dict[str, InsertContext] = {}

    # -- query path (EP1, SURVEY §3) ----------------------------------

    @staticmethod
    def _bind_args(args):
        """Normalize reference-style ``*args`` bind parameters to what
        ``spark.sql`` accepts: one dict → named ``:name`` parameters
        (the same marker syntax SQLAlchemy ``text()`` uses, which is
        where the reference forwards its args —
        /root/reference/risingwave/core.py:176,202,234); one list/tuple
        or several scalars → positional ``?`` parameters."""
        if not args:
            return None
        if len(args) == 1 and isinstance(args[0], dict):
            return args[0]
        if len(args) == 1 and isinstance(args[0], (list, tuple)):
            return list(args[0])
        return list(args)

    def execute(self, sql: str, *args) -> None:
        """Run a statement for effect (core.py:161-181)."""
        self._dispatch(sql, params=self._bind_args(args))

    def fetch(self, sql: str, format: OutputFormat = OutputFormat.RAW, *args):
        """Run a query, return all rows (core.py:183-212)."""
        result = self._dispatch(sql, params=self._bind_args(args))
        if result is None:
            result = ([], [])
        cols, rows = result
        if format == OutputFormat.DATAFRAME:
            return pd.DataFrame(data=rows, columns=cols)
        return rows

    def fetchone(self, sql: str, format: OutputFormat = OutputFormat.RAW, *args):
        """Run a query, return the first row or None (core.py:215-243).
        Plain queries collect ONE row (limit pushed into the plan),
        not the full result."""
        cols, rows = self._dispatch(
            sql, limit=1, params=self._bind_args(args)
        ) or ([], [])
        if not rows:
            return None
        if format == OutputFormat.DATAFRAME:
            return pd.DataFrame(data=rows[:1], columns=cols)
        return rows[0]

    def _dispatch(self, sql: str, limit: int | None = None, params=None):
        """Route a statement: engine-protocol commands vs Spark SQL.
        ``limit`` caps plain-query collection (fetchone's path);
        ``params`` bind into plain queries and INSERT source queries
        (the statement classes where bind markers make sense —
        engine-protocol DDL takes none)."""
        eng = self.engine
        cmd = RW.classify(sql)
        k, p = cmd.kind, cmd.params
        if params and k in ("UPDATE_ROWS", "DELETE_ROWS"):
            # DML fragments evaluate via F.expr (no bind channel):
            # inline values as SQL literals, positional markers
            # consumed in statement order (SET, then WHERE, then
            # RETURNING) — the reference forwards *args to SQLAlchemy
            # text() for every statement class (core.py:176).
            p["set"], p["where"], p["ret"] = RW.inline_params(
                [p.get("set"), p.get("where"), p.get("ret")], params
            )
            p = {key: v for key, v in p.items() if v is not None}
            params = None
        if params and k not in ("QUERY", "INSERT"):
            raise NotImplementedError(
                f"bind parameters are not supported for {k} statements "
                f"— inline literals (queries, INSERT, UPDATE and "
                f"DELETE take :name/? markers)"
            )
        if k == "FLUSH":
            eng.flush()
            return None
        if k == "CREATE_SCHEMA":
            eng.create_schema(p["name"])
            return None
        if k == "DROP_SCHEMA":
            eng.drop_schema(p["name"])
            return None
        if k == "CREATE_TABLE":
            cols_sql, watermark = RW.extract_watermark(p["cols"])
            cols, pks = RW.parse_columns(cols_sql)
            bucket_by, buckets = None, None
            if p.get("props"):
                props = RW.parse_source_props(p["props"])
                unknown = set(props) - {"bucket_by", "buckets"}
                if unknown:
                    raise ValueError(
                        f"unsupported CREATE TABLE properties: "
                        f"{sorted(unknown)} (supported: bucket_by, buckets)"
                    )
                if "bucket_by" in props:
                    bucket_by = [
                        c.strip() for c in props["bucket_by"].split(",")
                    ]
                if "buckets" in props:
                    buckets = int(props["buckets"])
            eng.create_table(
                p["name"], cols, pk_cols=pks or None, version_col=p.get("vcol"),
                ignore_exist="ine" in p, watermark=watermark,
                bucket_by=bucket_by, buckets=buckets,
            )
            return None
        if k == "DROP_TABLE":
            eng.drop_table(p["name"])
            return None
        if k == "CREATE_MV":
            eng.create_mv(p["name"], p["stmt"], ignore_exist="ine" in p)
            return None
        if k == "DROP_MV":
            eng.drop_mv(p["name"])
            return None
        if k == "CREATE_SUB":
            retention = p.get("retention", "86400s")
            eng.create_subscription(
                p["name"], p["from"],
                retention_s=int(str(retention).rstrip("s") or 86400),
                ignore_exist="ine" in p,
            )
            return None
        if k == "DROP_SUB":
            eng.drop_subscription(p["name"])
            return None
        if k == "CREATE_SOURCE":
            eng.create_source(
                p["name"], RW.parse_source_props(p["props"]), ignore_exist="ine" in p
            )
            return None
        if k == "DROP_SOURCE":
            eng.drop_source(p["name"])
            return None
        if k == "CREATE_SINK":
            eng.create_sink(
                p["name"],
                RW.parse_source_props(p["props"]),
                from_rel=p.get("rel"),
                stmt=p.get("stmt"),
                ignore_exist="ine" in p,
            )
            return None
        if k == "DROP_SINK":
            eng.drop_sink(p["name"])
            return None
        if k == "CREATE_FUNCTION":
            eng.create_function(
                p["name"], p["rettype"], p["body"], ignore_exist="ine" in p
            )
            return None
        if k == "DROP_FUNCTION":
            eng.drop_function(p["name"])
            return None
        if k == "ALTER_ADD_COLUMN":
            eng.add_column(p["name"], p["col"], p["type"])
            self._invalidate_insert_ctx(p["name"])
            return None
        if k == "ALTER_DROP_COLUMN":
            eng.drop_column(p["name"], p["col"])
            self._invalidate_insert_ctx(p["name"])
            return None
        if k == "ALTER_RENAME":
            eng.rename_table(p["name"], p["new"])
            self._invalidate_insert_ctx(p["name"])
            return None
        if k == "ALTER_MV_RENAME":
            eng.rename_mv(p["name"], p["new"])
            return None
        if k == "SHOW_OBJECTS":
            return eng.show_objects(p["what"], p.get("schema"))
        if k in ("SHOW_COLUMNS", "DESCRIBE"):
            return eng.describe(p["name"])
        if k == "SHOW_CREATE":
            return eng.show_create(p["name"])
        if k == "SET_VAR":
            eng.set_var(p.get("key") or "timezone", p.get("val") or p.get("tz") or "")
            return None
        if k == "SHOW_VAR":
            return eng.show_var(p["key"])
        if k == "EXPLAIN":
            return eng.explain(p["stmt"])
        if k == "CREATE_INDEX":
            eng.create_index(
                p["name"], p["table"],
                [c.strip() for c in p["cols"].split(",") if c.strip()],
                ignore_exist="ine" in p,
            )
            return None
        if k == "DROP_INDEX":
            eng.drop_index(p["name"])
            return None
        if k == "SHOW_INDEXES":
            return eng.show_indexes(p["table"])
        if k == "DELETE_ROWS":
            res = eng.delete_rows(p["name"], p.get("where"), returning=p.get("ret"))
            return res if "ret" in p else None
        if k == "UPDATE_ROWS":
            res = eng.update_rows(p["name"], RW.split_assignments(p["set"]),
                                  p.get("where"), returning=p.get("ret"))
            return res if "ret" in p else None
        if k == "DECLARE_CURSOR":
            since = int(p["since"]) if "since" in p else None
            eng.declare_cursor(p["name"], p["sub"], since)
            return None
        if k == "FETCH_CURSOR":
            return eng.fetch_cursor(p["name"], int(p["n"]))
        if k == "INSERT":
            rest = p["rest"]
            listed = (
                [c.strip() for c in p["cols"].split(",")]
                if p.get("cols")
                else None
            )
            if rest.upper().startswith("VALUES"):
                names = listed or eng.list_columns(p["name"])
                src = eng.sql(
                    f"SELECT * FROM ({rest}) AS __v({', '.join(names)})",
                    args=params,
                )
            else:
                # SQL semantics: SELECT output maps to the target (or
                # the explicit column list) POSITIONALLY — never by
                # the source's own column names.
                src = eng.sql(rest, args=params)
                names = listed or eng.list_columns(p["name"])
                if len(src.columns) != len(names):
                    raise RuntimeError(
                        f"INSERT ... SELECT provides {len(src.columns)} "
                        f"columns for {len(names)} target columns"
                    )
                src = src.toDF(*names)
            # align to full table schema (missing cols → NULL)
            full = eng.list_columns(p["name"])
            from pyspark.sql import functions as F

            src = src.select(
                *[
                    (F.col(c) if c in names else F.lit(None)).alias(c)
                    for c in full
                ]
            )
            target_schema = eng.table_schema(p["name"])
            src = src.select(
                *[F.col(f.name).cast(f.dataType) for f in target_schema.fields]
            )
            if "ret" in p:
                src = src.localCheckpoint(eager=True)  # stable across insert+project
            eng.insert_df(p["name"], src)
            if "ret" in p:
                return eng._returning(src, p["ret"])
            return None
        # plain query
        df = eng.sql(sql, args=params)
        if limit is not None:
            df = df.limit(limit)
        rows = df.collect()
        return df.columns, [tuple(r) for r in rows]

    # -- ingest path (EP3, SURVEY §3) ----------------------------------

    def insert(self, data: pd.DataFrame, table_name: str,
               schema_name: str = "public", force_flush: bool = False) -> None:
        """Append a pandas DataFrame, creating the table if absent
        (core.py:245-293)."""
        key = f"{schema_name}.{table_name}"
        if key in self._insert_ctx:
            self._insert_ctx[key].flush()
        sdf = self._pandas_to_spark(data, table_name, schema_name)
        fq = self.engine.qualify(table_name, schema_name)
        if self.engine.spark.catalog.tableExists(fq):
            # insert_df appends POSITIONALLY (insertInto); a pandas
            # frame with the same columns in another order must be
            # realigned by name first or values land in wrong columns.
            tbl_cols = self.engine.list_columns(table_name, schema_name)
            if set(sdf.columns) == set(tbl_cols) and sdf.columns != tbl_cols:
                sdf = sdf.select(*tbl_cols)
        self.engine.insert_df(table_name, sdf, schema_name)
        if force_flush:
            self.engine.flush()

    def _pandas_to_spark(self, data: pd.DataFrame, table_name: str,
                         schema_name: str):
        """Create a Spark DataFrame from a pandas frame without relying
        on type inference for columns it cannot infer.

        ``createDataFrame(pdf)`` with no schema raises
        CANNOT_DETERMINE_TYPE on an all-None object column whenever the
        session takes the non-Arrow inference path — and the Arrow conf
        belongs to the caller's session, so the public insert path must
        not depend on it.  Those columns get an explicit type: the
        target table's column type by name when the table exists,
        StringType otherwise.  Every other column keeps plain inference
        so previously-working inserts behave identically.
        """
        spark = self.engine.spark
        cols = list(data.columns)
        untyped = [c for c in cols
                   if data[c].dtype == object and data[c].isna().all()]
        if not untyped:
            return spark.createDataFrame(data)
        from pyspark.sql import types as T

        by_name: dict = {}
        fq = self.engine.qualify(table_name, schema_name)
        if spark.catalog.tableExists(fq):
            by_name = {
                f.name: f.dataType
                for f in self.engine.table_schema(table_name, schema_name).fields
            }
        typed = data.drop(columns=untyped)
        inferred = (
            {f.name: f for f in spark.createDataFrame(typed).schema.fields}
            if len(typed.columns) else {}
        )
        fields = [
            inferred[c] if c in inferred
            else T.StructField(c, by_name.get(c, T.StringType()), True)
            for c in cols
        ]
        return spark.createDataFrame(data, schema=T.StructType(fields))

    def insert_row(self, table_name: str, schema_name: str = "public",
                   force_flush: bool = False, **cols) -> None:
        """Buffered single-row insert (core.py:295-336); flushes every
        ``buf_size`` rows (default 5) or immediately on force_flush."""
        key = f"{schema_name}.{table_name}"  # consistent keying (§2.10 fix)
        if key not in self._insert_ctx:
            self._insert_ctx[key] = InsertContext(self.engine, table_name, schema_name)
        ctx = self._insert_ctx[key]
        if force_flush:
            ctx.insert_func(**cols)
        else:
            ctx.bulk_insert_func(**cols)

    def _invalidate_insert_ctx(self, name: str) -> None:
        """Drop cached insert contexts for a table whose schema just
        changed (ALTER): their prebuilt column lists are stale."""
        short = self.engine.qualify(name).split(".", 1)[1]
        # keys are always "schema.table"; suffix match may over-
        # invalidate a same-named table in another schema (harmless —
        # the context just rebuilds on next use)
        for key in [k for k in self._insert_ctx if k.endswith(f".{short}")]:
            del self._insert_ctx[key]

    # -- catalog -------------------------------------------------------

    def check_exist(self, name: str, schema_name: str = "public") -> bool:
        """information_schema-backed existence check (core.py:338-352)."""
        nm = name.replace("'", "''")
        sc = schema_name.replace("'", "''")
        result = self.fetch(
            f"SELECT * FROM information_schema.tables WHERE table_name = '{nm}' "
            f"and table_schema = '{sc}'"
        )
        return result is not None and len(result) > 0

    def close(self) -> None:
        pass  # in-process engine; nothing to close (reference bug §2.10 fixed)

    def __enter__(self):
        return self

    def __exit__(self, exc_type, exc_value, traceback):
        self.close()

    # -- subscriptions (EP2, SURVEY §3) ---------------------------------

    def on_change(
        self,
        subscribe_from: str,
        handler: SubscriptionHandler,
        max_batch_size: int = 10,
        schema_name: str = "public",
        sub_name: str = "",
        output_format: OutputFormat = OutputFormat.RAW,
        retention_seconds: int = 86400,
        persist_progress: bool = False,
        error_if_not_exist: bool = False,
        _stop_when_idle: bool = False,
        _stop_event=None,
    ) -> None:
        """Blocking changelog consumption loop (core.py:364-427).

        A commit to the subscribed relation's changelog wakes the loop
        at once; the reference's 100 ms idle interval is now only an
        upper bound on the wait (see Subscription._run).

        ``_stop_when_idle`` / ``_stop_event`` are engine extensions
        (not in the reference): return when the changelog is drained /
        when the event is set — the reference offers only
        KeyboardInterrupt to leave the loop (core.py:558-560)."""
        if tuple(map(int, self.rw_version.split("."))) < (2, 0, 0):
            raise RuntimeError(
                "on_change is not supported in RisingWave version < 2.0.0. "
                "Please upgrade RisingWave."
            )

        def check():
            if not self.check_exist(name=subscribe_from, schema_name=schema_name):
                raise RuntimeError(
                    f"table {subscribe_from} does not exist in schema {schema_name}. "
                    "Please create the table first."
                )

        if error_if_not_exist:
            check()
        else:
            _retry(check, 1000, 60)

        if sub_name == "":
            sub_name = f"{subscribe_from}_sub"  # core.py:415-416

        sub = Subscription(
            conn=self, handler=handler, schema_name=schema_name, sub_name=sub_name,
            subscribe_from=subscribe_from, retention_seconds=retention_seconds,
            persist_progress=persist_progress,
        )
        sub._run(output_format, max_batch_size, stop_when_idle=_stop_when_idle,
                 stop_event=_stop_event)


class MaterializedView:
    """Continuously maintained query result (core.py:430-480)."""

    def __init__(self, conn: RisingWaveConnection, schema_name: str, name: str,
                 stmt: str, rw_version: str):
        self.conn = conn
        self.schema_name = schema_name
        self.name = name
        self.stmt = stmt
        self.rw_version = rw_version

    def _create(self, ignore_exist: bool = True) -> None:
        ine = "IF NOT EXISTS " if ignore_exist else ""
        self.conn.execute(
            f"CREATE MATERIALIZED VIEW {ine}{self.schema_name}.{self.name} AS {self.stmt}"
        )

    def _delete(self) -> None:
        self.conn.execute(f"DROP MATERIALIZED VIEW {self.schema_name}.{self.name}")

    def on_change(self, handler: SubscriptionHandler,
                  output_format: OutputFormat = OutputFormat.RAW, sub_name: str = "",
                  retention_seconds: int = 86400, persist_progress: bool = False,
                  max_batch_size: int = 10, _stop_when_idle: bool = False,
                  _stop_event=None) -> None:
        self.conn.on_change(
            subscribe_from=self.name, schema_name=self.schema_name, handler=handler,
            sub_name=sub_name, retention_seconds=retention_seconds,
            persist_progress=persist_progress, output_format=output_format,
            max_batch_size=max_batch_size, _stop_when_idle=_stop_when_idle,
            _stop_event=_stop_event,
        )


class Subscription:
    """Durable changelog reader (core.py:483-560)."""

    def __init__(self, conn: RisingWaveConnection, handler: SubscriptionHandler,
                 schema_name: str, sub_name: str, subscribe_from: str,
                 retention_seconds: int, persist_progress: bool = True):
        self.conn = conn
        self.sub_name = sub_name
        self.schema_name = schema_name
        self.handler = handler
        self.persist_progress = persist_progress
        _retry(
            lambda: self.conn.execute(
                f"CREATE SUBSCRIPTION IF NOT EXISTS {schema_name}.{sub_name} "
                f"FROM {schema_name}.{subscribe_from} WITH (retention = '{retention_seconds}s')"
            ),
            1000, 5,
        )
        if self.persist_progress:
            _retry(
                lambda: self.conn.execute(
                    "CREATE TABLE IF NOT EXISTS risingwave_py_sub_progress "
                    "(sub_name STRING PRIMARY KEY, progress BIGINT) "
                    "ON CONFLICT DO UPDATE IF NOT NULL WITH VERSION COLUMN(progress)"
                ),
                1000, 5,
            )

    def _run(self, output_format: OutputFormat, max_batch_size: int,
             wait_interval_ms: int = DEFAULT_CURSOR_IDLE_INTERVAL_MS,
             cursor_name: str = "default", stop_when_idle: bool = False,
             stop_event=None) -> None:
        """FETCH and hand each non-empty batch to the handler until
        stopped. After an empty FETCH the loop waits for the next
        commit to the subscribed changelog, for at most
        ``wait_interval_ms``: the interval is an upper bound, not a
        poll period. The cap covers commits that do not notify this
        engine (another engine's, for one) and bounds how long
        ``stop_event`` takes to end the loop."""
        cursor = f"{self.schema_name}.risingwave_py_cursor_{cursor_name}_{self.sub_name}"
        fq_sub = f"{self.schema_name}.{self.sub_name}"

        progress_row = None
        if self.persist_progress:
            progress_row = self.conn.fetchone(
                f"SELECT progress FROM risingwave_py_sub_progress "
                f"WHERE sub_name = '{fq_sub}'"
            )
        if progress_row is not None:
            self.conn.execute(
                f"DECLARE {cursor} subscription cursor for {fq_sub} SINCE {progress_row[0]}"
            )
        else:
            self.conn.execute(f"DECLARE {cursor} subscription cursor for {fq_sub}")

        eng = self.conn.engine
        while True:
            if stop_event is not None and stop_event.is_set():
                break
            try:
                # read BEFORE the FETCH: a commit landing during it
                # then ends the wait below at once
                seen = eng.cursor_commits(cursor)
                data = self.conn.fetch(
                    f"FETCH {max_batch_size} FROM {cursor}", format=output_format
                )
                if data is None or len(data) == 0:
                    if stop_when_idle:
                        break
                    eng.wait_cursor_commit(cursor, seen, wait_interval_ms / 1000)
                    continue
                out = self.handler(data)
                # The reference TYPES handlers Awaitable (core.py:18)
                # but calls them synchronously (core.py:549); accept a
                # coroutine handler and drive it to completion so async
                # handlers work instead of silently never running.
                if inspect.iscoroutine(out):
                    asyncio.run(out)
                if self.persist_progress:
                    if output_format == OutputFormat.DATAFRAME:
                        progress = data["rw_timestamp"].iloc[-1]
                    else:
                        progress = data[-1][-1]
                    safe_sub = str(fq_sub).replace("'", "''")
                    self.conn.execute(
                        f"INSERT INTO risingwave_py_sub_progress (sub_name, progress) "
                        f"VALUES ('{safe_sub}', {int(progress)})"
                    )
            except KeyboardInterrupt:
                logger.info("subscription %s is interrupted", fq_sub)
                break


class RisingWave(RisingWaveConnection):
    """Entry point (core.py:563-648). No conn options → in-process Spark
    engine (the reference would spawn a local server, core.py:575-606)."""

    def __init__(self, conn_options: RisingWaveConnOptions | None = None,
                 spark=None):
        self.options = conn_options
        self.engine_backend = SparkEngine(spark=spark)
        super().__init__(self.engine_backend)
        self.local_risingwave = None

    def getconn(self) -> RisingWaveConnection:
        return RisingWaveConnection(self.engine_backend, self.rw_version)

    def register_udf(self, name: str, fn, return_type: str = "STRING") -> None:
        """Programmatic UDF registration (engine extension beyond the
        reference, SURVEY §2.9): exposes Spark's UDF machinery through
        the SDK. ``fn`` may be a plain callable (row UDF) or an
        already-decorated ``pandas_udf`` (vectorized, the fast path —
        such UDFs carry their own return type)."""
        # pandas_udf / udf decorators return wrappers that carry their
        # own returnType — Spark rejects an explicit type for those.
        if hasattr(fn, "returnType"):
            self.engine.spark.udf.register(name, fn)
        else:
            self.engine.spark.udf.register(name, fn, return_type)
        self.engine.udfs[name] = return_type

    def close(self) -> None:
        pass

    def mv(self, stmt: str, name: str, schema_name: str = "public") -> MaterializedView:
        """Create a materialized view (core.py:622-648)."""
        mv = MaterializedView(self.getconn(), schema_name, name, stmt, self.rw_version)
        mv._create()
        return mv
