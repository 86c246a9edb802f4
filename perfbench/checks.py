"""Correctness checks shared by the streaming workloads.

Rows are compared as multisets of canonical strings built with the
repository's own oracle normalization (``tools/verify_queries.py``'s
``norm_cell``), so a Python datetime and a pandas Timestamp, or an int
and a numpy int64, compare equal while any value difference does not.
"""

from __future__ import annotations

from collections import Counter

from tools.verify_queries import norm_cell

ADD_OPS = ("Insert", "UpdateInsert")
DEL_OPS = ("Delete", "UpdateDelete")


def canon(row) -> str:
    return "\x1f".join(norm_cell(v.item() if hasattr(v, "item") else v) for v in row)


def replay(changelog: list[tuple]) -> Counter:
    """Fold (payload..., op) rows into the multiset they describe. Zero
    counts are dropped; a negative count (a row retracted more often
    than it was added, as after a lost Insert or UpdateInsert) is kept,
    so that ``diff`` reports it."""
    bag: Counter = Counter()
    for row in changelog:
        key, op = canon(row[:-1]), row[-1]
        if op in ADD_OPS:
            bag[key] += 1
        elif op in DEL_OPS:
            bag[key] -= 1
        else:
            raise ValueError(f"unknown changelog op {op!r}")
    return Counter({k: v for k, v in bag.items() if v})


def bag(rows) -> Counter:
    return Counter(canon(r) for r in rows)


def diff(a: Counter, b: Counter) -> str:
    """Empty when the multisets are equal; otherwise what differs,
    including any row ``a`` holds a negative number of times."""
    negative = [k for k, v in a.items() if v < 0]
    extra, missing = a - b, b - a
    if not extra and not missing and not negative:
        return ""
    return (f"{sum(extra.values())} extra, {sum(missing.values())} missing, "
            f"{len(negative)} negative; "
            f"e.g. {list(extra)[:1]} / {list(missing)[:1]} / {negative[:1]}")


def mv_checks(run, rw, mvs: dict[str, str], delivered: dict[str, list[tuple]]) -> None:
    """For each MV: its stored contents equal a fresh recompute of its
    SQL, and replaying its delivered changelog (payload..., op) from
    creation reproduces those contents."""
    eng = rw.engine
    for fq, stmt in mvs.items():
        stored = bag(tuple(r) for r in eng.spark.table(fq).collect())
        fresh = bag(tuple(r) for r in eng.sql(stmt).collect())
        d = diff(stored, fresh)
        run.check(f"recompute:{fq}", not d, d or f"{sum(stored.values())} rows")
        if fq in delivered:
            d = diff(replay(delivered[fq]), stored)
            run.check(f"replay:{fq}", not d,
                      d or f"{len(delivered[fq])} changelog rows")


def drain_changelog(rw, sub_fq: str, cursor: str) -> list[tuple]:
    """The whole changelog of ``sub_fq``'s relation since epoch 0, read
    through a fresh cursor, as (payload..., op) rows."""
    rw.execute(f"DECLARE {cursor} SUBSCRIPTION CURSOR FOR {sub_fq} SINCE 0")
    out: list[tuple] = []
    while True:
        rows = rw.fetch(f"FETCH 100000 FROM {cursor}")
        if not rows:
            return out
        out.extend(tuple(r[:-1]) for r in rows)
