"""Operator smoke tests over the sf0.001 fixtures: every registered
query runs and returns a sane shape. Full value-correctness vs DuckDB
is tools/verify_queries.py (and the driver's gate)."""

from __future__ import annotations

import pytest
# Long-running sweep: excluded from the default fast lane (pyproject addopts
# -m "not slow"); the full suite runs it via -m "slow or not slow".
pytestmark = pytest.mark.slow


from risingwave_py_spark import registry

registry.load_all()


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_query_runs(spark, sf_dir, name):
    df = registry.QUERIES[name](spark, sf_dir)
    rows = df.collect()
    assert df.columns, name
    assert rows is not None


def test_every_oracle_has_query():
    assert set(registry.ORACLES) <= set(registry.QUERIES)


def test_every_registered_callable_takes_spark_and_sf_dir():
    """A misplaced @register decorator (e.g. landing on a helper when
    code is inserted between decorator and def) registers a callable
    with the wrong arity; the driver then crashes with TypeError.
    Guard the whole registry by signature, re-registering every
    module's queries into a fresh registry."""
    import inspect
    import importlib

    saved_q, saved_o = dict(registry.QUERIES), dict(registry.ORACLES)
    try:
        registry.QUERIES.clear()
        registry.ORACLES.clear()
        for mod in (
            "risingwave_py_spark.operators.relational",
            "risingwave_py_spark.operators.time_windows",
            "risingwave_py_spark.operators.analytic",
            "risingwave_py_spark.operators.tpch_extra",
            "risingwave_py_spark.functions.dedup",
            "risingwave_py_spark.functions.vectors",
            "risingwave_py_spark.functions.text",
            "risingwave_py_spark.functions.multimodal",
            "risingwave_py_spark.functions.sampling",
            "risingwave_py_spark.streaming.demo_queries",
        ):
            importlib.reload(importlib.import_module(mod))
        for name, fn in registry.QUERIES.items():
            params = [
                p
                for p in inspect.signature(fn).parameters.values()
                if p.default is inspect.Parameter.empty
                and p.kind
                in (
                    inspect.Parameter.POSITIONAL_ONLY,
                    inspect.Parameter.POSITIONAL_OR_KEYWORD,
                )
            ]
            assert len(params) == 2, (name, fn)
    finally:
        registry.QUERIES.clear()
        registry.QUERIES.update(saved_q)
        registry.ORACLES.clear()
        registry.ORACLES.update(saved_o)


def test_q1_values(spark, sf_dir):
    rows = {
        (r.l_returnflag, r.l_linestatus): r
        for r in registry.QUERIES["q1_pricing_summary"](spark, sf_dir).collect()
    }
    total = sum(r.count_order for r in rows.values())
    from pyspark.sql import functions as F

    from risingwave_py_spark.catalog import table

    expected = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("2001-09-02"))
        .count()
    )
    assert total == expected
    for r in rows.values():
        assert abs(r.avg_qty - r.sum_qty / r.count_order) < 1e-9


def test_multimodal_resize_plumbing(spark, sf_dir):
    """Resize: 1-in-1-out Arrow map over image payloads — stable
    schema, deterministic stub pixels, no shuffle in the plan."""
    from risingwave_py_spark.catalog import table
    from risingwave_py_spark.functions.multimodal import resize_images, with_payload

    base = with_payload(table(spark, sf_dir, "documents").filter("doc_id < 60"))
    out = resize_images(base, height=128, width=96)
    rows = out.collect()
    assert rows and all(r.height == 128 and r.width == 96 and r.n_channels == 3
                        for r in rows)
    assert len({r.pixels_head for r in rows}) > 1  # payload-dependent
    again = {(r.doc_id, r.pixels_head) for r in resize_images(base, 128, 96).collect()}
    assert again == {(r.doc_id, r.pixels_head) for r in rows}  # deterministic
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure map


def test_multimodal_frame_sampling_expands_rows(spark, sf_dir):
    from risingwave_py_spark.catalog import table
    from risingwave_py_spark.functions.multimodal import sample_frames, with_payload

    base = with_payload(table(spark, sf_dir, "documents").filter("doc_id < 60"))
    out = sample_frames(base, every_s=0.5, max_frames=3).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert by_doc  # some docs are video-modality
    for doc, frames in by_doc.items():
        idxs = sorted(f.frame_idx for f in frames)
        assert idxs == list(range(len(idxs)))  # dense frame indices
        assert all(abs(f.ts_s - f.frame_idx * 0.5) < 1e-9 for f in frames)
        assert len(frames) <= 3


def test_dedup_components_invariants(spark, sf_dir):
    from pyspark.sql import functions as F

    from risingwave_py_spark.catalog import table

    rows = registry.QUERIES["dedup_components"](spark, sf_dir).collect()
    n_docs = table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs  # every document gets an assignment
    by_comp: dict[int, list] = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r)
    for comp, members in by_comp.items():
        ids = sorted(m.doc_id for m in members)
        assert comp == ids[0]  # label is the cluster minimum
        canon = [m for m in members if m.is_canonical]
        assert len(canon) == 1 and canon[0].doc_id == comp
        assert all(m.cluster_size == len(members) for m in members)
    # near-dup pairs above threshold land in the same component
    pairs = (
        registry.QUERIES["dedup_minhash_lsh"](spark, sf_dir)
        .filter(F.col("est_jaccard") >= 0.5)
        .collect()
    )
    comp_of = {r.doc_id: r.component for r in rows}
    for p in pairs:
        assert comp_of[p.doc_a] == comp_of[p.doc_b]


def test_text_chunk_windows_covers_every_doc(spark, sf_dir):
    from risingwave_py_spark.catalog import table
    from risingwave_py_spark.functions.text import CHUNK_SIZE

    chunks = registry.QUERIES["text_chunk_windows"](spark, sf_dir).collect()
    docs = {r.doc_id for r in table(spark, sf_dir, "documents").select("doc_id").collect()}
    chunked = {c.doc_id for c in chunks}
    assert chunked == docs
    for c in chunks:
        assert 1 <= c.n_tokens <= CHUNK_SIZE
    # chunk ids per doc are dense from 0
    per_doc: dict[int, list[int]] = {}
    for c in chunks:
        per_doc.setdefault(c.doc_id, []).append(c.chunk_id)
    for ids in per_doc.values():
        assert sorted(ids) == list(range(len(ids)))


def test_raw1_codec_roundtrip():
    """The RAW1 image codec is a real binary format: encode → decode
    round-trips the pixel array; corrupt inputs are rejected."""
    import numpy as np
    import pytest as _pytest

    from risingwave_py_spark.functions.multimodal import (
        RAW1_H,
        decode_raw1,
        encode_raw1,
        resize_nearest,
    )

    payload = encode_raw1(7)
    img = decode_raw1(payload)
    assert img.shape == (RAW1_H, 32 + 7 % 3 * 16, 3)
    assert img.dtype == np.uint8
    assert img[0, 0, 0] == 7 % 256  # pixel(0,0,0) = doc_id mod 256
    assert img[2, 5, 1] == (3 * 5 + 7 * 2 + 11 + 7) % 256
    small = resize_nearest(img, 4, 4)
    assert small.shape == (4, 4, 3)
    # nearest sampling picks exact source pixels
    assert small[1, 1, 0] == img[(1 * RAW1_H) // 4, (1 * img.shape[1]) // 4, 0]
    with _pytest.raises(ValueError, match="not a RAW1"):
        decode_raw1(b"JPEG" + payload[4:])
    with _pytest.raises(ValueError, match="truncated"):
        decode_raw1(payload[:-5])


def test_pcm1_codec_roundtrip():
    import numpy as np
    import pytest as _pytest

    from risingwave_py_spark.functions.multimodal import (
        PCM1_RATE,
        decode_pcm1,
        encode_pcm1,
    )

    payload = encode_pcm1(9)
    s, rate = decode_pcm1(payload)
    assert rate == PCM1_RATE
    n, k = 2048 + (9 % 4) * 512, 9 % 7 + 1
    assert s.size == n and s.dtype == np.int16
    assert s[0] == -1000 and s[1] == (k % 2000) - 1000
    with _pytest.raises(ValueError, match="not a PCM1"):
        decode_pcm1(b"WAVE" + payload[4:])
    with _pytest.raises(ValueError, match="truncated"):
        decode_pcm1(payload[:-2])


def test_vid1_codec_roundtrip():
    import numpy as np
    import pytest as _pytest

    from risingwave_py_spark.functions.multimodal import (
        VID1_H,
        VID1_W,
        decode_vid1,
        encode_vid1,
    )

    payload = encode_vid1(11)
    clip = decode_vid1(payload)
    assert clip.shape == (4 + 11 % 5, VID1_H, VID1_W, 3)
    assert clip.dtype == np.uint8
    assert clip[0, 0, 0, 0] == 11 % 256
    assert clip[2, 1, 3, 1] == (3 * 3 + 7 * 1 + 11 * 1 + 13 * 2 + 11) % 256
    with _pytest.raises(ValueError, match="not a VID1"):
        decode_vid1(b"MPG1" + payload[4:])
    with _pytest.raises(ValueError, match="truncated"):
        decode_vid1(payload[:-7])


def test_dialect_rewrites_are_noops_on_plain_sql():
    """Rewrite-overreach guard: every dialect pass must leave SQL that
    uses none of its trigger syntax byte-identical. The corpus is the
    whole registered-oracle battery — 140+ real SQL texts."""
    from risingwave_py_spark import registry
    from risingwave_py_spark.plans.rewrite import (
        rewrite_asof_join,
        rewrite_hop,
        rewrite_pg_regex_ops,
        rewrite_tumble,
    )

    registry.load_all()
    checked = 0
    for name, sql in registry.ORACLES.items():
        up = sql.upper()
        if "ASOF" not in up:
            assert rewrite_asof_join(sql) == sql, name
        if "~" not in sql:
            assert rewrite_pg_regex_ops(sql) == sql, name
        if "TUMBLE" not in up:
            assert rewrite_tumble(sql) == sql, name
        if "HOP" not in up:
            assert rewrite_hop(sql) == sql, name
        checked += 1
    assert checked > 100


def test_ema_pandas_escape_hatch_matches_array_form(spark, sf_dir):
    """events_ema_drift's two physical forms — collect_list array fold
    vs the sorted applyInPandas fold engaged past
    EMA_ARRAY_MAX_PER_KEY (VERDICT r9 #5) — must produce bit-identical
    rows: same (ts, event_id, value) sort, same
    acc + 0.125*(x - acc) double sequence, same HALF_UP rounding."""
    import risingwave_py_spark.operators.analytic as A
    from risingwave_py_spark import registry

    registry.load_all()
    fn = registry.QUERIES["events_ema_drift"]
    a = [tuple(r) for r in fn(spark, sf_dir).collect()]
    old = A.EMA_ARRAY_MAX_PER_KEY
    try:
        A.EMA_ARRAY_MAX_PER_KEY = 0  # force the applyInPandas form
        b = [tuple(r) for r in fn(spark, sf_dir).collect()]
    finally:
        A.EMA_ARRAY_MAX_PER_KEY = old
    assert a == b
    assert len(a) == 5 and all(r[1] > 0 for r in a)
