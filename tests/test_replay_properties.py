"""Property-based tests of the replay fold: random operation sequences
checked against a trivially-correct Python model. The reference has no
property testing (SURVEY §5); these pin the semantics the scripted
fixtures can't enumerate — arbitrary interleavings of upserts/deletes
over colliding keys, per merge engine."""

from __future__ import annotations

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from fluss_spark.operators.replay import OP_COL, SEED_COL, SEQ_COL, replay
from fluss_spark.types import DELETE, Field, TableSchema

# whole-file: property/matrix coverage — full-suite selection only
pytestmark = pytest.mark.slow

KEYS = list(range(4))
VALS = ["a", "b", None]

ops = st.lists(
    st.tuples(
        st.sampled_from(KEYS),
        st.sampled_from(["U", "D"]),
        st.sampled_from(VALS),
        st.integers(min_value=0, max_value=5),  # version (for versioned engine)
    ),
    min_size=1,
    max_size=24,
)


def _fold_input(spark, seq):
    rows = [
        (k, v, ver, op, i + 1, 0)
        for i, (k, op, v, ver) in enumerate(seq)
    ]
    return spark.createDataFrame(
        rows, f"k int, v string, ver long, {OP_COL} string, {SEQ_COL} long, {SEED_COL} int"
    )


def _schema(**props):
    return TableSchema(
        fields=[Field("k", "INT", nullable=False), Field("v", "STRING"), Field("ver", "BIGINT")],
        primary_key=["k"],
        num_buckets=2,
        properties=props,
    )


def _replay(df, schema):
    """replay()'s change events ('w') and each key's snapshot image ('s')."""
    out = replay(df, schema, images=True)
    return out.filter("__dest = 'w'"), out.filter("__dest = 's'").select(*schema.data_columns())


def _collect_snapshot(snap):
    return {r["k"]: (r["v"], r["ver"]) for r in snap.collect()}


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(seq=ops)
def test_default_merge_matches_model(spark_session, seq):
    spark = spark_session
    schema = _schema()
    changelog, snap = _replay(_fold_input(spark, seq), schema)

    # model: dict with last-write-wins + deletes
    model: dict = {}
    for k, op, v, ver in seq:
        if op == "U":
            model[k] = (v, ver)
        else:
            model.pop(k, None)
    assert _collect_snapshot(snap) == model

    # invariant: replaying the changelog reproduces the snapshot
    rows = sorted(
        changelog.collect(), key=lambda r: (r["k"], r[SEQ_COL], r["__sub"])
    )
    replayed: dict = {}
    for r in rows:
        if r["_change_type"] == DELETE:
            replayed.pop(r["k"], None)
        elif r["_change_type"] in ("+I", "+U"):
            replayed[r["k"]] = (r["v"], r["ver"])
    assert replayed == model


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(seq=ops)
def test_versioned_merge_matches_model(spark_session, seq):
    spark = spark_session
    schema = _schema(**{
        "table.merge-engine": "versioned",
        "table.merge-engine.versioned.ver-column": "ver",
    })
    _, snap = _replay(_fold_input(spark, seq), schema)

    # model: max version wins, null = -inf, tie -> later write; deletes ignored
    model: dict = {}
    best: dict = {}
    for i, (k, op, v, ver) in enumerate(seq):
        if op == "D":
            continue
        key = (ver if ver is not None else -(2**63), i)
        if k not in best or key >= best[k]:
            best[k] = key
            model[k] = (v, ver)
    assert _collect_snapshot(snap) == model


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(seq=ops)
def test_first_row_merge_matches_model(spark_session, seq):
    spark = spark_session
    schema = _schema(**{"table.merge-engine": "first_row"})
    changelog, snap = _replay(_fold_input(spark, seq), schema)
    model: dict = {}
    for k, op, v, ver in seq:
        if op == "U" and k not in model:
            model[k] = (v, ver)
    assert _collect_snapshot(snap) == model
    # first_row changelog is insert-only, one +I per surviving key
    cts = [r["_change_type"] for r in changelog.collect()]
    assert all(ct == "+I" for ct in cts) and len(cts) == len(model)


agg_ops = st.lists(
    st.tuples(
        st.sampled_from(KEYS),
        st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),
        st.sampled_from(VALS),
    ),
    min_size=1,
    max_size=20,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(seq=agg_ops)
def test_aggregation_merge_matches_model(spark_session, seq):
    spark = spark_session
    schema = TableSchema(
        fields=[
            Field("k", "INT", nullable=False),
            Field("s", "BIGINT", agg="sum"),
            Field("mx", "BIGINT", agg="max"),
            Field("lastnn", "STRING", agg="last_value_ignore_nulls"),
        ],
        primary_key=["k"],
        num_buckets=2,
        properties={"table.merge-engine": "aggregation"},
    )
    rows = [(k, n, n, v, "U", i + 1, 0) for i, (k, n, v) in enumerate(seq)]
    df = spark.createDataFrame(
        rows, f"k int, s long, mx long, lastnn string, {OP_COL} string, {SEQ_COL} long, {SEED_COL} int"
    )
    _, snap = _replay(df, schema)

    model: dict = {}
    for k, n, v in seq:
        s, mx, lnn = model.get(k, (None, None, None))
        if n is not None:
            s = n if s is None else s + n
            mx = n if mx is None else max(mx, n)
        if v is not None:
            lnn = v
        model[k] = (s, mx, lnn)
    got = {r["k"]: (r["s"], r["mx"], r["lastnn"]) for r in snap.collect()}
    assert got == model
