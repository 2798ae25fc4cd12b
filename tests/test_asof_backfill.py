"""Leak-safety + boundary goldens for the as-of backfill.

Mirrors the reference's adversarial temporal-safety tests
(``tests/test_temporal_safety.py:16-133``: fabricate events after the
cutoff, assert features count only past rows with exact golden
values) and window-boundary tests
(``tests/test_feature_windows.py:270-363``: 89th day in, 91st out).
"""

from __future__ import annotations

from datetime import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kkbox_churn_prediction_spark.operators.asof import (
    asof_backward_nearest,
    asof_forward_nearest,
    asof_join_broadcast_cutoffs,
    asof_join_entity_cutoffs,
    cutoff_grid,
)
from kkbox_churn_prediction_spark.operators.decay import decayed_counts
from kkbox_churn_prediction_spark.operators.horizons import (
    FeatureSpec,
    multi_horizon_aggregate,
)
from kkbox_churn_prediction_spark.operators.labels import entity_labels
from kkbox_churn_prediction_spark.operators.survival import (
    competing_risks_labels,
    survival_labels,
)
from kkbox_churn_prediction_spark.plans.backfill import backfill_features
from kkbox_churn_prediction_spark.sources.synth import (
    RAW_TRANSCRIPT_SCHEMA,
    leak_trap_fixture,
    to_spark,
)


@pytest.fixture(scope="module")
def trap(spark):
    pdf, cutoff = leak_trap_fixture()
    turns = to_spark(spark, pdf)
    cutoffs = spark.createDataFrame(pd.DataFrame({"cutoff_ts": [cutoff]}))
    return turns, cutoffs, cutoff


def _by_conv(rows):
    return {r["conv_id"]: r for r in rows}


def test_no_future_turns_reach_aggregates(trap, spark):
    turns, cutoffs, _ = trap
    out = backfill_features(turns, cutoffs, horizons_days=(1, 3, 7)).collect()
    got = _by_conv([r.asDict() for r in out])

    # convA: only the 3 pre-cutoff turns count; the turn exactly AT the
    # cutoff is excluded (strictly-prior semantics)
    assert got["convA"]["turn_cnt_7d"] == 3
    assert got["convA"]["text_len_sum_7d"] == 60  # 10+20+30, not 1060
    assert got["convA"]["tool_call_cnt_7d"] == 1  # 'search' only, not 'code'
    assert got["convA"]["turn_cnt_1d"] == 1  # only the Jan-14 12:00 turn
    assert got["convA"]["text_len_sum_1d"] == 30

    # convB: all turns after cutoff → default row from grid join
    assert got["convB"]["turn_cnt_7d"] == 0
    assert got["convB"]["text_len_sum_7d"] == 0
    assert got["convB"]["micros_since_last_turn"] == -1

    # convC boundary: cutoff-7d turn INcluded (>=), 1µs-before INcluded
    assert got["convC"]["turn_cnt_7d"] == 2
    assert got["convC"]["text_len_sum_7d"] == 16
    # recency = 1µs before cutoff
    assert got["convC"]["micros_since_last_turn"] == 1


def test_inclusive_boundary_variant(trap):
    """Reference feature path uses ts <= cutoff
    (features/features_comprehensive.sql:48) — parameterized here."""
    turns, cutoffs, _ = trap
    joined = asof_join_broadcast_cutoffs(turns, cutoffs, lookback_days=7, inclusive=True)
    a = joined.where(F.col("conv_id") == "convA").count()
    assert a == 4  # the exactly-at-cutoff turn now included


def test_entity_grid_variant_matches_broadcast(trap, spark):
    turns, cutoffs, _ = trap
    grid = cutoff_grid(turns, cutoffs)
    a = asof_join_broadcast_cutoffs(turns, cutoffs, 7).select("conv_id", "turn_idx", "cutoff_ts")
    b = asof_join_entity_cutoffs(turns, grid, 7).select("conv_id", "turn_idx", "cutoff_ts")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_partition_count_invariance(trap):
    """Identical results at different parallelism (allclose invariant,
    FIXTURES.md §C; analog of local[8]-vs-local[32] determinism)."""
    turns, cutoffs, _ = trap
    out1 = backfill_features(turns.repartition(1), cutoffs).orderBy("conv_id", "cutoff_ts")
    out8 = backfill_features(turns.repartition(8), cutoffs).orderBy("conv_id", "cutoff_ts")
    p1, p8 = out1.toPandas(), out8.toPandas()
    pd.testing.assert_frame_equal(p1, p8, check_exact=False, rtol=1e-12)


@pytest.fixture(scope="module")
def trap_stream(trap):
    """The leak trap's as-of stream, over the narrow projection."""
    turns, cutoffs, _ = trap
    narrow = turns.select(
        "conv_id",
        "ts",
        F.expr("CAST(length(text) AS BIGINT)").alias("text_len"),
        "tool",
    )
    return asof_join_broadcast_cutoffs(narrow, cutoffs, 7)


@pytest.mark.parametrize(
    "spec",
    [
        FeatureSpec("n", "count"),
        FeatureSpec("s", "sum", "text_len"),
        FeatureSpec("a", "avg", "text_len", fill=0.0, round_to=4),
        FeatureSpec("lo", "min", "text_len"),
        FeatureSpec("hi", "max", "text_len"),
        FeatureSpec("d", "countDistinct", "tool"),
    ],
    ids=lambda s: s.agg,
)
def test_two_level_aggregate_matches_one_groupby(trap_stream, spec):
    """Each agg kind's partial/merge pair (five of the six are spec
    tuples with no countDistinct, so `_v` is the NULL literal) equals
    a direct single-level groupBy, schema included."""
    horizons = (1, 3, 7)
    x = F.expr(spec.expr) if spec.expr is not None else F.lit(1)
    cols = []
    for k in horizons:
        inside = F.col("ts") >= F.col("cutoff_ts") - F.expr(f"INTERVAL {k} DAYS")
        c = getattr(F, spec.agg)(F.when(inside, x))  # F.count, ..., F.countDistinct
        if spec.round_to is not None:
            c = F.round(c, spec.round_to)
        cols.append(F.coalesce(c, F.lit(spec.fill)).alias(f"{spec.name}_{k}d"))
    last = F.unix_micros(F.col("cutoff_ts")) - F.max(F.unix_micros(F.col("ts")))
    cols.append(F.coalesce(last, F.lit(-1)).alias("micros_since_last_turn"))
    want = trap_stream.groupBy("conv_id", "cutoff_ts").agg(*cols)
    got = multi_horizon_aggregate(trap_stream, horizons, (spec,))
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def test_two_distinct_expressions_raise(trap_stream):
    specs = (
        FeatureSpec("d_tool", "countDistinct", "tool"),
        FeatureSpec("d_len", "countDistinct", "text_len"),
    )
    with pytest.raises(ValueError, match="countDistinct"):
        multi_horizon_aggregate(trap_stream, (1, 3, 7), specs)


def test_asof_forward_nearest_golden(spark):
    from datetime import datetime, timedelta

    import pandas as pd

    from kkbox_churn_prediction_spark.operators.asof import asof_forward_nearest

    cut = datetime(2024, 1, 10)
    rows = [
        # conv a: one turn before the cutoff (never picked), two after
        ("a", 0, "user", "x", None, cut - timedelta(days=1)),
        ("a", 1, "assistant", "x", "code", cut + timedelta(hours=2)),
        ("a", 2, "user", "x", None, cut + timedelta(hours=5)),
        # conv b: first post-cutoff turn beyond the horizon -> not found
        ("b", 0, "user", "x", None, cut + timedelta(days=20)),
        # conv c: two turns at the SAME ts -> turn_idx breaks the tie
        ("c", 5, "tool", "x", "search", cut + timedelta(hours=1)),
        ("c", 4, "user", "x", None, cut + timedelta(hours=1)),
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    cutoffs = spark.createDataFrame([(cut,)], "cutoff_ts timestamp")
    out = {
        r["conv_id"]: r
        for r in asof_forward_nearest(
            spark.createDataFrame(pdf), cutoffs, horizon_days=14
        ).collect()
    }
    a = out["a"]
    assert a["found"] and a["next_role"] == "assistant" and a["next_tool"] == "code"
    assert a["gap_us"] == 2 * 3600 * 1_000_000
    b = out["b"]
    assert not b["found"] and b["next_ts_us"] is None and b["next_role"] is None
    c = out["c"]
    assert c["next_role"] == "user"  # turn_idx 4 < 5 at the tied ts


def test_asof_forward_inclusive_boundary(spark):
    from datetime import datetime

    import pandas as pd

    from kkbox_churn_prediction_spark.operators.asof import asof_forward_nearest

    cut = datetime(2024, 1, 10)
    rows = [("a", 0, "user", "x", None, cut)]  # exactly AT the cutoff
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    cutoffs = spark.createDataFrame([(cut,)], "cutoff_ts timestamp")
    strict = asof_forward_nearest(
        spark.createDataFrame(pdf), cutoffs, horizon_days=7
    ).collect()[0]
    incl = asof_forward_nearest(
        spark.createDataFrame(pdf), cutoffs, horizon_days=7, inclusive=True
    ).collect()[0]
    assert not strict["found"]
    assert incl["found"] and incl["gap_us"] == 0


def test_asof_backward_nearest_ttl_and_tiebreak(spark):
    from datetime import datetime, timedelta

    import pandas as pd

    from kkbox_churn_prediction_spark.operators.asof import asof_backward_nearest

    cut = datetime(2024, 1, 20)
    rows = [
        # conv a: latest pre-cutoff turn wins; tied-ts -> higher turn_idx
        ("a", 1, "user", "x", None, cut - timedelta(days=2)),
        ("a", 2, "assistant", "x", "code", cut - timedelta(days=1)),
        ("a", 3, "tool", "x", "search", cut - timedelta(days=1)),
        # conv b: only activity is OLDER than the 14-day TTL -> not found
        ("b", 0, "user", "x", None, cut - timedelta(days=30)),
        # conv c: a turn exactly AT the cutoff is NOT prior (strict)
        ("c", 0, "user", "x", None, cut),
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    cutoffs = spark.createDataFrame([(cut,)], "cutoff_ts timestamp")
    out = {
        r["conv_id"]: r
        for r in asof_backward_nearest(
            spark.createDataFrame(pdf), cutoffs, lookback_days=14
        ).collect()
    }
    a = out["a"]
    assert a["found"] and a["last_role"] == "tool"  # turn_idx 3 > 2 at tied ts
    assert a["staleness_us"] == 24 * 3600 * 1_000_000
    assert not out["b"]["found"] and out["b"]["staleness_us"] is None
    assert not out["c"]["found"]
    # unbounded lookback resurrects conv b's old snapshot
    unb = {
        r["conv_id"]: r
        for r in asof_backward_nearest(
            spark.createDataFrame(pdf), cutoffs, lookback_days=None
        ).collect()
    }
    assert unb["b"]["found"] and unb["b"]["staleness_us"] == 30 * 24 * 3600 * 1_000_000


# (operator, documented default row, whether the default also covers a
# conversation whose turns never match the qualifying predicate)
GRID_FAMILY = [
    pytest.param(
        backfill_features,
        {"turn_cnt_7d": 0, "text_len_sum_7d": 0, "text_len_avg_7d": 0.0,
         "micros_since_last_turn": -1},
        False,
        id="backfill_features",
    ),
    pytest.param(
        lambda t, c: entity_labels(t, c, 3),
        {"is_churn": 1, "micros_to_next_qualifying": -1},
        True,
        id="entity_labels",
    ),
    pytest.param(
        lambda t, c: survival_labels(t, c, 14),
        {"duration_days": 14, "observed": 0},
        True,
        id="survival_labels",
    ),
    pytest.param(
        lambda t, c: competing_risks_labels(t, c, 14),
        {"duration_days": 14, "cause": 0},
        True,
        id="competing_risks_labels",
    ),
    pytest.param(
        decayed_counts,
        {"decayed_turns_hl1d": 0.0, "decayed_turns_hl7d": 0.0,
         "decayed_tool_hl1d": 0.0, "decayed_tool_hl7d": 0.0},
        False,
        id="decayed_counts",
    ),
    pytest.param(
        lambda t, c: asof_forward_nearest(t, c, 7),
        {"found": False, "next_ts_us": None, "gap_us": None, "next_role": None},
        False,
        id="asof_forward_nearest",
    ),
    pytest.param(
        lambda t, c: asof_backward_nearest(t, c, 14),
        {"found": False, "last_ts_us": None, "staleness_us": None, "last_role": None},
        False,
        id="asof_backward_nearest",
    ),
]


@pytest.fixture(scope="module")
def grid_turns(spark):
    rows = [
        # active: user turns and a tool error on both sides of both cutoffs
        ("active", 0, "user", "hi", None, datetime(2024, 1, 14, 9)),
        ("active", 1, "assistant", "ok", "error", datetime(2024, 1, 16, 9)),
        ("active", 2, "user", "more", None, datetime(2024, 1, 21, 9)),
        ("active", 3, "user", "again", None, datetime(2024, 1, 23, 9)),
        # silent: its one turn is older than every lookback window and
        # nothing follows it, so no window of any operator holds a turn
        ("silent", 0, "user", "old", None, datetime(2023, 1, 1)),
        # nonqual: turns inside every window, none a user turn or an error
        ("nonqual", 0, "assistant", "x", None, datetime(2024, 1, 14)),
        ("nonqual", 1, "system", "y", "search", datetime(2024, 1, 16)),
        ("nonqual", 2, "assistant", "z", None, datetime(2024, 1, 21)),
        ("nonqual", 3, "assistant", "w", None, datetime(2024, 1, 23)),
    ]
    turns = spark.createDataFrame(rows, RAW_TRANSCRIPT_SCHEMA)
    cuts = [datetime(2024, 1, 15), datetime(2024, 1, 22)]
    cutoffs = spark.createDataFrame([(c,) for c in cuts], "cutoff_ts timestamp")
    return turns, cutoffs, cuts


@pytest.mark.parametrize("build,default,qualified", GRID_FAMILY)
def test_grid_complete_with_default_rows(grid_turns, build, default, qualified):
    """Every as-of operator emits exactly distinct conv_id × cutoffs
    rows, and a conversation with nothing in its window (or, for the
    label builders, nothing that qualifies) gets the documented
    default row."""
    turns, cutoffs, cuts = grid_turns
    rows = [r.asDict() for r in build(turns, cutoffs).collect()]
    keys = [(r["conv_id"], r["cutoff_ts"]) for r in rows]
    assert sorted(keys) == sorted(
        (c, t) for c in ("active", "silent", "nonqual") for t in cuts
    )
    is_default: dict[str, list[bool]] = {}
    for r in rows:
        is_default.setdefault(r["conv_id"], []).append(
            all(r[k] == v for k, v in default.items())
        )
    assert is_default["silent"] == [True, True]
    assert is_default["nonqual"] == [qualified, qualified]
    assert not all(is_default["active"])
