"""Oracle parity in pytest — the exact Spark-vs-DuckDB compare of
``tools/check_parity.compare``, for these groups:

- the eight round-7 batch queries. These were implemented in round 6
  behind a staging map (the registered-query window was full), registered in
  round 7, and moved verbatim to their home modules in round 8; this
  test reads them straight from the registry so the pytest-level
  parity gate survives the move.
- the 16 real-codec ``multimodal_*`` queries, which share the
  ``llm.decoded_stats_query`` skeleton, and the 20 daily time-series
  tests, which share ``relational_ext._daily_revenue`` and its oracle
  CTE: one exact check each, so a change to a shared helper is caught
  by the default tier and not only by a manual
  ``tools/check_parity.py`` run.
- two streams no other default-tier test runs end to end: the one
  keyed-state query, ``stream_running_totals``, and
  ``stream_restart_resume_view``, whose phase A runs in a subprocess
  from a script built inside the query."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), os.pardir, "tools"))
from check_parity import TABLES, compare  # noqa: E402

from local_stream_stack_spark.queries import QUERIES  # noqa: E402

SF = "/root/testdata/sf0.01"

R7_BATCH = [
    "orders_backlog_aging",
    "event_transition_matrix",
    "session_entropy_per_user",
    "hhi_market_concentration",
    "weekday_activity_profile",
    "embedding_dim_variance_audit",
    "ship_lag_quantiles",
    "dedup_rate_by_source",
]


CODEC_QUERIES = [
    "multimodal_png_decode",
    "multimodal_jpeg_decode",
    "multimodal_gif_decode",
    "multimodal_wav_decode",
    "multimodal_video_frames",
    "multimodal_bmp_decode",
    "multimodal_qoi_decode",
    "multimodal_tga_decode",
    "multimodal_pcx_decode",
    "multimodal_ico_decode",
    "multimodal_midi_decode",
    "multimodal_au_g711_decode",
    "multimodal_pnm_decode",
    "multimodal_tiff_decode",
    "multimodal_mp3_meta",
    "multimodal_flac_meta",
]


DAILY_SERIES_QUERIES = [
    "theil_sen_daily_revenue",
    "pettitt_changepoint_daily",
    "conformal_forecast_intervals",
    "friedman_test_segments",
    "hodges_lehmann_urgent_shift",
    "kendall_tau_daily",
    "seasonal_decomposition_weekday",
    "runs_test_daily_revenue",
    "mann_kendall_trend_daily",
    "durbin_watson_daily_revenue",
    "ljung_box_daily_revenue",
    "cochran_q_daily",
    "page_trend_test_segments",
    "sign_test_daily_revenue",
    "grubbs_outlier_daily",
    "jarque_bera_daily_revenue",
    "dixon_q_daily_revenue",
    "anderson_darling_daily_revenue",
    "periodogram_daily_revenue",
    "pacf_daily_revenue",
]


STREAM_QUERIES = [
    "stream_running_totals",
    "stream_restart_resume_view",
]


def _assert_exact_vs_oracle(spark, name):
    spec = QUERIES[name]
    sdf = spec.fn(spark, SF)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    assert spark_rows, f"{name} returned no rows at sf0.01"

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'"
        )
    rel = con.sql(spec.oracle)
    duck_cols = list(rel.columns)
    duck_rows = rel.fetchall()
    issues, exact, close = compare(
        spark_rows, spark_cols, duck_rows, duck_cols
    )
    assert exact, f"{name}: {issues[:5]}"


@pytest.mark.parametrize("name", R7_BATCH)
def test_r7_batch_query_is_exact_vs_oracle(spark, name):
    _assert_exact_vs_oracle(spark, name)


@pytest.mark.parametrize("name", CODEC_QUERIES)
def test_codec_query_is_exact_vs_oracle(spark, name):
    _assert_exact_vs_oracle(spark, name)


@pytest.mark.parametrize("name", DAILY_SERIES_QUERIES)
def test_daily_series_query_is_exact_vs_oracle(spark, name):
    _assert_exact_vs_oracle(spark, name)


@pytest.mark.parametrize("name", STREAM_QUERIES)
def test_stream_query_is_exact_vs_oracle(spark, name):
    _assert_exact_vs_oracle(spark, name)
