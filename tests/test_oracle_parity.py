"""Spark-vs-DuckDB oracle parity — the same gate the driver runs.

For every registered query with an oracle: run the Spark plan and the
DuckDB SQL on the same parquet tables, canonicalize (columns sorted by
name, rows sorted by all columns), and require exact equality. Floats are
compared exactly on purpose: the determinism rules in registry.py are
supposed to make them bit-identical, and any drift should fail here
before it fails at the driver.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from gmall2021_flink_dw_spark.registry import load_all
from tests.conftest import ORACLE_SF

REGISTRY = load_all()
WITH_ORACLE = [n for n, s in REGISTRY.items() if s.oracle is not None]
ROWS_ONLY = [n for n, s in REGISTRY.items() if s.oracle is None]

# Tiering (VERDICT r14 item 2): the driver's pytest gate timed out at
# 96% on a degraded box — a gate that can't finish isn't run. This
# module is, by design, a per-query duplicate of the driver's OWN
# DuckDB correctness gate (same oracles, same canonicalization), so it
# is the blessed module to tier: by default only a cross-family smoke
# subset runs (the parity MACHINERY plus one representative per query
# family stays exercised); the full 160-query sweep runs with
# SPARK_GRAFT_FULL_TESTS=1 (CI / pre-commit for plan-touching changes).
FULL_TIER = os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1"

# One representative per family / execution machinery: TPC-H scan-agg
# and multi-join, DW layer, windowed DWS, dedup sketch (recall_checked
# + Arrow kernel), hashed substring spans, streaming stateful kernel,
# streaming watermark closure (restaged r14/r15), CDC routing, text-LM
# sampling + multi-stage corpus pipeline, tokenizer, multimodal codec.
SMOKE = {
    "tpch_q6",
    "tpch_q9_profit",
    "dwm_order_wide",
    "dws_product_stats",
    "dedup_simhash",
    "dedup_substring_spans_hashed",
    "streaming_jump_detect",
    "streaming_late_data_drop",
    "cdc_route",
    "sample_ccnet_buckets",
    "corpus_filter_pipeline",
    "tokenizer_train_bpe",
    "multimodal_decode_real",
}

PARAMS = [
    n
    if (FULL_TIER or n in SMOKE)
    else pytest.param(
        n,
        marks=pytest.mark.skip(
            reason="full-tier oracle-parity duplicate of the driver's "
            "DuckDB gate (VERDICT r14 item 2); set "
            "SPARK_GRAFT_FULL_TESTS=1 to run all"
        ),
    )
    for n in WITH_ORACLE
]


def test_smoke_names_are_registered():
    missing = SMOKE - set(WITH_ORACLE)
    assert not missing, f"SMOKE names not registered/oracled: {missing}"


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
            drop=True
        )
    return df


@pytest.mark.parametrize("name", PARAMS)
def test_oracle_parity(spark, duck, name):
    spec = REGISTRY[name]
    got = canon(spec.fn(spark, ORACLE_SF).toPandas())
    want = canon(duck.execute(spec.oracle).df())
    assert list(got.columns) == list(want.columns), (
        f"{name}: column mismatch {list(got.columns)} vs {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: rowcount {len(got)} vs {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    # stricter stringified compare (what a value-hash sees): catches
    # dtype-representation drift that tolerant numeric equality hides,
    # e.g. DuckDB HUGEINT sums surfacing as float64 ('1.0' vs '1').
    gs = got.astype(str).sort_values(list(got.columns)).reset_index(drop=True)
    ws = want.astype(str).sort_values(list(want.columns)).reset_index(drop=True)
    assert (gs.values == ws.values).all(), f"{name}: stringified value drift"


def test_no_rows_only_queries():
    """As of r03 every registered query carries an oracle — the sketch
    family emits exact rows + pinned flags instead of going rows-only.
    Keep it that way: a new rows-only query needs an explicit decision."""
    assert ROWS_ONLY == [], f"queries without oracle: {ROWS_ONLY}"


def test_product_stats_day_window_with_time_of_day(spark, tmp_path):
    """dws_product_stats windows l_shipdate by day like its oracle, also
    when the shipdates carry a time of day (the scale generator's do;
    the TPC-H-style testdata's are midnights)."""
    import duckdb
    import numpy as np
    import pyarrow.parquet as pq

    from tools.gen_scale_data import gen_lineitem, gen_part

    rng = np.random.default_rng(3)
    lineitem = gen_lineitem(rng, 300, 2, 2)
    assert any(t.value % 86_400_000_000 for t in lineitem["l_shipdate"])
    pq.write_table(lineitem, tmp_path / "lineitem.parquet")
    pq.write_table(gen_part(rng, 2), tmp_path / "part.parquet")
    con = duckdb.connect()
    for t in ("lineitem", "part"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path / t}.parquet')"
        )
    spec = REGISTRY["dws_product_stats"]
    got = canon(spec.fn(spark, str(tmp_path)).toPandas())
    want = canon(con.execute(spec.oracle).df())
    con.close()
    assert len(got) == len(want), f"rowcount {len(got)} vs {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
