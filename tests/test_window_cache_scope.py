"""Cache scope of the hot-key split (``readops._keyed_window``): every
RDD a split persists is freed by ``release_key_caches()`` once the
result is consumed, and an operator that raises mid-split frees its
caches before the exception leaves it."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from arcade_spark.encode import encode_job
from arcade_spark.readops import (
    join_asof,
    release_key_caches,
    rolling_agg,
    sessionize,
    window_shift,
)

THRESH = 300  # uid 7 (1,500 rows) is hot, the cold keys (~25 rows) are not


@pytest.fixture(scope="module")
def hot_table(spark, tmp_path_factory):
    rng = np.random.default_rng(31)
    n_hot, n_cold = 1500, 500
    n = n_hot + n_cold
    df = pd.DataFrame({
        "uid": np.concatenate([
            np.full(n_hot, 7, dtype=np.int64),
            rng.integers(100, 120, n_cold).astype(np.int64),
        ]),
        "t": rng.integers(0, 100_000, n).astype(np.int64),
        "amt": rng.integers(-50, 50, n).astype(np.int64),
        # every slice's sum of these passes 2^62: the cumulative split's
        # summary pass raises its slice-sum OverflowError
        "big": (2**61 + rng.integers(0, 1000, n)).astype(np.int64),
        "ev": [f"e{i:05d}" for i in range(n)],
    })
    out = str(tmp_path_factory.mktemp("cache_scope") / "enc")
    encode_job(spark, spark.createDataFrame(df), out,
               num_parts=2, block_rows=512, order_col="ev")
    return out


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


OPS = {
    "rolling_agg": lambda spark, out: rolling_agg(
        spark, out, "uid", "t", window=2000, agg_col="amt",
        aggs=("count", "sum"), hot_key_threshold=THRESH),
    "rolling_agg_cumulative": lambda spark, out: rolling_agg(
        spark, out, "uid", "t", window=None, agg_col="amt",
        aggs=("sum", "max"), hot_key_threshold=THRESH),
    "sessionize": lambda spark, out: sessionize(
        spark, out, "uid", "t", gap=50, emit="sessions",
        hot_key_threshold=THRESH),
    "window_shift": lambda spark, out: window_shift(
        spark, out, "uid", ["t", "ev"], "amt", offset=2,
        hot_key_threshold=THRESH),
    "join_asof": lambda spark, out: join_asof(
        spark, out, out, "t", "uid", direction="nearest",
        preds_a=[("range", "amt", 0, 49)],
        preds_b=[("range", "amt", -50, -1)],
        project_b=["ev"], hot_key_threshold=THRESH),
}


@pytest.mark.parametrize("op", sorted(OPS))
def test_release_frees_every_split_cache(spark, hot_table, op):
    release_key_caches()
    base = _persisted(spark)
    rows = OPS[op](spark, hot_table).collect()
    assert rows
    assert _persisted(spark) > base  # the split ran and holds its cache
    release_key_caches()
    assert _persisted(spark) == base


def test_split_that_raises_leaks_nothing(spark, hot_table):
    """The cumulative split raises in its summary pass, after the stats
    pass has materialized the key-stream cache; no release call."""
    release_key_caches()
    base = _persisted(spark)
    with pytest.raises(Exception, match="slice sum would exceed int64"):
        rolling_agg(spark, hot_table, "uid", "t", window=None,
                    agg_col="big", aggs=("sum",), hot_key_threshold=THRESH)
    assert _persisted(spark) == base
