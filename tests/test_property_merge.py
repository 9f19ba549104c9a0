"""Property-based testing (hypothesis): for ANY sequence of I/U/D envelopes
over a small key space, split arbitrarily into micro-batches, the engine's
final state equals the pure LWW oracle — in both COW and MOR modes.

This generalizes the hand-written semantic tests to adversarial orderings
(interleaved deletes, re-inserts, duplicate LSNs across batch boundaries)."""

import os
import uuid

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from etl_api_bigquery_spark.cdc.oracle import (assert_replay_match,
                                               expected_final_state)
from etl_api_bigquery_spark.lake import LakeTable
from etl_api_bigquery_spark.lake.merge import merge_cdc_batch

SILVER = T.StructType([
    T.StructField("repo", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("content", T.StringType()),
])
EVT = T.StructType([
    T.StructField("lsn", T.LongType()),
    T.StructField("epoch", T.LongType()),
    T.StructField("op", T.StringType()),
    T.StructField("repo", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("content", T.StringType()),
])

KEYS = [("r0", "a"), ("r0", "b"), ("r1", "a"), ("r1", "c"), ("r2", "z")]

events_strategy = st.lists(
    st.tuples(st.sampled_from(range(len(KEYS))),
              st.sampled_from(["I", "U", "D"]),
              st.integers(0, 3)),   # content variant
    min_size=1, max_size=40)

splits_strategy = st.integers(1, 4)


@pytest.fixture(scope="module")
def prop_spark(spark):
    return spark


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seq=events_strategy, n_batches=splits_strategy,
       dup=st.booleans())
@pytest.mark.parametrize("mode", ["cow", "raw"])
def test_any_sequence_matches_oracle(spark, tmp_path_factory, seq, n_batches,
                                     dup, mode):
    rows = []
    for lsn, (ki, op, var) in enumerate(seq):
        repo, path = KEYS[ki]
        content = None if op == "D" else f"c{ki}-{var}"
        rows.append((lsn, lsn % n_batches, op, repo, path, content))
    if dup:  # duplicate-LSN redelivery across a batch boundary
        rows.append(rows[len(rows) // 2])
    feed = spark.createDataFrame(rows, EVT)

    loc = str(tmp_path_factory.mktemp(f"prop_{uuid.uuid4().hex[:6]}"))
    t = LakeTable.create(spark, os.path.join(loc, "t"), SILVER,
                         key_cols=["repo", "path"], num_buckets=2)
    for b in range(n_batches):
        batch = feed.filter(feed.epoch == b)
        if batch.isEmpty():
            continue
        merge_cdc_batch(t, batch, batch_id=b, txn_app="prop", mode=mode)
    assert_replay_match(t.read(), expected_final_state(feed),
                        key_cols=["repo", "path"])
