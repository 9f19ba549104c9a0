"""Reference-semantics batch oracle: the expected final silver state.

A pure-DataFrame "replay in one shot": for each (repo, path) the surviving row
is the max-LSN event; if its op is D the key is absent. This mirrors exactly
the reference's LWW rule (ROW_NUMBER() OVER (PARTITION BY id ORDER BY
extraction_timestamp DESC) ... rn=1, src/scripts/remove_duplicates.py:47-63,
and delete-partition-then-merge, loader.py:941-982) and is the ground truth
for the sha256 replay-match invariant (BASELINE.json, FIXTURES.md §5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..lake.merge import ENVELOPE_COLS, OP_DELETE


def lww_dedup(
    events: DataFrame,
    key_cols: list[str],
    lsn_col: str = "lsn",
) -> DataFrame:
    """Keep the max-LSN event per key (deletes included — the winner's op
    decides the key's fate).

    ``groupBy(keys).agg(max_by(struct(*), lsn))`` — Catalyst plans this as
    partial+final hash aggregation, so map-side combine already absorbs most
    duplicate traffic. NULL keys group together.
    """
    row = F.struct(*[F.col(c) for c in events.columns])
    winner = events.groupBy(*key_cols).agg(
        F.max_by(row, F.col(lsn_col)).alias("_row"))
    return winner.select("_row.*")


def expected_final_state(
    feed: DataFrame,
    key_cols: list[str] = ("repo", "path"),
    lsn_col: str = "lsn",
    op_col: str = "op",
) -> DataFrame:
    """Collapse the whole feed to the expected table state (no engine involved)."""
    winners = lww_dedup(feed, list(key_cols), lsn_col)
    data_cols = [c for c in feed.columns if c not in ENVELOPE_COLS]
    return winners.filter(F.col(op_col) != OP_DELETE).select(*data_cols)


def assert_replay_match(
    actual: DataFrame,
    expected: DataFrame,
    key_cols: list[str] = ("repo", "path"),
    content_col: str = "content",
) -> dict[str, int]:
    """Full-outer-join comparison with per-row sha256(content) equality — the
    BASELINE.json invariant. Returns counts; raises AssertionError on any
    mismatch (missing key, extra key, or content hash diff)."""
    # coalesce so a present row with NULL content hashes to a sentinel rather
    # than NULL (which would read as a missing row in the outer join)
    def sha(alias):
        return F.sha2(F.coalesce(F.col(content_col), F.lit("\x00")), 256).alias(alias)

    a = actual.select(*key_cols, sha("_sha_a"))
    e = expected.select(*key_cols, sha("_sha_e"))
    j = a.join(e, on=list(key_cols), how="full_outer")
    agg = j.agg(
        F.count("*").alias("total"),
        F.sum(F.when(F.col("_sha_a").isNull(), 1).otherwise(0)).alias("missing"),
        F.sum(F.when(F.col("_sha_e").isNull(), 1).otherwise(0)).alias("extra"),
        F.sum(F.when(F.col("_sha_a").isNotNull() & F.col("_sha_e").isNotNull()
                     & (F.col("_sha_a") != F.col("_sha_e")), 1).otherwise(0)
              ).alias("sha_mismatch"),
    ).collect()[0]
    res = {k: int(agg[k] or 0) for k in ("total", "missing", "extra", "sha_mismatch")}
    if res["missing"] or res["extra"] or res["sha_mismatch"]:
        raise AssertionError(f"replay mismatch: {res}")
    return res
