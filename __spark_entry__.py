"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship CDC MERGE-apply end-to-end on sf0.001.
``queries()`` exposes every implemented operator from SURVEY.md §2 (plus the
training-data-pipeline extensions) over the driver's testdata tables;
``oracle_sql()`` gives the DuckDB-equivalent SQL for each (omitted only for
ops whose candidate generation is not SQL-expressible — LSH banding, engine
internals — which the driver records as rows-only checks).

Column-name / rounding discipline: every computed column is aliased
identically on both sides; float aggregates are rounded in BOTH engines so
summation-order ulp noise cannot flip the value hash.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_api_bigquery_spark.cdc.oracle import expected_final_state  # noqa: E402
from etl_api_bigquery_spark.functions.multimodal import (  # noqa: E402
    extract_features, stage_media_fixture, synthetic_media)
from etl_api_bigquery_spark.functions.text import (  # noqa: E402
    fingerprint, lang_id, quality_score, token_count, tokens)
from etl_api_bigquery_spark.functions.transforms import safe_cast  # noqa: E402
from etl_api_bigquery_spark.lake import LakeTable  # noqa: E402
from etl_api_bigquery_spark.lake.merge import merge_cdc_batch  # noqa: E402
from etl_api_bigquery_spark.operators.dedup import (  # noqa: E402
    exact_dedup, minhash_lsh_candidates, ngram_jaccard, shingles,
    simhash_candidates)
from etl_api_bigquery_spark.functions.transforms import (  # noqa: E402
    parse_date_ddmmyyyy)
from etl_api_bigquery_spark.operators.similarity import (  # noqa: E402
    cosine, cosine_topk, ivf_topk, lsh_topk, near_dup_pairs)

DEFAULT_SF = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# CDC event derivation shared by the flagship query and its oracle: three
# versioned images per document, deletes for doc_id % 7 == 0 at v2.
# --------------------------------------------------------------------------

def _cdc_events_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    v = F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("v")
    ev = docs.select("doc_id", "text", "lang", "source", v)
    is_del = (F.col("v") == 2) & (F.col("doc_id") % 7 == 0)
    return ev.select(
        (F.col("doc_id") * 3 + F.col("v")).alias("lsn"),
        F.col("v").cast("long").alias("epoch"),
        F.when(is_del, "D").when(F.col("v") == 0, "I").otherwise("U").alias("op"),
        F.col("source").alias("repo"),
        F.concat(F.lit("f"), F.col("doc_id").cast("string")).alias("path"),
        F.substring(F.sha2(F.concat_ws("|", "source", "doc_id", "v"), 256), 1, 40
                    ).alias("commit"),
        F.col("lang"),
        F.when(is_del, F.lit(None).cast("string"))
         .otherwise(F.concat(F.col("text"), F.lit(" v"), F.col("v"))).alias("content"),
        F.timestamp_seconds(F.lit(1735689600) + F.col("doc_id") * 3 + F.col("v")
                            ).alias("event_ts"),
    )


_CDC_EVENTS_SQL = """
    SELECT doc_id * 3 + v AS lsn,
           CASE WHEN v = 2 AND doc_id % 7 = 0 THEN 'D'
                WHEN v = 0 THEN 'I' ELSE 'U' END AS op,
           source AS repo,
           'f' || CAST(doc_id AS VARCHAR) AS path,
           lang,
           CASE WHEN v = 2 AND doc_id % 7 = 0 THEN NULL
                ELSE text || ' v' || CAST(v AS VARCHAR) END AS content
    FROM documents CROSS JOIN (VALUES (0), (1), (2)) AS vv(v)
"""

_SILVER_SCHEMA = T.StructType([
    T.StructField("repo", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("commit", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("content", T.StringType()),
])


def _run_cdc_engine(spark: SparkSession, sf_dir: str,
                    num_buckets: int = 8, **merge_kwargs) -> DataFrame:
    """Run the REAL engine (LakeTable + merge_cdc_batch, one micro-batch per
    epoch) on the derived feed and return the final silver state.

    ``merge_kwargs`` select the fold under test: none gives merge_cdc_batch's
    defaults (a bucket-pure append, then a synchronous fold of the touched
    buckets); a threshold above 1 leaves the L0 deltas for read-side
    resolution, as `CdcStreamRunner`'s shipped raw preset does."""
    events = _cdc_events_from_documents(spark, sf_dir).cache()
    loc = tempfile.mkdtemp(prefix="cdc_entry_", dir="/tmp")
    shutil.rmtree(loc, ignore_errors=True)
    table = LakeTable.create(spark, loc, _SILVER_SCHEMA,
                             key_cols=["repo", "path"], num_buckets=num_buckets)
    for epoch in range(3):
        merge_cdc_batch(table, events.filter(F.col("epoch") == epoch),
                        batch_id=epoch, txn_app="entry", **merge_kwargs)
    events.unpersist()
    final = table.read()
    return final.select(
        "repo", "path", "lang", F.sha2("content", 256).alias("content_sha"))


# --------------------------------------------------------------------------
# token helpers mirrored exactly in the DuckDB oracle strings
# --------------------------------------------------------------------------

_TOKS_SQL = ("list_filter(regexp_split_to_array(lower({c}), '[^a-z0-9'']+'), "
             "x -> x <> '')")

_STOP_EN = "['the','and','of','to','in','is','that','it','for','was']"
_STOP_DE = "['der','die','und','das','ist','nicht','ein','mit','auf','zu']"
_STOP_FR = "['le','la','les','et','est','des','une','dans','que','pour']"
_STOP_ES = "['el','la','los','de','que','y','en','un','por','con']"


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---------------- CDC core (SURVEY §2.4/§2.6: M1/M2/W1/J4/T4) ----------
    def cdc_merge_apply(spark, sf):
        return _run_cdc_engine(spark, sf)
    q["cdc_merge_apply"] = cdc_merge_apply

    def cdc_merge_apply_raw(spark, sf):
        # The SHIPPED ingest default (CdcStreamRunner: mode="raw", adaptive
        # bucket-clustered L0, no prefilter)
        # against the same LWW oracle — the raw/LSM write path must read
        # back identically to cow (VERDICT r4 "What's missing" #3).
        return _run_cdc_engine(spark, sf, l0_groups="auto",
                               auto_compact_deltas=16)
    q["cdc_merge_apply_raw"] = cdc_merge_apply_raw

    def cdc_lww_replay_oracle_op(spark, sf):
        # the operator-level LWW collapse (no engine) — W1
        ev = _cdc_events_from_documents(spark, sf)
        fin = expected_final_state(ev)
        return fin.groupBy("repo").agg(
            F.count("*").alias("n_files"),
            F.count_distinct("lang").alias("n_langs"))
    q["cdc_lww_collapse"] = cdc_lww_replay_oracle_op

    def lww_latest_event_per_user(spark, sf):
        ev = _t(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc())
        return (ev.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
                .select("user_id", "event_id", "event_type",
                        F.round("value", 4).alias("value_r")))
    q["lww_latest_event_per_user"] = lww_latest_event_per_user

    def dedup_remove_duplicates(spark, sf):
        # J4: keep max-ts row per (user_id, event_type), count survivors
        ev = _t(spark, sf, "events")
        w = Window.partitionBy("user_id", "event_type").orderBy(
            F.col("ts").desc(), F.col("event_id").desc())
        kept = ev.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
        return kept.groupBy("event_type").agg(
            F.count("*").alias("n_kept"),
            F.round(F.sum("value"), 2).alias("sum_value"))
    q["dedup_remove_duplicates"] = dedup_remove_duplicates

    # ---------------- sources/sinks-shaped (§2.1) + watermark (§2.10) ------
    def watermark_by_entity(spark, sf):
        ev = _t(spark, sf, "events")
        return ev.groupBy("event_type").agg(
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"
                          ).alias("last_extracted_at"),
            F.count("*").alias("records_count"))
    q["watermark_by_entity"] = watermark_by_entity

    def distinct_partition_days(spark, sf):
        ev = _t(spark, sf, "events")
        return (ev.select(F.date_format(F.to_date("ts"), "yyyy-MM-dd")
                          .alias("day")).distinct())
    q["distinct_partition_days"] = distinct_partition_days

    def partition_set_difference(spark, sf):
        ev = _t(spark, sf, "events")
        orders = _t(spark, sf, "orders")
        a = ev.select(F.to_date("ts").alias("d")).distinct()
        b = orders.select(F.to_date("o_orderdate").alias("d")).distinct()
        return a.join(b, "d", "left_anti").select(
            F.date_format("d", "yyyy-MM-dd").alias("day"))
    q["partition_set_difference"] = partition_set_difference

    # ---------------- transforms (§2.2) ------------------------------------
    def json_extract_safe_cast(spark, sf):
        # P10 raw-json + P6 safe cast: two-digit k values parse, others NULL
        ev = _t(spark, sf, "events")
        two = F.regexp_extract(F.col("props"), r'"k": ([0-9][0-9])\}', 1)
        anyk = safe_cast(F.regexp_extract(F.col("props"), r"[0-9]+", 0), "int")
        return ev.select(
            "event_id",
            safe_cast(two, "int").alias("k2"),
            anyk.alias("k"),
        ).groupBy((F.col("k") % 10).alias("k_mod")).agg(
            F.count("*").alias("n"),
            F.sum(F.col("k2").isNull().cast("int")).alias("n_unparsed"),
            F.sum("k").alias("sum_k"))
    q["json_extract_safe_cast"] = json_extract_safe_cast

    def widen_and_project(spark, sf):
        # P7 forced widening int->double + P1-style projection
        li = _t(spark, sf, "lineitem")
        return (li.select("l_returnflag",
                          F.col("l_linenumber").cast("double").alias("ln_d"),
                          F.col("l_quantity"))
                .groupBy("l_returnflag")
                .agg(F.round(F.sum("ln_d"), 1).alias("sum_ln_wide"),
                     F.round(F.sum("l_quantity"), 2).alias("sum_qty")))
    q["widen_and_project"] = widen_and_project

    def schema_null_pad(spark, sf):
        # P12: missing schema columns added as typed NULLs
        docs = _t(spark, sf, "documents")
        return docs.select(
            "doc_id", "lang",
            F.lit(None).cast("string").alias("extraction_note"),
            F.lit(None).cast("double").alias("score_backfill"))
    q["schema_null_pad"] = schema_null_pad

    def explode_tokens(spark, sf):
        # P3 array explode with positional index fallback id
        docs = _t(spark, sf, "documents").filter("doc_id < 50")
        tok = docs.select("doc_id", F.posexplode(tokens("text"))
                          .alias("pos", "token"))
        return tok.select("doc_id", F.col("pos").cast("long").alias("pos"),
                          "token")
    q["explode_tokens"] = explode_tokens

    def tumbling_daily_window(spark, sf):
        # T3 tumbling event-time windows (daily) + P4 date semantics
        ev = _t(spark, sf, "events")
        return (ev.groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd")
                           .alias("day"), "event_type")
                .agg(F.count("*").alias("n"),
                     F.round(F.sum("value"), 2).alias("sum_value")))
    q["tumbling_daily_window"] = tumbling_daily_window

    # ---------------- joins (§2.3) -----------------------------------------
    def broadcast_lookup_join(spark, sf):
        # J1: small dim broadcast into fact scan
        li = _t(spark, sf, "lineitem")
        part = _t(spark, sf, "part")
        j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        return j.groupBy("p_brand").agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                    ).alias("revenue"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").alias("n_lines"))
    q["broadcast_lookup_join"] = broadcast_lookup_join

    def anti_join_customers_no_orders(spark, sf):
        c = _t(spark, sf, "customer")
        o = _t(spark, sf, "orders")
        return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
                .select("c_custkey", "c_name"))
    q["anti_join_customers_no_orders"] = anti_join_customers_no_orders

    def semi_join_parts_sold(spark, sf):
        p = _t(spark, sf, "part")
        li = _t(spark, sf, "lineitem")
        return (p.join(li, p.p_partkey == li.l_partkey, "left_semi")
                .filter("p_size > 40").select("p_partkey", "p_name", "p_size"))
    q["semi_join_parts_sold"] = semi_join_parts_sold

    # ---------------- aggregates (§2.5) ------------------------------------
    def latest_event_per_day(spark, sf):
        # O2: max-by within partition (latest file per partition analogue,
        # sync_gcs_to_bigquery.py:219-221) — tie-safe via composite key
        ev = _t(spark, sf, "events")
        okey = F.concat(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
                        F.lpad(F.col("event_id").cast("string"), 12, "0"))
        return (ev.groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd")
                           .alias("day"))
                .agg(F.max_by("event_id", okey).alias("latest_event_id"),
                     F.count("*").alias("n")))
    q["latest_event_per_day"] = latest_event_per_day

    def parse_ddmmyyyy_dates(spark, sf):
        # P5: guarded dd/mm/yyyy parser — annotated + out-of-range -> NULL
        ev = _t(spark, sf, "events").filter("event_id < 2000")
        raw = (F.when(F.col("event_id") % 5 == 0,
                      F.concat(F.lit("(approx) "),
                               F.date_format("ts", "dd/MM/yyyy")))
               .when(F.col("event_id") % 5 == 1, F.lit("99/99/2024"))
               .otherwise(F.date_format("ts", "dd/MM/yyyy")))
        return ev.select(
            "event_id", raw.alias("raw"),
            F.date_format(parse_date_ddmmyyyy(raw), "yyyy-MM-dd")
             .alias("parsed"))
    q["parse_ddmmyyyy_dates"] = parse_ddmmyyyy_dates

    def dup_detection_having(spark, sf):
        o = _t(spark, sf, "orders")
        return (o.groupBy("o_custkey").agg(F.count("*").alias("dup_count"))
                .filter("dup_count > 1"))
    q["dup_detection_having"] = dup_detection_having

    def ordered_event_journey(spark, sf):
        # A2: ordered ARRAY_AGG -> deterministic string
        ev = _t(spark, sf, "events").filter("user_id < 40")
        arr = F.sort_array(F.collect_list(F.struct("ts", "event_id", "event_type")))
        return (ev.groupBy("user_id")
                .agg(F.array_join(F.transform(arr, lambda s: s["event_type"]), ",")
                     .alias("journey")))
    q["ordered_event_journey"] = ordered_event_journey

    def backfill_join_null_targets(spark, sf):
        # J3: window-dedup source MERGE that fills ONLY NULL target columns
        # (ref backfill_products_partition.py:74-96)
        from etl_api_bigquery_spark.lake.merge import backfill_columns
        docs = _t(spark, sf, "documents")
        target = docs.select(
            "doc_id",
            F.when(F.col("doc_id") % 3 == 0, None)
             .otherwise(F.col("lang")).alias("lang"),
            "source")
        v = F.explode(F.array(F.lit(0), F.lit(1))).alias("v")
        src = (docs.select("doc_id", "lang", v)
               .select("doc_id",
                       F.concat(F.col("lang"), F.lit("_v"),
                                F.col("v").cast("string")).alias("lang"),
                       F.col("v").alias("ord")))
        return backfill_columns(target, src, ["doc_id"], ["lang"], "ord")
    q["backfill_join_null_targets"] = backfill_join_null_targets

    def quality_full_report(spark, sf):
        # A6 complete: completeness + uniqueness + type-correctness + score
        # in ONE aggregation pass (ref checks.py:93-267, score :40-45)
        from etl_api_bigquery_spark.operators.quality import (
            full_quality_report)
        d = _t(spark, sf, "documents")
        return full_quality_report(
            d, required_cols=["text", "lang"], key_cols=["doc_id"],
            type_specs={"n_chars": "bigint", "lang": "int"})
    q["quality_full_report"] = quality_full_report

    def validate_coerce_records(spark, sf):
        # validator-gate: coerce string ids, drop rows failing required
        # fields, extras pass through (ref validators.py:46-84)
        from etl_api_bigquery_spark.operators.quality import validate_coerce
        ev = _t(spark, sf, "events")
        src = ev.select(
            F.col("event_id").cast("string").alias("event_id"),
            F.regexp_extract("props", r"[0-9]+", 0).alias("k_str"),
            "event_type")
        ok = validate_coerce(src, required={"event_id": "long",
                                            "k_str": "int"})
        return ok.groupBy("event_type").agg(
            F.count("*").alias("n_valid"),
            F.sum("k_str").alias("sum_k"))
    q["validate_coerce_records"] = validate_coerce_records

    def quality_report_documents(spark, sf):
        # A6: one-pass null/dup rates + score
        d = _t(spark, sf, "documents")
        return d.agg(
            F.count("*").alias("total_rows"),
            F.round(F.avg(F.col("lang").isNull().cast("int")), 4).alias("null_rate_lang"),
            F.round(F.avg(F.col("text").isNull().cast("int")), 4).alias("null_rate_text"),
            F.round((F.count("*") - F.count_distinct("text")) /
                    F.count("*"), 4).alias("dup_rate_text"))
    q["quality_report_documents"] = quality_report_documents

    def gold_daily_revenue(spark, sf):
        o = _t(spark, sf, "orders")
        return (o.groupBy(F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd")
                          .alias("day"))
                .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                     F.count("*").alias("n_orders")))
    q["gold_daily_revenue"] = gold_daily_revenue

    def gold_customer_ltv(spark, sf):
        o = _t(spark, sf, "orders")
        c = _t(spark, sf, "customer")
        agg = o.groupBy("o_custkey").agg(
            F.round(F.sum("o_totalprice"), 2).alias("ltv"),
            F.count("*").alias("n_orders"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_day"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_day"))
        return (agg.join(F.broadcast(c), agg.o_custkey == c.c_custkey)
                .select(F.col("c_custkey").alias("custkey"), "c_name", "ltv",
                        "n_orders", "first_day", "last_day"))
    q["gold_customer_ltv"] = gold_customer_ltv

    def gold_product_sales(spark, sf):
        from etl_api_bigquery_spark.operators.gold import product_sales_metrics
        return product_sales_metrics(_t(spark, sf, "lineitem"),
                                     _t(spark, sf, "part"))
    q["gold_product_sales"] = gold_product_sales

    def gold_inventory_analytics(spark, sf):
        from etl_api_bigquery_spark.operators.gold import inventory_analytics
        return inventory_analytics(_t(spark, sf, "lineitem"),
                                   _t(spark, sf, "supplier"))
    q["gold_inventory_analytics"] = gold_inventory_analytics

    def gold_product_summary(spark, sf):
        # the fifth gold table (ref tests/integration/test_gold_aggregation.py)
        from etl_api_bigquery_spark.operators.gold import (
            product_sales_metrics, product_summary)
        return product_summary(product_sales_metrics(
            _t(spark, sf, "lineitem"), _t(spark, sf, "part"),
            keep_exact=True))
    q["gold_product_summary"] = gold_product_summary

    def q1_pricing_summary(spark, sf):
        li = _t(spark, sf, "lineitem")
        return (li.groupBy("l_returnflag", "l_linestatus").agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                    ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order")))
    q["q1_pricing_summary"] = q1_pricing_summary

    def q3_top_open_orders(spark, sf):
        o = _t(spark, sf, "orders").filter("o_orderstatus = 'O'")
        li = _t(spark, sf, "lineitem")
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        rev = j.groupBy("o_orderkey").agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                    ).alias("revenue"))
        return rev.orderBy(F.col("revenue").desc(), F.col("o_orderkey")).limit(10)
    q["q3_top_open_orders"] = q3_top_open_orders

    # ---------------- text analysis / training-data ops --------------------
    def token_stats(spark, sf):
        d = _t(spark, sf, "documents")
        return d.select(
            "doc_id",
            token_count("text").alias("n_tokens"),
            F.length("text").alias("n_chars_calc"),
            fingerprint("text").alias("doc_fingerprint"))
    q["token_stats"] = token_stats

    def lang_id_documents(spark, sf):
        d = _t(spark, sf, "documents")
        return d.select("doc_id", F.col("lang").alias("lang_declared"),
                        lang_id("text").alias("lang_guess"))
    q["lang_id_documents"] = lang_id_documents

    def quality_score_documents(spark, sf):
        d = _t(spark, sf, "documents")
        return d.select("doc_id", quality_score("text").alias("score"))
    q["quality_score_documents"] = quality_score_documents

    def exact_dedup_union(spark, sf):
        d = _t(spark, sf, "documents").select("doc_id", "text")
        shifted = d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        kept = exact_dedup(d.unionByName(shifted), "text", "doc_id")
        return kept.select("doc_id")
    q["exact_dedup_union"] = exact_dedup_union

    def unigram_jaccard_pairs(spark, sf):
        d = _t(spark, sf, "documents").filter("doc_id < 120")
        s = d.select("doc_id", shingles("text", 1).alias("sh"))
        a = s.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
        b = s.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
        return (pairs.withColumn(
            "jaccard", F.round(ngram_jaccard(F.col("sh_a"), F.col("sh_b")), 4))
            .filter("jaccard >= 0.6").select("id_a", "id_b", "jaccard"))
    q["unigram_jaccard_pairs"] = unigram_jaccard_pairs

    def cosine_topk_exact(spark, sf):
        emb = _t(spark, sf, "embeddings")
        res = cosine_topk(emb, emb.filter("vec_id < 5"), k=3)
        return res.select("q_id", "neighbor_id", "rk",
                          F.round("cos", 4).alias("cos_r")).drop("cos")
    q["cosine_topk_exact"] = cosine_topk_exact

    def embedding_near_dup_pairs(spark, sf):
        # embedding-cosine near-duplicate detection (semantic dedup) at a
        # LOW threshold (0.35): qualifying pairs sit ~3σ above the random
        # background (p = 1-acos(0.35)/π ≈ 0.61 per hyperplane), so banded
        # LSH cannot block here — recall-1 banding would need chunk≥8 AND
        # ~900 bands, strictly more work than all-pairs. The correct plan at
        # low thresholds IS the scoped brute comparison (broadcast
        # nested-loop, no shuffle); the LSH scale path is exercised at a
        # blockable threshold by embedding_near_dup_lsh below.
        emb = _t(spark, sf, "embeddings").filter("vec_id < 300")
        # allow_quadratic: the corpus is explicitly scoped to 300 vectors
        # (the documented contract for the brute plan); the flag skips the
        # guard's count() action in the benched path
        return near_dup_pairs(emb, threshold=0.35, method="brute",
                              allow_quadratic=True)
    q["embedding_near_dup_pairs"] = embedding_near_dup_pairs

    def embedding_near_dup_lsh(spark, sf):
        # the LSH scale path at a blockable threshold, with a deterministic
        # recall guarantee: plant exact duplicates (vec_id+10000, same
        # vector) for vec_id < 100 — identical vectors get identical
        # 128-bit signatures, so every planted pair shares ALL 8 bands
        # (recall = 1 by construction, not probabilistically), while the
        # background corpus (max pairwise cos 0.46 « 0.99) contributes no
        # qualifying pairs. chunk = 128/8 = 16 bits -> 65536 buckets/band,
        # so candidate volume is ~n + collisions, provably sub-quadratic —
        # the DuckDB oracle is the exact all-pairs result it must equal.
        emb = _t(spark, sf, "embeddings").filter("vec_id < 300") \
            .select("vec_id", "embedding")
        planted = (_t(spark, sf, "embeddings").filter("vec_id < 100")
                   .select((F.col("vec_id") + 10000).alias("vec_id"),
                           "embedding"))
        return near_dup_pairs(emb.unionByName(planted), threshold=0.99,
                              method="lsh", bits=128, bands=8, dim=64)
    q["embedding_near_dup_lsh"] = embedding_near_dup_lsh

    # ---------------- formerly rows-only ops, now oracle-checked -----------
    def minhash_lsh_pairs(spark, sf):
        # 64 hashes / 32 bands (2 rows per band): recall at j=0.5 is
        # 1-(1-j^2)^32 ≈ 0.99998, so the banded-LSH candidates verified by
        # exact Jaccard EQUAL the exact all-pairs result on this corpus —
        # which is precisely what the DuckDB all-pairs oracle asserts. A
        # banding/signature regression surfaces as missing pairs.
        d = _t(spark, sf, "documents").filter("doc_id < 150")
        return minhash_lsh_candidates(d, "doc_id", "text",
                                      num_hashes=64, bands=32, min_jaccard=0.5)
    q["minhash_lsh_pairs"] = minhash_lsh_pairs

    def simhash_near_dups(spark, sf):
        # sha256 token hash (SQL-recomputable) + 8 bands > max_hamming=6:
        # by pigeonhole the banded result is EXACTLY all pairs with
        # hamming <= 6 — the DuckDB oracle recomputes the whole signature
        # independently and does the all-pairs hamming join.
        d = _t(spark, sf, "documents").filter("doc_id < 150")
        return simhash_candidates(d, "doc_id", "text", bits=64, bands=8,
                                  max_hamming=6, token_hash="sha256")
    q["simhash_near_dups"] = simhash_near_dups

    def ann_lsh_topk(spark, sf):
        # parameters chosen so bucketed recall = 1 on this corpus: the
        # DuckDB oracle is the EXACT top-k — any signature/banding
        # regression (e.g. round 1's collapsed hyperplanes) goes red
        emb = _t(spark, sf, "embeddings")
        res = lsh_topk(emb, emb.filter("vec_id < 5"), k=3, bits=16, bands=8,
                       dim=64)
        return res.select("q_id", "neighbor_id", "rk",
                          F.round("cos", 4).alias("cos_r"))
    q["ann_lsh_topk"] = ann_lsh_topk

    def ann_ivf_topk(spark, sf):
        # IVF-Flat: deterministic coarse k-means cells + nprobe search;
        # nprobe=6 of 8 cells reaches recall 1 here -> exact-top-k oracle
        emb = _t(spark, sf, "embeddings")
        res = ivf_topk(emb, emb.filter("vec_id < 5"), k=3,
                       n_centroids=8, nprobe=6, lloyd_iters=1)
        return res.select("q_id", "neighbor_id", "rk",
                          F.round("cos", 4).alias("cos_r"))
    q["ann_ivf_topk"] = ann_ivf_topk

    def multimodal_features(spark, sf):
        # staged binary fixture on disk -> mapInPandas recomputes bytes/sha
        # from the RAW binary; the oracle reads the stager's independent
        # expected_* columns from the same file
        path = stage_media_fixture()
        media = spark.read.parquet(path).select("asset_id", "kind", "media")
        return extract_features(media).select("asset_id", "kind", "n_bytes",
                                              "sha256")
    q["multimodal_features"] = multimodal_features

    return q


def oracle_sql() -> dict[str, str]:
    toks = _TOKS_SQL.format(c="text")
    o: dict[str, str] = {}

    o["cdc_merge_apply"] = f"""
        WITH ev AS ({_CDC_EVENTS_SQL}),
        w AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY repo, path
                                           ORDER BY lsn DESC) AS rn FROM ev)
        SELECT repo, path, lang, sha256(content) AS content_sha
        FROM w WHERE rn = 1 AND op <> 'D'
    """

    # identical final state regardless of write strategy: the raw/LSM path
    # resolves LWW at read time, so the same oracle applies verbatim
    o["cdc_merge_apply_raw"] = o["cdc_merge_apply"]

    o["cdc_lww_collapse"] = f"""
        WITH ev AS ({_CDC_EVENTS_SQL}),
        w AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY repo, path
                                           ORDER BY lsn DESC) AS rn FROM ev)
        SELECT repo, COUNT(*) AS n_files,
               COUNT(DISTINCT lang) AS n_langs
        FROM w WHERE rn = 1 AND op <> 'D' GROUP BY repo
    """

    o["lww_latest_event_per_user"] = """
        WITH w AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        SELECT user_id, event_id, event_type, ROUND(value, 4) AS value_r
        FROM w WHERE rn = 1
    """

    o["dedup_remove_duplicates"] = """
        WITH w AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                   ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        SELECT event_type, COUNT(*) AS n_kept,
               ROUND(SUM(value), 2) AS sum_value
        FROM w WHERE rn = 1 GROUP BY event_type
    """

    o["watermark_by_entity"] = """
        SELECT event_type,
               strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_extracted_at,
               COUNT(*) AS records_count
        FROM events GROUP BY event_type
    """

    o["distinct_partition_days"] = """
        SELECT DISTINCT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day FROM events
    """

    o["partition_set_difference"] = """
        SELECT strftime(d, '%Y-%m-%d') AS day FROM (
          SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
          EXCEPT
          SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)
    """

    o["json_extract_safe_cast"] = """
        WITH x AS (
          SELECT event_id,
                 TRY_CAST(NULLIF(regexp_extract(props, '"k": ([0-9][0-9])}', 1), '')
                          AS INT) AS k2,
                 TRY_CAST(NULLIF(regexp_extract(props, '[0-9]+', 0), '') AS INT) AS k
          FROM events)
        SELECT k % 10 AS k_mod, COUNT(*) AS n,
               CAST(SUM(CASE WHEN k2 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_unparsed,
               CAST(SUM(k) AS BIGINT) AS sum_k
        FROM x GROUP BY k % 10
    """

    # round-in-double-domain BEFORE the decimal cast, identically on both
    # sides: double->decimal cast rounding differs between engines at
    # .xx5-edge doubles (Spark HALF_UP vs DuckDB round-half-even) and flaked
    # the round-1 hash; a rounded double is never at a cast midpoint.
    # the aggregation stays exact decimal; only the FINAL projection casts to
    # double on BOTH engines — decimal objects canonicalize differently
    # between Spark toPandas() and DuckDB .df() (Decimal('x.0000') vs float),
    # which hash-flaked r2 even though the values were numerically identical.
    _PRODUCT_SALES_DEC_SQL = """
        SELECT p_partkey, p_name, p_brand,
               CAST(SUM(CAST(ROUND(l_extendedprice, 2) AS DECIMAL(12,2))
                        * (1 - CAST(ROUND(l_discount, 2) AS DECIMAL(12,2))))
                    AS DECIMAL(38,4)) AS revenue_dec,
               ROUND(SUM(l_quantity), 2) AS units_sold,
               COUNT(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_partkey, p_name, p_brand
    """
    o["gold_product_sales"] = f"""
        SELECT p_partkey, p_name, p_brand,
               CAST(revenue_dec AS DOUBLE) AS revenue, units_sold, n_lines
        FROM ({_PRODUCT_SALES_DEC_SQL})
    """

    o["gold_product_summary"] = f"""
        WITH m AS ({_PRODUCT_SALES_DEC_SQL})
        SELECT p_brand,
               CAST(CAST(SUM(revenue_dec) AS DECIMAL(38,4)) AS DOUBLE)
                   AS brand_revenue,
               COUNT(*) AS n_products,
               CAST(MAX(revenue_dec) AS DOUBLE) AS top_product_revenue
        FROM m GROUP BY p_brand
    """

    o["gold_inventory_analytics"] = """
        SELECT s_suppkey, s_name,
               ROUND(SUM(l_quantity), 2) AS units_shipped,
               COUNT(DISTINCT l_partkey) AS distinct_parts,
               COUNT(*) AS n_lines
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_suppkey, s_name
    """

    o["latest_event_per_day"] = """
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               arg_max(event_id,
                       strftime(ts, '%Y-%m-%d %H:%M:%S.%f')
                       || lpad(CAST(event_id AS VARCHAR), 12, '0'))
                   AS latest_event_id,
               COUNT(*) AS n
        FROM events GROUP BY 1
    """

    o["parse_ddmmyyyy_dates"] = r"""
        WITH x AS (
          SELECT event_id,
                 CASE WHEN event_id % 5 = 0
                        THEN '(approx) ' || strftime(ts, '%d/%m/%Y')
                      WHEN event_id % 5 = 1 THEN '99/99/2024'
                      ELSE strftime(ts, '%d/%m/%Y') END AS raw
          FROM events WHERE event_id < 2000)
        SELECT event_id, raw,
               strftime(CASE WHEN regexp_matches(raw, '^\d{1,2}/\d{1,2}/\d{4}$')
                             THEN try_strptime(raw, '%d/%m/%Y') END,
                        '%Y-%m-%d') AS parsed
        FROM x
    """

    o["embedding_near_dup_pairs"] = """
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 4)
                   AS cos_r
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE a.vec_id < 300 AND b.vec_id < 300
          AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.35
    """

    # exact all-pairs over the planted-duplicate corpus: the banded-LSH
    # result must EQUAL this (identical vectors share all bands -> recall 1
    # by construction; background max cos 0.46 contributes nothing at 0.99)
    o["embedding_near_dup_lsh"] = """
        WITH corpus AS (
          SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300
          UNION ALL
          SELECT vec_id + 10000 AS vec_id, embedding
          FROM embeddings WHERE vec_id < 100)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 4)
                   AS cos_r
        FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.99
    """

    o["widen_and_project"] = """
        SELECT l_returnflag,
               ROUND(SUM(CAST(l_linenumber AS DOUBLE)), 1) AS sum_ln_wide,
               ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY l_returnflag
    """

    o["schema_null_pad"] = """
        SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS extraction_note,
               CAST(NULL AS DOUBLE) AS score_backfill
        FROM documents
    """

    o["explode_tokens"] = f"""
        SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos, d.t[u.i] AS token
        FROM (SELECT doc_id, {toks} AS t FROM documents WHERE doc_id < 50) d,
             UNNEST(range(1, len(d.t) + 1)) AS u(i)
    """

    o["tumbling_daily_window"] = """
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
               COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
        FROM events GROUP BY 1, 2
    """

    o["broadcast_lookup_join"] = """
        SELECT p_brand,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               COUNT(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    """

    o["anti_join_customers_no_orders"] = """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """

    o["semi_join_parts_sold"] = """
        SELECT p_partkey, p_name, p_size FROM part
        WHERE p_size > 40
          AND EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
    """

    o["dup_detection_having"] = """
        SELECT o_custkey, COUNT(*) AS dup_count FROM orders
        GROUP BY o_custkey HAVING COUNT(*) > 1
    """

    o["ordered_event_journey"] = """
        SELECT user_id,
               string_agg(event_type, ',' ORDER BY ts, event_id) AS journey
        FROM events WHERE user_id < 40 GROUP BY user_id
    """

    o["backfill_join_null_targets"] = """
        WITH t AS (SELECT doc_id,
                          CASE WHEN doc_id % 3 = 0 THEN NULL ELSE lang END
                              AS lang,
                          source
                   FROM documents),
        s AS (SELECT doc_id,
                     lang || '_v' || CAST(v AS VARCHAR) AS lang, v AS ord
              FROM documents CROSS JOIN (VALUES (0), (1)) AS vv(v)),
        d AS (SELECT doc_id, lang FROM (
                SELECT doc_id, lang,
                       ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY ord DESC) AS rn
                FROM s) WHERE rn = 1)
        SELECT t.doc_id, COALESCE(t.lang, d.lang) AS lang, t.source
        FROM t LEFT JOIN d USING (doc_id)
    """

    o["quality_full_report"] = """
        WITH m AS (SELECT
            COUNT(*) AS n,
            ROUND(AVG(CASE WHEN text IS NULL THEN 1 ELSE 0 END), 6) AS nr_text,
            ROUND(AVG(CASE WHEN lang IS NULL THEN 1 ELSE 0 END), 6) AS nr_lang,
            ROUND((COUNT(*) - COUNT(DISTINCT doc_id)) * 1.0 / COUNT(*), 6)
                AS dup,
            ROUND(1.0 - SUM(
                CASE WHEN n_chars IS NOT NULL
                          AND TRY_CAST(n_chars AS BIGINT) IS NULL
                     THEN 1 ELSE 0 END
              + CASE WHEN lang IS NOT NULL
                          AND TRY_CAST(lang AS INT) IS NULL
                     THEN 1 ELSE 0 END) * 1.0 / (COUNT(*) * 2), 6) AS tr
          FROM documents),
        c AS (SELECT *,
                (CASE WHEN nr_text <= 0.05 THEN 1 ELSE 0 END
               + CASE WHEN nr_lang <= 0.05 THEN 1 ELSE 0 END
               + CASE WHEN dup <= 0 THEN 1 ELSE 0 END
               + CASE WHEN tr >= 0.95 THEN 1 ELSE 0 END) AS cp
              FROM m)
        SELECT n AS total_rows, nr_text AS null_rate_text,
               nr_lang AS null_rate_lang, dup AS dup_rate,
               tr AS type_correctness, cp AS checks_passed,
               ROUND(cp * 100.0 / 4, 2) AS score
        FROM c
    """

    o["validate_coerce_records"] = """
        WITH x AS (SELECT
            TRY_CAST(CAST(event_id AS VARCHAR) AS BIGINT) AS event_id,
            TRY_CAST(NULLIF(regexp_extract(props, '[0-9]+', 0), '') AS INT)
                AS k_str,
            event_type FROM events)
        SELECT event_type, COUNT(*) AS n_valid,
               CAST(SUM(k_str) AS BIGINT) AS sum_k
        FROM x WHERE event_id IS NOT NULL AND k_str IS NOT NULL
        GROUP BY event_type
    """

    o["quality_report_documents"] = """
        SELECT COUNT(*) AS total_rows,
               ROUND(AVG(CASE WHEN lang IS NULL THEN 1 ELSE 0 END), 4)
                   AS null_rate_lang,
               ROUND(AVG(CASE WHEN text IS NULL THEN 1 ELSE 0 END), 4)
                   AS null_rate_text,
               ROUND((COUNT(*) - COUNT(DISTINCT text)) * 1.0 / COUNT(*), 4)
                   AS dup_rate_text
        FROM documents
    """

    o["gold_daily_revenue"] = """
        SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
               ROUND(SUM(o_totalprice), 2) AS revenue,
               COUNT(*) AS n_orders
        FROM orders GROUP BY 1
    """

    o["gold_customer_ltv"] = """
        SELECT c_custkey AS custkey, c_name,
               ROUND(SUM(o_totalprice), 2) AS ltv,
               COUNT(*) AS n_orders,
               strftime(MIN(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS first_day,
               strftime(MAX(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS last_day
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_custkey, c_name
    """

    o["q1_pricing_summary"] = """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               ROUND(AVG(l_quantity), 4) AS avg_qty,
               ROUND(AVG(l_discount), 4) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    """

    o["q3_top_open_orders"] = """
        SELECT o_orderkey,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'O'
        GROUP BY o_orderkey
        ORDER BY revenue DESC, o_orderkey LIMIT 10
    """

    o["token_stats"] = f"""
        SELECT doc_id, CAST(len({toks}) AS INT) AS n_tokens,
               CAST(length(text) AS INT) AS n_chars_calc,
               sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
                   AS doc_fingerprint
        FROM documents
    """

    o["lang_id_documents"] = f"""
        WITH t AS (SELECT doc_id, lang AS lang_declared, {toks} AS tk
                   FROM documents),
        h AS (SELECT doc_id, lang_declared,
               len(list_filter(tk, x -> list_contains({_STOP_EN}, x))) AS h_en,
               len(list_filter(tk, x -> list_contains({_STOP_DE}, x))) AS h_de,
               len(list_filter(tk, x -> list_contains({_STOP_FR}, x))) AS h_fr,
               len(list_filter(tk, x -> list_contains({_STOP_ES}, x))) AS h_es
              FROM t)
        SELECT doc_id, lang_declared,
               CASE WHEN h_es > GREATEST(h_en, h_de, h_fr) THEN 'es'
                    WHEN h_fr > GREATEST(h_en, h_de) THEN 'fr'
                    WHEN h_de > h_en THEN 'de'
                    WHEN h_en > 0 THEN 'en'
                    ELSE 'und' END AS lang_guess
        FROM h
    """

    o["quality_score_documents"] = f"""
        WITH t AS (SELECT doc_id, text, {toks} AS tk FROM documents),
        m AS (SELECT doc_id, text, tk,
               CASE WHEN length(text) >= 100 THEN 1.0
                    ELSE length(text) / 100.0 END AS len_ok,
               CASE WHEN len(tk) > 0 THEN
                 CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
                   / len(tk) ELSE 0.0 END AS mtl,
               CASE WHEN length(text) > 0 THEN
                 CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                      AS DOUBLE) / length(text) ELSE 0.0 END AS punct,
               CASE WHEN len(tk) > 0 THEN
                 CAST(len(list_filter(tk, x -> list_contains({_STOP_EN}, x)))
                      AS DOUBLE) / len(tk) ELSE 0.0 END AS swr
              FROM t)
        SELECT doc_id, ROUND((len_ok
               + (CASE WHEN mtl >= 3 AND mtl <= 10 THEN 1.0 ELSE 0.4 END)
               + (CASE WHEN punct <= 0.2 THEN 1.0 ELSE 0.3 END)
               + (CASE WHEN swr >= 0.05 THEN 1.0 ELSE 0.5 END)) / 4.0, 4)
            AS score
        FROM m
    """

    o["exact_dedup_union"] = """
        WITH u AS (SELECT doc_id, text FROM documents
                   UNION ALL
                   SELECT doc_id + 100000 AS doc_id, text FROM documents)
        SELECT MIN(doc_id) AS doc_id FROM u GROUP BY sha256(text)
    """

    o["unigram_jaccard_pairs"] = f"""
        WITH s AS (SELECT doc_id, list_distinct({toks}) AS sh
                   FROM documents WHERE doc_id < 120)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6
    """

    # exact 3-gram-shingle Jaccard all-pairs — the minhash+LSH query's
    # banded candidates verified by true Jaccard must EQUAL this set
    # (recall ≈ 1-(1-j^2)^32 at the 0.5 threshold)
    o["minhash_lsh_pairs"] = f"""
        WITH s AS (
          SELECT doc_id,
                 CASE WHEN len(tk) >= 3 THEN
                   list_distinct(list_transform(range(1, len(tk) - 1),
                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
                 ELSE [] END AS sh
          FROM (SELECT doc_id, {toks} AS tk FROM documents WHERE doc_id < 150))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.sh, b.sh))), 4)
                   AS jaccard
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE len(a.sh) > 0 AND len(b.sh) > 0
          AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
    """

    # independent full recomputation of the sha256-based 64-bit SimHash:
    # bit j of a token's contribution = bit (j%4) of hex digit (j//4) of
    # sha256(token); document bit = sign of the summed ±1 contributions.
    # All pairs with hamming <= 6 — the banded query equals this exactly
    # (pigeonhole: 8 bands > 6 differing bits).
    o["simhash_near_dups"] = f"""
        WITH t AS (SELECT doc_id, unnest({toks}) AS tok
                   FROM documents WHERE doc_id < 150),
        h AS (SELECT doc_id, sha256(tok) AS hx FROM t),
        b AS (SELECT doc_id, j,
                SUM(CASE WHEN ((strpos('0123456789abcdef',
                                       substring(hx, CAST(j // 4 AS INT) + 1, 1))
                                - 1) >> (j % 4)) & 1 = 1
                         THEN 1 ELSE -1 END) AS s
              FROM h CROSS JOIN range(64) r(j) GROUP BY doc_id, j),
        sig AS (SELECT doc_id,
                       string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, ''
                                  ORDER BY j) AS sim
                FROM b GROUP BY doc_id)
        SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
               CAST(hamming(a.sim, b2.sim) AS INT) AS hamming
        FROM sig a JOIN sig b2 ON a.doc_id < b2.doc_id
        WHERE hamming(a.sim, b2.sim) <= 6
    """

    media_path = stage_media_fixture()
    o["multimodal_features"] = f"""
        SELECT asset_id, kind, expected_n_bytes AS n_bytes,
               expected_sha256 AS sha256
        FROM read_parquet('{media_path}')
    """

    # manual cosine with the exact same fold order as the Spark expression
    o["cosine_topk_exact"] = """
        WITH v AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                   FROM embeddings),
        p AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                     list_sum(list_transform(range(1, len(q.e) + 1),
                              i -> q.e[i] * n.e[i])) AS dt,
                     sqrt(list_sum(list_transform(q.e, x -> x * x))) AS nq,
                     sqrt(list_sum(list_transform(n.e, x -> x * x))) AS nn
              FROM v q JOIN v n ON q.vec_id < 5 AND n.vec_id <> q.vec_id),
        s AS (SELECT q_id, n_id,
                     CASE WHEN nq * nn > 0 THEN dt / (nq * nn) ELSE 0.0 END AS cos,
                     ROW_NUMBER() OVER (PARTITION BY q_id
                         ORDER BY CASE WHEN nq * nn > 0 THEN dt / (nq * nn)
                                       ELSE 0.0 END DESC, n_id) AS rk
              FROM p)
        SELECT q_id, n_id AS neighbor_id, CAST(rk AS INT) AS rk,
               ROUND(cos, 4) AS cos_r
        FROM s WHERE rk <= 3
    """

    # the ANN queries' parameters reach recall 1 on this corpus, so the
    # EXACT top-k is their oracle: a bucketing/signature regression (missed
    # true neighbor) breaks the hash match instead of passing silently
    o["ann_lsh_topk"] = o["cosine_topk_exact"]
    o["ann_ivf_topk"] = o["cosine_topk_exact"]

    return o


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full CDC MERGE-apply engine replaying a 3-epoch derived
    change feed on sf0.001 and returning the final silver state."""
    return _run_cdc_engine(spark, DEFAULT_SF)
