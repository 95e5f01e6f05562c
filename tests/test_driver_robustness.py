"""Emulate the grading driver: a PLAIN SparkSession (none of get_spark()'s
configs, and a hostile non-UTC JVM timezone) must still run the declared
queries and match the DuckDB oracle — the engine pins its required runtime
confs itself."""

from __future__ import annotations

import subprocess
import sys

SCRIPT = r"""
import sys
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession

# a driver-like session: default configs, hostile timezone
spark = (
    SparkSession.builder.master("local[4]")
    .appName("driver-emulation")
    .config("spark.driver.extraJavaOptions", "-Duser.timezone=America/New_York")
    .config("spark.sql.session.timeZone", "America/New_York")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)

import __spark_entry__ as mod
from tests.compare import duckdb_conn, assert_frames_match

sf = "/root/testdata/sf0.001"
con = duckdb_conn(sf)
checked = ["q1_pricing_summary", "q_hourly_events", "cdc_latest_state",
           "q_sessionize_events", "q_monthly_orders", "streaming_tumbling_counts",
           # round-5 additions: must also survive a hostile plain session
           "streaming_enrich_static", "dedup_chunk_boilerplate",
           "sketch_count_min", "text_bm25_search", "cdc_scd2_history",
           "sample_leakage_safe_split", "export_shard_stats"]
for name in checked:
    sdf = mod.queries()[name](spark, sf)
    assert_frames_match(sdf.toPandas(), con.execute(mod.oracle_sql()[name]).df(), name)
    print("OK", name)

assert mod.entry(spark).count() > 0
print("OK entry")
"""


def test_plain_session_matches_oracle():
    res = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        capture_output=True,
        text=True,
        timeout=600,
        cwd="/root/repo",
    )
    assert res.returncode == 0, f"stdout:\n{res.stdout}\nstderr:\n{res.stderr[-3000:]}"
    for name in ("q1_pricing_summary", "q_hourly_events", "cdc_latest_state", "entry"):
        assert f"OK {name}" in res.stdout


def test_timestamp_encoding_drift(spark, tmp_path):
    """The driver's events.ts has shipped as parquet TIMESTAMP(NANOS)
    (read as bigint under nanosAsLong), then as timezone-naive micros
    (read as TIMESTAMP_NTZ unless inference is disabled). read_table must
    normalize EVERY encoding to TimestampType with identical instant values
    — the reference's schema-drift bug class (01-setup-ec-vm.md:309 typed
    epoch-millis as `date`; SURVEY §1.2 'ONE schema registry')."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    from buskafkasparkstreaming_spark.functions import ts_millis
    from buskafkasparkstreaming_spark.sources.files import read_table

    micros = [1_700_000_000_000_000, 1_700_000_123_456_789]  # µs since epoch
    ids = [1, 2]
    encodings = {
        "nanos": pa.table(
            {"event_id": ids, "ts": pa.array([m * 1000 for m in micros], pa.timestamp("ns"))}
        ),
        "ntz_micros": pa.table(
            {"event_id": ids, "ts": pa.array(micros, pa.timestamp("us"))}
        ),
        "ltz_micros": pa.table(
            {"event_id": ids, "ts": pa.array(micros, pa.timestamp("us", tz="UTC"))}
        ),
        "iso_string": pa.table(
            {
                "event_id": ids,
                "ts": pa.array(
                    [
                        "2023-11-14 22:13:20",
                        "2023-11-14 22:15:23.456789",
                    ]
                ),
            }
        ),
        # raw BIGINT epochs: the unit must be inferred from magnitude
        # (epoch seconds/millis/micros/nanos are 1000x apart) — the
        # reference's own drift class typed epoch-millis as `date`
        "bigint_micros": pa.table(
            {"event_id": ids, "ts": pa.array(micros, pa.int64())}
        ),
        "bigint_millis": pa.table(
            {"event_id": ids, "ts": pa.array([m // 1000 for m in micros], pa.int64())}
        ),
        "bigint_seconds": pa.table(
            {
                "event_id": ids,
                "ts": pa.array([m // 1_000_000 for m in micros], pa.int64()),
            }
        ),
        "bigint_nanos": pa.table(
            {"event_id": ids, "ts": pa.array([m * 1000 for m in micros], pa.int64())}
        ),
    }
    results = {}
    for name, tbl in encodings.items():
        d = tmp_path / name
        d.mkdir()
        pq.write_table(tbl, str(d / "events.parquet"))
        df = read_table(spark, str(d), "events")
        assert isinstance(df.schema["ts"].dataType, TimestampType), (
            f"{name}: ts read as {df.schema['ts'].dataType}"
        )
        rows = df.select("event_id", ts_millis("ts").alias("ms")).orderBy("event_id").collect()
        results[name] = [r.ms for r in rows]
    expected = [m // 1000 for m in micros]
    # a seconds-grain encoding can only carry seconds-grain values
    expected_by = {"bigint_seconds": [m // 1_000_000 * 1000 for m in micros]}
    for name, got in results.items():
        want = expected_by.get(name, expected)
        assert got == want, f"{name}: {got} != {want}"


def test_embedding_dtype_drift(spark, tmp_path):
    """The driver's `embeddings.embedding` ships as array<float> today; if
    it drifts to array<double> (the ts-encoding precedent), every
    embedding operator must still run. Probed end-to-end here against a
    double-encoded copy of the real table via the driver entries
    themselves."""
    import shutil

    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    src = "/root/testdata/sf0.001"
    drift = tmp_path / "drift"
    drift.mkdir()
    emb = spark.read.parquet(f"{src}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    emb.coalesce(1).write.mode("overwrite").parquet(str(drift / "emb_dir"))
    import glob
    import os

    part = glob.glob(str(drift / "emb_dir" / "part-*.parquet"))[0]
    os.replace(part, str(drift / "embeddings.parquet"))
    shutil.rmtree(drift / "emb_dir")

    qs = entrymod.queries()
    for name in (
        "ann_cosine_topk",
        "ann_quantize_int8",
        "dedup_rp_lsh_embeddings",
        "ann_pq_adc_rerank",
        "ann_ivfadc_topk",
    ):
        df = qs[name](spark, str(drift))
        assert df.count() > 0, f"{name} produced no rows on array<double>"


def test_null_text_drift(spark, tmp_path):
    """If documents.text ever ships with NULLs or empty strings (the
    ts-encoding precedent), the text/dedup entries must KEEP ORACLE PARITY
    on the drifted data — both engines see the same bytes, so any
    divergence is an engine-semantics leak (e.g. concat_ws swallowing a
    NULL that array_to_string propagates, caught by this probe)."""
    import os
    import shutil

    import duckdb

    import __spark_entry__ as entrymod
    from tests.compare import duckdb_conn, run_pair

    src = "/root/testdata/sf0.001"
    drift = str(tmp_path / "nulls")
    os.makedirs(drift)
    con0 = duckdb.connect()
    con0.execute(
        f"""
        COPY (SELECT doc_id,
                     CASE WHEN doc_id % 17 = 0 THEN NULL
                          WHEN doc_id % 13 = 0 THEN ''
                          ELSE text END AS text,
                     lang, source, n_chars
              FROM '{src}/documents.parquet')
        TO '{drift}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con0.close()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "embeddings"
    ).split():
        shutil.copy(f"{src}/{t}.parquet", f"{drift}/{t}.parquet")

    con = duckdb_conn(drift)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    for name in (
        "text_quality",
        "text_token_count",
        "text_langid",
        "text_gopher_rules",
        "text_c4_rules",
        "text_pii_redact",
        "dedup_exact",
        "dedup_chunk_boilerplate",
        "text_vocab_coverage",
        "text_bm25_search",
        "sketch_count_min",
        "doc_fingerprint",
        # shingle family: contentless docs must have NO shingles/windows on
        # BOTH sides (word_shingles guard + oracle WHERE) — the family-wide
        # divergence this test originally caught
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "dedup_substring_spans",
        "text_duplicate_fraction",
        "dedup_clusters",
        "dedup_contamination",
        "dedup_simhash",
        "text_lm_bigram_score",
        "pack_chunk_documents",
        "corpus_curation",
        "text_bigram_pmi",
        "dedup_keep_best",
        "graph_bfs_reachability",
        "graph_triangle_count",
        # NULL/empty text → NULL levenshtein/length must drop rows on
        # BOTH sides (NULL >= threshold is not-true in both engines)
        "dedup_editdist_rerank",
        # contentless docs must vanish from the prefix index and from the
        # ROUGE pair sizes on BOTH sides (word_shingles guard + oracle w/
        # grams CTEs)
        "dedup_prefix_filter",
        "text_rouge_overlap",
        # NULL/empty text must contribute no words to the BPE corpus on
        # BOTH sides (w <> '' filter after the split)
        "text_bpe_merges",
        # r11: NULL text drops before the dirt synthesis; empty text
        # cleans to the empty string with the same md5 on both sides
        "text_unicode_clean",
        # r12: empty text -> ZERO-token docs; a zero-size item must
        # never first-fit into an overflow singleton's bin (capacity -1
        # fix — pre-fix the engine's overflow_singletons_ok boolean
        # flips false against the oracle's TRUE literal right here)
        "pack_ffd_bins",
        # contentless docs must be absent from the novelty output on
        # BOTH sides (no shingles -> no rows)
        "text_ngram_novelty",
        # NULL/empty text contributes no words to the vocab ranks
        "text_zipf_slope",
        # contentless docs produce no shingles -> no directed pairs, no
        # k-core membership, on BOTH sides
        "dedup_containment",
        "graph_kcore",
        # contentless docs must be absent from the weighted index, the
        # df/N weight inputs, and the pair stream on BOTH sides
        "dedup_weighted_minhash",
        # contentless docs contribute no terms: absent from tf, df, the
        # N count, the norms, and the pair stream on BOTH sides
        "dedup_tfidf_cosine",
    ):
        run_pair(spark, con, qs[name], oracles[name], drift, name)
    con.close()


def test_null_events_drift(spark, tmp_path):
    """Events-table drift: NULL event_type/value and NULL/malformed props
    must keep oracle parity — lenient-vs-strict JSON (get_json_object
    NULLs where DuckDB throws), NULL group keys, and NULL money values
    were all caught by this probe."""
    import os
    import shutil

    import duckdb

    import __spark_entry__ as entrymod
    from tests.compare import duckdb_conn, run_pair

    src = "/root/testdata/sf0.001"
    drift = str(tmp_path / "ev")
    os.makedirs(drift)
    con0 = duckdb.connect()
    con0.execute(
        f"""
        COPY (SELECT event_id, ts, user_id,
                     CASE WHEN event_id % 19 = 0 THEN NULL
                          ELSE event_type END AS event_type,
                     CASE WHEN event_id % 23 = 0 THEN NULL
                          ELSE value END AS value,
                     CASE WHEN event_id % 29 = 0 THEN NULL
                          WHEN event_id % 31 = 0 THEN 'not json {{'
                          ELSE props END AS props
              FROM '{src}/events.parquet')
        TO '{drift}/events.parquet' (FORMAT PARQUET)
        """
    )
    con0.close()
    for t in (
        "region nation customer supplier part orders lineitem documents "
        "embeddings"
    ).split():
        shutil.copy(f"{src}/{t}.parquet", f"{drift}/{t}.parquet")

    con = duckdb_conn(drift)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    for name in (
        "q_json_extract",
        "q_map_explode_props",
        "q_zscore_by_type",
        "q_sessionize_events",
        "q_event_gaps",
        "q_hourly_events",
        "q_sliding_window_avg",
        "q_range_frame_events",
        "q_approx_distinct_users",
        "q_pivot_event_types",
        "streaming_tumbling_counts",
        "streaming_dedup_keys",
        "q_asof_purchase_before_error",
        "rollup_incremental",
        "layout_zorder_events",
        "q_argmax_events",
        "q_asof_next_purchase",
        "q_asof_nearest_purchase",
        "manifest_read_where",
        "sketch_hll_distinct",
        "streaming_purchase_error_left_join",
        "streaming_purchase_error_full_join",
        "q_gapfill_hourly",
        "q_locf_fill",
        "q_funnel_conversion",
        "q_cohort_retention",
        "q_cohort_retention_daily",
        "sketch_quantile_histogram",
        "q_mode_deterministic",
        "q_window_ignore_nulls",
        "q_mad_outliers",
        "q_ewma_dyadic",
        "ts_sax_words",
        "streaming_topk_per_window",
        "manifest_time_travel",
        "q_variant_props",
        "streaming_hourly_daily_rollup",
        "q_interval_contain_join",
        "q_cusum_changepoint",
        "q_event_type_affinity",
        "q_percentile_bands",
        "ts_sax_blocking_pairs",
        "q_running_distinct_types",
        "sketch_hll_intersection",
        "q_chi2_independence",
        "sketch_theta_intersection",
        "q_event_transitions",
        "streaming_session_topk",
        "q_funnel_timeout",
        "streaming_funnel_timeout",
        "q_funnel_sliding_windows",
        "q_ks_rolling_hourly",
        # r11: NULL type/value rows must drop from the spans / the
        # frontier point set identically on both sides
        "q_allen_spans",
        "streaming_skyline",
        # r12 head candidate: NULL props rows also leave the 3-D point
        # set on both sides
        "streaming_skyline3",
        # NULL event_type rows must drop from the (type, hour) cells /
        # the purge table build identically on both sides; the hour axis
        # and seasonal cells only need ts
        "q_entropy_mi",
        "q_acf_hourly",
        "q_seasonal_anomaly",
        "cdc_purge_keys",
        # NULL value rows must stay out of the streamed histograms and
        # the watermark; NULL event_type drops from both CCF series
        "streaming_psi_drift",
        "q_ccf_types",
        # NULL value rows must be absent from the ranked stream on BOTH
        # sides before the level plan is applied (n counts non-null only)
        "sketch_kll_quantiles",
        # NULL value rows stay out of the streamed log-histogram bins and
        # its per-hour n; NULL event_type/props drop out of count(DISTINCT)
        # on BOTH sides of the FD profiler
        "streaming_quantile_hourly",
        "q_fd_violations",
        # NULL value rows must be outside the rank/bin frames and NULL
        # event_type outside both samples on BOTH sides (U test,
        # Hellinger bins, Holt's per-type hourly series)
        "q_mannwhitney_u",
        "q_group_mannwhitney",
        "q_group_spearman_trend",
        "q_hellinger_types",
        "q_holt_dyadic",
        # round-9 registrations: NULL value rows propagate NULL cents
        # through the Hilbert walk identically (integer CASE arithmetic
        # is NULL-strict in both engines) and must be outside the ECDF
        # counts and the chi2/Cramér's V contingency cells on BOTH sides
        "layout_hilbert_events",
        "q_ecdf_transform",
        "q_cramers_v",
        # NULL ts/value rows define no LOCF segment; NULL event_type
        # rows form their own window partition and (group, hour) cell
        # identically in both engines
        "q_twap_hourly",
        # NULL event_type rows are excluded from the touch stream on
        # BOTH sides (neither touch nor conversion)
        "q_attribution_credit",
        # r11: NULL event_type rows are not monitor points; error-hour
        # incident evidence needs a non-NULL type by definition
        "streaming_allen_monitor",
        # r11 second wave: NULL event_type rows join no reservoir key
        # and no bipartite edge on EITHER side
        "streaming_reservoir_sample",
        "streaming_pagerank_monitor",
        # r12: NULL event_type rows join no weighted-reservoir key and
        # no (part, hour) inventory cell; NULL/malformed props fold to
        # weight tier 1 via the SAME coalesce(length, 0) on both sides
        "streaming_weighted_reservoir",
        "manifest_compaction_plan",
        # r13 candidates: NULL type/value rows are outside the manifest
        # build and the per-type hourly histograms identically
        "manifest_compact_execute",
        "streaming_group_ks",
        # r14: NULL type/value/ts rows are outside the emitted (g, value,
        # hour) cells on BOTH sides of the live Spearman trend; NULL
        # type/value/user rows are outside the live U's split-count
        # cells identically; NULL type/id/value rows never enter the
        # clustered table build on either side
        "streaming_group_spearman",
        "streaming_group_mannwhitney",
        "manifest_compact_cluster",
        # r14: the bloom probe set derives from the SURVIVING rows on
        # both sides (ids that lose type/value drop out of probes too)
        "manifest_bloom_lookup",
    ):
        run_pair(spark, con, qs[name], oracles[name], drift, name)
    con.close()


def test_null_orders_drift(spark, tmp_path):
    """Orders-table drift: NULL status/price/date must keep oracle parity
    — caught the ASC-NULLS-FIRST (Spark) vs ASC-NULLS-LAST (DuckDB)
    window-ordering divergence and null-median semantics."""
    import os
    import shutil

    import duckdb

    import __spark_entry__ as entrymod
    from tests.compare import duckdb_conn, run_pair

    src = "/root/testdata/sf0.001"
    drift = str(tmp_path / "ord")
    os.makedirs(drift)
    con0 = duckdb.connect()
    con0.execute(
        f"""
        COPY (SELECT o_orderkey, o_custkey,
                     CASE WHEN o_orderkey % 19 = 0 THEN NULL
                          ELSE o_orderstatus END AS o_orderstatus,
                     CASE WHEN o_orderkey % 23 = 0 THEN NULL
                          ELSE o_totalprice END AS o_totalprice,
                     CASE WHEN o_orderkey % 29 = 0 THEN NULL
                          ELSE o_orderdate END AS o_orderdate,
                     o_orderpriority
              FROM '{src}/orders.parquet')
        TO '{drift}/orders.parquet' (FORMAT PARQUET)
        """
    )
    con0.close()
    for t in (
        "region nation customer supplier part lineitem events documents "
        "embeddings"
    ).split():
        shutil.copy(f"{src}/{t}.parquet", f"{drift}/{t}.parquet")

    con = duckdb_conn(drift)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    for name in (
        "q3_shipping_priority",
        "q_topk_orders_per_customer",
        "q_median_price_by_priority",
        "q_monthly_orders",
        "q_date_parts",
        "q_rollup_status_priority",
        "q_cube_status_priority",
        "q_grouping_sets",
        "q_pivot_native",
        "q_decimal_and_date",
        "q_exists_correlated",
        "q_orders_of_rich_customers",
        "q_setops_high_value",
        "q_offset_pagination",
        "q_cume_dist_nth_value",
        "q_corr_price_items",
        "q_null_semantics",
        "q_percentile_disc",
        "q_histogram_equi_width",
        "q_regr_slope_exact",
        "q_rfm_segments",
        "q_unpivot_metrics",
        "q_spearman_corr",
        "q_cube_grouping_id",
        "q_benford_digits",
        "q_weighted_median",
        "q_top_percent_orders",
        "q_scalar_subquery_select",
        "q_mom_growth",
        "q_percentile_cont",
        "q4_late_ship_priority",
        "q13_customer_distribution",
        "q21_sole_late_supplier",
        "q22_idle_rich_customers",
        # round-8 third wave: NULL o_orderdate must stay filtered
        # identically on both sides of the year()/lateness arithmetic
        "q8_market_share",
        "q9_product_profit",
        "q12_late_ship_classes",
        "q_ks_two_sample",
        "q_psi_drift",
        "sketch_tdigest_pinned",
        # NULL price/date rows must be outside BOTH groups' n, rank
        # stream, and KLL level plans identically on both sides
        "sketch_ks_approx",
        # NULL o_totalprice rows must be outside rank, n, AND k = n div
        # 20 identically on both sides
        "q_winsorized_stats",
        # NULL price/custkey rows out of the rank-weighted Gini sum and
        # the per-customer revenue identically on both sides
        "q_gini_revenue",
        "q_herfindahl_segments",
        # NULL-price rows must be outside every bootstrap replica
        "q_bootstrap_ci_mean",
        # NULL o_orderstatus drops that LHS group from the FD profile on
        # BOTH sides (the o_orderstatus->o_orderpriority pair)
        "q_fd_violations",
        # NULL o_totalprice rows must be outside every group's exact
        # moments (n, s, q) identically on both sides
        "q_anova_f",
        # r12: NULL price/date rows are outside BOTH year samples and
        # the per-segment value axis identically on both sides
        "q_group_ks",
        "q_group_ecdf",
    ):
        run_pair(spark, con, qs[name], oracles[name], drift, name)
    con.close()


def test_null_lineitem_drift(spark, tmp_path):
    """Lineitem drift: NULL quantity/discount/returnflag. The aggregate
    entries are naturally parity-safe (SQL NULL semantics match across
    engines) — this locks that in."""
    import os
    import shutil

    import duckdb

    import __spark_entry__ as entrymod
    from tests.compare import duckdb_conn, run_pair

    src = "/root/testdata/sf0.001"
    drift = str(tmp_path / "li")
    os.makedirs(drift)
    con0 = duckdb.connect()
    con0.execute(
        f"""
        COPY (SELECT * REPLACE (
                     CASE WHEN l_orderkey % 19 = 0 THEN NULL
                          ELSE l_quantity END AS l_quantity,
                     CASE WHEN l_orderkey % 23 = 0 THEN NULL
                          ELSE l_discount END AS l_discount,
                     CASE WHEN l_orderkey % 29 = 0 THEN NULL
                          ELSE l_returnflag END AS l_returnflag,
                     CASE WHEN l_linenumber % 31 = 0 THEN NULL
                          ELSE l_partkey END AS l_partkey)
              FROM '{src}/lineitem.parquet')
        TO '{drift}/lineitem.parquet' (FORMAT PARQUET)
        """
    )
    con0.close()
    for t in (
        "region nation customer supplier part orders events documents "
        "embeddings"
    ).split():
        shutil.copy(f"{src}/{t}.parquet", f"{drift}/{t}.parquet")

    con = duckdb_conn(drift)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    for name in (
        "q1_pricing_summary",
        "q5_local_supplier_volume",
        "q_distinct_counts",
        "q_approx_quantile_bound",
        "q_running_total",
        "q_union_by_name",
        "q_multiset_setops",
        "q_intersect_segments",
        "q_two_phase_skew_agg",
        "q_regr_slope_exact",
        "q6_forecast_revenue",
        "q18_large_orders",
        "q_cheapest_supplier_per_part",
        # round-8 third wave: quantity/discount NULLs flow through the
        # exact fixed-point arithmetic of the TPC-H closure analogs
        "q11_important_parts",
        "q15_top_supplier",
        "q16_supplier_part_counts",
        "q17_small_qty_revenue",
        "q19_or_predicate_revenue",
        "q20_promo_heavy_suppliers",
        # NULL l_partkey (join-key drift): NULL keys drop from equi-joins
        # and the a.p < b.p pair predicate identically in both engines
        "q_market_basket_lift",
        "q9_product_profit",
        "q14_promo_share",
        # r11: NULL price/shipdate/quantity rows are off the frontier
        # (NULL never dominates, never survives) on BOTH sides; NULL
        # l_partkey rows drop from the stripe (NULL % 29 is NULL)
        "q_skyline3_lineitems",
    ):
        run_pair(spark, con, qs[name], oracles[name], drift, name)
    con.close()


def test_empty_tables_drift(spark, tmp_path):
    """EVERY declared entry must execute on zero-row tables (the cheapest
    full-surface sweep: degenerate inputs flush out divide-by-zero,
    empty-sample model fits, and first()/collect()[0] assumptions)."""
    import os

    import duckdb

    import __spark_entry__ as entrymod

    src = "/root/testdata/sf0.001"
    drift = str(tmp_path / "empty")
    os.makedirs(drift)
    con0 = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con0.execute(
            f"COPY (SELECT * FROM '{src}/{t}.parquet' LIMIT 0) "
            f"TO '{drift}/{t}.parquet' (FORMAT PARQUET)"
        )
    con0.close()
    failures = []
    for name, fn in entrymod.queries().items():
        try:
            fn(spark, drift).count()
        except Exception as e:  # noqa: BLE001 — collecting the full list
            failures.append(f"{name}: {e}")
    assert not failures, "\n".join(failures)


def test_null_ts_drift(spark, tmp_path):
    """events.ts with NULLs: event-time operators define timeless rows OUT
    (they can't be watermarked, sessionized, bucketed, or as-of matched,
    and engines disagree on NULL sort placement). Caught: NULL build times
    acting as since-forever as-of matches; NULL buckets kept by the SQL
    side but dropped by window()/watermark on the Spark side."""
    import os
    import shutil

    import duckdb

    import __spark_entry__ as entrymod
    from tests.compare import duckdb_conn, run_pair

    src = "/root/testdata/sf0.001"
    drift = str(tmp_path / "ts")
    os.makedirs(drift)
    con0 = duckdb.connect()
    con0.execute(
        f"""
        COPY (SELECT event_id,
                     CASE WHEN event_id % 19 = 0 THEN NULL ELSE ts END AS ts,
                     user_id, event_type, value, props
              FROM '{src}/events.parquet')
        TO '{drift}/events.parquet' (FORMAT PARQUET)
        """
    )
    con0.close()
    for t in (
        "region nation customer supplier part orders lineitem documents "
        "embeddings"
    ).split():
        shutil.copy(f"{src}/{t}.parquet", f"{drift}/{t}.parquet")

    con = duckdb_conn(drift)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    for name in (
        "q_hourly_events",
        "q_sessionize_events",
        "q_event_gaps",
        "q_sliding_window_avg",
        "q_range_frame_events",
        "cdc_scd2_history",
        "q_asof_purchase_before_error",
        "streaming_tumbling_counts",
        "streaming_sliding_avg",
        "streaming_session_windows",
        "streaming_stateful_running",
        "streaming_dedup_within_watermark",
        "streaming_purchase_error_join",
        "rollup_incremental",
        "layout_zorder_events",
        "q_ewma_dyadic",
        "ts_sax_words",
        "streaming_topk_per_window",
        "q_window_ignore_nulls",
        "streaming_hourly_daily_rollup",
        "cdc_diff_versions",
        "q_interval_contain_join",
        "q_event_type_affinity",
        "ts_sax_blocking_pairs",
        "streaming_session_topk",
        "q_event_transitions",
        "q_funnel_timeout",
        "streaming_funnel_timeout",
        "q_funnel_sliding_windows",
        "q_ks_rolling_hourly",
        # NULL ts rows must be outside the hourly pair axis / the
        # streamed registers AND the final watermark on BOTH sides
        "q_theilsen_hourly",
        "streaming_hll_hourly",
        "streaming_cusum_hourly",
        # r11: NULL ts rows are neither monitor points nor incident
        # evidence — the hour axis shifts identically on both sides
        "streaming_allen_monitor",
        # r12: NULL ts rows are neither span evidence nor inventory
        # cells — spans, incidents, and the (part, hour) objects all
        # shift identically in both engines
        "streaming_allen_sessions",
        "manifest_compaction_plan",
        # r13 candidate: NULL ts rows are outside every hourly pair
        # axis AND the final watermark on both sides
        "streaming_group_ks",
        # r14: NULL ts rows are outside the emitted cells and the
        # watermark of the live trend identically
        "streaming_group_spearman",
        # r13 candidate: NULL ts rows are not span evidence for either
        # live side
        "streaming_allen_live_spans",
    ):
        run_pair(spark, con, qs[name], oracles[name], drift, name)
    con.close()


def test_null_customer_drift(spark, tmp_path):
    """Customer-dimension drift: NULL name/nationkey/acctbal/mktsegment.
    The join/aggregate surface is naturally parity-safe (SQL NULL
    semantics) — locked in across eleven entries."""
    import os
    import shutil

    import duckdb

    import __spark_entry__ as entrymod
    from tests.compare import duckdb_conn, run_pair

    src = "/root/testdata/sf0.001"
    drift = str(tmp_path / "dims")
    os.makedirs(drift)
    con0 = duckdb.connect()
    con0.execute(
        f"""
        COPY (SELECT c_custkey,
                     CASE WHEN c_custkey % 19 = 0 THEN NULL ELSE c_name END AS c_name,
                     CASE WHEN c_custkey % 23 = 0 THEN NULL ELSE c_nationkey END AS c_nationkey,
                     CASE WHEN c_custkey % 29 = 0 THEN NULL ELSE c_acctbal END AS c_acctbal,
                     CASE WHEN c_custkey % 31 = 0 THEN NULL ELSE c_mktsegment END AS c_mktsegment
              FROM '{src}/customer.parquet')
        TO '{drift}/customer.parquet' (FORMAT PARQUET)
        """
    )
    con0.close()
    for t in (
        "region nation supplier part orders lineitem events documents "
        "embeddings"
    ).split():
        shutil.copy(f"{src}/{t}.parquet", f"{drift}/{t}.parquet")

    con = duckdb_conn(drift)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    for name in (
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q_right_join_customers",
        "q_full_outer_counts",
        "q_exists_correlated",
        "q_customers_without_orders",
        "q_orders_of_rich_customers",
        "q_string_funcs",
        "q_string_agg_suppliers",
        "streaming_enrich_static",
        "q_topk_orders_per_customer",
        "q13_customer_distribution",
        "q22_idle_rich_customers",
        # NULL name/nationkey/acctbal: NULL block keys must produce NO
        # candidate pairs on BOTH sides (plain equality, not eqNullSafe)
        "q_record_linkage_fs",
        # r11: NULL c_mktsegment forms its OWN quintile partition (SQL
        # NULL window-partition semantics) — grouped_ntile's null-safe
        # stats join must keep those rows, not drop them
        "q_segment_lift",
        # r12 head candidate: NULL segments are EXPLICITLY filtered on
        # both sides before the PAV fit
        "q_isotonic_calibration",
        # r12: NULL segments are explicitly filtered before the
        # per-group CDF on both sides (the same isNotNull guard)
        "q_group_ks",
        "q_group_ecdf",
    ):
        run_pair(spark, con, qs[name], oracles[name], drift, name)
    con.close()


def test_null_part_supplier_drift(spark, tmp_path):
    """Part/supplier drift: NULL names/prices/nationkeys. Caught the
    all-NULL string_agg group ('' in Spark via collect_list vs NULL in
    SQL)."""
    import os
    import shutil

    import duckdb

    import __spark_entry__ as entrymod
    from tests.compare import duckdb_conn, run_pair

    src = "/root/testdata/sf0.001"
    drift = str(tmp_path / "ps")
    os.makedirs(drift)
    con0 = duckdb.connect()
    con0.execute(
        f"""
        COPY (SELECT * REPLACE (
                CASE WHEN p_partkey % 19 = 0 THEN NULL ELSE p_name END AS p_name,
                CASE WHEN p_partkey % 23 = 0 THEN NULL ELSE p_retailprice END AS p_retailprice)
              FROM '{src}/part.parquet')
        TO '{drift}/part.parquet' (FORMAT PARQUET)
        """
    )
    con0.execute(
        f"""
        COPY (SELECT * REPLACE (
                CASE WHEN s_suppkey % 7 = 0 THEN NULL ELSE s_name END AS s_name,
                CASE WHEN s_suppkey % 5 = 0 THEN NULL ELSE s_nationkey END AS s_nationkey)
              FROM '{src}/supplier.parquet')
        TO '{drift}/supplier.parquet' (FORMAT PARQUET)
        """
    )
    con0.close()
    for t in (
        "region nation customer orders lineitem events documents embeddings"
    ).split():
        shutil.copy(f"{src}/{t}.parquet", f"{drift}/{t}.parquet")

    con = duckdb_conn(drift)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    for name in (
        "q_parts_above_avg_price",
        "q5_local_supplier_volume",
        "q_string_agg_suppliers",
        "q_range_join_value_tiers",
        "q_union_by_name",
        "q_intersect_segments",
        # round-8 third wave: NULL p_name/p_retailprice/s_name/s_nationkey
        # through the LIKE filter, cost arithmetic, and semi-joins
        "q9_product_profit",
        "q15_top_supplier",
        "q20_promo_heavy_suppliers",
        # NULL p_retailprice rows are non-frontier on BOTH sides
        # (three-valued dominance)
        "q_skyline_parts",
    ):
        run_pair(spark, con, qs[name], oracles[name], drift, name)
    con.close()


def test_unicode_text_drift(spark, tmp_path):
    """If documents.text ever ships CJK / emoji / accented text (the
    ts-encoding precedent), the text pipeline must keep oracle parity:
    char-based length(), space-splitting, substr, regex classes, and
    md5-of-UTF-8 must agree between the engines on multibyte input."""
    import os
    import shutil

    import duckdb

    import __spark_entry__ as entrymod
    from tests.compare import duckdb_conn, run_pair

    src = "/root/testdata/sf0.001"
    drift = str(tmp_path / "uni")
    os.makedirs(drift)
    con0 = duckdb.connect()
    con0.execute(
        f"""
        COPY (SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0
                              THEN text || ' 数据 管道 🚀 café'
                          WHEN doc_id % 7 = 0
                              THEN 'これは テスト です ' || text
                          ELSE text END AS text,
                     lang, source, n_chars
              FROM '{src}/documents.parquet')
        TO '{drift}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con0.close()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "embeddings"
    ).split():
        shutil.copy(f"{src}/{t}.parquet", f"{drift}/{t}.parquet")

    con = duckdb_conn(drift)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    for name in (
        "text_token_count",
        "text_gopher_rules",
        "text_c4_rules",
        "doc_fingerprint",
        "dedup_exact",
        "text_langid",
        "text_quality",
        "dedup_ngram_jaccard",
        "dedup_simhash",
        "text_lm_score",
        "sample_dsir_importance",
        "text_bigram_pmi",
        "dedup_keep_best",
        # levenshtein + substr on multibyte text: both engines must
        # count CHARACTERS (not bytes) identically
        "dedup_editdist_rerank",
    ):
        run_pair(spark, con, qs[name], oracles[name], drift, name)
    con.close()


def test_null_source_drift(spark, tmp_path):
    """NULL documents.source: the per-domain sampling/packing/export
    entries must keep oracle parity when the domain key itself is NULL
    (window-partition NULL grouping vs SQL GROUP BY NULL)."""
    import os
    import shutil

    import duckdb

    import __spark_entry__ as entrymod
    from tests.compare import duckdb_conn, run_pair

    src = "/root/testdata/sf0.001"
    drift = str(tmp_path / "nsrc")
    os.makedirs(drift)
    con0 = duckdb.connect()
    con0.execute(
        f"""
        COPY (SELECT doc_id, text, lang,
                     CASE WHEN doc_id % 11 = 0 THEN NULL ELSE source END
                         AS source, n_chars
              FROM '{src}/documents.parquet')
        TO '{drift}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con0.close()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "embeddings"
    ).split():
        shutil.copy(f"{src}/{t}.parquet", f"{drift}/{t}.parquet")
    con = duckdb_conn(drift)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    for name in (
        "sample_domain_cap",
        "sample_token_budget_mix",
        "export_shard_stats",
        "stats_profile_documents",
        "corpus_curation",
        "sample_temperature_mix",
    ):
        run_pair(spark, con, qs[name], oracles[name], drift, name)
    con.close()


def test_null_user_drift(spark, tmp_path):
    """NULL events.user_id: the keyed CDC/window/join/sketch entries must
    keep oracle parity when the KEY column goes NULL — caught the asof
    NULL-key divergence (Window.partitionBy groups NULLs into one
    partition and silently 'matched' NULL-key probes to NULL-key builds,
    where the SQL equi-join matches nothing; fixed in operators/joins.py
    by dropping NULL-key build rows)."""
    import os
    import shutil

    import duckdb

    import __spark_entry__ as entrymod
    from tests.compare import duckdb_conn, run_pair

    src = "/root/testdata/sf0.001"
    drift = str(tmp_path / "nuser")
    os.makedirs(drift)
    con0 = duckdb.connect()
    con0.execute(
        f"""
        COPY (SELECT event_id, ts,
                     CASE WHEN event_id % 13 = 0 THEN NULL ELSE user_id END
                         AS user_id,
                     event_type, value, props
              FROM '{src}/events.parquet')
        TO '{drift}/events.parquet' (FORMAT PARQUET)
        """
    )
    con0.close()
    for t in (
        "region nation customer supplier part orders lineitem documents "
        "embeddings"
    ).split():
        shutil.copy(f"{src}/{t}.parquet", f"{drift}/{t}.parquet")
    con = duckdb_conn(drift)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    for name in (
        "cdc_latest_state",
        "cdc_scd2_history",
        "q_sessionize_events",
        "q_running_total",
        "q_topk_orders_per_customer",
        "q_asof_purchase_before_error",
        "q_asof_next_purchase",
        "q_asof_nearest_purchase",
        "sketch_hll_distinct",
        "q_cohort_retention",
        "q_cohort_retention_daily",
        "q_funnel_conversion",
        "q_locf_fill",
        "q_approx_distinct_users",
        "q_event_gaps",
        "streaming_purchase_error_join",
        "streaming_purchase_error_left_join",
        "q_not_in_null_aware",
        "ts_sax_words",
        "q_mode_deterministic",
        "q_ewma_dyadic",
        "q_window_ignore_nulls",
        "cdc_diff_versions",
        "q_interval_contain_join",
        "q_event_type_affinity",
        "ts_sax_blocking_pairs",
        "q_running_distinct_types",
        "sketch_hll_intersection",
        "q_chi2_independence",
        "sketch_theta_intersection",
        "q_event_transitions",
        "streaming_session_topk",
        "q_funnel_timeout",
        "streaming_funnel_timeout",
        "q_funnel_sliding_windows",
        "q_ks_rolling_hourly",
        # NULL user_id must be outside every HLL register table (the
        # hashed ITEM, not just a group key) on BOTH sides
        "sketch_hll_rolling",
        "streaming_hll_hourly",
        "sketch_hll_sparse",
        # NULL-user rows are EXPLICITLY excluded on both sides — the
        # join-free window formulation would otherwise attribute inside
        # a NULL-user partition where a SQL join replay drops the rows
        "q_attribution_credit",
        # r11: NULL span keys must pair in NEITHER engine (allen_join
        # filters them; SQL equi-join drops them)
        "q_allen_spans",
        # r11 second wave: NULL user rows yield NO bipartite edge on
        # either side of the PageRank monitor
        "streaming_pagerank_monitor",
        # r12: NULL user rows maintain no activity span and classify
        # against no incident in either engine
        "streaming_allen_sessions",
        # r13 candidate: NULL user keys pair in NEITHER engine (the
        # q_allen_spans lesson, live on both sides)
        "streaming_allen_live_spans",
    ):
        run_pair(spark, con, qs[name], oracles[name], drift, name)
    con.close()


def test_ts_collision_drift(spark, tmp_path):
    """events.ts truncated to a coarse grid for 2/3 of rows — MANY exact
    (user, ts) and (event_type, ts) timestamp collisions. This is the
    ordering-determinism class: any entry that ranks, lags, sessionizes,
    as-of matches, or keeps-first over a ts order WITHOUT a total
    tie-break lets each engine pick a different peer permutation and
    silently diverges. Entries must either aggregate tie-insensitively
    (lag/gap over equal VALUES is permutation-stable) or carry a unique
    (ts, id) tie-break all the way through (the q_twap_hourly /
    q_attribution_credit discipline)."""
    import os
    import shutil

    import duckdb

    import __spark_entry__ as entrymod
    from tests.compare import duckdb_conn, run_pair

    src = "/root/testdata/sf0.001"
    drift = str(tmp_path / "tscol")
    os.makedirs(drift)
    con0 = duckdb.connect()
    con0.execute(
        f"""
        COPY (SELECT event_id,
                     CASE WHEN event_id % 3 = 0
                          THEN time_bucket(INTERVAL '6 hours', ts)
                          WHEN event_id % 3 = 1
                          THEN time_bucket(INTERVAL '1 day', ts)
                          ELSE ts END AS ts,
                     user_id, event_type, value, props
              FROM '{src}/events.parquet')
        TO '{drift}/events.parquet' (FORMAT PARQUET)
        """
    )
    con0.close()
    for t in (
        "region nation customer supplier part orders lineitem documents "
        "embeddings"
    ).split():
        shutil.copy(f"{src}/{t}.parquet", f"{drift}/{t}.parquet")

    con = duckdb_conn(drift)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name in (
        # ordering-exposed window entries
        "q_sessionize_events",
        "q_event_gaps",
        "q_running_total",
        "q_range_frame_events",
        "q_window_ignore_nulls",
        "q_dense_rank_first_last",
        "q_longest_streak",
        "q_event_transitions",
        # event-time keyed state / precombine
        "cdc_latest_state",
        "cdc_scd2_history",
        "cdc_diff_versions",
        # as-of joins (backward/forward/nearest all break ties on ts)
        "q_asof_purchase_before_error",
        "q_asof_next_purchase",
        "q_asof_nearest_purchase",
        # hourly/gapfill aggregation over colliding buckets
        "q_hourly_events",
        "q_gapfill_hourly",
        "q_locf_fill",
        "q_twap_hourly",
        # funnels / attribution walk the per-user event order
        "q_funnel_conversion",
        "q_funnel_timeout",
        "q_attribution_credit",
        # streaming drains re-order by arrival; watermarks see ties
        "streaming_tumbling_counts",
        "streaming_session_windows",
        "streaming_dedup_keys",
        # r11: span mins/maxes and the dedup'd frontier are
        # tie-insensitive BY CONSTRUCTION — pin that they stay so;
        # the incidents entry additionally exercises sessionize + the
        # hour-island merge under massive ts collisions
        "q_allen_spans",
        "q_allen_incidents",
        "streaming_skyline",
        # r12: collapsed grids shrink every user span to a point and
        # every (part, hour) inventory to one cell per part — spans,
        # relations, and packing facts must track identically
        "streaming_allen_sessions",
        "manifest_compaction_plan",
        # r13 candidate: a collapsed grid merges every pair axis into
        # one (type, day) cell — emission + pairing must track
        "streaming_group_ks",
        # r13 candidate: collapsed grids shrink both live span sides
        # to points — degenerate-interval relations must classify
        # identically (the shared-cascade tie-break)
        "streaming_allen_live_spans",
    ):
        try:
            run_pair(spark, con, qs[name], oracles[name], drift, name)
        except AssertionError as e:
            failures.append(f"{name}: {str(e)[:300]}")
    con.close()
    assert not failures, "\n".join(failures)


def test_null_id_ts_collision_drift(spark, tmp_path):
    """NULL event_ids colliding on a coarse ts grid (r10 advisor sweep):
    entries that break ts ties on event_id see the tie-break key itself
    go NULL — the LONG_MIN sentinel makes all NULL ids EQUAL, so a
    NULL-id conversion and a NULL-id touch at the same millisecond have
    no (ms, ck) order at all. attribute_touches adds is_conv as the
    third walk key (the conversion sorts later, the touch attributes to
    it) so the order is total wherever the output depends on it; ties
    among same-key touches are output-invariant. This sweep pins that
    engine and oracle agree under the worst case: day-truncated ts ×
    every-7th id NULLed, so NULL-id purchases and NULL-id touches
    collide inside user partitions."""
    import os
    import shutil

    import duckdb

    import __spark_entry__ as entrymod
    from tests.compare import duckdb_conn, run_pair

    src = "/root/testdata/sf0.001"
    drift = str(tmp_path / "nidcol")
    os.makedirs(drift)
    con0 = duckdb.connect()
    con0.execute(
        f"""
        COPY (SELECT CASE WHEN event_id % 7 = 0 THEN NULL
                          ELSE event_id END AS event_id,
                     CASE WHEN event_id % 3 < 2
                          THEN time_bucket(INTERVAL '1 day', ts)
                          ELSE ts END AS ts,
                     user_id, event_type, value, props
              FROM '{src}/events.parquet')
        TO '{drift}/events.parquet' (FORMAT PARQUET)
        """
    )
    con0.close()
    for t in (
        "region nation customer supplier part orders lineitem documents "
        "embeddings"
    ).split():
        shutil.copy(f"{src}/{t}.parquet", f"{drift}/{t}.parquet")

    con = duckdb_conn(drift)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name in (
        "q_attribution_credit",
        "q_twap_hourly",
        "q_event_gaps",
    ):
        try:
            run_pair(spark, con, qs[name], oracles[name], drift, name)
        except AssertionError as e:
            failures.append(f"{name}: {str(e)[:300]}")
    con.close()
    assert not failures, "\n".join(failures)


def test_ts_id_exact_collision_drift(spark, tmp_path):
    """EXACT (ts, event_id) collisions with DIFFERENT payloads (the r13
    sweep; the r12 session's suspected next class): every 9th/10th row
    pair shares one event_id AND one day-truncated ts but keeps its own
    value/type/user. Unlike duplicate-row drift (verbatim copies,
    interchangeable) the peers here are DISTINGUISHABLE, so any window
    ordered by (ts, event_id) that emits a peer-order-dependent value —
    lag(value), a ROWS running sum read AT a row, LOCF segment values,
    a row_number pick — has no total order between the two engines
    unless the entry's ordering extends to a payload key or its output
    is peer-permutation-invariant. RANGE frames see the pair as ONE
    peer group on both sides; ROWS frames must not leak engine order."""
    import os
    import shutil

    import duckdb

    import __spark_entry__ as entrymod
    from tests.compare import duckdb_conn, run_pair

    src = "/root/testdata/sf0.001"
    drift = str(tmp_path / "tsidcol")
    os.makedirs(drift)
    con0 = duckdb.connect()
    con0.execute(
        f"""
        COPY (SELECT CASE WHEN event_id % 9 IN (4, 5)
                          THEN event_id - (event_id % 9) + 4
                          ELSE event_id END AS event_id,
                     CASE WHEN event_id % 9 IN (4, 5)
                          THEN time_bucket(INTERVAL '1 day', ts)
                          ELSE ts END AS ts,
                     user_id, event_type, value, props
              FROM '{src}/events.parquet')
        TO '{drift}/events.parquet' (FORMAT PARQUET)
        """
    )
    con0.close()
    for t in (
        "region nation customer supplier part orders lineitem documents "
        "embeddings"
    ).split():
        shutil.copy(f"{src}/{t}.parquet", f"{drift}/{t}.parquet")

    con = duckdb_conn(drift)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name in (
        "q_sessionize_events",
        "q_event_gaps",
        "q_twap_hourly",
        "q_locf_fill",
        "q_gapfill_hourly",
        "q_running_distinct_types",
        "q_attribution_credit",
        "q_funnel_conversion",
        "q_funnel_timeout",
        "q_event_transitions",
        "q_group_ecdf",
        "q_group_ks",
    ):
        try:
            run_pair(spark, con, qs[name], oracles[name], drift, name)
        except AssertionError as e:
            failures.append(f"{name}: {str(e)[:300]}")
    con.close()
    assert not failures, "\n".join(failures)


def test_duplicate_row_drift(spark, tmp_path):
    """DUPLICATE VERBATIM rows (the r12 sweep; VERDICT r11 item 3's
    suspected next class): every 11th event row appears TWICE,
    byte-identical. Ordering keys like (ts, event_id) lose total-order
    uniqueness, so any ROWS-frame window, row_number tie-break, LOCF
    segment derivation, or funnel ordinal must be MULTISET-correct:
    identical rows are interchangeable, but an engine-side set shortcut
    (an implicit dedup the oracle doesn't make, or vice versa — the
    reservoir/skyline trackers are deliberately set-semantic and their
    oracles say DISTINCT) diverges immediately. Duplicates also create
    zero-length LOCF segments and doubled conversion evidence — both
    must count identically in both engines."""
    import os
    import shutil

    import duckdb

    import __spark_entry__ as entrymod
    from tests.compare import duckdb_conn, run_pair

    src = "/root/testdata/sf0.001"
    drift = str(tmp_path / "duprow")
    os.makedirs(drift)
    con0 = duckdb.connect()
    con0.execute(
        f"""
        COPY (SELECT * FROM '{src}/events.parquet'
              UNION ALL
              SELECT * FROM '{src}/events.parquet'
              WHERE event_id % 11 = 0)
        TO '{drift}/events.parquet' (FORMAT PARQUET)
        """
    )
    # r13: documents get the same treatment (every 11th row verbatim
    # twice) PLUS NULLed n_chars on doc_id%13 — the batch weighted
    # reservoir is set-semantic over (lang, doc_id, w) and must clamp a
    # NULL-derived weight to tier 1 identically in both engines
    con0.execute(
        f"""
        COPY (WITH d AS (SELECT doc_id, text, lang, source,
                                CASE WHEN doc_id % 13 = 0 THEN NULL
                                     ELSE n_chars END AS n_chars
                         FROM '{src}/documents.parquet')
              SELECT * FROM d
              UNION ALL
              SELECT * FROM d WHERE doc_id % 11 = 0)
        TO '{drift}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con0.close()
    for t in (
        "region nation customer supplier part orders lineitem embeddings"
    ).split():
        shutil.copy(f"{src}/{t}.parquet", f"{drift}/{t}.parquet")

    con = duckdb_conn(drift)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name in (
        # window/session/LOCF surface: dup rows are 0-gap rows and
        # zero-length segments; cumulative frames count them twice
        "q_sessionize_events",
        "q_event_gaps",
        "q_twap_hourly",
        "q_locf_fill",
        "q_gapfill_hourly",
        "q_hourly_events",
        "q_running_distinct_types",
        # credit/ordinal surface: doubled touches and conversions
        "q_attribution_credit",
        "q_funnel_conversion",
        "q_funnel_timeout",
        "q_event_transitions",
        # set-semantic trackers vs DISTINCT oracles: a dup row must
        # change NOTHING on either side
        "streaming_reservoir_sample",
        "streaming_weighted_reservoir",
        "streaming_skyline",
        "streaming_allen_sessions",
        "q_allen_spans",
        "q_allen_incidents",
        # inventory facts simply double where the cell duplicates
        "manifest_compaction_plan",
        # r13 candidates: the executor's DISTINCT pairs absorb the dup
        # rows; the per-type histograms count the multiset identically;
        # min/max span folds are dup-insensitive by construction
        "manifest_compact_execute",
        "streaming_group_ks",
        "streaming_allen_live_spans",
        # r13: batch A-ES reservoir — duplicate docs occupy ONE slot
        # (dense_rank set semantics vs the oracle's DISTINCT), NULL
        # n_chars degrades to tier 1 on both sides
        "sample_weighted_reservoir",
        # r13: daily cohort retention — collect_set days vs DISTINCT
        # activity: a duplicated event row must change no cell count;
        # the streaming twin's presence fold is idempotent by contract
        "q_cohort_retention_daily",
        "streaming_cohort_retention",
        # r14: duplicated events collapse in the max-cents per-(type,
        # id) build on BOTH sides — bins, spans, scan counts, and the
        # bloom position sets move identically
        "manifest_compact_cluster",
        "manifest_bloom_lookup",
    ):
        try:
            run_pair(spark, con, qs[name], oracles[name], drift, name)
        except AssertionError as e:
            failures.append(f"{name}: {str(e)[:300]}")
    con.close()
    assert not failures, "\n".join(failures)


def test_extreme_magnitude_drift(spark, tmp_path):
    """events.value scaled by ±1e9 for ~1/4 of rows — cents up to ~1e14,
    squares ~1e28, cents×w_ms products ~1e20: every BIGINT intermediate
    that silently wraps in Spark (or raises in DuckDB) at fleet-scale
    money magnitudes. Caught in round 10: the TWAP numerator product
    wrapping int64 (the advisor's scenario — fixed by the DECIMAL
    pre-cast), DuckDB's int128→double conversion mis-rounding exact
    ties above 2^53 (fixed by emitting divmod BIGINT pairs and building
    floats from BIGINT→double only), the z-score UDF's numpy int64
    sum-of-squares wrap + its oracle's BIGINT overflow (fixed by
    arbitrary-precision moments + the BIGINT-halves float build), and
    DuckDB raising on sqrt of a cancellation-negative variance where
    numpy yields NaN (fixed by guarding before the sqrt)."""
    import os
    import shutil

    import duckdb

    import __spark_entry__ as entrymod
    from tests.compare import duckdb_conn, run_pair

    src = "/root/testdata/sf0.001"
    drift = str(tmp_path / "mag")
    os.makedirs(drift)
    con0 = duckdb.connect()
    con0.execute(
        f"""
        COPY (SELECT event_id, ts, user_id, event_type,
                     CASE WHEN event_id % 7 = 0 THEN value * 1e9
                          WHEN event_id % 11 = 0 THEN value * -1e9
                          ELSE value END AS value,
                     props
              FROM '{src}/events.parquet')
        TO '{drift}/events.parquet' (FORMAT PARQUET)
        """
    )
    con0.close()
    for t in (
        "region nation customer supplier part orders lineitem documents "
        "embeddings"
    ).split():
        shutil.copy(f"{src}/{t}.parquet", f"{drift}/{t}.parquet")

    con = duckdb_conn(drift)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name in (
        "q_twap_hourly",
        "q_zscore_by_type",
        "q_mad_outliers",
        "q_histogram_equi_width",
        "q_sliding_window_avg",
        "q_range_frame_events",
        "q_cusum_changepoint",
        "q_argmax_events",
        "q_locf_fill",
        "q_gapfill_hourly",
        "q_ewma_dyadic",
        "streaming_sliding_avg",
        # r11: frontier points carry value cents up to ~1e14 — BIGINT-
        # safe, and dominance is pure integer comparison on both sides
        "streaming_skyline",
        "q_pandas_udf_score",
        "q_running_total",
        "sketch_quantile_histogram",
        "q_weighted_median",
        # the value-based statistics family: every fixed-point/DECIMAL
        # exactness claim re-proved at ~1e14-cent magnitudes
        "q_mannwhitney_u",
        "q_group_mannwhitney",
        "q_group_spearman_trend",
        "q_hellinger_types",
        "q_bootstrap_ci_mean",
        "sketch_tdigest_pinned",
        "q_ks_rolling_hourly",
        "sketch_ks_approx",
        "q_theilsen_hourly",
        "q_seasonal_anomaly",
        "q_chi2_independence",
        "q_entropy_mi",
        "q_ccf_types",
        "q_acf_hourly",
        "q_holt_dyadic",
        "streaming_psi_drift",
        "q_psi_drift",
        # r14: ±1e9-scaled values land as ~1e14-cent rank-axis points —
        # the cell-weighted DECIMAL moment discipline of the live trend
        # and the live U's integer algebra re-proved at fleet magnitudes;
        # the clustering bins stay exact integer rank arithmetic and the
        # zone-map spans stay BIGINT at ~1e14 cents
        "streaming_group_spearman",
        "streaming_group_mannwhitney",
        "manifest_compact_cluster",
        # the bloom positions hash the UNSCALED ids — the index must be
        # magnitude-blind while the clustered spans absorb ~1e14 cents
        "manifest_bloom_lookup",
    ):
        try:
            run_pair(spark, con, qs[name], oracles[name], drift, name)
        except AssertionError as e:
            failures.append(f"{name}: {str(e)[:300]}")
    con.close()
    assert not failures, "\n".join(failures)


def test_money_magnitude_drift(spark, tmp_path):
    """o_totalprice / l_extendedprice scaled by 1e7 for ~1/7 of rows —
    cents ~1e14, second-moment products ~1e28, group revenue sums past
    int64: the fleet-scale money magnitudes every TPC-H-analog entry
    claims to handle. 28/30 passed on first contact (the DECIMAL
    product/sum discipline held); the sweep caught q_corr_price_items
    multiplying cents^2 in BIGINT (ANSI overflow) and
    q_decimal_and_date's DECIMAL(12,2) showcase width — both now use
    the decimal pre-cast + fp_from_decimal BIGINT-halves build."""
    import os
    import shutil

    import duckdb

    import __spark_entry__ as entrymod
    from tests.compare import duckdb_conn, run_pair

    src = "/root/testdata/sf0.001"
    drift = str(tmp_path / "money")
    os.makedirs(drift)
    con0 = duckdb.connect()
    con0.execute(
        f"""
        COPY (SELECT * REPLACE (
                CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1e7
                     ELSE o_totalprice END AS o_totalprice)
              FROM '{src}/orders.parquet')
        TO '{drift}/orders.parquet' (FORMAT PARQUET)
        """
    )
    con0.execute(
        f"""
        COPY (SELECT * REPLACE (
                CASE WHEN l_orderkey % 7 = 0 THEN l_extendedprice * 1e7
                     ELSE l_extendedprice END AS l_extendedprice)
              FROM '{src}/lineitem.parquet')
        TO '{drift}/lineitem.parquet' (FORMAT PARQUET)
        """
    )
    con0.close()
    for t in (
        "region nation customer supplier part events documents embeddings"
    ).split():
        shutil.copy(f"{src}/{t}.parquet", f"{drift}/{t}.parquet")

    con = duckdb_conn(drift)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name in (
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q6_forecast_revenue",
        "q7_nation_trade",
        "q8_market_share",
        "q9_product_profit",
        "q10_returned_revenue",
        "q14_promo_share",
        "q15_top_supplier",
        "q17_small_qty_revenue",
        "q18_large_orders",
        "q19_or_predicate_revenue",
        "q_median_price_by_priority",
        "q_percentile_cont",
        "q_percentile_disc",
        "q_weighted_median",
        "q_top_percent_orders",
        "q_gini_revenue",
        "q_herfindahl_segments",
        "q_rfm_segments",
        "q_ks_two_sample",
        "q_regr_slope_exact",
        "q_spearman_corr",
        "q_corr_price_items",
        "q_mom_growth",
        "q_monthly_orders",
        "q_running_total",
        "q_percentile_bands",
        "q_decimal_and_date",
        # r11: spend-ranked deciles — spend_cents per customer stays
        # BIGINT-exact at 1e7-scaled prices; rates/lift are count-based
        "q_decile_lift",
        # r11 second wave: per-segment quintiles over the same spend
        # ranking (grouped_ntile must stay exact when the scaled rows
        # reorder every segment's frontier); the 3-D frontier's price
        # dimension at ~1e14 cents stays exact BIGINT in the sweep
        "q_segment_lift",
        "q_skyline3_lineitems",
        # grouped equi-depth bands at ~1e14-cent magnitudes: exact
        # BIGINT all the way (cents never multiplied)
        "q_group_equidepth",
        # r12: per-segment KS at ~1e14-cent magnitudes — the c*n
        # cross-products stay DECIMAL(38,0) (the chi2 discipline)
        "q_group_ks",
        # r13 candidate: the per-segment reference CDF counts stay
        # BIGINT-exact when the value axis scales 1e7
        "q_group_ecdf",
        # PAV blocks under a reshuffled spend order: pool means stay
        # exact integer pairs; the closed-form first/last identities
        # must track the new order
        "q_isotonic_calibration",
        # the money-based statistics family at ~1e14-cent magnitudes;
        # q_anova_f's c*c square was the one BIGINT wrap caught here
        "q_anova_f",
        "q_winsorized_stats",
        "q_benford_digits",
        "q_histogram_equi_depth",
        "sketch_kll_quantiles",
        "q_approx_quantile_bound",
        "q_mode_deterministic",
    ):
        try:
            run_pair(spark, con, qs[name], oracles[name], drift, name)
        except AssertionError as e:
            failures.append(f"{name}: {str(e)[:300]}")
    con.close()
    assert not failures, "\n".join(failures)


def test_parallel_builds_keep_the_callers_job_group(spark):
    """Jobs run on `_parallel_builds`' pool threads carry the calling
    thread's job group (and so its job tags): none escapes a tagged run."""
    import __spark_entry__ as entrymod

    sc = spark.sparkContext
    group = "bss-parallel-builds"
    sc.setJobGroup(group, "parallel builds")
    try:
        counts = entrymod._parallel_builds(
            lambda: spark.range(10).count(), lambda: spark.range(20).count()
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert counts == [10, 20]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 2
