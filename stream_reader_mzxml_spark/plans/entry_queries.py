"""Driver-contract query battery (SURVEY.md §2 inventory → queries()/oracle_sql()).

Each entry is a (spark_fn, oracle_sql) pair over the driver-provided testdata
tables. Conventions that make the driver's order-insensitive value-hash
comparison deterministic across engines:

- every aggregate / computed column is aliased identically on both sides;
- float outputs are explicitly ``round()``-ed (both engines round the same
  IEEE double, so results are bit-identical);
- every ``LIMIT`` is preceded by a total tie-breaking ORDER BY;
- timestamps are emitted as epoch-second BIGINTs (Spark session TZ is UTC,
  DuckDB timestamps are UTC-naive — epoch sidesteps rendering differences);
- FLOAT columns are cast to DOUBLE before arithmetic on both sides.

Reference-parity notes cite the operator rows of SURVEY.md §2 and the original
file:line of the semantics being reproduced.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from stream_reader_mzxml_spark.functions.scalars import (
    LONG_MAX,
    iso_duration_seconds,
    ppm_ok,
    quantize_trunc,
)
from stream_reader_mzxml_spark.operators.aggregates import threshold_histogram, top_k
from stream_reader_mzxml_spark.operators.joins import (
    asof_nearest_join,
    band_semi_join,
    interval_join,
)
from stream_reader_mzxml_spark.plans import ORACLES, QUERIES, register
from stream_reader_mzxml_spark.sources.readers import read_table


# ---------------------------------------------------------------------------
# q01 — pricing summary: the A1/A7-shape multi-aggregate (two-phase partial →
# final HashAggregate; TPC-H Q1 analog). SURVEY §2.4 A7.
# ---------------------------------------------------------------------------
@register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base,
           round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc,
           round(avg(l_quantity), 6)                                   AS avg_qty,
           count(*)                                                    AS n_rows
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# q02 — quantized occurrence count + top-40 (A2 MainDistributionMzIons.scala:66-91
# + F7 quantize-trunc :44,70 + O2 sort-desc-take-40 :102-106).
# ---------------------------------------------------------------------------
@register(
    "q02_occurrence_topk",
    """
    SELECT value, count(*) AS cnt
    FROM (SELECT trunc(l_extendedprice * 0.01) / 0.01 AS value FROM lineitem)
    GROUP BY value
    ORDER BY cnt DESC, value
    LIMIT 40
    """,
)
def q02_occurrence_topk(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.select(quantize_trunc(F.col("l_extendedprice"), 0.01).alias("value"))
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("value"))
        .limit(40)
    )


# ---------------------------------------------------------------------------
# q03 — inverse histogram: group values by their count, HAVING cnt > 2
# (A4 MainDistributionMzIons.scala:100-105). List rendered as a sorted ';'
# string (C10 render, IonEligibleGlucosinolate.scala:62-66).
# ---------------------------------------------------------------------------
@register(
    "q03_inverse_histogram",
    """
    WITH counts AS (
      SELECT trunc(l_extendedprice * 0.001) / 0.001 AS value, count(*) AS cnt
      FROM lineitem GROUP BY value HAVING count(*) > 2
    )
    SELECT cnt, count(*) AS n_values,
           string_agg(printf('%.0f', value), ';' ORDER BY printf('%.0f', value)) AS values_csv
    FROM counts GROUP BY cnt
    """,
)
def q03_inverse_histogram(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    counts = (
        li.select(quantize_trunc(F.col("l_extendedprice"), 0.001).alias("value"))
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 2)
    )
    return counts.groupBy("cnt").agg(
        F.count(F.lit(1)).alias("n_values"),
        F.array_join(
            F.sort_array(F.collect_list(F.format_string("%.0f", "value"))), ";"
        ).alias("values_csv"),
    )


# ---------------------------------------------------------------------------
# q04 — threshold histogram: count of values ≥ each of 31 fixed thresholds
# (A1 MainDistributionIntensityIons.scala:42-89).
# ---------------------------------------------------------------------------
_THRESHOLDS = [float(t) for t in range(0, 620, 20)]  # 31 thresholds

@register(
    "q04_threshold_histogram",
    f"""
    SELECT threshold, count(*) AS cnt
    FROM events, (SELECT unnest([{",".join(str(t) for t in _THRESHOLDS)}]::DOUBLE[]) AS threshold)
    WHERE value >= threshold
    GROUP BY threshold
    """,
)
def q04_threshold_histogram(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    return threshold_histogram(ev, _THRESHOLDS, value_col="value")


# ---------------------------------------------------------------------------
# q05 — event-time range gate with the reference's asymmetric null semantics
# (F3: rt.getOrElse(0) >= start && rt.getOrElse(Max) <= end,
# MainDistributionIntensityIons.scala:67-68). Nulls synthesized with NULLIF.
# ---------------------------------------------------------------------------
@register(
    "q05_rt_gate_asymmetric",
    f"""
    SELECT event_id, rt FROM (
      SELECT event_id, nullif(user_id % 100, 7) AS rt FROM events
    )
    WHERE coalesce(rt, 0) >= 10 AND coalesce(rt, {LONG_MAX}) <= 90
    """,
)
def q05_rt_gate_asymmetric(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    from stream_reader_mzxml_spark.functions.scalars import rt_range_predicate

    rt = F.nullif(F.col("user_id") % 100, F.lit(7))
    return (
        ev.select("event_id", rt.alias("rt"))
        .filter(rt_range_predicate(F.col("rt"), 10, 90))
    )


# ---------------------------------------------------------------------------
# q06 — tolerance (band) semi-join: lineitems whose price is within 0.5 of
# some part's retail price (J2, IonEligibleGlucosinolate.scala:42-59 /
# databaseIons.sc:46-53). Bucketized equi-join, NOT a cross join.
# ---------------------------------------------------------------------------
@register(
    "q06_band_semi_join",
    """
    SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
    FROM lineitem l
    WHERE EXISTS (SELECT 1 FROM part p WHERE abs(p.p_retailprice - l.l_extendedprice) < 0.5)
    """,
)
def q06_band_semi_join(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    pt = read_table(spark, sf_dir, "part").select("p_retailprice")
    out = band_semi_join(li, pt, "l_extendedprice", "p_retailprice", 0.5)
    return out.select(
        "l_orderkey", "l_linenumber", F.round("l_extendedprice", 2).alias("price")
    )


# ---------------------------------------------------------------------------
# q07 — as-of (nearest) join: for each part, the nearest lineitem price within
# 1.0 (J1 findClosestValueMz, Spectrum.scala:39-41, lifted across rows;
# first-min tie-break like Scala minBy).
# ---------------------------------------------------------------------------
@register(
    "q07_asof_nearest",
    """
    SELECT p_partkey, price, delta FROM (
      SELECT p.p_partkey,
             round(l.l_extendedprice, 2) AS price,
             round(abs(l.l_extendedprice - p.p_retailprice), 4) AS delta,
             row_number() OVER (
               PARTITION BY p.p_partkey
               ORDER BY abs(l.l_extendedprice - p.p_retailprice),
                        l.l_orderkey, l.l_linenumber
             ) AS rn
      FROM part p JOIN lineitem l
        ON abs(l.l_extendedprice - p.p_retailprice) < 1.0
    ) WHERE rn = 1
    """,
)
def q07_asof_nearest(spark, sf_dir):
    pt = read_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    cand = asof_nearest_join(
        pt,
        li,
        probe_on="p_retailprice",
        value_on="l_extendedprice",
        tol=1.0,
        probe_key="p_partkey",
        order_tiebreak=["l_orderkey", "l_linenumber"],
    )
    return cand.select(
        "p_partkey",
        F.round("l_extendedprice", 2).alias("price"),
        F.round(F.abs(F.col("l_extendedprice") - F.col("p_retailprice")), 4).alias(
            "delta"
        ),
    )


# ---------------------------------------------------------------------------
# q08 — interval join: purchase events ⋈ error events within ±1800 s AND
# |value diff| < 2.0 (J3 libCandidateIons.sc:124-137 — rt window at :128,
# mz tolerance at :129 — re-scaled to the events table's density).
# ---------------------------------------------------------------------------
@register(
    "q08_interval_join",
    """
    SELECT p.event_id AS p_id, e.event_id AS e_id
    FROM events p JOIN events e
      ON p.event_type = 'purchase' AND e.event_type = 'error'
     AND abs(epoch_us(p.ts) - epoch_us(e.ts)) <= 1800000000
     AND abs(p.value - e.value) < 2.0
    """,
)
def q08_interval_join(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_val"),
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"),
        F.col("ts").alias("e_ts"),
        F.col("value").alias("e_val"),
    )
    joined = interval_join(
        p,
        e,
        "p_ts",
        "e_ts",
        1800,
        value_cond=F.abs(F.col("p_val") - F.col("e_val")) < 2.0,
    )
    return joined.select("p_id", "e_id")


# ---------------------------------------------------------------------------
# q09 — within-record pairwise-difference counts (J4
# MainDistributionDiffMzIons.scala:72-93 + A3 :62-106 + O2 top-40), via the
# vectorized pairwise kernel over the embeddings array column.
# ---------------------------------------------------------------------------
@register(
    "q09_pairwise_diff_topk",
    """
    WITH el AS (
      SELECT vec_id, g.i AS pos, embedding[g.i]::DOUBLE AS v
      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) g
    )
    SELECT diff, count(*) AS cnt FROM (
      SELECT trunc((a.v - b.v) * 100) / 100.0 + 0.0 AS diff  -- +0.0 kills IEEE -0.0
      FROM el a JOIN el b ON a.vec_id = b.vec_id AND a.pos != b.pos
    ) GROUP BY diff
    ORDER BY cnt DESC, diff
    LIMIT 40
    """,
)
def q09_pairwise_diff_topk(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    from stream_reader_mzxml_spark.functions.kernels import pairwise_diff_counts

    counts = pairwise_diff_counts(emb, "embedding", fix=100.0)
    return counts.orderBy(F.desc("cnt"), F.asc("diff")).limit(40)


# ---------------------------------------------------------------------------
# q10 — sessionization: per event_type, sessions split on gaps > 30 min
# (W3 SubScan parent-session analog, MzXMLTags.scala:414-442; lag+cumsum form
# so batch Spark and DuckDB share exact semantics).
# ---------------------------------------------------------------------------
@register(
    "q10_sessionize",
    """
    WITH g AS (
      SELECT event_type, epoch_us(ts) AS t, event_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), s AS (
      SELECT event_type, t, event_id,
             -- ::BIGINT: DuckDB windowed sum yields HUGEINT (int128) whose
             -- canonical hash differs from Spark's int64 even at equal values
             CAST(sum(brk) OVER (PARTITION BY event_type ORDER BY t, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM g
    )
    SELECT event_type, session_id, count(*) AS n_events,
           min(t) AS t_start, max(t) AS t_end
    FROM s GROUP BY event_type, session_id
    """,
)
def q10_sessionize(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    g = ev.select(
        "event_type",
        t.alias("t"),
        "event_id",
        F.when(t - F.lag(t).over(w) > 1_800_000_000, F.lit(1))
        .otherwise(F.lit(0))
        .alias("brk"),
    )
    w2 = (
        Window.partitionBy("event_type")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = g.withColumn("session_id", F.sum("brk").over(w2))
    return s.groupBy("event_type", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("t").alias("t_start"),
        F.max("t").alias("t_end"),
    )


# ---------------------------------------------------------------------------
# q11 — tumbling event-time window aggregation (W1; batch form of the
# streaming tumbling agg — F.window() semantics checked against the epoch
# formula oracle).
# ---------------------------------------------------------------------------
@register(
    "q11_tumbling_window",
    """
    SELECT (floor(epoch(ts) / 3600) * 3600)::BIGINT AS ws, event_type,
           count(*) AS cnt, round(sum(value), 4) AS sum_value
    FROM events GROUP BY ws, event_type
    """,
)
def q11_tumbling_window(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_timestamp("w.start").alias("ws"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# q12 — sliding event-time window (W2 — the ±2 s RT proximity analog,
# libCandidateIons.sc:128, as a standalone sliding agg: 2 h window, 30 min
# slide → each event lands in 4 windows).
# ---------------------------------------------------------------------------
@register(
    "q12_sliding_window",
    """
    SELECT ws, count(*) AS cnt FROM (
      SELECT (floor(epoch(ts) / 1800) * 1800 - g.i * 1800)::BIGINT AS ws
      FROM events, (SELECT unnest(generate_series(0, 3)) AS i) g
    ) GROUP BY ws
    """,
)
def q12_sliding_window(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.unix_timestamp("w.start").alias("ws"), "cnt")
    )


# ---------------------------------------------------------------------------
# q13 — top-K per group via ranking window (W5/O2).
# ---------------------------------------------------------------------------
@register(
    "q13_topk_per_group",
    """
    SELECT l_returnflag, l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
    FROM (
      SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
             ) AS rn
      FROM lineitem
    ) WHERE rn <= 3
    """,
)
def q13_topk_per_group(spark, sf_dir):
    # The 3-value partition key is no full-table single-task funnel: top_k's
    # filter plans as WindowGroupLimit Partial before the exchange, so each
    # input partition ships at most k rows per group.
    li = read_table(spark, sf_dir, "lineitem")
    order = [F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")]
    return top_k(li, ["l_returnflag"], order, k=3).select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 2).alias("price"),
    )


# ---------------------------------------------------------------------------
# q14 — Pearson r² per group (A9, ChemicalConst.scala:119-137 hand-rolled
# covariance/variance → built-in corr, squared).
# ---------------------------------------------------------------------------
@register(
    "q14_corr_r2",
    """
    SELECT l_returnflag,
           round(pow(corr(l_quantity, l_extendedprice), 2), 6) AS r2,
           count(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q14_corr_r2(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.pow(F.corr("l_quantity", "l_extendedprice"), 2), 6).alias("r2"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# q15 — min/max + deterministic argmin/argmax by key (A8
# glucosinolateIons.sc:31 minBy/maxBy — tie-broken by key for determinism).
# ---------------------------------------------------------------------------
@register(
    "q15_minmax_by",
    """
    SELECT o_orderpriority,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price,
           min(o_orderkey) FILTER (WHERE o_totalprice = mn) AS argmin_key,
           min(o_orderkey) FILTER (WHERE o_totalprice = mx) AS argmax_key
    FROM (
      SELECT *, min(o_totalprice) OVER (PARTITION BY o_orderpriority) AS mn,
                max(o_totalprice) OVER (PARTITION BY o_orderpriority) AS mx
      FROM orders
    ) GROUP BY o_orderpriority
    """,
)
def q15_minmax_by(spark, sf_dir):
    od = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority")
    od2 = od.withColumn("mn", F.min("o_totalprice").over(w)).withColumn(
        "mx", F.max("o_totalprice").over(w)
    )
    return od2.groupBy("o_orderpriority").agg(
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.min(F.when(F.col("o_totalprice") == F.col("mn"), F.col("o_orderkey"))).alias(
            "argmin_key"
        ),
        F.min(F.when(F.col("o_totalprice") == F.col("mx"), F.col("o_orderkey"))).alias(
            "argmax_key"
        ),
    )


# ---------------------------------------------------------------------------
# q17 — group-and-collect (A5 diagnosticIon.sc:37-41), list rendered sorted
# (C10) for hash-stable comparison.
# ---------------------------------------------------------------------------
@register(
    "q17_group_collect",
    """
    SELECT event_type,
           count(*) AS cnt,
           string_agg(printf('%.2f', value), ';' ORDER BY printf('%.2f', value), event_id)
             AS values_csv
    FROM events
    WHERE value > 480
    GROUP BY event_type
    """,
)
def q17_group_collect(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events").filter(F.col("value") > 480)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.format_string("%.2f", "value").alias("s"), "event_id")
                    )
                ),
                lambda x: x["s"],
            ),
            ";",
        ).alias("values_csv"),
    )


# ---------------------------------------------------------------------------
# q18 — ppm-precision predicate (F5/C1 SpectrumRequest.scala:15-16): parts
# within 50 ppm of a probe mass.
# ---------------------------------------------------------------------------
@register(
    "q18_ppm_filter",
    """
    SELECT p_partkey, round(p_retailprice, 2) AS price
    FROM part
    WHERE abs((950.0 - p_retailprice) / 950.0) * 1e6 <= 50000.0
    """,
)
def q18_ppm_filter(spark, sf_dir):
    pt = read_table(spark, sf_dir, "part")
    return pt.filter(ppm_ok(F.lit(950.0), F.col("p_retailprice"), 50000.0)).select(
        "p_partkey", F.round("p_retailprice", 2).alias("price")
    )


# ---------------------------------------------------------------------------
# q19 — ISO-8601 duration → truncated seconds (C3/S9 MzXMLTags.scala:43-44,398:
# getSeconds truncation, the reference's 1 s event-time granularity).
# Durations synthesized deterministically from integer columns.
# ---------------------------------------------------------------------------
@register(
    "q19_duration_seconds",
    """
    SELECT event_id, dur,
           ((user_id % 90) * 60 + (event_id % 60))::BIGINT AS seconds
    FROM (
      SELECT event_id, user_id,
             'PT' || (user_id % 90) || 'M' || (event_id % 60) || '.567S' AS dur
      FROM events
    )
    WHERE event_id % 10 = 0
    """,
)
def q19_duration_seconds(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") % 10 == 0)
    dur = F.concat(
        F.lit("PT"),
        (F.col("user_id") % 90).cast("string"),
        F.lit("M"),
        (F.col("event_id") % 60).cast("string"),
        F.lit(".567S"),
    )
    return ev.select(
        "event_id",
        dur.alias("dur"),
        iso_duration_seconds(dur).alias("seconds"),
    )


# ---------------------------------------------------------------------------
# The rest of the battery registers on import: the training-data pipeline
# (plans.pipeline_queries), the nested record model and CandidateIons
# programs (plans.program_queries), and the sketch-bound oracle plus the last
# composed reference programs (plans.report_queries).
# ---------------------------------------------------------------------------
from stream_reader_mzxml_spark.plans import (  # noqa: E402, F401
    pipeline_queries,
    program_queries,
    report_queries,
)

# ---------------------------------------------------------------------------
# Correctness-gate priority ordering.
#
# The external correctness gate checks the FIRST 50 entries of queries() in
# dict insertion order (each CORRECTNESS_rNN.json holds exactly insertion
# positions 0-49), so the entries whose last gate row is oldest come first:
# the 24 last checked in CORRECTNESS_r04.json fill positions 0-23; the three
# whose operator now has a single form (q27, q30, q49) come next; the
# entries checked in CORRECTNESS_r05.json follow, oldest tier first.
# ---------------------------------------------------------------------------
_DRIVER_PRIORITY = [
    # tier 1 — last checked in r04
    "q34_nested_precursor_gate", "q36_salted_topk",
    "q37_unigram_perplexity", "q38_quantiles", "q39_candidate_ions_fused",
    "q40_repetition", "q41_pii_patterns", "q42_corpus_curation",
    "q43b_sketch_bounds", "q44_precursor_match_scores", "q45_glucosinolates",
    "q46_database_ions", "q47_gluco_delta_stats",
    "q61_bpe_pair_counts", "q62_training_manifest", "q63_kmeans_iterated",
    "q64_segment_dedup_apply", "q65_epoch_order", "q66_sequence_manifest",
    "q67_isotope_envelope", "q68_diagnostic_report", "q69_holdout_split",
    "q70_wav_codec", "q31b_pnm_codec",
    # single-form operators (q30's oracle regenerated for ±2-bit probes)
    "q27_simhash", "q30_lsh_ann_topk", "q49_ivf_ann_topk",
    # tier 2 — checked in r05, previously last checked in r03
    "q01_pricing_summary", "q02_occurrence_topk", "q03_inverse_histogram",
    "q04_threshold_histogram", "q05_rt_gate_asymmetric", "q06_band_semi_join",
    "q07_asof_nearest", "q08_interval_join", "q09_pairwise_diff_topk",
    "q10_sessionize", "q11_tumbling_window", "q12_sliding_window",
    "q13_topk_per_group", "q14_corr_r2", "q15_minmax_by",
    "q17_group_collect",
    "q32_isotope_match", "q33_band_score",
    # tier 3 — new in r05, checked once
    "q71_png_codec", "q72_mzxml_ingest", "q73_ingest_manifest",
    "q74_image_resize", "q75_frame_sample",
    # tier 4 — checked in r03, r04 and r05
    "q18_ppm_filter", "q19_duration_seconds", "q20_token_counts",
    "q21_quality_scores", "q22_lang_id", "q23_fingerprint",
    "q24_exact_dedup", "q25_ngram_jaccard", "q26_minhash_lsh",
    "q29_cosine_topk", "q31_multimodal_features",
    "q48_decontamination", "q50_domain_caps",
    "q51_segment_dedup", "q52_context_chunks", "q53_source_drift",
    "q54_dedup_clusters", "q55_dedup_apply", "q56_tfidf",
    "q57_mixture_sample", "q58_sequence_packing", "q59_pii_redact",
    "q60_kmeans_step",
]


def _reorder(d: dict) -> dict:
    missing = [k for k in _DRIVER_PRIORITY if k not in d and d is QUERIES]
    assert not missing, f"priority list names unknown queries: {missing}"
    out = {k: d[k] for k in _DRIVER_PRIORITY if k in d}
    out.update({k: v for k, v in d.items() if k not in out})
    return out


QUERIES = _reorder(QUERIES)
ORACLES = _reorder(ORACLES)
assert len(QUERIES) == len(_DRIVER_PRIORITY), (
    f"battery drifted: {len(QUERIES)} registered vs "
    f"{len(_DRIVER_PRIORITY)} in the priority order — add new queries to "
    "_DRIVER_PRIORITY explicitly (position decides driver coverage)"
)
