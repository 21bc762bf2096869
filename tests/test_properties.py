"""Property-based tests (hypothesis) for the semantics-critical scalar and
operator contracts — the invariants that must hold for ANY input, not just
the goldens: trunc-toward-zero quantization, per-group top-K ≡ a Python sort,
sessionization form equivalence, portable-hash ranges.

Spark calls are batched: each example builds one small DataFrame, and
``max_examples`` is kept low because a Spark round-trip dominates."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from stream_reader_mzxml_spark.functions.scalars import quantize_trunc
from stream_reader_mzxml_spark.operators.aggregates import top_k
from stream_reader_mzxml_spark.pipeline.text import h32, h60

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

finite_doubles = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


@pytest.mark.spark
class TestQuantizeProperties:
    @_settings
    @given(st.lists(finite_doubles, min_size=1, max_size=40))
    def test_trunc_toward_zero_matches_python(self, spark, xs):
        # the F7 contract: (x * fix) truncated TOWARD ZERO / fix — Scala
        # .toInt semantics, NOT floor (differs for negatives)
        fix = 100.0
        df = spark.createDataFrame([(float(x),) for x in xs], ["x"])
        got = [
            r.q for r in df.select(quantize_trunc(F.col("x"), fix).alias("q"))
            .collect()
        ]
        exp = [math.trunc(x * fix) / fix for x in xs]
        assert got == pytest.approx(exp, abs=0.0)

    @_settings
    @given(st.lists(finite_doubles, min_size=1, max_size=40))
    def test_quantize_idempotent_and_bounded(self, spark, xs):
        fix = 100.0
        df = spark.createDataFrame([(float(x),) for x in xs], ["x"])
        rows = df.select(
            F.col("x"), quantize_trunc(F.col("x"), fix).alias("q")
        ).collect()
        for r in rows:
            assert abs(r.q) <= abs(r.x) + 1e-9  # trunc never grows magnitude
            assert abs(r.x - r.q) < 1.0 / fix + 1e-9  # within one grid cell


@pytest.mark.spark
class TestTopKProperties:
    @_settings
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=2),  # 3-value hot key
                st.integers(min_value=-1000, max_value=1000),
                st.integers(min_value=0, max_value=10**6),  # unique-ish id
            ),
            min_size=1,
            max_size=60,
        ),
        st.integers(min_value=1, max_value=5),
    )
    def test_topk_equals_python_sort(self, spark, rows, k):
        # dedupe ids so the ordering is total (row_number determinism)
        seen, data = set(), []
        for g, v, i in rows:
            if i not in seen:
                seen.add(i)
                data.append((g, v, i))
        df = spark.createDataFrame(data, ["g", "v", "id"])
        got = sorted(
            (r.g, r.v, r.id, r.rank)
            for r in top_k(df, ["g"], [F.desc("v"), F.asc("id")], k).collect()
        )
        exp = []
        for g in {g for g, _, _ in data}:
            ranked = sorted((r for r in data if r[0] == g), key=lambda r: (-r[1], r[2]))
            exp.extend((*r, rank) for rank, r in enumerate(ranked[:k], start=1))
        assert got == sorted(exp)


@pytest.mark.spark
class TestSessionizeProperties:
    @_settings
    @given(
        st.lists(
            st.integers(min_value=0, max_value=200), min_size=1, max_size=40
        ),
        st.integers(min_value=1, max_value=20),
    )
    def test_session_window_equals_lag_cumsum_any_input(self, spark, ts, gap):
        # W3 form equivalence for arbitrary event sets and gaps (duplicates
        # allowed — both forms must agree on them too)
        df = spark.createDataFrame([("k", int(t)) for t in ts], ["source", "t"]).select(
            "source", F.col("t").cast("timestamp").alias("event_time")
        )
        sw = sorted(
            (r.s, r.e, r.n)
            for r in df.groupBy(
                F.session_window("event_time", f"{gap} seconds").alias("w"), "source"
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.unix_timestamp("w.start").alias("s"),
                F.unix_timestamp("w.end").alias("e"),
                "n",
            )
            .collect()
        )
        wo = Window.partitionBy("source").orderBy("t")
        lc = sorted(
            (r.s, r.e, r.n)
            for r in df.select("source", F.unix_timestamp("event_time").alias("t"))
            .withColumn(
                "brk",
                F.when(F.col("t") - F.lag("t").over(wo) > gap, 1).otherwise(0),
            )
            .withColumn(
                "sid",
                F.sum("brk").over(
                    wo.rowsBetween(Window.unboundedPreceding, 0)
                ),
            )
            .groupBy("source", "sid")
            .agg(
                F.min("t").alias("s"),
                (F.max("t") + gap).alias("e"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        assert sw == lc


@pytest.mark.spark
class TestHashProperties:
    @_settings
    @given(st.lists(st.text(min_size=0, max_size=30), min_size=1, max_size=30))
    def test_portable_hash_ranges_and_determinism(self, spark, words_):
        import hashlib

        df = spark.createDataFrame([(w,) for w in words_], ["w"])
        rows = df.select(
            "w", h32(F.col("w")).alias("h32"), h60(F.col("w")).alias("h60")
        ).collect()
        for r in rows:
            d = hashlib.md5(r.w.encode()).hexdigest()
            assert r.h32 == int(d[:8], 16)
            assert r.h60 == int(d[:15], 16)
            assert 0 <= r.h32 < 1 << 32
            assert 0 <= r.h60 < 1 << 60


@pytest.mark.spark
class TestDistributedRankProperties:
    @_settings
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=-50, max_value=50),  # value (few buckets)
                st.integers(min_value=0, max_value=10**6),  # unique-ish id
            ),
            min_size=1,
            max_size=60,
        )
    )
    def test_distributed_rank_equals_global_window(self, spark, rows):
        # the two-level rank must equal a plain global row_number for ANY
        # input, including bucket-boundary values and heavy ties on v
        from stream_reader_mzxml_spark.operators.aggregates import (
            distributed_rank,
        )

        seen, data = set(), []
        for v, i in rows:
            if i not in seen:
                seen.add(i)
                data.append((float(v) / 3.0, i))  # fractional: ties + boundaries
        df = spark.createDataFrame(data, ["v", "id"])
        order = [F.desc("v"), F.asc("id")]
        got = sorted(
            (r.v, r.id, r.rank)
            for r in distributed_rank(
                df, order=order, bucket=F.floor(-F.col("v"))
            ).collect()
        )
        w = Window.orderBy(*order)
        exp = sorted(
            (r.v, r.id, r.rank)
            for r in df.withColumn("rank", F.row_number().over(w)).collect()
        )
        assert got == exp


@pytest.mark.spark
class TestPackingProperties:
    @_settings
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=500),  # doc_id (gaps, dups dropped)
                st.integers(min_value=0, max_value=2),  # source index
                st.integers(min_value=0, max_value=9),  # word count (incl. 0)
            ),
            min_size=1,
            max_size=50,
        ),
        st.integers(min_value=1, max_value=12),  # budget
    )
    def test_distributed_prefix_sum_equals_plain_window(self, spark, rows, budget):
        # the two-level prefix-sum decomposition must equal the plain
        # global window cumsum for ANY input: doc_id gaps, bucket
        # boundaries, zero-token docs, sources of wildly different size
        from stream_reader_mzxml_spark.pipeline.mixing import sequence_packing

        seen, data = set(), []
        for i, s, n in rows:
            if i not in seen:
                seen.add(i)
                data.append((i, f"s{s}", " ".join("w" for _ in range(n))))
        df = spark.createDataFrame(data, ["doc_id", "source", "text"])
        got = sorted(
            (r.source, r.doc_id, r.n_tokens, r.cum_before, r.offset_in_seq,
             r.first_seq, r.last_seq, r.n_seqs)
            for r in sequence_packing(df, budget=budget, bucket_width=4).collect()
        )
        # declared spec: one plain window cumsum per source
        cums: dict[str, int] = {}
        exp = []
        for i, src, txt in sorted(data):
            n = len(txt.split(" ")) if txt else 1  # split('') -> ['']
            n = 0 if txt == "" else n
            c = cums.get(src, 0)
            first, last = c // budget, (c + max(n, 1) - 1) // budget
            exp.append((src, i, n, c, c % budget, first, last, last - first + 1))
            cums[src] = c + n
        assert got == sorted(exp)


@pytest.mark.spark
class TestMixtureProperties:
    @_settings
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=300),  # doc_id
                st.integers(min_value=0, max_value=2),  # source idx
                st.integers(min_value=0, max_value=8),  # words
            ),
            min_size=1,
            max_size=40,
        ),
        st.integers(min_value=1, max_value=60),  # target tokens
    )
    def test_exact_integer_keep_test_any_corpus(self, spark, rows, target):
        # the sampling verdict must replicate the exact integer test for ANY
        # corpus and budget — including all-keep, all-drop, empty docs
        import hashlib

        from stream_reader_mzxml_spark.pipeline.mixing import mixture_sample

        seen, data = set(), []
        for i, s, n in rows:
            if i not in seen:
                seen.add(i)
                data.append((i, f"s{s}", " ".join("w" for _ in range(n))))
        df = spark.createDataFrame(data, ["doc_id", "source", "text"])
        got = {r.doc_id: r for r in
               mixture_sample(df, target_tokens=target).collect()}
        totals: dict[str, int] = {}
        toks = {}
        for i, s, t in data:
            n = 0 if t == "" else len(t.split(" "))
            toks[i] = (s, n)
            totals[s] = totals.get(s, 0) + n
        for i, (s, n) in toks.items():
            r = got[i]
            assert r.n_tokens == n and r.src_tokens == totals[s]
            h = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
            expect = int((h % 1_000_000) * totals[s] < target * 1_000_000)
            assert r.sampled == expect, (i, s)
