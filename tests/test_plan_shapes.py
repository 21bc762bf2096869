"""Physical-plan shape guards: cheap regressions-only checks that the
scale-critical plan properties claimed in COVERAGE.md stay true — the
pytest arm of tools/explain_audit.py (which audits the full battery with
AQE off; here the shared session keeps AQE on, so only AQE-stable
properties are asserted)."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

SF_DIR = "/root/testdata/sf0.001"

# queries whose plans must contain NO cartesian/BNLJ at all — the dedup /
# text / mixing family advertises bucketed or broadcast-equi-join shapes
NO_CARTESIAN = [
    "q20_token_counts",
    "q24_exact_dedup",
    "q25_ngram_jaccard",
    "q26_minhash_lsh",
    "q27_simhash",
    "q30_lsh_ann_topk",
    "q42_corpus_curation",
    "q48_decontamination",
    "q49_ivf_ann_topk",
    "q50_domain_caps",
    "q51_segment_dedup",
    "q52_context_chunks",
    "q55_dedup_apply",
    "q57_mixture_sample",
    "q58_sequence_packing",
    "q59_pii_redact",
    "q61_bpe_pair_counts",
]

# every per-group top-k of the battery (operators/aggregates.py::top_k)
TOP_K = [
    "q07_asof_nearest",
    "q13_topk_per_group",
    "q29_cosine_topk",
    "q30_lsh_ann_topk",
    "q36_salted_topk",
    "q49_ivf_ann_topk",
    "q50_domain_caps",
    "q73_ingest_manifest",
]


def _plan(spark, name: str) -> str:
    import __spark_entry__ as e

    df = e.queries()[name](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.spark
class TestPlanShapes:
    @pytest.mark.parametrize("name", NO_CARTESIAN)
    def test_no_cartesian(self, spark, name):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name

    @pytest.mark.parametrize("name", TOP_K)
    def test_topk_is_one_window_with_group_limits(self, spark, name):
        # one rank window, and Catalyst's WindowGroupLimit Partial before the
        # exchange plus Final after it: each input partition ships at most k
        # rows per group, so a hot group never funnels whole into one task
        nodes = re.findall(r"^\(\d+\) (\w+)", _plan(spark, name), re.M)
        assert nodes.count("Window") == 1, name
        assert nodes.count("WindowGroupLimit") == 2, name

    def test_mixture_sample_broadcasts_totals(self, spark):
        # the ~#sources-row totals must broadcast — a shuffled equi-join of
        # the corpus against them would be the 100-TB regression
        assert "BroadcastHashJoin" in _plan(spark, "q57_mixture_sample")

    def test_cosine_topk_broadcasts_probes(self, spark):
        # probes are the broadcast side; the corpus must never exchange
        plan = _plan(spark, "q29_cosine_topk")
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan

    def test_bpe_topk_is_take_ordered(self, spark):
        # global top-k must be TakeOrderedAndProject, never a full sort
        plan = _plan(spark, "q61_bpe_pair_counts")
        assert "TakeOrderedAndProject" in plan
        assert "Sort " not in plan

    def test_packing_windows_are_partitioned(self, spark):
        # both window operators must carry partition specs (bounded
        # partitions); an empty partitionBy would be the single-task rank
        plan = _plan(spark, "q58_sequence_packing")
        for args in re.findall(r"Arguments: \[.*windowspecdefinition\(([^)]*)\)", plan):
            assert args.split(",")[0].strip(), "unpartitioned window"

    @pytest.mark.parametrize(
        "name", ["q74_image_resize", "q75_frame_sample"]
    )
    def test_multimodal_ops_zero_shuffle(self, spark, name):
        # decode/resize/frame-sample must stay a scan → mapInPandas chain:
        # payload bytes never shuffle (an Exchange here means media blobs
        # ride the network — the 100-TB regression)
        plan = _plan(spark, name)
        assert "Exchange" not in plan, name
        assert plan.count("MapInPandas") >= 1, name
