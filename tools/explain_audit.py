"""Physical-plan audit: .explain("formatted") every driver-contract query and
check the properties that matter at 100 TB:

- parquet scans carry PushedFilters / a pruned ReadSchema where expected;
- joins that should broadcast do (BroadcastHashJoin), and nothing falls back
  to a cartesian product (CartesianProduct/BroadcastNestedLoopJoin) except
  queries explicitly built on a bounded cross join;
- hot paths sit inside WholeStageCodegen spans;
- a per-group top-k shows its WindowGroupLimit Partial/Final pair (wgl=2).

Usage: python tools/explain_audit.py [query ...]   (prints one audit line per
query; -v dumps full plans).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# queries where a bounded cartesian is by design (tiny side or all-pairs op)
ALLOWED_CARTESIAN = {
    "q04_threshold_histogram",  # 31-threshold literal array explode
    "q29_cosine_topk",  # broadcast probes × corpus with != condition
    "q12_sliding_window",
    "q37_unigram_perplexity",  # 1-row broadcast corpus-total cross join
    "q45_glucosinolates",  # 1-row broadcast two-pass-count (n_spectra) cross join
    "q47_gluco_delta_stats",  # 1-row precursor-stats × 1-row folds
    "q53_source_drift",  # #sources × #buckets densify + 1-row corpus total (all tiny)
    "q56_tfidf",  # 1-row broadcast corpus doc-count cross join
    "q60_kmeans_step",  # 1-row broadcast centroid-array cross join
    "q63_kmeans_iterated",  # same, once per unrolled iteration
}


def audit(sf_dir: str = "/root/testdata/sf0.001", names: list[str] | None = None,
          verbose: bool = False) -> int:
    import __spark_entry__ as e
    from stream_reader_mzxml_spark.session import get_spark

    # AQE off: the audit wants the static physical plan (with AQE the
    # formatted output repeats the plan and hides codegen spans)
    spark = get_spark(
        app_name="explain_audit",
        cpus=4,
        shuffle_partitions=4,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    qs = e.queries()
    n_warn = 0
    for name in names or list(qs):
        df = qs[name](spark, sf_dir)
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # one "(N) Node" details header per plan node; the tree above the
        # headers names each node again, so plain substring counts double
        nodes = re.findall(r"^\(\d+\) (Scan parquet|\w+)", plan, re.M)
        scans = nodes.count("Scan parquet")
        pushed = len(re.findall(r"PushedFilters: \[(?!\])", plan))
        wsc = len(set(re.findall(r"codegen id : (\d+)", plan)))
        bhj = nodes.count("BroadcastHashJoin")
        smj = nodes.count("SortMergeJoin")
        wgl = nodes.count("WindowGroupLimit")
        cart = nodes.count("CartesianProduct") + nodes.count("BroadcastNestedLoopJoin")
        flags = []
        if cart and name not in ALLOWED_CARTESIAN:
            flags.append(f"UNEXPECTED-CARTESIAN x{cart}")
            n_warn += 1
        if wsc == 0:
            flags.append("NO-CODEGEN")
            n_warn += 1
        print(
            f"{name}: scans={scans} pushedFilterScans={pushed} codegen={wsc} "
            f"bhj={bhj} smj={smj} wgl={wgl} cartesian={cart} {' '.join(flags)}"
        )
        if verbose:
            print(plan)
    return n_warn


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if a != "-v"]
    sys.exit(1 if audit(names=args or None, verbose="-v" in sys.argv) else 0)
