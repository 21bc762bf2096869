"""Battery queries against their DuckDB value oracles at the test scale.

The same comparison ``tools/check_oracle.py`` runs over the whole battery:
Spark result and ``oracle_sql()`` result must agree on column names, row
count and order-insensitive normalized values. Covers the queries whose
operator has a single form kept in sync with a hand-written oracle: q27
(SimHash), q30 (LSH ±2-bit multi-probe), q49 (IVF Arrow assignment), and
the programs built on ``candidate.peak_candidates`` (q39 and q47 through
``candidate.candidate_ions``, q45, q46, q67), and the media codecs of
``pipeline.multimodal`` (q31 stub features, q31b PNM, q70 WAV, q71 PNG,
q74 resize, q75 AVI frame sampling).
"""

from __future__ import annotations

import os

import duckdb
import pytest

from tools.check_oracle import TABLES, norm_rows


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    yield con
    con.close()


@pytest.mark.spark
@pytest.mark.parametrize(
    "name",
    [
        "q27_simhash",
        "q30_lsh_ann_topk",
        "q49_ivf_ann_topk",
        "q39_candidate_ions_fused",
        "q45_glucosinolates",
        "q46_database_ions",
        "q47_gluco_delta_stats",
        "q67_isotope_envelope",
        "q31_multimodal_features",
        "q31b_pnm_codec",
        "q70_wav_codec",
        "q71_png_codec",
        "q74_image_resize",
        "q75_frame_sample",
    ],
)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    import __spark_entry__ as e

    sdf = e.queries()[name](spark, sf_dir)
    res = duck.execute(e.oracle_sql()[name])
    got = norm_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
    want = norm_rows([d[0] for d in res.description], res.fetchall())
    assert got == want
    assert got[1], f"{name}: empty result makes the check vacuous"
