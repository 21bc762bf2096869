"""Spark-free tests of the streaming mzXML parser (``parse_mzxml_file``).

The input is a small mzXML file written in-test, with MS2 scans nested in
their MS1 parent as some writers emit them, plus the per-scan ``<index>``.
Rows must equal a whole-tree parse visited in post-order (children before
parent, which is the order ``iterparse`` end-events fire in), and no closed
scan may stay attached to the tree once rowed.
"""

from __future__ import annotations

import base64
import struct
import xml.etree.ElementTree as ET

import pytest

from stream_reader_mzxml_spark.sources import mzxml
from stream_reader_mzxml_spark.sources.mzxml import _local, _scan_row, parse_mzxml_file

NS = "http://sashimi.sourceforge.net/schema_revision/mzXML_3.2"


def _peaks(pairs: list[tuple[float, float]]) -> str:
    flat = [v for p in pairs for v in p]
    return base64.b64encode(struct.pack(">%df" % len(flat), *flat)).decode()


def _scan(num: int, level: int, rt: str, inner: str = "", precursor: str = "") -> str:
    return (
        f'<scan num="{num}" msLevel="{level}" peaksCount="2" polarity="+" '
        f'retentionTime="{rt}" lowMz="100.0" highMz="{200 + num}.5" '
        f'basePeakMz="150.0" basePeakIntensity="{1000 * num}.0" totIonCurrent="5e4">'
        f"{precursor}"
        f'<peaks precision="32" byteOrder="network" compressionType="none">'
        f"{_peaks([(100.0 + num, 10.0 * num), (150.0, 0.0)])}</peaks>"
        f"{inner}</scan>"
    )


def _ms2(num: int, parent: int, rt: str) -> str:
    pre = (
        f'<precursorMz precursorScanNum="{parent}" precursorIntensity="{500 + num}.0" '
        f'precursorCharge="2" activationMethod="CID">{300 + num}.25</precursorMz>'
    )
    return _scan(num, 2, rt, precursor=pre)


@pytest.fixture
def nested_mzxml(tmp_path):
    scans = (
        _scan(1, 1, "PT1.5S", inner=_ms2(2, 1, "PT1.7S") + _ms2(3, 1, "PT1.9S"))
        + _scan(4, 1, "PT2.5S", inner=_ms2(5, 4, "PT2.6S"))
        + _scan(6, 1, "PT3.0S")
    )
    offsets = "".join(f'<offset id="{i}">{100 * i}</offset>' for i in range(1, 7))
    doc = (
        f'<?xml version="1.0" encoding="ISO-8859-1"?>\n<mzXML xmlns="{NS}">'
        f'<msRun scanCount="6"><parentFile fileName="x.raw" fileType="RAWData"/>'
        f'<msInstrument><msManufacturer category="msManufacturer" value="T"/></msInstrument>'
        f"{scans}</msRun>"
        f'<index name="scan">{offsets}</index><indexOffset>0</indexOffset></mzXML>'
    )
    path = tmp_path / "nested.mzXML"
    path.write_text(doc, encoding="ISO-8859-1")
    return str(path)


def _postorder(elem):
    for child in elem:
        yield from _postorder(child)
    yield elem


def test_nested_rows_unchanged_and_msrun_emptied(nested_mzxml, monkeypatch):
    seen = []
    iterparse = ET.iterparse

    def recording_iterparse(*args, **kwargs):
        for event, elem in iterparse(*args, **kwargs):
            seen.append(elem)
            yield event, elem

    monkeypatch.setattr(mzxml.ET, "iterparse", recording_iterparse)
    rows = list(parse_mzxml_file(nested_mzxml))

    tree = ET.parse(nested_mzxml).getroot()
    expected = [
        _scan_row(nested_mzxml, e) for e in _postorder(tree) if _local(e.tag) == "scan"
    ]
    assert rows == expected
    # nested MS2 rows come out before their MS1 parent
    assert [(r["scan_num"], r["ms_level"]) for r in rows] == [
        (2, 2), (3, 2), (1, 1), (5, 2), (4, 1), (6, 1),
    ]
    # a parent never absorbs its children's precursor or peaks
    assert [len(r["precursor"]) for r in rows] == [1, 1, 0, 1, 0, 0]
    assert rows[0]["precursor"][0]["precursor_scan_num"] == 1
    assert rows[0]["precursor"][0]["value"] == 302.25
    assert rows[2]["peaks_b64"] == _peaks([(101.0, 10.0), (150.0, 0.0)])

    ms_run = next(e for e in seen if _local(e.tag) == "msRun")
    index = next(e for e in seen if _local(e.tag) == "index")
    assert len(ms_run) == 0
    assert len(index) == 0
    assert len(seen[0]) == 0  # the root <mzXML>
