"""Discipline check (SURVEY §4.5): no row-at-a-time Python UDFs in the
engine — every Python boundary must be Arrow-batched (pandas_udf,
applyInPandas, mapInPandas)."""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "osm_pt_validator_spark"

ROW_UDF = re.compile(r"(?<![\w.])(?:F\.)?udf\s*\(")


def test_no_row_at_a_time_udfs():
    offenders = []
    for py in PKG.rglob("*.py"):
        src = py.read_text()
        for i, line in enumerate(src.splitlines(), 1):
            if ROW_UDF.search(line) and "pandas_udf" not in line:
                offenders.append(f"{py.name}:{i}: {line.strip()}")
    assert not offenders, offenders


def test_no_rdd_usage():
    offenders = []
    for py in PKG.rglob("*.py"):
        src = py.read_text()
        for i, line in enumerate(src.splitlines(), 1):
            if re.search(r"\.rdd\b|sparkContext\.parallelize", line):
                offenders.append(f"{py.name}:{i}: {line.strip()}")
    assert not offenders, offenders


def test_no_collect_in_operators():
    """Operators must stay distributed — .collect()/.toPandas() belongs
    to callers/tests, never inside the engine's operator plans. The ONE
    sanctioned exception is materialising a dim table for an explicit
    sparkContext.broadcast (you cannot broadcast without driver-side
    data); such lines must carry a `# collect-ok:` marker with the
    justification."""
    offenders = []
    for sub in ("operators", "spatial"):
        for py in (PKG / sub).rglob("*.py"):
            src = py.read_text()
            for i, line in enumerate(src.splitlines(), 1):
                if "collect-ok:" in line:
                    continue
                if re.search(r"\.collect\(\)|\.toPandas\(\)", line):
                    offenders.append(f"{py.name}:{i}: {line.strip()}")
    assert not offenders, offenders


def test_one_module_knows_the_osm_url_format():
    """Element URLs are built by functions/elements.py only
    (element_url, relation_url, element_url_str); a second spelling of
    the URL format elsewhere in the engine could drift from it."""
    offenders = []
    for py in PKG.rglob("*.py"):
        if py.relative_to(PKG).as_posix() == "functions/elements.py":
            continue
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if "https://www.openstreetmap.org/" in line:
                offenders.append(f"{py.name}:{i}: {line.strip()}")
    assert not offenders, offenders


CELL_FORMAT = re.compile(
    r"shift(?:left|right)\(.*,\s*32\)"
    r"|bitwiseAND\(F\.lit\(0xFFFFFFFF\)\)"
    r"|4294967295",
    re.IGNORECASE,
)


def test_one_module_knows_the_cell_format():
    """The packed grid cell (i << 32) | j is packed, unpacked and
    enumerated by functions/geo.py only (pack_cell, cell_to_ij,
    cells_in_box, cell_window); a second spelling elsewhere in the
    engine could drift from it."""
    offenders = []
    for py in PKG.rglob("*.py"):
        if py.relative_to(PKG).as_posix() == "functions/geo.py":
            continue
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if CELL_FORMAT.search(line):
                offenders.append(f"{py.relative_to(PKG)}:{i}: {line.strip()}")
    assert not offenders, offenders
