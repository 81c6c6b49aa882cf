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


def test_one_module_decides_gone():
    """The HTTP-410 verdict "relation no longer exists" is built by
    operators/pipeline.py only (missing_relation_verdicts, called from
    validate_all); a job or operator that spells it again decides
    presence against some other table than the full relations table."""
    spelled = {
        py.relative_to(PKG).as_posix()
        for py in PKG.rglob("*.py")
        if "relation no longer exists" in py.read_text()
    }
    assert spelled == {"operators/pipeline.py"}, spelled


def test_routes_file_config_keys_spelled_once():
    """Each routes-file config key is spelled once, in the table that
    sources/routes_file.py both validates and builds ValidationConfig
    from; a second spelling could accept a key it does not apply."""
    src = "\n".join(py.read_text() for py in PKG.rglob("*.py"))
    counts = {
        k: src.count(k)
        for k in (
            "naptanPlatformTags",
            "minimumNodeMembers",
            "ignoreTraversalDirectionWays",
            "minimumRouteVariants",
        )
    }
    assert counts == dict.fromkeys(counts, 1), counts


VECTOR_SEARCH = [PKG / "operators" / f"{m}.py" for m in ("similarity", "kmeans", "pq")]


def test_vector_search_reads_one_schema():
    """operators/{similarity,kmeans,pq}.py read (vec_id, embedding) and
    (query_id, query_vec) directly, in kmeans.SCALE fixed point: a
    column-name or scale parameter would be a second schema nobody
    passes."""
    import ast

    knobs = {"id_col", "vec_col", "query_id_col", "query_vec_col", "scale"}
    offenders = []
    for py in VECTOR_SEARCH:
        for node in ast.walk(ast.parse(py.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.Lambda)):
                a = node.args
                for arg in a.posonlyargs + a.args + a.kwonlyargs:
                    if arg.arg in knobs:
                        offenders.append(f"{py.name}: {arg.arg}")
    assert not offenders, offenders


def test_vector_search_steps_spelled_once():
    """The exact top-k re-rank (similarity._exact_topk), the integer
    Lloyd update (kmeans.lloyd) and the integer squared distance
    (kmeans.sq_dist) each have one spelling; a second copy could drift
    from the oracle the first one is checked against."""
    rerank = sum(py.read_text().count('F.col("sim").desc()') for py in VECTOR_SEARCH)
    pkg = "\n".join(py.read_text() for py in PKG.rglob("*.py"))
    counts = {
        "rerank": rerank,
        "lloyd_update": pkg.count('F.floor(F.col("s").cast("double") / F.col("n"))'),
        "sq_dist": len(re.findall(r"def \w*sq_dist\(", pkg)),
    }
    assert counts == {"rerank": 1, "lloyd_update": 1, "sq_dist": 1}, counts
