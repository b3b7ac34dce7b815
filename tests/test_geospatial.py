"""GEOMETRY / GEOGRAPHY logical annotations on parquet export
(parquet-format Geospatial.md, LogicalType union fields 17/18; SURVEY.md
§1.2 "exotic logical annotations"). Storage is BYTE_ARRAY holding WKB —
this layer annotates, callers serialize. webcodec's native thrift footer
writer emits the union member with an optional ``crs`` string; the native
interop reader surfaces the annotation in ``leaves[i]["geo"]`` and as
field metadata, and round-trips the bytes exactly. DuckDB (a
geospatial-aware reference reader) reads the annotated files; pyarrow
16.1 predates the type and rejects the footer (same stance as VARIANT)."""

import struct

import pyarrow as pa
import pytest

from webcodec.parquet_interop import read_footer_native, read_table_arrow_native
from webcodec.parquet_writer import write_parquet


def _wkb_point(x: float, y: float) -> bytes:
    # little-endian byte order marker, type 1 (Point), x, y
    return struct.pack("<BIdd", 1, 1, x, y)


def _geo_table(n=50):
    return pa.table({
        "id": pa.array(range(n), pa.int64()),
        "geom": pa.array(
            [None if i % 7 == 3 else _wkb_point(i * 0.5, -i * 0.25)
             for i in range(n)], pa.binary()),
        "geog": pa.array(
            [None if i % 11 == 5 else _wkb_point(i % 360 - 180.0, i % 180 - 90.0)
             for i in range(n)], pa.binary()),
    })


def test_geometry_annotation_native_roundtrip(tmp_path):
    t = _geo_table()
    p = str(tmp_path / "g.parquet")
    write_parquet(t, p, geometry_columns={"geom": "OGC:CRS84"},
                  geography_columns={"geog": None})
    ft = read_footer_native(p)
    by_name = {f.name: f for f in ft["fields"]}
    md = dict(by_name["geom"].metadata or {})
    assert md[b"PARQUET:logical_type"] == b"GEOMETRY"
    assert md[b"PARQUET:crs"] == b"OGC:CRS84"
    md2 = dict(by_name["geog"].metadata or {})
    assert md2[b"PARQUET:logical_type"] == b"GEOGRAPHY"
    assert b"PARQUET:crs" not in md2
    geo_leaves = {l["path"]: l["geo"] for l in ft["leaves"] if "geo" in l}
    assert geo_leaves == {
        "geom": {"kind": "GEOMETRY", "crs": "OGC:CRS84"},
        "geog": {"kind": "GEOGRAPHY", "crs": None},
    }
    back = read_table_arrow_native(p)
    assert back.column("geom").to_pylist() == t.column("geom").to_pylist()
    assert back.column("geog").to_pylist() == t.column("geog").to_pylist()


def test_geometry_set_spec_and_duckdb_reads(tmp_path):
    """Set-of-names spec (no crs); DuckDB — a reader that postdates the
    annotation — consumes the file and sees the exact WKB bytes."""
    duckdb = pytest.importorskip("duckdb")
    t = _geo_table(20)
    p = str(tmp_path / "g2.parquet")
    write_parquet(t, p, geometry_columns={"geom"}, geography_columns={"geog"})
    rows = duckdb.sql(
        f"select id, geom, geog from read_parquet('{p}') order by id"
    ).fetchall()
    assert len(rows) == 20
    for i, (rid, geom, geog) in enumerate(rows):
        assert rid == i
        exp = t.column("geom")[i].as_py()
        got = bytes(geom) if geom is not None else None
        assert got == exp
        exp2 = t.column("geog")[i].as_py()
        got2 = bytes(geog) if geog is not None else None
        assert got2 == exp2


@pytest.mark.parametrize("seed", [1, 7, 23])
def test_geometry_fuzz_roundtrip(tmp_path, seed):
    """Random blob lengths (0..200 B), null runs, multiple row groups:
    annotated bytes come back exactly through the native reader and the
    annotation survives every footer."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n = int(rng.integers(50, 400))
    blobs = [
        None if rng.random() < 0.15
        else rng.integers(0, 256, int(rng.integers(0, 200)),
                          dtype=np.uint8).tobytes()
        for _ in range(n)
    ]
    t = pa.table({"i": pa.array(range(n), pa.int64()),
                  "geom": pa.array(blobs, pa.binary())})
    p = str(tmp_path / "f.parquet")
    write_parquet(t, p, row_group_rows=int(rng.integers(16, 100)),
                  geometry_columns={"geom": "SRID:4326"})
    back = read_table_arrow_native(p)
    assert back.column("geom").to_pylist() == blobs
    ft = read_footer_native(p)
    assert [l["geo"] for l in ft["leaves"] if "geo" in l] == [
        {"kind": "GEOMETRY", "crs": "SRID:4326"}]


def test_geometry_requires_binary_storage(tmp_path):
    t = pa.table({"g": pa.array(["not-wkb"], pa.string())})
    with pytest.raises(TypeError, match="binary"):
        write_parquet(t, str(tmp_path / "bad.parquet"),
                      geometry_columns={"g"})


def test_geometry_export_parquet_passthrough(tmp_path, spark):
    """export_parquet threads the annotation: .wcd table with a WKB binary
    column -> standard parquet with GEOMETRY(crs) — the lakehouse escape
    hatch for geospatial columns."""
    import pyarrow.parquet as pq

    from webcodec.spark.encode_job import encode_table
    from webcodec.spark.maintenance import export_parquet

    t = _geo_table(40)
    src = str(tmp_path / "src.parquet")
    pq.write_table(t, src)
    d = tmp_path / "tbl"
    encode_table(spark.read.parquet(src), str(d), sort_key="id",
                 write_metrics=False)
    out = tmp_path / "pq"
    res = export_parquet(spark, str(d), str(out),
                         geometry_columns={"geom": "EPSG:3857"})
    assert res["rows"] == 40
    import glob

    files = sorted(glob.glob(str(out / "*.parquet")))
    assert files
    ft = read_footer_native(files[0])
    geo = {l["path"]: l.get("geo") for l in ft["leaves"] if "geo" in l}
    assert geo == {"geom": {"kind": "GEOMETRY", "crs": "EPSG:3857"}}
    back = read_table_arrow_native(files[0])
    assert back.column("geom").to_pylist() == t.column("geom").to_pylist()


# ---- GeospatialStatistics (ColumnMetaData field 17, r5 late) ----------------


def _ls(pts):
    return struct.pack("<BII", 1, 2, len(pts)) + b"".join(
        struct.pack("<dd", *p) for p in pts)


def _poly(rings):
    out = struct.pack("<BII", 1, 3, len(rings))
    for r in rings:
        out += struct.pack("<I", len(r)) + b"".join(
            struct.pack("<dd", *p) for p in r)
    return out


def _mp(pts):
    return struct.pack("<BII", 1, 4, len(pts)) + b"".join(
        _wkb_point(*p) for p in pts)


def _pointz(x, y, z):
    return struct.pack("<BIddd", 1, 1001, x, y, z)


def test_geo_statistics_bbox_and_types(tmp_path):
    """write_parquet computes GeospatialStatistics for annotated columns:
    exact bbox over every coordinate of every geometry kind (Point/
    LineString/Polygon/MultiPoint, XYZ variant) plus the WKB type-code
    set; the native reader surfaces them per chunk."""
    vals = [_wkb_point(1.5, -2.5), _ls([(0, 0), (10, 20)]),
            _poly([[(-5, -5), (5, -5), (5, 5), (-5, -5)]]),
            _mp([(100, 50), (-100, -50)]), None, _pointz(3, 4, 7)]
    t = pa.table({"id": pa.array(range(len(vals)), pa.int64()),
                  "g": pa.array(vals, pa.binary())})
    p = str(tmp_path / "g.parquet")
    write_parquet(t, p, geometry_columns={"g": "OGC:CRS84"})
    m = [m for rg in read_footer_native(p)["row_groups"] for m in rg
         if m.path == "g"][0]
    assert m.geo_statistics == {
        "bbox": {"xmin": -100.0, "xmax": 100.0, "ymin": -50.0,
                 "ymax": 50.0, "zmin": 7.0, "zmax": 7.0},
        "types": [1, 2, 3, 4, 1001],
    }
    # the plain id column carries none
    mid = [m for rg in read_footer_native(p)["row_groups"] for m in rg
           if m.path == "id"][0]
    assert mid.geo_statistics is None
    # values still round-trip and DuckDB still reads the file
    import duckdb

    assert read_table_arrow_native(p).column("g").to_pylist() == vals
    assert duckdb.execute(
        f"select count(*) from '{p}'").fetchone()[0] == len(vals)


def test_geo_statistics_per_row_group_and_malformed(tmp_path):
    """bbox is per row group; a chunk containing malformed WKB gets NO
    stats (conservative) while good chunks keep theirs."""
    vals = ([_wkb_point(float(i), float(-i)) for i in range(10)]
            + [b"\x01\x63\x00\x00\x00garbage"] + [_wkb_point(0.0, 0.0)] * 9)
    t = pa.table({"g": pa.array(vals, pa.binary())})
    p = str(tmp_path / "g.parquet")
    write_parquet(t, p, row_group_rows=10, geometry_columns={"g"})
    ms = [m for rg in read_footer_native(p)["row_groups"] for m in rg]
    assert ms[0].geo_statistics["bbox"] == {
        "xmin": 0.0, "xmax": 9.0, "ymin": -9.0, "ymax": 0.0}
    assert ms[1].geo_statistics is None


def test_geo_statistics_none_for_trailing_bytes(tmp_path):
    """A WKB value whose geometry parses but leaves bytes over is
    unparseable as a whole: its chunk gets no stats rather than a bbox
    from the parsed prefix, and the other chunk keeps its stats."""
    vals = ([_wkb_point(1.0, 2.0)] * 4
            + [_wkb_point(500.0, 500.0) + _wkb_point(-500.0, -500.0)]
            + [_wkb_point(3.0, 4.0)] * 5)
    t = pa.table({"g": pa.array(vals, pa.binary())})
    p = str(tmp_path / "g.parquet")
    write_parquet(t, p, row_group_rows=5, geometry_columns={"g"})
    ms = [m for rg in read_footer_native(p)["row_groups"] for m in rg]
    assert ms[0].geo_statistics is None
    assert ms[1].geo_statistics == {
        "bbox": {"xmin": 3.0, "xmax": 3.0, "ymin": 4.0, "ymax": 4.0},
        "types": [1]}
    assert read_table_arrow_native(p).column("g").to_pylist() == vals


def test_geo_types_are_top_level_only(tmp_path):
    """A MultiPoint column's geospatial_types is [4], not [1, 4] — each
    value contributes its OWN type code (review fix)."""
    t = pa.table({"g": pa.array(
        [_mp([(0.0, 0.0), (2.0, 3.0)]), _mp([(5.0, -1.0)])], pa.binary())})
    p = str(tmp_path / "g.parquet")
    write_parquet(t, p, geometry_columns={"g"})
    m = [m for rg in read_footer_native(p)["row_groups"] for m in rg][0]
    assert m.geo_statistics["types"] == [4]
    assert m.geo_statistics["bbox"] == {
        "xmin": 0.0, "xmax": 5.0, "ymin": -1.0, "ymax": 3.0}
