"""LogicalTypes.md backward-compatibility list layouts, decoded by the
interop reader from GENUINE parquet-java-written files (generated once by
``scripts/gen_legacy_parquet.py`` with the ExampleParquetWriter bundled in
the Spark distribution jars — pyarrow cannot produce these layouts) and
compared value-for-value AND schema-for-schema against pyarrow's own
back-compat read of the same bytes.

Covers every rule in the spec's "Backward-compatibility rules" section:
2-level lists (repeated leaf directly under LIST), repeated element groups
(multi-field, ``array``-named, ``<field>_tuple``-named), and UNANNOTATED
repeated fields/groups (protobuf & thrift converter output)."""

import glob
import os

import pyarrow.parquet as pq
import pytest

from webcodec import parquet_interop as pi

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "legacy")
FILES = sorted(glob.glob(os.path.join(GOLDEN, "*.parquet")))


def test_fixtures_present():
    names = {os.path.basename(p) for p in FILES}
    assert names == {
        "two_level.parquet", "array_named.parquet", "tuple_named.parquet",
        "multi_field.parquet", "unannotated_leaf.parquet",
        "unannotated_group.parquet",
    }


@pytest.mark.parametrize(
    "path", FILES, ids=[os.path.splitext(os.path.basename(p))[0] for p in FILES])
def test_legacy_layout_matches_pyarrow(path):
    ref = pq.read_table(path)
    mine = pi.read_table_arrow_native(path)
    assert mine.schema == ref.schema
    assert mine.equals(ref)


def test_two_level_shape():
    """The 2-level fixture really is 2-level (repeated leaf under LIST) and
    decodes to required elements with nullable outer lists."""
    path = os.path.join(GOLDEN, "two_level.parquet")
    ft = pi.read_footer_native(path)
    lf = next(l for l in ft["leaves"] if l["path"].startswith("a"))
    assert lf["path"] == "a.element"          # no middle "list" group
    assert lf["max_rep"] == 1 and lf["max_def"] == 2
    t = pi.read_table_arrow_native(path)
    f = t.schema.field("a")
    assert not f.type.value_field.nullable    # elements required
    assert f.nullable                          # optional LIST group


def test_unannotated_is_required_list():
    """A bare repeated field is a required list of required elements."""
    t = pi.read_table_arrow_native(os.path.join(GOLDEN, "unannotated_leaf.parquet"))
    f = t.schema.field("a")
    assert not f.nullable and not f.type.value_field.nullable
    assert f.type.value_field.name == "a"      # element keeps the node name
