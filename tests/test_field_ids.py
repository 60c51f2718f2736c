"""Field IDs (Warehouse.carry_ids, Warehouse.commit, evolution.stored_names,
the concat guard) on hand-committed manifests: no SparkSession and no data files, so this
runs in well under a second."""

import json

import pytest

from orc_spark.evolution import column_maps, evolve_schema, fill_type, stored_names
from orc_spark.maintenance import compact_snapshots
from orc_spark.pipeline import plan_table
from orc_spark.warehouse import SnapshotExists, Warehouse, current_ids

SCHEMA = {"doc_id": "string", "tokens": "array<int>", "n_tok": "int"}


def _part(name, **kw):
    return {"file": f"/x/{name}", "enc_bytes": 10, **kw}


@pytest.fixture()
def wh(tmp_path):
    w = Warehouse(str(tmp_path / "wh"))
    w.commit("c0", {"p0": _part("a")}, SCHEMA)
    return w


def test_fresh_table_numbers_fields_from_one(wh):
    m = wh.read_manifest("c0")
    assert m["schemas"] == [{"doc_id": 1, "tokens": 2, "n_tok": 3}]
    assert m["schema_id"] == 0 and wh.last_field_id() == 3
    assert m["partitions"]["p0"]["schema_id"] == 0


def test_commit_without_ids_inherits_by_name_from_current(wh):
    # same names: same schema, no new version
    m = wh.commit("c1", {"p0": _part("b")}, SCHEMA)
    assert (len(m["schemas"]), m["schema_id"]) == (1, 0)
    # a new name gets the next ID, a missing one is simply absent
    m = wh.commit("c2", {"p0": _part("c")}, {"doc_id": "string", "lang": "string"})
    assert current_ids(m) == {"doc_id": 1, "lang": 4}
    assert m["schema_id"] == 1 and wh.last_field_id() == 4
    assert m["partitions"]["p0"]["schema_id"] == 1
    # a second commit of c2 raises and leaves its manifest unchanged
    before = open(wh.manifest_file("c2")).read()
    with pytest.raises(SnapshotExists):
        wh.commit("c2", {"p1": _part("d")}, {"doc_id": "string"})
    assert open(wh.manifest_file("c2")).read() == before


def test_rename_keeps_its_id_and_entries_keep_theirs(wh):
    m = evolve_schema(wh.path, "c0", dest="ev", rename={"n_tok": "tok_count"})
    assert current_ids(m) == {"doc_id": 1, "tokens": 2, "tok_count": 3}
    assert m["schema_id"] == 1 and wh.last_field_id() == 3
    assert m["partitions"]["p0"]["schema_id"] == 0  # written before
    # the file stores it under its write-time name
    assert column_maps(m, current_ids(m)) == {
        "/x/a": {"doc_id": "doc_id", "tokens": "tokens", "tok_count": "n_tok"}
    }
    # a later commit without IDs carries the renamed field over by name
    m = wh.commit("c1", {"p0": _part("b")}, dict(m["schema"]))
    assert current_ids(m)["tok_count"] == 3 and m["schema_id"] == 1


def test_re_add_gets_an_id_above_the_last(wh):
    ev = evolve_schema(wh.path, "c0", dest="ev1", drop=["n_tok"])
    assert current_ids(ev) == {"doc_id": 1, "tokens": 2}
    ev = evolve_schema(wh.path, "ev1", dest="ev2", add={"n_tok": "int"})
    assert current_ids(ev)["n_tok"] == 4 and wh.last_field_id() == 4
    # drop and re-add in one call: a fresh ID too, above every ID of the
    # table, not only of c0's lineage
    one = evolve_schema(wh.path, "c0", dest="ev3", drop=["n_tok"], add={"n_tok": "int"})
    assert current_ids(one)["n_tok"] == 5
    # the old file has no field 5: null-fill, never its n_tok bytes
    assert plan_table(one, []) == [
        ("/x/a", (), {"doc_id": "doc_id", "tokens": "tokens", "n_tok": None})
    ]
    # renaming onto a live name is refused
    with pytest.raises(ValueError, match="live column"):
        evolve_schema(wh.path, "c0", rename={"tokens": "n_tok"})


def test_sibling_evolutions_never_share_an_id(wh):
    """IDs are table-wide: two evolutions of one parent (or a branch
    evolved after a rollback) hand out different IDs, so a changelog that
    reads both never takes one column for the other."""
    a = evolve_schema(wh.path, "c0", dest="a", add={"lang": "string"})
    wh.rollback("c0")
    b = evolve_schema(wh.path, "c0", dest="b", add={"x": "int"})
    assert (current_ids(a)["lang"], current_ids(b)["x"]) == (4, 5)
    # an append on b carries b's IDs, and a's file has no field 5
    m = wh.commit("e1", {"p1": _part("e1")}, dict(b["schema"]))
    assert current_ids(m)["x"] == 5
    assert stored_names(current_ids(b), current_ids(a))["x"] is None


def test_a_rewrite_carries_its_source_ids_not_currents(wh):
    """A materialize or reencode of a snapshot that is not CURRENT keeps
    the source's IDs for its names, whatever CURRENT did to them since."""
    src = wh.read_manifest("c0")
    evolve_schema(wh.path, "c0", dest="ev", drop=["n_tok"], add={"n_tok": "int"})
    ids = wh.carry_ids(src, SCHEMA)
    assert ids == {"schemas": src["schemas"], "schema_id": 0}
    m = wh.commit("mat", {"p0": _part("m")}, SCHEMA, ids=ids, ref="side")
    assert current_ids(m)["n_tok"] == 3 and m["partitions"]["p0"]["schema_id"] == 0
    # the default (CURRENT's, by name) gives the re-added column instead
    assert current_ids(wh.commit("app", {}, SCHEMA))["n_tok"] == 4


def test_concat_refuses_a_pid_written_under_different_schemas(wh):
    """concat copies blobs verbatim, so one pid's source files must share
    their write-time IDs; sources must share their current ones."""
    ev = evolve_schema(wh.path, "c0", dest="ev", rename={"n_tok": "tc"})
    wh.commit("e1", {"p0": _part("e1")}, dict(ev["schema"]))  # under ev's IDs
    with pytest.raises(ValueError, match="different schemas"):
        compact_snapshots(None, wh.path, ["ev", "e1"], "cmp")
    wh.rollback("c0")
    evolve_schema(wh.path, "c0", dest="a", add={"lang": "string"})
    wh.rollback("c0")
    evolve_schema(wh.path, "c0", dest="b", add={"lang": "string"})
    with pytest.raises(ValueError, match="schema/evolution state"):
        compact_snapshots(None, wh.path, ["a", "b"], "cmp")


def test_fill_type_covers_every_readable_type():
    import pyarrow as pa

    assert fill_type("boolean") == pa.bool_()
    assert fill_type("array<bigint>") == pa.list_(pa.int64())
    assert fill_type("array<string>") == pa.list_(pa.string())
    for bad in ("date", "array<date>", "array<array<int>>", "bogus"):
        with pytest.raises(TypeError, match="cannot null-fill"):
            fill_type(bad)


def test_stored_names_is_none_when_every_name_matches():
    ids = {"a": 1, "b": 2}
    assert stored_names(ids, ids) is None
    assert stored_names({"a": 1}, ids) is None  # a projection
    assert stored_names({"x": 1, "b": 2}, ids) == {"x": "a", "b": "b"}
    assert stored_names({"a": 1, "c": 3}, ids) == {"a": "a", "c": None}
    assert stored_names({"a": 1, "u": None}, ids) == {"a": "a", "u": None}


def test_plan_table_maps_only_files_of_older_schemas(wh):
    ev = evolve_schema(wh.path, "c0", dest="ev", add={"lang": "string"})
    m = wh.commit(
        "u", {**ev["partitions"], "p0@u1": _part("u")}, dict(ev["schema"]),
        ids=ev,
    )
    assert m["partitions"]["p0@u1"]["schema_id"] == 1
    assert dict((f, s) for f, _, s in plan_table(m, [])) == {
        "/x/a": {"doc_id": "doc_id", "tokens": "tokens", "n_tok": "n_tok",
                 "lang": None},
        "/x/u": None,
    }


def test_manifest_without_ids_fails_loudly(wh):
    f = wh.manifest_file("c0")
    m = json.load(open(f))
    for k in ("schemas", "schema_id"):
        del m[k]
    json.dump(m, open(f, "w"))
    with pytest.raises(ValueError, match="no field IDs"):
        plan_table(wh.read_manifest("c0"), [])
    with pytest.raises(ValueError, match="no field IDs"):
        wh.commit("c1", {"p0": _part("b")}, SCHEMA)  # CURRENT is c0
    with pytest.raises(ValueError, match="no field IDs"):
        evolve_schema(wh.path, "c0", add={"x": "int"})
