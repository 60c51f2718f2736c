"""Changelog reads (cdc.py): per-commit insert/delete row emission from
manifest diffs, replayable back onto the starting snapshot, evolution-
aware, and failing loudly on expired pre-images."""

import pytest
from pyspark.sql import functions as F

from orc_spark import deletes
from orc_spark.cdc import changes_between
from orc_spark.evolution import evolve_schema
from orc_spark.maintenance import expire_snapshots
from orc_spark.pipeline import decode_table, encode_table
from orc_spark.warehouse import Warehouse, current_ids


def _df(spark, n=300):
    return (
        spark.range(n)
        .select(
            F.format_string("d%05d", F.col("id")).alias("doc_id"),
            F.transform(
                F.sequence(F.lit(1), (F.col("id") % 19) + 2),
                lambda i: ((i * 13 + F.col("id")) % 400).cast("int"),
            ).alias("tokens"),
            F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
        )
        .withColumn("n_tok", F.size("tokens").cast("int"))
    )


@pytest.fixture()
def wh(spark, tmp_path):
    path = str(tmp_path / "wh")
    encode_table(spark, _df(spark), path, snapshot="c0",
                 salt_buckets=4, stripe_tokens=800)
    return path


def test_changelog_delete_then_upsert(spark, wh):
    d1 = deletes.delete_where(spark, wh, ("n_tok", 5, 8))["snapshot_id"]
    upd = (
        decode_table(spark, wh, snapshot=d1)
        .where("doc_id >= 'd00100' AND doc_id < 'd00110'")
        .withColumn("tokens", F.expr("transform(tokens, x -> CAST(x+1 AS INT))"))
    )
    u1 = deletes.upsert(spark, wh, upd, snapshot=d1)["snapshot_id"]
    ch = changes_between(spark, wh, "c0").cache()
    # delete commit: exactly the predicate's rows, as of c0
    dels1 = ch.where(
        (F.col("_commit_snapshot") == d1) & (F.col("_change_type") == "delete")
    )
    assert dels1.count() == _df(spark).where("n_tok BETWEEN 5 AND 8").count()
    assert dels1.where("n_tok NOT BETWEEN 5 AND 8").count() == 0
    # upsert commit: old versions out, new versions in, same keys
    dels2 = ch.where(
        (F.col("_commit_snapshot") == u1) & (F.col("_change_type") == "delete")
    ).collect()
    ins2 = ch.where(
        (F.col("_commit_snapshot") == u1) & (F.col("_change_type") == "insert")
    ).collect()
    n_upd = upd.count()
    assert len(dels2) == len(ins2) == n_upd
    assert {r["doc_id"] for r in dels2} == {r["doc_id"] for r in ins2}
    old = {r["doc_id"]: r["tokens"] for r in dels2}
    new = {r["doc_id"]: r["tokens"] for r in ins2}
    for k in old:
        assert new[k] == [x + 1 for x in old[k]]
    # REPLAY: applying the changelog to c0 reproduces the final table
    model = {
        r["doc_id"]: tuple(r["tokens"])
        for r in decode_table(spark, wh, snapshot="c0").collect()
    }
    for r in sorted(ch.collect(), key=lambda r: (r["_commit_ordinal"],
                                                 r["_change_type"] != "delete")):
        if r["_change_type"] == "delete":
            del model[r["doc_id"]]
        else:
            model[r["doc_id"]] = tuple(r["tokens"])
    final = {
        r["doc_id"]: tuple(r["tokens"])
        for r in decode_table(spark, wh, snapshot=u1).collect()
    }
    assert model == final
    ch.unpersist()


def test_changelog_append_only_and_empty_range(spark, wh):
    encode_table(spark, _df(spark, 40), wh, snapshot="c1",
                 salt_buckets=2, stripe_tokens=800, resume=False)
    ch = changes_between(spark, wh, "c0", "c1")
    assert ch.where("_change_type = 'insert'").count() == 40
    assert ch.where("_change_type = 'delete'").count() == 0
    empty = changes_between(spark, wh, "c1", "c1")
    assert empty.count() == 0
    assert "_change_type" in empty.columns


def test_changelog_emits_to_snapshot_schema(spark, wh, tmp_path):
    w = str(tmp_path / "wh_evo")
    encode_table(spark, _df(spark, 60), w, snapshot="e0", salt_buckets=2,
                 stripe_tokens=800, weight_col=None)
    ev = evolve_schema(w, snapshot="e0", rename={"n_tok": "tok_count"},
                       add={"lang": "string"})["snapshot_id"]
    new = spark.createDataFrame(
        [("z-1", [3, 4], "s0", 2, "aa")],
        "doc_id string, tokens array<int>, source string, "
        "tok_count int, lang string",
    )
    u = deletes.upsert(spark, w, new, snapshot=ev, salt_buckets=2)["snapshot_id"]
    # delete a pre-evolution row so the delete pre-image needs renaming
    d = deletes.delete_where(spark, w, ("doc_id", ["d00005"]), snapshot=u)[
        "snapshot_id"
    ]
    ch = changes_between(spark, w, "e0", d)
    assert set(ch.columns) == {
        "doc_id", "tokens", "source", "tok_count", "lang",
        "_change_type", "_commit_snapshot", "_commit_ordinal",
    }
    ins = ch.where("_change_type = 'insert'").collect()
    assert len(ins) == 1 and ins[0]["lang"] == "aa"
    dl = ch.where("_change_type = 'delete'").collect()
    assert len(dl) == 1 and dl[0]["doc_id"] == "d00005"
    assert dl[0]["tok_count"] is not None  # renamed forward
    assert dl[0]["lang"] is None           # added later: null pre-image


def test_streaming_cdc_source(spark, wh, tmp_path):
    from orc_spark.datasource import register

    register(spark)
    d1 = deletes.delete_where(spark, wh, ("n_tok", 5, 8))["snapshot_id"]
    upd = (
        decode_table(spark, wh, snapshot=d1)
        .where("doc_id >= 'd00100' AND doc_id < 'd00105'")
        .withColumn("tokens", F.expr("transform(tokens, x -> CAST(x+1 AS INT))"))
    )
    u1 = deletes.upsert(spark, wh, upd, snapshot=d1)["snapshot_id"]
    out = str(tmp_path / "cdc_sink")
    ckpt = str(tmp_path / "cdc_ckpt")

    def run_batch():
        q = (
            spark.readStream.format("tokstripe")
            .option("path", wh).option("mode", "cdc").load()
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run_batch()
    got = spark.read.parquet(out)
    n_del1 = _df(spark).where("n_tok BETWEEN 5 AND 8").count()
    n_upd = upd.count()
    assert n_upd > 0
    # replays the whole log: base inserts + delete pre-images + upsert pair
    assert got.where("_change_type = 'insert'").count() == 300 + n_upd
    assert got.where("_change_type = 'delete'").count() == n_del1 + n_upd
    # the stream's post-base changes equal the batch changelog exactly
    batch = changes_between(spark, wh, "c0", u1)
    stream_tail = got.where("_commit_snapshot <> 'c0'").select(*batch.columns)
    assert stream_tail.exceptAll(batch).count() == 0
    assert batch.exceptAll(stream_tail).count() == 0
    # incremental restart from the checkpoint: only NEW commits emit
    d2 = deletes.delete_where(spark, wh, ("doc_id", ["d00200"]), snapshot=u1)
    run_batch()
    got2 = spark.read.parquet(out)
    assert got2.count() == got.count() + 1
    new_row = got2.where("_commit_snapshot = '%s'" % d2["snapshot_id"]).collect()
    assert len(new_row) == 1 and new_row[0]["_change_type"] == "delete"
    assert new_row[0]["doc_id"] == "d00200"
    # batch reader refuses cdc mode with a pointer to the right APIs
    with pytest.raises(Exception, match="cdc"):
        spark.read.format("tokstripe").option("path", wh).option(
            "mode", "cdc"
        ).load().count()


def test_changelog_errors(spark, wh):
    d1 = deletes.delete_where(spark, wh, ("n_tok", 5, 8))["snapshot_id"]
    with pytest.raises(ValueError, match="newer than"):
        changes_between(spark, wh, d1, "c0")
    with pytest.raises(ValueError, match="not in commit log"):
        changes_between(spark, wh, "nope")
    # expiring a mid-range snapshot kills its pre-images -> loud error
    u = deletes.upsert(
        spark, wh,
        decode_table(spark, wh).limit(1)
        .withColumn("tokens", F.expr("transform(tokens, x -> CAST(x+1 AS INT))")),
        snapshot=d1,
    )["snapshot_id"]
    expire_snapshots(wh, [d1])
    with pytest.raises(ValueError, match="expired"):
        changes_between(spark, wh, "c0", u)


def _drain(spark, wh, out, ckpt, schema=None, **opts):
    """One availableNow run of a tokstripe stream into a parquet sink."""
    from orc_spark.datasource import register

    register(spark)
    rdr = spark.readStream.format("tokstripe").option("path", wh)
    if schema is not None:
        rdr = rdr.schema(schema)
    for k, v in opts.items():
        rdr = rdr.option(k, v)
    q = (
        rdr.load().writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    return spark.read.parquet(out)


def test_changelog_after_materialize_is_only_the_delete(spark, wh, tmp_path):
    """A delete committed after a materialization emits its one pre-image
    and nothing else: its pre-images come from its recorded parent, and the
    rewrite commit itself changes no rows (it used to re-emit every
    rewritten row as an insert of the next commit)."""
    from orc_spark.maintenance import materialize_deletes

    d1 = deletes.delete_where(spark, wh, ("n_tok", 5, 8))["snapshot_id"]
    materialize_deletes(spark, wh, snapshot=d1, salt_buckets=4, stripe_tokens=800)
    d = deletes.delete_where(spark, wh, ("doc_id", ["d00200"]))["snapshot_id"]
    batch = changes_between(spark, wh, d1, d)
    rows = batch.collect()
    assert [(r["_change_type"], r["doc_id"], r["_commit_snapshot"]) for r in rows] \
        == [("delete", "d00200", d)]
    # the CDC stream's tail over the same range is the same changelog
    got = _drain(spark, wh, str(tmp_path / "sink"), str(tmp_path / "ckpt"),
                 mode="cdc")
    i_d1 = Warehouse(wh).commit_log().index(d1)
    tail = got.where(F.col("_commit_ordinal") > i_d1).select(*batch.columns)
    assert tail.collect() == rows


def test_changelog_across_evolution_and_materialize(spark, tmp_path):
    """Every change task reads under the bound schema, through its own
    commit's aliases too: a delete whose parent predates a materialization
    (which clears the alias mapping) still renames forward and null-fills,
    and a stream bound after an ADD and a RENAME replays the commits
    before them."""
    from orc_spark.maintenance import materialize_deletes

    w = str(tmp_path / "wh")
    encode_table(spark, _df(spark, 60), w, snapshot="e0", salt_buckets=2,
                 stripe_tokens=800, weight_col=None)
    ev = evolve_schema(w, snapshot="e0", rename={"n_tok": "tok_count"},
                       add={"lang": "string"})["snapshot_id"]
    d = deletes.delete_where(spark, w, ("doc_id", ["d00005"]))["snapshot_id"]
    got = _drain(spark, w, str(tmp_path / "sink"), str(tmp_path / "ckpt"),
                 mode="cdc")
    base = got.where("_commit_snapshot = 'e0'")
    assert base.where("tok_count IS NOT NULL AND lang IS NULL").count() == 60
    assert got.where("_change_type = 'delete'").count() == 1
    m = materialize_deletes(spark, w, snapshot=d, salt_buckets=2,
                            stripe_tokens=800)["snapshot_id"]
    # the rewrite keeps the renamed column's field ID
    assert current_ids(Warehouse(w).read_manifest(m))["tok_count"] == \
        current_ids(Warehouse(w).read_manifest("e0"))["n_tok"]
    rows = changes_between(spark, w, ev, m).collect()
    assert [(r["_change_type"], r["doc_id"], r["tok_count"], r["lang"])
            for r in rows] == [("delete", "d00005", 7, None)]
    # the rewrite changes no rows: a restarted stream emits nothing new
    got = _drain(spark, w, str(tmp_path / "sink"), str(tmp_path / "ckpt"),
                 mode="cdc")
    assert got.count() == 61


def _rewrite_after_evolve(spark, w, **evolve):
    """e0 (60 rows) and e1 (40 rows) encoded, `evolve` applied to e1, one
    of e1's keys deleted, then the delete materialized: the rewrite's
    snapshot."""
    from orc_spark.maintenance import materialize_deletes

    for snap, rows in (("e0", "doc_id < 'd00060'"), ("e1", "doc_id >= 'd00060'")):
        encode_table(spark, _df(spark, 100).where(rows), w, snapshot=snap,
                     salt_buckets=2, stripe_tokens=800, weight_col=None)
    evolve_schema(w, snapshot="e1", **evolve)
    d = deletes.delete_where(spark, w, ("doc_id", ["d00065"]))["snapshot_id"]
    return materialize_deletes(spark, w, snapshot=d, salt_buckets=2,
                               stripe_tokens=800)["snapshot_id"]


def test_rename_before_a_rewrite_reads_forward(spark, tmp_path):
    """A column renamed before a materialize keeps its values in files
    older than the rename, for batch CDC and for a CDC stream bound after
    the rewrite (the alias mapping the rewrite cleared used to null-fill
    all of e1's 40 inserts)."""
    w = str(tmp_path / "wh")
    m = _rewrite_after_evolve(spark, w, rename={"n_tok": "tok_count"})
    n_tok = {r["doc_id"]: r["n_tok"] for r in _df(spark, 100).collect()}
    rows = changes_between(spark, w, "e0", m).collect()
    assert sorted((r["_change_type"], r["doc_id"], r["tok_count"]) for r in rows) \
        == [("delete", "d00065", n_tok["d00065"])] + sorted(
            ("insert", d, v) for d, v in n_tok.items() if d >= "d00060")
    got = _drain(spark, w, str(tmp_path / "sink"), str(tmp_path / "ckpt"),
                 mode="cdc")
    ins = got.where("_change_type = 'insert'").collect()
    assert sorted((r["doc_id"], r["tok_count"]) for r in ins) == sorted(n_tok.items())


def test_drop_before_a_rewrite_then_re_add_reads_null(spark, tmp_path):
    """A name dropped before a materialize and added after it is a new
    column: batch CDC reads NULL for it in every row of files written
    before the add (it used to read the dropped column's bytes)."""
    w = str(tmp_path / "wh")
    m = _rewrite_after_evolve(spark, w, drop=["n_tok"])
    ev = evolve_schema(w, snapshot=m, add={"n_tok": "int"})["snapshot_id"]
    rows = changes_between(spark, w, "e0", ev).collect()
    assert sorted(r["_change_type"] for r in rows) == ["delete"] + ["insert"] * 40
    assert {r["_commit_snapshot"] for r in rows if r["_change_type"] == "insert"} \
        == {"e1"}
    assert [r["n_tok"] for r in rows] == [None] * 41


@pytest.mark.parametrize("steps, mode", [
    ([{"rename": {"n_tok": "tok_count"}}], "materialize"),
    ([{"rename": {"n_tok": "tok_count"}}], "reencode"),
    ([{"drop": ["n_tok"]}, {"add": {"n_tok": "int"}}], "materialize"),
], ids=["rename-materialize", "rename-reencode", "re_add-materialize"])
def test_rewrite_of_an_older_snapshot_keeps_its_ids(spark, tmp_path, steps, mode):
    """A rewrite of a snapshot that is not CURRENT takes its field IDs from
    that snapshot, not from what CURRENT did to its names since: after a
    delete on the rewrite, the changelog reads e0's n_tok values (with
    CURRENT's IDs the rewrite's n_tok got a fresh ID, and every e0 insert
    read NULL)."""
    from orc_spark.maintenance import compact_snapshots, materialize_deletes

    w = str(tmp_path / "wh")
    for snap, rows in (("c0", "doc_id < 'd00030'"), ("e0", "doc_id >= 'd00030'")):
        encode_table(spark, _df(spark, 60).where(rows), w, snapshot=snap,
                     salt_buckets=2, stripe_tokens=800, weight_col=None)
    snap = "e0"
    for step in steps:
        snap = evolve_schema(w, snapshot=snap, **step)["snapshot_id"]
    if mode == "materialize":
        r = materialize_deletes(spark, w, snapshot="e0", salt_buckets=2,
                                stripe_tokens=800)["snapshot_id"]
    else:
        r = compact_snapshots(spark, w, ["e0"], "r", mode="reencode",
                              salt_buckets=2, stripe_tokens=800)["snapshot_id"]
    d = deletes.delete_where(spark, w, ("doc_id", ["d00035"]), snapshot=r)
    n_tok = {r["doc_id"]: r["n_tok"] for r in _df(spark, 60).collect()}
    rows = changes_between(spark, w, "c0", d["snapshot_id"]).collect()
    assert sorted((r["_change_type"], r["doc_id"], r["n_tok"]) for r in rows) \
        == [("delete", "d00035", n_tok["d00035"])] + sorted(
            ("insert", k, v) for k, v in n_tok.items() if k >= "d00030")


def test_stream_schema_column_the_table_lacks_reads_null(spark, wh, tmp_path):
    """A column of a stream's user-given schema that the snapshot lacks
    null-fills, whatever its type (boolean and array<bigint> are no ADD
    types, but a read can still ask for them)."""
    got = _drain(spark, wh, str(tmp_path / "sink"), str(tmp_path / "ckpt"),
                 schema="doc_id string, n_tok int, flag boolean, "
                        "ids array<bigint>")
    assert got.count() == 300
    assert got.where("flag IS NULL AND ids IS NULL AND n_tok > 0").count() == 300


def test_append_stream_skips_evolve_and_rewrite_commits(spark, wh, tmp_path):
    """An append stream delivers each row once: a schema evolution and a
    materialization share or rewrite existing rows, so they deliver
    nothing; only the later append's 40 rows follow the base 300."""
    from orc_spark.maintenance import materialize_deletes

    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    assert _drain(spark, wh, out, ckpt).count() == 300
    ev = evolve_schema(wh, snapshot="c0", add={"lang": "string"})["snapshot_id"]
    materialize_deletes(spark, wh, snapshot=ev, salt_buckets=4, stripe_tokens=800)
    want = _df(spark, 340)
    encode_table(spark, want.where("doc_id >= 'd00300'"), wh, snapshot="c1",
                 salt_buckets=2, stripe_tokens=800, resume=False)
    got = _drain(spark, wh, out, ckpt).select(*want.columns)
    assert got.count() == 340
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_pre_images_above_inline_bound_load_in_workers(spark, wh, monkeypatch):
    """Above deletes.INLINE_DELETE_MAX a delete's pre-images plan without
    loading its keys on the driver: every parent file becomes a task and
    the worker reading it loads the keys. The worker filters decoded rows
    by them exactly, and loads the parent's deletes (also above the bound
    here) only where they meet them. The changelog is unchanged."""
    from orc_spark.cdc import plan_changes, read_tasks

    d1 = deletes.delete_where(spark, wh, ("n_tok", 5, 8))["snapshot_id"]
    live = [f"d{i:05d}" for i in range(300) if not 3 <= i % 19 <= 6]
    d2 = deletes.delete_where(spark, wh, ("doc_id", live[::12][:20]))
    assert d2["n_deleted"] == 20
    d2 = d2["snapshot_id"]
    want = changes_between(spark, wh, "c0", d2).collect()
    assert sum(r["_commit_snapshot"] == d2 for r in want) == 20

    monkeypatch.setattr(deletes, "INLINE_DELETE_MAX", 5)
    w = Warehouse(wh)
    (d1_dels,) = deletes.delete_files_of(w.read_manifest(d1))
    assert deletes.count_delete_keys([d1_dels]) > 5
    bound = current_ids(w.read_manifest(d2))
    tasks = plan_changes(w, [(w.commit_log().index(d2), d2)], bound)
    assert sorted(t.file for t in tasks) == sorted(w.committed_files(d1))
    assert all(t.dels == (d1_dels,) for t in tasks)

    # the worker side, in this process
    loads = []
    real_load = deletes.load_delete_keys

    def worker_load(files, key_col, among=None):
        loads.append((tuple(files), among is not None))
        return real_load(files, key_col, among)

    monkeypatch.setattr(deletes, "load_delete_keys", worker_load)
    schema = w.read_manifest(d2)["schema"]
    rows = [r for rb in read_tasks(tasks, schema) for r in rb.to_pylist()]
    assert sorted(r["doc_id"] for r in rows) == live[::12][:20]
    assert {among for files, among in loads if files == (d1_dels,)} == {True}

    def driver_load(files, key_col, among=None):
        raise AssertionError(f"driver loaded delete keys of {files}")

    monkeypatch.setattr(deletes, "load_delete_keys", driver_load)
    got = changes_between(spark, wh, "c0", d2).collect()
    assert sorted(got) == sorted(want)


def test_plan_changes_reads_each_commit_record(tmp_path, monkeypatch):
    """The planner alone over a hand-committed chain (no Spark, no data
    files): per ordinal, the exact insert and delete pre-image tasks."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from orc_spark.cdc import plan_changes

    wh = Warehouse(str(tmp_path / "wh"))
    schema = {"doc_id": "string"}

    def part(name, lo, hi, **kw):
        return {"file": f"/x/{name}", "enc_bytes": 10,
                "min_doc_id": lo, "max_doc_id": hi, **kw}

    def dfile(name, keys, seq):
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table({"doc_id": keys}), path)
        return {"path": path, "seq": seq}

    base = {"p0": part("a", "a", "m"), "p1": part("b", "n", "z")}
    del1, del2 = dfile("del1", ["b"], 1), dfile("del2", ["p"], 2)
    del3 = dfile("del3", ["c"], 1)
    wh.commit("c0", base, schema)                                        # 0
    wh.commit("d1", base, schema, extra={                                # 1
        "operation": "delete", "delete_parent": "c0", "delete_files": [del1]})
    wh.commit("side", {"s0": part("s", "p", "q")}, schema,               # 2
              extra={"operation": "evolve"}, ref="side")
    upserted = {**base, "s0@u2": part("s", "p", "q", seq=2)}
    wh.commit("u2", upserted, schema, extra={                            # 3
        "operation": "upsert", "upsert_parent": "d1", "seq": 2,
        "delete_files": [del1, del2]})
    wh.commit("ev", upserted, {**schema, "lang": "string"}, extra={      # 4
        "operation": "evolve",
        "delete_files": [del1, del2]})
    wh.commit("cmp", {"p0": part("cmp", "a", "z")}, schema,              # 5
              extra={"compacted_from": ["ev"]})
    wh.commit("mat", {"p0": part("mat", "a", "z")}, schema,              # 6
              extra={"materialized_from": "ev"})
    wh.commit("mat-d", {"p0": part("mat", "a", "z")}, schema, extra={    # 7
        "operation": "delete", "delete_parent": "mat", "delete_files": [del3]})
    wh.commit("c1", {"p0": part("c1", "a", "z")}, schema)                # 8

    def plan(cdc=True):
        return {
            (t.ordinal, t.change, t.file, t.dels, t.keys_from)
            for t in plan_changes(wh, enumerate(wh.commit_log()), {}, cdc=cdc)
        }

    inserts = {
        (0, "insert", "/x/a", (), ()), (0, "insert", "/x/b", (), ()),
        (3, "insert", "/x/s", (), ()),  # only the upsert's own seq
        (8, "insert", "/x/c1", (), ()),
    }
    assert plan() == inserts | {
        # 'b' lies only in /x/a's key range
        (1, "delete", "/x/a", (), (del1["path"],)),
        # read from the parent d1, masked by d1's own delete
        (3, "delete", "/x/b", (del1["path"],), (del2["path"],)),
        # read from the recorded parent mat, not the neighbour in the log
        (7, "delete", "/x/mat", (), (del3["path"],)),
    }
    assert plan(cdc=False) == inserts  # the append stream's view

    # above the inline bound the driver does not prune: every parent file
    monkeypatch.setattr(deletes, "INLINE_DELETE_MAX", 0)
    assert {t.file for t in plan_changes(wh, [(1, "d1")], {})} == {"/x/a", "/x/b"}

    # an expired commit fails a changelog, the append stream skips it
    os.remove(wh.manifest_file("d1"))
    with pytest.raises(ValueError, match="expired"):
        plan()
    assert plan(cdc=False) == inserts
