import json
import os

import pandas as pd
import pytest

from spark_frontier.storage import SnapStore


def test_append_overwrite_merge_delete(spark, tmp_path):
    store = SnapStore(str(tmp_path))
    t = store.table("t")
    assert not t.exists() and t.read(spark) is None

    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    t.append(df1, summary={"op": "a1"})
    assert t.read(spark).count() == 2

    t.append(spark.createDataFrame([(3, "c")], "k long, v string"))
    assert t.read(spark).count() == 3

    # merge: update-on-match + insert
    batch = spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string")
    t.merge(batch, ["k"])
    rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert rows == {1: "a", 2: "B", 3: "c", 4: "d"}

    # merge insert-only
    t.merge(spark.createDataFrame([(4, "XX"), (5, "e")], "k long, v string"),
            ["k"], when_matched="ignore")
    rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert rows[4] == "d" and rows[5] == "e"

    # row-level delete
    t.delete_where("k >= 4", spark)
    assert sorted(r["k"] for r in t.read(spark).collect()) == [1, 2, 3]

    # lineage: snapshots chain oldest-first with summaries
    # (append, append, merge, merge-insert-only, delete = 5 commits)
    hist = t.history()
    assert len(hist) == 5
    assert hist[0]["summary"] == {"op": "a1"}


def test_atomic_head_swap(spark, tmp_path):
    """A reader mid-commit sees either the old or the new snapshot, never a
    partial state — HEAD flips via os.replace."""
    store = SnapStore(str(tmp_path))
    t = store.table("t")
    t.overwrite(spark.createDataFrame([(1,)], "k long"))
    head1 = t.snapshot_id
    files1 = t.current_files()
    t.overwrite(spark.createDataFrame([(2,), (3,)], "k long"))
    assert t.snapshot_id != head1
    # the old snapshot's manifest still resolves (time travel)
    m = t._manifest(head1)
    assert m["files"] == files1
    # a crashed writer: manifest written but HEAD untouched → invisible
    fake = os.path.join(t.path, "snapshots", "9999999999999-deadbeef.json")
    with open(fake, "w") as f:
        json.dump({"snapshot_id": "x", "files": ["/nope"], "summary": {}}, f)
    assert t.read(spark).count() == 2  # still the committed snapshot


def test_time_travel_and_rollback(spark, tmp_path):
    store = SnapStore(str(tmp_path / "wh"))
    t = store.table("links")
    s1 = t.append(spark.createDataFrame([(1, "a")], ["id", "v"]))
    s2 = t.append(spark.createDataFrame([(2, "b")], ["id", "v"]))
    assert t.read(spark).count() == 2
    # VERSION AS OF: the first snapshot still reads its own file list
    assert t.read_at(spark, s1).count() == 1
    assert [r["id"] for r in t.read_at(spark, s1).collect()] == [1]
    # rollback is an atomic HEAD swap to an ancestor
    assert t.rollback(s1) == s1
    assert t.snapshot_id == s1
    assert t.read(spark).count() == 1
    # the abandoned snapshot's files remain until retention cleanup
    assert t.read_at(spark, s2).count() == 2
    # non-ancestor ids are refused
    with pytest.raises(ValueError):
        t.rollback("not-a-snapshot")


def test_compact_binpacks_and_preserves_data(spark, tmp_path):
    """compact() = Iceberg rewrite_data_files: fewer files, identical
    rows, previous summary carried forward, time travel to the
    pre-compaction snapshot untouched."""
    store = SnapStore(str(tmp_path))
    t = store.table("t")
    for i in range(6):
        t.append(
            spark.createDataFrame([(i, f"v{i}")], "k long, v string"),
            summary={"op": f"a{i}", "n_segments": 4},
        )
    pre_sid = t.snapshot_id
    pre_files = t.current_files()
    pre_rows = sorted(t.read(spark).collect())
    assert len(pre_files) >= 6

    sid = t.compact(spark)
    assert sid is not None and t.snapshot_id == sid
    post_files = t.current_files()
    assert len(post_files) < len(pre_files)
    assert sorted(t.read(spark).collect()) == pre_rows

    s = t.summary()
    assert s["op"] == "compact" and s["files_in"] == len(pre_files)
    assert s["n_segments"] == 4  # prior summary keys survive maintenance

    # pre-compaction snapshot still time-travels to the old file list
    assert sorted(t.read_at(spark, pre_sid).collect()) == pre_rows
    assert t.read_at(spark, pre_sid) is not None

    # already-compact table: no-op, no new snapshot
    assert t.compact(spark) is None
    assert t.snapshot_id == sid


def test_read_changes_incremental_scan(spark, tmp_path):
    """read_changes() = Iceberg incremental read: exactly the rows added
    by appends after a snapshot; rewrites in the range raise."""
    store = SnapStore(str(tmp_path))
    t = store.table("t")
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    base = t.snapshot_id
    t.append(spark.createDataFrame([(2, "b")], "k long, v string"))
    t.append(spark.createDataFrame([(3, "c")], "k long, v string"))

    delta = t.read_changes(spark, base)
    assert sorted(r["k"] for r in delta.collect()) == [2, 3]
    # full window from HEAD: nothing new
    assert t.read_changes(spark, t.snapshot_id) is None
    # unknown ancestor rejected
    with pytest.raises(ValueError):
        t.read_changes(spark, "no-such-snapshot")

    # a rewrite commit poisons the append-only window
    t.delete_where("k = 1", spark)
    with pytest.raises(ValueError, match="append-only"):
        t.read_changes(spark, base)
    # but a window starting after the rewrite works again
    post = t.snapshot_id
    t.append(spark.createDataFrame([(4, "d")], "k long, v string"))
    assert [r["k"] for r in t.read_changes(spark, post).collect()] == [4]


def test_export_delta_job(spark, tmp_path, monkeypatch, capsys):
    """jobs/export_delta.py: exactly-once incremental export — first run
    full, second run only the appended delta, rewrite in the window →
    needs_full_export, --full re-baselines."""
    import importlib.util
    import json as _json
    import os

    spec = importlib.util.spec_from_file_location(
        "export_delta", os.path.join(os.path.dirname(__file__), "..",
                                     "jobs", "export_delta.py"))
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    store = SnapStore(str(tmp_path / "wh"))
    out = str(tmp_path / "export")
    t = store.table("links")
    t.append(spark.createDataFrame([(1, True), (2, False)],
                                   "k long, is_valid boolean"))

    def run(*extra):
        monkeypatch.setattr("sys.argv", [
            "export_delta.py", "--store", str(tmp_path / "wh"),
            "--out", out, *extra])
        rc = job.main()
        return rc, _json.loads(capsys.readouterr().out.strip().split("\n")[-1])

    rc, rep = run()
    assert rc == 0 and rep["status"] == "exported" and rep["rows"] == 2

    # nothing new → up_to_date, no batch written
    rc, rep = run()
    assert rc == 0 and rep["status"] == "up_to_date"

    # append a delta → only the new row exports
    t.append(spark.createDataFrame([(3, True)], "k long, is_valid boolean"))
    rc, rep = run("--valid-only")
    assert rc == 0 and rep["status"] == "exported" and rep["rows"] == 1
    assert [r["k"] for r in spark.read.parquet(rep["dir"]).collect()] == [3]

    # rewrite inside the window → refuse rather than double-count
    t.append(spark.createDataFrame([(4, True)], "k long, is_valid boolean"))
    t.delete_where("k = 1", spark)
    rc, rep = run()
    assert rc == 1 and rep["status"] == "needs_full_export"

    # --full re-baselines
    rc, rep = run("--full")
    assert rc == 0 and rep["status"] == "exported" and rep["rows"] == 3


def test_append_shared_files_view_and_maintenance(spark, tmp_path):
    """Metadata-only shared-file commits (round 5): a table registered
    as a (where, columns) view of another table's files reads exactly
    the filtered projection; incremental reads see shared deltas; a
    rewrite (compact) converts the view into owned files with identical
    rows. A view column may be a SQL expression, derived on every read
    and stored by a rewrite; plain names (all that manifests held before
    expressions) read as a plain projection."""
    from spark_frontier.storage.snapstore import SnapStore

    store = SnapStore(str(tmp_path / "wh"))
    lineage = store.table("lineage")
    links = store.table("links")

    rows = [(i, f"u{i}", i % 3 != 0, f"x{i}") for i in range(30)]
    files = lineage.append_files(
        spark.createDataFrame(
            rows, "url_key long, url string, is_valid boolean, dbg string"
        ),
        summary={"op": "wave"},
    )
    sid0 = links.append_shared_files(
        files, where="is_valid", columns=["url_key", "url"],
        summary={"op": "wave"},
    )
    got = links.read(spark)
    assert got.columns == ["url_key", "url"]
    want = sorted(k for k, _, v, _ in rows if v)
    assert sorted(r["url_key"] for r in got.collect()) == want

    # mixed manifest: a plain append unions with the shared view
    links.append(
        spark.createDataFrame([(100, "u100")], "url_key long, url string")
    )
    assert links.read(spark).count() == len(want) + 1

    # incremental read across a shared commit
    files2 = lineage.append_files(
        spark.createDataFrame(
            [(200, "u200", True, "y"), (201, "u201", False, "y")],
            "url_key long, url string, is_valid boolean, dbg string",
        ),
        summary={"op": "wave"},
    )
    head_before = links.snapshot_id
    links.append_shared_files(files2, where="is_valid",
                              columns=["url_key", "url"])
    delta = links.read_changes(spark, head_before)
    assert [r["url_key"] for r in delta.collect()] == [200]

    # compaction rewrites the shared view into owned files, same rows
    before = sorted(r["url_key"] for r in links.read(spark).collect())
    assert links.compact(spark, target_file_bytes=1 << 30) is not None
    after = sorted(r["url_key"] for r in links.read(spark).collect())
    assert after == before
    assert all(not isinstance(e, dict) for e in links.current_files())

    # time travel still resolves the shared view at sid0
    assert sorted(
        r["url_key"] for r in links.read_at(spark, sid0).collect()
    ) == want

    # an expression column is derived by read, read_changes and read_at
    derived = store.table("derived")
    view = ["url_key", "upper(url) AS url_u"]
    sid_d = derived.append_shared_files(files, where="is_valid",
                                        columns=view)

    def _url_u(df):
        return {r["url_key"]: r["url_u"] for r in df.collect()}

    want_u = {k: u.upper() for k, u, v, _ in rows if v}
    got = derived.read(spark)
    assert got.columns == ["url_key", "url_u"]
    assert _url_u(got) == want_u
    derived.append_shared_files(files2, where="is_valid", columns=view)
    assert _url_u(derived.read_changes(spark, sid_d)) == {200: "U200"}

    # compaction stores the derived values in owned files
    assert derived.compact(spark, target_file_bytes=1 << 30) is not None
    owned = derived.current_files()
    assert all(not isinstance(e, dict) for e in owned)
    assert _url_u(spark.read.parquet(*owned)) == {**want_u, 200: "U200"}
    assert _url_u(derived.read_at(spark, sid_d)) == want_u


def test_expire_snapshots_and_gc_orphans(tmp_path):
    """Iceberg maintenance split: expire_snapshots bounds the manifest
    history per table; store-level gc_orphans removes data files no
    remaining manifest of ANY table references (shared-file appends and
    pending_fold markers pin files across tables). Pure manifest logic —
    no Spark session needed."""
    import pandas as pd

    store = SnapStore(str(tmp_path / "store"))
    t = store.table("state")
    for i in range(6):
        t.overwrite_local(pd.DataFrame({"k": [i]}), summary={"i": i})
    assert len(t.history()) == 6

    dropped = t.expire_snapshots(keep_last=2)
    assert len(dropped) == 4
    # lineage cut: history walks without touching expired manifests
    hist = t.history()
    assert len(hist) == 2 and hist[0]["parent"] is None
    assert [pd.read_parquet(p)["k"].iloc[0] for p in t.current_files()] == [5]

    # expired snapshots' data files are orphans now
    removed = store.gc_orphans()
    assert len(removed) == 4
    # retained snapshots still fully readable
    for h in hist:
        for p in t._manifest(h["snapshot_id"])["files"]:
            assert pd.read_parquet(p)["k"].iloc[0] in (4, 5)

    # idempotent: nothing left to expire or remove
    assert t.expire_snapshots(keep_last=2) == []
    assert store.gc_orphans() == []


def test_gc_respects_shared_and_pending_references(tmp_path):
    import pandas as pd

    store = SnapStore(str(tmp_path / "store"))
    lineage = store.table("fetch_log")
    lineage.overwrite_local(pd.DataFrame({"k": [1], "ok": [True]}))
    shared_files = list(lineage.current_files())
    lineage.overwrite_local(pd.DataFrame({"k": [2], "ok": [False]}))
    fold_files = list(lineage.current_files())

    # another table registers the first commit's physical files as a view
    view = store.table("links")
    view.append_shared_files(shared_files, where="ok", columns=["k"])

    # a summary-only pending_fold marker pins the second commit's files
    host = store.table("host_state")
    host.commit_same_files(
        {"pending_fold": {"files": fold_files, "batch_ts": "2026-01-01"}}
    )

    # drop fetch_log's OWN references to both commits: new HEAD + expire
    lineage.overwrite_local(pd.DataFrame({"k": [3], "ok": [True]}))
    lineage.expire_snapshots(keep_last=1)
    removed = store.gc_orphans()
    # ...but the links view still pins shared_files and the host marker
    # pins fold_files — nothing may be deleted
    assert removed == []
    assert all(pd.read_parquet(p) is not None for p in shared_files)

    # drop both external references: now the files really are orphans
    view.overwrite_local(pd.DataFrame({"k": [9]}))
    view.expire_snapshots(keep_last=1)
    host.commit_same_files({"op": "cleared"})
    host.expire_snapshots(keep_last=1)
    removed = store.gc_orphans()
    assert sorted(removed) == sorted(
        p for p in shared_files + fold_files
    )


def _codecs(paths) -> set:
    """Compression codecs of every column chunk of the given files."""
    import pyarrow.parquet as pq

    out = set()
    for p in paths:
        meta = pq.ParquetFile(p).metadata
        for rg in range(meta.num_row_groups):
            for c in range(meta.num_columns):
                out.add(meta.row_group(rg).column(c).compression)
    return out


def test_every_write_path_writes_zstd(spark, tmp_path):
    """Each SnapStore write path — Spark appends and overwrites, the
    rewrites behind merge/delete_where/compact, and the driver-local
    pyarrow writes — writes only ZSTD column chunks."""
    store = SnapStore(str(tmp_path))
    schema = "k long, v string, h string"

    def df(keys):
        return spark.createDataFrame(
            [(k, f"v{k}", f"{k:064x}") for k in keys], schema)

    t = store.table("t")
    t.append(df(range(0, 50)))
    assert _codecs(t.current_files()) == {"ZSTD"}, "append"
    files = t.append_files(df(range(50, 80)))
    assert _codecs(files) == {"ZSTD"}, "append_files"
    t.merge(df([3, 200]), ["k"])
    assert _codecs(t.current_files()) == {"ZSTD"}, "merge update"
    t.merge(df([4, 201]), ["k"], when_matched="ignore")
    assert _codecs(t.current_files()) == {"ZSTD"}, "merge insert-only"
    t.delete_where("k < 10", spark)
    assert _codecs(t.current_files()) == {"ZSTD"}, "delete_where"
    t.append(df(range(300, 310)))
    assert t.compact(spark) is not None
    assert _codecs(t.current_files()) == {"ZSTD"}, "compact"

    o = store.table("o")
    o.overwrite(df(range(5)))
    assert _codecs(o.current_files()) == {"ZSTD"}, "overwrite"
    o.overwrite(df(range(5)), small=True)
    assert len(o.current_files()) == 1
    assert _codecs(o.current_files()) == {"ZSTD"}, "overwrite small"

    loc = store.table("loc")
    pdf = pd.DataFrame({"k": [1, 2], "ts": pd.to_datetime(["2026-01-01"] * 2)})
    loc.append_local(pdf)
    assert _codecs(loc.current_files()) == {"ZSTD"}, "append_local"
    loc.overwrite_local(pdf)
    assert _codecs(loc.current_files()) == {"ZSTD"}, "overwrite_local"


def test_snappy_files_read_beside_zstd(spark, tmp_path, monkeypatch):
    """A table whose older commits are snappy (the codec before zstd)
    reads every row next to newer zstd files; an incremental read across
    the boundary is exactly the delta; a rewrite converts it to zstd."""
    from spark_frontier.storage import snapstore

    store = SnapStore(str(tmp_path))
    t = store.table("t")
    schema = "k long, v string"
    monkeypatch.setattr(snapstore, "CODEC", "snappy")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], schema))
    t.append_local(pd.DataFrame({"k": [3], "v": ["c"]}))
    old_files = list(t.current_files())
    assert _codecs(old_files) == {"SNAPPY"}
    base = t.snapshot_id
    monkeypatch.undo()

    t.append(spark.createDataFrame([(4, "d"), (5, "e")], schema))
    t.append_local(pd.DataFrame({"k": [6], "v": ["f"]}))
    new_files = [f for f in t.current_files() if f not in old_files]
    assert _codecs(new_files) == {"ZSTD"}
    assert sorted(r["k"] for r in t.read(spark).collect()) == [
        1, 2, 3, 4, 5, 6]
    delta = t.read_changes(spark, base)
    assert sorted((r["k"], r["v"]) for r in delta.collect()) == [
        (4, "d"), (5, "e"), (6, "f")]

    assert t.compact(spark, target_file_bytes=1 << 30) is not None
    assert _codecs(t.current_files()) == {"ZSTD"}
    assert sorted(r["k"] for r in t.read(spark).collect()) == [
        1, 2, 3, 4, 5, 6]
    t.delete_where("k = 1", spark)
    assert _codecs(t.current_files()) == {"ZSTD"}
    assert sorted(r["k"] for r in t.read(spark).collect()) == [2, 3, 4, 5, 6]
