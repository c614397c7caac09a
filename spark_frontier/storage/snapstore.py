"""Snapshot-manifest table format: Iceberg semantics over plain parquet.

The sandbox has no Iceberg runtime jar, so this module provides the subset
of Iceberg behavior the engine needs — atomic snapshot commits, MERGE-style
upsert, row-level DELETE, and resume-from-last-committed-snapshot — as a
small manifest layer over parquet files. On a real cluster the same call
sites map directly onto Iceberg SQL:

    SnapTable.append(df)          -> df.writeTo(tbl).append()
    SnapTable.merge(df, keys)     -> MERGE INTO tbl USING batch ON keys ...
    SnapTable.delete_where(pred)  -> DELETE FROM tbl WHERE pred
    SnapTable.read(spark)         -> spark.read.format("iceberg").load(tbl)
    SnapTable.snapshot_id         -> Iceberg snapshot id (time travel/resume)

Layout per table::

    <root>/<name>/
        data/<snapshot-id>/part-*.parquet     immutable data files
        snapshots/<snapshot-id>.json          manifest: file list + summary
        HEAD                                  current snapshot id (atomic swap)

A commit writes new data files, writes the manifest, then atomically
replaces HEAD (``os.replace``). Readers only ever see a fully committed
snapshot; a killed writer leaves HEAD untouched, so resume = read HEAD.
The ``summary`` dict on each snapshot carries per-batch lineage counters
(the north_rule's "per-partition fetch lineage + counters checkpoint").

Scale note: ``merge``/``delete_where`` here rewrite the table
copy-on-write, which is exactly Iceberg's COW mode; at 10^10-row frontier
scale you would flip the real Iceberg table to merge-on-read (positional
deletes) — the call sites do not change.

Codec: every data file SnapStore writes — Spark commits, rewrites and
the driver-local pyarrow rows — is zstd (``CODEC``), Iceberg's default
``write.parquet.compression-codec``. Parquet records the codec per
column chunk, so files written with another codec stay readable beside
them, and any rewrite converts them.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

# zstd, not snappy: the wave's fetch_log rows are most of a cycle's
# bytes, and their URL strings and the bloom bitmap need entropy coding,
# which snappy lacks. Measured against snappy on 4 CPUs, the column
# chunks one crawl_fresh cycle adds (perfbench world, seed 1): 458 →
# 358 KB in all (url and canon_url 77 → 46 KB each, the bloom bitmap
# 60 → 39 KB; url_key, 113 KB, does not shrink). A 10k-doc funnel's
# corpus_docs: 4.06 → 2.18 MB. The wave's write was no slower (2.04 →
# 1.64 s, one traced cycle each, when fetch_log still stored url_hash).
CODEC = "zstd"


class SnapTable:
    def __init__(self, root: str, name: str):
        self.path = os.path.join(root, name)
        self.name = name
        os.makedirs(os.path.join(self.path, "data"), exist_ok=True)
        os.makedirs(os.path.join(self.path, "snapshots"), exist_ok=True)

    # -- snapshot bookkeeping -------------------------------------------------

    @property
    def _head_path(self) -> str:
        return os.path.join(self.path, "HEAD")

    @property
    def snapshot_id(self) -> str | None:
        try:
            with open(self._head_path) as f:
                return f.read().strip() or None
        except FileNotFoundError:
            return None

    def _manifest(self, snapshot_id: str) -> dict:
        with open(os.path.join(self.path, "snapshots", f"{snapshot_id}.json")) as f:
            return json.load(f)

    def current_files(self) -> list[str]:
        sid = self.snapshot_id
        if sid is None:
            return []
        return self._manifest(sid)["files"]

    def summary(self) -> dict:
        sid = self.snapshot_id
        return {} if sid is None else self._manifest(sid).get("summary", {})

    def history(self) -> list[dict]:
        """Snapshot lineage, oldest first (Iceberg's snapshots metadata table)."""
        out, sid = [], self.snapshot_id
        while sid is not None:
            m = self._manifest(sid)
            out.append({"snapshot_id": sid, "summary": m.get("summary", {}),
                        "ts": m.get("ts"), "parent": m.get("parent")})
            sid = m.get("parent")
        return list(reversed(out))

    # -- commits --------------------------------------------------------------

    def _write_files(self, df: DataFrame, snapshot_id: str,
                     small: bool = False) -> list[str]:
        out_dir = os.path.join(self.path, "data", snapshot_id)
        if small:
            df = df.coalesce(1)  # state tables: one file beats N tiny files
        df.write.mode("overwrite").option("compression", CODEC).parquet(
            out_dir
        )
        return sorted(
            os.path.join(out_dir, f)
            for f in os.listdir(out_dir)
            if f.endswith(".parquet")
        )

    def _commit(self, files: list[str], summary: dict | None) -> str:
        sid = f"{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
        manifest = {
            "snapshot_id": sid,
            "parent": self.snapshot_id,
            "ts": time.time(),
            "files": files,
            "summary": summary or {},
        }
        mpath = os.path.join(self.path, "snapshots", f"{sid}.json")
        with open(mpath, "w") as f:
            json.dump(manifest, f)
        tmp = self._head_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(sid)
        os.replace(tmp, self._head_path)  # the atomic commit point
        return sid

    def append(self, df: DataFrame, summary: dict | None = None,
               small: bool = False) -> str:
        sid = f"{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
        new_files = self._write_files(df, sid, small=small)
        return self._commit(self.current_files() + new_files, summary)

    def append_files(self, df: DataFrame, summary: dict | None = None,
                     small: bool = False) -> list[str]:
        """Append and return THIS commit's data files — for
        materialize-to-sink call sites that re-read exactly the rows
        they just computed (the write job doubles as the wave's
        materialization barrier, so no separate checkpoint + rewrite)."""
        sid = f"{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
        new_files = self._write_files(df, sid, small=small)
        self._commit(self.current_files() + new_files, summary)
        return new_files

    def append_shared_files(self, files: list[str],
                            where: str | None = None,
                            columns: list[str] | None = None,
                            summary: dict | None = None) -> str:
        """METADATA-ONLY append: register data files another table
        already wrote, viewed through an optional row predicate and
        column projection (Iceberg's ``add_files`` + a merge-on-read
        validity predicate). The crawl cycle uses this to commit the
        links table as a (is_valid, LINK_VIEW) view of the wave's
        fetch-lineage files — the commit is a manifest write, so the
        cycle's tail no longer re-serializes every wave row a second
        time. Readers apply the predicate/projection at scan time
        (parquet column pruning makes the projection free; the filter is
        one codegen comparison per row).

        ``where`` is a SQL predicate and each of ``columns`` a SQL
        expression, so a view may derive a column instead of storing it
        (``"sha2(url, 256) AS url_hash"``); the optimizer prunes a
        derived column that a reader does not select. A rewrite of the
        table (``compact``, ``delete_where``, ``merge``) stores the
        derived values physically.

        Ownership note: SnapStore never physically deletes data files
        (rewrite commits leave prior files for time travel), so shared
        references cannot dangle. A real Iceberg deployment would pin
        the source table's snapshots or copy manifests, as add_files
        does."""
        entries = [
            {"path": p, "where": where, "columns": columns} for p in files
        ]
        return self._commit(self.current_files() + entries, summary)

    def _write_files_local(self, pdf, snapshot_id: str) -> list[str]:
        """Driver-local parquet write via pyarrow — for tiny state/metrics
        tables (a crawl-log row, the sites watermark) a full Spark write
        job is 1-2 s of pure scheduling overhead per commit; this is ~1 ms.
        On a real cluster this is the Iceberg client committing a tiny
        data file directly, same semantics."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        out_dir = os.path.join(self.path, "data", snapshot_id)
        os.makedirs(out_dir, exist_ok=True)
        p = os.path.join(out_dir, "part-00000.parquet")
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False), p,
            coerce_timestamps="us", allow_truncated_timestamps=True,
            compression=CODEC,
        )
        return [p]

    def append_local(self, pdf, summary: dict | None = None) -> str:
        """Append a driver-local pandas frame as one commit (no Spark job)."""
        sid = f"{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
        files = self._write_files_local(pdf, sid)
        return self._commit(self.current_files() + files, summary)

    def overwrite_local(self, pdf, summary: dict | None = None) -> str:
        sid = f"{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
        return self._commit(self._write_files_local(pdf, sid), summary)

    def overwrite(self, df: DataFrame, summary: dict | None = None,
                  small: bool = False) -> str:
        sid = f"{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
        return self._commit(self._write_files(df, sid, small=small), summary)

    def commit_same_files(self, summary: dict | None = None) -> str:
        """METADATA-ONLY commit: a new snapshot pointing at the current
        file list with a fresh summary (Iceberg's properties-only /
        snapshot-summary commit). The crawl cycle uses this to record a
        deferred host-state fold marker without rewriting the unchanged
        base table — the commit is one manifest write, no Spark job."""
        return self._commit(list(self.current_files()), summary)

    def merge(
        self,
        batch: DataFrame,
        key_cols: list[str],
        summary: dict | None = None,
        when_matched: str = "update",
    ) -> str:
        """MERGE INTO this table USING batch ON key_cols.

        ``when_matched='update'``: matched rows are replaced by the batch row
        (reference upsert-on-url_hash, repository.py:323-350 semantics).
        ``when_matched='ignore'``: insert-only when not matched.
        Copy-on-write rewrite; batch must be deduped on key_cols by caller.
        """
        spark = batch.sparkSession
        current = self.read(spark)
        if current is None:
            return self.overwrite(batch, summary)
        if when_matched == "update":
            kept = current.join(batch.select(*key_cols), on=key_cols, how="left_anti")
            merged = kept.unionByName(batch)
        else:  # insert-only
            new_rows = batch.join(
                current.select(*key_cols), on=key_cols, how="left_anti"
            )
            merged = current.unionByName(new_rows)
        return self.overwrite(merged, summary)

    def compact(self, spark: SparkSession,
                target_file_bytes: int = 128 << 20,
                summary: dict | None = None) -> str | None:
        """Bin-pack the current data files into ~target-sized files
        (Iceberg's ``rewrite_data_files`` / OPTIMIZE). Append-heavy
        tables accumulate one file set per commit; at 100 TB the scan's
        task count — and the driver's file-listing memory — track file
        count, so periodic compaction is table maintenance, not an
        optimization. Data-identical by construction: one ``coalesce``
        (no shuffle) rewrite, committed as a new snapshot; prior
        snapshots keep their immutable files for time travel until
        retention cleanup. Carries the previous summary forward (bloom
        metadata and friends must survive maintenance). Returns the new
        snapshot id, or None when a rewrite would not reduce the file
        count."""
        files = self.current_files()
        if len(files) <= 1:
            return None
        paths = [e["path"] if isinstance(e, dict) else e for e in files]
        total = sum(os.path.getsize(p) for p in paths)
        n_out = max(1, -(-total // max(target_file_bytes, 1)))
        if n_out >= len(files):
            return None
        # _entries_to_df applies shared-entry predicates/projections, so
        # compaction also REWRITES shared views into owned files
        df = self._entries_to_df(spark, files).coalesce(n_out)
        merged = {**self.summary(), "op": "compact",
                  "files_in": len(files), "files_out": n_out,
                  **(summary or {})}
        return self.overwrite(df, merged)

    def delete_where(self, condition: str, spark: SparkSession,
                     summary: dict | None = None) -> str:
        """DELETE FROM tbl WHERE condition (row-level delete, COW rewrite)."""
        current = self.read(spark)
        if current is None:
            return self.snapshot_id or ""
        return self.overwrite(current.filter(f"NOT ({condition})"), summary)

    # -- reads ----------------------------------------------------------------

    @staticmethod
    def _entries_to_df(spark: SparkSession, entries: list) -> DataFrame:
        """Compose a DataFrame from manifest entries: plain paths scan
        as-is; shared entries ({path, where, columns}) scan grouped by
        their (where, columns) view with the predicate/projection
        applied. A view's columns are SQL expressions (``selectExpr``):
        a plain name selects the column, so manifests that hold only
        names read as before. All groups union by name, so every entry
        must resolve to the table's schema."""
        from collections import defaultdict

        plain = [e for e in entries if not isinstance(e, dict)]
        groups: dict = defaultdict(list)
        for e in entries:
            if isinstance(e, dict):
                key = (e.get("where"),
                       tuple(e.get("columns") or ()) or None)
                groups[key].append(e["path"])
        dfs = []
        if plain:
            dfs.append(spark.read.parquet(*plain))
        for (where, cols), paths in sorted(
            groups.items(), key=lambda kv: str(kv[0])
        ):
            df = spark.read.parquet(*paths)
            if where:
                df = df.filter(where)
            if cols:
                df = df.selectExpr(*cols)
            dfs.append(df)
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def read(self, spark: SparkSession) -> DataFrame | None:
        files = self.current_files()
        if not files:
            return None
        return self._entries_to_df(spark, files)

    def read_at(self, spark: SparkSession, snapshot_id: str
                ) -> DataFrame | None:
        """Time-travel read (Iceberg's VERSION AS OF): any retained
        snapshot's manifest still lists its immutable data files, so the
        read is just that file list — no state reconstruction."""
        files = self._manifest(snapshot_id).get("files", [])
        if not files:
            return None
        return self._entries_to_df(spark, files)

    def read_changes(self, spark: SparkSession, since_snapshot: str,
                     ) -> DataFrame | None:
        """Incremental scan (Iceberg's ``incremental read`` /
        ``table_changes``): the rows added by APPEND commits after
        ``since_snapshot``, up to HEAD — the natural source for a
        downstream consumer that processes each crawl cycle's new links
        exactly once without rescanning the table. Appends only add
        files, so the delta is the file-list difference; a rewrite
        commit (overwrite / merge / delete / compact) in the range
        invalidates that equivalence, and this raises rather than
        double-count — exactly Iceberg's behavior on non-append
        snapshots. Returns None when no files were added."""
        lineage = self.history()
        sids = [h["snapshot_id"] for h in lineage]
        if since_snapshot not in sids:
            raise ValueError(
                f"{since_snapshot} is not an ancestor of HEAD for "
                f"{self.name}"
            )

        def _canon(entries):
            # dict entries aren't hashable; canonical JSON keys make the
            # append-only set arithmetic work for shared entries too
            return {
                json.dumps(e, sort_keys=True) if isinstance(e, dict)
                else e: e
                for e in entries
            }

        base = _canon(self._manifest(since_snapshot).get("files", []))
        new_entries: list = []
        for h in lineage[sids.index(since_snapshot) + 1:]:
            cur = _canon(self._manifest(h["snapshot_id"]).get("files", []))
            if not set(base) <= set(cur):
                raise ValueError(
                    f"snapshot {h['snapshot_id']} of {self.name} rewrote "
                    "data files (overwrite/merge/delete/compact); "
                    "incremental read is append-only"
                )
            new_entries.extend(
                cur[k] for k in sorted(set(cur) - set(base))
            )
            base = cur
        if not new_entries:
            return None
        return self._entries_to_df(spark, new_entries)

    def rollback(self, snapshot_id: str) -> str:
        """Atomic HEAD swap back to an ancestor snapshot (Iceberg's
        rollback_to_snapshot). The abandoned snapshots' manifests and
        files stay on disk until retention cleanup, exactly like
        Iceberg's unexpired snapshots."""
        if snapshot_id not in {h["snapshot_id"] for h in self.history()}:
            raise ValueError(
                f"{snapshot_id} is not an ancestor of HEAD for "
                f"{self.name}"
            )
        tmp = self._head_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(snapshot_id)
        os.replace(tmp, self._head_path)
        return snapshot_id

    def expire_snapshots(self, keep_last: int = 10) -> list[str]:
        """Iceberg ``expire_snapshots``: retain the newest ``keep_last``
        snapshots on the HEAD lineage, delete every older manifest —
        lineage ancestors beyond the window plus rollback-abandoned
        branches older than the retained window — and cut the oldest
        retained manifest's parent pointer so history() stays walkable.

        Data files are NOT touched here: ``SnapStore.gc_orphans()`` is
        the ``remove_orphan_files`` half, and it must see every table's
        retained manifests before deleting anything (shared-file appends
        make file references cross-table).

        This bounds metadata growth for a continuous crawl — a cycle is
        O(few) commits per state table, so an unbounded snapshots/ dir
        is a real leak at 10^5 cycles. ``read_changes()`` across an
        expired boundary raises ValueError, which every caller already
        treats as rebuild-from-scratch (the bloom provenance
        discipline); ``read_at()`` on an expired id fails like Iceberg's
        VERSION AS OF on an expired snapshot."""
        keep_last = max(1, keep_last)
        head = self.snapshot_id
        if head is None:
            return []
        chain, sid = [], head
        while sid is not None:
            m = self._manifest(sid)
            chain.append((sid, m))
            sid = m.get("parent")
        retained = [s for s, _ in chain[:keep_last]]
        if len(chain) > keep_last:
            # cut the lineage at the oldest retained snapshot (atomic
            # manifest rewrite, same os.replace discipline as HEAD)
            cut_sid, cut_m = chain[keep_last - 1]
            cut_m = dict(cut_m, parent=None)
            mpath = os.path.join(self.path, "snapshots", f"{cut_sid}.json")
            tmp = mpath + ".tmp"
            with open(tmp, "w") as f:
                json.dump(cut_m, f)
            os.replace(tmp, mpath)
        oldest_keep_ts = min(
            (m.get("ts") or 0) for _, m in chain[:keep_last]
        )
        on_chain = {s for s, _ in chain}
        dropped = []
        sdir = os.path.join(self.path, "snapshots")
        for fn in sorted(os.listdir(sdir)):
            if not fn.endswith(".json"):
                continue
            sid = fn[:-len(".json")]
            if sid in retained:
                continue
            if sid not in on_chain:
                # rollback-abandoned branch: expire only once it ages
                # out of the retained window (Iceberg keeps unexpired
                # snapshots reachable for time travel)
                try:
                    with open(os.path.join(sdir, fn)) as f:
                        ts = json.load(f).get("ts") or 0
                except (OSError, ValueError):
                    continue
                if ts >= oldest_keep_ts:
                    continue
            try:
                os.remove(os.path.join(sdir, fn))
            except FileNotFoundError:
                continue
            dropped.append(sid)
        return dropped

    def exists(self) -> bool:
        return self.snapshot_id is not None


class SnapStore:
    """A directory of SnapTables (the engine's warehouse/catalog)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def table(self, name: str) -> SnapTable:
        return SnapTable(self.root, name)

    def table_names(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d, "snapshots"))
        )

    def gc_orphans(self) -> list[str]:
        """Iceberg ``remove_orphan_files``: delete data-file directories
        under every table's ``data/`` that NO remaining manifest of ANY
        table references. Store-level on purpose — ``append_shared_files``
        registers one table's physical files into another table's
        manifest (the links table is a view of fetch_log lineage files),
        so per-table GC would delete files a sibling still reads.
        ``pending_fold`` markers in snapshot summaries pin their fold
        input files too.

        Granularity is a whole commit directory ``data/<snapshot>/``:
        it is removed only when none of its parquet files are referenced
        (co-located _SUCCESS/.crc markers go with it); a partially
        referenced directory is left intact — conservative, like
        Iceberg's orphan-file action. Run after ``expire_snapshots`` on
        the tables being reclaimed."""
        import shutil

        referenced: set[str] = set()
        names = self.table_names()
        for name in names:
            sdir = os.path.join(self.root, name, "snapshots")
            for fn in os.listdir(sdir):
                if not fn.endswith(".json"):
                    continue
                try:
                    with open(os.path.join(sdir, fn)) as f:
                        m = json.load(f)
                except (OSError, ValueError):
                    continue
                for e in m.get("files", []):
                    p = e["path"] if isinstance(e, dict) else e
                    referenced.add(os.path.realpath(p))
                pf = (m.get("summary") or {}).get("pending_fold") or {}
                for p in pf.get("files", []):
                    referenced.add(os.path.realpath(p))
        removed: list[str] = []
        for name in names:
            ddir = os.path.join(self.root, name, "data")
            if not os.path.isdir(ddir):
                continue
            for snap_dir in sorted(os.listdir(ddir)):
                full = os.path.join(ddir, snap_dir)
                if not os.path.isdir(full):
                    continue
                parquets = [
                    os.path.join(full, f) for f in os.listdir(full)
                    if f.endswith(".parquet")
                ]
                if parquets and all(
                    os.path.realpath(p) not in referenced for p in parquets
                ):
                    shutil.rmtree(full, ignore_errors=True)
                    removed.extend(parquets)
        return removed

    def expire_and_gc(self, keep_last: int = 10) -> dict:
        """Store maintenance pass: expire every table's snapshot history
        to ``keep_last``, then remove newly orphaned data files. The
        jobs CLI exposes this as ``--expire-keep-last`` alongside the
        TTL cleanup."""
        expired = {
            name: self.table(name).expire_snapshots(keep_last)
            for name in self.table_names()
        }
        removed = self.gc_orphans()
        return {
            "expired": {k: len(v) for k, v in expired.items() if v},
            "data_files_removed": len(removed),
        }
