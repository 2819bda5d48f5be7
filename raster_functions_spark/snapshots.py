"""Iceberg-like snapshot table layout over parquet (from scratch).

BASELINE.json frames the input as an Iceberg-style image table; this module
re-expresses the parts of that contract the engine needs, with no table-
format library:

- **immutable data files** — every commit writes NEW parquet files under
  ``data/snap-<id>-<token>/``; existing files are never modified;
- **manifests** — each snapshot's live file list lives in its own
  ``metadata/manifest-<id>.json`` (file path, partition value, row count),
  so the root pointer stays O(#snapshots);
- **snapshot log + time travel** — ``metadata.json`` records the snapshot
  chain (id, parent, operation, run id, summary); ``read(snapshot_id=…)``
  reconstructs any historical state;
- **append** — new snapshot = parent's live files + the new files;
- **overwrite by partition filter** — files are written one-per-partition-
  value (the partition column is duplicated into the directory layout AND
  kept in the data), so ``overwrite_partitions`` is a metadata-only drop
  of the replaced values' files plus the new files — Iceberg's
  overwrite-by-filter for partition-aligned predicates;
- **incremental reads** — ``read_incremental(since)`` scans only files
  ADDED by snapshots after ``since`` (the streaming-backfill contract);
- **idempotent commits** — an ``append``/``overwrite`` that re-runs with a
  ``run_id`` already in the log is a no-op, so a restarted job cannot
  double-commit (checkpoint-resume; see also lineage.checkpointed_write,
  the bucket-level resume for a single giant write).

Commit protocol: write data files first, then the manifest, then swap the
root pointer via the same atomic create+rename used by lineage._write_manifest
— a reader never observes a snapshot whose files are incomplete. Single
writer assumed (the reference deployment serializes commits per table).
All filesystem access goes through the Hadoop FS API, so the layout works
on object stores, not just local disk.
"""

from __future__ import annotations

import json
import re
import time
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lineage import _hadoop_fs, _read_manifest_path, _write_json_atomic

ROOT = "metadata.json"

# sequential run-id shape "<prefix>-<n>" issued by the streaming loop
# (batch-<n>, compaction-<n>): expired ids fold into a per-prefix
# contiguous watermark range instead of one tombstone each
_SEQ_RUN_ID = re.compile(r"^(.*)-(\d+)$")
# prefixes whose watermark may JUMP over gaps: treating a never-committed
# id as replayed must be harmless (compaction ordinals skip a number when
# a cadence hit finds nothing to compact; "replaying" such an ordinal
# would only re-rewrite unchanged files)
_GAP_SAFE_PREFIXES = {"compaction"}


def _cadence(batch_id: int, every: int | None) -> int:
    """The streaming loop's one cadence rule (compaction, retention, HLL
    rollup): the contiguous ordinal k ≥ 1 when microbatch ``batch_id``
    closes the k-th run of ``every`` batches, else 0."""
    if not every or (batch_id + 1) % every:
        return 0
    return (batch_id + 1) // every


class SnapshotTable:
    """Handle to one snapshot table rooted at ``path``."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")

    # ------------------------------------------------------------ meta ----

    def _root(self) -> dict:
        m = _read_manifest_path(self.spark, f"{self.path}/{ROOT}")
        return m if m is not None else {"current": None, "partition_col": None,
                                        "snapshots": []}

    def _manifest(self, snap_id: int) -> list[dict]:
        m = _read_manifest_path(
            self.spark, f"{self.path}/metadata/manifest-{snap_id}.json")
        if m is None:
            raise ValueError(f"missing manifest for snapshot {snap_id}")
        return m["files"]

    @property
    def current_id(self) -> int | None:
        return self._root()["current"]

    def snapshots(self) -> list[dict]:
        return self._root()["snapshots"]

    def _find_run(self, root: dict, run_id: str | None):
        if run_id is None:
            return None
        for s in root["snapshots"]:
            if s.get("run_id") == run_id:
                return s
        # expired commits must still short-circuit a late replay
        # (exactly-once survives retention). Sequential run-ids
        # ("<prefix>-<n>", the shape every streaming sink issues) are
        # covered by a per-prefix contiguous watermark range — O(#sinks)
        # root cost on an infinite stream; non-sequential or out-of-order
        # ids fall back to exact per-id tombstones.
        m = _SEQ_RUN_ID.match(run_id)
        if m:
            wm = (root.get("expired_seq_watermarks") or {}).get(m.group(1))
            if wm is not None and wm["lo"] <= int(m.group(2)) <= wm["hi"]:
                # the per-run snapshot id is gone with the tombstone; the
                # newest expired snap id of the prefix stands in (callers
                # only use it as "some already-committed snapshot")
                return {"id": wm["hi_snap"]}
        tomb = root.get("expired_run_ids") or {}
        if run_id in tomb:
            return {"id": tomb[run_id]}
        return None

    # ----------------------------------------------------------- write ----

    def _write_data(self, df: DataFrame, pcol: str, snap_id: int,
                    sub: str | None = None) -> list[dict]:
        token = uuid.uuid4().hex[:12]
        rel = f"data/snap-{snap_id}-{token}"
        if sub is not None:
            rel = f"{rel}/{sub}"
        ddir = f"{self.path}/{rel}"
        # duplicate the partition column into the directory layout: data
        # files keep every column; the dir name gives the per-file value,
        # making value-aligned overwrites metadata-only
        (df.withColumn("_p", F.col(pcol).cast("string"))
           .write.mode("error").partitionBy("_p").parquet(ddir))
        fs, Path = _hadoop_fs(self.spark, self.path)

        def list_parquet():
            files = []
            it = fs.listFiles(Path(ddir), True)
            while it.hasNext():
                st = it.next()
                p = st.getPath().toString()
                if not p.endswith(".parquet"):
                    continue
                part = None
                for seg in p.split("/"):
                    if seg.startswith("_p="):
                        # Hive-escapes (%3A etc) are a PATH encoding —
                        # the manifest stores the RAW value so every
                        # comparison (overwrite values, partition_values
                        # pruning, compact grouping) sees what str(v)
                        # produces, not the escaped directory name
                        part = unquote(seg[3:])
                entry = {"path": f"{rel}/" + p.split(rel + "/", 1)[1],
                         "partition": part, "bytes": int(st.getLen())}
                if sub is not None:
                    entry["table"] = sub
                files.append(entry)
            return sorted(files, key=lambda f: f["path"])

        files = list_parquet()
        if not files:
            # EMPTY dataset: partitionBy writes no part files at all, which
            # would make the committed table unreadable (read() resolves
            # zero files → error) even though the commit is legitimate —
            # e.g. a flagship microbatch whose images intersect no AOI.
            # Write one zero-row non-partitioned file so the schema
            # materializes; _p rides along as a real (all-null) column and
            # read()'s drop("_p") removes it.
            (df.withColumn("_p", F.col(pcol).cast("string"))
               .coalesce(1).write.mode("append").parquet(ddir))
            files = list_parquet()
        return files

    @staticmethod
    def _table_of(path: str) -> str | None:
        """Sub-table name from a data-file path. Layout is
        ``data/snap-<id>-<token>[/<name>]/_p=<val>/part-*.parquet`` — the
        segment after the snap dir is either the partition dir (default
        single-table layout → None) or the named dataset."""
        segs = path.split("/")
        for i, s in enumerate(segs):
            if s.startswith("snap-"):
                nxt = segs[i + 1]
                # a default-layout EMPTY commit writes its zero-row
                # fallback file directly under the snap dir (no _p= dir) —
                # that is the default table, not a dataset named part-*
                if nxt.startswith("_p=") or nxt.endswith(".parquet"):
                    return None
                return nxt
        return None

    def _commit(self, op: str, added: list[dict], live: list[dict],
                pcol: str, run_id: str | None, summary: dict,
                root: dict | None = None) -> int:
        # callers that already read the root pass it through — the root
        # read is py4j+JSON and costs ~0.1-0.2s per microbatch commit
        # (single writer assumed, so the passed copy cannot be stale)
        root = root if root is not None else self._root()
        snap_id = (root["current"] or 0) + 1
        _write_json_atomic(self.spark, f"{self.path}/metadata",
                           f"manifest-{snap_id}.json",
                           {"snapshot": snap_id, "files": live})
        root["partition_col"] = root.get("partition_col") or pcol
        root["snapshots"].append({
            "id": snap_id, "parent": root["current"], "op": op,
            "run_id": run_id, "at": time.time(),
            "added": [f["path"] for f in added], "summary": summary})
        root["current"] = snap_id
        _write_json_atomic(self.spark, self.path, ROOT, root)
        return snap_id

    def append(self, df: DataFrame, partition_col: str,
               run_id: str | None = None) -> int:
        """Commit a new snapshot = parent files + df's files. Re-running
        with an already-committed run_id is a no-op (restart safety)."""
        root = self._root()
        prior = self._find_run(root, run_id)
        if prior is not None:
            return prior["id"]
        next_id = (root["current"] or 0) + 1
        added = self._write_data(df, partition_col, next_id)
        live = (self._manifest(root["current"]) if root["current"] else []) + added
        return self._commit("append", added, live, partition_col, run_id,
                            {"added_files": len(added)}, root=root)

    def append_tables(self, named: dict[str, tuple[DataFrame, str]],
                      run_id: str | None = None) -> int:
        """ONE atomic commit spanning several named datasets (e.g. a
        materialized view's partial aggregates AND its dedup pairs): all
        datasets' files land under this snapshot's data dir (one
        sub-directory per name), listed in a single manifest, published by
        a single root swap. A reader can never observe one dataset's batch
        without the other's, and a streaming sink pays one commit per
        microbatch instead of one per dataset. Same run_id no-op replay
        protection as :meth:`append`. All datasets must share the
        partition column (one per-table manifest keeps O(1) root cost)."""
        pcols = {p for _, p in named.values()}
        if len(pcols) != 1:
            raise ValueError(f"append_tables needs one partition col, got {pcols}")
        pcol = pcols.pop()
        root = self._root()
        prior = self._find_run(root, run_id)
        if prior is not None:
            return prior["id"]
        next_id = (root["current"] or 0) + 1
        added: list[dict] = []
        for name in sorted(named):
            # reject anything that could escape the snap dir ("..", path
            # separators), collide with the partition-dir convention, or
            # be misclassified by _table_of (trailing .parquet)
            if (not name or "/" in name or "\\" in name or ".." in name
                    or name.startswith("_p=") or name.endswith(".parquet")):
                raise ValueError(f"bad dataset name {name!r}")
            added.extend(self._write_data(named[name][0], pcol, next_id,
                                          sub=name))
        live = (self._manifest(root["current"]) if root["current"] else []) + added
        return self._commit("append", added, live, pcol, run_id,
                            {"added_files": len(added),
                             "tables": sorted(named)}, root=root)

    def overwrite_partitions(self, df: DataFrame, values: list,
                             run_id: str | None = None) -> int:
        """Overwrite-by-filter for a partition-aligned predicate: drop every
        live file whose partition value ∈ values (metadata only — the old
        files stay immutable for time travel), then add df's files. df must
        contain only the replaced values (validated with a bounded probe)."""
        root = self._root()
        prior = self._find_run(root, run_id)
        if prior is not None:
            return prior["id"]
        pcol = root.get("partition_col")
        if pcol is None:
            raise ValueError("overwrite_partitions on an empty table — append first")
        vals = {str(v) for v in values}
        # NULL pcol is always stray (it can never be a replaced value):
        # ~isin() alone evaluates to NULL for NULL rows and would let
        # them slip past the probe into __HIVE_DEFAULT_PARTITION__
        stray = (df.filter(F.col(pcol).isNull()
                           | ~F.col(pcol).cast("string").isin(list(vals)))
                 .limit(1).count())
        if stray:
            raise ValueError("overwrite df contains rows outside the replaced partitions")
        next_id = (root["current"] or 0) + 1
        added = self._write_data(df, pcol, next_id)
        kept = [f for f in self._manifest(root["current"])
                if f["partition"] not in vals]
        return self._commit("overwrite", added, kept + added, pcol, run_id,
                            {"replaced_values": sorted(vals),
                             "added_files": len(added)}, root=root)

    # ------------------------------------------------------------ read ----

    def _read_files(self, files: list[str]) -> DataFrame:
        if not files:
            raise ValueError("snapshot has no data files")
        return (self.spark.read.parquet(*[f"{self.path}/{f}" for f in files])
                .drop("_p"))

    def read(self, snapshot_id: int | None = None,
             table: str | None = None,
             partition_values: list[str] | None = None) -> DataFrame:
        """Scan the table at a snapshot (default: current) — time travel.
        ``table`` selects one named dataset of an append_tables commit
        (None = the default single-table layout). ``partition_values``
        prunes at the MANIFEST level: only files whose partition value is
        in the list are opened (the snapshot-table form of partition
        pruning — a value-aligned predicate never touches other values'
        files). Zero-row fallback files (partition=None) are kept so an
        empty selection still materializes the schema."""
        snap = snapshot_id if snapshot_id is not None else self.current_id
        if snap is None:
            raise ValueError("empty table")
        all_files = [f for f in self._manifest(snap) if f.get("table") == table]
        files = all_files
        if partition_values is not None:
            vals = {str(v) for v in partition_values}
            files = [f for f in files
                     if f["partition"] is None or f["partition"] in vals]
            if not files and all_files:
                # pruned everything away (e.g. every probed IVF list is
                # empty): an empty frame with the table's schema, not a
                # zero-path read error
                return self._read_files([all_files[0]["path"]]).limit(0)
        return self._read_files([f["path"] for f in files])

    def read_incremental(self, since_snapshot_id: int,
                         until_snapshot_id: int | None = None,
                         table: str | None = None) -> DataFrame:
        """Rows ADDED by snapshots in (since, until] — the incremental
        backfill scan. Touches only the added files, never the full table."""
        root = self._root()
        hi = until_snapshot_id if until_snapshot_id is not None else root["current"]
        # retention guard: snapshot ids are contiguous, so a consumer whose
        # checkpoint predates the oldest retained log entry would silently
        # miss the EXPIRED snapshots' rows — refuse instead (the consumer
        # must full-rescan), mirroring how read() of an expired snapshot
        # fails loudly on its missing manifest
        if root["snapshots"]:
            oldest = root["snapshots"][0]["id"]
            if since_snapshot_id + 1 < oldest and since_snapshot_id < hi:
                raise ValueError(
                    f"incremental range ({since_snapshot_id}, {hi}] predates "
                    f"retention (oldest retained snapshot: {oldest}) — rows "
                    "from expired snapshots are gone from the log; re-read "
                    "the full table instead")
        files: list[str] = []
        for s in root["snapshots"]:
            # compaction rewrites EXISTING rows into fewer files — its
            # "added" files carry no new data, so incremental consumers
            # must skip them (Iceberg's replace-commit semantics)
            if since_snapshot_id < s["id"] <= hi and s["op"] != "compact":
                files.extend(p for p in s["added"]
                             if self._table_of(p) == table)
        if not files:
            # a legitimate empty range (e.g. the selected named dataset
            # got nothing in these snapshots) yields an EMPTY frame with
            # the table's schema, taken from the current snapshot's live
            # files. When the dataset has never had a data file, there
            # is no schema source — fail with a descriptive error rather
            # than the opaque zero-path read (polling consumers should
            # start only after the producer's first commit)
            live = [f["path"] for f in self._manifest(root["current"])
                    if f.get("table") == table] if root["current"] else []
            if live:
                return self._read_files(live).limit(0)
            raise ValueError(
                f"read_incremental: dataset {table!r} has no data files "
                "yet (no schema to shape an empty result); wait for the "
                "producer's first commit")
        return self._read_files(files)

    # --------------------------------------------------------- streaming --

    def maintain(self, batch_id: int,
                 compact_every: int | None = None,
                 expire_every: int | None = None,
                 keep_last: int = 64) -> None:
        """The maintenance step the streaming loop (:meth:`microbatch_sink`)
        runs after every commit, on the :func:`_cadence` rule: small-file
        compaction every ``compact_every`` batches and log retention
        every ``expire_every`` batches. The compaction run_id is the
        contiguous ordinal compaction-<k>, so expired compactions fold
        into the retention watermark; its prefix differs from the pre-r6
        'compact-<batch_id>' scheme, so an ordinal never collides with a
        legacy run_id on an upgraded table."""
        k = _cadence(batch_id, compact_every)
        if k:
            self.compact(min_files_per_value=2, run_id=f"compaction-{k}")
        if _cadence(batch_id, expire_every):
            self.expire_snapshots(keep_last=keep_last)

    def microbatch_sink(self, commit, run_prefix: str = "batch",
                        compact_every: int | None = None,
                        expire_every: int | None = None,
                        keep_last: int = 64):
        """THE streaming loop: the foreachBatch function of every
        snapshot-backed ``start_*`` ingest. Per microbatch it forms
        ``run_id = <run_prefix>-<batch_id>``, calls the sink's own body
        ``commit(batch_df, run_id, batch_id)`` (which commits to this
        table under ``run_id``), then :meth:`maintain`. A retried
        microbatch is a no-op commit, so every sink is exactly-once: a
        mid-commit failure leaves only unreferenced files (reclaimed by
        expire_snapshots' orphan sweep), and a post-commit retry
        short-circuits on its run_id — expired batches included, via the
        retention watermark.

        CHECKPOINT IDENTITY: batch ids come from the streaming
        checkpoint. Starting a NEW query (fresh checkpoint dir) against a
        table a sink already wrote resets ids to 0, and the replay
        protection would then silently discard the new batches as
        replays of the old ones. Give each logical stream its own
        ``run_prefix`` (e.g. the query name) when a table can outlive
        its checkpoint — distinct prefixes never collide.

        RETENTION: every ``expire_every`` batches the log is truncated
        to ``keep_last`` snapshots, keeping the per-commit root rewrite
        O(keep_last); time travel and read_incremental then reach back
        at most keep_last commits, so size keep_last to the slowest
        downstream consumer's lag."""
        def sink(batch_df: DataFrame, batch_id: int) -> None:
            commit(batch_df, f"{run_prefix}-{batch_id}", batch_id)
            self.maintain(batch_id, compact_every, expire_every, keep_last)
        return sink

    @staticmethod
    def start_stream(stream: DataFrame, sink, checkpoint: str,
                     query_name: str):
        """Wire a :meth:`microbatch_sink` function to ``stream`` with the
        ``availableNow`` trigger; a restart resumes from ``checkpoint``."""
        return (stream.writeStream.foreachBatch(sink)
                .option("checkpointLocation", checkpoint)
                .queryName(query_name).trigger(availableNow=True).start())

    def streaming_sink(self, partition_col: str,
                       expire_every: int | None = None,
                       keep_last: int = 64,
                       compact_every: int | None = None,
                       run_prefix: str = "batch"):
        """One :meth:`append` per microbatch on the streaming loop
        (:meth:`microbatch_sink`). Downstream consumers use
        read_incremental to process exactly the newly committed rows."""
        return self.microbatch_sink(
            lambda df, run_id, _: self.append(df, partition_col, run_id=run_id),
            run_prefix, compact_every, expire_every, keep_last)

    def start_ingest(self, stream: DataFrame, partition_col: str,
                     checkpoint: str, query_name: str = "snapshot-ingest",
                     expire_every: int | None = None, keep_last: int = 64,
                     compact_every: int | None = None,
                     run_prefix: str = "batch"):
        """Wire a stream into this table (:meth:`streaming_sink`)."""
        return self.start_stream(
            stream, self.streaming_sink(partition_col, expire_every,
                                        keep_last, compact_every, run_prefix),
            checkpoint, query_name)

    # --------------------------------------------------------- maintain ----

    def compact(self, min_files_per_value: int = 2,
                run_id: str | None = None) -> int:
        """Small-file compaction: partition values whose live file count ≥
        ``min_files_per_value`` are rewritten into one file per value (a
        streaming sink committing per microbatch accretes one file set per
        batch — exactly the small-file problem Iceberg's rewrite_data_files
        addresses). Metadata-safe by construction:

        - old files stay immutable (time travel to pre-compact snapshots
          still works; expire_snapshots reclaims them later);
        - the commit is op='compact', which read_incremental SKIPS — the
          rewritten rows are not new data;
        - logical content is unchanged (same rows, fewer files);
        - values below the threshold keep their existing files untouched.

        Returns the new snapshot id (current id when nothing qualifies)."""
        root = self._root()
        prior = self._find_run(root, run_id)
        if prior is not None:
            return prior["id"]
        if root["current"] is None:
            raise ValueError("compact on an empty table")
        pcol = root["partition_col"]
        live = self._manifest(root["current"])
        # group by (named dataset, partition value) — datasets of an
        # append_tables commit have distinct schemas and compact separately
        by_key: dict[tuple, list[dict]] = {}
        for f in live:
            by_key.setdefault((f.get("table"), f["partition"]), []).append(f)
        targets = {k for k, fs in by_key.items()
                   if len(fs) >= min_files_per_value}
        if not targets:
            return root["current"]
        next_id = root["current"] + 1
        added: list[dict] = []
        n_src = 0
        for tname in sorted({t for t, _ in targets}, key=lambda x: (x is None, x)):
            vals = {v for t, v in targets if t == tname}
            src = [f["path"] for f in live
                   if f.get("table") == tname and f["partition"] in vals]
            n_src += len(src)
            df = (self._read_files(src)
                  .repartition(len(vals), F.col(pcol)))  # one file per value
            added.extend(self._write_data(df, pcol, next_id, sub=tname))
        kept = [f for f in live
                if (f.get("table"), f["partition"]) not in targets]
        return self._commit("compact", added, kept + added, pcol, run_id,
                            {"compacted_values": sorted(
                                # str(v): empty-commit fallback files have
                                # partition=None, which must not sort
                                # against str partitions (TypeError)
                                f"{t}/{v}" if t else str(v)
                                for t, v in targets),
                             "files_before": n_src,
                             "files_after": len(added)}, root=root)

    def expire_snapshots(self, keep_last: int = 1) -> list[str]:
        """Drop all but the newest ``keep_last`` snapshots and delete data
        files no longer referenced by any kept snapshot. Returns deleted
        file paths. Expired commits' run_ids must still short-circuit a
        late replay — without that, retention would reopen the
        double-commit window exactly-once closed.

        Replay protection is BOUNDED on an infinite stream (r6): a
        sequential run_id "<prefix>-<n>" folds into a per-prefix
        contiguous watermark range {lo, hi, hi_snap} — the one streaming
        loop (:meth:`microbatch_sink`) issues exactly that shape with n
        increasing by 1 per commit (<run_prefix>-<n> from foreachBatch's
        contiguous batch ids; compaction-<k> and the HLL sink's
        <run_prefix>-rollup-<k> from the :func:`_cadence` ordinal), so
        the root carries O(#sink prefixes) watermarks regardless of how
        many commits have ever expired. An id that does NOT extend its
        prefix's range contiguously (out-of-order replay mid-retention,
        hand-issued ids) keeps an exact per-id tombstone in
        ``expired_run_ids`` — the exception set, empty in normal
        streaming operation. Correctness of
        the watermark relies on the writer issuing prefix seqs
        monotonically, which is Structured Streaming's foreachBatch
        contract; arbitrary ad-hoc run_ids (no trailing -<n>) always take
        the exact-tombstone path. The 'compaction' prefix is GAP-SAFE:
        maintain()'s ordinal skips a number when a cadence hit finds
        nothing to compact (compact() no-ops without committing), and
        treating a never-committed compaction as "already done" merely
        skips a rewrite of unchanged data — so its watermark jumps gaps
        instead of degrading to per-id tombstones. Retention thereby
        bounds the heavy per-snapshot entries too (file lists, summaries)
        that otherwise make every commit an O(#commits) root rewrite
        (measured 1.4 MiB / ~200 ms per op at 10k commits —
        BENCH/notes_r5.md; watermark probe in notes_r6.md shows root size
        flat in total history).

        Uncommitted orphans are also swept: a crash between _write_data
        and _commit leaves a data/snap-<id>-<token> dir referenced by no
        manifest; any such dir whose embedded snapshot id is at or below
        the newest EXPIRED id (so no in-flight writer can still be about
        to commit it) and whose files appear in no kept manifest is
        deleted — without this, retries after mid-append crashes grow
        storage forever on a long-lived streaming table."""
        root = self._root()
        if len(root["snapshots"]) <= keep_last:
            return []
        kept = root["snapshots"][-keep_last:]
        dropped = root["snapshots"][:-keep_last]
        referenced: set[str] = set()
        for s in kept:
            referenced.update(f["path"] for f in self._manifest(s["id"]))
        fs, Path = _hadoop_fs(self.spark, self.path)
        deleted = []
        tomb = dict(root.get("expired_run_ids") or {})
        wms = {p: dict(w) for p, w in
               (root.get("expired_seq_watermarks") or {}).items()}
        for s in dropped:           # snapshot-id order = per-prefix seq order
            rid = s.get("run_id")
            if rid:
                m = _SEQ_RUN_ID.match(rid)
                if m:
                    p, n = m.group(1), int(m.group(2))
                    w = wms.get(p)
                    gap_safe = p in _GAP_SAFE_PREFIXES
                    if w is None:
                        wms[p] = {"lo": n, "hi": n, "hi_snap": s["id"]}
                    elif n == w["hi"] + 1 or (gap_safe and n > w["hi"]):
                        w["hi"], w["hi_snap"] = n, s["id"]
                    elif w["lo"] <= n <= w["hi"]:
                        pass        # already covered
                    else:           # gap: exact exception tombstone
                        tomb[rid] = s["id"]
                else:
                    tomb[rid] = s["id"]
            for rel in s["added"]:
                if rel not in referenced:
                    fs.delete(Path(f"{self.path}/{rel}"), False)
                    deleted.append(rel)
            fs.delete(Path(f"{self.path}/metadata/manifest-{s['id']}.json"), False)
        # orphan sweep: snap dirs never committed by any snapshot. The
        # safe set is the union of ALL kept manifests ("referenced") —
        # a dir added long ago can still be live, and time travel within
        # the kept window may reference dirs the newest manifest dropped
        newest_expired = dropped[-1]["id"]
        data_dir = Path(f"{self.path}/data")
        if fs.exists(data_dir):
            kept_dirs = {p.split("/")[1] for p in referenced}
            for st in fs.listStatus(data_dir):
                dname = st.getPath().getName()
                m = re.match(r"^snap-(\d+)-", dname)
                if (m and int(m.group(1)) <= newest_expired
                        and dname not in kept_dirs):
                    fs.delete(st.getPath(), True)
                    deleted.append(f"data/{dname}")
        root["snapshots"] = kept
        root["expired_run_ids"] = tomb
        root["expired_seq_watermarks"] = wms
        _write_json_atomic(self.spark, self.path, ROOT, root)
        return deleted
