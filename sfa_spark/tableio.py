"""TableIO — snapshot + lineage-manifest table layer (Iceberg-shaped).

The north rule requires Iceberg tables with snapshot checkpoints,
per-partition lineage manifests, and resume. This sandbox bundles no
Iceberg runtime jar (SURVEY.md §7.0 check: 0 of 287 jars) and has no
network to fetch one, so TableIO implements the same *semantics* over
parquet + JSON manifests, behind an interface an Iceberg-backed
implementation can satisfy drop-in:

  table root/
    snap-000001/              one directory per snapshot (immutable)
      <partition_col>=<pk>/part-*.parquet
    _manifests/
      snap-000001.json        {snapshot_id, parent, job, partition_col,
                               schema,
                               partitions: {pk: {path | paths, files,
                                                 bytes, rows}},
                               metrics}
    _current                  name of the live snapshot (atomic pointer)

``metrics`` carry forward across commits; each writer owns its keys.
A tier table's refresh keeps, per day, ``input_fp_by_day`` (content
fingerprint ``"rows:hashsum"`` of the consumed input),
``input_files_by_day`` (identity digest of the input files that
fingerprint was taken from) and ``rollup_rows_by_day``; the encoded
table keeps per bucket ``fp_by_bucket`` and ``encode_by_bucket``
({points, raw_bytes, enc_bytes}), plus ``input_files_digest`` of its
whole input. ``drop_partitions`` prunes every per-partition dict.

``rows`` is the partition's row count, summed from the parquet footers
of the files the write staged (no Spark job); a merged partition's
``rows`` is the sum over its ``paths``. A writer can ask for more
per-partition statistics of the staged files (``write_snapshot``'s
``partition_stats``: row counts and column min/max from the footers'
row-group statistics, column sums read with pyarrow) and keeps them in
its own ``metrics`` keys — e.g. ``rollup_rows_by_day`` of a tier table,
``encode_by_bucket`` of the encoded table, the per-prefix boxes
``mbrs`` of the word index. ``schema`` is the Spark schema of
the data files (every column but the partition column, all nullable, as
Spark reads them back): ``read`` hands it to the parquet reader, which
then runs no schema-inference job; the partition column's type is still
inferred from the directory names, which reads no file. A manifest without
``schema`` (committed before it was recorded, or with ``schema: null``
after writes of differing schemas shared the table) is read with
inference, and a partition without ``rows`` is one committed before row
counts were recorded.

Resume semantics: a writer lists the target snapshot's manifest, diffs
the partition keys it plans to produce against those already recorded,
and processes only the missing ones (`missing_partitions`). Commit is
atomic: data + manifest are fully written before `_current` flips.
"""

from __future__ import annotations

import contextlib
import fcntl
import functools
import json
import operator
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession


def _nullable(t):
    """A schema's ``jsonValue`` with every field, array element and map
    value nullable — the form Spark reads a parquet file back in."""
    if isinstance(t, list):
        return [_nullable(v) for v in t]
    if not isinstance(t, dict):
        return t
    out = {k: v if k == "metadata" else _nullable(v) for k, v in t.items()}
    for k in ("nullable", "containsNull", "valueContainsNull"):
        if k in out:
            out[k] = True
    return out


#: how two values of one statistic combine: over files, row groups, and
#: a merged partition's old and new files
_COMBINE = {"count": operator.add, "sum": operator.add, "min": min, "max": max}


def _parse_leaf(leaf: str) -> tuple[str, str]:
    """``"*"`` → ("count", "*"); ``"min(c0)"`` → ("min", "c0")."""
    if leaf == "*":
        return "count", "*"
    fn, col = leaf.rstrip(")").split("(", 1)
    if fn not in _COMBINE:
        raise ValueError(f"unknown partition statistic {leaf!r}")
    return fn, col


def _map_spec(spec, fn):
    """Apply ``fn`` to every leaf of a statistics spec (a leaf string, or
    a dict or list of specs), keeping the spec's shape."""
    if isinstance(spec, dict):
        return {k: _map_spec(v, fn) for k, v in spec.items()}
    if isinstance(spec, list):
        return [_map_spec(v, fn) for v in spec]
    return fn(spec)


def _merge_spec(spec, a, b):
    """Combine two values of ``spec``, leaf by leaf."""
    if isinstance(spec, dict):
        return {k: _merge_spec(v, a[k], b[k]) for k, v in spec.items()}
    if isinstance(spec, list):
        return [_merge_spec(v, x, y) for v, x, y in zip(spec, a, b)]
    return _COMBINE[_parse_leaf(spec)[0]](a, b)


def _leaf_value(files, leaf: str):
    """One statistic over open parquet files. ``count`` and ``min``/``max``
    come from the footers: the row counts and each row group's column
    statistics. A row group without a usable min/max for the column (no
    statistics, or a NaN bound) is read with pyarrow, that column only;
    so is every row group of a ``sum``."""
    import math

    import pyarrow.compute as pc

    fn, col = _parse_leaf(leaf)
    if fn == "count":
        return sum(f.metadata.num_rows for f in files)
    vals = []
    for f in files:
        md = f.metadata
        idx = [md.schema.column(j).path for j in range(md.num_columns)].index(col)
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            if rg.num_rows == 0:
                continue
            st = rg.column(idx).statistics
            if fn != "sum" and st is not None and st.has_min_max:
                v = getattr(st, fn)
                if not (isinstance(v, float) and math.isnan(v)):
                    vals.append(v)
                    continue
            arr = f.read_row_group(g, columns=[col]).column(0)
            v = pc.sum(arr) if fn == "sum" else pc.min_max(arr)[fn]
            if v.as_py() is not None:
                vals.append(v.as_py())
    return functools.reduce(_COMBINE[fn], vals) if vals else (0 if fn == "sum" else None)


class TableIO:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)

    # -- snapshot bookkeeping ------------------------------------------
    def current_snapshot(self) -> str | None:
        p = os.path.join(self.root, "_current")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return f.read().strip()

    def manifest(self, snapshot: str | None = None) -> dict | None:
        snap = snapshot or self.current_snapshot()
        if snap is None:
            return None
        p = os.path.join(self.root, "_manifests", f"{snap}.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _next_snapshot_id(self) -> str:
        cur = self.current_snapshot()
        n = int(cur.split("-")[1]) + 1 if cur else 1
        return f"snap-{n:06d}"

    def _claim_snapshot_id(self) -> str:
        """Allocate the next snapshot id UNDER the commit lock, reaping
        any orphan data dir a crashed writer left under that id (it
        renamed its stage to snap-N but died before the pointer flip;
        ids advance monotonically with the pointer, so a dir numbered
        past ``_current`` was never committed and no live manifest
        references it). Every commit path — data, drop, metadata-only —
        must claim through here, or an orphan claimed by a metadata-only
        commit would leak forever (its stale ``_manifests/snap-N.json``
        is overwritten by the new commit, but the data dir would not
        be)."""
        snap = self._next_snapshot_id()
        target = os.path.join(self.root, snap)
        if os.path.exists(target):
            import shutil

            shutil.rmtree(target)
        return snap

    @contextlib.contextmanager
    def _commit_lock(self):
        """Serialize the metadata commit section across concurrent
        writers on this table (streaming sink + batch refresh +
        retention can overlap in time — the north rule's multi-writer
        shape). The parent read, snapshot-id allocation, manifest write
        and pointer flip all happen under one exclusive flock, so a
        writer always rebases its carry-forward onto the *actual*
        current snapshot and two writers can never both claim snap-N+1
        (the Iceberg optimistic-commit CAS, degenerate-but-correct as a
        blocking lock: data files are written OUTSIDE the lock, only
        cheap metadata inside). On a real object store this section is
        the catalog's atomic swap (e.g. Iceberg REST catalog commit)."""
        fd = os.open(os.path.join(self.root, "_commit.lock"), os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _commit_manifest(self, manifest: dict) -> None:
        """Write the manifest then atomically flip the pointer. Must be
        called with the commit lock held."""
        snap = manifest["snapshot_id"]
        mpath = os.path.join(self.root, "_manifests", f"{snap}.json")
        with open(mpath, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        fd, tmp = tempfile.mkstemp(dir=self.root)
        with os.fdopen(fd, "w") as f:
            f.write(snap)
        os.replace(tmp, os.path.join(self.root, "_current"))

    # -- write / commit -------------------------------------------------
    def _stage(self, df: DataFrame, partition_col: str, leaves=()) -> dict:
        """Write ``df`` partitioned by ``partition_col`` into a
        writer-private staging dir and describe what landed there:
        {dir, schema, partitions: {pk: {name, files, bytes, rows, stats}}}.
        ``stats`` holds each of ``leaves`` (see ``_leaf_value``) over the
        partition's staged files. Row counts and min/max come from the
        parquet footers, sums from reading those columns with pyarrow,
        and the schema from ``df`` itself, so none of them costs a Spark
        job."""
        import pyarrow.parquet as pq

        stage = os.path.join(self.root, f".stage-{uuid.uuid4().hex}")
        df.write.mode("overwrite").partitionBy(partition_col).parquet(stage)

        staged: dict = {}
        for name in os.listdir(stage):
            if not name.startswith(f"{partition_col}="):
                continue
            pdir = os.path.join(stage, name)
            paths = [os.path.join(pdir, f) for f in os.listdir(pdir) if f.endswith(".parquet")]
            with contextlib.ExitStack() as opened:
                files = [opened.enter_context(pq.ParquetFile(f)) for f in paths]
                staged[name.split("=", 1)[1]] = {
                    "name": name,
                    "files": len(files),
                    "bytes": sum(os.path.getsize(f) for f in paths),
                    "rows": _leaf_value(files, "*"),
                    "stats": {leaf: _leaf_value(files, leaf) for leaf in leaves},
                }
        schema = df.schema.jsonValue()
        schema["fields"] = [f for f in schema["fields"] if f["name"] != partition_col]
        return {"dir": stage, "schema": _nullable(schema), "partitions": staged}

    def write_snapshot(
        self,
        df: DataFrame,
        partition_col: str,
        job: str = "",
        metrics: dict | None = None,
        carry_forward: bool = True,
        merge_partitions: bool = False,
        precondition=None,
        metrics_fn=None,
        partition_stats: dict | None = None,
    ) -> str | None:
        """Write ``df`` partitioned by ``partition_col`` as a new snapshot.

        With ``carry_forward`` the new manifest inherits the parent's
        partitions that this write did not touch (their files are
        referenced, not rewritten — incremental refresh shape).

        With ``merge_partitions`` a partition present in BOTH the parent
        and this write keeps the parent's files too (``paths`` list) —
        append semantics (the word index's SFATrie.mergeTrees analogue)
        instead of the default replace semantics.

        ``precondition`` (manifest-dict -> bool) is evaluated UNDER the
        commit lock against the then-current manifest; returning False
        aborts the commit (staged data is discarded, returns None). This
        is how conditional fences — e.g. the streaming sink's
        exactly-once batch-id check — stay atomic against concurrent
        writers: a check done before the lock could pass in two racers.

        ``metrics_fn`` (current-metrics -> dict) is likewise evaluated
        UNDER the lock, for metrics whose merge rule must see the
        then-current value rather than a pre-read one. Keys it returns
        override both the carried metrics and ``metrics``.

        ``partition_stats`` ({metrics key: spec}) fills metrics keys with
        this write's per-partition statistics of the staged files, for a
        caller that keeps them as its own bookkeeping without a Spark job
        of its own. A spec is a leaf — ``"*"`` (row count), ``"sum(c)"``,
        ``"min(c)"`` or ``"max(c)"`` — or a dict or list of specs, and the
        key gets ``{pk: value}`` in the spec's shape. Row counts and
        min/max come from the footers; sums read the column with pyarrow.
        A key that is also in ``metrics`` keeps the partitions this write
        did not touch: ``refresh_tier`` records ``rollup_rows_by_day`` as
        ``"*"``, ``refresh_encoded_tier`` merges each bucket's points and
        raw/encoded bytes into ``encode_by_bucket``. With
        ``merge_partitions`` the key starts from the then-current
        manifest's value, under the lock, and a merged partition's
        values combine with it (counts and sums add, min/max widen): the
        word index's per-prefix boxes, which a concurrent append must not
        shrink.
        """
        # data files are written to a writer-private staging dir OUTSIDE
        # the commit lock (the long part — minutes at scale); the
        # snapshot id is allocated only once the lock is held, so it
        # reflects the table state at commit time, not write-start time
        specs = partition_stats or {}
        leaves: set = set()
        _map_spec(list(specs.values()), leaves.add)
        staged = self._stage(df, partition_col, sorted(leaves))
        stage = staged["dir"]
        metrics = dict(metrics or {})

        with self._commit_lock():
            # CAS section: re-read the current pointer under the lock —
            # a concurrent writer that committed while our data was
            # being written becomes our parent (rebase), never a victim
            parent = self.current_snapshot()
            parent_manifest = (self.manifest(parent) if parent else None) or {}
            if precondition is not None and not precondition(parent_manifest):
                import shutil

                shutil.rmtree(stage, ignore_errors=True)
                return None
            snap = self._claim_snapshot_id()
            target = os.path.join(self.root, snap)
            os.rename(stage, target)
            parts = {
                pk: {
                    "path": os.path.join(snap, meta["name"]),
                    "files": meta["files"],
                    "bytes": meta["bytes"],
                    "rows": meta["rows"],
                }
                for pk, meta in staged["partitions"].items()
            }
            schema = staged["schema"]
            if carry_forward and parent_manifest:
                kept_parent = False
                for pk, meta in parent_manifest["partitions"].items():
                    if pk not in parts:
                        parts[pk] = meta
                        kept_parent = True
                    elif merge_partitions:
                        old_paths = meta.get("paths") or [meta["path"]]
                        new = parts[pk]
                        parts[pk] = {
                            "paths": old_paths + [new["path"]],
                            "files": meta["files"] + new["files"],
                            "bytes": meta["bytes"] + new["bytes"],
                        }
                        if "rows" in meta:
                            parts[pk]["rows"] = meta["rows"] + new["rows"]
                        kept_parent = True
                # files of two schemas under one manifest: leave the read
                # to inference, which widens across snapshot dirs. A
                # manifest that predates recorded schemas is taken to
                # hold files of the schema its writers write today
                if kept_parent and parent_manifest.get("schema", schema) != schema:
                    schema = None

            # metrics CARRY FORWARD across commits, like partitions:
            # several writers share one table (batch refresh, streaming
            # sink, retention, encoded-tier refresh), and each one's
            # bookkeeping (input_fp_by_day, stream_batch_id,
            # fp_by_bucket, …) must survive the others' commits — a
            # writer overrides only the keys it owns
            parent_metrics = parent_manifest.get("metrics", {})
            for key, spec in specs.items():
                base = metrics.get(key, parent_metrics.get(key, {}) if merge_partitions else {})
                new = {
                    pk: _map_spec(spec, meta["stats"].__getitem__)
                    for pk, meta in staged["partitions"].items()
                }
                if merge_partitions:
                    new = {pk: _merge_spec(spec, base[pk], v) if pk in base else v for pk, v in new.items()}
                metrics[key] = {**base, **new}
            self._commit_manifest({
                "snapshot_id": snap,
                "parent": parent,
                "job": job,
                "partition_col": partition_col,
                "schema": schema,
                "partitions": parts,
                "metrics": {
                    **parent_metrics,
                    **metrics,
                    **((metrics_fn(parent_metrics) if metrics_fn else {})),
                },
            })
        return snap

    # -- read / resume ----------------------------------------------------
    def read(self, spark: SparkSession, snapshot: str | None = None) -> DataFrame:
        m = self.manifest(snapshot)
        if m is None:
            raise FileNotFoundError(f"no snapshot in {self.root}")
        # carried-forward partitions live in ancestor snapshot dirs; read
        # each snapshot group with its own basePath (so hive-style
        # partition values are recovered) and union
        from functools import reduce

        from pyspark.sql.types import StructType

        by_snap: dict[str, list[str]] = {}
        for p in m["partitions"].values():
            for path in p.get("paths") or [p["path"]]:
                snap_dir = path.split("/", 1)[0]
                by_snap.setdefault(snap_dir, []).append(os.path.join(self.root, path))
        # the recorded file schema spares one inference job per snapshot
        # dir; the partition column is left out of it, so its type is
        # inferred from the directory names exactly as without a schema
        schema = StructType.fromJson(m["schema"]) if m.get("schema") else None
        dfs = []
        for s, ps in sorted(by_snap.items()):
            reader = spark.read.option("basePath", os.path.join(self.root, s))
            if schema is not None:
                reader = reader.schema(schema)
            dfs.append(reader.parquet(*ps))
        # a column some snapshot dirs lack reads as null there
        return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)

    def done_partitions(self, snapshot: str | None = None) -> set[str]:
        m = self.manifest(snapshot)
        return set() if m is None else set(m["partitions"])

    def missing_partitions(self, planned: list[str]) -> list[str]:
        """Resume diff: which planned partition keys have no committed data."""
        done = self.done_partitions()
        return [p for p in map(str, planned) if p not in done]

    def drop_partitions(
        self,
        keys: list[str],
        job: str = "retention",
        metrics: dict | None = None,
        metrics_fn=None,
    ) -> str | None:
        """Commit a snapshot WITHOUT the named partitions — a pure
        metadata delete (the Iceberg expire shape). No data is read or
        rewritten: the new manifest simply stops referencing the dropped
        partitions' files, which remain in their ancestor snapshot dirs
        for time travel via ``read(snapshot=...)``. Returns the new
        snapshot id, or None if nothing matched (no empty commits)."""
        with self._commit_lock():
            parent = self.current_snapshot()
            m = self.manifest(parent)
            if m is None:
                return None
            drop = {str(k) for k in keys} & set(m["partitions"])
            if not drop:
                return None
            snap = self._claim_snapshot_id()
            # parent metrics carry forward (other writers' bookkeeping
            # must survive a retention commit); per-partition metric
            # maps — any dict keyed by partition keys, e.g.
            # input_fp_by_day — follow their partitions out
            carried = {}
            for k, v in (m.get("metrics") or {}).items():
                if isinstance(v, dict) and set(v) & drop:
                    carried[k] = {pk: pv for pk, pv in v.items() if pk not in drop}
                else:
                    carried[k] = v
            self._commit_manifest({
                "snapshot_id": snap,
                "parent": parent,
                "job": job,
                "partition_col": m.get("partition_col"),
                # the files left are the parent's: so is their schema
                **({"schema": m["schema"]} if "schema" in m else {}),
                "partitions": {
                    pk: meta for pk, meta in m["partitions"].items() if pk not in drop
                },
                "metrics": {
                    **carried,
                    **(metrics or {}),
                    # metrics_fn sees the carried (= then-current, pruned)
                    # metrics UNDER the lock — for values whose merge rule
                    # must not race other writers (e.g. a monotone max)
                    **((metrics_fn(carried) if metrics_fn else {})),
                    "dropped_partitions": sorted(drop),
                },
            })
        return snap

    def commit_metrics(
        self, metrics: dict | None = None, job: str = "metadata", metrics_fn=None
    ) -> str:
        """Commit a METADATA-ONLY snapshot: partitions unchanged (or
        empty if the table has none yet), only the metrics map updated.
        Needed when durable bookkeeping must advance without any data
        motion — e.g. a retention cutoff that found nothing to drop but
        must still fence future refreshes from resurrecting expired days
        (expire-before-first-refresh, or the cutoff sweeping past days
        that were never committed). ``metrics_fn`` (current-metrics →
        dict) is evaluated UNDER the commit lock for merge rules that
        must not race concurrent writers (a monotone max, a counter)."""
        with self._commit_lock():
            parent = self.current_snapshot()
            m = self.manifest(parent) or {
                "partition_col": None,
                "partitions": {},
                "metrics": {},
            }
            cur = m.get("metrics") or {}
            snap = self._claim_snapshot_id()
            self._commit_manifest({
                "snapshot_id": snap,
                "parent": parent,
                "job": job,
                "partition_col": m.get("partition_col"),
                **({"schema": m["schema"]} if "schema" in m else {}),
                "partitions": m["partitions"],
                "metrics": {
                    **cur,
                    **(metrics or {}),
                    **((metrics_fn(cur) if metrics_fn else {})),
                },
            })
        return snap

    def gc_stale_staging(self, max_age_seconds: float = 24 * 3600) -> list[str]:
        """Remove ``.stage-*`` directories older than ``max_age_seconds``
        — the data a writer staged but never committed (killed between
        the parquet write and the commit lock). Committed snapshots are
        never touched: commit RENAMES the stage dir away, so anything
        still named ``.stage-*`` is by construction unreferenced. The
        age guard keeps a live writer's in-flight staging safe (pass 0
        only when no writer can be running); age is judged by the NEWEST
        mtime anywhere under the stage tree, not the root dir's — Spark
        creates partition subdirs early and keeps writing parts under
        them, so a single parquet write legitimately running longer
        than ``max_age_seconds`` would look stale by root mtime alone
        and be reaped mid-write. Returns removed paths."""
        import shutil
        import time

        def newest_mtime(path: str) -> float:
            newest = os.path.getmtime(path)
            for dirpath, dirnames, filenames in os.walk(path):
                for n in dirnames + filenames:
                    try:
                        newest = max(
                            newest, os.path.getmtime(os.path.join(dirpath, n))
                        )
                    except FileNotFoundError:
                        pass  # writer/GC raced us mid-walk
            return newest

        removed = []
        now = time.time()
        for name in os.listdir(self.root):
            if not name.startswith(".stage-"):
                continue
            p = os.path.join(self.root, name)
            try:
                if now - newest_mtime(p) >= max_age_seconds:
                    shutil.rmtree(p)
                    removed.append(p)
            except FileNotFoundError:
                pass  # another GC raced us — already gone
        return removed

    def lineage(self) -> list[dict]:
        """Snapshot chain, newest first."""
        out, cur = [], self.current_snapshot()
        while cur:
            m = self.manifest(cur)
            if m is None:
                break
            out.append(m)
            cur = m.get("parent")
        return out
