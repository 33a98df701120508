"""Snapshot tables: the Iceberg COMMIT PROTOCOL over parquet, honestly.

What this is: Apache Iceberg's core correctness mechanism — immutable
data files + immutable per-version metadata manifests + an atomic
compare-and-swap publish of the next metadata version — implemented
directly on the Hadoop FileSystem API. It gives the properties the
100-TB multi-job story needs:

- **snapshot isolation**: a reader resolves ONE manifest (latest or a
  pinned version) and reads exactly that file set; concurrent commits
  publish new manifests and never mutate old data or old manifests, so
  an in-flight read is never torn;
- **atomic commits with optimistic concurrency**: the next version is
  claimed by ``FileSystem.rename(tmp, v{N}.json)`` — atomic and
  no-overwrite on HDFS *and* on the local FS (rename returns false when
  the destination exists) — a losing writer re-reads the winner's
  manifest, REBASES its append on the new file list, and retries at
  N+1, exactly Iceberg's HadoopTableOperations commit loop;
- **time travel**: every published version stays readable;
- **crash safety**: data directories are written first and become
  visible only through a published manifest — a killed writer leaves
  orphan data dirs that no reader ever lists (and
  ``vacuum_orphans`` removes).

Beyond commits, the manifest carries **per-data-file column stats**
(min/max/rowcount, Iceberg's manifest-entry ``lower_bounds`` /
``upper_bounds``). Like an Iceberg writer, a commit takes them from the
write itself: the footers of the parquet files it just wrote, read on
the driver, so a commit runs no Spark job beyond its write. A predicate
scan resolves the manifest, drops every file whose value range cannot
satisfy the predicate, and plans a read over only the surviving files —
file skipping WITHOUT opening a single parquet footer, the mechanism
that turns a 100-TB table scan into a bounded range read. The same
metadata answers whole-table questions with no scan: row totals
(``row_count``) and the values of a column committed one value per file
(``distinct_values``, e.g. the days of a day-partitioned table). The
same stats drive **copy-on-write row-level operations**:
``commit_delete_where`` and ``commit_merge`` rewrite ONLY the data files
that actually contain affected rows (stats-pruned, then exactly located
via an ``input_file_name`` semi-join), keep every other file by
reference, and publish the swap atomically with optimistic validation
(a concurrent commit that rewrote one of the same files raises
``CommitConflict``; a concurrent disjoint append is rebased).

What this is NOT (documented non-goals, kept out of scope on purpose):
the Iceberg *spec* — Avro manifest lists, partition spec / schema
evolution metadata, a REST/Hive catalog, merge-on-read delete files
(deletes here are copy-on-write). On a
cluster with real Iceberg jars the call sites swap to the Iceberg
catalog unchanged; this module exists so the engine's snapshot/commit
semantics are REAL and testable in any plain-filesystem environment,
not a naming convention. It is the engine's one commit path: job.py and
curation_job.py commit every unit through ``run_resumable_snapshots``.
"""

from __future__ import annotations

import datetime as _dt
import json
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class CommitConflict(RuntimeError):
    """Raised when max_retries CAS attempts all lost the race."""


# a column chunk holding values its footer cannot bound
_UNKNOWN = object()

_OPS = ("=", "<", "<=", ">", ">=", "between")


def _predicate_column(where: list[tuple]):
    """AND of ``(col, op, val)`` / ``(col, 'between', lo, hi)`` specs as
    a Spark Column (the residual row filter applied after file
    skipping)."""
    from pyspark.sql import functions as F

    out = None
    for spec in where:
        col, op, *vals = spec
        if op not in _OPS:
            raise ValueError(f"unsupported predicate op {op!r}")
        c = F.col(col)
        if op == "between":
            e = c.between(vals[0], vals[1])
        elif op == "=":
            e = c == vals[0]
        elif op == "<":
            e = c < vals[0]
        elif op == "<=":
            e = c <= vals[0]
        elif op == ">":
            e = c > vals[0]
        else:
            e = c >= vals[0]
        out = e if out is None else out & e
    return out


def _stat_val(v):
    if isinstance(v, _dt.datetime):
        # manifest stats store timestamps as epoch-second doubles
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        return v.timestamp()
    if isinstance(v, _dt.date):
        # manifest stats store dates as ISO strings
        return v.isoformat()
    return v


def _stats_prove_empty(col_stats: dict, where: list[tuple]) -> bool:
    """True iff the file's [min, max] ranges PROVE no row can satisfy
    the AND of ``where`` — the file-skipping test. Conservative: a
    missing column, a null bound (all-null file), or any doubt keeps
    the file (the residual filter guarantees exactness)."""
    for spec in where:
        col, op, *vals = spec
        if col not in col_stats:
            continue
        mn, mx = col_stats[col]
        if mn is None or mx is None:
            continue
        vals = [_stat_val(v) for v in vals]
        v = vals[0]
        if (
            (op == "=" and (v < mn or v > mx))
            or (op == "<" and mn >= v)
            or (op == "<=" and mn > v)
            or (op == ">" and mx <= v)
            or (op == ">=" and mx < v)
            or (op == "between" and (vals[1] < mn or v > mx))
        ):
            return True
    return False


class SnapshotTable:
    """A versioned parquet table with atomic snapshot commits.

    Layout::

        base/
          data/<uuid>/part-*.parquet   immutable, written once
          metadata/v{N}.json           immutable manifest for version N
          metadata/tmp-*.json          in-flight commit attempts

    Manifest schema: ``{"version": N, "parent": N-1 | None,
    "operation": "append" | "overwrite" | "delete" | "merge",
    "files": [data dir names], "stats": {dir: {"rows": n,
    "cols": {col: [min, max]}}}, "summary": {...},
    "committed_at": epoch}``.

    ``stats_cols`` opts commits into recording per-data-dir min/max for
    those columns (timestamps are recorded as epoch-second doubles).
    The stats come from the footers of the just-written files, read one
    after another on the driver: no Spark job, cost proportional to the
    append's file count, never to the table. Bounds the footers cannot state (INT96
    timestamps, NaN-holding float files) are recorded as ``[None,
    None]``, which the pruner never prunes.
    """

    def __init__(
        self,
        spark: SparkSession,
        base: str,
        stats_cols: list[str] | None = None,
    ):
        self.spark = spark
        self.base = base.rstrip("/")
        self.stats_cols = list(stats_cols or [])
        jvm = spark.sparkContext._jvm
        self._jvm = jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(self.base).getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration()
        )
        self._fs.mkdirs(self._Path(f"{self.base}/data"))
        self._fs.mkdirs(self._Path(f"{self.base}/metadata"))

    # ---- metadata IO ----------------------------------------------------
    def _meta(self, name: str) -> str:
        return f"{self.base}/metadata/{name}"

    def _write_file(self, path: str, payload: str) -> None:
        out = self._fs.create(self._Path(path), True)
        try:
            out.write(payload.encode("utf-8"))
        finally:
            out.close()

    def _read_file(self, path: str) -> str:
        ins = self._fs.open(self._Path(path))
        try:
            # manifests are small; commons-io ships with Spark
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                ins, "UTF-8"
            )
        finally:
            ins.close()

    def versions(self) -> list[int]:
        it = self._fs.listStatus(self._Path(f"{self.base}/metadata"))
        out = []
        for st in it:
            name = st.getPath().getName()
            if name.startswith("v") and name.endswith(".json"):
                try:
                    out.append(int(name[1:-5]))
                except ValueError:
                    pass
        return sorted(out)

    def current_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def snapshot(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no committed snapshot under {self.base}")
        return json.loads(self._read_file(self._meta(f"v{v}.json")))

    # ---- commits ---------------------------------------------------------
    def _write_data(self, df: DataFrame) -> str:
        name = uuid.uuid4().hex
        df.write.mode("overwrite").parquet(f"{self.base}/data/{name}")
        return name

    def _collect_stats(self, data_name: str) -> dict:
        """min/max/rowcount for ``stats_cols`` over ONE just-written data
        dir, at PER-FILE granularity (Iceberg's manifest entries are per
        data file) plus the dir-level rollup. Read from the parquet
        footers the write just produced, on the driver through the
        table's Hadoop FileSystem: no Spark job, cost proportional to
        the files of the commit, never the table. Values are in the
        manifest's domains (timestamps as epoch-second doubles, dates as
        ISO strings) so the manifest stays JSON and comparisons stay
        total-ordered. A column the footers cannot bound (INT96
        timestamps, a NaN-holding float chunk, decimals, binary) records
        ``[None, None]`` for the file AND the dir, which the pruner
        always keeps; an all-null file also records ``[None, None]``
        but does not widen the dir's bounds."""
        pq = self._jvm.org.apache.parquet
        conf = self.spark.sparkContext._jsc.hadoopConfiguration()
        # plain read options: building them from the Hadoop conf copies
        # every property, per file (~10 ms each)
        opts = pq.ParquetReadOptions.builder(
            pq.conf.PlainParquetConfiguration()
        ).build()
        files: dict[str, dict] = {}
        columns: dict | None = None  # stats col -> (chunk index, reader)
        unknown: set[str] = set()
        data_dir = self._Path(f"{self.base}/data/{data_name}")
        for st in self._fs.listStatus(data_dir):
            fname = st.getPath().getName()
            if not (fname.startswith("part-") and fname.endswith(".parquet")):
                continue
            reader = pq.hadoop.ParquetFileReader.open(
                pq.hadoop.util.HadoopInputFile.fromStatus(st, conf), opts
            )
            try:
                footer = reader.getFooter()
            finally:
                reader.close()
            if columns is None:  # one write: one schema for every file
                columns = self._stat_columns(
                    footer.getFileMetaData().getSchema()
                )
            rows, chunks = 0, {c: [] for c in columns}
            blocks = footer.getBlocks()
            for b in range(blocks.size()):  # size/get: py4j iterates slowly
                block = blocks.get(b)
                n = block.getRowCount()
                rows += n
                cols = block.getColumns()
                for c, (i, read) in columns.items():
                    chunks[c].append(
                        _UNKNOWN if i < 0
                        else self._chunk_bounds(cols.get(i), n, read)
                    )
            if not rows:
                continue  # an empty part file holds no manifest entry
            fcols = {}
            for c, bs in chunks.items():
                bs = [b for b in bs if b is not None]  # all-null chunks
                if _UNKNOWN in bs:
                    unknown.add(c)
                    fcols[c] = [None, None]
                elif bs:
                    fcols[c] = [min(b[0] for b in bs), max(b[1] for b in bs)]
                else:
                    fcols[c] = [None, None]
            files[fname] = {"rows": rows, "cols": fcols}
        # dir-level rollup (combined in Python, from the same footers)
        cols: dict[str, list] = {}
        for c in columns or {}:
            mns = [f["cols"][c][0] for f in files.values()
                   if f["cols"][c][0] is not None]
            mxs = [f["cols"][c][1] for f in files.values()
                   if f["cols"][c][1] is not None]
            cols[c] = (
                [None, None] if c in unknown or not mns
                else [min(mns), max(mxs)]
            )
        return {
            "rows": sum(f["rows"] for f in files.values()),
            "cols": cols,
            "files": files,
        }

    def _stat_columns(self, schema) -> dict:
        """``stats_cols`` present in a footer schema -> ``(chunk index,
        bounds reader)``. Chunks are stored in leaf order. The reader
        turns a chunk's footer statistics into ``(min, max)`` in the
        manifest's domain; it is None where the footer cannot bound the
        values (a nested column, INT96, decimal, binary)."""
        gw = self.spark.sparkContext._gateway
        leaves = schema.getColumns()
        out = {}
        for c in self.stats_cols:
            if not schema.containsField(c):
                continue
            if not schema.getType(c).isPrimitive():
                out[c] = (-1, None)
                continue
            path = gw.new_array(gw.jvm.java.lang.String, 1)
            path[0] = c
            out[c] = (
                leaves.indexOf(schema.getColumnDescription(path)),
                self._bounds_reader(schema.getType(c).asPrimitiveType()),
            )
        return out

    def _bounds_reader(self, ptype):
        kind = ptype.getPrimitiveTypeName().name()
        ann = ptype.getLogicalTypeAnnotation()
        ann = "" if ann is None else ann.toString()

        def pair(conv):
            return lambda st: (
                conv(st.genericGetMin()), conv(st.genericGetMax())
            )

        if kind == "BINARY" and ann == "STRING":
            return lambda st: (
                bytes(st.getMinBytes()).decode("utf-8"),
                bytes(st.getMaxBytes()).decode("utf-8"),
            )
        signed_int = ann.startswith("INTEGER(") and ann.endswith(",true)")
        if kind in ("BOOLEAN", "FLOAT", "DOUBLE") or (
            kind in ("INT32", "INT64") and (not ann or signed_int)
        ):
            return pair(lambda v: v)
        if ann == "DATE":
            epoch = _dt.date(1970, 1, 1)
            return pair(lambda v: (epoch + _dt.timedelta(days=v)).isoformat())
        if ann in ("TIMESTAMP(MICROS,true)", "TIMESTAMP(MILLIS,true)"):
            # exactly what cast(double) gives: the correctly rounded
            # epoch seconds of the stored instant
            per_s = 1e6 if "MICROS" in ann else 1e3
            return pair(lambda v: v / per_s)
        if ann in ("TIMESTAMP(MICROS,false)", "TIMESTAMP(MILLIS,false)"):
            # timestamp_ntz: a wall-clock reading, placed in the session
            # timezone like a naive predicate value (see _stat_domain)
            per_us = 1 if "MICROS" in ann else 1000
            epoch = _dt.datetime(1970, 1, 1)
            return pair(lambda v: self._stat_domain(
                epoch + _dt.timedelta(microseconds=v * per_us)
            ))
        return None

    @staticmethod
    def _chunk_bounds(chunk, rows: int, read):
        """One column chunk's ``(min, max)``; None when every value is
        null; ``_UNKNOWN`` when the footer cannot bound the values."""
        st = chunk.getStatistics()
        if not st.hasNonNullValue():
            # no min/max: all-null, or values parquet does not order
            # (NaN) or no stats at all -- only a null count equal to the
            # rows proves the first
            if st.isNumNullsSet() and st.getNumNulls() == rows:
                return None
            return _UNKNOWN
        return _UNKNOWN if read is None else read(st)

    def _try_publish(self, manifest: dict) -> bool:
        """CAS: rename(tmp, vN.json) — atomic, fails if vN exists."""
        tmp = self._meta(f"tmp-{uuid.uuid4().hex}.json")
        self._write_file(tmp, json.dumps(manifest))
        ok = bool(
            self._fs.rename(
                self._Path(tmp),
                self._Path(self._meta(f"v{manifest['version']}.json")),
            )
        )
        if not ok:
            self._fs.delete(self._Path(tmp), False)
        return ok

    def _commit(
        self, df: DataFrame, operation: str, summary: dict | None,
        max_retries: int,
    ) -> int:
        data_name = self._write_data(df)  # expensive part, done ONCE
        new_stats = (
            {data_name: self._collect_stats(data_name)}
            if self.stats_cols
            else {}
        )
        for _ in range(max_retries):
            cur = self.current_version()
            stats = dict(new_stats)
            if operation == "append" and cur is not None:
                snap = self.snapshot(cur)
                files = snap["files"] + [data_name]
                stats = {**snap.get("stats", {}), **new_stats}
            else:
                files = [data_name]
            manifest = {
                "version": (cur or 0) + 1,
                "parent": cur,
                "operation": operation,
                "files": files,
                "stats": stats,
                "schema": json.loads(df.schema.json()),
                "summary": summary or {},
                "committed_at": time.time(),
            }
            if self._try_publish(manifest):
                return manifest["version"]
            # lost the race: re-resolve the winner's manifest and rebase
        raise CommitConflict(
            f"{operation} to {self.base} lost {max_retries} CAS races"
        )

    def commit_append(
        self, df: DataFrame, summary: dict | None = None, max_retries: int = 20
    ) -> int:
        """Publish ``df`` as a new snapshot appended to the current file
        set. Returns the committed version."""
        return self._commit(df, "append", summary, max_retries)

    def commit_overwrite(
        self, df: DataFrame, summary: dict | None = None, max_retries: int = 20
    ) -> int:
        """Publish ``df`` as a new snapshot REPLACING the table content.
        Old versions stay readable (time travel); old data files are not
        deleted until ``vacuum_orphans`` / retention runs."""
        return self._commit(df, "overwrite", summary, max_retries)

    # ---- reads -----------------------------------------------------------
    def read(
        self,
        version: int | None = None,
        where: list[tuple] | None = None,
    ) -> DataFrame:
        """Read one snapshot (latest by default) — exactly its file set,
        resolved once; later commits cannot tear this plan.

        ``where`` is an AND-list of ``(col, op, val)`` / ``(col,
        "between", lo, hi)`` predicates (ops ``= < <= > >=``): files
        whose manifest stats range cannot satisfy a predicate are
        DROPPED FROM THE PLAN (manifest-level file skipping — no footer
        is opened); the residual row filter is then applied to the
        survivors, so results are exact at any stats granularity."""
        # resolve and parse the manifest exactly ONCE and plan from that
        # copy: a second resolution under a concurrent commit would tear
        # the read this method promises is untearable
        snap = self.snapshot(version)
        kept, _ = self.plan_files(where, snap=snap)
        schema = self._declared_schema(snap)
        if not snap["files"] or not kept:
            # every file pruned (or an all-rows delete left no files):
            # an empty frame with the snapshot's schema of record
            if schema is not None:
                return self.spark.createDataFrame([], schema)
            if not snap["files"]:
                raise ValueError(
                    f"v{snap['version']} of {self.base} has no data files "
                    "and no recorded schema — nothing to infer a frame from"
                )
            return self._read_paths(snap["files"], None).limit(0)
        df = self._read_paths(kept, schema)
        if where:
            df = df.filter(_predicate_column(where))
        return df

    def _declared_schema(self, snap: dict):
        """The snapshot's SCHEMA OF RECORD (the committing frame's
        schema, stored in the manifest — Iceberg tracks schema in
        metadata, never by unioning footers). Reads project every data
        file to it: files written before an additive column get NULL
        for it; a column dropped by a later commit disappears. None for
        pre-schema manifests (falls back to footer inference)."""
        if "schema" not in snap:
            return None
        from pyspark.sql.types import StructType

        return StructType.fromJson(snap["schema"])

    def _read_paths(self, names: list[str], schema=None) -> DataFrame:
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*[f"{self.base}/data/{n}" for n in names])

    def _stat_domain(self, v):
        """Predicate value -> the domain manifest stats are stored in.
        Naive datetimes are interpreted in the SESSION timezone (the
        same one Spark's residual filter will use) before converting to
        epoch — interpreting them as UTC would let the pruner and the
        filter disagree and drop matching files."""
        if isinstance(v, _dt.datetime) and v.tzinfo is None:
            from zoneinfo import ZoneInfo

            tz = self.spark.conf.get("spark.sql.session.timeZone")
            v = v.replace(tzinfo=ZoneInfo(tz))
        return _stat_val(v)

    def _stat_where(self, where):
        if not where:
            return where
        return [
            (spec[0], spec[1], *[self._stat_domain(v) for v in spec[2:]])
            for spec in where
        ]

    def plan_scan(
        self,
        where: list[tuple] | None = None,
        snap: dict | None = None,
    ) -> tuple[list[str], list[str]]:
        """Resolve one snapshot's file set against ``where`` using ONLY
        manifest stats. Returns ``(kept, pruned)`` data-dir names; files
        with no recorded stats for a predicate column are always kept
        (pruning is an optimization, never a correctness dependency).
        ``snap`` is an already-loaded manifest (default: the latest)."""
        where = self._stat_where(where)
        snap = snap or self.snapshot()
        stats = snap.get("stats", {})
        kept: list[str] = []
        pruned: list[str] = []
        for f in snap["files"]:
            st = stats.get(f)
            if where and st and _stats_prove_empty(st["cols"], where):
                pruned.append(f)
            else:
                kept.append(f)
        return kept, pruned

    def read_incremental(
        self,
        from_version: int,
        to_version: int | None = None,
        where: list[tuple] | None = None,
    ) -> DataFrame:
        """Rows APPENDED after ``from_version`` up to ``to_version``
        (Iceberg's incremental append scan): exactly the data files the
        newer manifests added, so a downstream consumer processes only
        new data — never a re-scan of the base, never a row-level diff.
        ``from_version=0`` means "from the beginning". Raises if any
        commit in the range is not an append (overwrite / delete /
        merge / rewrite): a file-set diff would not equal the logical
        row diff there, so the consumer must re-read the snapshot
        instead."""
        to_v = self.current_version() if to_version is None else to_version
        if to_v is None:
            raise FileNotFoundError(f"no committed snapshot under {self.base}")
        snap_to = self.snapshot(to_v)
        v, ops = snap_to, []
        while v["version"] > from_version:
            ops.append(v["operation"])
            if v["parent"] is None:
                break
            v = self.snapshot(v["parent"])
        bad = [o for o in ops if o != "append"]
        if bad:
            raise ValueError(
                f"non-append commit(s) {bad} in ({from_version}, {to_v}]: "
                "incremental file diff is not the row diff — re-read the "
                "snapshot"
            )
        base_files = (
            set(self.snapshot(from_version)["files"])
            if from_version > 0
            else set()
        )
        schema = self._declared_schema(snap_to)
        new = [f for f in snap_to["files"] if f not in base_files]
        if not new:
            return self._read_paths(snap_to["files"], schema).limit(0)
        df = self._read_paths(new, schema)
        if where:
            df = df.filter(_predicate_column(where))
        return df

    # ---- metadata tables ---------------------------------------------------
    def history(self) -> DataFrame:
        """The snapshot log as a DataFrame (Iceberg's ``.history`` /
        ``.snapshots`` metadata table): one row per published version.
        Driver-side: manifests are small metadata."""
        rows = []
        for v in self.versions():
            s = self.snapshot(v)
            stats = s.get("stats", {})
            rows.append(
                (
                    s["version"],
                    s["parent"],
                    s["operation"],
                    float(s["committed_at"]),
                    len(s["files"]),
                    sum(st["rows"] for st in stats.values()) if stats else None,
                    json.dumps(s.get("summary", {}), sort_keys=True),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version int, parent int, operation string, committed_at double,"
            " n_files int, rows long, summary string",
        )

    def files(self, version: int | None = None) -> DataFrame:
        """One row per data file of one snapshot with its recorded
        bounds (Iceberg's ``.files`` metadata table)."""
        snap = self.snapshot(version)
        stats = snap.get("stats", {})
        rows = []
        for d in snap["files"]:
            st = stats.get(d)
            for fname, fs in ((st or {}).get("files") or {"": None}).items():
                rows.append(
                    (
                        d,
                        fname or None,
                        fs["rows"] if fs else None,
                        json.dumps(fs["cols"], sort_keys=True) if fs else None,
                    )
                )
        return self.spark.createDataFrame(
            rows, "data_dir string, file string, rows long, bounds string"
        )

    def plan_files(
        self,
        where: list[tuple] | None = None,
        snap: dict | None = None,
    ) -> tuple[list[str], list[str]]:
        """``plan_scan`` at PER-FILE granularity: within each surviving
        data dir, individual part-files whose recorded bounds cannot
        satisfy ``where`` are pruned too (this is what makes a
        range-clustered rewrite pay off — see ``rewrite_clustered``).
        Returns ``(kept, pruned)`` as paths relative to ``data/``; a dir
        with no per-file stats is kept or pruned as one unit. ``snap``
        is an already-loaded manifest (default: the latest)."""
        where = self._stat_where(where)
        snap = snap or self.snapshot()
        stats = snap.get("stats", {})
        kept: list[str] = []
        pruned: list[str] = []
        for d in snap["files"]:
            st = stats.get(d)
            if not where or st is None:
                kept.append(d)
                continue
            if _stats_prove_empty(st["cols"], where):
                pruned.append(d)
                continue
            fstats = st.get("files")
            if not fstats:
                kept.append(d)
                continue
            for fname, fs in fstats.items():
                p = f"{d}/{fname}"
                if _stats_prove_empty(fs["cols"], where):
                    pruned.append(p)
                else:
                    kept.append(p)
        return kept, pruned

    def row_count(self, snap: dict | None = None) -> int:
        """Rows in one snapshot (latest by default), summed from the
        manifest's recorded row counts; only data dirs committed without
        stats are counted by a scan."""
        snap = snap or self.snapshot()
        stats = snap.get("stats", {})
        bare = [d for d in snap["files"] if d not in stats]
        rows = sum(stats[d]["rows"] for d in snap["files"] if d in stats)
        if bare:
            rows += self._read_paths(bare, self._declared_schema(snap)).count()
        return rows

    def distinct_values(self, col: str, snap: dict | None = None):
        """Sorted distinct non-null values of ``col`` in one snapshot
        (latest by default) as strings, like ``cast('string')``; None
        when the snapshot has no column ``col``. NULL is left out: the
        manifest keeps no null counts, so a file its bounds prove to one
        value may still hold NULLs. A data file whose recorded bounds of
        ``col`` are one string (a string column, or a date as its ISO
        form) contributes that value with no scan. One distinct scan
        covers only the files the stats do not prove, so a table
        committed one value per file (a day per commit) is answered from
        the manifest alone."""
        from pyspark.sql import functions as F

        snap = snap or self.snapshot()
        schema = self._declared_schema(snap)
        if schema is None:  # a pre-schema manifest: infer from footers
            schema = (
                self._read_paths(snap["files"]).schema if snap["files"]
                else None
            )
        if schema is None or col not in schema.names:
            return None
        stats = snap.get("stats", {})
        values: set = set()
        unproven: list[str] = []

        def proven(st) -> bool:
            mn, mx = st["cols"].get(col, (None, None))
            if isinstance(mn, str) and mn == mx:
                values.add(mn)
                return True
            return False

        for d in snap["files"]:
            st = stats.get(d)
            if st is None or col not in st["cols"]:
                unproven.append(d)
            elif "files" in st:  # per-file entries: files with rows
                unproven += [
                    f"{d}/{name}" for name, fs in st["files"].items()
                    if not proven(fs)
                ]
            elif st["rows"] and not proven(st):
                unproven.append(d)
        if unproven:
            values.update(
                r[0] for r in
                self._read_paths(unproven, schema)
                .where(F.col(col).isNotNull())
                .select(F.col(col).cast("string"))
                .distinct().collect()
            )
        return sorted(values)

    # ---- copy-on-write row-level operations --------------------------------
    def _read_dirs_tagged(self, names: list[str], schema=None) -> DataFrame:
        # schema = the snapshot's declared schema: a COW rewrite over a
        # mixed-schema file set must project to it, or footer inference
        # could silently drop an evolved column from the rewritten file
        from pyspark.sql import functions as F

        df = self._read_paths(names, schema)
        return df.withColumn(
            "_dir",
            F.regexp_extract(F.input_file_name(), "data/([0-9a-f]{32})/", 1),
        )

    def _publish_rewrite(
        self,
        base_version: int,
        removed: set[str],
        added: list[str],
        added_stats: dict,
        operation: str,
        summary: dict | None,
        max_retries: int,
        conflict_filter=None,
    ) -> int:
        """CAS loop for a row-level rewrite: swap ``removed`` for
        ``added`` atop whatever the CURRENT snapshot is, with Iceberg's
        serializable-style optimistic validation —

        - if a concurrent commit already removed (rewrote/overwrote)
          one of the files this operation read and rewrote, the swap
          would silently undo that commit's row changes: conflict;
        - if a concurrent commit ADDED files whose rows this operation
          WOULD have affected (``conflict_filter(added_dirs)`` — a
          matched merge key, a row matching the delete predicate), the
          result would miss them: conflict;
        - concurrent commits of genuinely disjoint data are rebased
          over."""
        base_files = set(self.snapshot(base_version)["files"])
        base_schema = self.snapshot(base_version).get("schema")
        for _ in range(max_retries):
            cur = self.current_version()
            snap = self.snapshot(cur)
            cur_files = set(snap["files"])
            if cur != base_version:
                if not removed <= cur_files:
                    raise CommitConflict(
                        f"{operation} read files rewritten by a concurrent "
                        f"commit: {sorted(removed - cur_files)}"
                    )
                winner_added = sorted(cur_files - base_files - set(added))
                if winner_added and conflict_filter is not None and (
                    conflict_filter(winner_added)
                ):
                    raise CommitConflict(
                        f"a concurrent commit appended rows this "
                        f"{operation} would have affected: {winner_added}"
                    )
            files = [f for f in snap["files"] if f not in removed] + added
            stats = {
                f: s
                for f, s in snap.get("stats", {}).items()
                if f not in removed
            }
            stats.update(added_stats)
            manifest = {
                "version": cur + 1,
                "parent": cur,
                "operation": operation,
                "files": files,
                "stats": stats,
                "summary": summary or {},
                "committed_at": time.time(),
            }
            # the rewrite projected its content to the base snapshot's
            # schema of record — carry it (or the winner's, if a
            # concurrent commit evolved it: the winner's files dominate)
            schema = snap.get("schema") or base_schema
            if schema is not None:
                manifest["schema"] = schema
            if self._try_publish(manifest):
                return manifest["version"]
        raise CommitConflict(
            f"{operation} to {self.base} lost {max_retries} CAS races"
        )

    def commit_delete_where(
        self,
        where: list[tuple],
        summary: dict | None = None,
        max_retries: int = 20,
    ) -> int:
        """Copy-on-write DELETE: remove every row matching the AND of
        ``where`` (same predicate spec as ``read``). Work is
        proportional to the AFFECTED files, never the table: manifest
        stats prune to candidate files, an ``input_file_name`` distinct
        locates the files that actually hold matching rows, only those
        are rewritten (matching rows dropped — rows where the predicate
        is NULL survive, SQL DELETE semantics), and the swap publishes
        atomically. Returns the committed version (current version
        unchanged if nothing matched)."""
        from pyspark.sql import functions as F

        base_v = self.current_version()
        if base_v is None:
            raise FileNotFoundError(f"no committed snapshot under {self.base}")
        snap = self.snapshot(base_v)
        schema = self._declared_schema(snap)
        candidates, _ = self.plan_scan(where, snap=snap)
        if not candidates:
            return base_v
        pred = _predicate_column(where)
        tagged = self._read_dirs_tagged(candidates, schema)
        affected = {
            r["_dir"]
            for r in tagged.filter(pred).select("_dir").distinct().collect()
        }
        if not affected:
            return base_v
        survivors = (
            self._read_dirs_tagged(sorted(affected), schema)
            .filter(~F.coalesce(pred, F.lit(False)))
            .drop("_dir")
        )
        added, added_stats = [], {}
        if survivors.limit(1).count() > 0:
            name = self._write_data(survivors)
            added = [name]
            if self.stats_cols:
                added_stats = {name: self._collect_stats(name)}

        def appended_rows_match(dirs: list[str]) -> bool:
            # a concurrent append whose rows match the predicate would
            # survive a blind rebase undeleted — that's a conflict
            return (
                self._read_dirs_tagged(dirs, schema)
                .filter(pred)
                .limit(1)
                .count()
                > 0
            )

        return self._publish_rewrite(
            base_v, affected, added, added_stats, "delete",
            summary, max_retries, conflict_filter=appended_rows_match,
        )

    def commit_merge(
        self,
        source: DataFrame,
        on: list[str],
        summary: dict | None = None,
        max_retries: int = 20,
    ) -> int:
        """Copy-on-write MERGE (upsert): target rows whose ``on`` key
        matches a source row are REPLACED by the source row; source rows
        with no target match are INSERTED. Source keys must be unique
        (one source row per key — the standard MERGE precondition).

        Scale shape: affected-file discovery is a semi-join of the
        target against the (typically small, broadcastable) source key
        set, grouped by ``input_file_name`` — so only files that
        actually contain matched keys are rewritten; the rest of the
        table is carried by reference in the new manifest."""
        base_v = self.current_version()
        if base_v is None:
            raise FileNotFoundError(f"no committed snapshot under {self.base}")
        snap = self.snapshot(base_v)
        schema = self._declared_schema(snap)
        keys = source.select(*on).distinct()
        tagged = self._read_dirs_tagged(snap["files"], schema)
        affected = {
            r["_dir"]
            for r in tagged.join(keys, on, "left_semi")
            .select("_dir")
            .distinct()
            .collect()
        }
        if affected:
            survivors = (
                self._read_dirs_tagged(sorted(affected), schema)
                .join(keys, on, "left_anti")
                .drop("_dir")
            )
            new_data = survivors.unionByName(source)
        else:
            new_data = source
        name = self._write_data(new_data)
        added_stats = (
            {name: self._collect_stats(name)} if self.stats_cols else {}
        )

        def appended_keys_match(dirs: list[str]) -> bool:
            # a concurrent append holding one of the merge keys would
            # coexist with the source row after a blind rebase — two
            # rows per key breaks MERGE's postcondition
            return (
                self._read_dirs_tagged(dirs, schema)
                .join(keys, on, "left_semi")
                .limit(1)
                .count()
                > 0
            )

        return self._publish_rewrite(
            base_v, affected, [name], added_stats, "merge",
            summary, max_retries, conflict_filter=appended_keys_match,
        )

    # ---- resumable ingestion ----------------------------------------------
    def committed_partitions(self) -> set[str]:
        """Partition keys recorded in committed snapshot summaries —
        including keys whose snapshots were expired (the retention
        ledger keeps them, so resume stays exactly-once forever)."""
        return {
            s.get("partition_key") for s in self.committed_summaries()
        } - {None}

    # ---- maintenance -----------------------------------------------------
    def rewrite_clustered(
        self,
        key_col,
        n_files: int,
        summary: dict | None = None,
        max_retries: int = 20,
    ) -> int:
        """Iceberg's rewriteDataFiles maintenance action: re-commit the
        CURRENT snapshot's content range-clustered by ``key_col`` (any
        Column expression — a single sort key, or a Z-order/Morton key
        from ``sources/zorder.py`` for multi-dimensional locality) into
        ``n_files`` range-partitioned files. Content-identical (it is an
        ``overwrite`` commit; time travel keeps the old layout), but
        each new file covers a narrow key slice, so per-file manifest
        stats turn subsequent predicate reads into few-file reads —
        layout maintenance as a snapshot commit, safe under concurrent
        readers."""
        df = self.read().repartitionByRange(n_files, key_col)
        return self._commit(
            df,
            "overwrite",
            {**(summary or {}), "rewrite": "clustered", "n_files": n_files},
            max_retries,
        )

    def expire_snapshots(self, keep_last: int) -> list[int]:
        """Retention: drop all but the newest ``keep_last`` version
        manifests (Iceberg's expire_snapshots). Data dirs referenced
        only by expired versions become orphans that the next
        ``vacuum_orphans`` reclaims; versions within retention stay
        fully time-travelable. Returns the expired version numbers.

        The expired versions' SUMMARIES are preserved first in an
        append-only ledger file (``metadata/ledger-*.json``) — they are
        the exactly-once resume record (partition keys, stream batch
        ids), and losing them to retention would make a resumed ingest
        re-commit old units. Ledger writes are new files, never
        overwrites, so a crash mid-expire is safe (union semantics)."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        vs = self.versions()
        expired = vs[:-keep_last]
        if expired:
            summaries = [
                s for s in (self.snapshot(v).get("summary") for v in expired)
                if s
            ]
            if summaries:
                self._write_file(
                    self._meta(f"ledger-{uuid.uuid4().hex}.json"),
                    json.dumps({"summaries": summaries}),
                )
        for v in expired:
            self._fs.delete(self._Path(self._meta(f"v{v}.json")), False)
        return expired

    def committed_summaries(self) -> list[dict]:
        """Every commit summary visible to resume logic: live manifests
        PLUS the ledger entries preserved by ``expire_snapshots`` — so
        exactly-once dedup of partition keys / stream batches survives
        retention."""
        out: list[dict] = []
        for st in self._fs.listStatus(self._Path(f"{self.base}/metadata")):
            name = st.getPath().getName()
            if name.startswith("ledger-") and name.endswith(".json"):
                out.extend(
                    json.loads(self._read_file(self._meta(name)))["summaries"]
                )
        for v in self.versions():
            s = self.snapshot(v).get("summary")
            if s:
                out.append(s)
        return out

    def vacuum_orphans(self, min_age_seconds: float = 0.0) -> list[str]:
        """Delete data dirs referenced by NO published manifest (crashed
        writers, lost CAS attempts) and stale tmp manifests. Never
        touches any published version's files.

        ``min_age_seconds`` skips unreferenced paths younger than the
        threshold: an IN-FLIGHT commit writes its data dir BEFORE
        publishing the manifest, so a concurrent vacuum with no age
        guard would delete it and the subsequent CAS would publish a
        manifest pointing at deleted files (Iceberg's
        remove_orphan_files requires an olderThan interval for exactly
        this race — production maintenance should pass hours, not 0)."""
        live: set[str] = set()
        for v in self.versions():
            live.update(self.snapshot(v)["files"])
        cutoff_ms = (time.time() - min_age_seconds) * 1000.0
        removed = []
        for st in self._fs.listStatus(self._Path(f"{self.base}/data")):
            name = st.getPath().getName()
            if name not in live and st.getModificationTime() <= cutoff_ms:
                self._fs.delete(st.getPath(), True)
                removed.append(f"data/{name}")
        for st in self._fs.listStatus(self._Path(f"{self.base}/metadata")):
            name = st.getPath().getName()
            if name.startswith("tmp-") and (
                st.getModificationTime() <= cutoff_ms
            ):
                self._fs.delete(st.getPath(), False)
                removed.append(f"metadata/{name}")
        return removed


def run_resumable_snapshots(
    spark: SparkSession,
    partition_keys: list[str],
    make_df,
    base: str,
    stats_cols: list[str] | None = None,
    done: set[str] | None = None,
) -> list[int]:
    """Resumable ingestion over SnapshotTable: each input partition
    commits as ONE append snapshot whose summary records the partition
    key, so a killed run resumes from the last COMMITTED snapshot —
    already-committed keys are skipped, a partition that died mid-write
    left only an orphan data dir no reader ever lists (vacuum removes
    it), and concurrent readers see every intermediate state as a
    consistent snapshot instead of a half-visible directory tree.

    Returns the versions committed by THIS run. Exactly-once per
    partition key holds because the skip set is derived from committed
    manifests (and the retention ledger) only. ``stats_cols`` records
    per-file bounds on each commit so downstream readers can file-skip.
    ``done`` passes in the committed keys when the caller has already
    read them (``SnapshotTable.committed_partitions``)."""
    table = SnapshotTable(spark, base, stats_cols=stats_cols)
    if done is None:
        done = table.committed_partitions()
    out: list[int] = []
    for key in partition_keys:
        if key in done:
            continue
        out.append(
            table.commit_append(
                make_df(key), summary={"partition_key": key}
            )
        )
    return out
