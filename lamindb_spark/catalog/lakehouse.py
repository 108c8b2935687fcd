"""Parquet-backed registry catalog — the engine's metadata tier.

The reference stores registries in SQLite/Postgres via an ORM; here
every registry is a Parquet table under ``{root}/registries/{name}``,
read as a DataFrame. Inserts are O(batch) parquet appends (new part
file, opportunistic compaction); updates/deletes rewrite via an
anti-join MERGE shape (write to ``.tmp`` dir → rename swap); ids come
from a persisted per-registry counter. On the write path the driver
holds only the rows of the batch's uids: a driver read streams the
files and keeps the matches, a Spark scan collects just those rows.
Payload writes go under the storage root like the reference's
artifact keys.

Write concurrency: plain Parquet has no transactions — single-writer
discipline per registry with atomic directory swap (documented
limitation, SURVEY §7.4; the reference leans on DB transactions,
``sqlrecord.py:670-680``). At cluster scale the same layout maps 1:1
onto a table format with ACID commits; the engine API would not change.

Capabilities mapped from the reference:
- ingest + content-hash dedup  (``artifact.py:384-505``)
- versioning: stem+suffix uids, per-(family, branch) ``is_latest``
  head maintenance (``_is_versioned.py:215-373``)
- soft delete / restore via branch_id (trash = −1)
- bulk save upsert (``save.py:29-226``): anti-join inserts + overwrite
- payload open returning a lazy DataFrame (``artifact.py:2920``) with
  run-input lineage tracking (``artifact.py:3783``)
"""

from __future__ import annotations

import datetime
import hashlib
import itertools
import os
import shutil
import uuid
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import _create_row, _make_type_verifier

import logging

logger = logging.getLogger("lamindb_spark")

from ..functions.ids import base62, generate_uid, increment_suffix
from ..operators.filters import ARROW_LOOKUP_NAMES, arrow_lookup_ok, arrow_mask, compile_lookup
from ..operators.windows import mark_latest
from ..sources.readers import read_payload
from .commitlog import file_batches, write_parquet
from .payloadstore import (
    HadoopPayloadStore,
    PayloadStore,
    PosixPayloadStore,
    is_remote_scheme,
)
from .schemas import (
    MAIN_BRANCH_ID,
    REGISTRY_SCHEMAS,
    TRASH_BRANCH_ID,
    UID_LENGTHS,
    VERSIONED_REGISTRIES,
    FieldValidationError,
    validate_fields,
)


_POSIX_STORE = PosixPayloadStore()


def _now() -> datetime.datetime:
    return datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)


def _fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem that Spark's own
    ``SaveMode.Ignore`` consults — correct for object-store roots
    (``s3a://…``) where ``os.path.exists`` is always False (ADVICE r10:
    the posix check let the Ignore short-circuit skip the job while the
    Observation stayed attached, so ``obs.get`` hung on exactly the
    deployments the guard was added for). Falls back to ``os.path``
    only when no JVM gateway is reachable (never in practice)."""
    try:
        return HadoopPayloadStore(spark).exists(path)
    except Exception:
        return os.path.exists(path)


def _local_path(path: str) -> str:
    """Normalize a ``file:`` URI to a plain posix path (``file:/x``,
    ``file:///x`` → ``/x``) so driver-side helpers (hash, copy,
    isdir) serve ``file:``-schemed storage roots — the scheme Spark
    itself emits for local writes. Other schemes pass through: the
    payload helpers are documented single-writer local paths
    (object-store payload I/O is routed through Spark jobs and the
    Hadoop FS guard, not these helpers)."""
    if path.startswith("file:"):
        rest = path[5:]
        if rest.startswith("//"):
            # RFC 8089 authority form: file://<host>/x — only an empty
            # or localhost authority is the local filesystem; anything
            # else must not be silently rewritten to /<host>/x
            authority, _, tail = rest[2:].partition("/")
            if authority not in ("", "localhost"):
                raise ValueError(
                    f"non-local file URI authority {authority!r} in {path!r}"
                )
            rest = "/" + tail
        return rest or "/"
    return path


def hash_file(path: str, store: PayloadStore | None = None) -> str:
    """Content hash of a payload file (md5, streamed) — same role as
    the reference's ingest hashing (``artifact.py:399-418``). Routed
    through the payload store so schemed roots hash JVM-side."""
    return (store or _POSIX_STORE).md5(path)


def hash_dir(path: str, store: PayloadStore | None = None) -> tuple[str, int, int]:
    """(hash, total_size, n_files) for a directory: md5 of sorted
    per-file hashes (order-independent, like the reference's dir hash)."""
    store = store or _POSIX_STORE
    hashes = []
    total = 0
    n = 0
    base = path.rstrip("/")
    for rel, sz in store.walk_stats(path):
        if rel.rsplit("/", 1)[-1].startswith(("_", ".")):
            continue  # spark _SUCCESS / checksums
        hashes.append(store.md5(f"{base}/{rel}"))
        total += sz
        n += 1
    agg = hashlib.md5("".join(sorted(hashes)).encode()).hexdigest()
    return agg, total, n


def _group_feature_values(ann_rows) -> dict:
    """feature_name -> list of parsed json values (insertion order)."""
    import json as _json

    out: dict = {}
    for r in ann_rows:
        out.setdefault(r["feature_name"], []).append(_json.loads(r["value_json"]))
    return out


#: A registry whose live files are all local and total at most this
#: many bytes is read on the driver by ``Lakehouse._registry_table``
#: (pyarrow, no Spark job) for point lookups and QuerySet terminals; a
#: larger or remote one is scanned by Spark.
#: ``scripts/driver_read_limit.py`` measured the two paths on a 4-core
#: host with a synthetic 16-file artifact registry. At 63 MiB (two
#: runs) a driver ``get`` / dedup / 100-uid batch took 104-131 /
#: 146-156 / 172-188 ms against Spark's 512-534 / 462-514 / 502-536 ms
#: and raised ``memory_mb`` by 26-27 MB against Spark's 44-45 MB. The
#: margin narrows with size: at 449 MiB (one run) it was 884 / 996 /
#: 1077 ms against 1480 / 1254 / 1239 ms, which puts the crossover
#: near 0.55 GiB on four local cores (more executors would move it
#: lower; not measured). The limit sits well below it, where a driver
#: lookup stays under 0.2 s. Set evaluation was measured at the same
#: 63 MiB (one run, a prefix plus an EAV lookup matching 90% of the
#: rows): ``filter(...).to_list`` of 792k uids took 1.65 s against
#: Spark's 5.95 s, the default 20-row ``to_dataframe`` with the pivot
#: 1.40 s against 2.91 s, so 64 MiB is below that crossover too.
#: Rewrites (``--update``, one run per path and size, the 16 files
#: each touched by a 16-row update) cross over sooner, as one driver
#: thread writes against four Spark ones. Bucketed ``save``: 1.49 s
#: against Spark's 1.87 s at 63 MiB, 6.19 s against 4.50 s at 254 MiB,
#: a crossover near 0.1 GiB of touched buckets. Commit-log
#: ``merge_rows`` against ``merge_into``: 0.96 / 2.24 s at 62 MiB,
#: 3.14 / 3.97 s at 250 MiB, 14.5 / 12.9 s at 993 MiB, a crossover
#: near 0.5 GiB. So ``_update_buckets`` keeps the Spark rewrite for
#: touched files over this limit, which sits below both crossovers.
_DRIVER_READ_MAX_BYTES = 64 << 20


def _hidden_path(name: str) -> bool:
    """Spark's file-index rule for names it never reads
    (``InMemoryFileIndex.shouldFilterOutPathName``): ``.``-names and
    ``_``-names, except ``_`` partition dirs such as ``__bucket=3``."""
    return (
        name.startswith(".")
        or (name.startswith("_") and "=" not in name)
        or name.endswith("._COPYING_")
    )


def _visible_files(table_path: str) -> list[str]:
    """The data files a Spark scan of ``table_path`` reads."""
    out = []
    for d, subdirs, files in os.walk(table_path):
        subdirs[:] = sorted(s for s in subdirs if not _hidden_path(s))
        out.extend(os.path.join(d, f) for f in sorted(files) if not _hidden_path(f))
    return out


def _parse_lookups(schema, lookups: dict[str, Any]) -> list[tuple[str, str, Any]]:
    """``col=v`` / ``col__<lookup>=v`` → (column, lookup, value)
    triples, for the lookups ``operators.filters.arrow_mask`` covers."""
    out = []
    for k, v in lookups.items():
        col, sep, op = k.rpartition("__")
        if not sep or op not in ARROW_LOOKUP_NAMES:
            col, op = k, "exact"
        if col not in schema.names:
            raise KeyError(f"unknown registry field {col!r}; known: {schema.names}")
        out.append((col, op, v))
    return out


def _arrow_types(schema) -> dict[str, pa.DataType]:
    return {f.name: to_arrow_type(f.dataType) for f in schema.fields}


def _read_table_local(schema, files: list[str], columns: list[str], conds) -> pa.Table:
    """``columns`` of the rows of ``files`` matching every condition,
    read with pyarrow and typed as ``to_arrow_type`` of the registry
    schema (the types Spark's Arrow transfer uses). Each file's
    condition columns are read and masked first; only files with a
    match pay the read of ``columns``. Both passes read through
    ``commitlog.file_batches`` (the one per-file read rule: 8192-row
    batches through a 64 KiB buffer, a missing column as nulls, as
    under ``spark.read.schema(...)``), so the Arrow memory held at
    once is one batch, one page and one dictionary per column, and the
    matched rows, whatever the file size. ``pq.read_table`` and
    ``pyarrow.dataset`` stay unused: importing the latter costs tens
    of MB of driver memory."""
    types = _arrow_types(schema)
    typed = lambda names: pa.schema([(c, types[c]) for c in dict.fromkeys(names)])
    keys = typed(c for c, _op, _v in conds)
    need = typed([*columns, *keys.names])

    def mask(b):
        m = None
        for col, op, value in conds:
            c = arrow_mask(op, b.column(col), value)
            m = c if m is None else pc.and_(m, c)
        return m

    out = []
    for path in files:
        if conds and not any(pc.any(mask(b)).as_py() for b in file_batches(path, keys)):
            continue
        for b in file_batches(path, need):
            if conds:
                b = b.filter(mask(b))
                if not b.num_rows:
                    continue
            out.append(b.select(columns))
    return pa.Table.from_batches(out, typed(columns))


def _table_values(schema, table: pa.Table) -> list[list]:
    """``table``'s columns as the Python values a Spark ``collect()``
    of the same columns holds (``fromInternal``; timestamps as int64
    µs)."""
    out = []
    for name, c in zip(table.column_names, table.columns):
        dt = schema[name].dataType
        if pa.types.is_timestamp(c.type):
            c = c.cast(pa.int64())
        values = c.to_pylist()
        out.append([dt.fromInternal(v) for v in values] if dt.needConversion() else values)
    return out


def _rows_table(schema, rows: list[dict[str, Any]]) -> pa.Table:
    """``rows`` (dicts; missing fields are null) as a pyarrow Table
    typed as ``_arrow_types(schema)``, converted as ``createDataFrame``
    converts them: each row first passes pyspark's type verifier (so a
    bad row raises before anything is written), then ``toInternal``
    (a naive datetime is local time, as in ``createDataFrame``)."""
    verify = _make_type_verifier(schema)
    values = []
    for r in rows:
        row = tuple(r.get(f.name) for f in schema.fields)
        verify(row)
        values.append(schema.toInternal(row))
    types = _arrow_types(schema)
    cols = list(zip(*values)) or [()] * len(schema.fields)
    return pa.table(
        [pa.array(c, types[f.name]) for f, c in zip(schema.fields, cols)],
        names=schema.names,
    )


def _table_rows(schema, table: pa.Table) -> list[Row]:
    """``table``'s rows as the ``Row`` objects a Spark ``collect()`` of
    the same columns returns."""
    names = table.column_names
    return [_create_row(names, v) for v in zip(*_table_values(schema, table))]


def _newest(rows, *cols: str):
    """The first row that sorts highest on ``cols`` (default
    ``created_at``), nulls lowest — ``orderBy(desc(...)).first()``
    over already-collected rows; None when ``rows`` is empty."""
    cols = cols or ("created_at",)
    return max(
        rows, key=lambda r: tuple((r[c] is not None, r[c]) for c in cols), default=None
    )


class Lakehouse:
    """SparkSession-scoped engine catalog (SURVEY §7.0 design stance)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        current_branch_id: int = MAIN_BRANCH_ID,
        payload_store: PayloadStore | None = None,
        registry_log_store=None,
    ):
        self.spark = spark
        self.root = _local_path(root.rstrip("/"))
        # Registry tier selection (VERDICT r11 #2):
        # - default (local root, no log store): bucketed parquet with
        #   rename swaps + counter sidecar — single-writer by
        #   documented design, zero extra I/O per read.
        # - ``registry_log_store=`` (any LogStore — posix, in-memory,
        #   S3): every registry becomes a COMMIT-LOG table
        #   (catalog/commitlog.py): appends are staged files + one
        #   atomic put-if-absent commit, updates are optimistic MERGE
        #   commits, ids come from the conditional-put reservation
        #   ledger (catalog/idalloc.py). Any number of concurrent
        #   appenders coordinate only on tiny commit objects; this is
        #   the transactional tier the reference gets from DB
        #   transactions (``sqlrecord.py:670-680``).
        # A schemed (object-store) root REQUIRES the commit-log tier:
        # the Hadoop FS has no conditional put, so the bucketed tier's
        # rename swaps and sidecar would split-brain there.
        self.registry_log_store = registry_log_store
        self._use_commitlog = registry_log_store is not None
        if is_remote_scheme(self.root) and not self._use_commitlog:
            raise ValueError(
                f"a schemed lake root ({root!r}) requires the commit-log "
                "registry tier: pass registry_log_store=S3LogStore(...) "
                "(catalog/logstore.py) — or use a local registry root "
                "with a schemed STORAGE root for object-store payloads"
            )
        self.current_branch_id = current_branch_id
        self.current_run_id: int | None = None
        # reference ``settings.track_run_inputs`` (core/_settings.py:116):
        # when False, reads record run-input lineage only on an explicit
        # is_run_input=True; when True (default), any read under an
        # active run records it
        self.track_run_inputs: bool = True
        # instance settings object (reference ``ln.settings``): creation
        # / annotation toggles + verbosity, per-lakehouse (settings.py)
        from ..settings import Settings

        self.settings = Settings(_lakehouse=self)
        # payload ingest I/O seam (VERDICT r10 #4): posix by default,
        # upgraded per path to the Hadoop store for remote-schemed
        # paths (`_store_for`); injectable for tests and deployments
        # with their own client
        self.payload_store = payload_store or PosixPayloadStore()
        self._hadoop_store: HadoopPayloadStore | None = None
        if not is_remote_scheme(self.root):
            os.makedirs(f"{self.root}/registries", exist_ok=True)
            os.makedirs(f"{self.root}/storage", exist_ok=True)
        self._init_core_rows()

    def _store_for(self, *paths: str) -> PayloadStore:
        """The payload store that can serve ALL of ``paths``: the
        configured store unless any path is remote-schemed, in which
        case the (cached) Hadoop store — it resolves the filesystem
        per path, so mixed local/remote pairs (ingest a local file
        into an ``s3a://`` storage root) work through one store."""
        if any(is_remote_scheme(p) for p in paths) and not isinstance(
            self.payload_store, HadoopPayloadStore
        ):
            if self._hadoop_store is None:
                self._hadoop_store = HadoopPayloadStore(self.spark)
            return self._hadoop_store
        return self.payload_store

    # ---------------------------------------------------------- registry io
    #
    # Layout: every registry is a parquet dir hash-bucketed on its id —
    # ``<name>/__bucket=<id % n_buckets>/part-*.parquet``. Inserts
    # append files into only the touched buckets; UPDATES rewrite only
    # the touched buckets (copy-on-write per bucket, VERDICT r02 #6)
    # instead of the whole table. This is the plain-parquet shape of a
    # table format's partition-scoped MERGE; on a cluster the bucket
    # column doubles as a co-location key.
    #
    # Registry reads run no Spark job: point lookups
    # (``_registry_rows``: get, dedup/family/storage probes, describe,
    # open) and QuerySet terminals (``QuerySet._on_driver``: filter,
    # count, first/one, get(**kwargs), to_dataframe) take the live
    # file list (a hidden-path-aware walk here, the commit-log
    # snapshot on that tier) and read it on the driver with pyarrow
    # (``_registry_table``): only the columns asked for, condition
    # columns first, in streamed batches that keep only matching rows.
    # Nothing is cached, so a read always sees the latest commit. Only
    # a registry over ``_DRIVER_READ_MAX_BYTES`` (where that limit
    # comes from is noted at the constant) or with remote files goes
    # back to a Spark scan of the same list.
    #
    # Registry writes run no Spark job either on a local root: the
    # rows of an append or an update are already a Python list, so
    # ``_rows_table`` converts them to Arrow as ``createDataFrame``
    # would and ``commitlog.write_parquet`` writes each file under a
    # hidden temp name renamed into place. Appends write one file per
    # touched bucket (one staged file plus an append commit on the
    # commit-log tier); updates stream the touched buckets (the
    # touched files, ``commitlog.merge_rows``) when they fit under the
    # same byte limit, and otherwise rewrite them with Spark, whose
    # parallel writers win on large rewrites (see the constant). Only
    # a remote table path stages appends with Spark. Full rewrites
    # (``_overwrite``: delete/restore/compaction) stay Spark jobs.

    #: id-hash fan-out per registry. 16 keeps small lakes readable;
    #: the layout supports any value — changing it only requires one
    #: compaction rewrite (buckets are re-derived from ids).
    n_buckets: int = 16

    def _table_path(self, name: str) -> str:
        return f"{self.root}/registries/{name}"

    def _exists(self, name: str) -> bool:
        if self._use_commitlog:
            return self._cl_log(name)._head_version() >= 0
        return os.path.isdir(self._table_path(name))

    # ------------------------------------------- commit-log registry tier
    #
    # Active when ``registry_log_store`` is set (see __init__). Every
    # primitive below has a bucketed-parquet twin; call sites are
    # identical, so the whole API surface (save / ingest / delete /
    # versioning / queries) runs unchanged on either tier.

    def _cl_log(self, name: str):
        from .commitlog import CommitLog

        return CommitLog(self._table_path(name), self.registry_log_store)

    def _cl_files(self, name: str) -> list[str]:
        _v, files = self._cl_log(name).snapshot()
        return files

    def _list_stage_files(self, stage_path: str) -> list[str]:
        """Basenames of the parquet files a staged write produced —
        os.listdir locally, the Hadoop FS for schemed roots."""
        if is_remote_scheme(stage_path):
            store = self._store_for(stage_path)
            return [
                rel
                for rel, _sz in store.walk_stats(stage_path)
                if rel.endswith(".parquet") and "/" not in rel
            ]
        return [f for f in os.listdir(stage_path) if f.endswith(".parquet")]

    def _cl_stage(self, name: str, df: DataFrame) -> list[str]:
        """Write ``df`` under a private stage dir inside the table
        path; returns table-relative file paths (invisible to readers
        until committed — commit-log protocol step 1)."""
        stage = f"stage-{uuid.uuid4().hex[:12]}"
        stage_path = f"{self._table_path(name)}/{stage}"
        df.write.mode("overwrite").parquet(stage_path)
        return [f"{stage}/{f}" for f in self._list_stage_files(stage_path)]

    def _cl_append(self, name: str, df: DataFrame) -> None:
        """Append = stage + one atomic commit; append-only commits are
        conflict-free (the log retries version collisions internally),
        so ANY number of writers can ingest concurrently."""
        files = self._cl_stage(name, df.coalesce(1))
        self._cl_log(name).commit(add=files, metadata={"op": "append"})

    def _cl_overwrite(self, name: str, df: DataFrame) -> None:
        """Rewrite = stage the new table + one optimistic commit that
        swaps the files THE CALLER'S PLAN READ (recorded by read_raw
        — the rewrite contract is read → transform → overwrite, which
        every in-engine caller follows inline). Rows a concurrent
        APPEND committed in between live in their own files, stay out
        of the remove set, and survive the swap (serialized as
        arriving after the rewrite). A concurrent REWRITE that already
        removed an input makes the commit raise CommitConflictError —
        the loser's staged files stay invisible, nothing is corrupted,
        and the caller re-plans against the fresh snapshot."""
        log = self._cl_log(name)
        old = getattr(self, "_cl_read_files", {}).get(name)
        if old is None:
            _v, old = log.snapshot()
        files = self._cl_stage(name, df)
        log.commit(
            add=files,
            remove=[os.path.relpath(p, self._table_path(name)) for p in old],
            metadata={"op": "overwrite"},
        )
        # the recorded read snapshot is now consumed; a second rewrite
        # without a fresh read must fall back to the live snapshot
        getattr(self, "_cl_read_files", {}).pop(name, None)

    def _bucket_key(self, name: str) -> tuple[str, bool]:
        """(column, is_numeric): bucket on id when the registry has one
        (id-scoped updates then prune to their bucket); link/EAV tables
        bucket on their first FK / entity column."""
        schema = REGISTRY_SCHEMAS[name]
        fields = [f.name for f in schema.fields]
        key = "id" if "id" in fields else fields[0]
        kind = dict((f.name, f.dataType.typeName()) for f in schema.fields)[key]
        return key, kind in ("long", "integer", "short", "byte")

    def _with_bucket(self, df: DataFrame, name: str) -> DataFrame:
        """``df`` with the ``__bucket`` column ``_buckets`` computes on
        the driver: ``pmod(coalesce(key, 0), n_buckets)`` for a numeric
        key, 0 for a string key (``annotation`` and ``actions``: both
        are appended to or rewritten whole, never pruned by bucket)."""
        key, numeric = self._bucket_key(name)
        if not numeric:
            return df.withColumn("__bucket", F.lit(0))
        col = F.coalesce(F.col(key).cast("long"), F.lit(0))
        return df.withColumn(
            "__bucket", F.pmod(col, F.lit(self.n_buckets)).cast("int")
        )

    def _buckets(self, name: str, rows: list[dict[str, Any]]) -> list[int]:
        """The ``__bucket`` of each of ``rows`` (see ``_with_bucket``)."""
        key, numeric = self._bucket_key(name)
        if not numeric:
            return [0] * len(rows)
        return [(r.get(key) or 0) % self.n_buckets for r in rows]

    def _refresh(self, name: str) -> None:
        """Invalidate any cached/persisted plans over this registry's
        path after a write — Spark caches by logical plan (rootPaths),
        so a persisted registry otherwise keeps serving pre-write
        rows."""
        try:
            self.spark.catalog.refreshByPath(self._table_path(name))
        except Exception:  # pragma: no cover — refresh is best-effort
            pass

    #: membership-probe literals above this size become a broadcast
    #: semi-join (same threshold as ``query.py`` to_dataframe): a
    #: several-100k-value ``isin`` list bloats the Catalyst plan tree
    #: (ADVICE r11 — register_dir's batch hashes/keys at its own
    #: advertised scale recreated the problem this limit fixed there).
    _PROBE_ISIN_MAX: int = 256

    def _filter_in(self, df: DataFrame, col, values) -> DataFrame:
        """``df`` rows whose ``col`` (a Column expression) is in
        ``values``: literal ``isin`` for small sets, broadcast
        semi-join above ``_PROBE_ISIN_MAX`` — O(1) plan size and a
        hash-probe instead of a giant OR chain."""
        vals = sorted(set(values))
        if not vals:
            return df.filter(F.lit(False))
        if len(vals) <= self._PROBE_ISIN_MAX:
            return df.filter(col.isin(vals))
        probe = self.spark.createDataFrame([(v,) for v in vals], "__probe_v string")
        return (
            df.join(F.broadcast(probe), col == F.col("__probe_v"), "inner")
            .drop("__probe_v")
        )

    def _has_flat_files(self, name: str) -> bool:
        """Legacy pre-bucketing layout: part files at the table root."""
        try:
            return any(
                f.endswith(".parquet") for f in os.listdir(self._table_path(name))
            )
        except OSError:
            return False

    def _ensure_bucketed(self, name: str) -> None:
        """One-time migration of a legacy flat registry dir — a single
        rewrite, after which all writes are bucket-scoped."""
        if self._use_commitlog:
            return  # commit-log tables are file-list-addressed, not bucketed
        if self._exists(name) and self._has_flat_files(name):
            flat = self.spark.read.schema(REGISTRY_SCHEMAS[name]).parquet(
                self._table_path(name)
            )
            self._overwrite(name, flat)

    def read_raw(self, name: str, version: int | None = None) -> DataFrame:
        """Registry scan WITHOUT default filters (engine internal).

        ``version`` (commit-log tier only) time-travels the registry
        to an earlier committed snapshot — free from the log, the
        audit capability the reference models with explicit
        ``created_at``/history rows. Snapshots older than the log
        retention window raise from the log layer."""
        if name not in REGISTRY_SCHEMAS:
            raise KeyError(f"unknown registry {name!r}; known: {sorted(REGISTRY_SCHEMAS)}")
        if version is not None and not self._use_commitlog:
            raise ValueError(
                "registry time travel needs the commit-log tier "
                "(Lakehouse(registry_log_store=...))"
            )
        if self._use_commitlog and version is not None:
            _v, files = self._cl_log(name).snapshot(version)
            if not files:
                return self.spark.createDataFrame([], REGISTRY_SCHEMAS[name])
            return self.spark.read.schema(REGISTRY_SCHEMAS[name]).parquet(*files)
        if self._use_commitlog:
            files = self._cl_files(name)
            # remember the exact snapshot this scan pins (plans bake
            # their file list at construction): _cl_overwrite removes
            # PRECISELY these files, so rows committed between this
            # read and a later rewrite survive in their own live files
            # instead of being silently dropped by the swap
            if not hasattr(self, "_cl_read_files"):
                self._cl_read_files: dict[str, list[str]] = {}
            self._cl_read_files[name] = files
            if not files:
                return self.spark.createDataFrame([], REGISTRY_SCHEMAS[name])
            # scan exactly the published snapshot — staged/orphaned
            # files are invisible (commit-log protocol step 4)
            return self.spark.read.schema(REGISTRY_SCHEMAS[name]).parquet(*files)
        if not self._exists(name):
            return self.spark.createDataFrame([], REGISTRY_SCHEMAS[name])
        df = self.spark.read.schema(REGISTRY_SCHEMAS[name]).parquet(self._table_path(name))
        return df.drop("__bucket")

    def _live_files(self, registry: str) -> list[str]:
        """The files a Spark scan of ``registry`` reads now (never
        recorded as a rewrite snapshot, unlike ``read_raw``)."""
        if self._use_commitlog:
            return self._cl_files(registry)
        return _visible_files(self._table_path(registry))

    def _registry_table(self, registry: str, columns: list[str], /, **lookups: Any):
        """``columns`` of the rows ``read_raw(registry).filter(...)``
        returns, as a pyarrow Table read on the driver (see the
        registry-io notes above), for ``col=v`` / ``col__<lookup>=v``
        lookups ANDed (no branch filter). None when the driver cannot
        serve it: a remote file, the files over
        ``_DRIVER_READ_MAX_BYTES``, or a lookup ``arrow_mask`` does
        not cover for that column type."""
        schema = REGISTRY_SCHEMAS[registry]
        conds = _parse_lookups(schema, lookups)
        types = _arrow_types(schema)
        if not all(arrow_lookup_ok(op, types[c], v) for c, op, v in conds):
            return None
        files = self._live_files(registry)
        if any(is_remote_scheme(p) for p in files):
            return None
        files = [_local_path(p) for p in files]
        if sum(os.path.getsize(p) for p in files) > _DRIVER_READ_MAX_BYTES:
            return None
        return _read_table_local(schema, files, columns, conds)

    def _registry_rows(self, registry: str, /, **lookups: Any) -> list[Row]:
        """The rows ``read_raw(registry).filter(...).collect()`` returns
        for ``_registry_table``'s lookups: its table as Rows, or a Spark
        scan of the same live files when the driver cannot serve it."""
        schema = REGISTRY_SCHEMAS[registry]
        table = self._registry_table(registry, schema.names, **lookups)
        if table is not None:
            return _table_rows(schema, table)
        files = self._live_files(registry)
        if not files:
            return []
        df = self.spark.read.schema(schema).parquet(*files).select(*schema.names)
        for col, op, value in _parse_lookups(schema, lookups):
            if op == "in":
                df = self._filter_in(df, F.col(col), value)
            else:
                df = df.filter(compile_lookup(f"{col}__{op}", value))
        return df.collect()

    def read(self, name: str) -> DataFrame:
        """Registry scan with the default branch predicate injected
        (reference F3: see {current branch, main}, never trash)."""
        df = self.read_raw(name)
        if "branch_id" not in df.columns:
            return df
        return df.filter(
            F.col("branch_id").isin([self.current_branch_id, MAIN_BRANCH_ID])
        )

    def persist_registries(self, names: list[str] | None = None) -> list[str]:
        """Pin hot registries in executor memory (S8 analogue — the
        reference's local cache dir exists because its engines re-read
        cloud files; Spark reads remote storage directly, so the cache
        equivalent is ``persist()`` on the branch-filtered scans that
        every query touches). Evictable MEMORY_AND_DISK. Writes
        invalidate via ``refreshByPath`` (see ``_refresh``), so cached
        plans re-materialize lazily after any append/rewrite — without
        that, a cached registry served STALE rows after writes, and
        re-calling persist() on the equivalent plan was a silent no-op
        (review finding)."""
        done = []
        for name in names or sorted(REGISTRY_SCHEMAS):
            if self._exists(name):
                self.read(name).persist()
                done.append(name)
        return done

    def register_sql_views(self, prefix: str = "", latest_only: bool = True) -> list[str]:
        """Expose every materialized registry as a temp view WITH the
        default branch predicate baked in, so raw ``spark.sql()`` gets
        the same soft-delete/branch semantics as the QuerySet API
        (SURVEY §7.3 — the analyzer-rule alternative, done at the view
        layer where it is testable and engine-version-proof). Raw
        unfiltered access stays available via ``read_raw``.

        Versioned registries (artifact/transform/collection) also get
        the per-branch version-head semantics (VERDICT r5 #10):
        ``SELECT * FROM artifact`` returns ONE latest row per version
        family per visible branch — the stored ``is_latest`` flag,
        which ``_reconcile_is_latest`` maintains per (stem uid,
        branch), is simply filtered, so the view costs no window at
        read time. Full history stays queryable via the companion
        ``<name>_versions`` view (branch-filtered, all versions), or
        pass ``latest_only=False`` to keep the old all-versions
        behavior on the main view name."""
        created = []
        for name in REGISTRY_SCHEMAS:
            if self._exists(name):
                view = f"{prefix}{name}"
                df = self.read(name)
                if latest_only and name in VERSIONED_REGISTRIES:
                    df.createOrReplaceTempView(f"{view}_versions")
                    created.append(f"{view}_versions")
                    df = df.filter(F.col("is_latest"))
                df.createOrReplaceTempView(view)
                created.append(view)
        return created

    def _overwrite(self, name: str, df: DataFrame) -> None:
        """Atomic replace: write tmp dir, swap, drop old. Used only by
        operations that must rewrite rows in place (update/delete/
        reconcile); inserts go through ``_append`` which never rewrites.
        No ``coalesce(1)`` — the write keeps the plan's parallelism
        (Spark's scan-side file packing keeps small tables at one
        partition anyway; at cluster scale this op maps onto a table
        format's MERGE commit)."""
        if self._use_commitlog:
            self._cl_overwrite(name, df)
            self._refresh(name)
            return
        path = self._table_path(name)
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        self._with_bucket(df, name).write.mode("overwrite").partitionBy(
            "__bucket"
        ).parquet(tmp)
        old = f"{path}.old-{uuid.uuid4().hex[:8]}"
        if os.path.isdir(path):
            os.rename(path, old)
        os.rename(tmp, path)
        if os.path.isdir(old):
            shutil.rmtree(old, ignore_errors=True)
        self._refresh(name)

    def _append(self, name: str, rows: list[dict[str, Any]]) -> None:
        """Insert-only write: NEW parquet part-files appended to the
        registry — O(batch), never a table rewrite (the reference
        batches 10k-row DB inserts, ``save.py:129``; the table-format
        equivalent is an append commit). The rows are already on the
        driver, so a local registry writes them with pyarrow and runs
        no Spark job: one file per touched ``__bucket=`` dir on the
        bucketed tier, one staged file plus one append commit on the
        commit-log tier. A remote table path (commit log on an object
        store) stages the batch with a Spark write instead. Small files
        are compacted opportunistically."""
        if not rows:
            return
        schema = REGISTRY_SCHEMAS[name]
        full = [{f.name: r.get(f.name) for f in schema.fields} for r in rows]
        path = self._table_path(name)
        if is_remote_scheme(path):
            self._cl_append(name, self.spark.createDataFrame([Row(**r) for r in full], schema))
        elif self._use_commitlog:
            table = _rows_table(schema, full)
            rel = f"stage-{uuid.uuid4().hex[:12]}/part-0.parquet"
            write_parquet(f"{path}/{rel}", [table], table.schema)
            self._cl_log(name).commit(add=[rel], metadata={"op": "append"})
        else:
            table = _rows_table(schema, full)  # checks every row before any write
            self._ensure_bucketed(name)
            buckets = self._buckets(name, full)
            for k in sorted(set(buckets)):
                part = table.take([i for i, b in enumerate(buckets) if b == k])
                out = f"{path}/__bucket={k}/part-{uuid.uuid4().hex}.parquet"
                write_parquet(out, [part], table.schema)
        self._refresh(name)
        self._note_ids(name, full)
        self._maybe_compact(name)

    def _maybe_compact(self, name: str, max_files: int = 64) -> None:
        """Rewrite the registry once append-files accumulate — keeps the
        scan fast without paying a rewrite per insert. Commit-log tier:
        live-file count comes from the SNAPSHOT (no os.walk — the
        txn-committed equivalent, VERDICT r11 #2) and the rewrite is
        one optimistic swap commit; losing a compaction race to a
        concurrent writer just skips this round's compaction — the
        data is never at risk and the next append re-checks."""
        if self._use_commitlog:
            if len(self._cl_files(name)) > max_files:
                from .commitlog import CommitConflictError

                try:
                    self._cl_overwrite(name, self.read_raw(name).coalesce(1))
                except CommitConflictError:
                    pass  # a concurrent commit won; compact next time
            return
        path = self._table_path(name)
        try:
            n = sum(
                1
                for _dir, _sub, files in os.walk(path)
                for f in files
                if f.endswith(".parquet")
            )
        except OSError:
            return
        if n > max_files:
            self._overwrite(name, self.read_raw(name))

    # ------------------------------------------------------------- id alloc
    # Monotonic per-registry id counters persisted in a sidecar file —
    # no max(id) full-table scan per save (single-writer discipline, as
    # documented above; a cluster deployment would use the table
    # format's commit log or an external sequence).

    @property
    def _id_allocator(self):
        """Commit-log tier id source: the conditional-put reservation
        ledger (catalog/idalloc.py) — multi-writer-safe, replaces the
        single-writer sidecar below (VERDICT r11 #2)."""
        if getattr(self, "_id_alloc", None) is None:
            from .idalloc import LogIdAllocator

            self._id_alloc = LogIdAllocator(
                f"{self.root}/registries/_ids", self.registry_log_store
            )
        return self._id_alloc

    def _counters_path(self) -> str:
        return f"{self.root}/registries/_counters.json"

    def _read_counters_file(self) -> dict[str, int]:
        import json as _json

        try:
            with open(self._counters_path()) as fh:
                return {k: int(v) for k, v in _json.load(fh).items()}
        except (OSError, ValueError):
            return {}

    def _load_counters(self, refresh: bool = False) -> dict[str, int]:
        if getattr(self, "_id_counters", None) is None:
            self._id_counters = self._read_counters_file()
        elif refresh:
            # merge-max with the sidecar so two live instances on the
            # same root interleaving sequential saves never re-allocate
            # ids the other already handed out (concurrent writers are
            # still out of scope — single-writer discipline above).
            for k, v in self._read_counters_file().items():
                if self._id_counters.get(k, 0) < v:
                    self._id_counters[k] = v
        return self._id_counters

    def _persist_counters(self) -> None:
        import json as _json

        tmp = self._counters_path() + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump(self._id_counters, fh)
        os.replace(tmp, self._counters_path())

    def _note_ids(self, name: str, rows: list[dict[str, Any]]) -> None:
        """Advance the counter past explicitly-assigned ids (bootstrap
        rows, cross-instance transfers)."""
        ids = [r["id"] for r in rows if r.get("id") is not None]
        if not ids:
            return
        top = max(ids)
        if self._use_commitlog:
            self._id_allocator.note(name, top)
            return
        counters = self._load_counters()
        if counters.get(name, 0) < top:
            counters[name] = top
            self._persist_counters()

    def take_ids(self, name: str, n: int) -> int:
        """Reserve ``n`` consecutive ids; returns the first. Falls back
        to one max(id) scan only when adopting a pre-counter lake."""
        if self._use_commitlog:
            floor = 0
            if not self.store_has_ledger(name) and self._exists(name):
                # adopting a pre-ledger table: seed from max(id) once
                row = self.read_raw(name).agg(F.max("id").alias("m")).collect()[0]
                floor = int(row["m"] or 0)
            return self._id_allocator.take(name, n, floor=floor)
        counters = self._load_counters(refresh=True)
        if name not in counters:
            base = 0
            if self._exists(name):
                row = self.read_raw(name).agg(F.max("id").alias("m")).collect()[0]
                base = int(row["m"] or 0)
            counters[name] = base
        start = counters[name] + 1
        counters[name] = start + n - 1
        self._persist_counters()
        return start

    def registry_history(self, name: str) -> list[dict]:
        """Commit history of one registry (commit-log tier): version,
        timestamp, op, file counts — DESCRIBE HISTORY for the registry
        audit trail, read from metadata-sized commit objects only."""
        if not self._use_commitlog:
            raise ValueError(
                "registry history needs the commit-log tier "
                "(Lakehouse(registry_log_store=...))"
            )
        from .commitlog import history

        return history(self._table_path(name), self.registry_log_store)

    def store_has_ledger(self, name: str) -> bool:
        """True when the id ledger has any reservation for ``name``."""
        return self._id_allocator._tail(name) > 0

    def next_id(self, name: str) -> int:
        return self.take_ids(name, 1)

    # ---------------------------------------------------------- bootstrap

    def _init_core_rows(self) -> None:
        now = _now()
        if not self._exists("branch"):
            self._append(
                "branch",
                [
                    {"id": MAIN_BRANCH_ID, "uid": base62(12), "branch_id": MAIN_BRANCH_ID,
                     "name": "main", "status_code": 0, "created_at": now},
                    {"id": 0, "uid": base62(12), "branch_id": MAIN_BRANCH_ID,
                     "name": "archive", "status_code": 0, "created_at": now},
                    {"id": TRASH_BRANCH_ID, "uid": base62(12), "branch_id": MAIN_BRANCH_ID,
                     "name": "trash", "status_code": 0, "created_at": now},
                ],
            )
        if not self._exists("space"):
            self._append(
                "space",
                [{"id": 1, "uid": base62(12), "branch_id": MAIN_BRANCH_ID,
                  "name": "all", "created_at": now}],
            )
        if not self._exists("storage"):
            self._append(
                "storage",
                [{"id": 1, "uid": base62(12), "branch_id": MAIN_BRANCH_ID,
                  "root": f"{self.root}/storage", "type": "local", "created_at": now}],
            )

    # ---------------------------------------------------------- save/upsert

    def save(self, name: str, rows: list[dict[str, Any]]) -> list[dict[str, Any]]:
        """Bulk upsert (reference ``ln.save``/``save.py:29-126``): rows
        with a uid matching an existing row update it; others insert
        with fresh id/uid. Returns the saved rows (with ids).

        Scale shape (anti-join MERGE): the existing registry is never
        held on the driver — uid classification (``_rows_by_uid``)
        keeps only the stored rows of the batch's uids (a driver read
        streams the files in 8192-row batches, so it holds one batch
        plus the matches); inserts are an O(batch) parquet append;
        only matched updates pay a join-based rewrite."""
        now = _now()
        # Django-style field validation (docs/faq/validate-fields.md):
        # caller-supplied values only — merged/stored values were
        # validated when they were saved
        problems = [m for r in rows for m in validate_fields(name, r)]
        if problems:
            raise FieldValidationError("; ".join(problems))
        by_uid = self._rows_by_uid(name, [r["uid"] for r in rows if r.get("uid")])
        inserts, updates = [], []
        for row in rows:
            row = dict(row)
            if row.get("uid") in by_uid:
                # PARTIAL update semantics: caller-supplied fields
                # override, everything else (key/hash/created_at/...)
                # keeps the stored value — a full-row replacement
                # nulled every omitted column and reset created_at to
                # save time (review finding)
                current = by_uid[row["uid"]]
                merged = {**current, **row}
                merged["id"] = current["id"]
                updates.append(merged)
            else:
                row.setdefault("branch_id", self.current_branch_id)
                row.setdefault("created_at", now)
                if name in VERSIONED_REGISTRIES:
                    row.setdefault("is_latest", True)
                row.setdefault("uid", generate_uid(UID_LENGTHS.get(name, 12)))
                inserts.append(row)
        fresh = [r for r in inserts if r.get("id") is None]
        if fresh:
            nid = self.take_ids(name, len(fresh))
            for r in fresh:
                r["id"] = nid
                nid += 1
        if updates:
            self._update_buckets(name, updates)
        self._append(name, inserts)
        return inserts + updates

    def _update_buckets(self, name: str, updates: list[dict[str, Any]]) -> None:
        """Copy-on-write by id-bucket: only the buckets containing
        updated ids are re-read and atomically swapped; every other
        bucket's files are untouched (their mtimes are pinned by
        ``test_scale_write``). One updated row costs one bucket rewrite
        — 1/n_buckets of the table — not a full rewrite; the commit-log
        tier's analogue is a file-pruned MERGE commit.

        When the touched files are local and total at most
        ``_DRIVER_READ_MAX_BYTES``, the rewrite runs on the driver with
        no Spark job: each touched bucket's files are streamed in
        8192-row batches, the updated ids dropped, the bucket's updates
        added, and the result written as a new bucket dir
        (``commitlog.merge_rows`` on the commit-log tier). Above the
        limit, or with remote files, Spark rewrites them: past about
        0.1 GiB of touched files (0.5 GiB on the commit-log tier) its
        parallel writers beat the one driver thread (measured at the
        constant)."""
        schema = REGISTRY_SCHEMAS[name]
        full = [{f.name: r.get(f.name) for f in schema.fields} for r in updates]
        path = self._table_path(name)
        if self._use_commitlog:
            # the real table-format MERGE: footer-span file pruning +
            # one optimistic add/remove commit
            from .commitlog import merge_into, merge_rows

            key, _numeric = self._bucket_key(name)
            store = self.registry_log_store
            if is_remote_scheme(path) or merge_rows(
                path, _rows_table(schema, full), key, store, _DRIVER_READ_MAX_BYTES
            ) is None:
                upd_df = self.spark.createDataFrame([Row(**r) for r in full], schema)
                merge_into(self.spark, path, upd_df, key=key, store=store)
            self._refresh(name)
            return
        self._ensure_bucketed(name)
        upd_buckets = self._buckets(name, full)
        buckets = sorted(set(upd_buckets))
        files = {k: _visible_files(f"{path}/__bucket={k}") for k in buckets}
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        if sum(os.path.getsize(f) for k in buckets for f in files[k]) <= _DRIVER_READ_MAX_BYTES:
            upd = _rows_table(schema, full)
            gone = upd.column("id").combine_chunks()
            for k in buckets:
                kept = (
                    b.filter(pc.invert(pc.is_in(b.column("id"), value_set=gone)))
                    for f in files[k]
                    for b in file_batches(f, upd.schema)
                )
                mine = upd.take([i for i, b in enumerate(upd_buckets) if b == k])
                out = f"{tmp}/__bucket={k}/part-{uuid.uuid4().hex}.parquet"
                write_parquet(out, itertools.chain(kept, [mine]), upd.schema)
        else:
            upd_df = self.spark.createDataFrame([Row(**r) for r in full], schema)
            touched = (
                self.spark.read.schema(schema)
                .parquet(path)
                .filter(F.col("__bucket").isin(buckets))  # PartitionFilters prune
                .drop("__bucket")
            )
            kept = touched.filter(~F.col("id").isin([r["id"] for r in full]))
            self._with_bucket(kept.unionByName(upd_df), name).write.mode(
                "overwrite"
            ).partitionBy("__bucket").parquet(tmp)
        for k in buckets:
            src = f"{tmp}/__bucket={k}"
            dst = f"{path}/__bucket={k}"
            # displaced dir goes OUTSIDE the table path so a crash
            # between the renames can never corrupt partition discovery
            old = f"{path}.bktold-{k}-{uuid.uuid4().hex[:8]}"
            if os.path.isdir(dst):
                os.rename(dst, old)
            if os.path.isdir(src):
                os.rename(src, dst)
            shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
        self._refresh(name)

    # ---------------------------------------------------------- artifacts

    def _resolve_storage_root(self) -> tuple[int, str]:
        row = max(self._registry_rows("storage"), key=lambda r: len(r["root"]))
        return int(row["id"]), row["root"]

    def _storage_for_path(
        self, path: str, include_equal: bool = False
    ) -> tuple[int, str] | None:
        """Longest-prefix storage match (reference ``artifact.py:508-525``
        orders by root length desc — X7). Both sides are abspathed: a
        Lakehouse created with a RELATIVE root must still recognize its
        own managed paths, or managed files get re-copied under
        flattened keys (review finding).

        ``include_equal=True`` also matches ``path`` BEING a storage
        root (empty relative key) — register_dir over the root itself
        must reference files in place with root-relative keys, not
        re-copy the whole root into itself (ADVICE r11)."""
        apath = (
            path if is_remote_scheme(path) else os.path.abspath(_local_path(path))
        )
        rows = sorted(
            self._registry_rows("storage"), key=lambda r: len(r["root"]), reverse=True
        )
        for r in rows:
            aroot = (
                r["root"]
                if is_remote_scheme(r["root"])
                else os.path.abspath(_local_path(r["root"]))
            )
            if apath.startswith(aroot.rstrip("/") + "/") or (
                include_equal and apath.rstrip("/") == aroot.rstrip("/")
            ):
                return int(r["id"]), aroot
        return None

    def register_artifact(
        self,
        path: str,
        key: str | None = None,
        description: str | None = None,
        kind: str = "dataset",
        otype: str | None = None,
        run_id: int | None = None,
        schema_id: int | None = None,
        n_observations: int | None = None,
    ) -> dict[str, Any]:
        """Ingest a file/dir as an Artifact with content-hash dedup and
        version-family maintenance.

        Dedup (reference ``get_stat_or_artifact``): same hash in the
        caller's VISIBLE scope (current branch + main) → return the
        existing row, no new version.
        Versioning: same ``key``, new hash → new version in the same
        uid family (stem reuse + base62 suffix bump); the previous head
        loses ``is_latest``.

        Empty files: the hash lookup is skipped entirely (reference
        ``artifact.py:421-424`` — all empty files share one hash), so
        re-ingesting an unchanged empty file at the same key appends a
        NEW VERSION every call, exactly like the reference. This
        intentionally diverges from :meth:`register_dir`, whose bulk
        re-ingest contract ("re-running the directory is a no-op")
        requires key-dedup of unchanged empty files (ADVICE r11 —
        divergence documented on both APIs).
        """
        path = _local_path(path)
        store = self._store_for(path)
        if (
            run_id is None
            and self.current_run_id is None
            and not self.settings.creation.artifact_silence_missing_run_warning
        ):
            # reference warns at artifact creation without provenance
            # (records/_is_saved... "no run & transform get linked");
            # settings.creation.artifact_silence_missing_run_warning
            # turns it off for bulk scripted ingest
            logger.warning(
                "artifact %r gets no producing run — call track() first to "
                "link provenance (silence via settings.creation."
                "artifact_silence_missing_run_warning)",
                key or path,
            )
        skip_hash = self.settings.creation.artifact_skip_size_hash
        if store.is_dir(path):
            if skip_hash:
                # sizes come free from the listing; only the per-file
                # md5 round (the slow step on large payloads) is skipped.
                # Same hidden-file filter as hash_dir, or the same
                # payload would register with different size/n_files
                # depending on the setting (review finding)
                sizes = [
                    sz
                    for rel, sz in store.walk_stats(path)
                    if not rel.rsplit("/", 1)[-1].startswith(("_", "."))
                ]
                content_hash, size, n_files = None, sum(sizes), len(sizes)
            else:
                content_hash, size, n_files = hash_dir(path, store)
            suffix = os.path.splitext(path.rstrip("/"))[1]
        else:
            content_hash = None if skip_hash else store.md5(path)
            size, n_files = store.size(path), None
            suffix = os.path.splitext(path)[1]
        # dedup scope (reference get_stat_or_artifact, artifact.py:454
        # ~Q(branch_id=-1)): ALL non-trash branches — the same content
        # saved on two sibling work branches returns the existing row
        # instead of duplicating rows AND payload copies. A visible-
        # scope hit (current branch + main) is preferred when one
        # exists, so the returned row is openable by the caller
        # whenever possible (ADVICE r9: prefer-visible, then any
        # non-trash). Two targeted lookups instead of one capped take:
        # a visible hit beyond any fixed recency window must still win
        # (ADVICE r10 — many same-hash rows are realistic).
        # Empty FILES all share one hash; the reference skips the hash
        # lookup entirely so each empty path is a new artifact
        # (artifact.py:421-424, `n_files is None and size == 0`).
        skip_hash_lookup = skip_hash or (n_files is None and size == 0)
        if not skip_hash_lookup:
            same_hash = [
                r
                for r in self._registry_rows("artifact", hash=content_hash)
                if r["branch_id"] != TRASH_BRANCH_ID
            ]
            dup = _newest(
                [
                    r
                    for r in same_hash
                    if r["branch_id"] in (self.current_branch_id, MAIN_BRANCH_ID)
                ]
            ) or _newest(same_hash)
            if dup is not None:
                return dup.asDict()

        # storage resolution (reference semantics): a path already under
        # a managed storage root is referenced in place (key = relative
        # path); an external path is ingested — copied into the default
        # storage under its key.
        managed = self._storage_for_path(path)
        if managed is not None:
            storage_id, storage_root = managed
            if key is None:
                key = (
                    path[len(storage_root.rstrip("/")) + 1 :]
                    if is_remote_scheme(path)
                    else os.path.relpath(os.path.abspath(path), storage_root)
                )
        else:
            storage_id, storage_root = self._resolve_storage_root()
            key = key if key is not None else os.path.basename(path.rstrip("/"))
            target = _local_path(storage_root).rstrip("/") + "/" + key
            store = self._store_for(path, target)  # remote target ⇒ Hadoop
            need_copy = True
            if store.exists(target):
                # same key, existing payload: copy only if the BYTES
                # differ — skipping unconditionally registered a row
                # whose hash described bytes that never landed (review
                # finding). Differing bytes supersede the path (non-
                # virtual keys: root/key always serves the NEWEST
                # version's payload; older rows keep their hash as
                # provenance — the reference's key-path semantics).
                existing_hash = (
                    hash_dir(target, store)[0]
                    if store.is_dir(target)
                    else store.md5(target)
                )
                if existing_hash == content_hash:
                    need_copy = False
                else:
                    store.remove(target)
            if need_copy:
                if store.is_dir(path):
                    store.copy_tree(path, target)
                else:
                    store.copy_file(path, target)
        family = (
            _newest(
                self._registry_rows(
                    "artifact", key=key, branch_id=self.current_branch_id
                )
            )
            if key is not None
            else None
        )
        if family is not None:
            uid = self.next_version_uid("artifact", family["uid"][:16])
        else:
            uid = generate_uid(20)

        row = {
            "id": self.next_id("artifact"),
            "uid": uid,
            "key": key,
            "description": description,
            "storage_id": storage_id,
            "suffix": suffix,
            "kind": kind,
            "otype": otype,
            "size": size,
            "hash": content_hash,
            "n_files": n_files,
            "n_observations": n_observations,
            "run_id": run_id if run_id is not None else self.current_run_id,
            "schema_id": schema_id,
            "is_latest": True,
            "branch_id": self.current_branch_id,
            "space_id": 1,
            "created_at": _now(),
        }
        self._append("artifact", [row])
        if family is not None:
            # scoped to the family: a new version must not pay a
            # full-registry rewrite (review finding — O(registry) per
            # versioned ingest defeats the bucket-scoped design)
            self._reconcile_is_latest("artifact", stems=[uid[: self._stem_len("artifact")]])
        return row

    def register_dir(
        self,
        path: str,
        key: str | None = None,
        run_id: int | None = None,
    ) -> list[dict[str, Any]]:
        """S7 per-file directory ingest, BATCHED (reference
        ``Artifact.from_dir`` semantics, ``artifact.py:2698-2808``; bulk
        shape of ``save.py:29-126`` which inserts 10k-row batches): one
        artifact PER FILE under ``path`` (recursive), each keyed
        ``{folder_key}/{relative_path}``, all sharing ``run_id``.

        The whole directory pays a CONSTANT number of registry reads
        and writes (VERDICT r10 #3 — the old per-file
        ``register_artifact`` loop launched ~4 jobs and one 1-row
        parquet write per file, ~300k jobs for the reference's own
        several-100k-files case); on a local registry under
        ``_DRIVER_READ_MAX_BYTES`` none of them is a Spark job:

        1. driver-side stat+hash walk (pure file I/O, zero jobs),
        2. ONE dedup lookup — all batch hashes against non-trash rows,
           visible branch preferred (same scope as
           :meth:`register_artifact`),
        3. ONE key-family lookup (+ one suffix read only when a key
           already has a version family) for version bumps,
        4. ONE bulk ``_append`` of every new row,
        5. ONE family-scoped ``_reconcile_is_latest`` (skipped when no
           family was bumped).

        Re-ingesting the directory is a no-op (existing rows return)
        and intra-directory duplicate bytes resolve to ONE artifact row
        — the reference's duplicate-hash consolidation. Empty files
        skip the hash lookup (all empty files share one hash;
        reference ``artifact.py:421-424``) and instead dedup by key:
        an unchanged empty file re-ingests as the same row — a
        DELIBERATE divergence from :meth:`register_artifact`, which
        appends a new version per empty-file re-ingest like the
        reference's single-file path; the bulk contract here is
        idempotent re-runs (ADVICE r11 — documented on both APIs). Marker and
        hidden files (``_SUCCESS``, ``.part-*.crc``) are skipped —
        same rule as ``hash_dir``, so the per-file and one-artifact
        views of a directory agree. A directory already under a
        managed storage root is referenced in place with ROOT-relative
        keys (``folder_key`` is ignored — the key must resolve to the
        payload's actual location through ``artifact_path``).
        """
        path = _local_path(path)
        store = self._store_for(path)
        if not store.is_dir(path):
            raise NotADirectoryError(path)
        managed = self._storage_for_path(path, include_equal=True)  # one storage scan —
        # every file shares the directory's root, managed or external
        if managed is not None:
            storage_id, storage_root = managed
            prefix = (
                path if is_remote_scheme(path)
                else os.path.abspath(path)
            )[len(storage_root.rstrip("/")) + 1 :]
            folder_key = prefix.rstrip("/")
        else:
            storage_id, storage_root = self._resolve_storage_root()
            storage_root = _local_path(storage_root)
            folder_key = (key or os.path.basename(path.rstrip("/"))).rstrip("/")
            store = self._store_for(path, storage_root)

        # 1. driver-side walk: (src, key, hash, size) per file — no
        # jobs, no per-file stat round-trips (walk_stats carries sizes)
        base = path.rstrip("/")
        batch: list[tuple[str, str, str, int]] = []
        for rel, sz in store.walk_stats(path):
            if rel.rsplit("/", 1)[-1].startswith(("_", ".")):
                continue  # spark _SUCCESS / checksums / hidden files
            fp = f"{base}/{rel}"
            # folder_key == '' happens when `path` IS the managed
            # storage root itself — keys must stay root-relative
            # ('rel', not '/rel'): a leading slash diverges from
            # register_artifact's key convention and makes
            # artifact_path emit 'root//rel' (ADVICE r11)
            fkey = f"{folder_key}/{rel}" if folder_key else rel
            batch.append((fp, fkey, store.md5(fp), sz))
        if not batch:
            return []

        def newest_first(rows):
            return sorted(rows, key=lambda r: r["created_at"], reverse=True)

        # 2. one dedup lookup for every non-empty hash in the batch
        hashes = sorted({h for _fp, _k, h, sz in batch if sz > 0})
        by_hash: dict[str, dict[str, Any]] = {}
        if hashes:
            visible = {self.current_branch_id, MAIN_BRANCH_ID}
            for r in newest_first(self._registry_rows("artifact", hash__in=hashes)):
                if r["branch_id"] == TRASH_BRANCH_ID:
                    continue
                d = r.asDict()
                cur = by_hash.get(d["hash"])
                # newest-first; a visible-scope row beats a sibling one
                if cur is None or (
                    cur["branch_id"] not in visible and d["branch_id"] in visible
                ):
                    by_hash[d["hash"]] = d

        # 3. one key-family lookup for files that will insert
        new_keys = [
            k for _fp, k, h, sz in batch if sz == 0 or h not in by_hash
        ]
        stem_len = self._stem_len("artifact")
        stem_by_key: dict[str, str] = {}
        head_by_key: dict[str, dict[str, Any]] = {}
        next_suffix: dict[str, str] = {}
        if new_keys:
            for r in newest_first(
                self._registry_rows(
                    "artifact", key__in=sorted(set(new_keys)), branch_id=self.current_branch_id
                )
            ):
                stem_by_key.setdefault(r["key"], r["uid"][:stem_len])
                head_by_key.setdefault(r["key"], r.asDict())
            if stem_by_key:
                from ..functions.ids import decode_base62

                stems = sorted(set(stem_by_key.values()))
                best: dict[str, str] = {}
                for r in self._family_rows("artifact", stems):
                    stem, suf = r["uid"][:stem_len], r["uid"][stem_len:]
                    if len(suf) == 4 and (
                        stem not in best
                        or decode_base62(suf) > decode_base62(best[stem])
                    ):
                        best[stem] = suf
                next_suffix = {
                    s: increment_suffix(best[s]) if s in best else "0000"
                    for s in stems
                }

        # 4. land payloads + build rows; one id block for the batch
        # (storage_id/storage_root/managed resolved once above)
        n_new_max = len(new_keys)
        first_id = self.take_ids("artifact", n_new_max) if n_new_max else 0
        now = _now()
        out: list[dict[str, Any]] = []
        new_rows: list[dict[str, Any]] = []
        touched_stems: set[str] = set()
        batch_by_hash: dict[str, dict[str, Any]] = {}
        for src, fkey, content_hash, size in batch:
            if size > 0:
                hit = by_hash.get(content_hash) or batch_by_hash.get(content_hash)
                if hit is not None:
                    out.append(hit)
                    continue
            else:
                # empty file: hash dedup is skipped (all empty files
                # share one hash), but an UNCHANGED empty file at the
                # same key re-ingests as the same row — otherwise a
                # retried pipeline appends a version per run and the
                # documented no-op re-ingest is false (review finding)
                head = head_by_key.get(fkey)
                if head is not None and head["hash"] == content_hash:
                    out.append(head)
                    continue
            if managed is None:  # external: copy; managed: in place
                target = storage_root.rstrip("/") + "/" + fkey
                if not store.exists(target) or store.md5(target) != content_hash:
                    store.copy_file(src, target)
            stem = stem_by_key.get(fkey)
            if stem is not None:
                uid = stem + next_suffix[stem]
                next_suffix[stem] = increment_suffix(next_suffix[stem])
                touched_stems.add(stem)
            else:
                uid = generate_uid(20)
            row = {
                "id": first_id + len(new_rows),
                "uid": uid,
                "key": fkey,
                "description": None,
                "storage_id": storage_id,
                "suffix": os.path.splitext(src)[1],
                "kind": "dataset",
                "otype": None,
                "size": size,
                "hash": content_hash,
                "n_files": None,
                "n_observations": None,
                "run_id": run_id if run_id is not None else self.current_run_id,
                "schema_id": None,
                "is_latest": True,
                "branch_id": self.current_branch_id,
                "space_id": 1,
                "created_at": now,
            }
            new_rows.append(row)
            if size > 0:
                batch_by_hash[content_hash] = row
            out.append(row)

        # 5. one bulk append + one family-scoped reconcile
        if new_rows:
            self._append("artifact", new_rows)
        if touched_stems:
            self._reconcile_is_latest("artifact", stems=sorted(touched_stems))
        return out

    def save_dataframe(
        self,
        df: DataFrame,
        key: str,
        description: str | None = None,
        schema_id: int | None = None,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> dict[str, Any]:
        """S5 DataFrame ingest sink (reference ``Artifact.from_dataframe``,
        ``artifact.py:2245-2348``): write parquet under the storage
        root, register with otype/n_observations.

        ``partition_by`` writes a Hive-partitioned layout so later
        scans with predicates on those columns prune whole directories
        (Catalyst PartitionFilters) — the payload-side organization the
        reference never had and the cheapest scan optimization at
        100 TB. Choose low-cardinality columns (date, category,
        branch); never high-cardinality ids (small-file explosion).
        """
        from pyspark.sql import Observation

        _sid, storage_root = self._resolve_storage_root()
        target = f"{storage_root}/{key}"
        # row count via Observation: the old df.count() executed the
        # full input plan a second time before the write (review
        # finding) — observe() folds the count into the write pass.
        # mode='ignore' with an existing target short-circuits WITHOUT
        # running a job, so the observed metric never materializes and
        # obs.get blocks forever (ADVICE r9) — skip the observation and
        # register against the existing payload instead. Existence is
        # checked through the Hadoop FS (not os.path) so the guard also
        # holds for object-store storage roots (ADVICE r10).
        skipped = mode == "ignore" and _fs_exists(df.sparkSession, target)
        obs = None
        if not skipped:
            obs = Observation()
            df = df.observe(obs, F.count(F.lit(1)).alias("n"))
            writer = df.write.mode(mode)
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(target)
        n_obs = int(obs.get["n"]) if obs is not None else None
        return self.register_artifact(
            target,
            key=key,
            description=description,
            otype="DataFrame",
            schema_id=schema_id,
            n_observations=n_obs,
        )

    def export_artifact(
        self,
        df: DataFrame,
        key: str,
        description: str | None = None,
        mode: str = "overwrite",
    ) -> dict[str, Any]:
        """S11 export sink (reference ``Record.to_artifact`` /
        ``RecordSet.to_artifact`` — CSV sheet export,
        ``record.py:1206-1258``): write ``df`` in the format implied by
        the key's suffix (.csv/.tsv/.json/.orc/.parquet) and register
        it. The suffix dispatch mirrors ``sources.readers.read_payload``
        so exports round-trip through ``open_artifact``."""
        from pyspark.sql import Observation

        _sid, storage_root = self._resolve_storage_root()
        target = f"{storage_root}/{key}"
        suffix = "." + key.rsplit(".", 1)[-1] if "." in key else ".parquet"
        # mode='ignore' + existing target: no job runs, the observation
        # never fires and obs.get hangs (ADVICE r9) — same Hadoop-FS
        # guard as save_dataframe (object-store-safe, ADVICE r10)
        skipped = mode == "ignore" and _fs_exists(df.sparkSession, target)
        obs = None
        if not skipped:
            obs = Observation()
            df = df.observe(obs, F.count(F.lit(1)).alias("n"))
            w = df.write.mode(mode)
            if suffix == ".csv":
                w.option("header", True).csv(target)
            elif suffix == ".tsv":
                w.option("header", True).option("sep", "\t").csv(target)
            elif suffix in (".json", ".jsonl"):
                w.json(target)
            elif suffix == ".orc":
                w.orc(target)
            else:
                w.parquet(target)
        n_obs = int(obs.get["n"]) if obs is not None else None
        return self.register_artifact(
            target, key=key, description=description,
            otype="DataFrame", n_observations=n_obs,
        )

    def artifact_path(self, artifact: dict[str, Any] | Row) -> str:
        """Resolve storage root + key → payload path (reference F9
        path resolution, ``artifact_set.py:382-441``)."""
        if isinstance(artifact, Row):
            artifact = artifact.asDict()
        storage = self._registry_rows("storage", id=artifact["storage_id"])[0]
        return f"{storage['root']}/{artifact['key']}"

    def _should_track_input(self, is_run_input: bool | None) -> bool:
        """Reference ``track_run_input`` gating (artifact.py:3783 +
        settings.track_run_inputs): None = the instance setting decides;
        an explicit True/False always wins; nothing records without an
        active run."""
        if is_run_input is None:
            is_run_input = self.track_run_inputs
        return bool(is_run_input) and self.current_run_id is not None

    def _visible_artifacts(self, uid_or_key: str, **lookups: Any) -> tuple[list, list]:
        """(exact uid-or-key matches, uid-prefix matches) among the
        artifacts the current branch sees (``read`` scope)."""
        scope = dict(lookups, branch_id__in=[self.current_branch_id, MAIN_BRANCH_ID])
        by_uid = self._registry_rows("artifact", uid__startswith=uid_or_key, **scope)
        exact = [r for r in by_uid if r["uid"] == uid_or_key]
        exact += self._registry_rows("artifact", key=uid_or_key, **scope)
        return exact, by_uid

    def _resolve_artifact_row(self, uid_or_key: str):
        """Latest artifact row by exact uid/key, then uid prefix.
        EXACT matches take strict priority: a uid-PREFIX match
        competing in the same orderBy let a random uid starting with
        someone's short key hijack the lookup (review finding)."""
        exact, by_prefix = self._visible_artifacts(uid_or_key, is_latest=True)
        hit = _newest(exact) or _newest(by_prefix)
        if hit is None:
            raise KeyError(f"no artifact with uid/key {uid_or_key!r}")
        return hit

    def open_artifact(self, uid_or_key: str, is_run_input: bool | None = None) -> DataFrame:
        """S2 lazy open: resolve the artifact, return ``spark.read``
        scan; records run-input lineage when a run is active (L3,
        reference ``track_run_input`` ``artifact.py:3783``)."""
        return self._open_artifact_row(
            self._resolve_artifact_row(uid_or_key), is_run_input
        )

    def _open_artifact_row(self, hit, is_run_input: bool | None = None) -> DataFrame:
        path = self.artifact_path(hit)
        suffix = hit["suffix"] or ".parquet"
        if self._should_track_input(is_run_input):
            self._append(
                "run_input_artifacts",
                [{"run_id": self.current_run_id, "artifact_id": hit["id"]}],
            )
        if hit["otype"] in ("AnnDataLong", "MuDataLong", "SomaExperimentLong"):
            # long-form parquet store (the slot curators' distributed
            # save path — see anndata_long.write_anndata_long_parquet)
            from ..sources.anndata_long import read_anndata_long_parquet
            from ..sources.mudata_io import read_mudata_long_parquet
            from ..sources.soma_io import read_soma_long_parquet

            if hit["otype"] == "MuDataLong":
                return read_mudata_long_parquet(self.spark, path)
            if hit["otype"] == "SomaExperimentLong":
                return read_soma_long_parquet(self.spark, path)
            return read_anndata_long_parquet(self.spark, path)
        if suffix == ".tiledbsoma":
            # SOMA experiment → same long-form tables (import-gated
            # bridge, reference artifact.py:2642 from_tiledbsoma)
            from ..sources.soma_io import read_tiledbsoma

            return read_tiledbsoma(self.spark, path)
        if suffix in (".h5ad", ".zarr", ".h5mu"):
            # array payload → long-form AnnData/MuData tables (S6
            # ingest bridge, reference artifact.py:2920-3115 suffix
            # dispatch to the AnnData accessors; MuData per
            # artifact.py:2502 from_mudata)
            from ..sources.anndata_io import read_anndata_zarr, read_h5ad
            from ..sources.mudata_io import (
                is_mudata_store,
                read_h5mu,
                read_mudata_zarr,
            )
            from ..sources.spatialdata_io import (
                is_spatialdata_store,
                read_spatialdata_zarr,
            )

            if suffix == ".h5mu":
                return read_h5mu(self.spark, path)
            if suffix == ".h5ad":
                return read_h5ad(self.spark, path)
            if is_mudata_store(path):
                return read_mudata_zarr(self.spark, path)
            if is_spatialdata_store(path):
                return read_spatialdata_zarr(self.spark, path)
            return read_anndata_zarr(self.spark, path)
        return read_payload(self.spark, path, suffix if suffix.startswith(".") else ".parquet")

    def describe_artifact(self, uid_or_key: str) -> str:
        """Related-data describe as one JSON document (reference
        ``get_artifact_or_run_with_related`` + JSONObject/ArrayAgg,
        ``_django.py:81``; X10): the artifact row plus its storage,
        producing run/transform, and annotation values, assembled from
        driver-side point lookups (``_registry_rows``, no Spark job)."""
        hit = _newest(self._visible_artifacts(uid_or_key)[0])
        if hit is None:
            raise KeyError(f"no artifact with uid/key {uid_or_key!r}")

        def first(name, **lookups):
            rows = self._registry_rows(name, **lookups)
            return rows[0] if rows else None

        storage = first("storage", id=hit["storage_id"])
        run = tf = None
        if hit["run_id"] is not None:
            run = first("run", id=hit["run_id"])
            if run is not None:
                tf = first("transform", id=run["transform_id"])
        ann = self._registry_rows("annotation", entity_kind="artifact", entity_id=hit["id"])
        import json as _json

        doc = {
            "artifact": {k: str(v) for k, v in hit.asDict().items() if v is not None},
            "storage": storage["root"] if storage else None,
            "run": {"uid": run["uid"], "started_at": str(run["started_at"])} if run else None,
            "transform": {"uid": tf["uid"], "key": tf["key"]} if tf else None,
            # multiple scalar rows per feature (the EAV-queryable form
            # the curator writes) fold back into one list; a single row
            # stays scalar/as-written
            "features": {
                name: (vals[0] if len(vals) == 1 else sorted(vals, key=str))
                for name, vals in _group_feature_values(ann).items()
            },
        }
        return _json.dumps(doc, sort_keys=True)

    def describe_run(self, uid: str) -> str:
        """Run describe as one JSON document (reference
        ``describe_run``, ``models/_describe.py:340``: uid, transform
        key/version, started/finished, environment/report links, plus
        the run's input and output artifact uids — the engine's
        run-graph edges). Assembled from ``_registry_rows`` point
        lookups (no Spark job on the driver path)."""
        import json as _json

        visible = {"branch_id__in": [self.current_branch_id, MAIN_BRANCH_ID]}
        run = next(iter(self._registry_rows("run", uid=uid, **visible)), None)
        if run is None:
            raise KeyError(f"no run with uid {uid!r}")
        tf = None
        if run["transform_id"] is not None:
            tf = next(iter(self._registry_rows("transform", id=run["transform_id"])), None)
        outputs = sorted(
            r["uid"] for r in self._registry_rows("artifact", run_id=run["id"], **visible)
        )
        edges = self._registry_rows("run_input_artifacts", run_id=run["id"])
        inputs = sorted(m["uid"] for m in self._joined_artifacts(edges))
        doc = {
            "run": {k: str(v) for k, v in run.asDict().items() if v is not None},
            "transform": {"uid": tf["uid"], "key": tf["key"]} if tf else None,
            "inputs": inputs,
            "outputs": outputs,
        }
        return _json.dumps(doc, sort_keys=True)

    def _joined_artifacts(self, links) -> list[Row]:
        """The artifact rows an inner join of ``links`` (rows with an
        ``artifact_id``) to the artifact registry yields, one per
        matching link."""
        ids = sorted({r["artifact_id"] for r in links} - {None})
        by_id: dict[int, list[Row]] = {}
        for a in self._registry_rows("artifact", id__in=ids) if ids else []:
            by_id.setdefault(a["id"], []).append(a)
        return [a for r in links for a in by_id.get(r["artifact_id"], [])]

    def describe_collection(self, uid_or_key: str) -> str:
        """Collection describe as one JSON document (reference
        ``describe_collection``, ``models/_describe.py:306``: header +
        member count + members' keys/uids), from ``_registry_rows``
        point lookups."""
        import json as _json

        visible = {"branch_id__in": [self.current_branch_id, MAIN_BRANCH_ID]}
        coll = _newest(
            self._registry_rows("collection", uid=uid_or_key, **visible)
            + self._registry_rows("collection", key=uid_or_key, **visible)
        )
        if coll is None:
            raise KeyError(f"no collection with uid/key {uid_or_key!r}")
        bridge = self._registry_rows("collection_artifacts", collection_id=coll["id"])
        members = sorted(
            ({"uid": a["uid"], "key": a["key"]} for a in self._joined_artifacts(bridge)),
            key=lambda m: m["uid"],
        )
        doc = {
            "collection": {
                k: str(v) for k, v in coll.asDict().items() if v is not None
            },
            "n_members": len(members),
            "members": members,
        }
        return _json.dumps(doc, sort_keys=True)

    # FKs whose ids index THIS instance's own registries — carrying a
    # source instance's value verbatim would point a transferred row at
    # an unrelated local user/space/run/schema (advice r14). The
    # reference remaps these by unique field or re-creates them on
    # transfer; here they are popped so the local default applies.
    _INSTANCE_LOCAL_FKS = ("created_by_id", "space_id", "run_id", "schema_id")

    def _rows_by_uid(self, registry: str, uids) -> dict[str, dict[str, Any]]:
        """Local rows keyed by uid (trash included — :meth:`save`'s
        upsert classification) — bounded by the batch."""
        uids = sorted(set(uids))
        if not uids:
            return {}
        return {r["uid"]: r.asDict() for r in self._registry_rows(registry, uid__in=uids)}

    def _reuse_or_restore_by_uid(
        self, registry: str, uids
    ) -> dict[str, dict[str, Any]]:
        """Transfer-side uid matching (review finding r15): a local
        row in the TRASH would be 'reused' invisibly — the transfer
        would report success while ``read()`` excludes the row and
        follow-up label/feature copies KeyError. A trashed uid match
        is RESTORED to the current branch first (a partial save that
        touches ONLY branch_id — local values still survive, keeping
        the reuse-untouched overwrite policy); visible matches are
        returned as-is."""
        rows = self._rows_by_uid(registry, uids)
        trashed = [u for u, r in rows.items() if r.get("branch_id") == TRASH_BRANCH_ID]
        if trashed:
            self.save(
                registry,
                [{"uid": u, "branch_id": self.current_branch_id} for u in trashed],
            )
            for u in trashed:
                rows[u]["branch_id"] = self.current_branch_id
        return rows

    def _transfer_storage(self, other: "Lakehouse", src_ids) -> dict[int, int]:
        """Pull the source instance's storage rows (by uid) so a
        transferred artifact's ``storage_id`` keeps resolving — the
        reference registers the source storage location in the target
        instance the same way (``models/save.py`` transfer flow).
        Returns {source storage id -> local id}; existing local uids
        are reused untouched."""
        src_ids = sorted(set(src_ids))
        if not src_ids:
            return {}
        rows = [
            r.asDict()
            for r in other.read_raw("storage")
            .filter(F.col("id").isin(src_ids))
            .collect()
        ]
        existing = self._reuse_or_restore_by_uid("storage", [r["uid"] for r in rows])
        id_map: dict[int, int] = {}
        batch = []
        for r in rows:
            if r["uid"] in existing:
                id_map[r["id"]] = existing[r["uid"]]["id"]
                continue
            d = dict(r)
            d.pop("id", None)
            for k in self._INSTANCE_LOCAL_FKS:
                d.pop(k, None)
            d["branch_id"] = self.current_branch_id
            batch.append((r["id"], d))
        if batch:
            saved = {s["uid"]: s["id"] for s in self.save("storage", [d for _, d in batch])}
            for sid, d in batch:
                id_map[sid] = saved[d["uid"]]
        return id_map

    def transfer_from(
        self, other: "Lakehouse", registry: str, uids: list[str]
    ) -> list[dict[str, Any]]:
        """Cross-instance record transfer matched on uid, not id
        (reference J8 ``_map_databases``, ``query_set.py:217-242``).

        Overwrite policy (reference ``add_from`` semantics, advice
        r14): a local row with the same uid is REUSED untouched —
        local edits are never overwritten by the source copy; only
        new uids insert, with fresh local ids. Instance-local FKs
        (``created_by_id``/``space_id``/``run_id``/``schema_id``) are
        popped from inserted rows — their ids index the SOURCE
        instance's tables. An artifact's ``storage_id`` is remapped
        instead: the source storage row follows by uid so the payload
        path keeps resolving. Idempotent by construction."""
        src = other.read(registry).filter(F.col("uid").isin(uids)).collect()
        missing = set(uids) - {r["uid"] for r in src}
        if missing:
            raise KeyError(f"uids not found in source {registry}: {sorted(missing)}")
        existing = self._reuse_or_restore_by_uid(registry, uids)
        storage_map: dict[int, int] = {}
        if registry == "artifact":
            storage_map = self._transfer_storage(
                other,
                [
                    r["storage_id"]
                    for r in src
                    if r["uid"] not in existing and r["storage_id"] is not None
                ],
            )
        rows, reused = [], []
        for r in src:
            if r["uid"] in existing:
                reused.append(existing[r["uid"]])
                continue
            d = r.asDict()
            d.pop("id", None)           # local identity is assigned here
            for k in self._INSTANCE_LOCAL_FKS:
                d.pop(k, None)
            if registry == "artifact":
                if d.get("storage_id") is not None:
                    d["storage_id"] = storage_map[d["storage_id"]]
                # the run that initiated the sync owns the local row
                # (reference docs/transfer.md "initiated_by_run"; the
                # source run id was popped above — it indexes the
                # source instance's run table)
                if self.current_run_id is not None:
                    d["run_id"] = self.current_run_id
            d["branch_id"] = self.current_branch_id
            rows.append(d)
        return (self.save(registry, rows) if rows else []) + reused

    def _transfer_typed_registry(
        self, other: "Lakehouse", registry: str, src_ids: list[int]
    ) -> dict[int, int]:
        """Transfer rows of a typed registry (ulabel/feature — anything
        with a self-referential ``type_id``) from ``other`` into this
        instance, parents first, matched on uid. Returns
        {source id -> local id}. The FK-parent-first order is the
        engine's ``transfer_fk_to_default_db_bulk`` (reference
        ``models/save.py``): a label's type must exist locally before
        the label row that points at it.

        Overwrite policy (advice r14): a uid already present locally
        is REUSED — the local row's values (including its own
        type_id) survive untouched, exactly as the reference's
        ``add_from`` reuses existing target records. Instance-local
        FKs (created_by/space/run/schema) are popped from inserts."""
        if not src_ids:
            return {}
        rows: dict[int, dict] = {}
        frontier = set(src_ids)
        src_df = other.read(registry)
        while frontier:  # type-chain closure; depth = type nesting, tiny
            batch = [
                r.asDict()
                for r in src_df.filter(F.col("id").isin(list(frontier))).collect()
            ]
            missing = frontier - {r["id"] for r in batch}
            if missing:
                raise KeyError(
                    f"source {registry} ids not found (trashed or foreign "
                    f"branch?): {sorted(missing)}"
                )
            rows.update({r["id"]: r for r in batch})
            frontier = {
                r["type_id"]
                for r in batch
                if r.get("type_id") is not None and r["type_id"] not in rows
            }
        # save parents before children so type_id can be remapped in
        # one pass: order by type-chain depth
        def depth(rid: int) -> int:
            d, cur, seen = 0, rows[rid].get("type_id"), {rid}
            while cur is not None:
                if cur in seen:  # malformed source: type_id cycle
                    raise ValueError(
                        f"type_id cycle in source {registry} at id {cur} "
                        f"(chain from id {rid}) — refusing to transfer"
                    )
                seen.add(cur)
                d, cur = d + 1, rows[cur].get("type_id")
            return d

        by_depth: dict[int, list[int]] = {}
        for rid in rows:
            by_depth.setdefault(depth(rid), []).append(rid)
        # uid already here → reuse the local row untouched (reference
        # add_from semantics; overwrite policy in the docstring)
        local = self._reuse_or_restore_by_uid(registry, [r["uid"] for r in rows.values()])
        id_map: dict[int, int] = {}
        for d in sorted(by_depth):  # ONE bulk save per type level, not per row
            level = by_depth[d]
            batch = []
            for rid in level:
                row = dict(rows[rid])
                if row["uid"] in local:
                    id_map[rid] = local[row["uid"]]["id"]
                    continue
                row.pop("id", None)
                row["branch_id"] = self.current_branch_id
                if row.get("type_id") is not None:
                    row["type_id"] = id_map[row["type_id"]]
                # instance-local FKs: a record's validating schema,
                # creator, space and run ids all index the SOURCE
                # instance's tables — carrying them verbatim would
                # point at unrelated local rows (advice r14; the
                # reference remaps by unique field / re-validates).
                for k in self._INSTANCE_LOCAL_FKS:
                    row.pop(k, None)
                batch.append(row)
            if not batch:
                continue
            saved_by_uid = {r["uid"]: r["id"] for r in self.save(registry, batch)}
            for rid in level:
                if rid not in id_map:
                    id_map[rid] = saved_by_uid[rows[rid]["uid"]]
        return id_map

    def add_labels_from(
        self, other: "Lakehouse", uid: str, entity: str = "artifact"
    ) -> dict[int, int]:
        """Copy another instance's label links onto the local entity
        with the same uid (reference ``LabelManager.add_from``,
        ``models/_label_manager.py:227-310``): the source entity's
        ulabels are upserted here by uid (type parents first), the
        per-link grouping feature follows the same way, and the links
        land in the local ``{entity}_ulabels`` table — idempotent on
        (entity, label, feature) exactly like :meth:`link_labels`.
        Composes with :meth:`transfer_from`: transfer the entity row
        first, then call this. Returns {source ulabel id -> local id}
        covering the linked labels and their type-chain parents.
        """
        link_table = f"{entity}_ulabels"
        if link_table not in REGISTRY_SCHEMAS:
            raise ValueError(f"no label link table for entity {entity!r}")
        src = other.read(entity).filter(F.col("uid") == uid).first()
        if src is None:
            raise KeyError(f"no {entity} with uid {uid!r} in source instance")
        local = self.read(entity).filter(F.col("uid") == uid).first()
        if local is None:
            raise KeyError(
                f"no local {entity} with uid {uid!r} — transfer the row "
                f"first (transfer_from(other, {entity!r}, [{uid!r}]))"
            )
        links = [
            r.asDict()
            for r in other.read_raw(link_table)
            .filter(F.col(f"{entity}_id") == src["id"])
            .collect()  # bounded: one entity's links
        ]
        if not links:
            return {}
        label_map = self._transfer_typed_registry(
            other, "ulabel", sorted({l["ulabel_id"] for l in links})
        )
        feat_map = self._transfer_typed_registry(
            other,
            "feature",
            sorted({l["feature_id"] for l in links if l["feature_id"] is not None}),
        )
        existing = {
            (r["ulabel_id"], r["feature_id"])
            for r in self.read_raw(link_table)
            .filter(F.col(f"{entity}_id") == local["id"])
            .select("ulabel_id", "feature_id")
            .collect()
        }
        now = _now()
        new_links = []
        for l in links:
            lid = label_map[l["ulabel_id"]]
            fid = None if l["feature_id"] is None else feat_map[l["feature_id"]]
            if (lid, fid) in existing:
                continue
            existing.add((lid, fid))
            row = {
                f"{entity}_id": local["id"],
                "ulabel_id": lid,
                "feature_id": fid,
                "created_at": now,
            }
            if "run_id" in {f.name for f in REGISTRY_SCHEMAS[link_table].fields}:
                row["run_id"] = self.current_run_id
            new_links.append(row)
        self._append(link_table, new_links)
        return label_map

    def add_features_from(
        self, other: "Lakehouse", uid: str, entity: str = "artifact"
    ) -> int:
        """Copy another instance's feature annotations (EAV rows) onto
        the local entity with the same uid (reference
        ``FeatureManager._add_from``, ``models/_feature_manager.py:
        2138-2210``, which transfers schema members + feature values by
        unique field). Referenced features — and label rows for
        label-valued annotations — are upserted by uid first; value
        rows already present locally (same feature name + JSON value)
        are skipped, so the copy is idempotent. Returns the number of
        annotation rows written."""
        src = other.read(entity).filter(F.col("uid") == uid).first()
        if src is None:
            raise KeyError(f"no {entity} with uid {uid!r} in source instance")
        local = self.read(entity).filter(F.col("uid") == uid).first()
        if local is None:
            raise KeyError(
                f"no local {entity} with uid {uid!r} — transfer the row "
                f"first (transfer_from(other, {entity!r}, [{uid!r}]))"
            )
        ann = [
            r.asDict()
            for r in other.read_raw("annotation")
            .filter(
                (F.col("entity_kind") == entity)
                & (F.col("entity_id") == src["id"])
            )
            .collect()  # bounded: one entity's annotations
        ]
        if not ann:
            return 0
        feat_map = self._transfer_typed_registry(
            other, "feature", sorted({a["feature_id"] for a in ann if a["feature_id"] != -1})
        )
        # label-valued rows: the pointed-at ulabel/record rows follow
        # by uid too — a foreign label id is meaningless locally
        kind_maps = {
            kind: self._transfer_typed_registry(
                other,
                kind,
                sorted({
                    a["label_id"]
                    for a in ann
                    if a.get("label_id") is not None
                    and a.get("label_kind") == kind
                }),
            )
            for kind in ("ulabel", "record")
        }
        have = {
            (r["feature_name"], r["value_json"])
            for r in self.read_raw("annotation")
            .filter(
                (F.col("entity_kind") == entity)
                & (F.col("entity_id") == local["id"])
            )
            .select("feature_name", "value_json")
            .collect()
        }
        now = _now()
        rows = []
        for a in ann:
            if (a["feature_name"], a["value_json"]) in have:
                continue
            have.add((a["feature_name"], a["value_json"]))
            rows.append(
                {
                    "entity_kind": entity,
                    "entity_id": local["id"],
                    "feature_id": feat_map.get(a["feature_id"], -1),
                    "feature_name": a["feature_name"],
                    "value_json": a["value_json"],
                    "label_kind": a.get("label_kind"),
                    "label_id": (
                        kind_maps[a["label_kind"]].get(a["label_id"])
                        if a.get("label_kind") in kind_maps
                        else a.get("label_id")
                    ),
                    "branch_id": self.current_branch_id,
                    "created_at": now,
                }
            )
        if rows:
            self._append("annotation", rows)
        return len(rows)

    def transfer_artifact_from(
        self,
        other: "Lakehouse",
        uid: str,
        include_labels: bool = True,
        include_features: bool = True,
    ) -> dict[str, Any]:
        """One-call cross-instance artifact transfer WITH its curation
        (the reference's ``artifact.save(using=...)`` path, which runs
        ``LabelManager.add_from`` + ``FeatureManager._add_from`` after
        the row lands — ``models/save.py`` transfer flow): the artifact
        row moves by uid via :meth:`transfer_from`, then labels and
        feature annotations follow. Returns the local artifact row."""
        row = self.transfer_from(other, "artifact", [uid])[0]
        if include_labels:
            self.add_labels_from(other, uid, entity="artifact")
        if include_features:
            self.add_features_from(other, uid, entity="artifact")
        return row

    _DISTRIBUTED_SUFFIXES = (
        ".parquet", ".csv", ".tsv", ".orc", ".jsonl",
        ".arrow", ".feather", ".ipc",
        ".h5ad", ".h5mu", ".zarr", ".tiledbsoma",
    )

    def load_artifact(self, uid_or_key: str, is_run_input: bool | None = None):
        """Suffix-dispatched eager load (reference ``Artifact.load()``
        → ``core/loaders.py:185-232`` FILE_LOADERS). Tabular/array
        payloads materialize the lazy ``open_artifact`` scan via Arrow
        (reference returns pandas too — for datasets that fit the
        driver; everything else should stay on the lazy path).
        Driver-sized documents come back as Python objects (``.json``/
        ``.vitessce.json`` → dict, ``.yaml`` → dict, ``.txt``/
        ``.fasta`` → str); display formats (``.html``/``.svg``/images)
        return the local path; unknown suffixes raise with guidance.
        Run-input lineage is recorded only AFTER the load succeeds — a
        refused load (size guard, unknown suffix) must not leave a
        phantom input edge."""
        hit = self._resolve_artifact_row(uid_or_key)
        suffix = (hit["suffix"] or ".parquet").lower()
        if suffix in self._DISTRIBUTED_SUFFIXES or hit["otype"] in (
            "AnnDataLong", "MuDataLong", "SomaExperimentLong", "DataFrame",
        ):
            out = self._open_artifact_row(hit, is_run_input)
            # long-form stores open as their typed long objects, not
            # a single DataFrame — "load" returns the object (the
            # reference returns the AnnData/MuData object here too)
            return out.toPandas() if isinstance(out, DataFrame) else out
        from ..sources.loaders import load_to_memory

        out = load_to_memory(_local_path(self.artifact_path(hit)))
        if self._should_track_input(is_run_input):
            self._append(
                "run_input_artifacts",
                [{"run_id": self.current_run_id, "artifact_id": hit["id"]}],
            )
        return out

    def view(self, n: int = 7) -> dict[str, list[dict[str, Any]]]:
        """Latest rows of every materialized registry (reference
        ``ln.view()``): registry name → up to ``n`` newest rows."""
        out: dict[str, list[dict[str, Any]]] = {}
        for name in sorted(REGISTRY_SCHEMAS):
            if not self._exists(name):
                continue
            df = self.read(name)
            if "created_at" not in df.columns:
                continue
            order = [F.desc("created_at")] + (
                [F.desc("id")] if "id" in df.columns else []
            )  # link/EAV registries have created_at but no id (review finding)
            rows = df.orderBy(*order).limit(n).collect()
            if rows:
                out[name] = [r.asDict() for r in rows]
        return out

    # ---------------------------------------------------------- collections

    def lazy_artifact(
        self,
        suffix: str = "",
        key: str | None = None,
        description: str | None = None,
        otype: str | None = None,
        run_id: int | None = None,
    ) -> "LazyArtifact":
        """Reference ``Artifact.from_lazy`` / ``LazyArtifact``
        (``artifact.py:2199-2243``): reserve a MANAGED storage path to
        stream into — ``df.write.parquet(lazy.path)``, a
        ``writeStream`` sink, any writer — then ``lazy.save()``
        registers the written payload in place (no copy; the path is
        already under the storage root). Without ``key`` the path is
        auto-generated under ``.lamindb/{uid}{suffix}``, the
        reference's internal-path convention."""
        _sid, storage_root = self._resolve_storage_root()
        if key is None:
            key = f".lamindb/{generate_uid(20)}{suffix}"
        elif suffix and not key.endswith(suffix):
            key = key + suffix
        path = _local_path(storage_root).rstrip("/") + "/" + key
        return LazyArtifact(self, path, key, description, otype, run_id)

    def verify_collection_schema(self, key_or_uid: str) -> None:
        """Reference ``Collection.verify_schema``
        (``collection.py:601-612``): every member artifact's payload
        schema must be union-compatible with the collection — here,
        EQUAL to the first member's (column name → type), since
        ``open_collection`` is a multi-path scan. Raises ``ValueError``
        naming each offending member and its diff; footer-only reads,
        no data scanned. Members are read exactly the way
        ``open_collection`` reads them — ``spark.read.parquet`` — so a
        verification pass guarantees the scan it exists to protect
        (suffix-dispatched readers would pass collections the scan
        cannot open; review finding)."""
        cols = self.read("collection").filter(F.col("is_latest"))
        hit = (
            cols.filter((F.col("uid") == key_or_uid) | (F.col("key") == key_or_uid))
            .orderBy(F.desc("created_at"))
            .first()
        )
        if hit is None:
            raise KeyError(f"no collection with uid/key {key_or_uid!r}")
        members = self.collection_members(hit["id"])
        if not members:
            return
        schemas = []
        for m in members:
            df = self.spark.read.parquet(self.artifact_path(m))
            schemas.append((m, {f.name: f.dataType.simpleString() for f in df.schema.fields}))
        _m0, base = schemas[0]
        problems = []
        for m, sch in schemas[1:]:
            if sch != base:
                extra = sorted(set(sch) - set(base))
                missing = sorted(set(base) - set(sch))
                retyped = sorted(
                    k for k in set(sch) & set(base) if sch[k] != base[k]
                )
                problems.append(
                    f"{m['key'] or m['uid']}: extra={extra} missing={missing} "
                    f"retyped={retyped}"
                )
        if problems:
            raise ValueError(
                f"collection {key_or_uid!r} members do not share one schema: "
                + "; ".join(problems)
            )

    def create_collection(
        self,
        key: str,
        artifact_ids: list[int],
        description: str | None = None,
    ) -> dict[str, Any]:
        """Versioned immutable artifact set (reference ``Collection``,
        ``collection.py:98``): the collection hash is the md5 of the
        ordered member hashes (content-derived, so identical member sets
        dedup to the same hash — ``collection.py:162``). Same ``key``
        with different members → next version in the uid family."""
        import hashlib

        arts = self.read_raw("artifact")
        member_rows = {
            r["id"]: r for r in arts.filter(F.col("id").isin(artifact_ids)).collect()
        }
        missing = [i for i in artifact_ids if i not in member_rows]
        if missing:
            raise KeyError(f"unknown artifact ids: {missing}")
        chash = hashlib.md5(
            "|".join(member_rows[i]["hash"] or "" for i in artifact_ids).encode()
        ).hexdigest()
        cols = self.read_raw("collection")
        dup = cols.filter(
            (F.col("hash") == chash) & (F.col("branch_id") != TRASH_BRANCH_ID)
        ).first()
        if dup is not None:
            return dup.asDict()
        family = (
            cols.filter((F.col("key") == key) & (F.col("branch_id") == self.current_branch_id))
            .orderBy(F.desc("created_at"))
            .first()
        )
        if family is not None:
            uid = self.next_version_uid("collection", family["uid"][:16])
        else:
            uid = generate_uid(20)
        row = {
            "id": self.next_id("collection"),
            "uid": uid,
            "key": key,
            "description": description,
            "hash": chash,
            "is_latest": True,
            "branch_id": self.current_branch_id,
            "space_id": 1,
            "created_at": _now(),
        }
        self._append("collection", [row])
        self._append(
            "collection_artifacts",
            [
                {"collection_id": row["id"], "artifact_id": a, "position": i}
                for i, a in enumerate(artifact_ids)
            ],
        )
        if family is not None:
            self._reconcile_is_latest(
                "collection", stems=[uid[: self._stem_len("collection")]]
            )
        return row

    def collection_members(self, collection_id: int) -> list[dict[str, Any]]:
        """Member artifact rows in collection order."""
        bridge = self.read_raw("collection_artifacts").filter(
            F.col("collection_id") == collection_id
        )
        arts = self.read_raw("artifact")
        rows = (
            bridge.join(arts, bridge.artifact_id == arts.id)
            .orderBy("position")
            .collect()
        )
        return [r.asDict() for r in rows]

    def open_collection(self, key_or_uid: str, is_run_input: bool | None = None) -> DataFrame:
        """S3 multi-file union scan (reference ``Collection.open`` /
        ``ArtifactSet.open``, ``artifact_set.py:64-82``): one lazy scan
        over every member payload — Spark's multi-path ``read.parquet``
        is the implicit UNION ALL, with pushdown/pruning per file."""
        cols = self.read("collection").filter(F.col("is_latest"))
        hit = (
            cols.filter((F.col("uid") == key_or_uid) | (F.col("key") == key_or_uid))
            .orderBy(F.desc("created_at"))
            .first()
        )
        if hit is None:
            raise KeyError(f"no collection with uid/key {key_or_uid!r}")
        members = self.collection_members(hit["id"])
        paths = [self.artifact_path(m) for m in members]
        if self._should_track_input(is_run_input):
            self._append(
                "run_input_artifacts",
                [{"run_id": self.current_run_id, "artifact_id": m["id"]} for m in members],
            )
        return self.spark.read.parquet(*paths)

    def append_to_collection(self, key: str, artifact_id: int) -> dict[str, Any]:
        """Reference ``Collection.append`` (``collection.py:398``): a NEW
        version whose members = old members + the artifact."""
        cols = self.read("collection").filter(F.col("is_latest"))
        hit = cols.filter(F.col("key") == key).orderBy(F.desc("created_at")).first()
        if hit is None:
            raise KeyError(f"no collection with key {key!r}")
        members = [m["id"] for m in self.collection_members(hit["id"])]
        return self.create_collection(key, members + [artifact_id], hit["description"])

    # ---------------------------------------------------------- versioning

    def _stem_len(self, name: str) -> int:
        """Per-registry uid stem length: full uid minus the 4-char
        version suffix (reference per-registry ``_len_stem_uid`` —
        transform uids are 16 chars with a 12-char stem)."""
        return UID_LENGTHS.get(name, 20) - 4

    def next_version_uid(self, name: str, stem: str) -> str:
        """Next uid in a version family: stem + base62-increment of the
        MAX existing suffix across the family (reference
        ``_is_versioned.py:195-232``) — NOT the newest row's suffix, so
        restore/out-of-order creation cannot collide."""
        from ..functions.ids import decode_base62

        suffixes = [
            r["uid"][len(stem):]
            for r in self._registry_rows(name, uid__startswith=stem)
            if len(r["uid"]) > len(stem)
        ]
        if not suffixes:
            return stem + "0000"
        return stem + increment_suffix(max(suffixes, key=decode_base62))

    def _family_rows(self, name: str, stems: list[str]) -> list[Row]:
        """Every row of the version families ``stems`` (uid prefixes of
        ``_stem_len(name)``). One stem is a ``uid__startswith`` point
        lookup; several read the uid column once and then the matching
        rows, on the driver, or scan the live files once with Spark
        when the driver cannot serve them."""
        if len(stems) == 1:
            return self._registry_rows(name, uid__startswith=stems[0])
        n = self._stem_len(name)
        uids = self._registry_table(name, ["uid"])
        if uids is not None:
            mine = pc.is_in(pc.utf8_slice_codeunits(uids["uid"], 0, n), value_set=pa.array(stems))
            return self._registry_rows(name, uid__in=uids["uid"].filter(mine).to_pylist())
        files = self._live_files(name)
        if not files:
            return []
        df = self.spark.read.schema(REGISTRY_SCHEMAS[name]).parquet(*files)
        return self._filter_in(df, F.substring("uid", 1, n), stems).collect()

    def _reconcile_is_latest(self, name: str, stems: list[str] | None = None) -> None:
        """Exactly one head per (stem uid, branch) — reference
        ``reconcile_is_latest_within_branch`` (``_is_versioned.py:338-373``).

        With ``stems`` (the common case: one new version landed), only
        those families are read (``_family_rows``), the head of each
        (stem, branch) picked in ``mark_latest``'s order (``created_at``
        desc, nulls last, then ``id`` desc), and only the rows whose
        flag changes written back through the bucket-scoped update
        path — O(family), not an O(registry) rewrite per versioned
        ingest (review finding). Without ``stems`` (bulk
        delete/restore), the full one-window rewrite runs as before."""
        if stems is not None:
            n = self._stem_len(name)
            fams: dict[tuple, list[Row]] = {}
            for r in self._family_rows(name, sorted(set(stems))):
                fams.setdefault((r["uid"][:n], r["branch_id"]), []).append(r)
            changed = []
            for rows in fams.values():
                head = _newest(rows, "created_at", "id")
                changed += [
                    {**r.asDict(), "is_latest": r is head}
                    for r in rows
                    if r["is_latest"] != (r is head)
                ]
            if changed:
                self._update_buckets(name, changed)
            return
        df = self.read_raw(name)
        stem = F.substring(F.col("uid"), 1, self._stem_len(name))
        marked = mark_latest(
            df.withColumn("__stem", stem),
            family_cols=["__stem", "branch_id"],
            order_col="created_at",
            tiebreak_col="id",
        ).drop("__stem")
        self._overwrite(name, marked)

    def delete(self, name: str, ids: list[int], permanent: bool = False) -> None:
        """Soft delete → trash branch; permanent removes rows. Version
        heads are reconciled afterwards (reference
        ``_adjust_is_latest_when_deleting_is_versioned``)."""
        df = self.read_raw(name)
        if permanent:
            self._overwrite(name, df.filter(~F.col("id").isin(ids)))
        else:
            self._overwrite(
                name,
                df.withColumn(
                    "branch_id",
                    F.when(F.col("id").isin(ids), F.lit(TRASH_BRANCH_ID)).otherwise(
                        F.col("branch_id")
                    ),
                ),
            )
        if name in VERSIONED_REGISTRIES:
            self._reconcile_is_latest(name)

    def _artifact_by_id(self, artifact_id: int) -> Row:
        rows = self._registry_rows("artifact", id=artifact_id)
        if not rows:
            raise KeyError(f"artifact id {artifact_id} not found")
        return rows[0]

    def delete_artifact(
        self,
        artifact_id: int,
        permanent: bool = False,
        storage: bool = False,
    ) -> None:
        """Reference ``Artifact.delete`` (``artifact.py:3229-3267`` +
        ``delete_permanently`` ``:1076-1140``): first call trashes the
        row (``branch_id=-1``); ``permanent=True`` removes it, and
        ``storage=True`` ALSO removes the payload through the payload
        store — but only when no surviving row still references the
        same (storage_id, key): version families share the key path
        (``root/key`` serves the newest version's bytes), so the
        payload goes only with its LAST row. The reference prompts
        interactively before deleting keyed payloads; a library can't,
        so payload deletion stays an explicit opt-in (default False,
        the row-only behavior)."""
        row = self._artifact_by_id(artifact_id)
        if not permanent:
            self.delete("artifact", [artifact_id])
            return
        self.delete("artifact", [artifact_id], permanent=True)
        if storage and row["key"] is not None:
            survivors = self._registry_rows(
                "artifact", key=row["key"], storage_id=row["storage_id"]
            )
            if not survivors:
                (st,) = self._registry_rows("storage", id=row["storage_id"])
                target = _local_path(st["root"]).rstrip("/") + "/" + row["key"]
                self._store_for(target).remove(target)

    def replace_artifact(
        self,
        artifact_id: int,
        path: str,
        run_id: int | None = None,
    ) -> dict[str, Any]:
        """Reference ``Artifact.replace`` (``artifact.py:2809-2919``):
        overwrite the artifact's CONTENT in storage without creating a
        new version — same row, same uid, updated hash/size/suffix.
        Like the reference, a source path already inside a managed
        storage root is rejected (replace is for external content),
        and replacing with identical bytes is a no-op. File↔directory
        replacement is rejected (the reference's overwrite_versions
        shape check)."""
        row = self._artifact_by_id(artifact_id)
        if not row["is_latest"]:
            # every version of a key shares ONE payload path (root/key
            # serves the newest bytes) — replacing a non-latest row
            # would silently clobber the latest version's payload
            # (review finding)
            raise ValueError(
                "can only replace the LATEST version of an artifact; "
                f"id {artifact_id} is a previous version"
            )
        path = _local_path(path)
        if self._storage_for_path(path) is not None:
            raise ValueError(
                "can only replace with a path not in any managed storage "
                f"(got {path!r})"
            )
        store = self._store_for(path)
        src_is_dir = store.is_dir(path)
        was_dir = row["n_files"] is not None
        if src_is_dir != was_dir:
            raise ValueError(
                "cannot replace a %s with a %s"
                % ("folder" if was_dir else "file", "folder" if src_is_dir else "file")
            )
        if src_is_dir:
            content_hash, size, n_files = hash_dir(path, store)
            suffix = os.path.splitext(path.rstrip("/"))[1]
        else:
            content_hash, size, n_files = store.md5(path), store.size(path), None
            suffix = os.path.splitext(path)[1]
        if content_hash == row["hash"]:
            return row.asDict()  # identical bytes: no-op
        (st,) = self._registry_rows("storage", id=row["storage_id"])
        target = _local_path(st["root"]).rstrip("/") + "/" + row["key"]
        tstore = self._store_for(path, target)
        # copy-then-swap (the _overwrite pattern): a failed copy must
        # not have destroyed the only payload copy (review finding) —
        # the slow, failure-prone copy lands on a temp sibling first.
        # Temporaries get a '.'-prefixed BASENAME so the hidden-file
        # skip rule (hash_dir / register_dir walk filters) ignores
        # them: a crash mid-swap must not leave orphans that a later
        # bulk ingest over the storage root hashes and registers as
        # artifacts (ADVICE r11).
        tdir, tbase = os.path.split(target.rstrip("/"))
        tmp = f"{tdir}/.{tbase}.tmp-{uuid.uuid4().hex[:8]}"
        if src_is_dir:
            tstore.copy_tree(path, tmp)
        else:
            tstore.copy_file(path, tmp)
        old = f"{tdir}/.{tbase}.old-{uuid.uuid4().hex[:8]}"
        if tstore.exists(target):
            tstore.rename(target, old)
        tstore.rename(tmp, target)
        tstore.remove(old)
        updated = row.asDict()
        updated.update(
            hash=content_hash,
            size=size,
            n_files=n_files,
            suffix=suffix,
            run_id=run_id if run_id is not None else updated["run_id"],
        )
        self.save("artifact", [updated])
        return updated

    def delete_where(
        self, name: str, matched: DataFrame, permanent: bool = False
    ) -> None:
        """Set-based delete (reference ``QuerySet.delete``,
        ``query_set.py:1312``): every registry row whose ``id`` appears
        in ``matched`` moves to trash (or is removed) via ONE join —
        no driver-side id list, so a million-row queryset deletes
        without collecting anything."""
        ids = matched.select(F.col("id").alias("__del_id")).distinct()
        df = self.read_raw(name)
        if permanent:
            out = df.join(ids, df["id"] == F.col("__del_id"), "left_anti")
        else:
            out = (
                df.join(ids, df["id"] == F.col("__del_id"), "left")
                .withColumn(
                    "branch_id",
                    F.when(
                        F.col("__del_id").isNotNull(), F.lit(TRASH_BRANCH_ID)
                    ).otherwise(F.col("branch_id")),
                )
                .drop("__del_id")
            )
        self._overwrite(name, out)
        if name in VERSIONED_REGISTRIES:
            self._reconcile_is_latest(name)

    def update_where(self, name: str, matched: DataFrame, **values: Any) -> None:
        """Set-based column update (the reference's Django
        ``QuerySet.update(**values)``): literal values applied to every
        matched row through one join + bucket-scoped rewrite."""
        ids = matched.select(F.col("id").alias("__upd_id")).distinct()
        df = self.read_raw(name)
        out = df.join(ids, df["id"] == F.col("__upd_id"), "left")
        for k, v in values.items():
            if k not in df.columns:
                raise KeyError(f"unknown column {k!r} on registry {name!r}")
            # cast to the REGISTRY schema's type: an uncast literal of a
            # wider type (1.5 into a long column) coerces the whole
            # column, the rewrite lands mismatched parquet, and every
            # later fixed-schema read of the registry fails (review
            # finding — permanently bricked table)
            lit = F.lit(v).cast(df.schema[k].dataType)
            out = out.withColumn(
                k,
                F.when(F.col("__upd_id").isNotNull(), lit).otherwise(F.col(k)),
            )
        self._overwrite(name, out.drop("__upd_id"))
        if name in VERSIONED_REGISTRIES and (
            "is_latest" in values or "branch_id" in values
        ):
            self._reconcile_is_latest(name)

    def restore(self, name: str, ids: list[int], branch_id: int | None = None) -> None:
        df = self.read_raw(name)
        target = branch_id if branch_id is not None else self.current_branch_id
        self._overwrite(
            name,
            df.withColumn(
                "branch_id",
                F.when(F.col("id").isin(ids), F.lit(target)).otherwise(F.col("branch_id")),
            ),
        )
        if name in VERSIONED_REGISTRIES:
            self._reconcile_is_latest(name)

    # ---------------------------------------------------------- blocks

    def add_block(
        self,
        content: str = "",
        kind: str = "readme",
        entity_kind: str | None = None,
        entity_id: int | None = None,
        key: str | None = None,
        anchor_id: int | None = None,
        line_number: int | None = None,
        version_tag: str | None = None,
    ) -> dict[str, Any]:
        """Markdown notes block (reference ``models/block.py``): either
        standalone (``key``/``anchor_id`` — issues, pages, threaded
        comments, Block ``:206-262``) or attached to a registry row
        (``entity_kind``+``entity_id`` — ArtifactBlock/RunBlock/...,
        ``:396-470``).

        Reference kind semantics (``_init_versioned_attached_block``,
        ``:51-166``): ``'comment'`` blocks are append-only and never
        versioned; ``'readme'`` blocks form ONE version family per
        anchor entity (or per standalone ``key``) — a new readme on the
        same anchor revises the current head, except when the head has
        blank content, which is returned as-is (the reference's
        reuse-the-placeholder behavior, ``:137-146``). ``line_number``
        carries the TransformBlock source-line anchor (``:432``)."""
        if kind not in ("readme", "comment"):
            raise ValueError(f"kind must be 'readme' or 'comment', got {kind!r}")
        if (entity_kind is None) != (entity_id is None):
            raise ValueError("entity_kind and entity_id must be passed together")
        if entity_kind is not None and entity_kind not in REGISTRY_SCHEMAS:
            raise KeyError(f"unknown registry {entity_kind!r}")
        block_hash = hashlib.md5(content.encode()).hexdigest() if content else None
        base = {
            "content": content,
            "hash": block_hash,
            "kind": kind,
            "key": key,
            "entity_kind": entity_kind,
            "entity_id": entity_id,
            "anchor_id": anchor_id,
            "line_number": line_number,
            "version_tag": version_tag,
            "is_latest": True,
            "branch_id": self.current_branch_id,
            "created_at": _now(),
        }
        prev = None
        if kind == "readme" and (entity_kind is not None or key is not None):
            fam = self.read_raw("block").filter(
                (F.col("kind") == "readme") & F.col("is_latest")
            )
            if entity_kind is not None:
                fam = fam.filter(
                    (F.col("entity_kind") == entity_kind)
                    & (F.col("entity_id") == entity_id)
                )
            else:
                fam = fam.filter(F.col("key") == key)
            prev = fam.orderBy(F.desc("created_at")).first()
        if prev is not None and (prev["content"] or "") == "":
            # blank placeholder head: reference returns it unchanged
            return prev.asDict()
        if prev is not None:
            uid = self.next_version_uid("block", prev["uid"][:16])
        else:
            uid = base62(16) + "0000"
        row = {"id": self.next_id("block"), "uid": uid, **base}
        self._append("block", [row])
        if prev is not None:
            self._reconcile_is_latest("block", stems=[uid[:16]])
        return row

    def blocks_for(
        self,
        entity_kind: str | None = None,
        entity_id: int | None = None,
        key: str | None = None,
        anchor_id: int | None = None,
        kind: str | None = None,
        latest_only: bool = True,
    ) -> DataFrame:
        """Blocks attached to an entity / standalone key / anchor
        thread (reference ``.ablocks`` related managers and
        ``Block.anchors``)."""
        df = self.read_raw("block")
        if entity_kind is not None:
            # entity_id optional: kind alone lists every block attached
            # to that registry (== NULL would silently match nothing)
            df = df.filter(F.col("entity_kind") == entity_kind)
            if entity_id is not None:
                df = df.filter(F.col("entity_id") == entity_id)
        elif entity_id is not None:
            raise ValueError("entity_id requires entity_kind")
        if key is not None:
            df = df.filter(F.col("key") == key)
        if anchor_id is not None:
            df = df.filter(F.col("anchor_id") == anchor_id)
        if kind is not None:
            df = df.filter(F.col("kind") == kind)
        if latest_only:
            df = df.filter(F.col("is_latest"))
        return df.orderBy("created_at")

    # ---------------------------------------------------------- labels (M2M)

    def link_labels(
        self,
        artifact_id: int,
        ulabel_ids: list[int],
        feature_id: int | None = None,
    ) -> int:
        """Attach ulabels to an artifact through the link table
        (reference ``Artifact.ulabels.add`` / LabelManager;
        ``ulabel.py:286`` ArtifactULabel). Idempotent on
        (artifact, ulabel, feature) — the reference's unique
        constraint. Returns the number of new links."""
        existing = {
            (r["ulabel_id"], r["feature_id"])
            for r in self._registry_rows("artifact_ulabels", artifact_id=artifact_id)
        }
        rows = [
            {
                "artifact_id": artifact_id,
                "ulabel_id": u,
                "feature_id": feature_id,
                "run_id": self.current_run_id,
                "created_at": _now(),
            }
            for u in ulabel_ids
            if (u, feature_id) not in existing
        ]
        self._append("artifact_ulabels", rows)
        return len(rows)

    def labels_for(self, artifact_id: int) -> DataFrame:
        """ULabel rows linked to an artifact (reference
        ``artifact.ulabels.all()``)."""
        br = self.read_raw("artifact_ulabels").filter(
            F.col("artifact_id") == artifact_id
        )
        ul = self.read("ulabel")
        return ul.join(br, ul["id"] == br["ulabel_id"], "left_semi")

    # ---------------------------------------------------------- annotations

    def annotate(
        self,
        entity_kind: str,
        entity_id: int,
        values: dict[str, Any],
        feature_ids: dict[str, int] | None = None,
        explode_lists: bool = False,
    ) -> None:
        """Attach feature values to an entity as EAV rows (reference
        V8 ``annotate_artifact``; JSON value tables §1.1 Tier C).

        ``explode_lists=True`` writes one SCALAR row per list item
        instead of one JSON-array row — the form the EAV filter path
        (``features__<name>=value`` compares the scalar json) can
        actually match (review finding: array-valued curator
        annotations were unreachable by the documented filters)."""
        self.annotate_many(
            entity_kind,
            [(entity_id, values)],
            feature_ids=feature_ids,
            explode_lists=explode_lists,
        )

    def annotate_many(
        self,
        entity_kind: str,
        items: list[tuple[int, dict[str, Any]]],
        feature_ids: dict[str, int] | None = None,
        explode_lists: bool = False,
    ) -> None:
        """Bulk form of :meth:`annotate`: ONE parquet append for any
        number of (entity_id, values) pairs — a per-entity loop of
        ``annotate`` calls is one table commit per entity, O(n²) writes
        over a training run's checkpoint re-ranks (review finding)."""
        import json

        rows = []
        for entity_id, values in items:
            for fname, value in values.items():
                per = (
                    list(value)
                    if explode_lists and isinstance(value, (list, tuple, set))
                    else [value]
                )
                for item in per:
                    rows.append(
                        {
                            "entity_kind": entity_kind,
                            "entity_id": entity_id,
                            "feature_id": (feature_ids or {}).get(fname, -1),
                            "feature_name": fname,
                            "value_json": json.dumps(item, default=str),
                            "branch_id": self.current_branch_id,
                            "created_at": _now(),
                        }
                    )
        if rows:
            self._append("annotation", rows)

    def deannotate(
        self,
        entity_kind: str,
        entity_ids: list[int],
        feature_name: str | list[str],
        value: Any = ...,
    ) -> None:
        """Remove annotation rows — the engine analogue of the
        reference's ``features.remove_values(feature, value=...)``
        (``models/artifact.py`` feature manager; used by the checkpoint
        integration's best/last-flag flips, ``lightning.py:489-516``).

        Drops every row matching (entity_kind, entity_id ∈ ids,
        feature_name ∈ names — a list removes several features in ONE
        table rewrite); ``value`` narrows to one JSON value. The
        annotation table is append-only for writes, so removal is one
        anti-join rewrite — registry-sized, same write model as
        ``delete_where``. Without removal a flipped flag would leave
        BOTH values matchable by the EAV filters."""
        import json

        if not entity_ids:
            return
        names = (
            [feature_name] if isinstance(feature_name, str) else list(feature_name)
        )
        df = self.read_raw("annotation")
        cond = (
            (F.col("entity_kind") == entity_kind)
            & F.col("feature_name").isin(names)
            & F.col("entity_id").isin(list(entity_ids))
        )
        if value is not ...:
            cond = cond & (F.col("value_json") == json.dumps(value, default=str))
        # probe before rewriting: the common caller pattern (replace-
        # then-annotate on a FRESH entity) matches nothing, and a full
        # table rewrite per no-op would dominate checkpoint cadence
        if df.filter(cond).limit(1).count() == 0:
            return
        self._overwrite("annotation", df.filter(~cond))


class LazyArtifact:
    """A reserved managed-storage path awaiting caller-driven writes
    (reference ``LazyArtifact``, ``artifact.py:2199-2243``): stream or
    write to :attr:`path`, then :meth:`save` registers the payload in
    place as a normal artifact (content-hash dedup and key versioning
    included). ``save`` before anything was written raises."""

    def __init__(self, lh, path, key, description, otype, run_id):
        self._lh = lh
        self.path = path
        self.key = key
        self._description = description
        self._otype = otype
        self._run_id = run_id

    def save(self) -> dict:
        store = self._lh._store_for(self.path)
        if not store.exists(self.path):
            raise FileNotFoundError(
                f"nothing was written to the lazy path {self.path!r}; "
                "write or stream to `.path` before `.save()`"
            )
        row = self._lh.register_artifact(
            self.path,
            key=self.key,
            description=self._description,
            otype=self._otype,
            run_id=self._run_id,
        )
        if row["key"] != self.key:
            # content-hash dedup matched an EXISTING artifact: the
            # bytes just streamed to the reserved path belong to that
            # row's key, not this one — remove them so managed storage
            # holds no untracked orphan (review finding); callers get
            # the canonical row and must drop their `lazy.path` handle
            store.remove(self.path)
        return row
