"""Table layer: parquet-backed ACID-ish store with an Iceberg upgrade path.

The north rule targets Iceberg tables; this sandbox has no Iceberg jar,
so the store writes parquet snapshots under a table directory with an
atomically-renamed manifest pointer. The surface is exactly what the
crawl engine calls — append, staged/plain overwrite, read, commit meta,
tagged-snapshot drop and footer stats — so the engine code never
branches on the backend. On a cluster, the same calls map to
``df.writeTo(tbl).append()`` / ``overwritePartitions()`` against a real
catalog.

Bucketed tables: tables whose every consumer joins on one key (the
crawl engine's ``seen`` / ``pages_ext`` / ``frontier``, all url-keyed)
are stored as Spark catalog tables ``CLUSTERED BY (url) INTO N
BUCKETS``. A bucketed scan reports HashPartitioning(url, N), so the
seen anti-join, the fetch join, and the frontier-remainder anti-join
all run with ZERO exchange on the big static side — only the small
per-round delta shuffles. This is the parquet stand-in for Iceberg's
bucket partition transform (``bucket(N, url)``); at 10^10-URL scale it
is the difference between re-shuffling the full seen set every round
and shuffling only the round's discoveries. Catalog metadata is
re-registered from the manifest on session restart (external-table
DDL over the existing bucket files), so resume works across processes.

Reference analogs: the image sink + progress cache + Postgres rows
(builder/_search_engines.py:190-202, builder/progress.py:37-154,
backend/database/models.py) all collapse into this one table layer.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# tables small enough that a broadcast-join plan should see the bare
# scan (repartitioning a dim would add an exchange for nothing)
_DIM_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-generated parquet table (TESTDATA.md).

    Under-split guard: the sandbox fixtures are single-row-group
    parquet files, so a narrow (shuffle-free) plan over them runs as
    ONE task no matter how many cores exist — file splits are the only
    parallelism source for scan-side work. When the file would yield
    fewer splits than the session's cores, fact tables are
    repartitioned to default parallelism (a sub-ms shuffle at fixture
    scale). On a real cluster the condition never fires: a 100 TB
    table has orders of magnitude more splits than cores, and the read
    stays a bare scan with pushdown intact (the repartition sits ABOVE
    the scan node, so filter/column pushdown still reaches parquet).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if name in _DIM_TABLES:
        return df
    cores = spark.sparkContext.defaultParallelism
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    max_split = int(raw) if raw.isdigit() else 128 * 1024 * 1024
    try:
        size = os.path.getsize(path) if os.path.isfile(path) else sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    except OSError:
        return df
    if (size + max_split - 1) // max_split < cores:
        return df.repartition(cores)
    return df


def _schema_ddl(schema: StructType) -> str:
    return ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
    )


class TableStore:
    """Snapshot tables over parquet with a manifest pointer.

    Layout::

        <root>/<table>/data/<snapshot-uuid>/part-*.parquet   (snapshots)
        <root>/<table>/manifest.json                          (pointer)

    ``manifest.json`` lists committed snapshot dirs in commit order
    (each entry ``{"snap": dir, "tag": optional-str}``); a reader
    unions exactly the committed snapshots, so a crashed append (data
    written, manifest not updated) is invisible — the same
    snapshot-isolation property Iceberg gives, at tiny scale. Commit is
    a POSIX atomic rename. ``drop_tagged`` removes snapshots by tag,
    which the crawl engine uses to make a re-run of a crashed round
    idempotent (drop any ``round-N`` snapshots before re-appending).
    ``overwrite`` (or ``stage_overwrite`` + ``commit_staged``) replaces
    the table with one new snapshot and a ``meta`` dict read back by
    ``table_meta``; ``count`` and ``column_max`` answer from parquet
    footers without a Spark job.

    Bucketed tables (``bucket=(cols, n)`` on overwrite/append) live as
    external Spark catalog tables instead; see module docstring. Their
    append path has weaker crash atomicity than the manifest (Spark's
    file-commit protocol only) — Iceberg restores full ACID in
    production.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # catalog names must be unique per store root within a session
        self._cat_id = hashlib.md5(os.path.abspath(root).encode()).hexdigest()[:8]
        os.makedirs(root, exist_ok=True)

    # -- internals ---------------------------------------------------------
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "manifest.json")

    def _read_manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return {"snapshots": [], "schema": None, "bucketed": None, "meta": {}}
        with open(p) as f:
            m = json.load(f)
        m.setdefault("bucketed", None)
        m.setdefault("meta", {})
        return m

    def _write_manifest(self, table: str, manifest: dict) -> None:
        os.makedirs(self._tdir(table), exist_ok=True)
        tmp = self._manifest_path(table) + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path(table))

    def _snap_dir(self, table: str, snap: str) -> str:
        return os.path.join(self._tdir(table), "data", snap)

    def _new_snap(self) -> str:
        return f"snap-{int(time.time() * 1000)}-{uuid.uuid4().hex[:8]}"

    # -- bucketed internals ------------------------------------------------
    def _cat_name(self, table: str, generation: int) -> str:
        return f"pixstore_{self._cat_id}_{table}_g{generation}"

    def _register_bucketed(self, table: str, manifest: dict) -> str:
        """Ensure the catalog table for the current generation exists
        (re-created from manifest DDL after a session restart)."""
        b = manifest["bucketed"]
        name = self._cat_name(table, b["generation"])
        if not self.spark.catalog.tableExists(name):
            schema = StructType.fromJson(json.loads(manifest["schema"]))
            cols = ", ".join(f"`{c}`" for c in b["cols"])
            self.spark.sql(
                f"CREATE TABLE {name} ({_schema_ddl(schema)}) USING PARQUET "
                f"CLUSTERED BY ({cols}) SORTED BY ({cols}) "
                f"INTO {b['n']} BUCKETS LOCATION '{b['location']}'"
            )
        return name

    def _drop_catalog(self, name: str) -> None:
        try:
            self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        except Exception:
            pass

    # -- public surface ----------------------------------------------------
    def exists(self, table: str) -> bool:
        m = self._read_manifest(table)
        return bool(m["snapshots"]) or m["bucketed"] is not None

    def append(
        self,
        table: str,
        df: DataFrame,
        tag: str | None = None,
        bucket: tuple[tuple[str, ...], int] | None = None,
    ) -> str:
        """Commit ``df`` as a new snapshot; returns the snapshot id.
        For bucketed tables the rows are inserted into the current
        generation's bucket files. ``tag`` is not tracked per-row there
        (crash recovery for bucketed appends goes through a guard
        column + ``column_max``, see plans/crawl.py), so passing one
        raises rather than silently changing recovery behavior; same
        for a ``bucket`` request against an existing plain table."""
        manifest = self._read_manifest(table)
        if manifest["bucketed"] is not None or (
            bucket is not None and not manifest["snapshots"]
        ):
            if manifest["bucketed"] is not None and tag is not None:
                raise ValueError(
                    f"append(tag=...) is not supported for bucketed table "
                    f"{table!r}: tags live in the manifest, which bucketed "
                    f"appends bypass — guard reads by a round column instead"
                )
            if manifest["bucketed"] is None:
                return self.overwrite(table, df, bucket=bucket)
            name = self._register_bucketed(table, manifest)
            b = manifest["bucketed"]
            (
                # repartition to the bucket layout first: each reducer
                # then owns exactly one bucket and writes ONE file
                # (otherwise every task writes a file per bucket —
                # tasks*N tiny files per commit)
                df.repartition(b["n"], *[F.col(c) for c in b["cols"]])
                .write.bucketBy(b["n"], *b["cols"])
                .sortBy(*b["cols"])
                .mode("append")
                .format("parquet")
                .saveAsTable(name)
            )
            return name
        if bucket is not None:
            raise ValueError(
                f"append(bucket=...) against existing plain table {table!r}: "
                f"the layout would silently differ from the request — "
                f"overwrite() with bucket= to convert, or append plain"
            )
        snap = self._new_snap()
        data_dir = self._snap_dir(table, snap)
        df.write.mode("overwrite").parquet(data_dir)
        manifest["snapshots"].append({"snap": snap, "tag": tag})
        manifest["schema"] = df.schema.json()
        self._write_manifest(table, manifest)
        return snap

    def stage_overwrite(
        self,
        table: str,
        df: DataFrame,
        bucket: tuple[tuple[str, ...], int] | None = None,
        meta: dict | None = None,
    ) -> dict:
        """Run the (expensive) data write of an overwrite WITHOUT
        committing it: readers keep seeing the old generation until
        ``commit_staged`` flips the manifest (one atomic rename). This
        is how the crawl round orders its commits — the frontier's data
        job runs concurrently with the results/seen appends, but its
        commit happens strictly after theirs, making the frontier flip
        the round's single commit point. A crash between stage and
        commit is never visible, but it leaks the staged data dir: it
        is referenced by no manifest and stays on disk until ``drop``
        deletes the table.
        """
        old = self._read_manifest(table)
        snap = self._new_snap()
        data_dir = self._snap_dir(table, snap)
        token: dict = {"table": table, "old": old}
        if bucket is not None:
            cols, n = bucket
            gen = (old["bucketed"]["generation"] + 1) if old["bucketed"] else 1
            name = self._cat_name(table, gen)
            self._drop_catalog(name)
            (
                df.repartition(n, *[F.col(c) for c in cols])
                .write.bucketBy(n, *cols)
                .sortBy(*cols)
                .option("path", data_dir)
                .mode("overwrite")
                .format("parquet")
                .saveAsTable(name)
            )
            token["manifest"] = {
                "snapshots": [],
                "schema": df.schema.json(),
                "bucketed": {
                    "cols": list(cols),
                    "n": n,
                    "generation": gen,
                    "location": data_dir,
                },
                "meta": meta or {},
            }
            token["name"] = name
            return token
        df.write.mode("overwrite").parquet(data_dir)
        token["manifest"] = {
            "snapshots": [{"snap": snap, "tag": None}],
            "schema": df.schema.json(),
            "bucketed": None,
            "meta": meta or {},
        }
        token["name"] = snap
        return token

    def commit_staged(self, token: dict) -> str:
        """Atomically publish a ``stage_overwrite`` result and clean up
        the previous generation."""
        table, old = token["table"], token["old"]
        self._write_manifest(table, token["manifest"])
        if old["bucketed"]:
            self._drop_catalog(self._cat_name(table, old["bucketed"]["generation"]))
            shutil.rmtree(old["bucketed"]["location"], ignore_errors=True)
        elif token["manifest"]["bucketed"] is not None:
            # plain → bucketed conversion: old plain snapshots are dead
            for s in old["snapshots"]:
                shutil.rmtree(self._snap_dir(table, s["snap"]), ignore_errors=True)
        return token["name"]

    def overwrite(
        self,
        table: str,
        df: DataFrame,
        bucket: tuple[tuple[str, ...], int] | None = None,
        meta: dict | None = None,
    ) -> str:
        """Replace table contents with ``df`` (single-snapshot commit).
        Writes to a fresh location then flips the manifest, so reading
        the old generation while writing the new one is safe. ``meta``
        is an arbitrary JSON dict stored in the manifest (the engine
        stamps the producing round into it — Iceberg snapshot-summary
        analog), readable via ``table_meta``."""
        return self.commit_staged(self.stage_overwrite(table, df, bucket, meta))

    def table_meta(self, table: str) -> dict:
        """The ``meta`` dict of the table's current generation ({} if
        absent)."""
        return self._read_manifest(table).get("meta") or {}

    def read(self, table: str, schema: StructType | None = None) -> DataFrame:
        manifest = self._read_manifest(table)
        if manifest["bucketed"] is not None:
            return self.spark.table(self._register_bucketed(table, manifest))
        if not manifest["snapshots"]:
            if schema is None:
                raise FileNotFoundError(f"table {table} has no snapshots")
            return self.spark.createDataFrame([], schema)
        return self.spark.read.parquet(
            *[self._snap_dir(table, s["snap"]) for s in manifest["snapshots"]]
        )

    def append_local(self, table: str, rows: list[tuple], schema: StructType,
                     tag: str | None = None) -> str:
        """Commit a tiny driver-side row set as a snapshot WITHOUT a
        Spark job (pyarrow write + manifest flip) — for per-round
        metrics/telemetry tables where a full job would cost more
        driver latency than the data is worth. Readers see an ordinary
        parquet snapshot."""
        import pyarrow as pa
        import pyarrow.parquet as papq

        manifest = self._read_manifest(table)
        if manifest["bucketed"] is not None:
            raise ValueError("append_local not supported for bucketed tables")
        snap = self._new_snap()
        data_dir = self._snap_dir(table, snap)
        os.makedirs(data_dir, exist_ok=True)
        arrays, names = [], []
        for i, f in enumerate(schema.fields):
            vals = [r[i] for r in rows]
            t = f.dataType.simpleString()
            pa_type = {
                "int": pa.int32(), "bigint": pa.int64(),
                "double": pa.float64(), "string": pa.string(),
                "boolean": pa.bool_(),
            }.get(t)
            arrays.append(pa.array(vals, pa_type))
            names.append(f.name)
        papq.write_table(
            pa.table(dict(zip(names, arrays))),
            os.path.join(data_dir, "part-00000.parquet"),
        )
        manifest["snapshots"].append({"snap": snap, "tag": tag})
        manifest["schema"] = schema.json()
        self._write_manifest(table, manifest)
        return snap

    def put_blob(self, name: str, meta: dict) -> None:
        """Atomically store a small JSON record (the crawl control
        state): a temp-file write, then one atomic rename over
        ``<name>.json``, so a reader sees the old record or the new one,
        never a torn write."""
        d = os.path.join(self.root, "_blobs")
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f"{name}.json.tmp.{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, os.path.join(d, f"{name}.json"))

    def get_blob(self, name: str) -> dict | None:
        meta_path = os.path.join(self.root, "_blobs", f"{name}.json")
        if not os.path.exists(meta_path):
            return None
        with open(meta_path) as f:
            return json.load(f)

    def _footers(self, table: str):
        """Parquet footer of every committed data file of ``table``
        (the current bucketed generation, or the manifest's snapshot
        dirs) — a driver-side metadata read, no Spark job. Unreadable
        files are skipped."""
        import pyarrow.parquet as pq

        manifest = self._read_manifest(table)
        if manifest["bucketed"] is not None:
            dirs = [manifest["bucketed"]["location"]]
        else:
            dirs = [self._snap_dir(table, s["snap"]) for s in manifest["snapshots"]]
        for d in dirs:
            if not os.path.isdir(d):
                continue
            for f in os.listdir(d):
                if f.endswith(".parquet") or (
                    f.startswith("part-") and not f.endswith(".crc")
                ):
                    try:
                        yield pq.ParquetFile(os.path.join(d, f)).metadata
                    except Exception:
                        continue

    def count(self, table: str) -> int:
        """Exact row count from parquet footers (no Spark job — the
        Iceberg manifest-stats analog)."""
        return sum(md.num_rows for md in self._footers(table))

    def column_max(self, table: str, col: str):
        """Max value of ``col`` from parquet row-group statistics (no
        Spark job — the Iceberg manifest-stats analog). Returns None
        for an empty/absent table or when no row group carries stats
        for the column. The crawl engine uses this to detect
        half-committed bucketed ``seen`` appends on crash recovery
        (``max(completed_round)``) without scanning data."""
        best = None
        for md in self._footers(table):
            if not md.num_row_groups:
                continue
            rg0 = md.row_group(0)
            idx = next(
                (i for i in range(rg0.num_columns)
                 if rg0.column(i).path_in_schema == col),
                None,
            )
            if idx is None:
                continue
            for rgi in range(md.num_row_groups):
                st = md.row_group(rgi).column(idx).statistics
                if st is not None and st.has_min_max:
                    if best is None or st.max > best:
                        best = st.max
        return best

    def drop_tagged(self, table: str, tags: set[str]) -> int:
        """Remove snapshots whose tag is in ``tags`` (crash-recovery:
        drop a half-committed round before re-running it). Returns the
        number of snapshots dropped. No-op on bucketed tables."""
        manifest = self._read_manifest(table)
        if manifest["bucketed"] is not None or not manifest["snapshots"]:
            return 0
        keep = [s for s in manifest["snapshots"] if s["tag"] not in tags]
        dropped = [s for s in manifest["snapshots"] if s["tag"] in tags]
        if not dropped:
            return 0
        manifest["snapshots"] = keep
        self._write_manifest(table, manifest)
        for s in dropped:
            shutil.rmtree(self._snap_dir(table, s["snap"]), ignore_errors=True)
        return len(dropped)

    def drop(self, table: str) -> None:
        manifest = self._read_manifest(table)
        if manifest["bucketed"] is not None:
            self._drop_catalog(
                self._cat_name(table, manifest["bucketed"]["generation"])
            )
        shutil.rmtree(self._tdir(table), ignore_errors=True)
