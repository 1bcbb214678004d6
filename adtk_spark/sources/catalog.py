"""TierCatalog: snapshot-committed tier tables with checkpoint/resume.

The north rule asks for Iceberg tables with snapshot-based resume. No
Iceberg runtime jars exist in this sandbox, so the catalog is an
abstraction with the same contract — ``commit`` returns a monotonically
increasing snapshot id recorded in a JSON manifest, ``read`` sees only
committed snapshots, ``read_since`` is the incremental-refresh cursor,
and processing state ("which raw snapshot has been rolled into tier X")
lives in the manifest too. On a real cluster the same API maps onto
``spark.read.format("iceberg")`` + snapshot ids; here each snapshot is a
parquet subdirectory ``<root>/<table>/snap=<id>/``.

Like an Iceberg manifest, ours also carries what a reader would
otherwise open data files to learn. Each snapshot's entry holds its
lineage, observed while the snapshot is written (one ``Observation`` on
the write job, no re-read): its row count, its number of distinct
``source`` values, when it was committed, and the min/max of its time
column (the zone map ``read_range`` prunes on); ``lineage`` returns
these for every live snapshot without a Spark job. Once per table the
manifest also holds the written schema. Reads pass that schema to
``spark.read.schema``, so building a read DataFrame runs no
schema-inference job. A table whose snapshots differ in schema, or that
was committed with ``partition_by``, has no recorded schema and is read
with parquet inference, as is every table of a manifest written before
schemas were recorded; snapshots committed before lineage was recorded
report ``None`` rows and sources.

Crash safety: data files are written first, then the manifest is
replaced atomically (tmp file + os.replace). A crash between the two
leaves an orphan directory that is never read — exactly Iceberg's
uncommitted-data-file semantics.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType


def _split_schema(s: str) -> list[str]:
    """Split a simpleString field list on top-level commas only
    (nested struct/array/map types contain commas of their own)."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
            continue
        depth += ch in "<(["
        depth -= ch in ">)]"
        cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def _nullable(t: DataType) -> DataType:
    """``t`` nullable at every level: the schema a parquet write records
    and a parquet read infers back."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType), True, f.metadata)
                           for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


class TierCatalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest ----------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_snapshots.json")

    def _load(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"tables": {}, "state": {}}
        with open(self._manifest_path) as f:
            return json.load(f)

    def _store(self, m: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path)

    # -- writes ------------------------------------------------------------
    def commit(
        self,
        df: DataFrame,
        table: str,
        meta: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> int:
        """Write df as a new snapshot of ``table``; returns snapshot id.

        ``partition_by`` hive-partitions the snapshot's files on the
        given (materialized) columns — e.g. a ``day`` column derived
        from ``bucket_ts`` — so retention cutoffs and time-ranged reads
        prune whole directories at the scan (``PartitionFilters`` in the
        plan, never opening old files). The Iceberg analogue is the
        ``days(bucket_ts)`` partition transform.

        The snapshot's manifest entry records its lineage, observed on
        the rows as the write job produces them (``DataFrame.observe``;
        no job re-reads the snapshot): ``rows``, ``n_sources`` (exact
        distinct non-NULL ``source`` values, if the frame has that
        column) and a zone map ``stats``, the min/max of ``bucket_ts``
        if present, else ``ts``. ``read_range`` skips whole snapshot
        directories whose range cannot intersect a time-bounded query —
        pruning that happens on the DRIVER from the manifest alone,
        before any file is listed or opened (Iceberg's manifest-entry
        min/max file skipping).

        The table's first commit records the written schema in the
        manifest, which later reads use instead of inferring it. A
        commit whose schema differs from the recorded one, or one with
        ``partition_by``, drops the record: the table is read with
        parquet schema inference from then on."""
        m = self._load()
        t = m["tables"].setdefault(table, {"snapshots": []})
        snap_id = (t["snapshots"][-1]["id"] + 1) if t["snapshots"] else 1
        path = os.path.join(self.root, table, f"snap={snap_id}")
        stats_col = next((c for c in ("bucket_ts", "ts") if c in df.columns),
                         None)
        metrics = [F.count(F.lit(1)).alias("rows")]
        if stats_col is not None:
            metrics += [F.min(stats_col).alias("lo"),
                        F.max(stats_col).alias("hi")]
        if "source" in df.columns:
            # observe rejects DISTINCT aggregates; a set's size is exact
            metrics.append(F.size(F.collect_set("source")).alias("n_sources"))
        # unnamed: a random name cannot collide across catalogs or
        # streaming epochs sharing the session
        obs = Observation()
        df = df.observe(obs, *metrics)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        row = obs.get
        entry = {"id": snap_id, "committed_at": time.time(),
                 "meta": meta or {}, "rows": row["rows"]}
        if "n_sources" in row:
            entry["n_sources"] = row["n_sources"]
        if row.get("lo") is not None:
            entry["stats"] = {"col": stats_col,
                              "min": self._iso(row["lo"]),
                              "max": self._iso(row["hi"])}
        schema = _nullable(df.schema).json()
        if not t["snapshots"] and not partition_by:
            t["schema"] = schema
        elif partition_by or t.get("schema") != schema:
            t.pop("schema", None)
        t["snapshots"].append(entry)
        self._store(m)
        return snap_id

    @staticmethod
    def _iso(v) -> str:
        return v.isoformat() if hasattr(v, "isoformat") else str(v)

    def commit_bucketed(
        self,
        df: DataFrame,
        table: str,
        buckets: int = 64,
        bucket_col: str = "source",
        sort_cols: tuple[str, ...] = ("source", "bucket_ts"),
    ) -> str:
        """Read-optimized compaction: materialize the tier's current
        state as a bucketed, sorted metastore table.

        Why: a plain parquet scan carries no partitioning info, so every
        detector pass over a stored tier pays a full-table Exchange to
        cluster by source before its window functions. A bucketed scan
        reports HashPartitioning(bucket_col) and satisfies the Window's
        distribution outright — zero Exchange, only an in-partition sort
        (guarded by tests/test_catalog_resume.py plan assertions). At
        100 TB that deletes the single biggest shuffle of every scoring
        job. On Iceberg this maps onto the ``bucket(N, source)``
        partition transform plus sorted data-file compaction.

        The bucketed table is a *view of the last commit* (snapshot
        union would discard the bucketing); re-run after new commits.
        Returns the metastore table name.
        """
        # unique per catalog root so parallel test catalogs don't collide
        import hashlib

        suffix = hashlib.md5(self.root.encode()).hexdigest()[:8]
        name = f"{table}_bucketed_{suffix}"
        path = os.path.join(self.root, f"{table}_bucketed")
        spark = df.sparkSession
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(buckets, bucket_col)
            .sortBy(*sort_cols)
            .mode("overwrite")
            .format("parquet")
            .option("path", path)
            .saveAsTable(name)
        )
        m = self._load()
        m["tables"].setdefault(table, {"snapshots": []})["bucketed"] = {
            "name": name,
            "buckets": buckets,
            "bucket_col": bucket_col,
            "sort_cols": list(sort_cols),
            "path": path,
            "schema": df.schema.simpleString()[7:-1],  # strip struct<...>
            "as_of_snapshot": self.last_snapshot(table),
        }
        self._store(m)
        return name

    def bucketed_as_of(self, table: str) -> int | None:
        """Snapshot id the bucketed view was compacted at, or None if
        never compacted. Current iff equal to ``last_snapshot(table)``."""
        info = self._load()["tables"].get(table, {}).get("bucketed")
        return info.get("as_of_snapshot") if info else None

    def read_bucketed(self, spark: SparkSession, table: str) -> DataFrame | None:
        """The read-optimized bucketed view, or None if never compacted.

        Metastore registrations are per-session (in-memory catalog), so
        a fresh session re-registers the external bucketed table from
        the manifest — the data files and their bucket-id file naming
        are on disk, which is all the bucketed scan needs."""
        info = self._load()["tables"].get(table, {}).get("bucketed")
        if not info:
            return None
        name = info["name"]
        if not spark.catalog.tableExists(name):
            cols = ", ".join(
                f"`{c.split(':')[0]}` {c.split(':', 1)[1]}"
                for c in _split_schema(info["schema"])
            )
            sort = ", ".join(f"`{c}`" for c in info["sort_cols"])
            spark.sql(
                f"CREATE TABLE {name} ({cols}) USING parquet "
                f"CLUSTERED BY (`{info['bucket_col']}`) SORTED BY ({sort}) "
                f"INTO {info['buckets']} BUCKETS "
                f"LOCATION '{info['path']}'"
            )
        return spark.table(name)

    # -- reads -------------------------------------------------------------
    def _table(self, table: str) -> dict:
        return self._load()["tables"].get(table, {})

    @staticmethod
    def _live(t: dict) -> list[int]:
        dead = set(t.get("superseded", []))
        return [s["id"] for s in t.get("snapshots", []) if s["id"] not in dead]

    def lineage(self, table: str) -> dict[int, dict]:
        """What each live snapshot of ``table`` holds, by snapshot id,
        oldest first, from the manifest alone (no Spark job): ``rows``,
        ``n_sources`` (None for a table without ``source``), ``min`` and
        ``max`` of the zone-map column as ISO strings (None for an empty
        snapshot or one without a time column) and ``committed_at``
        (epoch seconds). Snapshots committed before lineage was recorded
        report ``None`` rows and sources."""
        t = self._table(table)
        live = set(self._live(t))
        return {s["id"]: {"rows": s.get("rows"),
                          "n_sources": s.get("n_sources"),
                          "min": s.get("stats", {}).get("min"),
                          "max": s.get("stats", {}).get("max"),
                          "committed_at": s["committed_at"]}
                for s in t.get("snapshots", []) if s["id"] in live}

    def snapshots(self, table: str) -> list[int]:
        """Live (non-superseded) snapshot ids, oldest first."""
        return self._live(self._table(table))

    def last_snapshot(self, table: str) -> int | None:
        ids = self.snapshots(table)
        return ids[-1] if ids else None

    def columns(self, spark: SparkSession, table: str) -> list[str] | None:
        """Data columns of the newest live snapshot of ``table`` (None
        if it has none): the recorded schema's, else inferred from that
        one snapshot dir (one Spark job)."""
        t = self._table(table)
        ids = self._live(t)
        if not ids:
            return None
        if "schema" in t:
            return StructType.fromJson(json.loads(t["schema"])).fieldNames()
        return self._read_ids(spark, table, ids[-1:], t).drop("snap").columns

    def _read_ids(self, spark: SparkSession, table: str, ids: list[int],
                  t: dict) -> DataFrame | None:
        """Snapshot dirs ``ids`` of ``table`` (manifest entry ``t``) plus
        their ``snap`` column; with a recorded schema no job runs."""
        if not ids:
            return None
        paths = [os.path.join(self.root, table, f"snap={i}") for i in ids]
        r = spark.read.option("basePath", os.path.join(self.root, table))
        if "schema" in t:
            r = r.schema(StructType.fromJson(json.loads(t["schema"])))
        return r.parquet(*paths)

    def read(self, spark: SparkSession, table: str) -> DataFrame | None:
        """All committed snapshots (uncommitted orphan dirs invisible)."""
        t = self._table(table)
        return self._read_ids(spark, table, self._live(t), t)

    def read_snapshot(self, spark: SparkSession, table: str,
                      snapshot_id: int) -> DataFrame | None:
        """Exactly one committed snapshot — e.g. re-reading what a
        ``commit()`` just wrote for reporting, instead of re-executing
        the uncached pipeline that produced it (r04 ADVICE)."""
        t = self._table(table)
        ids = [i for i in self._live(t) if i == snapshot_id]
        return self._read_ids(spark, table, ids, t)

    def read_since(self, spark: SparkSession, table: str, snapshot_id: int) -> DataFrame | None:
        """Rows committed strictly after ``snapshot_id`` — the
        incremental-refresh cursor."""
        t = self._table(table)
        ids = [i for i in self._live(t) if i > snapshot_id]
        return self._read_ids(spark, table, ids, t)

    def snapshots_in_range(self, table: str, start=None, end=None) -> list[int]:
        """Live snapshot ids whose manifest zone map can intersect
        [start, end) — driver-side pruning from the manifest alone.
        Snapshots committed without stats are kept (conservative).
        Superseded snapshots are excluded exactly as in ``snapshots()``:
        after compact_tier + vacuum their snap= dirs are gone, so a
        range read that still listed them would fail PATH_NOT_FOUND."""
        return self._in_range(self._table(table), start, end)

    @staticmethod
    def _in_range(t: dict, start, end) -> list[int]:
        import datetime as _dt

        def _ts(v):
            try:
                return _dt.datetime.fromisoformat(v)
            except (ValueError, TypeError):
                return None  # unparseable stats -> keep (conservative)

        dead = set(t.get("superseded", []))
        out = []
        for s in t.get("snapshots", []):
            if s["id"] in dead:
                continue
            st = s.get("stats")
            if st is not None:
                hi, lo = _ts(st["max"]), _ts(st["min"])
                if start is not None and hi is not None and hi < start:
                    continue
                if end is not None and lo is not None and lo >= end:
                    continue
            out.append(s["id"])
        return out

    def read_range(
        self, spark: SparkSession, table: str, start=None, end=None,
    ) -> DataFrame | None:
        """Committed rows with the zone-map column in [start, end): snapshot
        dirs outside the range are skipped entirely (never listed or
        opened — the scan's InMemoryFileIndex only sees surviving
        snapshots), then the residual row filter is pushed to the
        parquet scan of what remains. Latest-wins restatement safety:
        a snapshot restating an in-range bucket has that bucket inside
        its own min/max, so it always survives the pruning — skipped
        snapshots can only hold out-of-range rows. Reads the manifest
        once."""
        t = self._table(table)
        df = self._read_ids(spark, table, self._in_range(t, start, end), t)
        if df is None:
            return None
        cols = {s["stats"]["col"] for s in t["snapshots"] if s.get("stats")}
        col = cols.pop() if len(cols) == 1 else (
            "bucket_ts" if "bucket_ts" in df.columns else "ts")
        if start is not None:
            df = df.where(F.col(col) >= F.lit(start))
        if end is not None:
            df = df.where(F.col(col) < F.lit(end))
        return df

    # -- maintenance: compaction + snapshot expiry --------------------------
    def mark_superseded(self, table: str, ids: list[int]) -> None:
        """Record that ``ids`` have been rewritten into a newer snapshot
        (Iceberg's rewrite_data_files commit): reads skip them from now
        on, but their files stay on disk until ``vacuum`` so in-flight
        readers planned against the old manifest still finish."""
        m = self._load()
        t = m["tables"].setdefault(table, {"snapshots": []})
        t["superseded"] = sorted(set(t.get("superseded", [])) | set(ids))
        self._store(m)

    def vacuum(self, table: str) -> list[str]:
        """Delete superseded snapshot directories from disk (Iceberg
        expire_snapshots + remove_orphan_files). Returns removed paths.
        Call only after in-flight readers of the old manifest are done —
        the same grace-period contract as Iceberg snapshot expiry."""
        import shutil

        t = self._load()["tables"].get(table, {})
        removed = []
        for i in t.get("superseded", []):
            path = os.path.join(self.root, table, f"snap={i}")
            if os.path.isdir(path):
                shutil.rmtree(path)
                removed.append(path)
        return removed

    # -- retention ledger ---------------------------------------------------
    def set_retention(self, table: str, keep_after) -> None:
        """Record the retention cutoff a vacuum/retention pass enforced
        on ``table`` (earliest ``bucket_ts`` still guaranteed present).
        Routing (plans/router.py) consults this ledger so a query into
        evicted history is served by a coarser tier that still holds it
        — the Iceberg analogue is snapshot expiry + partition-drop
        metadata."""
        m = self._load()
        m["tables"].setdefault(table, {"snapshots": []})["keep_after"] = (
            keep_after.isoformat() if hasattr(keep_after, "isoformat")
            else str(keep_after))
        self._store(m)

    def get_retention(self, table: str):
        """Earliest retained bucket_ts, or None if never vacuumed."""
        import datetime as _dt

        v = self._load()["tables"].get(table, {}).get("keep_after")
        return _dt.datetime.fromisoformat(v) if v else None

    # -- processing state (resume watermarks) ------------------------------
    def get_watermark(self, key: str) -> int:
        return int(self._load()["state"].get(key, 0))

    def set_watermark(self, key: str, snapshot_id: int) -> None:
        m = self._load()
        m["state"][key] = int(snapshot_id)
        self._store(m)
