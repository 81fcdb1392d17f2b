"""TableFormat — thin storage abstraction (SURVEY §7).

North rule targets Iceberg tables; this sandbox has no
iceberg-spark-runtime jar and is offline, so the layer picks at runtime:

* **IcebergFormat** when the Iceberg Spark extensions are on the
  classpath — real snapshots (``VERSION AS OF``), schema evolution DDL,
  append/overwrite through the catalog;
* **ParquetDirFormat** otherwise — parquet directories plus a
  ``_snapshots.json`` manifest emulating snapshot ids so
  checkpoint/resume code is identical either way.

Only this module knows which backend is live; the suite, checkpoint and
lineage code speak TableFormat.

Concurrency note (parquet emulation): snapshot dirs are uuid4-named so
two concurrent appenders can never clobber each other's DATA; the
manifest append re-reads the on-disk manifest immediately before the
atomic swap so concurrent entries merge rather than overwrite. A
truly simultaneous swap can still lose one manifest ENTRY (file
systems give no compare-and-swap) — the real Iceberg backend's
catalog commit is the atomic version of this protocol.
"""

from __future__ import annotations

import glob
import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark._jvm  # noqa: SLF001
        jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.SparkTable"
        )
        return True
    except Exception:
        return False


class TableFormat:
    """Interface: read/write/append + snapshot listing + time travel.

    ``partition_by`` requests storage-level partitioning on the named
    columns (hive-style dirs for parquet, identity partitioning for
    Iceberg) so downstream filters on those columns prune at the FILE
    level — e.g. the checkpoint layer partitions violations by bucket.
    """

    def read(self, spark, table, snapshot_id=None) -> DataFrame:
        raise NotImplementedError

    def write(self, df, table, mode="overwrite", partition_by=None) -> str:
        """Write ``df`` as a new snapshot of ``table``; return its id.

        Runs exactly ONE Spark action over ``df``: the checkpoint
        layer's fused metrics read an ``Observation`` on ``df``, and an
        Observation keeps the metrics of the FIRST action only. An extra
        action (a count, an executing schema probe) would fill it from a
        job other than the one that wrote the rows."""
        raise NotImplementedError

    def snapshots(self, spark, table) -> list[dict]:
        raise NotImplementedError


@dataclass
class IcebergFormat(TableFormat):
    """Real Iceberg catalog tables (requires runtime jar)."""

    catalog: str = "spark_catalog"

    def read(self, spark, table, snapshot_id=None) -> DataFrame:
        reader = spark.read.format("iceberg")
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", snapshot_id)
        return reader.load(table)

    def _create_writer(self, df, table, partition_by):
        writer = df.writeTo(table).using("iceberg")
        if partition_by:
            from pyspark.sql import functions as F

            writer = writer.partitionedBy(
                *[F.col(c) for c in partition_by]
            )
        return writer

    def write(self, df, table, mode="overwrite", partition_by=None) -> str:
        if mode == "overwrite":
            self._create_writer(df, table, partition_by).createOrReplace()
        else:
            # append must work on the FIRST write too (the checkpoint
            # layer only ever appends): create-with-partitioning when
            # the table doesn't exist yet, plain append otherwise
            try:
                df.writeTo(table).append()
            except Exception as e:
                msg = str(e)
                if ("TABLE_OR_VIEW_NOT_FOUND" not in msg
                        and "NoSuchTable" not in msg):
                    raise
                self._create_writer(df, table, partition_by).create()
        snaps = self.snapshots(df.sparkSession, table)
        return str(snaps[-1]["snapshot_id"]) if snaps else ""

    def snapshots(self, spark, table) -> list[dict]:
        # explicit ORDER BY: SQL result order is otherwise undefined
        # and write() pins input_snapshot off the LAST entry
        rows = spark.sql(
            f"SELECT * FROM {table}.snapshots ORDER BY committed_at"
        ).collect()
        return [
            {"snapshot_id": r["snapshot_id"],
             "committed_at": str(r["committed_at"])}
            for r in rows
        ]


def _has_parquet_files(path: str) -> bool:
    return bool(glob.glob(os.path.join(path, "**", "*.parquet"),
                          recursive=True))


@dataclass
class ParquetDirFormat(TableFormat):
    """Parquet directory per table + _snapshots.json manifest.

    Layout::

        <root>/<table>/_snapshots.json
        <root>/<table>/snap-<id>/part-*.parquet

    Each write lands in a fresh uuid4-named ``snap-<id>`` dir and
    appends a manifest entry; reads resolve the latest (or requested)
    snapshot. Appends list parent snapshots so the manifest is a
    lineage chain like Iceberg's. Empty writes (a wave with zero
    violation rows — the EXPECTED case on mostly-valid data) record the
    schema in the manifest and are skipped as data sources on read, so
    an all-valid wave can never poison the table with a schema-less
    directory."""

    root: str

    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "_snapshots.json")

    def _load_manifest(self, table: str) -> list[dict]:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return json.load(f)

    def _store_manifest(self, table: str, manifest: list[dict]) -> None:
        os.makedirs(self._table_dir(table), exist_ok=True)
        tmp = self._manifest_path(table) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path(table))  # atomic swap

    def read(self, spark, table, snapshot_id=None) -> DataFrame:
        manifest = self._load_manifest(table)
        if not manifest:
            raise FileNotFoundError(f"no snapshots for table {table!r}")
        if snapshot_id is None:
            entry = manifest[-1]
        else:
            entry = next(
                (e for e in manifest if e["snapshot_id"] == snapshot_id),
                None,
            )
            if entry is None:
                raise FileNotFoundError(
                    f"table {table!r} has no snapshot {snapshot_id!r}"
                )
        paths = [
            p for p in (
                os.path.join(self._table_dir(table), d)
                for d in entry["dirs"]
            )
            if _has_parquet_files(p)
        ]
        if not paths:
            # every contributing write was empty — reconstruct the
            # typed empty frame from the recorded schema
            schema_json = entry.get("schema")
            if not schema_json:
                raise FileNotFoundError(
                    f"table {table!r} snapshot "
                    f"{entry['snapshot_id']!r} has no data files and "
                    f"no recorded schema"
                )
            return spark.createDataFrame(
                [], StructType.fromJson(json.loads(schema_json))
            )
        if len(paths) == 1:
            return spark.read.parquet(paths[0])
        # multiple snapshot roots: Spark refuses to merge several
        # hive-partitioned roots in one call (CONFLICTING_DIRECTORY_
        # STRUCTURES) — read each root and union (schemas may differ by
        # layout: partition columns land at the end)
        out = None
        for p in paths:
            d = spark.read.parquet(p)
            out = d if out is None else out.unionByName(
                d, allowMissingColumns=True
            )
        return out

    def write(self, df, table, mode="overwrite", partition_by=None) -> str:
        # uuid4: concurrent writers land in DISTINCT dirs — a
        # deterministic (table, seq) id made two concurrent appenders
        # overwrite the same directory (data loss)
        snap_id = f"{uuid.uuid4().hex[:16]}"
        snap_dir = f"snap-{snap_id}"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(
            os.path.join(self._table_dir(table), snap_dir)
        )
        # RE-read the manifest after the data write so entries appended
        # by concurrent writers in the meantime are preserved (see
        # module concurrency note)
        manifest = self._load_manifest(table)
        if mode == "append" and manifest:
            dirs = manifest[-1]["dirs"] + [snap_dir]
            parent = manifest[-1]["snapshot_id"]
        else:
            dirs = [snap_dir]
            parent = manifest[-1]["snapshot_id"] if manifest else None
        manifest.append({
            "snapshot_id": snap_id,
            "parent_id": parent,
            "mode": mode,
            "dirs": dirs,
            "partition_by": list(partition_by) if partition_by else [],
            "schema": df.schema.json(),
        })
        self._store_manifest(table, manifest)
        return snap_id

    def snapshots(self, spark, table) -> list[dict]:
        return self._load_manifest(table)


def resolve_format(
    spark: SparkSession, *, parquet_root: str | None = None
) -> TableFormat:
    """Iceberg when available, else parquet-dir emulation."""
    if iceberg_available(spark):
        return IcebergFormat()
    return ParquetDirFormat(root=parquet_root or "/tmp/schematic_spark_tables")
