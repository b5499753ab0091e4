"""Resumable validation runs (per-partition checkpoint + lineage), and
the one seam every small artifact is read and written through.

Checkpoint.  North-rule requirement: "resumable from checkpoint with
per-partition lineage + metrics".  Each validation run partitions the
input by a stable hash of the conversation id, records one checkpoint
row per finished partition —

    checkpoint(part_id int, snapshot_id string, rule_schema_hash string,
               predicate_set string, status string, n_turns long,
               n_failed long, n_violations long, finished_ts timestamp)

— and a restart skips partitions already 'done' for the SAME lineage
(snapshot_id + rule_schema_hash + predicate_set).  A changed schema or
changed input invalidates the old rows by construction (lineage
mismatch), which is exactly the reference's schema-hash cache idea
(validator.py:136-140, utils.py:57-84) promoted to a durable table.
Storage is a parquet append-dir: each commit adds one file, so a
commit is atomic.

Artifact I/O seam.  Checkpoint tables, per-partition summaries and
the one-row meta rows of the stores and models are a few KB each, and
a Spark job to read or write one costs 0.1-0.8 s of pure scheduling.
So all of them go through one reader (``read_local_rows``) and one
writer (``_write_rows``), and ``_local_fs_path`` makes the
local-or-remote choice for both:

* a ``file:`` path is read and written driver-side with pyarrow
  (writes land as a tmp file renamed into place);
* any other scheme (s3a:, hdfs:, abfs:, gs:) takes the Spark read or a
  Spark write of rows built JVM-side from literals.

Both branches write the same parquet column types, and read errors
propagate — an I/O failure never turns into an empty result.
Existence probes, listings, deletes and renames go through the Hadoop
FileSystem bound to the path's scheme: os.path would silently answer
False for s3a://, hdfs://, abfs:// paths and quietly degrade resume to
a full re-run.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import uuid
from contextlib import contextmanager
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

CHECKPOINT_SCHEMA = (
    "part_id int, snapshot_id string, rule_schema_hash string, "
    "predicate_set string, status string, n_turns long, n_failed long, "
    "n_violations long, finished_ts timestamp"
)

#: the DDL column types an artifact may carry, with the Arrow type the
#: local writer stores for each (the parquet type Spark writes for it)
_ARROW_TYPES = {
    "int": pa.int32(), "integer": pa.int32(),
    "bigint": pa.int64(), "long": pa.int64(),
    "double": pa.float64(), "float": pa.float32(),
    "string": pa.string(), "boolean": pa.bool_(),
    "timestamp": pa.timestamp("us", tz="UTC"),
}


def _ddl_fields(schema: str) -> list[tuple[str, str]]:
    """(name, type) pairs of a flat DDL schema string.  Raises on a
    type outside ``_ARROW_TYPES``."""
    fields = []
    for spec in schema.split(","):
        name, typ = spec.strip().split(None, 1)
        typ = typ.strip().lower()
        if typ not in _ARROW_TYPES:
            raise ValueError(
                f"artifact column {name!r} has type {typ!r}; supported: "
                f"{', '.join(sorted(_ARROW_TYPES))}")
        fields.append((name, typ))
    return fields


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path``, the FileSystem bound to its
    scheme under the session's Hadoop configuration."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return hpath.getFileSystem(conf), hpath


def _local_fs_path(spark: SparkSession, path: str) -> str | None:
    """The local-or-remote decision of every artifact read and write:
    the os-level path when ``path``'s Hadoop filesystem is ``file:``,
    else None (the caller takes its Spark branch)."""
    fs, _ = _hadoop_fs(spark, path)
    if fs.getUri().getScheme() != "file":
        return None
    for prefix in ("file://", "file:"):
        if path.startswith(prefix):
            return path[len(prefix):]
    return path


def literal_rows_df(spark: SparkSession, schema: str, rows) -> DataFrame:
    """DataFrame of scalar literal ``rows`` (tuples in ``schema``
    order) built JVM-side: ``inline`` over an array of literal
    structs.  ``createDataFrame`` on local rows parallelizes a PICKLED
    Python partition, so every action on it — even writing a one-row
    store-meta artifact — pays a Python worker round-trip: measured
    5.7 s vs 0.3 s for the band-store meta row.  The cast pins each
    column to exactly the type the schema string names, so readers see
    the identical parquet schema."""
    fields = _ddl_fields(schema)
    structs = [F.struct(*[F.lit(v).cast(typ).alias(name)
                          for (name, typ), v in zip(fields, row)])
               for row in rows]
    return spark.range(1).select(F.inline(F.array(*structs)))


def read_local_rows(spark: SparkSession, path: str,
                    columns: list[str] | None = None) -> list[dict]:
    """The rows of a SMALL parquet dir (a per-partition summary, a
    checkpoint table, a meta row) as dicts — partition dirs
    (``part_id=N``) included as columns, same as a Spark read.
    ``columns`` selects those of the named columns the table has.

    [] when the path is absent or holds no data files (a zero-row
    partitioned write leaves only ``_SUCCESS``).  A local path is read
    driver-side with pyarrow: a Spark read of such a table costs a
    partition-listing job plus a scan job, ~0.5-0.8 s of scheduling
    around a few KB (measured on the flagship's 64-row summary).  Any
    other scheme runs the Spark read.  Read errors propagate.  NOT for
    big tables: the result materializes on the driver."""
    if not [n for n in fs_list(spark, path) if n[0] not in "_."]:
        return []
    local = _local_fs_path(spark, path)
    if local is not None:
        ds = pads.dataset(local, format="parquet", partitioning="hive")
        if columns is not None:
            columns = [c for c in columns if c in ds.schema.names]
        return ds.to_table(columns=columns).to_pylist()
    df = spark.read.parquet(path)
    if columns is not None:
        df = df.select(*[c for c in columns if c in df.columns])
    return [r.asDict() for r in df.collect()]


def read_one_row(spark: SparkSession, path: str,
                 schema: str | None = None) -> dict | None:
    """The row of a ONE-ROW parquet artifact (store/model meta rows,
    commit markers) as a dict; None when it holds no rows.  With
    ``schema`` (a DDL string), columns the file lacks come back as None
    — the same contract as a schema'd Spark read."""
    rows = read_local_rows(spark, path)
    if not rows:
        return None
    if schema is None:
        return rows[0]
    return {name: rows[0].get(name) for name, _ in _ddl_fields(schema)}


def _write_rows(spark: SparkSession, path: str, schema: str, rows,
                mode: str) -> None:
    """Write a few ``rows`` (tuples in ``schema`` order) to the parquet
    dir ``path`` with the column types the DDL ``schema`` names.
    ``mode`` is "overwrite" (replace the dir) or "append" (add one
    file).

    Local: pyarrow writes a tmp file and renames it into place, so a
    reader never sees a half-written file.  A crash between the two
    leaves a dot-prefixed tmp file that readers skip; the next write
    removes it.  Remote: one Spark write of ``literal_rows_df``."""
    local = _local_fs_path(spark, path)
    if local is None:
        literal_rows_df(spark, schema, rows) \
            .coalesce(1).write.mode(mode).parquet(path)
        return
    fields = _ddl_fields(schema)
    if mode == "overwrite":
        if os.path.exists(local):
            shutil.rmtree(local)
        final = "part-00000.parquet"
    else:
        final = f"part-{uuid.uuid4().hex[:12]}.parquet"
    os.makedirs(local, exist_ok=True)
    for stale in glob.glob(os.path.join(local, ".part-*.tmp")):
        os.remove(stale)
    tbl = pa.table([pa.array([row[i] for row in rows], _ARROW_TYPES[typ])
                    for i, (_, typ) in enumerate(fields)],
                   names=[name for name, _ in fields])
    tmp = os.path.join(local, f".part-{uuid.uuid4().hex[:12]}.tmp")
    pq.write_table(tbl, tmp)
    os.rename(tmp, os.path.join(local, final))


def write_one_row(spark: SparkSession, path: str, schema: str,
                  values) -> None:
    """Replace the ONE-ROW parquet artifact at ``path`` (store/model
    meta rows).  NOT for commit markers: those rely on the Spark
    committer's ``_SUCCESS`` as the commit point."""
    _write_rows(spark, path, schema, [values], "overwrite")


@contextmanager
def sequential_listing(spark: SparkSession, path: str):
    """Force parquet partition discovery under ``path`` to list
    sequentially on the driver while the context is open — ONLY when
    the path's filesystem is local.  Spark switches to a distributed
    listing job above ``spark.sql.sources.parallelPartitionDiscovery.
    threshold`` (default 32) paths, which is right for high-latency
    object stores but costs a whole job's scheduling overhead to list
    a few hundred local dirs (measured 0.42 s vs 0.05 s for a 256-dir
    bucketed store table).  Not thread-safe: flips a session-level SQL
    conf for the duration (single-threaded probe/compaction paths
    only)."""
    if _local_fs_path(spark, path) is None:
        yield
        return
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, "1000000")
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe via the Hadoop FileSystem bound to ``path``'s
    scheme — correct for local, file:, hdfs:, s3a:, abfs:, gs: alike."""
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def fs_delete(spark: SparkSession, path: str) -> None:
    """Recursive delete via the Hadoop FileSystem bound to ``path``'s
    scheme (no-op when the path does not exist)."""
    fs, hpath = _hadoop_fs(spark, path)
    if fs.exists(hpath):
        fs.delete(hpath, True)


def fs_rename(spark: SparkSession, src: str, dst: str) -> None:
    """Directory rename via the Hadoop FileSystem (atomic on HDFS and
    posix local filesystems; object stores emulate it — callers needing
    true atomicity there should sit behind a table catalog).  Raises if
    the rename is refused (e.g. destination exists)."""
    fs, hsrc = _hadoop_fs(spark, src)
    hdst = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(dst)
    if not fs.rename(hsrc, hdst):
        raise IOError(f"rename {src} -> {dst} refused by the filesystem")


def fs_list(spark: SparkSession, path: str) -> list[str]:
    """Child names (not full paths) of a directory; [] if absent."""
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(hpath)]


def part_id_col(conv_col: str = "conv_id", n_parts: int = 64):
    """Stable partition id: pmod(xxhash64(conv_id), n_parts).

    Hash-bucketing by conversation keeps all turns of one conversation
    in one partition (so per-partition pass/fail is conversation-complete)
    and matches an Iceberg `bucket(conv_id, n)` partition spec."""
    return F.pmod(F.xxhash64(F.col(conv_col)), F.lit(n_parts)).cast("int")


def snapshot_id(df: DataFrame) -> str | None:
    """Lineage id of the input: Iceberg snapshot when available, else a
    hash of the sorted input-file list.  Returns None for purely
    in-memory DataFrames — two different in-memory datasets are
    indistinguishable, so they must never share resume lineage (the
    caller disables resume and stamps commits with an ephemeral id)."""
    try:
        files = sorted(df.inputFiles())
    except Exception:
        files = []
    if not files:
        return None
    return hashlib.sha256("\n".join(files).encode()).hexdigest()[:16]


class CheckpointStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def done_partitions(self, snapshot: str, schema_hash: str,
                        predicate_set: str = "") -> list[int]:
        """Partitions committed 'done' under this lineage."""
        want = ("done", snapshot, schema_hash, predicate_set)
        rows = read_local_rows(
            self.spark, self.path,
            columns=["part_id", "status", "snapshot_id",
                     "rule_schema_hash", "predicate_set"])
        return sorted({r["part_id"] for r in rows
                       if (r["status"], r["snapshot_id"],
                           r["rule_schema_hash"],
                           r["predicate_set"]) == want})

    def commit_rows(self, rows: list[dict], snapshot: str,
                    schema_hash: str, predicate_set: str = "") -> None:
        """Append one 'done' row per entry of ``rows`` (dicts with
        part_id, n_rows, n_failed, n_violations) as ONE file — the
        commit is atomic.  No-op for no rows."""
        if not rows:
            return
        now = datetime.now(timezone.utc)
        _write_rows(self.spark, self.path, CHECKPOINT_SCHEMA, [
            (r["part_id"], snapshot, schema_hash, predicate_set, "done",
             r["n_rows"], r["n_failed"], r["n_violations"], now)
            for r in rows], "append")
