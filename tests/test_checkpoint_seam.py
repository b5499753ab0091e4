"""The artifact-I/O seam (plans/checkpoint.py): one reader and one
writer with a local (pyarrow) and a remote (Spark) branch.  Each test
runs on both branches unless it pins a local-only behavior; either
branch must return the same rows and write the same column types."""

import glob
import os
from datetime import datetime, timezone

import pytest

from cerberus_spark.plans import checkpoint as C

_META = ("k int, n bigint, frac double, ratio float, name string, "
         "flag boolean, at timestamp")
_VALUES = (3, 2 ** 40, 0.5, 0.25, "abc", True,
           datetime(2026, 1, 2, 3, 4, 5, 600000, tzinfo=timezone.utc))


def _done(part_ids):
    return [{"part_id": p, "n_rows": 10 + p, "n_failed": p,
             "n_violations": 2 * p} for p in part_ids]


def test_local_fs_path_strips_the_file_scheme(spark, tmp_path):
    p = str(tmp_path)
    assert C._local_fs_path(spark, p) == p
    assert C._local_fs_path(spark, f"file:{p}") == p
    assert C._local_fs_path(spark, f"file://{p}") == p


def test_one_row_roundtrip_keeps_values_and_types(spark, io_mode,
                                                  tmp_path):
    path = str(tmp_path / "meta")
    C.write_one_row(spark, path, _META, _VALUES)
    row = C.read_one_row(spark, path)
    assert {k: v for k, v in row.items() if k != "at"} \
        == dict(zip(["k", "n", "frac", "ratio", "name", "flag"],
                    _VALUES[:-1]))
    # the same instant: tz-aware from pyarrow, naive local time from Spark
    assert row["at"].timestamp() == _VALUES[-1].timestamp()
    assert spark.read.parquet(path).schema.simpleString() == (
        "struct<k:int,n:bigint,frac:double,ratio:float,name:string,"
        "flag:boolean,at:timestamp>")
    # overwrite replaces; a schema'd read fills absent columns with None
    C.write_one_row(spark, path, "k int", (4,))
    assert C.read_one_row(spark, path, schema="k int, gone string") \
        == {"k": 4, "gone": None}


def test_unknown_ddl_type_raises(spark, io_mode, tmp_path):
    with pytest.raises(ValueError, match="array<int>"):
        C.write_one_row(spark, str(tmp_path / "m"), "a array<int>", ([1],))


def test_reader_empty_partitioned_and_corrupt(spark, io_mode, tmp_path):
    assert C.read_local_rows(spark, str(tmp_path / "absent")) == []
    assert C.read_one_row(spark, str(tmp_path / "absent")) is None
    only_success = tmp_path / "only_success"
    only_success.mkdir()
    (only_success / "_SUCCESS").write_bytes(b"")
    assert C.read_local_rows(spark, str(only_success)) == []

    part = str(tmp_path / "part")
    spark.createDataFrame([(0, 5, "a"), (1, 7, "b")],
                          "part_id int, n long, s string") \
        .write.partitionBy("part_id").parquet(part)
    rows = C.read_local_rows(spark, part, columns=["part_id", "n", "nope"])
    assert sorted(rows, key=lambda r: r["part_id"]) \
        == [{"part_id": 0, "n": 5}, {"part_id": 1, "n": 7}]

    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        C.read_local_rows(spark, str(bad))


def test_commit_rows_and_done_partitions(spark, io_mode, tmp_path):
    store = C.CheckpointStore(spark, str(tmp_path / "ck"))
    assert store.done_partitions("snap", "hash") == []
    store.commit_rows(_done([2, 0]), "snap", "hash")
    store.commit_rows(_done([1]), "snap", "hash", predicate_set="other")
    store.commit_rows(_done([3]), "snap2", "hash")
    store.commit_rows([], "snap", "hash")  # no-op
    assert store.done_partitions("snap", "hash") == [0, 2]
    assert store.done_partitions("snap", "hash", "other") == [1]
    assert store.done_partitions("snap2", "hash") == [3]
    rows = C.read_local_rows(spark, str(tmp_path / "ck"),
                             columns=["part_id", "n_turns", "status"])
    assert sorted((r["part_id"], r["n_turns"], r["status"]) for r in rows) \
        == [(0, 10, "done"), (1, 11, "done"), (2, 12, "done"),
            (3, 13, "done")]


def test_local_commit_removes_stale_tmp_files(spark, tmp_path):
    """A crash between the tmp write and its rename leaves a
    ``.part-*.tmp`` file; the next local commit removes it, and it
    never counts as committed."""
    path = tmp_path / "ck"
    store = C.CheckpointStore(spark, str(path))
    store.commit_rows(_done([0, 1]), "snap", "hash")
    done = store.done_partitions("snap", "hash")
    (path / ".part-0123456789ab.tmp").write_bytes(b"half-written")
    assert store.done_partitions("snap", "hash") == done
    store.commit_rows(_done([0, 1]), "snap", "hash")
    assert glob.glob(os.path.join(path, "*.tmp")) == []
    assert glob.glob(os.path.join(path, ".*.tmp")) == []
    assert store.done_partitions("snap", "hash") == done == [0, 1]
