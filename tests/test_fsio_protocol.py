"""FileIO protocol contract, parametrized over both implementations.

The same assertions run against LocalFileIO (POSIX: link/rename idioms) and
MemoryFileIO (object-store semantics: flat keyspace, conditional put, no
rename) — proving the table's commit protocol depends only on primitives an
object store offers.  No Spark involved: the metadata plane is plain bytes.
"""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import types as T

from clin_variant_etl_spark.lake.fsio import (
    CommitConflict,
    LocalFileIO,
    MemoryFileIO,
)
from clin_variant_etl_spark.lake.table import _SHARD_CACHE, LakeTable


@pytest.fixture(params=["local", "memory"])
def io_root(request, tmp_path):
    if request.param == "local":
        return LocalFileIO(), str(tmp_path)
    return MemoryFileIO(), "/mem/table"


def test_put_read_list_walk_delete(io_root):
    io, root = io_root
    io.makedirs(f"{root}/meta")
    io.makedirs(f"{root}/manifests/s1")
    io.put_atomic(f"{root}/meta/v1.json", b"{}")
    io.put_atomic(f"{root}/manifests/s1/a.json", b"[1]")
    io.put_atomic(f"{root}/manifests/s1/b.json", b"[2]")

    assert io.exists(f"{root}/meta/v1.json")
    assert io.isdir(f"{root}/manifests/s1")
    assert not io.exists(f"{root}/meta/v2.json")
    assert io.read(f"{root}/manifests/s1/a.json") == b"[1]"
    assert io.size(f"{root}/manifests/s1/b.json") == 3
    assert io.list(f"{root}/manifests/s1") == ["a.json", "b.json"]
    assert sorted(io.list(root)) == ["manifests", "meta"]

    rels = sorted(rel for _, rel in io.walk_files(f"{root}/manifests"))
    assert rels == ["s1/a.json", "s1/b.json"]

    io.delete(f"{root}/manifests/s1/a.json")
    assert not io.exists(f"{root}/manifests/s1/a.json")
    io.delete(f"{root}/manifests/s1/a.json")  # idempotent

    assert io.list(f"{root}/does/not/exist") == []


def test_put_atomic_overwrites(io_root):
    io, root = io_root
    io.makedirs(root)
    io.put_atomic(f"{root}/refs.json", b"v1")
    io.put_atomic(f"{root}/refs.json", b"v2")
    assert io.read(f"{root}/refs.json") == b"v2"


def test_put_exclusive_single_winner(io_root):
    """The commit-atomicity primitive: of M racing writers to one key,
    exactly one wins and every loser gets CommitConflict."""
    io, root = io_root
    io.makedirs(f"{root}/meta")
    path = f"{root}/meta/v7.json"
    outcomes: list[str] = []
    lock = threading.Lock()

    def attempt(i: int) -> None:
        try:
            io.put_exclusive(path, f"writer-{i}".encode())
            with lock:
                outcomes.append("win")
        except CommitConflict:
            with lock:
                outcomes.append("lose")

    threads = [threading.Thread(target=attempt, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert outcomes.count("win") == 1
    assert outcomes.count("lose") == 7
    assert io.read(path).startswith(b"writer-")
    # a later retry against the committed key still conflicts
    with pytest.raises(CommitConflict):
        io.put_exclusive(path, b"late")


def test_cleanup_empty_dirs(io_root):
    io, root = io_root
    io.makedirs(f"{root}/data/b-1")
    io.makedirs(f"{root}/data/b-2")
    io.put_atomic(f"{root}/data/b-2/part-0.parquet", b"x")
    io.cleanup_empty_dirs(f"{root}/data")
    assert io.exists(f"{root}/data/b-2/part-0.parquet")
    # the emptied batch dir is gone; the populated one is not
    assert "b-1" not in io.list(f"{root}/data")
    assert "b-2" in io.list(f"{root}/data")


def test_mtime_contract(io_root):
    import time

    io, root = io_root
    io.makedirs(root)
    t0 = time.time()
    io.put_atomic(f"{root}/a.json", b"x")
    t1 = time.time()
    # wall-clock sandwich (1s slack for coarse fs timestamp granularity)
    assert t0 - 1.0 <= io.mtime(f"{root}/a.json") <= t1 + 1.0
    # overwrite refreshes the clock — orphan grace is per-WRITE, not create
    time.sleep(0.01)
    io.put_atomic(f"{root}/a.json", b"y")
    assert io.mtime(f"{root}/a.json") >= t0 - 1.0
    with pytest.raises(FileNotFoundError):
        io.mtime(f"{root}/missing.json")


def test_memory_table_commit_leaves_local_disk_untouched(tmp_path):
    """Every metadata write of a commit goes through the table's FileIO: a
    MemoryFileIO table rooted under a real directory creates nothing there."""
    root = str(tmp_path / "t")
    io = MemoryFileIO()
    schema = T.StructType([T.StructField("k", T.StringType())])
    table = LakeTable.create(root, schema, io=io)
    entry = {"path": "data/b0/f0.parquet", "partition": {}, "rows": 1, "bytes": 10}
    table.commit("append", [entry])
    assert list(tmp_path.iterdir()) == []
    _SHARD_CACHE.clear()  # the snapshot must list the entry from the FileIO
    files = LakeTable(root, io=io).current_snapshot().files
    assert [f["path"] for f in files] == [entry["path"]]
