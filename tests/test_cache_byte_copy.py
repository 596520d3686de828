"""Warm is a byte copy that keeps the remote layout (A19 FileDownloader analog).

- a hive-partitioned remote dir warms into the same relative paths, with or without a
  session: reading the copy equals reading the remote, partition column included (a
  flat copy let same-named part files of different partitions overwrite each other)
- validate() and the peer-fetch data plane walk the copy and judge it by its byte
  total, not by file names: a partitioned copy, or one whose part files carry no
  ``.parquet`` suffix (Hive-style ``000000_0``), is neither judged broken nor shipped
  short
- the copied byte total is checked against the remote size before commit, for a local
  warm and for a peer fetch: a short copy leaves no manifest entry and no directory
"""

from __future__ import annotations

import filecmp
import os
import shutil
import socketserver
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rubix_spark.cache import CacheManager
from rubix_spark.cache.manager import _mtime_size


@pytest.fixture()
def partitioned(tmp_path):
    """t.parquet/k=1/part-00000.parquet + k=2/part-00000.parquet: same file names."""
    root = tmp_path / "remote" / "t.parquet"
    for k, ids in ((1, [0, 1]), (2, [2, 3])):
        part = root / f"k={k}"
        part.mkdir(parents=True)
        pq.write_table(pa.table({"id": ids, "v": [i * 10 for i in ids]}), str(part / "part-00000.parquet"))
    return str(root)


@pytest.fixture()
def multi_file(tmp_path):
    """Three part files with several row groups each, plus a _SUCCESS marker."""
    root = tmp_path / "remote" / "facts.parquet"
    root.mkdir(parents=True)
    for f in range(3):
        ids = list(range(f * 300, (f + 1) * 300))
        pq.write_table(pa.table({"id": ids}), str(root / f"part-{f:05d}.parquet"), row_group_size=100)
    (root / "_SUCCESS").write_bytes(b"")
    return str(root)


@pytest.fixture()
def hive_style(tmp_path):
    """Part files named like Hive/Presto output: no ``.parquet`` suffix."""
    root = tmp_path / "remote" / "h.parquet"
    root.mkdir(parents=True)
    for f in range(2):
        ids = list(range(f * 50, (f + 1) * 50))
        pq.write_table(pa.table({"id": ids}), str(root / f"{f:06d}_0"))
    (root / "_SUCCESS").write_bytes(b"")
    return str(root)


def _rows(df):
    return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())


def _same_tree(a: str, b: str) -> bool:
    """Every file under ``a`` exists under ``b`` at the same relative path with the
    same bytes, and vice versa."""
    def rel_files(d):
        return sorted(os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs)

    names = rel_files(a)
    return names == rel_files(b) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names
    )


@pytest.mark.parametrize("with_session", [True, False])
def test_partitioned_warm_keeps_every_partition(spark, partitioned, tmp_path, with_session):
    cm = CacheManager(spark if with_session else None, str(tmp_path / "cache"))
    local = cm.warm(partitioned)
    assert local is not None
    remote_rows = _rows(spark.read.parquet(partitioned))
    assert len(remote_rows) == 4 and "k" in spark.read.parquet(partitioned).columns
    assert _rows(spark.read.parquet(local)) == remote_rows
    assert _same_tree(partitioned, local)
    if with_session:
        assert _rows(cm.read(partitioned)) == remote_rows
        assert cm.stats()["hits"] == 1


def test_validate_walks_a_partitioned_copy(partitioned, tmp_path):
    cm = CacheManager(None, str(tmp_path / "cache"))
    local = cm.warm(partitioned)
    out = cm.validate()
    assert out["checked"] == 1 and out["broken"] == 0 and out["repaired"] == 0
    entry = cm.manifest.get(partitioned)
    assert entry is not None and entry.local_path == local


def test_peer_fetch_ships_a_partitioned_copy(spark, partitioned, tmp_path):
    from rubix_spark.cache.server import CacheClient, CacheServer

    node_a = CacheServer(str(tmp_path / "node_a"))
    node_a.serve_background()
    host, port = node_a.address
    try:
        node_a.manager.warm(partitioned)
        node_b = CacheManager(spark, str(tmp_path / "node_b"), peer_client=CacheClient(host, port))
        df = node_b.read(partitioned)
        assert node_b.stats()["peer_fetches"] == 1
        assert _rows(df) == _rows(spark.read.parquet(partitioned))
        local = node_b.manifest.get(partitioned).local_path
        assert _same_tree(partitioned, local)
    finally:
        node_a.shutdown()


def test_peer_fetch_rejects_a_name_outside_the_copy(tmp_path):
    from rubix_spark.cache.server import CacheClient

    class Hostile(socketserver.StreamRequestHandler):
        def handle(self):
            self.rfile.readline()
            self.wfile.write(
                b'{"ok": true, "result": {"files": [{"name": "../escape.parquet", "size": 3}], '
                b'"generation": 1, "size_bytes": 3, "last_modified": 0.0}}\nabc'
            )

    srv = socketserver.TCPServer(("127.0.0.1", 0), Hostile)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        dest = tmp_path / "peer" / "copy"
        with pytest.raises(ValueError, match="outside the copy"):
            CacheClient(*srv.server_address).fetch("/x.parquet", str(dest))
        assert not (tmp_path / "peer" / "escape.parquet").exists()
    finally:
        srv.shutdown()
        srv.server_close()


@pytest.mark.parametrize("kind", ["file", "dir"])
def test_whole_file_copy_is_byte_identical(multi_file, tmp_path, kind):
    remote = multi_file if kind == "dir" else os.path.join(multi_file, "part-00001.parquet")
    cm = CacheManager(None, str(tmp_path / "cache"))
    local = cm.warm(remote)
    entry = cm.manifest.get(remote)
    assert entry is not None and entry.local_path == local
    if kind == "dir":
        assert _same_tree(remote, local)
    else:
        assert os.listdir(local) == [os.path.basename(remote)]
        assert filecmp.cmp(remote, os.path.join(local, os.path.basename(remote)), shallow=False)
    assert _mtime_size(local)[1] == entry.size_bytes == _mtime_size(remote)[1]
    # the copy keeps the remote's row groups: a cached scan splits like the remote one
    for f in (fn for fn in os.listdir(local) if fn.endswith(".parquet")):
        assert pq.ParquetFile(os.path.join(local, f)).metadata.num_row_groups == 3


def test_short_copy_is_never_committed(multi_file, tmp_path, monkeypatch):
    cm = CacheManager(None, str(tmp_path / "cache"))
    real_copy = shutil.copy2

    def short_copy(src, dst):  # a torn read: the last byte never arrives
        real_copy(src, dst)
        with open(dst, "r+b") as f:
            f.truncate(max(0, os.path.getsize(dst) - 1))
        return dst

    monkeypatch.setattr(shutil, "copy2", short_copy)
    assert cm.warm(multi_file) is None
    assert cm.manifest.get(multi_file) is None
    assert os.listdir(os.path.join(cm.cache_dir, "fcache")) == []

    monkeypatch.setattr(shutil, "copy2", real_copy)
    local = cm.warm(multi_file)  # a clean retry commits
    assert local is not None and _same_tree(multi_file, local)


def test_validate_judges_a_copy_by_its_byte_total(hive_style, tmp_path):
    cm = CacheManager(None, str(tmp_path / "cache"))
    local = cm.warm(hive_style)
    assert cm.validate() == {"checked": 1, "broken": 0, "repaired": 0, "orphans_swept": 0}
    with open(os.path.join(local, "000001_0"), "r+b") as f:  # a torn file keeps its name
        f.truncate(os.path.getsize(f.name) - 1)
    assert cm.validate()["broken"] == 1
    assert cm.manifest.get(hive_style) is None


def test_peer_fetch_ships_every_file(spark, hive_style, tmp_path):
    from rubix_spark.cache.server import CacheClient, CacheServer

    node_a = CacheServer(str(tmp_path / "node_a"))
    node_a.serve_background()
    try:
        node_a.manager.warm(hive_style)
        node_b = CacheManager(spark, str(tmp_path / "node_b"), peer_client=CacheClient(*node_a.address))
        df = node_b.read(hive_style)
        assert node_b.stats()["peer_fetches"] == 1
        assert _rows(df) == _rows(spark.read.parquet(hive_style))
        assert _same_tree(hive_style, node_b.manifest.get(hive_style).local_path)
        assert node_b.validate()["broken"] == 0
    finally:
        node_a.shutdown()


def test_peer_copy_of_the_wrong_size_is_never_committed(spark, hive_style, tmp_path):
    from rubix_spark.cache.server import CacheClient, CacheServer

    node_a = CacheServer(str(tmp_path / "node_a"))
    node_a.serve_background()
    try:
        peer_copy = node_a.manager.warm(hive_style)
        with open(os.path.join(peer_copy, "000000_0"), "ab") as f:  # now larger than size_bytes
            f.write(b"x")
        node_b = CacheManager(spark, str(tmp_path / "node_b"), peer_client=CacheClient(*node_a.address))
        df = node_b.read(hive_style)  # the fetch is dropped; the read warms from the remote
        assert node_b.stats()["peer_fetches"] == 0
        assert _rows(df) == _rows(spark.read.parquet(hive_style))
        local = node_b.manifest.get(hive_style).local_path
        assert _same_tree(hive_style, local)
        assert os.listdir(os.path.join(node_b.cache_dir, "fcache")) == [os.path.basename(local)]
    finally:
        node_a.shutdown()
