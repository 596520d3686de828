"""Admin CLI tests: the sessionless operator surface over a cache directory."""

from __future__ import annotations

import os
import shutil

import pytest

from tests.conftest import SF_SMOKE
from tools.cache_admin import main


@pytest.fixture()
def remote(tmp_path):
    d = tmp_path / "remote"
    d.mkdir()
    shutil.copy(f"{SF_SMOKE}/nation.parquet", d / "nation.parquet")
    shutil.copy(f"{SF_SMOKE}/region.parquet", d / "region.parquet")
    return str(d)


def test_warm_list_stats_invalidate_roundtrip(remote, tmp_path, capsys):
    cache = str(tmp_path / "cache")
    n, r = f"{remote}/nation.parquet", f"{remote}/region.parquet"

    out = main(["warm", "--cache-dir", cache, n, r])
    assert out["warmed"][n] and os.path.exists(out["warmed"][n])

    out = main(["list", "--cache-dir", cache])
    assert [e["remote_path"] for e in out["entries"]] == sorted([n, r])
    assert out["total_bytes"] > 0

    out = main(["stats", "--cache-dir", cache])
    assert out["cached_files"] == 2

    capsys.readouterr()  # drain
    out = main(["invalidate", "--cache-dir", cache, n])
    assert out["stats"]["cached_files"] == 1

    # stdout is one valid JSON document per invocation (operator contract)
    import json

    assert json.loads(capsys.readouterr().out) == out


def test_validate_repairs_and_evict_respects_budget(remote, tmp_path):
    cache = str(tmp_path / "cache")
    n, r = f"{remote}/nation.parquet", f"{remote}/region.parquet"
    main(["warm", "--cache-dir", cache, n, r])

    # break one local copy → validate repairs (invalidates) it
    entries = main(["list", "--cache-dir", cache])["entries"]
    shutil.rmtree(entries[0]["local_path"])
    out = main(["validate", "--cache-dir", cache])
    assert out == {"checked": 2, "broken": 1, "repaired": 1, "orphans_swept": 0}

    out = main(["evict", "--cache-dir", cache, "--budget", "1"])
    assert out["evicted"] == 1 and out["total_bytes"] == 0


def test_invalidate_and_evict_tombstone_their_dirs(remote, tmp_path):
    """Each CLI call is a short-lived manager: the dirs that invalidate and evict drop
    must be recorded in the manifest, so a later reclaim frees the disk."""
    cache = str(tmp_path / "cache")
    n, r = f"{remote}/nation.parquet", f"{remote}/region.parquet"
    warmed = main(["warm", "--cache-dir", cache, n, r])["warmed"]
    main(["invalidate", "--cache-dir", cache, n])
    main(["evict", "--cache-dir", cache, "--budget", "1"])

    from rubix_spark.cache.manifest import Manifest

    m = Manifest(os.path.join(cache, "manifest.json"))
    assert set(m._tombstones) == {warmed[n], warmed[r]}
    assert all(os.path.isdir(d) for d in warmed.values())  # still inside the grace
    m.reclaim(force=True)
    assert os.listdir(os.path.join(cache, "fcache")) == []
