"""One file-identity rule (``sources.fsio.local_path`` / ``file_identity``)
and the two things keyed on it — the build-once fixture helper
(``queries.catalog.build_once``) and the per-file cache
(``fsio.cached_by_file``): URI forms, relative/remote pass-through at the
former call sites, concurrent builders and cache users, failed builds,
and input changes."""

from __future__ import annotations

import glob
import os
import tempfile
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from cloudfloe_spark.queries.catalog import build_once
from cloudfloe_spark.sources import fsio


@pytest.mark.parametrize(
    "uri, want",
    [
        ("/x", "/x"),
        ("file:///x", "/x"),
        ("file:/x", "/x"),  # the form Spark's inputFiles() returns
        ("/a/b/c.parquet", "/a/b/c.parquet"),
        ("file:///a/b/c.parquet", "/a/b/c.parquet"),
        ("s3://b/k", None),
        ("viewfs://cluster/k", None),
        ("rel/x", None),
        ("", None),
    ],
)
def test_local_path_forms(uri, want):
    assert fsio.local_path(uri) == want


def test_former_callers_keep_relative_and_remote_handling():
    from cloudfloe_spark.service.convert import _iceberg_data_dir
    from cloudfloe_spark.sources import iceberg_meta as im

    # iceberg_meta passes relative and remote roots through unchanged
    assert im._norm_root("rel/t") == "rel/t"
    assert im._norm_root("s3://b/t") == "s3://b/t"
    assert im._norm_root("file:///t") == "/t"
    assert im._norm_root("file:/t") == "/t"
    # convert cannot check remote or relative roots: undecidable → None
    assert _iceberg_data_dir("s3://b/t") is None
    assert _iceberg_data_dir("rel/t") is None
    assert im.data_file_suffix("file:/w/t/data/a.parquet") == "a.parquet"


def test_file_identity_tracks_inode_size_and_mtime(tmp_path):
    p = tmp_path / "f.bin"
    p.write_bytes(b"abc")
    ident = fsio.file_identity(str(p))
    st = os.stat(p)
    assert ident == (
        os.path.realpath(p), st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns
    )
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1000))
    assert fsio.file_identity(str(p)) != ident
    with pytest.raises(OSError):
        fsio.file_identity(str(tmp_path / "missing"))


@pytest.fixture()
def tmpdir_root(tmp_path, monkeypatch):
    """Point ``tempfile.gettempdir()`` (where build_once builds) into
    the test's own directory."""
    root = tmp_path / "tmp"
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    src = tmp_path / "input.parquet"
    src.write_bytes(b"seed rows")
    return root, str(src)


def _fill(d: str) -> None:
    for i in range(3):
        with open(os.path.join(d, f"part{i}"), "w") as f:
            f.write("ok")


def test_lru_cache_under_concurrent_threads():
    """More threads than cores hammer one small cache: it never exceeds
    its bound and every hit returns the value stored under its key."""
    import sys

    cache = fsio.LRUCache(8)
    wrong = []

    def worker(t: int) -> None:
        for i in range(2000):
            key = (t * 7 + i) % 24
            got = cache.get(key)
            if got is not None and got != key * 3:
                wrong.append((key, got))
            cache.put(key, key * 3)
            if len(cache) > 8:
                wrong.append(("size", len(cache)))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as ex:
            for f in [ex.submit(worker, t) for t in range(16)]:
                f.result(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert wrong == []
    assert len(cache) == 8
    assert cache.hits + cache.misses == 16 * 2000


def test_cached_by_file_recomputes_on_new_identity(tmp_path):
    cache = fsio.LRUCache(4)
    calls = []

    def read(p):
        calls.append(p)
        with open(p) as f:
            return f.read()

    p = str(tmp_path / "f")
    with open(p, "w") as f:
        f.write("one")
    assert fsio.cached_by_file(cache, p, read) == "one"
    assert fsio.cached_by_file(cache, p, read) == "one"
    assert len(calls) == 1
    os.replace(_write(tmp_path / "g", "two"), p)  # new inode, same path
    assert fsio.cached_by_file(cache, p, read) == "two"
    os.remove(p)  # vanished: served its last value
    assert fsio.cached_by_file(cache, p, read) == "two"
    assert len(calls) == 2
    with pytest.raises(OSError):  # never seen and missing: read raises
        fsio.cached_by_file(cache, str(tmp_path / "none"), read)


def _write(path, text: str) -> str:
    with open(path, "w") as f:
        f.write(text)
    return str(path)


def test_build_once_concurrent_callers_build_once(tmpdir_root):
    """More callers than cores race for one key: the builder runs once
    and every caller gets the complete directory."""
    root, src = tmpdir_root
    n = 8
    calls = []
    barrier = threading.Barrier(n)

    def builder(d: str) -> None:
        calls.append(d)
        time.sleep(0.3)  # wide window for the other callers to race in
        _fill(d)

    def call(_):
        barrier.wait(timeout=30)
        d = build_once("race", [src], builder)
        return d, sorted(os.listdir(d))

    with ThreadPoolExecutor(n) as ex:
        got = list(ex.map(call, range(n), timeout=60))
    assert len(calls) == 1
    assert all(g == got[0] for g in got)
    d, listing = got[0]
    assert listing == ["_BUILT", "part0", "part1", "part2"]
    assert d.startswith(str(root / "cloudfloe_race"))


def test_build_once_failed_builder_leaves_no_marker(tmpdir_root):
    root, src = tmpdir_root

    def boom(d: str) -> None:
        with open(os.path.join(d, "half"), "w") as f:
            f.write("x")
        raise RuntimeError("builder failed")

    with pytest.raises(RuntimeError, match="builder failed"):
        build_once("fail", [src], boom)
    (d,) = glob.glob(os.path.join(root, "cloudfloe_fail", "*", ""))
    assert not os.path.exists(os.path.join(d, "_BUILT"))

    calls = []
    out = build_once("fail", [src], lambda d: (calls.append(d), _fill(d)))
    assert calls == [out]
    assert "half" not in os.listdir(out)  # the half-built state is cleared
    assert os.path.exists(os.path.join(out, "_BUILT"))
    # a completed build is served without calling the builder again
    assert build_once("fail", [src], boom) == out


def test_build_once_new_key_when_an_input_changes(tmpdir_root, tmp_path):
    _root, src = tmpdir_root
    d1 = build_once("touch", [src], _fill)

    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    d2 = build_once("touch", [src], _fill)
    assert d2 != d1

    # replace the file: same bytes, size and mtime_ns, new inode
    st = os.stat(src)
    os.link(src, tmp_path / "pin")  # keep the old inode from being reused
    fresh = tmp_path / "fresh"
    with open(src, "rb") as f:
        fresh.write_bytes(f.read())
    os.replace(fresh, src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns))
    new = os.stat(src)
    assert (new.st_size, new.st_mtime_ns) == (st.st_size, st.st_mtime_ns)
    assert new.st_ino != st.st_ino
    d3 = build_once("touch", [src], _fill)
    assert d3 not in (d1, d2)
