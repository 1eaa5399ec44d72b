"""artifacts.cached_artifact: key, hit, failure cleanup and publish race.

Spark-free: every build here writes plain files, so the module runs in
well under a second of CPU apart from the spawned race workers.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import tempfile
import time

import pytest

from flink_realtime_data_eng_spark.artifacts import cached_artifact


def _writer_v1(scratch):
    with open(os.path.join(scratch, "a.txt"), "w") as fh:
        fh.write("v1")


def _writer_v2(scratch):
    with open(os.path.join(scratch, "a.txt"), "w") as fh:
        fh.write("v2")


def _slow_writer(scratch):
    """Two files with a gap between them, so a reader of an unpublished
    build would see half the artifact."""
    with open(os.path.join(scratch, "part-0"), "w") as fh:
        fh.write("0")
    time.sleep(0.3)
    with open(os.path.join(scratch, "part-1"), "w") as fh:
        fh.write("1")


@pytest.fixture
def tmp_root(tmp_path, monkeypatch):
    """Point gettempdir() at a private dir and return (root, source)."""
    root = tmp_path / "tmp"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    src = tmp_path / "input.parquet"
    src.write_bytes(b"fixture")
    return root, str(src)


def _build_dirs(root):
    return [p for p in os.listdir(root) if ".build-" in p]


def test_hit_does_not_call_build(tmp_root):
    root, src = tmp_root
    first = cached_artifact("t", [src], "p", (_writer_v1,), _writer_v1)
    assert os.path.basename(first).startswith("frde_t_")
    assert os.path.dirname(first) == str(root)

    def must_not_run(scratch):
        raise AssertionError("build ran on a cache hit")
    assert cached_artifact("t", [src], "p", (_writer_v1,),
                           must_not_run) == first
    with open(os.path.join(first, "a.txt")) as fh:
        assert fh.read() == "v1"


def test_failed_build_leaves_nothing(tmp_root):
    root, src = tmp_root

    def boom(scratch):
        _writer_v1(scratch)
        raise RuntimeError("build failed")
    with pytest.raises(RuntimeError, match="build failed"):
        cached_artifact("t", [src], "p", (_writer_v1,), boom)
    assert os.listdir(root) == []
    # The next call builds from scratch rather than serving the failure.
    out = cached_artifact("t", [src], "p", (_writer_v1,), _writer_v1)
    assert os.listdir(root) == [os.path.basename(out)]


def test_key_covers_source_mtime_code_and_params(tmp_root):
    root, src = tmp_root
    base = cached_artifact("t", [src], "p", (_writer_v1,), _writer_v1)
    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    touched = cached_artifact("t", [src], "p", (_writer_v1,), _writer_v1)
    new_code = cached_artifact("t", [src], "p", (_writer_v2,), _writer_v2)
    new_params = cached_artifact("t", [src], "q", (_writer_v1,), _writer_v1)
    assert len({base, touched, new_code, new_params}) == 4
    with open(os.path.join(new_code, "a.txt")) as fh:
        assert fh.read() == "v2"
    assert _build_dirs(root) == []


def test_code_is_required(tmp_root):
    _, src = tmp_root
    with pytest.raises(ValueError):
        cached_artifact("t", [src], "p", (), _writer_v1)


def _race_worker(root, src, barrier, results):
    tempfile.tempdir = root
    barrier.wait(timeout=60)
    try:
        out = cached_artifact("race", [src], None, (_slow_writer,),
                              _slow_writer)
        results.put((out, sorted(os.listdir(out))))
    except BaseException as e:  # report, so the parent never waits it out
        results.put((None, repr(e)))
        raise


def test_concurrent_builders_publish_one_complete_artifact(tmp_root):
    root, src = tmp_root
    n = 6  # more workers than a 4-core host runs at once
    ctx = mp.get_context("spawn")
    barrier, results = ctx.Barrier(n), ctx.Queue()
    procs = [ctx.Process(target=_race_worker,
                         args=(str(root), src, barrier, results))
             for _ in range(n)]
    for p in procs:
        p.start()
    try:
        got = [results.get(timeout=120) for _ in range(n)]
    finally:
        for p in procs:
            p.join(timeout=60)
            if p.is_alive():
                p.kill()
                p.join(timeout=10)
    assert all(not p.is_alive() for p in procs)
    assert [err for path, err in got if path is None] == []
    assert all(p.exitcode == 0 for p in procs)
    paths = {path for path, _ in got}
    assert len(paths) == 1
    assert all(files == ["part-0", "part-1"] for _, files in got)
    assert os.listdir(root) == [os.path.basename(paths.pop())]
