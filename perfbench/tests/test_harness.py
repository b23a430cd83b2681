"""Scratch directory lifetime, environment placement and tree digests."""

import os

import pytest

from perfbench import harness


def test_scratch_dir_is_removed_after_a_run(tmp_path):
    root = tmp_path / "work"
    with harness.scratch_dir("serve-1", str(root)) as work:
        os.makedirs(os.path.join(work, "serve_idx", "postings"))
        with open(os.path.join(work, "serve_idx", "meta.json"), "w") as fh:
            fh.write("{}")
    assert not os.path.exists(work)
    assert not root.exists()


def test_scratch_dir_is_removed_when_the_run_fails(tmp_path):
    root = tmp_path / "work"
    with pytest.raises(RuntimeError):
        with harness.scratch_dir("ingest-1", str(root)) as work:
            os.makedirs(os.path.join(work, "tmp"))
            raise RuntimeError("boom")
    assert not os.path.exists(work)


def test_scratch_dir_keeps_a_shared_parent_in_use(tmp_path):
    root = tmp_path / "work"
    other = root / "other-run"
    other.mkdir(parents=True)
    with harness.scratch_dir("serve-2", str(root)):
        pass
    assert other.exists()


def test_prepare_env_keeps_every_file_in_the_scratch_dir(tmp_path, monkeypatch):
    for var in ("PYTHONPATH", "TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_DRIVER_MEM",
                "PYSPARK_SUBMIT_ARGS", "PYSPARK_PYTHON"):
        monkeypatch.delenv(var, raising=False)
    work = str(tmp_path)
    env = harness.prepare_env(work, trace=True)
    assert os.environ["PYTHONPATH"].split(os.pathsep)[0] == harness.ROOT
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        assert os.environ[var].startswith(work)
    assert env["event_dir"].startswith(work)
    args = os.environ["PYSPARK_SUBMIT_ARGS"]
    for conf in ("spark.sql.warehouse.dir=", "java.io.tmpdir=", "spark.eventLog.dir="):
        assert conf + ("file://" if "eventLog" in conf else "") + work in args


def test_tree_digest_tracks_file_contents(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("x = 1\n")
    (pkg / "notes.txt").write_text("ignored")
    first = harness.tree_digest(str(pkg))
    (pkg / "notes.txt").write_text("still ignored")
    assert harness.tree_digest(str(pkg)) == first
    (pkg / "__init__.py").write_text("x = 2\n")
    assert harness.tree_digest(str(pkg)) != first
