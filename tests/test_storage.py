"""The control-plane storage seam (hadoop_project_spark/storage.py):
the semantics LSM + serving rely on — atomic small-object puts,
DELETE-style absent-tolerant removes, directory publish, and stat
signatures — pinned at the interface so an object-store implementation
has an executable contract to meet."""

from __future__ import annotations

import os

from hadoop_project_spark.storage import LocalStore


def test_put_text_atomic_overwrites_and_leaves_no_staging(tmp_path):
    store = LocalStore()
    p = str(tmp_path / "root" / "CURRENT")  # parent dir auto-created
    store.put_text_atomic(p, "v-1")
    assert store.read_text(p) == "v-1"
    store.put_text_atomic(p, "v-2", tmp_tag="1234")
    assert store.read_text(p) == "v-2"
    # no staging litter: the tmp file was consumed by the atomic replace
    assert store.list_names(str(tmp_path / "root")) == ["CURRENT"]


def test_reads_and_removes_tolerate_absence(tmp_path):
    store = LocalStore()
    missing = str(tmp_path / "nope")
    assert store.read_text(missing) is None
    assert store.list_names(missing) == []
    assert store.stat_sig(missing) is None
    assert store.mtime(missing) is None
    assert not store.exists(missing) and not store.is_dir(missing)
    store.remove(missing)  # DELETE semantics: absent is not an error
    store.remove_tree(missing)


def test_publish_dir_replaces_previous_target(tmp_path):
    store = LocalStore()
    staging = tmp_path / "seg_0.staging"
    staging.mkdir()
    (staging / "part-0.parquet").write_text("new")
    final = tmp_path / "seg_0"
    final.mkdir()
    (final / "part-0.parquet").write_text("old-half-written")
    store.publish_dir(str(staging), str(final))
    assert not staging.exists()
    assert (final / "part-0.parquet").read_text() == "new"


def test_stat_sig_changes_with_content(tmp_path):
    store = LocalStore()
    p = tmp_path / "obj"
    p.write_text("aa")
    sig1 = store.stat_sig(str(p))
    assert sig1 is not None and sig1[0] == 2
    os.utime(p, ns=(1, 1))  # force a distinct mtime_ns
    p2 = store.stat_sig(str(p))
    assert p2 != sig1  # mtime participates in the signature


def test_fresh_pid_dir_sweeps_dead_siblings_and_empties_its_own(tmp_path):
    import subprocess
    import sys

    from hadoop_project_spark.storage import fresh_pid_dir

    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait()  # an exited process: its pid no longer exists
    dead = tmp_path / f"rt_x_sf_{child.pid}"
    live = tmp_path / f"rt_x_sf_{os.getppid()}"
    other = tmp_path / f"rt_y_sf_{child.pid}"  # another prefix: kept
    mine = tmp_path / f"rt_x_sf_{os.getpid()}"
    for d in (dead, live, other, mine):
        d.mkdir()
        (d / "part-0.parquet").write_text("x")

    assert fresh_pid_dir(str(tmp_path), "rt_x", "sf") == str(mine)
    assert not dead.exists() and not mine.exists()
    assert (live / "part-0.parquet").exists()
    assert (other / "part-0.parquet").exists()
