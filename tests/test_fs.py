"""The one directory-swap protocol (``sources/fs.replace_dir``) and its
crash heal (``heal_dir``): failures at each step leave the old data
readable and no tmp behind, and no module outside ``sources/fs.py``
renames directories on its own."""

import os
import pathlib

import pytest

from gluestick_ts_spark.sources import fs
from gluestick_ts_spark.sources.fs import heal_dir, replace_dir


def _ids(spark, path):
    return sorted(r.id for r in spark.read.parquet(path).collect())


def _store(spark, tmp_path):
    path = str(tmp_path / "store.parquet")
    spark.range(3).write.parquet(path)
    return path


def _fail_rename_call(monkeypatch, n):
    """Make the ``n``-th ``rename_path`` call return False."""
    real = fs.rename_path
    calls = []

    def rename(spark, src, dst):
        calls.append((src, dst))
        return False if len(calls) == n else real(spark, src, dst)

    monkeypatch.setattr(fs, "rename_path", rename)
    return calls


def test_replace_dir_swaps_and_cleans_up(spark, tmp_path):
    path = _store(spark, tmp_path)
    replace_dir(spark, path, spark.range(5, 7).write.parquet)
    assert _ids(spark, path) == [5, 6]
    assert sorted(os.listdir(tmp_path)) == ["store.parquet"]
    fresh = str(tmp_path / "fresh.parquet")
    replace_dir(spark, fresh, spark.range(2).write.parquet)
    assert _ids(spark, fresh) == [0, 1]


@pytest.mark.parametrize("failing_call", [1, 2])
def test_replace_dir_failed_rename_keeps_old_data(
    spark, tmp_path, monkeypatch, failing_call
):
    """Call 1 moves the live dir aside, call 2 moves the tmp into
    place; a False from either raises and leaves the old data live."""
    path = _store(spark, tmp_path)
    calls = _fail_rename_call(monkeypatch, failing_call)
    with pytest.raises(IOError):
        replace_dir(spark, path, spark.range(5, 7).write.parquet)
    if failing_call == 2:
        assert calls[-1] == (path + ".pre-compact", path)  # the roll-back
    assert _ids(spark, path) == [0, 1, 2]
    assert sorted(os.listdir(tmp_path)) == ["store.parquet"]


def test_replace_dir_failed_write_keeps_old_data(spark, tmp_path):
    path = _store(spark, tmp_path)

    def write(tmp):
        spark.range(5, 7).write.parquet(tmp)  # a partial write, then
        raise RuntimeError("write died")

    with pytest.raises(RuntimeError, match="write died"):
        replace_dir(spark, path, write)
    assert _ids(spark, path) == [0, 1, 2]
    assert sorted(os.listdir(tmp_path)) == ["store.parquet"]


def test_heal_dir_restores_a_half_done_swap(spark, tmp_path):
    path = _store(spark, tmp_path)
    assert heal_dir(spark, path) is False
    os.rename(path, path + ".pre-compact")
    os.makedirs(path + ".compact-tmp")
    assert heal_dir(spark, path) is True
    assert _ids(spark, path) == [0, 1, 2]
    assert sorted(os.listdir(tmp_path)) == ["store.parquet"]


def test_heal_dir_leaves_a_live_store_alone(spark, tmp_path, monkeypatch):
    """A live path needs no heal: one existence check, no delete, even
    with a stale tmp beside it (``replace_dir`` clears that itself)."""
    path = _store(spark, tmp_path)
    os.makedirs(path + ".compact-tmp")
    deletes = []
    monkeypatch.setattr(fs, "delete_path", lambda *a, **k: deletes.append(a))
    assert heal_dir(spark, path) is False
    assert deletes == []
    assert _ids(spark, path) == [0, 1, 2]


def test_rename_path_is_called_only_by_the_swap_and_the_rollup_pointer():
    pkg = pathlib.Path(__file__).resolve().parent.parent / "gluestick_ts_spark"
    callers = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if "rename_path(" in p.read_text(encoding="utf-8")
    )
    assert callers == ["operators/rollup.py", "sources/fs.py"]
