"""Start-key listing (reference StorageHandler.list_from,
kernel/src/lib.rs:610-654): names below the start key must be skipped
BEFORE FileEntry construction, so a log directory where 90% of names
sort before the key costs only the matching tail in entries/stats."""

from __future__ import annotations

import pytest

from delta_kernel_rs_spark.sources import storage as storage_mod
from delta_kernel_rs_spark.sources.storage import (
    ArrowStorage,
    HadoopStorage,
    LocalStorage,
)


@pytest.fixture()
def log_dir(tmp_path):
    d = tmp_path / "_delta_log"
    d.mkdir()
    for v in range(100):
        (d / f"{v:020d}.json").write_text("{}\n")
    return str(d)


def _counting_entries(monkeypatch):
    made = []
    real = storage_mod.FileEntry

    def counting(*args, **kwargs):
        e = real(*args, **kwargs)
        made.append(e)
        return e

    monkeypatch.setattr(storage_mod, "FileEntry", counting)
    return made


START = f"{90:020d}.json"  # 90% of names sort before this


def test_local_list_from_constructs_only_tail(monkeypatch, log_dir):
    made = _counting_entries(monkeypatch)
    out = LocalStorage().list_from(log_dir, START)
    assert len(out) == 10
    assert [f.path.rsplit("/", 1)[-1] for f in out] == [
        f"{v:020d}.json" for v in range(90, 100)
    ]
    assert len(made) == 10  # no entry built for the 90 below the key


def test_hadoop_list_from_constructs_only_tail(spark, monkeypatch, log_dir):
    made = _counting_entries(monkeypatch)
    st = HadoopStorage(spark, f"file://{log_dir}")
    out = st.list_from(f"file://{log_dir}", START)
    assert len(out) == 10
    assert len(made) == 10


def test_arrow_list_from_filters_before_construction(monkeypatch, log_dir):
    made = _counting_entries(monkeypatch)
    st = ArrowStorage(log_dir)
    out = st.list_from(log_dir, START)
    assert len(out) == 10
    assert len(made) == 10


def test_arrow_local_list_from_never_pages_the_directory(monkeypatch, log_dir):
    """On a local filesystem the Arrow handler must not fall back to
    pyarrow's whole-directory FileSelector at all: scandir skips names
    below the key before ANY stat, so the page-set bound holds too
    (round-6 verdict, next #8 — the remote rejection is documented in
    the docstring + PLANS.md)."""
    import pyarrow.fs as pafs

    st = ArrowStorage(log_dir)

    def no_selector(*a, **k):
        raise AssertionError("FileSelector built — full page set fetched")

    monkeypatch.setattr(pafs, "FileSelector", no_selector)
    made = _counting_entries(monkeypatch)
    out = st.list_from(log_dir, START)
    assert len(out) == 10
    assert len(made) == 10
    assert [f.path.rsplit("/", 1)[-1] for f in out] == [
        f"{v:020d}.json" for v in range(90, 100)
    ]


def _handlers(spark, log_dir):
    return [
        LocalStorage(),
        HadoopStorage(spark, f"file://{log_dir}"),
        ArrowStorage(log_dir),
    ]


def test_stat_of_missing_path_raises_file_not_found(spark, log_dir):
    """Every handler's ``stat`` raises FileNotFoundError for a missing
    path, so callers stat once instead of probing ``exists`` first."""
    for st in _handlers(spark, log_dir):
        assert st.stat(f"{log_dir}/{0:020d}.json").size == 3
        with pytest.raises(FileNotFoundError):
            st.stat(f"{log_dir}/{100:020d}.json")


def test_read_text_returns_every_line(spark, log_dir):
    """Every handler's ``read_text`` keeps every line of the file, a blank
    line included (the Hadoop handler decodes one whole-file read)."""
    path = f"{log_dir}/multi.json"
    body = '{"a": 1}\n\n{"b": 2}\n'
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(body)
    for st in _handlers(spark, log_dir):
        assert st.read_text(path).splitlines() == ['{"a": 1}', "", '{"b": 2}']
