"""The marker-commit protocol (streaming/markers.py) on its own: a torn or
empty marker reads as uncommitted, log scans skip in-flight ``.tmp`` and
torn files, and a commit is a rename that leaves no ``.tmp`` behind.
Plain file I/O, no Spark session."""

from __future__ import annotations

import json
import os

from borsa_spark.streaming.markers import load_marker, read_log, write_marker


def test_torn_marker_reads_as_uncommitted(tmp_path):
    path = str(tmp_path / "batch-0.json")
    with open(path, "w") as f:
        f.write('{"version": "batch-0", "se')  # crash mid-write
    assert load_marker(path) is None
    assert load_marker(str(tmp_path / "absent.json")) is None


def test_empty_marker_reads_as_uncommitted(tmp_path):
    path = str(tmp_path / "batch-0.json")
    open(path, "w").close()
    assert load_marker(path) is None


def test_read_log_skips_inflight_and_torn_files(tmp_path):
    d = str(tmp_path)
    write_marker(os.path.join(d, "batch-0.json"), {"batch_id": 0})
    write_marker(os.path.join(d, "batch-1.json"), {"batch_id": 1})
    # a crash between temp-write and rename leaves only the .tmp
    os.rename(os.path.join(d, "batch-1.json"),
              os.path.join(d, "batch-1.json.tmp"))
    with open(os.path.join(d, "batch-2.json"), "w") as f:
        f.write('{"batch_id": 2')
    assert read_log(d) == [{"batch_id": 0}]
    assert read_log(str(tmp_path / "absent")) == []


def test_write_marker_commits_parseable_json_without_tmp(tmp_path):
    path = str(tmp_path / "batch-7.json")
    payload = {"batch_id": 7, "files": ["a", "b"]}
    write_marker(path, payload)
    assert os.listdir(tmp_path) == ["batch-7.json"]
    with open(path) as f:
        assert json.load(f) == payload
    assert load_marker(path) == payload
