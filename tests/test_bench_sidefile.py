"""bench.py's side file is best-effort: a failed write must not stop
the contract line from printing."""

import json

import bench


def test_side_file_written(tmp_path):
    path = tmp_path / "s.json"
    bench.write_side_file({"sections": {"a": 1.0}}, str(path))
    assert json.loads(path.read_text()) == {"sections": {"a": 1.0}}


def test_unserialisable_value_does_not_raise(tmp_path):
    bench.write_side_file({"sections": object()}, str(tmp_path / "s.json"))


def test_unwritable_path_does_not_raise(tmp_path):
    bench.write_side_file({}, str(tmp_path / "missing" / "s.json"))
