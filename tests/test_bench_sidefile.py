"""bench.py's side file is best-effort: a failed write must not stop
the contract line from printing. Its section timings list exactly the
sections the registry gives for each composite slot."""

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


def test_section_timer_reports_each_section_of_a_composite():
    from types import SimpleNamespace

    class Rows:
        def count(self):
            return 0

    reg = {
        "two": SimpleNamespace(sections=lambda spark, sf: {"first": Rows(), "second": Rows()}),
        "plain": SimpleNamespace(sections=None),
    }
    got = bench._section_timings(None, reg, "sf", ["two", "plain"], {})
    assert list(got) == ["two"]
    assert list(got["two"]) == ["first", "second"]
