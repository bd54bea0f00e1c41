"""The derived-store contract (streaming/storefs.py): where stores live,
when one is served, when it is rebuilt, and per-call scratch dirs."""

import json
import os
import subprocess
import sys
import tempfile

import pytest

from scida_spark.streaming import storefs
from scida_spark.tables import table_fingerprint


@pytest.fixture
def root(tmp_path, monkeypatch):
    """Point the store root at a private temp dir."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path / "scida_spark_stores"


class Builder:
    """A build function that counts its calls and writes one file."""

    def __init__(self, extra=None):
        self.calls = 0
        self.extra = extra

    def __call__(self, tmp):
        self.calls += 1
        with open(os.path.join(tmp, "data.txt"), "w") as f:
            f.write(f"build {self.calls}")
        return self.extra


def _sf(parent, as_dir=False):
    """An sf dir whose documents table is one file or a directory of
    part files, with a fixed mtime so only the path tells two apart."""
    sf = parent / "sf0.01"
    table = sf / "documents.parquet"
    f = table / "part-0.parquet" if as_dir else table
    f.parent.mkdir(parents=True)
    f.write_text("docs")
    os.utime(f, ns=(10**18, 10**18))
    return str(sf), str(f)


def test_matching_store_served_without_build(root):
    b = Builder({"nprobe": 4})
    p1, m1 = storefs.derived_store("t", {"k": 1}, b)
    p2, m2 = storefs.derived_store("t", {"k": 1}, b)
    assert b.calls == 1
    assert p1 == p2 and os.path.dirname(p1) == str(root)
    assert os.path.basename(p1).startswith("t-")
    assert m1 == m2 and m2["nprobe"] == 4 and m2["inputs"] == {"k": 1}
    assert open(os.path.join(p2, "data.txt")).read() == "build 1"


def test_other_code_version_rebuilt(root, monkeypatch):
    b = Builder()
    p1, _ = storefs.derived_store("t", {"k": 1}, b)
    monkeypatch.setattr(storefs, "code_digest", lambda: "another version")
    p2, m2 = storefs.derived_store("t", {"k": 1}, b)
    assert b.calls == 2 and p2 == p1
    assert m2["code"] == "another version"
    assert open(os.path.join(p2, "data.txt")).read() == "build 2"


@pytest.mark.parametrize("as_dir", [False, True])
def test_rewritten_input_table_rebuilds(root, tmp_path, as_dir):
    sf, part = _sf(tmp_path / "data", as_dir)
    b = Builder()

    def store():
        return storefs.derived_store(
            "t", {"documents": table_fingerprint(sf, "documents")}, b
        )

    p1, _ = store()
    store()
    assert b.calls == 1
    with open(part, "w") as f:
        f.write("regenerated docs")
    p2, _ = store()
    assert b.calls == 2 and p2 != p1


def test_torn_manifest_is_rebuilt(root):
    b = Builder()
    p, _ = storefs.derived_store("t", {"k": 1}, b)
    man = os.path.join(p, storefs.STORE_MANIFEST)
    with open(man, "r+") as f:
        f.truncate(5)
    p2, m2 = storefs.derived_store("t", {"k": 1}, b)
    assert b.calls == 2 and p2 == p
    assert json.load(open(man)) == m2


def test_leftover_scratch_dir_not_served(root):
    """A build killed after writing its manifest but before the rename
    leaves a complete-looking ``_t-<pid>-*`` dir: it is never served,
    and the store is built and committed at its own path."""
    b = Builder()
    p, _ = storefs.derived_store("t", {"k": 1}, b)
    dead = _dead_pid()
    left = root / f"_t-{dead}-killed"
    os.rename(p, left)
    p2, _ = storefs.derived_store("t", {"k": 1}, b)
    assert b.calls == 2 and p2 == p
    assert not left.exists()  # swept: its builder is gone


def test_store_committed_first_by_another_builder_wins(root):
    """If another builder commits a valid store while ours builds, ours
    is dropped and theirs is served."""
    theirs = Builder({"who": "theirs"})

    def ours(tmp):
        storefs.derived_store("t", {"k": 1}, theirs)
        return {"who": "ours"}

    p, m = storefs.derived_store("t", {"k": 1}, ours)
    assert m["who"] == "theirs"
    assert open(os.path.join(p, "data.txt")).read() == "build 1"
    assert sorted(os.listdir(root)) == [os.path.basename(p)]


def test_same_basename_sf_dirs_get_two_stores(root, tmp_path):
    (a, _), (b_, _) = _sf(tmp_path / "a"), _sf(tmp_path / "b")
    b = Builder()
    pa, _ = storefs.derived_store(
        "t", {"documents": table_fingerprint(a, "documents")}, b
    )
    pb, _ = storefs.derived_store(
        "t", {"documents": table_fingerprint(b_, "documents")}, b
    )
    assert b.calls == 2 and pa != pb


def test_scratch_dirs_are_distinct_and_survive(root):
    d1 = storefs.scratch("ingest")
    with open(os.path.join(d1, "f"), "w") as f:
        f.write("x")
    d2 = storefs.scratch("ingest")
    assert d1 != d2 and os.path.dirname(d1) == str(root)
    assert open(os.path.join(d1, "f")).read() == "x"


def _dead_pid() -> int:
    p = subprocess.Popen([sys.executable, "-c", "pass"])
    p.wait(timeout=60)
    return p.pid


def test_scratch_sweeps_dead_pids_only(root):
    root.mkdir()
    dead = root / f"_ingest-{_dead_pid()}-abc"
    live = root / f"_ingest-{os.getpid()}-def"
    for d in (dead, live):
        d.mkdir()
        (d / "f").write_text("x")
    storefs.scratch("gate")
    assert not dead.exists()
    assert (live / "f").read_text() == "x"


def test_import_does_not_compute_code_digest():
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import __spark_entry__\n"
            "from scida_spark.streaming import storefs\n"
            "print(storefs.code_digest.cache_info().currsize)",
        ],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip().splitlines()[-1] == "0"
