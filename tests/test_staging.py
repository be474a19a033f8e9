"""io.staged publishes a staged artifact atomically, and every staged
artifact in the package goes through it."""

from __future__ import annotations

import os
import re

import pytest

from seamless_sharepoint_etl_spark import io

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_REPO, "seamless_sharepoint_etl_spark")


def _siblings(path):
    d, base = os.path.split(path)
    return sorted(f for f in os.listdir(d) if f.startswith(base + ".tmp-"))


def _write_dir(text):
    def write(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "part"), "w") as fh:
            fh.write(text)

    return write


def test_a_failed_write_leaves_nothing_and_the_next_call_stages_again(tmp_path):
    path = str(tmp_path / "artifact")

    def broken(tmp):
        _write_dir("half")(tmp)
        raise RuntimeError("write died halfway")

    with pytest.raises(RuntimeError):
        io.staged(path, broken)
    assert not os.path.exists(path)
    assert _siblings(path) == []

    assert io.staged(path, _write_dir("whole")) == path
    with open(os.path.join(path, "part")) as fh:
        assert fh.read() == "whole"


def test_an_existing_path_is_not_written_again(tmp_path):
    path = str(tmp_path / "artifact")
    io.staged(path, _write_dir("first"))

    def must_not_run(tmp):
        raise AssertionError("write called for a staged path")

    assert io.staged(path, must_not_run) == path


@pytest.mark.parametrize("kind", ["dir", "file"])
def test_the_loser_of_a_race_returns_the_winners_path(tmp_path, kind):
    """Another stager publishes while this one writes: this one's
    rename fails, it returns the path and removes its own sibling."""
    path = str(tmp_path / "artifact")

    def write(tmp, text):
        if kind == "dir":
            _write_dir(text)(tmp)
        else:
            with open(tmp, "w") as fh:
                fh.write(text)

    def loser(tmp):
        write(tmp, "loser")
        write(path, "winner")  # the other stager's publish

    assert io.staged(path, loser) == path
    with open(os.path.join(path, "part") if kind == "dir" else path) as fh:
        assert fh.read() == "winner"
    assert _siblings(path) == []


def test_stage_dir_names_fixture_token_and_artifact(tmp_path):
    from conftest import SF_DIR

    name = os.path.basename(os.path.normpath(SF_DIR))
    a = io.stage_dir(SF_DIR + "/", "orders-pb")
    assert a == io.stage_dir(SF_DIR, "orders-pb")
    assert os.path.basename(a) == f"{name}-{io.fixture_token(SF_DIR)}-orders-pb"
    assert a != io.stage_dir(SF_DIR, "orders-evo")
    # a dir of the same name holding other data stages elsewhere
    other = tmp_path / name
    other.mkdir()
    (other / "region.parquet").write_bytes(b"other")
    assert io.stage_dir(str(other), "orders-pb") != a


# quoted marker-file names of the per-site protocols io.staged replaced
_MARKERS = re.compile(r"""["'](_done|_STAGED|_RERUN_DONE|_corrupt_planted|_SUCCESS)["']""")


def test_staging_paths_and_markers_live_only_in_io():
    """A module that builds its own /tmp path or checks its own marker
    file bypasses the fixture token and the atomic publish. The REST
    endpoint's ``_done.json`` (it re-materializes on a page-size
    change) and the session's warehouse dir are the exceptions."""
    offenders = []
    for root, _dirs, files in os.walk(_PKG):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == os.path.join(_PKG, "io.py"):
                continue
            with open(path) as fh:
                for n, line in enumerate(fh, 1):
                    tmp_path = "/tmp/" in line and not (
                        f == "session.py" and "spark.sql.warehouse.dir" in line
                    )
                    if tmp_path or _MARKERS.search(line):
                        offenders.append(f"{os.path.relpath(path, _REPO)}:{n}")
    assert not offenders, f"staging outside io.py: {offenders}"
