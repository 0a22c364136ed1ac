"""Lifecycle of the files a query writes before it reads them: the
per-process scratch root (``session.scratch_dir``), the shared derived lakes
(``readers.derived_lake``), and the guard that keeps ``plans/`` on those
homes. None of these tests starts Spark."""

from __future__ import annotations

import hashlib
import json
import os
import pathlib
import subprocess
import sys
import tempfile

import pytest

from projet_data_infrastructure_spark.sources import readers

REPO = pathlib.Path(__file__).resolve().parents[1]
PLANS = REPO / "projet_data_infrastructure_spark" / "plans"


def _run(script: str, tmp_path: pathlib.Path) -> dict:
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=str(REPO))
    out = subprocess.run(
        [sys.executable, "-c", script],
        env=env,
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
        timeout=120,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_scratch_dirs_share_one_root_removed_at_exit(tmp_path):
    got = _run(
        "import json, os\n"
        "from projet_data_infrastructure_spark.session import scratch_dir\n"
        "a = scratch_dir('a_')\n"
        "b = scratch_dir('b_')\n"
        "print(json.dumps({'pid': os.getpid(), 'a': a, 'b': b,\n"
        "                  'made': os.path.isdir(a) and os.path.isdir(b)}))\n",
        tmp_path,
    )
    a, b = got["a"], got["b"]
    root = os.path.dirname(a)
    assert got["made"] and a != b
    assert os.path.dirname(b) == root
    assert os.path.dirname(root) == str(tmp_path)
    assert os.path.basename(root).startswith(f"spark_graft_scratch_{got['pid']}_")
    assert os.path.basename(a).startswith("a_") and os.path.basename(b).startswith("b_")
    assert not os.path.exists(root)


def test_forked_child_exit_keeps_parent_scratch_root(tmp_path):
    got = _run(
        "import json, os, sys\n"
        "from projet_data_infrastructure_spark.session import scratch_dir\n"
        "root = os.path.dirname(scratch_dir('p_'))\n"
        "pid = os.fork()\n"
        "if pid == 0:\n"
        "    sys.exit(0)\n"
        "_, status = os.waitpid(pid, 0)\n"
        "print(json.dumps({'root': root, 'status': status,\n"
        "                  'kept': os.path.isdir(root)}))\n",
        tmp_path,
    )
    assert got["status"] == 0
    assert got["kept"]
    assert not os.path.exists(got["root"])  # the parent's own exit removes it


@pytest.fixture
def lake_env(tmp_path, monkeypatch):
    src = tmp_path / "events.parquet"
    src.write_bytes(b"source bytes")
    lakes = tmp_path / "lakes"
    lakes.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(lakes))
    monkeypatch.setattr(readers, "read_parquet", lambda spark, path: path)
    return src, lakes


def _publish(path: str, payload: bytes) -> str:
    os.makedirs(path)
    open(os.path.join(path, "_SUCCESS"), "wb").close()
    part = os.path.join(path, "part-0.parquet")
    with open(part, "wb") as f:
        f.write(payload)
    return part


def test_derived_lake_lost_race_keeps_published_lake(lake_env):
    src, lakes = lake_env
    winner = {}

    def write(tmp: str) -> None:
        # Another process publishes between this one's _SUCCESS check and
        # its rename; this process then writes its own copy.
        part = _publish(tmp.rsplit(".tmp-", 1)[0], b"winner")
        winner["ino"] = os.stat(part).st_ino
        _publish(tmp, b"loser")

    lake = readers.derived_lake(None, str(src), "events_race", write)
    part = os.path.join(lake, "part-0.parquet")
    assert os.stat(part).st_ino == winner["ino"]
    assert open(part, "rb").read() == b"winner"
    assert sorted(os.listdir(lakes)) == [os.path.basename(lake)]


def test_derived_lake_keyed_by_source_fingerprint(lake_env):
    src, lakes = lake_env
    writes = []

    def write(tmp: str) -> None:
        writes.append(tmp)
        _publish(tmp, b"copy")

    lake = readers.derived_lake(None, str(src), "events_bydate", write)
    # The key formula lakes published before this helper existed used, so
    # they are reused rather than rebuilt.
    fp = hashlib.sha1(
        repr((str(src), readers.file_set(str(src)))).encode()
    ).hexdigest()[:16]
    assert lake == os.path.join(str(lakes), f"spark_graft_events_bydate_{fp}")
    assert readers.derived_lake(None, str(src), "events_bydate", write) == lake
    assert len(writes) == 1
    src.write_bytes(b"regenerated source")
    assert readers.derived_lake(None, str(src), "events_bydate", write) != lake
    assert len(writes) == 2


def test_plans_write_scratch_files_through_one_home():
    banned = ("tempfile.mkdtemp", "readStream", "foreachBatch(", "checkpointLocation")
    hits = [
        f"{p.name}:{n}: {b}"
        for p in sorted(PLANS.glob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        for b in banned
        if b in line
    ]
    assert not hits, hits
