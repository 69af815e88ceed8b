"""tools/ab.py against HEAD with a stub command: the pairs swap the
order of the sides, the worktree leaves nothing behind, and a failing
run stops the A/B naming its side. No SparkSession; a few seconds."""

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STUB = (
    "import json, os; open(LOG, 'a').write(os.path.realpath(os.getcwd()) + '\\n');"
    " print(json.dumps({'metrics': {'x': {'value': {pair}, 'unit': 's'}}}))"
)

pytestmark = pytest.mark.skipif(
    subprocess.run(["git", "-C", ROOT, "rev-parse", "--git-dir"], capture_output=True).returncode != 0,
    reason="not a git checkout",
)


def git_state() -> list[str]:
    return [
        subprocess.run(["git", "-C", ROOT, *args], capture_output=True, text=True, check=True).stdout
        for args in (["status", "--porcelain"], ["worktree", "list"])
    ]


def ab(tmp_path, code: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(ROOT, "tools", "ab.py"), "HEAD", "--pairs", "2", "--", sys.executable, "-c", code]
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    return subprocess.run(cmd, capture_output=True, text=True, timeout=120, env=env)


def test_ab_swaps_sides_and_removes_its_worktree(tmp_path):
    log = tmp_path / "runs.log"
    before = git_state()
    proc = ab(tmp_path, STUB.replace("LOG", repr(str(log))))
    assert proc.returncode == 0, proc.stderr
    cwds = log.read_text().splitlines()
    first, second = cwds[:2], cwds[2:]
    assert first == second[::-1] and first[0] != first[1]
    assert os.path.realpath(ROOT) in first
    assert "live better in" in proc.stdout and "runs 1 2" in proc.stdout
    assert git_state() == before


def test_ab_fails_naming_the_side(tmp_path):
    before = git_state()
    proc = ab(tmp_path, "import sys; sys.exit(3)")
    assert proc.returncode != 0
    assert "side HEAD: exit status 3" in proc.stderr
    assert git_state() == before
