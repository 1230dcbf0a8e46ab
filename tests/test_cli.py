"""CLI entry point: one-shot and piped-REPL modes (subprocess)."""

import subprocess
import sys

from tests.conftest import REPO_ROOT, SF_DIR


def _run(args, stdin=None):
    return subprocess.run(
        [sys.executable, "-m", "edgelake_spark", "--sf-dir", SF_DIR, *args],
        input=stdin,
        capture_output=True,
        text=True,
        timeout=300,
        cwd=REPO_ROOT,
    )


def test_cli_one_shot():
    p = _run(['sql d format = json "select count(*) as n from events"'])
    assert p.returncode == 0
    assert '"n": 1000' in p.stdout


def test_cli_repl_pipe():
    p = _run([], stdin='get status\nsql d "select count(*) as n from events"\nexit\n')
    assert p.returncode == 0
    assert "running" in p.stdout and "1000" in p.stdout


def test_cli_error_does_not_crash_repl():
    p = _run([], stdin='sql d "select nope from missing"\nget status\nexit\n')
    assert p.returncode == 0
    assert "error:" in p.stderr and "running" in p.stdout
