"""``python -m qizner_spark``: the spark-submit entry, run as a process
(``main`` stops its session, so it cannot share the test session)."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(sink: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-m", "qizner_spark", "--synthetic-pages", "20",
         "--sink", sink, "--master", "local[1]"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_rerun_of_the_entry_is_a_noop(tmp_path):
    sink = f"file://{tmp_path}/triples"
    first = _run(sink)
    assert first["n_pending"] == 20 and first["n_new_triples"] > 0
    second = _run(sink)
    assert second["n_pending"] == 0 and second["resumed"]
    assert os.path.isdir(tmp_path / "triples_metrics")
