"""Run the complete oracle sweep and commit-ready artifact.

Writes BENCH/FULL_ORACLES.md: one `ok`/`FAIL` line per declared query
from scripts/check_oracles.py at the given sf dir, with the HEAD
commit recorded (``-dirty`` when the swept tree had uncommitted
changes) — the per-round full-sweep evidence
(tests/test_contract.py asserts every queries() name has a green row).

Usage: python scripts/full_oracles_md.py [sf_dir]
"""
from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    head = subprocess.run(["git", "-C", REPO, "describe", "--always", "--dirty", "--abbrev=7"],
                          capture_output=True, text=True).stdout.strip()
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "check_oracles.py"), sf_dir],
        capture_output=True, text=True, timeout=3600,
    )
    lines = [ln for ln in out.stdout.replace("\r", "\n").splitlines()
             if ln.startswith(("ok ", "FAIL", "0 failures")) or "failures" in ln]
    stamp = time.strftime("%Y-%m-%d %H:%M:%S UTC", time.gmtime())
    with open(os.path.join(REPO, "BENCH", "FULL_ORACLES.md"), "w") as f:
        f.write(f"# FULL ORACLE SWEEP — all declared queries vs DuckDB\n\n")
        f.write(f"- generated: {stamp}\n- HEAD: {head}\n- sf_dir: {sf_dir}\n")
        f.write(f"- comparison: driver-identical (pandas canonicalization, "
                f"dtype-strict, raw value hash)\n\n```\n")
        f.write("\n".join(lines) + "\n```\n")
    print("\n".join(lines[-3:]))


if __name__ == "__main__":
    main()
