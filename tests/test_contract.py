"""Repository contracts.

Evidence cadence: the committed full-sweep artifact
(BENCH/FULL_ORACLES.md, written by scripts/full_oracles_md.py) must
carry a green row for EVERY declared query — so a query can't be
added (or silently dropped from the sweep) without the round's
committed oracle evidence covering it.

One pair primitive: the i<j tail-slice idiom lives only in
operators/pairs.py, so every pair site shares one implementation.

No side channels: an operator's result says what it is through its
type and plan, never through a private ``_qizner_*`` attribute set
on the object it returns."""

from __future__ import annotations

import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_full_sweep_artifact_covers_every_query():
    import __spark_entry__ as em

    path = os.path.join(REPO, "BENCH", "FULL_ORACLES.md")
    assert os.path.exists(path), "run scripts/full_oracles_md.py at HEAD"
    text = open(path).read()
    ok = set(re.findall(r"^ok\s+(\w+):", text, flags=re.M))
    failed = re.findall(r"^FAIL\s+(\w+)", text, flags=re.M)
    assert not failed, f"sweep artifact records failures: {failed}"
    missing = sorted(set(em.queries()) - ok)
    assert not missing, f"queries missing a green sweep row: {missing}"


# slice(<arr>, <i> + 2, size(<arr>)) — the array tail after element i
_TAIL_SLICE = re.compile(
    r"slice\(\s*([\w{}.`]+)\s*,\s*[\w{}.`]+\s*\+\s*2\s*,\s*size\(\s*\1\s*\)\s*\)"
)


def test_pair_enumeration_only_in_pairs_module():
    files = glob.glob(os.path.join(REPO, "qizner_spark", "**", "*.py"), recursive=True)
    files.append(os.path.join(REPO, "__spark_entry__.py"))
    hits = sorted(os.path.relpath(p, REPO) for p in files
                  if _TAIL_SLICE.search(open(p).read()))
    assert hits == [os.path.join("qizner_spark", "operators", "pairs.py")], (
        f"i<j pair enumeration outside operators/pairs.py: {hits} — "
        "call ordered_pairs instead"
    )


# ._qizner_<name> or getattr(x, "_qizner_<name>")
_PRIVATE_ATTR = re.compile(r"""[.'"](_qizner_\w+)""")
# the scorer memo on a scorer-factory callable (operators/mentions.py):
# it caches the built scorer per worker, it carries no DataFrame state
_ALLOWED_PRIVATE_ATTRS = {"_qizner_scorer"}


def test_no_private_dataframe_attributes():
    files = glob.glob(os.path.join(REPO, "qizner_spark", "**", "*.py"), recursive=True)
    files.append(os.path.join(REPO, "__spark_entry__.py"))
    hits = sorted(
        (os.path.relpath(p, REPO), name)
        for p in files
        for name in set(_PRIVATE_ATTR.findall(open(p).read())) - _ALLOWED_PRIVATE_ATTRS
    )
    assert not hits, (
        f"private attributes used as side channels: {hits} — return what "
        "the caller needs (a type, a plan property, a release handle) instead"
    )
