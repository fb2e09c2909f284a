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
on the object it returns.

Only reachable code: every top-level definition in qizner_spark/ is
reached from an entry point, or is a cited reference-parity port on
the allowlist. One exact-dedup key: the normalized-text md5 lives in
textstats.fingerprint_col. Scripts import only names that exist."""

from __future__ import annotations

import ast
import glob
import importlib
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


# -- reachability ------------------------------------------------------------

# The entry points: the driver contract, ``python -m qizner_spark``, the
# benchmarks and the scripts.
_ROOT_GLOBS = ["__spark_entry__.py", "qizner_spark/__main__.py", "bench.py",
               "bench_extra.py", "perfbench/*.py", "scripts/*.py"]

# Reference-parity ports of QizNER's detection semantics (decoding,
# segmentation, tokenization, label conversion and flattening), the
# reference corpus IO behind the P/R metric, and one deployment seam
# (model shipping to executors). No entry point calls them; each value
# is the reference line its docstring (or its module's) cites. They are
# roots themselves: what a port calls is reached.
_REACH_ALLOWLIST = {
    "core/labels.py:ent_dct_to_mentions": "datautils.py:1831-1844",
    "core/labels.py:mentions_to_ent_dct": "datautils.py:1831-1844",
    "core/labels.py:mentions_to_span_dct": "datautils.py:1831-1837",
    "core/labels.py:bio_encode": "datautils.py:1705-1731",
    "core/labels.py:flatten_by_prob_then_length": "datautils.py:1778-1806",
    "core/labels.py:flatten_gold": "datautils.py:1808-1816",
    "core/labels.py:convert_types": "datautils.py:1863-1913",
    "core/labels.py:filter_by_types": "datautils.py:1439-1462",
    "core/labels.py:filter_by_prefix": "datautils.py:1452-1462",
    "core/labels.py:add_mentions": "datautils.py:1475-1489",
    "core/scoring.py:PrunedBiaffineScorer": "modules.py:810-896",
    "core/scoring.py:link_scores": "modules.py:538-547",
    "core/scoring.py:prune_spans": "modules.py:1782-1855",
    "core/segment.py:truncate_by_subtokens": "datautils.py:1345-1369",
    "core/segment.py:split_by_delimiter": "datautils.py:2817-2851",
    "core/segment.py:sliding_context": "datautils.py:2885-2899",
    "core/spans.py:decode_argmax": "datautils.py:2155-2178",
    "core/spans.py:decode_topk": "datautils.py:2180-2204",
    "core/tokenize.py:zh_char_tokenize": "data_reader.py:40-70",
    "core/tokenize.py:tokenize_words": "datautils.py:3074-3082",
    "sources/corpus.py:read_conll_columns": "datautils.py:1990-2014",
    "sources/corpus.py:conll_tags_to_entities": "datautils.py:2007",
    "sources/corpus.py:read_cluener": "datautils.py:2950-2965",
    "sources/corpus.py:corpus_to_json_lines": "datautils.py:1557",
    "operators/artifacts.py:distribute_artifact": "train_ner.py:1042-1060",
    "operators/artifacts.py:artifact_scorer_factory": "train_ner.py:1042-1060",
}

# a string that names code: an identifier or a dotted path, nothing else
_DOTTED = re.compile(r"[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _docstring_nodes(tree: ast.AST) -> set[int]:
    return {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, *_DEFS)) and ast.get_docstring(node) is not None
    }


def _names(node: ast.AST, strings: bool = False, docs: set[int] = frozenset()) -> set[str]:
    """Identifiers a node refers to: names, attributes, imported names
    and, with ``strings``, the parts of each string constant that is
    wholly an identifier or a dotted path (a name passed to
    ``getattr``/``importlib``; prose that merely contains a name does
    not count), docstrings excluded."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif (strings and isinstance(n, ast.Constant) and isinstance(n.value, str)
              and id(n) not in docs and _DOTTED.fullmatch(n.value)):
            out.update(n.value.split("."))
    return out


def _parse(rel: str) -> ast.Module:
    with open(os.path.join(REPO, rel)) as f:
        return ast.parse(f.read())


def _reached(defs: dict[str, ast.AST], names: set[str]) -> set[str]:
    """Keys of the definitions that ``names`` reach, each reached
    definition adding the names of its body, to a fixed point."""
    names, done = set(names), set()
    while new := [k for k, node in defs.items() if k not in done and node.name in names]:
        for key in new:
            done.add(key)
            names |= _names(defs[key])
    return done


def _unreached() -> tuple[dict[str, ast.AST], set[str], set[str]]:
    """(every top-level definition in qizner_spark/ as
    ``"<module path>:<name>" -> node``, the keys no entry point
    reaches, the keys neither an entry point nor an allowlisted port
    reaches)."""
    roots: set[str] = set()
    for pattern in _ROOT_GLOBS:
        for rel in sorted(glob.glob(pattern, root_dir=REPO)):
            tree = _parse(rel)
            # the driver contract's strings are query names and DuckDB
            # SQL — table and column names, not Python references
            roots |= _names(tree, strings=rel != "__spark_entry__.py",
                            docs=_docstring_nodes(tree))
    defs: dict[str, ast.AST] = {}
    for rel in sorted(glob.glob("qizner_spark/**/*.py", root_dir=REPO, recursive=True)):
        for stmt in _parse(rel).body:
            if isinstance(stmt, _DEFS):
                defs[f"{os.path.relpath(rel, 'qizner_spark')}:{stmt.name}"] = stmt
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                # registries and constants reach what they name
                roots |= _names(stmt)
    with_ports = roots.union(*(_names(defs[k]) for k in _REACH_ALLOWLIST if k in defs))
    return defs, set(defs) - _reached(defs, roots), set(defs) - _reached(defs, with_ports)


def test_every_definition_is_reached():
    defs, unreached, orphans = _unreached()
    flagged = sorted(orphans - set(_REACH_ALLOWLIST))
    assert not flagged, (
        f"top-level definitions no entry point or port reaches: {flagged} — delete "
        "them, or allowlist a reference-parity port with its cited line"
    )
    stale = sorted(set(_REACH_ALLOWLIST) - unreached)
    assert not stale, f"allowlist entries that are gone or now reached: {stale}"
    for key, cite in _REACH_ALLOWLIST.items():
        rel = key.split(":")[0]
        docs = (ast.get_docstring(defs[key]) or "") + (
            ast.get_docstring(_parse(os.path.join("qizner_spark", rel))) or "")
        assert cite in docs, f"{key}: citation {cite!r} not in its docstrings"


# -- one exact-dedup key -----------------------------------------------------

# the normalized-text key: regexp_replace(F.trim(<text>), <ws>, " ")
_NORMALIZED_TEXT = re.compile(r"regexp_replace\(\s*F\.trim\(")


def _enclosing_def(tree: ast.Module, line: int) -> str | None:
    for stmt in tree.body:
        if isinstance(stmt, _DEFS) and stmt.lineno <= line <= stmt.end_lineno:
            return stmt.name
    return None


def test_exact_dedup_key_only_in_fingerprint_col():
    files = glob.glob("qizner_spark/**/*.py", root_dir=REPO, recursive=True)
    files.append("__spark_entry__.py")
    hits = []
    for rel in sorted(files):
        with open(os.path.join(REPO, rel)) as f:
            src = f.read()
        tree = ast.parse(src)
        hits += [(rel, _enclosing_def(tree, src.count("\n", 0, m.start()) + 1))
                 for m in _NORMALIZED_TEXT.finditer(src)]
    assert hits == [("qizner_spark/operators/textstats.py", "fingerprint_col")], (
        f"normalized-text key written outside textstats.fingerprint_col: {hits} "
        "— call fingerprint_col instead"
    )


# -- script imports ----------------------------------------------------------

_SCRIPT_GLOBS = ["scripts/*.py", "perfbench/*.py", "bench.py", "bench_extra.py"]


def _ours(module: str | None) -> bool:
    return bool(module) and module.split(".")[0] in ("qizner_spark", "__spark_entry__")


def _resolves(module: str, name: str) -> bool:
    if hasattr(importlib.import_module(module), name):
        return True
    try:
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_script_imports_resolve():
    """Tier-1 runs none of the scripts, so a deletion that breaks one
    would stay silent: every name they import from the package or the
    driver contract (``from M import X``), and every attribute they
    read off such a module (``import M as m; m.X``), must be a module
    attribute or a submodule."""
    missing = []
    for pattern in _SCRIPT_GLOBS:
        for rel in sorted(glob.glob(pattern, root_dir=REPO)):
            tree = _parse(rel)
            aliases = {}
            for node in ast.walk(tree):
                if isinstance(node, ast.ImportFrom) and node.level == 0 and _ours(node.module):
                    missing += [f"{rel}:{node.lineno} {node.module}.{a.name}"
                                for a in node.names if not _resolves(node.module, a.name)]
                elif isinstance(node, ast.Import):
                    # ``import M as m`` and dotless ``import M``
                    aliases.update({a.asname or a.name: a.name for a in node.names
                                    if _ours(a.name) and (a.asname or "." not in a.name)})
            missing += [
                f"{rel}:{node.lineno} {aliases[node.value.id]}.{node.attr}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)
                and node.value.id in aliases
                and not _resolves(aliases[node.value.id], node.attr)
            ]
    assert not missing, f"script imports that do not resolve: {missing}"
