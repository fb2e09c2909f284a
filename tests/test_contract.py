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
textstats.fingerprint_col. Scripts import only names that exist and
pass only keywords that name a parameter.

Every option has a caller: every keyword option of the engine layers
is set by an entry point, script, benchmark or package caller, or is
an allowlisted test seam or QizNER config mirror."""

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


# -- options -----------------------------------------------------------------

# The engine layers: the package outside the reference-parity ports
# (core/) and the reference corpus IO.
def _engine_module(rel: str) -> bool:
    return not rel.startswith(("qizner_spark/core/", "qizner_spark/sources/corpus.py"))


# Options no entry point sets, each kept for a stated reason: a test
# seam (the value names the test file that sets it) or a mirror of a
# QizNER config (the value is the reference line its docstring cites).
_OPTION_ALLOWLIST = {
    "plans/checkpoint.py:run_resumable.crash_after": "test seam: tests/test_streaming_resume.py",
    "operators/graph.py:connected_components.driver_threshold": "test seam: tests/test_graph.py",
    "operators/linking.py:count_unlabeled_occurrences.max_surfaces":
        "test seam: tests/test_graph.py",
    "operators/mentions.py:detect_mentions.prefix_context_len": "datautils.py:1371-1422",
}
_SEAM = "test seam: "


class _Def:
    """A top-level function or method: its positional parameters (no
    ``self``), its options (defaulted parameters, ``_`` names
    excluded) and its ``**kwargs`` name."""

    def __init__(self, key: str, node: ast.AST, method: bool):
        a = node.args
        pos = [p.arg for p in a.posonlyargs + a.args]
        defaulted = pos[len(pos) - len(a.defaults):] if a.defaults else []
        defaulted += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
        static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                     for d in node.decorator_list)
        self.key, self.node = key, node
        self.pos = pos[1:] if method and not static else pos
        self.params = set(self.pos) | {p.arg for p in a.kwonlyargs}
        self.options = {p for p in defaulted if not p.startswith("_")}
        self.kwarg = a.kwarg.arg if a.kwarg else None


def _package_defs() -> tuple[dict[str, _Def], dict[str, list[str]]]:
    """(``"<module path>:<qualname>" -> _Def`` for the package and the
    driver contract, callee name -> keys: a function or method by its
    name, a class by its name to its ``__init__``)."""
    files = sorted(glob.glob("qizner_spark/**/*.py", root_dir=REPO, recursive=True))
    defs: dict[str, _Def] = {}
    by_name: dict[str, list[str]] = {}
    for rel in files + ["__spark_entry__.py"]:
        mod = os.path.relpath(rel, "qizner_spark") if rel.startswith("qizner_spark") else rel
        for stmt in _parse(rel).body:
            funcs = []
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                funcs.append((stmt.name, stmt, False, stmt.name))
            elif isinstance(stmt, ast.ClassDef):
                funcs += [(f"{stmt.name}.{f.name}", f, True,
                           stmt.name if f.name == "__init__" else f.name)
                          for f in stmt.body
                          if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))]
            for qual, node, method, callee in funcs:
                key = f"{mod}:{qual}"
                defs[key] = _Def(key, node, method)
                by_name.setdefault(callee, []).append(key)
    return defs, by_name


def _callee(call: ast.Call) -> str | None:
    f = call.func
    return f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None


def _splat_param(value: ast.AST) -> str | None:
    """``p`` for a ``**p`` or ``**(p or {})`` argument, else None."""
    if isinstance(value, ast.BoolOp) and isinstance(value.op, ast.Or):
        value = value.values[0]
    return value.id if isinstance(value, ast.Name) else None


def _dict_keys(value: ast.AST) -> list[str] | None:
    """The keys of a ``dict(k=...)`` or ``{"k": ...}`` literal."""
    if isinstance(value, ast.Dict) and all(
            isinstance(k, ast.Constant) and isinstance(k.value, str) for k in value.keys):
        return [k.value for k in value.keys]
    if (isinstance(value, ast.Call) and _callee(value) == "dict" and not value.args
            and all(k.arg for k in value.keywords)):
        return [k.arg for k in value.keywords]
    return None


def _mapping_keys(tree: ast.Module, value: ast.AST) -> list[str] | None:
    """The keys of a ``**mapping`` argument that names a variable or
    attribute the file assigns only dict literals to (directly, or as
    the return of one of its own functions); None when it cannot tell."""
    def target(n):
        return (n.id if isinstance(n, ast.Name)
                else n.attr if isinstance(n, ast.Attribute) else None)

    funcs = {f.name: f for f in tree.body if isinstance(f, ast.FunctionDef)}
    assigned = [a.value for a in ast.walk(tree) if isinstance(a, ast.Assign)
                and any(target(t) == target(value) for t in a.targets)]
    keys: list[str] = []
    for v in assigned:
        if isinstance(v, ast.Call) and _callee(v) in funcs:
            returns = [r.value for r in ast.walk(funcs[_callee(v)])
                       if isinstance(r, ast.Return)]
        else:
            returns = [v]
        for r in returns:
            if (k := _dict_keys(r)) is None:
                return None
            keys += k
    return keys if assigned and target(value) else None


def _forwards(defs, by_name) -> dict[tuple[str, str], list[str]]:
    """(function key, parameter) -> the keys of the functions it
    passes that parameter to as ``**parameter``."""
    out: dict[tuple[str, str], list[str]] = {}
    for key, d in defs.items():
        names = d.params | {d.kwarg}
        for call in ast.walk(d.node):
            if isinstance(call, ast.Call):
                for kw in call.keywords:
                    if kw.arg is None and (p := _splat_param(kw.value)) in names:
                        out.setdefault((key, p), []).extend(by_name.get(_callee(call), []))
    return out


def _keyword_targets(key, kw, defs, forwards, seen=()) -> list[str]:
    """The keys of the functions on which keyword ``kw`` passed to
    ``key`` lands: ``key`` itself, or through ``**kwargs`` forwarding
    the functions it forwards to ([] when it lands nowhere)."""
    d = defs[key]
    if kw in d.params:
        return [key]
    if d.kwarg is None or key in seen:
        return []
    targets = forwards.get((key, d.kwarg))
    if not targets:
        return [key]  # forwarded somewhere the test cannot see: accept
    return [t for k in targets for t in _keyword_targets(k, kw, defs, forwards, (*seen, key))]


def _option_settings(defs, by_name):
    """Every call site's settings, as (target key, option, source):
    source None sets the option; ``(key, param)`` forwards the
    enclosing engine function's own option ``param`` unchanged, which
    sets the target's option only where that one is set."""
    forwards = _forwards(defs, by_name)
    files = [rel for pattern in _ROOT_GLOBS for rel in sorted(glob.glob(pattern, root_dir=REPO))]
    files += sorted(glob.glob("qizner_spark/**/*.py", root_dir=REPO, recursive=True))
    settings = []
    for rel in dict.fromkeys(files):
        mod = os.path.relpath(rel, "qizner_spark") if rel.startswith("qizner_spark") else rel
        tree = _parse(rel)
        scopes = [(None, tree)]
        for stmt in tree.body:
            if isinstance(stmt, ast.ClassDef):
                scopes += [(f"{mod}:{stmt.name}.{f.name}", f) for f in stmt.body
                           if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))]
            elif isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                scopes.append((f"{mod}:{stmt.name}", stmt))
        # each node's enclosing top-level function or method (the
        # module's, None, is walked first and overridden)
        owner = {id(n): scope_key for scope_key, scope in scopes for n in ast.walk(scope)}

        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            enclosing = defs.get(owner.get(id(call)))

            def source(value):
                if (enclosing and isinstance(value, ast.Name)
                        and value.id in enclosing.options):
                    return (enclosing.key, value.id)
                return None

            for key in by_name.get(_callee(call), []):
                d = defs[key]
                for i, arg in enumerate(call.args):
                    if isinstance(arg, ast.Starred):  # *args: cannot tell
                        settings += [(key, p, None) for p in d.pos[i:]]
                        break
                    if i < len(d.pos):
                        settings.append((key, d.pos[i], source(arg)))
                for kw in call.keywords:
                    if kw.arg is None:
                        p = _splat_param(kw.value)
                        if enclosing and (enclosing.key, p) in forwards:
                            continue  # a forward: its callers set it
                        keys = _mapping_keys(tree, kw.value)
                        if keys is None:  # cannot tell
                            settings += [(key, o, None) for o in d.options]
                        settings += [(t, k, None) for k in keys or ()
                                     for t in _keyword_targets(key, k, defs, forwards)]
                        continue
                    for t in _keyword_targets(key, kw.arg, defs, forwards):
                        settings.append((t, kw.arg, source(kw.value)))
                    keys = _dict_keys(kw.value)
                    for fwd in forwards.get((key, kw.arg), []) if keys else []:
                        settings += [(t, k, None) for k in keys
                                     for t in _keyword_targets(fwd, k, defs, forwards)]
    return settings


def _option_key(key: str, option: str) -> str:
    return f"{key}.{option}"


def _unset_options() -> tuple[set[str], set[str]]:
    """(every option of the engine layers, the options no root sets)."""
    defs, by_name = _package_defs()
    options = {
        _option_key(key, o) for key, d in defs.items() for o in d.options
        if not key.startswith("__spark_entry__") and _engine_module(f"qizner_spark/{key}")
    }
    settings = _option_settings(defs, by_name)
    is_set: set[str] = set()
    while True:
        new = {_option_key(t, o) for t, o, src in settings
               if src is None or _option_key(*src) in is_set} - is_set
        if not new:
            return options, options - is_set
        is_set |= new


def test_every_option_is_set():
    """Every keyword option of the engine layers is set by some entry
    point, script, benchmark or package caller, or sits on the
    allowlist with its reason. An option no caller sets is dead
    weight: a constant or a literal says the same with less code."""
    options, unset = _unset_options()
    flagged = sorted(unset - set(_OPTION_ALLOWLIST))
    assert not flagged, (
        f"options no caller sets: {flagged} — inline them as constants, or "
        "allowlist a test seam or a reference-config mirror with its reason"
    )
    stale = sorted(set(_OPTION_ALLOWLIST) - unset)
    assert not stale, f"option allowlist entries that are gone or now set: {stale}"
    defs, _ = _package_defs()
    for key, reason in _OPTION_ALLOWLIST.items():
        fn, option = key.rsplit(".", 1)
        if reason.startswith(_SEAM):
            with open(os.path.join(REPO, reason[len(_SEAM):])) as f:
                assert f"{option}=" in f.read(), f"{key}: {reason} does not set it"
        else:
            docs = (ast.get_docstring(defs[fn].node) or "") + (ast.get_docstring(
                _parse(os.path.join("qizner_spark", fn.split(":")[0]))) or "")
            assert reason in docs, f"{key}: citation {reason!r} not in its docstrings"


# -- script keywords ---------------------------------------------------------
def _def_key(obj) -> str | None:
    """The ``_package_defs`` key of a package function or class."""
    import inspect

    try:
        rel = os.path.relpath(inspect.getsourcefile(obj), REPO)
    except TypeError:
        return None
    mod = os.path.relpath(rel, "qizner_spark") if rel.startswith("qizner_spark") else rel
    return f"{mod}:{obj.__qualname__}" + (".__init__" if inspect.isclass(obj) else "")


def test_script_keywords_resolve():
    """Every keyword a root file passes to a package function (or a
    driver-contract function) names one of its parameters, directly
    or through ``**kwargs`` forwarding — including the keys of a
    ``**mapping`` built from dict literals and of a dict literal
    handed to a forwarded parameter (``assemble_kw=dict(...)``). A
    deleted option otherwise breaks a script silently."""
    defs, by_name = _package_defs()
    forwards = _forwards(defs, by_name)
    missing = []
    for pattern in _ROOT_GLOBS:
        for rel in sorted(glob.glob(pattern, root_dir=REPO)):
            tree = _parse(rel)
            own = {s.name for s in tree.body if isinstance(s, _DEFS)}
            bound = {}  # local name -> imported package module or object
            for node in ast.walk(tree):
                if isinstance(node, ast.ImportFrom) and node.level == 0 and _ours(node.module):
                    mod = importlib.import_module(node.module)
                    for a in node.names:
                        bound[a.asname or a.name] = getattr(mod, a.name, None) or \
                            importlib.import_module(f"{node.module}.{a.name}")
                elif isinstance(node, ast.Import):
                    bound.update({a.asname or a.name: importlib.import_module(a.name)
                                  for a in node.names if _ours(a.name) and a.asname})
            for call in ast.walk(tree):
                if not isinstance(call, ast.Call):
                    continue
                f = call.func
                if isinstance(f, ast.Name) and f.id not in own:
                    obj = bound.get(f.id)
                elif isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name) \
                        and f.value.id in bound:
                    obj = getattr(bound[f.value.id], f.attr, None)
                else:
                    continue
                if (key := _def_key(obj) if callable(obj) else None) not in defs:
                    continue
                passed = [kw.arg for kw in call.keywords if kw.arg]
                passed += [k for kw in call.keywords if kw.arg is None
                           for k in _mapping_keys(tree, kw.value) or ()]
                bad = [k for k in passed if not _keyword_targets(key, k, defs, forwards)]
                for kw in call.keywords:  # assemble_kw=dict(...) and the like
                    fwd = forwards.get((key, kw.arg), []) if kw.arg else []
                    bad += [f"{kw.arg}[{k}]" for k in (_dict_keys(kw.value) or []) if fwd
                            and not any(_keyword_targets(t, k, defs, forwards) for t in fwd)]
                missing += [f"{rel}:{call.lineno} {key}({k}=)" for k in bad]
    assert not missing, f"keywords that name no parameter: {missing}"

