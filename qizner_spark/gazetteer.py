"""Static alias gazetteer over the testdata vocabulary.

The sandbox ``documents`` tables draw from a closed 31-token
vocabulary (TESTDATA.md); this fixed dictionary plays the role of the
reference's mention->entity-type map (count_entity_mention output,
/root/reference/datautils.py:2348-2414) for deterministic,
oracle-checkable NER. Production swaps in a learned scorer + a real
KB — everything downstream is shape-identical.

``GAZETTEER_SINGLE`` (single-token surfaces only) backs the
DuckDB-oracled queries: its detection semantics are expressible in
pure SQL (token explode + dictionary join). ``GAZETTEER_FULL`` adds
multi-token surfaces to exercise true span detection + prob-greedy
flattening in the flagship pipeline.
"""

from __future__ import annotations

GAZETTEER_SINGLE: dict[str, str] = {
    # relational operators
    "join": "OP", "scan": "OP", "filter": "OP", "merge": "OP",
    "sort": "OP", "agg": "OP", "group": "OP",
    # schema objects
    "row": "STRUCT", "column": "STRUCT", "table": "STRUCT", "key": "STRUCT",
    "value": "STRUCT", "line": "STRUCT", "part": "STRUCT", "window": "STRUCT",
    # execution concepts
    "hash": "EXEC", "batch": "EXEC", "stream": "EXEC", "vector": "EXEC",
    "query": "EXEC", "order": "EXEC", "data": "EXEC",
    # actors
    "customer": "ACTOR", "spark": "ACTOR",
}

GAZETTEER_MULTI: dict[str, str] = {
    "hash join": "OP", "sort merge": "OP", "merge join": "OP",
    "big table": "STRUCT", "small table": "STRUCT",
    "fast scan": "OP", "slow query": "EXEC",
}

GAZETTEER_FULL: dict[str, str] = {**GAZETTEER_SINGLE, **GAZETTEER_MULTI}

ENT_TYPES = sorted(set(GAZETTEER_FULL.values()))

# type merge map used by the L15 demonstration query
SUPER_TYPES: dict[str, str] = {"OP": "OPERATOR", "EXEC": "OPERATOR", "STRUCT": "SCHEMA"}


def gazetteer_sql_values() -> str:
    """Inline VALUES clause of ``GAZETTEER_SINGLE`` for DuckDB
    oracles: (mention, ent_type)."""
    rows = ", ".join(f"('{m}', '{t}')" for m, t in sorted(GAZETTEER_SINGLE.items()))
    return f"(VALUES {rows}) AS gaz(mention, ent_type)"
