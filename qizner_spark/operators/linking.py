"""Entity linking: alias-dictionary build (E5) + alias-join link.

The reference builds mention<->entity-type frequency maps in memory
(count_entity_mention, /root/reference/datautils.py:2348-2414); at
scale that dictionary is the dimension table the KG linking stage
joins against the big mentions table. The dictionary built from an
OPEN corpus is Zipfian-unbounded (10^12-doc webtext easily yields
10^8+ distinct surfaces), so the join strategy is a caller decision
(``broadcast_alias``) — never an unconditional broadcast hint. (The
KG triples skip this join: they link by the :func:`entity_id_col`
projection.)
"""

from __future__ import annotations

from collections import Counter, deque
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

#: Hard ceiling on the number of distinct surfaces
#: :func:`count_unlabeled_occurrences` will pull to the driver. The
#: operator is a dictionary DIAGNOSTIC (curated dictionaries are
#: 10^3-10^6 surfaces); running it against an open-corpus vocabulary
#: is a design error that should fail loudly, not OOM the driver.
MAX_DIAGNOSTIC_SURFACES = 1_000_000


def entity_id_col() -> F.Column:
    """The deterministic KB slug ``kb:<type>:<normalized surface>`` —
    a PURE projection of (mention, ent_type). Because
    :func:`build_alias_dictionary` assigns entity ids with exactly
    this expression, linking a mention table against a dictionary
    built FROM ITSELF reduces to this projection (every key matches,
    and the id is unique per key, so ``max_by`` tie-breaks cannot
    differ) — the KG pipeline exploits that to skip the join on its
    hot path."""
    return F.concat(F.lit("kb:"), F.col("ent_type"), F.lit(":"),
                    F.regexp_replace(F.lower(F.col("mention")), r"\s+", "_"))


def build_alias_dictionary(mentions: DataFrame) -> DataFrame:
    """Long-form mentions -> (mention, ent_type, entity_id, freq).

    Frequency counting per (surface, type) = the reference
    mention_to_entity map; ``entity_id`` is a deterministic KB slug.
    One groupBy; map-side partial aggregation applies.
    """
    return (
        mentions.groupBy("mention", "ent_type")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("entity_id", entity_id_col())
        .select("mention", "ent_type", "entity_id", "freq")
    )


def _build_aho_corasick(patterns: list[str]):
    """Classic Aho-Corasick automaton (goto/fail/output) over the
    surface list. Build is O(total pattern chars); one text scan then
    reports EVERY occurrence of EVERY pattern regardless of
    dictionary size."""
    goto: list[dict[str, int]] = [{}]
    fail: list[int] = [0]
    out: list[list[int]] = [[]]
    for pi, pat in enumerate(patterns):
        node = 0
        for ch in pat:
            nxt = goto[node].get(ch)
            if nxt is None:
                goto.append({})
                fail.append(0)
                out.append([])
                nxt = len(goto) - 1
                goto[node][ch] = nxt
            node = nxt
        out[node].append(pi)
    q: deque[int] = deque()
    for child in goto[0].values():
        q.append(child)  # depth-1 fail links stay at root
    while q:
        r = q.popleft()
        for ch, u in goto[r].items():
            q.append(u)
            f = fail[r]
            while f and ch not in goto[f]:
                f = fail[f]
            fail[u] = goto[f].get(ch, 0)
            out[u].extend(out[fail[u]])
    return goto, fail, out


def _nonoverlap_counts(text: str, patterns: list[str], automaton) -> Counter:
    """Per-pattern NON-overlapping occurrence counts (str.count
    semantics, = the SQL length-difference formula) from one
    automaton pass over ``text``. Occurrence starts arrive sorted per
    pattern, so the greedy left-to-right skip reproduces str.count
    exactly even for self-overlapping patterns ('aaaa'.count('aa')==2)."""
    goto, fail, out = automaton
    starts: dict[int, list[int]] = {}
    node = 0
    for i, ch in enumerate(text):
        while node and ch not in goto[node]:
            node = fail[node]
        node = goto[node].get(ch, 0)
        if out[node]:
            for pi in out[node]:
                starts.setdefault(pi, []).append(i - len(patterns[pi]) + 1)
    counts: Counter = Counter()
    for pi, ss in starts.items():
        plen = len(patterns[pi])
        prev_end = -1
        n = 0
        for s in ss:
            if s >= prev_end:
                n += 1
                prev_end = s + plen
        counts[patterns[pi]] = n
    return counts


def count_unlabeled_occurrences(docs: DataFrame, alias: DataFrame,
                                max_surfaces: int = MAX_DIAGNOSTIC_SURFACES) -> DataFrame:
    """For each dictionary surface, how often it occurs in the corpus
    text OUTSIDE labeled mentions: total substring occurrences minus
    labeled count (the reference's 没有标注 counter,
    datautils.py:2390-2404).

    Scale shape: the dictionary is size-ASSERTED (<= ``max_surfaces``)
    before the driver collect, then broadcast into one Aho-Corasick
    pass per document — runtime linear in text size and INDEPENDENT of
    dictionary size per scan (was O(|docs| x |surfaces|) before round
    4). Counts aggregate map-side."""
    surfaces = [
        r["mention"]
        for r in alias.select("mention").distinct().limit(max_surfaces + 1).collect()
    ]
    if len(surfaces) > max_surfaces:
        raise ValueError(
            f"count_unlabeled_occurrences is a curated-dictionary diagnostic; "
            f"got > {max_surfaces} distinct surfaces. Running it against an "
            f"open-corpus vocabulary would broadcast an unbounded dictionary — "
            f"raise max_surfaces explicitly if you really mean it."
        )
    surfaces.sort()  # deterministic pattern ids across workers
    b = docs.sparkSession.sparkContext.broadcast(surfaces)
    schema = StructType([StructField("mention", StringType()), StructField("occurrences", LongType())])

    def count_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pats = b.value
        automaton = _build_aho_corasick(pats)  # once per task, O(dict chars)
        local: Counter = Counter()
        for pdf in batches:
            for text in pdf["text"]:
                local.update(_nonoverlap_counts(text, pats, automaton))
        yield pd.DataFrame(
            {"mention": list(local.keys()), "occurrences": list(local.values())}
        )

    totals = docs.select("text").mapInPandas(count_batch, schema=schema) \
        .groupBy("mention").agg(F.sum("occurrences").alias("total_occurrences"))
    labeled = alias.groupBy("mention").agg(F.sum("freq").alias("labeled"))
    return (
        labeled.join(totals, "mention", "left")
        .select(
            "mention",
            F.coalesce("total_occurrences", F.lit(0)).alias("total_occurrences"),
            "labeled",
            (F.coalesce("total_occurrences", F.lit(0)) - F.col("labeled")).alias("unlabeled"),
        )
    )


def link_mentions(mentions: DataFrame, alias: DataFrame,
                  broadcast_alias: bool = False) -> DataFrame:
    """Attach ``entity_id`` to every mention row via an equi-join on
    (mention, ent_type). Ambiguous surfaces resolve to the highest
    frequency entry (the alias dim is reduced to one row per key
    BEFORE any join). Unlinked mentions fall back to a deterministic
    self-canonical id.

    ``broadcast_alias`` picks the join strategy for the (potentially
    unbounded) dictionary side:

    * ``False`` (default) — UNHINTED equi-join: AQE's runtime size
      statistics broadcast it exactly when it is genuinely under
      ``spark.sql.autoBroadcastJoinThreshold``, and plan a shuffle
      join when it is not. The safe choice at every scale.
    * ``True`` — force a broadcast hint. Only when the caller KNOWS
      the dictionary is bounded-small (a curated gazetteer); on an
      open-corpus dictionary this is the driver-OOM the default
      exists to prevent.
    """
    best = (
        alias.groupBy("mention", "ent_type")
        .agg(F.max_by("entity_id", "freq").alias("entity_id"))
    )
    linked = mentions.join(F.broadcast(best) if broadcast_alias else best,
                           ["mention", "ent_type"], "left")
    return linked.withColumn(
        "entity_id", F.coalesce("entity_id", entity_id_col())
    )
