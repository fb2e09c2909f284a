"""Pair enumeration within a group: the one i<j primitive.

Every pair site in the package (co-mention edges and triples, LSH and
SimHash bucket candidates, the entity-similarity intersections) has
the same shape: one row per group carrying an ARRAY of the group's
elements, sorted so that "``a`` before ``b`` in the array" is the pair
predicate the caller wants (``a.id < b.id`` on a sorted distinct
array). :func:`ordered_pairs` expands that array into one row per
ordered pair.

Memory shape: ``posexplode`` emits one row per element, each carrying
the array's tail ``slice(arr, i + 2, size(arr))``, which the second
``explode`` streams out pair by pair. Each row therefore holds O(k)
data for a group of k elements, never the k^2/2-pair array a nested
``flatten(transform(...))`` builds in one value; the pair COUNT per
group is the same k^2/2 either way. The group's array itself is still
one ``collect_list``/``collect_set`` value, so callers cap their
groups (``max_entities_per_doc``) or accept O(k) per group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def ordered_pairs(df: DataFrame, array_col: str, *keep: str) -> DataFrame:
    """``(*keep, a, b)``: one row for each element pair of
    ``df[array_col]`` where ``a`` comes before ``b`` in the array.

    Arrays of size 0 or 1 (and nulls) yield no rows; a repeated
    element yields its pairs once per position, so pass a distinct
    array for set semantics. ``keep`` columns ride along unchanged."""
    return (
        df.select(*keep, F.posexplode(array_col).alias("_i", "a"), array_col)
        .select(
            *keep, "a",
            F.explode(F.expr(f"slice({array_col}, _i + 2, size({array_col}))")).alias("b"),
        )
    )
