"""Golden tests for label-space transforms (FIXTURES.md F8 cases)."""

import pytest

from qizner_spark.core.labels import (
    add_mentions,
    bio_decode,
    bio_encode,
    convert_types,
    dedupe_mentions,
    ent_dct_to_mentions,
    filter_by_prefix,
    filter_by_types,
    flatten_by_prob,
    flatten_by_prob_then_length,
    flatten_gold,
    mentions_to_ent_dct,
    mentions_to_span_dct,
)


class TestBioEncode:
    def test_simple(self):
        tags = bio_encode(5, [("PER", 1, 3)])
        assert tags == ["O", "B-PER", "I-PER", "O", "O"]

    def test_overlap_prev_strategy_keeps_earliest(self):
        # (1,3) starts earlier than (2,5): keep (1,3); (2,5) overlaps -> dropped
        tags = bio_encode(6, [("A", 2, 5), ("B", 1, 3)])
        assert tags == ["O", "B-B", "I-B", "O", "O", "O"]

    def test_same_start_prefers_longest(self):
        # datautils.py:1718: end-desc sort first => same B keeps the longer
        tags = bio_encode(6, [("A", 1, 3), ("B", 1, 5)])
        assert tags == ["O", "B-B", "I-B", "I-B", "I-B", "O"]

    def test_adjacent_ok(self):
        # start == prev_end is allowed (exclusive end)
        tags = bio_encode(4, [("A", 0, 2), ("B", 2, 4)])
        assert tags == ["B-A", "I-A", "B-B", "I-B"]

    def test_invalid_span_ignored_but_blocks(self):
        # invalid span (start >= end) does not write tags but still
        # advances prev_end in the reference loop
        tags = bio_encode(4, [("A", 0, 0), ("B", 1, 3)])
        assert tags == ["O", "B-B", "I-B", "O"]


class TestBioDecode:
    def test_iob_roundtrip(self):
        ms = [("PER", 0, 2), ("LOC", 3, 4)]
        assert bio_decode(bio_encode(5, ms)) == ms

    def test_i_after_o_dropped(self):
        assert bio_decode(["O", "I-PER", "I-PER", "O"]) == []

    def test_type_switch_mid_entity(self):
        # I-LOC after B-PER: dropped (type mismatch), entity stays open
        assert bio_decode(["B-PER", "I-LOC", "I-PER"]) == [("PER", 0, 3)]

    def test_trailing_entity_flushed(self):
        assert bio_decode(["O", "B-PER", "I-PER"]) == [("PER", 1, 3)]

    def test_b_flushes_previous(self):
        assert bio_decode(["B-A", "B-A", "I-A"]) == [("A", 0, 1), ("A", 1, 3)]

    def test_io_schema(self):
        # adjacent same-type runs merge; type change splits
        assert bio_decode(["X", "X", "Y", "O", "Y"], schema="IO") == [
            ("X", 0, 2),
            ("Y", 2, 3),
            ("Y", 4, 5),
        ]

    def test_unknown_schema(self):
        with pytest.raises(NotImplementedError):
            bio_decode(["O"], schema="BILOU")


class TestFlatten:
    def test_prob_priority(self):
        # higher prob wins the overlap
        flat = flatten_by_prob(6, [("A", 1, 4, 0.6), ("B", 2, 5, 0.9)])
        assert flat == [("B", 2, 5, 0.9)]

    def test_equal_prob_keeps_input_order(self):
        # L9 tie-break: stable sort -> first-listed wins
        flat = flatten_by_prob(6, [("A", 1, 4, 0.8), ("B", 2, 5, 0.8)])
        assert flat == [("A", 1, 4, 0.8)]

    def test_missing_prob_scores_length(self):
        flat = flatten_by_prob(6, [("A", 1, 3), ("B", 1, 5)])
        assert flat == [("B", 1, 5, 4.0)]

    def test_prob_then_length_prefers_longer(self):
        # L11 tie-break differs: explicit length-desc sort
        flat = flatten_by_prob_then_length(6, [("A", 1, 4, 0.8), ("B", 2, 5, 0.8)])
        # same prob, equal length 3 -> stable: A first
        assert flat == [("A", 1, 4, 0.8)]
        flat = flatten_by_prob_then_length(8, [("A", 1, 4, 0.8), ("B", 2, 7, 0.8)])
        assert flat == [("B", 2, 7, 0.8)]

    def test_non_overlapping_all_kept(self):
        flat = flatten_by_prob(8, [("A", 0, 2, 0.5), ("B", 3, 5, 0.4)])
        assert sorted(flat) == [("A", 0, 2, 0.5), ("B", 3, 5, 0.4)]

    def test_flatten_gold_equals_bio_roundtrip(self):
        ms = [("A", 0, 4), ("B", 1, 2), ("C", 5, 6)]
        assert flatten_gold(8, ms) == bio_decode(bio_encode(8, ms))


class TestDedupeAndMaps:
    def test_dedupe_keeps_first(self):
        ms = [("A", 0, 2, 0.9), ("A", 0, 2, 0.1), ("B", 0, 2)]
        assert dedupe_mentions(ms) == [("A", 0, 2, 0.9), ("B", 0, 2)]

    def test_convert_types_merges_and_dedupes(self):
        ms = [("A", 0, 2), ("B", 0, 2), ("C", 3, 4)]
        out = convert_types(ms, {"A": "X", "B": "X"})
        assert out == [("X", 0, 2), ("C", 3, 4)]

    def test_convert_types_drop_unmapped(self):
        out = convert_types([("A", 0, 1), ("C", 2, 3)], {"A": "X"}, keep_unmapped=False)
        assert out == [("X", 0, 1)]

    def test_filters(self):
        ms = [("PER", 0, 1), ("LOC", 1, 2), ("PER-X", 2, 3)]
        assert filter_by_types(ms, ["PER"]) == [("PER", 0, 1)]
        assert filter_by_types(ms, ["PER"], keep=False) == [("LOC", 1, 2), ("PER-X", 2, 3)]
        assert filter_by_prefix(ms, "PER") == [("PER", 0, 1), ("PER-X", 2, 3)]

    def test_add_mentions(self):
        assert add_mentions([("A", 0, 1)], [("A", 0, 1), ("B", 1, 2)]) == [
            ("A", 0, 1),
            ("B", 1, 2),
        ]

    def test_ent_dct_roundtrip(self):
        dct = {"PER": [[0, 2], [4, 5]], "LOC": [[3, 4]]}
        ms = ent_dct_to_mentions(dct)
        assert ms == [("PER", 0, 2), ("PER", 4, 5), ("LOC", 3, 4)]
        assert mentions_to_ent_dct(ms) == dct
        assert mentions_to_span_dct(ms) == {(0, 2): "PER", (4, 5): "PER", (3, 4): "LOC"}
