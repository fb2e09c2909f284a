"""Viterbi + seq-decode assembly tests (FIXTURES.md F8 M16 case)."""

import numpy as np

from qizner_spark.core.scoring import link_scores, prune_spans
from qizner_spark.core.spans import num_spans, span_indices
from qizner_spark.core.viterbi import (
    assemble_seq_predictions,
    bio_start_transitions,
    bio_transition_matrix,
    viterbi_decode,
)

TAGS = ["O", "B-X", "I-X"]
ID2TAG = dict(enumerate(TAGS))


class TestViterbi:
    def test_hand_computed_3tag(self):
        # 3 tags, 3 steps; transitions crafted so the greedy path is wrong
        em = np.array([[1.0, 0.0, 0.0],
                       [0.0, 0.9, 0.0],
                       [0.0, 0.0, 1.0]])
        trans = np.array([[0.0, 0.0, -5.0],   # O->I forbidden
                          [0.0, 0.0, 1.0],    # B->I encouraged
                          [0.0, 0.0, 0.5]])
        path = viterbi_decode(em, trans)
        # step0: O(1.0); step1: B(0.9); step2: I gains B->I bonus
        assert path == [0, 1, 2]

    def test_greedy_vs_viterbi_differ(self):
        # emission argmax would pick tag 2 at step 1, but the O->2
        # transition is blocked; Viterbi detours
        em = np.array([[1.0, 0.0, 0.0],
                       [0.0, 0.4, 0.5],
                       [0.0, 0.0, 1.0]])
        trans = np.array([[0.0, 0.0, -100.0],
                          [0.0, 0.0, 0.0],
                          [-100.0, -100.0, 0.0]])
        path = viterbi_decode(em, trans)
        assert path[1] == 1  # not the greedy 2

    def test_start_end_transitions(self):
        em = np.zeros((2, 2))
        path = viterbi_decode(em, np.zeros((2, 2)),
                              start_transitions=np.array([0.0, 1.0]),
                              end_transitions=np.array([2.0, 0.0]))
        assert path == [1, 0]

    def test_single_token(self):
        assert viterbi_decode(np.array([[0.0, 3.0]]), np.zeros((2, 2))) == [1]

    def test_batch_honors_lengths(self):
        """Padded batch decoding (reference mask semantics,
        modules.py:1560): each row decodes over its true length only."""
        em = np.zeros((2, 3, 2))
        em[0, :, 1] = 1.0
        em[1, :, 0] = 1.0
        em[1, 2, 1] = 9.0  # padding that would win if it were decoded
        lengths = [3, 2]
        paths = [viterbi_decode(em[b, :n], np.zeros((2, 2))) for b, n in enumerate(lengths)]
        assert paths == [[1, 1, 1], [0, 0]]

    def test_bio_transitions_block_orphan_inside(self):
        em = np.array([[5.0, 0.0, 4.9],   # wants I-X at step 0 almost
                       [0.0, 0.0, 5.0]])  # wants I-X at step 1
        trans = bio_transition_matrix(TAGS)
        path = viterbi_decode(em, trans, start_transitions=bio_start_transitions(TAGS))
        tags = [ID2TAG[i] for i in path]
        # I-X can only follow B-X/I-X
        for i, t in enumerate(tags):
            if t == "I-X":
                assert i > 0 and tags[i - 1] in ("B-X", "I-X")


class TestAssembly:
    def test_mean_emission_prob(self):
        em = np.log(np.array([[0.1, 0.8, 0.1],
                              [0.1, 0.1, 0.8],
                              [0.8, 0.1, 0.1]]))
        mentions = assemble_seq_predictions(em, [1, 2, 0], ID2TAG)
        assert len(mentions) == 1
        t, s, e, p = mentions[0]
        assert (t, s, e) == ("X", 0, 2)
        assert p == round((0.8 + 0.8) / 2, 4)

    def test_rounding_to_4(self):
        em = np.zeros((2, 3))  # uniform softmax -> 1/3
        mentions = assemble_seq_predictions(em, [1, 2], ID2TAG)
        assert mentions[0][3] == round(1 / 3, 4)


class TestPruning:
    def test_link_scores_shape(self):
        x = np.ones((4, 16))
        ls = link_scores(x)
        assert ls.shape == (3,)
        assert np.allclose(ls, 16 / 4.0)  # sum of ones / sqrt(16)

    def test_prune_keeps_unit_spans(self):
        links = np.array([-1.0, -1.0])  # every link fails
        starts, ends, mask = prune_spans(3, links, link_threshold=0.0)
        assert list(zip(starts.tolist(), ends.tolist())) == [(0, 0), (1, 1), (2, 2)]
        assert mask.sum() == 3

    def test_prune_interior_rule(self):
        # links: [ok, bad, ok] over 4 tokens
        links = np.array([1.0, -1.0, 1.0])
        starts, ends, mask = prune_spans(4, links, link_threshold=0.0)
        kept = set(zip(starts.tolist(), ends.tolist()))
        assert (0, 1) in kept            # interior link 0 ok
        assert (1, 2) not in kept        # interior link 1 bad
        assert (0, 3) not in kept        # crosses the bad link
        assert (2, 3) in kept            # interior link 2 ok
        assert mask.shape[0] == num_spans(4)

    def test_mask_order_matches_enumeration(self):
        links = np.array([1.0, 1.0])
        starts_all, ends_all = span_indices(3)
        _, _, mask = prune_spans(3, links, 0.0)
        assert mask.all()
        assert mask.shape[0] == len(starts_all)
