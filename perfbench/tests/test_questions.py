"""The seeded question generator: deterministic, never repeats a question,
and routes every question to the planner branch it names."""

import itertools

import questions
from serve import route


def _take(stream, n):
    return list(itertools.islice(stream, n))


def test_same_seed_same_questions():
    assert _take(questions.cold_stream(7), 200) == _take(questions.cold_stream(7), 200)
    assert _take(questions.cold_stream(7), 50) != _take(questions.cold_stream(8), 50)


def test_cold_stream_never_repeats():
    qs = [q for _, q in _take(questions.cold_stream(3), 3000)]
    assert len(set(qs)) == len(qs)


def test_every_round_has_the_same_branch_mix():
    n = len(questions.TEMPLATES)
    got = _take(questions.cold_stream(11), 4 * n)
    for r in range(4):
        branches = sorted(b for b, _ in got[r * n:(r + 1) * n])
        assert branches == sorted(b for b, _ in questions.TEMPLATES)


def test_questions_route_to_their_branch():
    for seed in (1, 2, 3):
        for branch, q in _take(questions.cold_stream(seed), 10 * len(questions.TEMPLATES)):
            assert route(q)[0] == branch, q

