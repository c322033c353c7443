"""Result fingerprints ignore row order and engine representation."""

import datetime
from decimal import Decimal

import checks


def test_fingerprint_is_order_insensitive():
    rows = [(1, "a", 2.5), (2, "b", None)]
    cols = ["id", "name", "x"]
    assert checks.fingerprint(cols, rows) == checks.fingerprint(cols, rows[::-1])
    assert checks.fingerprint(cols, rows)[0] == 2
    assert checks.fingerprint(cols, rows) != checks.fingerprint(cols, rows[:1])


def test_column_order_does_not_matter():
    assert checks.fingerprint(["a", "b"], [(1, 2)]) == checks.fingerprint(["b", "a"], [(2, 1)])


def test_served_json_matches_native_values():
    native = [(7, Decimal("12.50"), datetime.datetime(2024, 1, 1, 5), 0.1 + 0.2)]
    served = [{"n": "7", "amount": 12.5, "hour": "2024-01-01T05:00:00",
               "x": "0.30000000000000004"}]
    cols = ["n", "amount", "hour", "x"]
    assert checks.fingerprint(cols, native) == checks.fingerprint_json(cols, served)


def test_different_values_differ():
    assert checks.fingerprint(["a"], [(1.0,)]) != checks.fingerprint(["a"], [(1.01,)])
    assert checks.fingerprint(["a"], [("x",)]) != checks.fingerprint(["a"], [(None,)])
