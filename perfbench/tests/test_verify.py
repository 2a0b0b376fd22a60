"""Output digests: order-insensitive, and loud on a corrupted expectation."""

import pytest

from perfbench.verify import OutputMismatch, check_digest, digest


def test_digest_ignores_row_and_column_order():
    a = digest(["x", "Y"], [(1, 2.0), (3, 4.0)])
    b = digest(["y", "x"], [(4.0, 3), (2.0, 1)])
    assert a == b and a["rows"] == 2


def test_digest_tolerates_float_summation_noise():
    assert digest(["s"], [(1234567.1234567891,)]) == digest(["s"], [(1234567.1234567893,)])
    assert digest(["s"], [(1.0,)]) != digest(["s"], [(1.001,)])


def test_corrupted_expected_hash_fails_loudly():
    good = digest(["k", "v"], [(1, "a"), (2, "b")])
    bad = dict(good, hash="0" * 16)
    check_digest("q", good, good)
    with pytest.raises(OutputMismatch, match="q: value hash"):
        check_digest("q", good, bad)


def test_wrong_row_count_names_the_query():
    good = digest(["k"], [(1,), (2,)])
    with pytest.raises(OutputMismatch, match="q: 2 rows, expected 3"):
        check_digest("q", good, dict(good, rows=3))
