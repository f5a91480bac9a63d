import datetime
import decimal

import verify


def test_digest_ignores_row_and_column_order():
    cols = ["b", "a"]
    rows = [(1, "x"), (2, "y")]
    same = verify.digest(["a", "b"], [("y", 2), ("x", 1)])
    assert verify.digest(cols, rows) == same


def test_digest_sees_value_changes():
    base = verify.digest(["a"], [(1,), (2,)])
    assert verify.digest(["a"], [(1,), (3,)]) != base
    assert verify.digest(["a"], [(1,)]) != base
    assert verify.digest(["a"], [(1,), (2,), (2,)]) != base


def test_canonicalization_follows_the_oracle():
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5, 6)
    rows = verify.canonical_rows(["t", "d", "l"], [(ts, decimal.Decimal("1.5"), [1, 2])])
    # columns in name order (d, l, t); lists become tuples
    assert rows == [[1.5, (1, 2), "2024-01-02 03:04:05.000006"]]
    # a Decimal and the float it canonicalizes to digest the same
    assert verify.digest(["x"], [(decimal.Decimal("1.5"),)]) == verify.digest(["x"], [(1.5,)])


def test_recorded_digests_name_their_corpus():
    import gen

    recs = verify.load_digests()
    assert set(recs) == {"dedup_minhash_lsh", "dedup_containment_prefix"}
    for rec in recs.values():
        assert rec["corpus"] == f"docs{gen.DOCS}-seed{gen.CORPUS_SEED}"
        assert len(rec["sha256"]) == 64


class _FakeDF:
    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def test_check_against_recorded_digest():
    rows = [(1, 2, 0.5)]
    digests = {"s": {"sha256": verify.digest(["a", "b", "j"], rows), "corpus": "c1"}}
    ok, _ = verify.check(_FakeDF(["a", "b", "j"], rows), "s", "/d", None, digests, "c1")
    assert ok
    ok, msg = verify.check(_FakeDF(["a", "b", "j"], [(1, 3, 0.5)]), "s", "/d", None, digests, "c1")
    assert not ok and "digest" in msg
    ok, msg = verify.check(_FakeDF(["a", "b", "j"], rows), "s", "/d", None, digests, "c2")
    assert not ok and "corpus" in msg
    ok, msg = verify.check(_FakeDF(["a"], rows), "t", "/d", None, digests, "c1")
    assert not ok
