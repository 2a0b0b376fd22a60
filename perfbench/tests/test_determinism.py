"""The same seed gives the same op sequence and the same lake inputs."""

from perfbench import datagen
from perfbench.workloads import ANALYTIC, LLM, pass_orders


def test_same_seed_same_op_sequence():
    assert pass_orders(ANALYTIC, 7, 3) == pass_orders(ANALYTIC, 7, 3)
    assert pass_orders(ANALYTIC, 7, 3) != pass_orders(ANALYTIC, 8, 3)
    for p in pass_orders(ANALYTIC, 7, 3):
        assert sorted(p) == sorted(ANALYTIC)


def test_passes_draw_different_orders():
    orders = pass_orders(ANALYTIC + LLM, 7, 4)
    assert len({tuple(p) for p in orders}) > 1


def test_same_seed_same_delivery_bytes():
    a = datagen.lake_plan(5, 15_000, 3)
    b = datagen.lake_plan(5, 15_000, 3)
    c = datagen.lake_plan(6, 15_000, 3)
    for x, y in zip(a, b):
        assert datagen.delivery_bytes(x["delivery"]) == datagen.delivery_bytes(y["delivery"])
        assert datagen.delivery_bytes(x["correction"]) == datagen.delivery_bytes(y["correction"])
        assert (x["delete_rem"], x["travel_back"], x["since"]) == (
            y["delete_rem"], y["travel_back"], y["since"])
    assert datagen.delivery_bytes(a[0]["delivery"]) != datagen.delivery_bytes(c[0]["delivery"])


def test_deliveries_mix_new_and_redelivered_keys():
    plan = datagen.lake_plan(5, 15_000, 2)
    keys = plan[0]["delivery"].column("o_orderkey").to_pylist()
    assert len(set(keys)) == len(keys)
    assert set(plan[0]["redelivered"]) <= set(keys)
    assert all(k < 15_000 + len(keys) for k in plan[0]["redelivered"])
    assert min(k for k in keys if k not in plan[0]["redelivered"]) == 15_000


def test_base_tables_are_fixed(tmp_path):
    d1 = datagen.ensure_data(str(tmp_path / "a"), 0.0001)
    d2 = datagen.ensure_data(str(tmp_path / "b"), 0.0001)
    assert d1 == d2
    # a cached copy is reused only while its content still matches
    assert datagen.ensure_data(str(tmp_path / "a"), 0.0001) == d1
    (tmp_path / "a" / "region.parquet").write_bytes(b"corrupt")
    assert datagen.ensure_data(str(tmp_path / "a"), 0.0001) == d1
