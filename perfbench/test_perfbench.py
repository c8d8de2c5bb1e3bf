"""Spark-free unit tests of the benchmark's own logic.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import summary  # noqa: E402
from kvmodel import KvModel, as_tuples, check_rows  # noqa: E402
from spans import Tracer  # noqa: E402


# ---- the percentile rule ------------------------------------------------
@pytest.mark.parametrize(
    "n, p, ok",
    [(19, 50, False), (20, 50, True), (99, 90, False), (100, 90, True),
     (999, 99, False), (1000, 99, True), (10000, 99.9, True)],
)
def test_percentile_needs_ten_samples_beyond_it(n, p, ok):
    assert summary.supported(n, p) is ok


@pytest.mark.parametrize(
    "n, top", [(5, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0),
               (1000, 99.0), (10000, 99.9)],
)
def test_highest_supported_percentile(n, top):
    assert summary.highest_supported(n) == top


def test_pass_total_weights_medians_by_occurrence():
    lat = {"a": [1.0, 3.0, 2.0], "b": [10.0]}
    assert summary.pass_total(lat, {"a": 1, "b": 1}) == 12.0
    assert summary.pass_total(lat, {"a": 5, "b": 1}) == 20.0


def test_quartile_spread():
    assert summary.quartile_spread([10.0] * 10) == 0.0
    xs = [9.0, 10.0, 10.0, 10.0, 11.0, 9.5, 10.5, 10.0, 10.0, 10.0]
    assert 0.0 < summary.quartile_spread(xs) < 0.1


# ---- seeded generators --------------------------------------------------
def test_corpus_same_seed_same_tables_other_seed_other_tables():
    a = gen.corpus_tables(7, scale=0.01)
    b = gen.corpus_tables(7, scale=0.01)
    c = gen.corpus_tables(8, scale=0.01)
    assert set(a) == {"region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents", "embeddings"}
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_corpus_column_types_follow_fixtures():
    import pyarrow as pa

    t = gen.corpus_tables(3, scale=0.01)
    assert t["events"].schema.field("ts").type == pa.timestamp("ns")
    assert t["orders"].schema.field("o_orderdate").type == pa.timestamp("ms")
    assert t["lineitem"].schema.field("l_shipdate").type == pa.timestamp("ms")
    ts = t["events"]["ts"].cast(pa.int64()).to_pylist()
    assert min(ts) >= 1_704_067_200 * 10**9  # 2024-01-01, in ns


def test_corpus_keys_reference_existing_rows():
    t = gen.corpus_tables(3, scale=0.01)
    n_cust = t["customer"].num_rows
    assert max(t["orders"]["o_custkey"].to_pylist()) < n_cust
    assert max(t["lineitem"]["l_orderkey"].to_pylist()) < t["orders"].num_rows


def test_entities_and_key_draws_are_seeded():
    import numpy as np

    assert gen.entities_table(1, 100).equals(gen.entities_table(1, 100))
    assert not gen.entities_table(1, 100).equals(gen.entities_table(2, 100))

    def draws(seed):
        z = gen.ZipfKeys(np.random.default_rng(seed), 1000)
        return z.draw(50).tolist(), z.distinct(16)

    assert draws(1) == draws(1)
    assert draws(1) != draws(2)
    keys = draws(1)[1]
    assert len(set(keys)) == 16 and all(0 <= k < 1000 for k in keys)


def test_zipf_draws_favour_hot_keys():
    import numpy as np

    z = gen.ZipfKeys(np.random.default_rng(0), 10_000)
    ks = z.draw(5000).tolist()
    hottest = int(z.perm[0])
    assert ks.count(hottest) > 5000 * 0.05


def test_cycle_schedule_is_seeded_with_exact_proportions():
    import numpy as np

    mix = {"r": 7, "w": 13}
    a = gen.cycle_schedule(np.random.default_rng(1), mix)
    b = gen.cycle_schedule(np.random.default_rng(1), mix)
    c = gen.cycle_schedule(np.random.default_rng(2), mix)
    assert a == b and a != c
    assert a.count("r") == 7 and a.count("w") == 13


def test_interleave_keeps_write_order_and_spreads_reads():
    out = gen.interleave(["w1", "w2", "w3"], ["r1", "r2", "r3", "r4", "r5"])
    assert [x for x in out if x.startswith("w")] == ["w1", "w2", "w3"]
    assert [x for x in out if x.startswith("r")] == ["r1", "r2", "r3", "r4", "r5"]
    assert out[0] == "w1" and out.index("w2") in (2, 3) and out[-1] != "w3"


# ---- storage amplification ----------------------------------------------
def test_logical_row_bytes():
    assert summary.logical_row_bytes((1, "abc", 2, 3.5, "")) == 8 + 3 + 8 + 8


def test_write_and_space_amp():
    assert summary.write_amp(5000, 1000) == 5.0
    assert summary.space_amp(1500, 1000) == 1.5
    assert summary.write_amp(5000, 0) == 0.0  # no rows submitted: no base


# ---- the kv checker -----------------------------------------------------
def _model():
    rows = [(k, gen.uid_of(k), k * 10, k / 2, f"v0-{k}") for k in range(10)]
    return KvModel(rows), rows


def test_checker_accepts_the_model_rows():
    m, rows = _model()
    assert check_rows(list(rows[3:5]), m.table_rows([3, 4])) is None
    assert check_rows([], m.table_rows([99])) is None


def test_checker_flags_a_corrupted_row():
    m, rows = _model()
    bad = list(rows[3])
    bad[2] += 1
    err = check_rows([tuple(bad)], m.table_rows([3]))
    assert err is not None and "expected" in err
    assert check_rows([rows[3], rows[3]], m.table_rows([3])) is not None


def test_model_tracks_writes_and_history():
    m, rows = _model()
    m.upsert([(20, gen.uid_of(20), 1, 1.0, "v1-1")], 1)
    m.delete([0, 1], 2)
    m.commit(4)  # a commit that changes no rows (e.g. compaction), v3 skipped too
    assert m.count_at(0) == 10 and m.count_at(1) == 11 and m.count_at(2) == 9
    assert m.count_at(4) == 9
    assert m.table_rows([0]) == [] and m.table_rows([20])[0][0] == 20
    assert m.stash_rows([0]) == [rows[0]]  # the stash is a separate store
    with pytest.raises(AssertionError):
        m.commit(1)


def test_as_tuples_orders_fields():
    rows = [{"k": 2, "uid": "x", "a": 1, "b": 0.5, "c": "c"},
            {"k": 1, "uid": "y", "a": 3, "b": 1.5, "c": "d"}]
    assert as_tuples(rows) == [(1, "y", 3, 1.5, "d"), (2, "x", 1, 0.5, "c")]
    assert as_tuples(rows, ("k", "a")) == [(1, 3), (2, 1)]


def test_result_hash_flags_a_corrupted_value():
    from workloads import rows_hash

    rows = [(1, 2.5, "a"), (2, 3.5, "b")]
    cols = ["k", "v", "s"]
    assert rows_hash(rows, cols) == rows_hash(list(reversed(rows)), cols)
    assert rows_hash(rows, cols) != rows_hash([(1, 2.5, "a"), (2, 3.6, "b")], cols)


# ---- spans --------------------------------------------------------------
def test_self_time_subtracts_children():
    t = Tracer()
    # parent 0..10 with children 1..3 and 4..8: self = 10 - 2 - 4
    t.spans = [["bench.op", 0.0, 10.0, -1, 0], ["io.x", 1.0, 3.0, 0, 0],
               ["spark.action", 4.0, 8.0, 0, 0], ["util.y", 5.0, 6.0, 2, 0]]
    assert t.self_times() == [4.0, 2.0, 3.0, 1.0]
    assert t.layer_self() == {"bench": 4.0, "io": 2.0, "spark": 3.0, "util": 1.0}


def test_wrapped_calls_nest_and_record_only_when_active():
    t = Tracer()

    def inner(x):
        return x + 1

    def outer(x):
        return w_inner(x) * 2

    w_inner = t.wrap(inner, "io.inner")
    w_outer = t.wrap(outer, "registry.outer")
    assert w_outer(1) == 4 and t.spans == []
    t.active = True
    t.op = 7
    assert w_outer(1) == 4
    names = [(s[0], s[3], s[4]) for s in t.spans]
    assert names == [("registry.outer", -1, 7), ("io.inner", 0, 7)]
    assert t.by_name()["io.inner"]["calls"] == 1


# ---- BENCHMARK.json agrees with what the command prints -------------------
def test_benchmark_json_names_every_printed_metric():
    import json

    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
