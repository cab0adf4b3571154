"""Tests of the benchmark's own pieces that need no Spark session:
seeded generators, the table model, span arithmetic and the metric values.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import filecmp
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import model  # noqa: E402
import spans  # noqa: E402
import wl_dedup  # noqa: E402


def _inputs(seed: int):
    rows, nxt = gen.upsert_batch(seed, 3, 2, 1000, 100, tombstone_frac=0.1)
    vocab = gen.vocabulary(seed)
    return (
        gen.initial_orders(seed, 500), rows, nxt,
        gen.delete_keys(seed, 4, nxt, 50),
        gen.replace_slice(seed, 5, 3, nxt, 20, 10),
        [gen.read_op(seed, i, k, nxt, [1, 2, 3]) for i, k in enumerate("point miss range where old cdf".split())],
        gen.corpus_batch(seed, 1, 200, 10, vocab),
        gen.query_vectors(seed, 5).tolist(),
    )


def test_same_seed_same_inputs_other_seed_other_inputs():
    assert _inputs(7) == _inputs(7)
    assert _inputs(7) != _inputs(8)


def test_fixture_files_byte_identical_per_seed(tmp_path):
    for d, seed in (("a", 3), ("b", 3), ("c", 4)):
        gen.write_tpch(seed, 0.001, str(tmp_path / d))
    names = sorted(os.listdir(tmp_path / "a"))
    assert len(names) == 10
    match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert mismatch == errors == []
    _, mismatch, _ = filecmp.cmpfiles(tmp_path / "a", tmp_path / "c", names, shallow=False)
    assert "lineitem.parquet" in mismatch


def test_upsert_batch_keys_are_distinct_and_recent():
    rows, nxt = gen.upsert_batch(1, 0, 2, 20_000, 1000)
    keys = [r[0] for r in rows]
    assert len(set(keys)) == len(keys) == 1000
    assert nxt == 20_200
    old = [k for k in keys if k < 20_000]
    assert sorted(old)[len(old) // 2] > 10_000  # skewed towards recent keys


def test_replace_rows_lie_inside_the_slice():
    lo, hi, rows, _ = gen.replace_slice(1, 6, 9, 20_000, 200, 100)
    assert all(lo <= r[5] <= hi for r in rows)


def test_injected_near_duplicates_pass_the_jaccard_threshold():
    docs, pairs = gen.corpus_batch(2, 0, 300, 10, gen.vocabulary(2))
    text = dict(docs)
    assert len(pairs) == 30
    assert not {a for a, _ in pairs} & {b for _, b in pairs}  # stars, no chains
    for a, b in pairs:
        sa, sb = wl_dedup._shingles(text[a]), wl_dedup._shingles(text[b])
        assert len(sa & sb) / len(sa | sb) >= 0.5


def test_model_latest_write_wins_and_deletes():
    m = model.TableModel()
    m.upsert([(1, 1, "F", 1.5, 7, 100, False), (2, 1, "O", 2.0, 8, 200, False)])
    m.commit(1)
    m.upsert([(1, 2, "P", 3.25, 7, 100, False), (2, 2, "O", 2.0, 8, 200, True)])
    m.commit(2)
    assert m.rows == {1: (1, 2, "P", 3.25, 7, 100)}
    assert m.cdf_deltas(1, 2) == {"F": (-1, -150), "P": (1, 325), "O": (-1, -200)}
    m.replace_where_ts(50, 150, [(3, 3, "R", 1.0, 9, 120, False)])
    assert set(m.rows) == {3}
    assert m.snapshot(1)[0] == 2


def test_fingerprint_ignores_row_order():
    rows = [(1, 1, "F", 1.5, 7, 100), (2, 1, "O", 2.0, 8, 200)]
    assert model.fingerprint(rows) == model.fingerprint(rows[::-1])
    assert model.fingerprint(rows) != model.fingerprint(rows[:1])


def test_components_union_find():
    assert wl_dedup._components([(5, 3), (3, 9), (1, 2)]) == {5: 3, 3: 3, 9: 3, 1: 1, 2: 1}


def test_union_length_and_layer_totals():
    assert spans._union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert spans._union_length([(0, 2)], 1, 10) == 1
    s = [{"id": "s0", "name": "op", "parent_id": None, "start": 0.0, "end": 4.0, "dur": 4.0},
         {"id": "s1", "name": "lakehouse.read", "parent_id": "s0", "start": 1.0, "end": 3.0,
          "dur": 2.0}]
    groups = {"s1": {"jobs": [(1.5, 2.0)], "stages": 2, "tasks": 8, "shuffle_write_bytes": 10,
                     "spill_bytes": 0, "gc_s": 0.0, "input_rows": 40}}
    t = spans.layer_totals(s, groups)
    assert t["op"]["driver_s"] == 4.0
    assert t["lakehouse.read"]["driver_s"] == 1.5
    assert t["lakehouse.read"]["tasks"] == 8


def test_benchmark_json_metrics_are_all_reported():
    end_to_end, per_layer = metrics.spec()
    assert set(end_to_end) == {"setup_s", "cpu_s_per_op"}
    assert 1 <= len(per_layer) <= 128
    assert set(metrics.per_layer_values(per_layer, {}, {})) == set(per_layer)


def test_per_layer_values_from_span_totals_and_figures():
    totals = {"relational.agg": {"calls": 2, "jobs": 4, "tasks": 40, "stages": 6},
              "lakehouse.read": {"input_rows": 100, "stages": 1}}
    figures = {"lakehouse.read.rows_returned": 20, "lakehouse.commit.write_amp": 3.5}
    names = ["relational.agg.calls", "relational.agg.tasks_per_job", "relational.win.calls",
             "lakehouse.read.input_rows_per_row_returned", "workload.stages",
             "lakehouse.commit.write_amp"]
    want = dict(zip(names, [2, 10, 0, 5, 7, 3.5]))
    assert metrics.per_layer_values(names, totals, figures) == want


def test_tree_cpu_counts_this_process():
    c0 = common.tree_cpu_s()
    t = time.process_time()
    while time.process_time() - t < 0.2:
        pass
    assert common.tree_cpu_s() - c0 >= 0.15
