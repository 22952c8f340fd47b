"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import os
import sys

import pyarrow.compute as pc

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import run  # noqa: E402

SF = 0.001


def _write_inputs(out: str, seed: int) -> None:
    for t, tb in datagen.base_tables(SF).items():
        datagen.write(tb, os.path.join(out, "base", f"{t}.parquet"))
        src, _ = datagen.round_source(tb, t, SF, seed, 1)
        datagen.write(src, os.path.join(out, "round1", f"{t}.parquet"))


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    _write_inputs(str(tmp_path / "a"), seed=7)
    _write_inputs(str(tmp_path / "b"), seed=7)
    for sub in ("base", "round1"):
        names = sorted(os.listdir(tmp_path / "a" / sub))
        assert names == sorted(f"{t}.parquet" for t in datagen.TABLES)
        match, mismatch, errors = filecmp.cmpfiles(
            tmp_path / "a" / sub, tmp_path / "b" / sub, names, shallow=False)
        assert (mismatch, errors) == ([], [])


def test_different_seed_gives_different_changesets():
    base = datagen.base_tables(SF)
    for t in ("orders", "lineitem", "events"):
        a, _ = datagen.round_source(base[t], t, SF, 1, 1)
        b, _ = datagen.round_source(base[t], t, SF, 2, 1)
        assert not a.equals(b), t


def test_changeset_keeps_size_and_touches_the_stated_share():
    base = datagen.base_tables(SF)["orders"]
    src, counts = datagen.round_source(base, "orders", SF, 3, 1)
    assert src.num_rows == base.num_rows - counts["D"] + counts["I"] == base.num_rows
    assert counts == {"U": 15, "I": 8, "D": 8}
    kept = set(base.column("o_orderkey").to_pylist()) & set(src.column("o_orderkey").to_pylist())
    assert len(kept) == base.num_rows - counts["D"]


def test_generated_tables_follow_the_registry():
    from hdc_dataengineering_sqlsync_spark import registry

    assert datagen.TABLES == registry.TABLES
    assert {t: tuple(k) for t, k in datagen.KEYS.items()} == registry.PRIMARY_KEYS
    for t, tb in datagen.base_tables(SF).items():
        assert tb.column_names == registry.SCHEMAS[t].names, t


def _distinct_keys(li) -> int:
    keys = pc.binary_join_element_wise(
        pc.cast(li.column("l_orderkey"), "string"),
        pc.cast(li.column("l_linenumber"), "string"), "/")
    return len(pc.unique(keys))


def test_lineitem_declared_key_is_unique_in_every_round():
    li = datagen.base_tables(SF)["lineitem"]
    assert _distinct_keys(li) == li.num_rows
    for seed in (1, 2):
        src, _ = datagen.round_source(li, "lineitem", SF, seed, 1)
        assert _distinct_keys(src) == src.num_rows


def test_probe_lineitem_key_repeats_like_the_testdata():
    # about 76 % distinct keys, as in the sf0.001/0.01/0.1 testdata
    li = datagen.lineitem_with_testdata_keys(SF)
    assert li.schema == datagen.base_tables(SF)["lineitem"].schema
    assert 0.70 < _distinct_keys(li) / li.num_rows < 0.82


def test_query_order_is_seeded_permutation():
    qids = ["a", "b", "c", "d", "e"]
    assert sorted(datagen.query_order(qids, 5, 1)) == qids
    assert datagen.query_order(qids, 5, 1) == datagen.query_order(qids, 5, 1)
    assert any(datagen.query_order(qids, 5, p) != qids for p in range(1, 4))


def test_printed_metric_names_match_benchmark_json():
    assert run.check_benchmark_json(os.path.join(ROOT, "BENCHMARK.json")) == []


def test_op_percentiles_tail_has_ten_samples_beyond():
    vals = [float(i) for i in range(40)]
    p = run.op_percentiles(vals)
    assert p["tail_pct"] == 75
    assert sum(v > p["tail_s"] for v in vals) >= 10
    assert run.op_percentiles(vals[:19])["tail_s"] is None
