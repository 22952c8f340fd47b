"""Config-driven table-sync job — the reference's end-to-end lifecycle
(SURVEY.md §3.2), runnable as a module:

    python -m hdc_dataengineering_sqlsync_spark.sync_job --config job.json

Config (JSON)::

    {
      "state_path": "/path/state.json",
      "tables": [
        {"name": "orders",
         "pk": ["o_orderkey"],
         "source_path": "/src/orders.parquet",
         "target_path": "/tgt/orders.parquet",
         "version_col": null}
      ]
    }

Per table the job: recovers what an interrupted swap left behind, reads
source, drift-checks its schema against the target, loads the last sync
watermark, pulls either the full snapshot or (when ``version_col`` is set and
state exists) only rows past the watermark, writes the new target to a
staging directory, swaps it into place, and persists the new watermark.
Exactly the change-tracking sync loop of an MS-SQL CHANGETABLE-based utility,
re-expressed over parquet + Spark; the JDBC transport (sources/jdbc.py) slots
in at the read/write boundary when a database is reachable.

A snapshot sync is one pass. The PK diff (operators/diff.py) emits every
source row as I, U or =, and every target-only key as D, so its non-D rows are
the new target: the job writes them straight from the diff join to staging.
``observe()`` counts, during that same write, the source rows going into the
join and the I/U/D and written rows coming out of it. The sync validates
before the swap: a full outer join emits each source row at least once, so
``rows_written == source_rows`` holds exactly when every source row was
written once, i.e. the staged table equals the source as a multiset. When it
fails (a declared PK that repeats in the target multiplies rows), the staging
directory is deleted and the old target stays as it was.

Scale notes: a snapshot sync scans source and target once each, with one
PK-keyed shuffle; the counts and the validation ride that job as observed
metrics, with no re-scan of either table. The incremental path keeps the
changeset form (operators/merge.py: materialize once, anti-join + union),
whose cost scales with the delta. The directory swap (rename the old target
aside, move staging in, delete the old copy) is the local stand-in for a
table-format commit (Iceberg/Delta snapshot swap) on a real deployment.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hdc_dataengineering_sqlsync_spark.operators.diff import CHANGE_OP, snapshot_diff
from hdc_dataengineering_sqlsync_spark.operators.merge import (
    materialize_changeset,
    merge_apply,
)
from hdc_dataengineering_sqlsync_spark.operators.schema_drift import SchemaDrift, detect_drift
from hdc_dataengineering_sqlsync_spark.operators.state import StateStore, SyncState


@dataclass
class TableSyncConfig:
    name: str
    pk: list[str]
    source_path: str
    target_path: str
    version_col: str | None = None  # monotone change-version column for CDC pulls


@dataclass
class SyncReport:
    table: str
    mode: str  # "initial_copy" | "snapshot" | "incremental"
    op_counts: dict[str, int] = field(default_factory=dict)
    drift: SchemaDrift | None = None
    validated: bool = False
    new_version: int | None = None
    # snapshot validation: passes iff rows_written == source_rows
    source_rows: int | None = None
    rows_written: int | None = None


def _staging_path(target_path: str) -> str:
    return target_path.rstrip("/") + "__staging"


def _old_path(target_path: str) -> str:
    return target_path.rstrip("/") + "__old"


def _recover_swap(target_path: str) -> None:
    """Undo what a sync that died mid-swap left behind. An ``__old`` copy
    beside a missing target means it died between the two renames: the old
    target goes back. Beside a present target, it died after the new target
    moved in: the old copy goes. A ``__staging`` directory is a write that
    was never swapped in."""
    old, staging = _old_path(target_path), _staging_path(target_path)
    if os.path.exists(old):
        if os.path.exists(target_path):
            shutil.rmtree(old)
        else:
            os.replace(old, target_path)
    if os.path.exists(staging):
        shutil.rmtree(staging)


def _swap_in(staging: str, target_path: str) -> None:
    """Move a fully written staging directory into place: rename the old
    target aside, move staging in, then delete the old copy, so a complete
    table always exists under the target or the ``__old`` name. A failed
    move puts the old target back; a crash is undone by ``_recover_swap``."""
    old = _old_path(target_path)
    if os.path.exists(target_path):
        os.replace(target_path, old)
    try:
        os.replace(staging, target_path)
    except OSError:
        if os.path.exists(old):
            os.replace(old, target_path)
        raise
    if os.path.exists(old):
        shutil.rmtree(old)


def _atomic_swap_write(df: DataFrame, target_path: str) -> None:
    """Write df to a staging dir, then swap it into place. The merged plan
    reads the OLD target lazily, so writing over it in place would corrupt
    the input mid-scan; staging + swap is also what makes a crashed sync
    leave the previous target intact."""
    staging = _staging_path(target_path)
    df.write.mode("overwrite").parquet(staging)
    _swap_in(staging, target_path)


def _current_version(source: DataFrame, version_col: str) -> int:
    row = source.agg(F.max(F.col(version_col).cast("long")).alias("v")).collect()[0]
    return int(row["v"] if row["v"] is not None else 0)


def _snapshot_sync(
    cfg: TableSyncConfig, store: StateStore, source: DataFrame, target: DataFrame,
    new_version: int,
) -> SyncReport:
    """One pass: the diff join's non-D rows, in the target's column order,
    are written to staging, and the counts are observed during that write.
    Swap only if every source row was written exactly once."""
    read, diffed = Observation(), Observation()
    diff = snapshot_diff(
        source.observe(read, F.count(F.lit(1)).alias("rows")), target, pk=cfg.pk
    ).observe(
        diffed,
        *[F.count(F.when(F.col(CHANGE_OP) == op, 1)).alias(op) for op in "IUD"],
        F.count(F.when(F.col(CHANGE_OP) != "D", 1)).alias("written"),
    )
    staging = _staging_path(cfg.target_path)
    diff.where(F.col(CHANGE_OP) != "D").select(*target.columns).write.mode(
        "overwrite"
    ).parquet(staging)
    # Adaptive execution drops the source side of the join once it runs
    # empty, and its observation with it (``Observation.get`` then fails).
    # Reading the count as 0 is safe: the join writes every source row at
    # least once, so it validates only if it wrote no rows.
    source_rows, counts = dict(read._jo.getAsJava()).get("rows", 0), diffed.get
    validated = counts["written"] == source_rows
    if validated:
        _swap_in(staging, cfg.target_path)
        store.put(SyncState(cfg.name, new_version))
    else:
        shutil.rmtree(staging)
    return SyncReport(
        cfg.name, "snapshot", {op: counts[op] for op in "IUD" if counts[op]}, None,
        validated, new_version, source_rows, counts["written"],
    )


def sync_table(spark: SparkSession, cfg: TableSyncConfig, store: StateStore) -> SyncReport:
    _recover_swap(cfg.target_path)
    source = spark.read.parquet(cfg.source_path)
    state = store.get(cfg.name)
    new_version = _current_version(source, cfg.version_col) if cfg.version_col else (
        (state.last_version + 1) if state else 1
    )

    if not os.path.exists(cfg.target_path):
        # first run: full snapshot copy (the reference's initial sync)
        n = source.count()
        _atomic_swap_write(source, cfg.target_path)
        store.put(SyncState(cfg.name, new_version))
        return SyncReport(
            cfg.name, "initial_copy", {"I": n}, None, validated=True, new_version=new_version,
            source_rows=n,
        )

    target = spark.read.parquet(cfg.target_path)
    drift = detect_drift(source.schema, target.schema)
    if drift.is_drifted:
        # structural drift needs an operator decision (migrate vs fail);
        # report and stop rather than silently merging mismatched schemas
        return SyncReport(cfg.name, "snapshot", {}, drift, validated=False)

    if not (cfg.version_col and state is not None):
        return _snapshot_sync(cfg, store, source, target, new_version)

    # CDC pull: only rows whose change-version is past the watermark —
    # the CHANGETABLE(CHANGES ..., @last_version) analog. Deletes are
    # invisible to a pure version filter (as in real change tracking a
    # delete arrives as a tombstone row); periodic snapshot diffs catch
    # any residue.
    delta = source.where(F.col(cfg.version_col).cast("long") > state.last_version)
    changes = materialize_changeset(
        snapshot_diff(delta, target.join(delta.select(*cfg.pk), cfg.pk, "left_semi"),
                      pk=cfg.pk)
    )
    op_counts = {
        r["change_op"]: r["n"]
        for r in changes.groupBy("change_op").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    _atomic_swap_write(merge_apply(target, changes, pk=cfg.pk), cfg.target_path)
    # incremental: full validation deferred to the next snapshot diff
    store.put(SyncState(cfg.name, new_version))
    return SyncReport(cfg.name, "incremental", op_counts, None, True, new_version)


def run_sync(spark: SparkSession, config: dict) -> list[SyncReport]:
    store = StateStore(config["state_path"])
    return [
        sync_table(spark, TableSyncConfig(**tbl), store) for tbl in config["tables"]
    ]


def main() -> None:  # pragma: no cover - thin CLI shell over run_sync
    ap = argparse.ArgumentParser(description="Run a config-driven table sync")
    ap.add_argument("--config", required=True, help="path to job JSON")
    args = ap.parse_args()
    with open(args.config) as f:
        config = json.load(f)
    from hdc_dataengineering_sqlsync_spark.session import get_session

    spark = get_session(app_name="sync_job")
    for report in run_sync(spark, config):
        print(json.dumps(report.__dict__, default=lambda o: o.__dict__))


if __name__ == "__main__":  # pragma: no cover
    main()
