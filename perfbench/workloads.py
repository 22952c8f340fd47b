"""The benchmark's workloads.

Each workload is a closed loop with one client on ``local[nproc]``: the next
operation starts only after the previous one has returned. The program is
driven only through its public calls: ``sync_job.run_sync`` (timing each
``sync_table`` call it makes), ``CATALOG[qid].fn`` followed by ``collect()``,
and ``session.get_session`` (in ``run.py``). It receives only the files
``datagen`` writes.

A workload measures in *units*: a sync round (one ``run_sync`` over the
ten-table job) or a catalog pass (every catalog qid once). Each unit is made
of *ops*: one ``sync_table`` call or one query.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import duckdb
import pyarrow.dataset as pads

import datagen
from tracing import GroupStats, NullTracer, Tracer, exec_layer

from hdc_dataengineering_sqlsync_spark import sync_job
from hdc_dataengineering_sqlsync_spark.plans import CATALOG
from hdc_dataengineering_sqlsync_spark.testing import (
    compare_results,
    duckdb_connect,
    duckdb_result,
)


@dataclass
class Op:
    name: str  # table or qid
    seconds: float
    problems: list[str] = field(default_factory=list)


@dataclass
class Unit:
    index: int
    seconds: float
    ops: list[Op]
    counts: dict[str, float] = field(default_factory=dict)


def _multiset_diff(con, a: str, b: str, columns: list[str]) -> tuple[int, int]:
    """(rows of ``a`` missing from ``b``, rows of ``b`` not in ``a``), as
    multisets over ``columns`` by name, in DuckDB."""
    cols = ", ".join(f'"{c}"' for c in sorted(columns))
    return tuple(
        con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM read_parquet('{x}') "
            f"EXCEPT ALL SELECT {cols} FROM read_parquet('{y}'))"
        ).fetchone()[0]
        for x, y in ((a, b), (b, a))
    )


def _mean(rows: list[dict[str, float]]) -> dict[str, float]:
    return {k: sum(r[k] for r in rows) / len(rows) for k in rows[0]} if rows else {}


class SyncSnapshot:
    """``run_sync`` over all ten tables, keyed on the registry's primary keys,
    with no ``version_col``. Each round syncs a fresh source (base tables plus
    that round's seeded changeset) into the target as a previous sync left
    it; the untimed restore before each round keeps every round doing the
    same work."""

    name = "sync_snapshot"
    sf = 0.01
    unit_name = "round"
    # one round, as the sync CLI runs one run_sync per session
    min_units = 1
    warmup_unit = False
    # the module-level callables sync_table calls, spanned in traced runs
    SPANNED = ("detect_drift", "materialize_changeset", "merge_apply", "_atomic_swap_write")

    # scale factor of the untimed declared-key probe in ``finish``
    PROBE_SF = 0.001

    def __init__(self, work: str, seed: int) -> None:
        self.seed = seed
        self.work = work
        self.src = os.path.join(work, "source")
        self.tgt = os.path.join(work, "target")
        self.replica = os.path.join(work, "replica")
        self.config = {
            "state_path": os.path.join(work, "state.json"),
            "tables": [
                {"name": t, "pk": list(datagen.KEYS[t]),
                 "source_path": os.path.join(self.src, f"{t}.parquet"),
                 "target_path": os.path.join(self.tgt, t), "version_col": None}
                for t in datagen.TABLES
            ],
        }
        self.base: dict = {}

    def prepare(self) -> None:
        """Generate the base tables and the base replica of the target."""
        self.base = datagen.base_tables(self.sf)
        shutil.rmtree(self.replica, ignore_errors=True)
        for t, tb in self.base.items():
            datagen.write(tb, os.path.join(self.replica, t, "part-00000.parquet"))

    def _reset(self, round_no: int) -> None:
        for t, tb in self.base.items():
            src, _ = datagen.round_source(tb, t, self.sf, self.seed, round_no)
            datagen.write(src, os.path.join(self.src, f"{t}.parquet"))
        shutil.rmtree(self.tgt, ignore_errors=True)
        shutil.copytree(self.replica, self.tgt)
        if os.path.exists(self.config["state_path"]):
            os.remove(self.config["state_path"])

    def warmup(self, spark) -> None:
        self._reset(0)
        orders = [c for c in self.config["tables"] if c["name"] == "orders"]
        sync_job.run_sync(spark, {**self.config, "tables": orders})

    def run_unit(self, spark, round_no: int, tracer=NullTracer()) -> Unit:
        self._reset(round_no)  # untimed
        ops: list[Op] = []
        reports: dict = {}
        inner = sync_job.sync_table

        def timed(spark_, cfg, store):
            tracer.set_group(spark_, f"sync:{cfg.name}:{round_no}")
            with tracer.span("sync_table"):
                t0 = time.perf_counter()
                try:
                    report = inner(spark_, cfg, store)
                finally:
                    ops.append(Op(cfg.name, time.perf_counter() - t0))
            reports[cfg.name] = report
            return report

        sync_job.sync_table = timed
        try:
            with tracer.patched(sync_job, self.SPANNED):
                t0 = time.perf_counter()
                try:
                    sync_job.run_sync(spark, self.config)
                except Exception as exc:  # noqa: BLE001 - the op counts as failed
                    if not ops:
                        ops.append(Op("run_sync", time.perf_counter() - t0))
                    ops[-1].problems.append(f"raised {exc!r}"[:300])
                seconds = time.perf_counter() - t0
        finally:
            sync_job.sync_table = inner
        unit = Unit(round_no, seconds, ops)
        self._check(unit, reports)  # untimed
        return unit

    def _check(self, unit: Unit, reports: dict) -> None:
        """Compare each target with its source as multisets, by column name,
        in DuckDB; a report that did not validate fails too. Also counts the
        rows and bytes each target holds after the sync."""
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        rows = size = 0
        for op in unit.ops:
            if op.problems:
                continue
            t = op.name
            src = os.path.join(self.src, f"{t}.parquet")
            tgt = os.path.join(self.tgt, t, "*.parquet")
            missing, extra = _multiset_diff(con, src, tgt, self.base[t].column_names)
            if missing or extra:
                op.problems.append(f"target differs from source: {missing} source rows "
                                   f"missing, {extra} extra rows")
            if not reports[t].validated:
                op.problems.append("SyncReport.validated is False")
            ds = pads.dataset(os.path.join(self.tgt, t), format="parquet")
            rows += sum(f.metadata.num_rows for f in ds.get_fragments())
            size += sum(os.path.getsize(f) for f in ds.files)
        con.close()
        changed = sum(sum(r.op_counts.values()) for r in reports.values())
        unit.counts = {
            "sync.changed_rows": float(changed),
            "sync.rows_written": float(rows),
            "sync.write_amp": rows / changed if changed else 0.0,
            "sync.bytes_written_mb": size / 2**20,
        }

    def finish(self, spark, units: list[Unit]) -> dict:
        """Rounds are checked as they finish (the next round restores the
        target). What is left is the declared-key probe, untimed and outside
        the measured ops: one snapshot sync of a ``lineitem`` whose declared
        key repeats as in the testdata. The sync assumes a unique key, and on
        this input it leaves a target that differs from its source; the
        report carries the difference so the defect stays in view."""
        base = datagen.lineitem_with_testdata_keys(self.PROBE_SF)
        src, _ = datagen.round_source(base, "lineitem", self.PROBE_SF, self.seed, 1)
        d = os.path.join(self.work, "probe")
        cfg = {"name": "lineitem", "pk": list(datagen.KEYS["lineitem"]),
               "source_path": os.path.join(d, "lineitem.parquet"),
               "target_path": os.path.join(d, "target"), "version_col": None}
        datagen.write(src, cfg["source_path"])
        datagen.write(base, os.path.join(cfg["target_path"], "part-00000.parquet"))
        report = sync_job.run_sync(
            spark, {"state_path": os.path.join(d, "state.json"), "tables": [cfg]})[0]
        con = duckdb.connect()
        missing, extra = _multiset_diff(con, cfg["source_path"],
                                        os.path.join(cfg["target_path"], "*.parquet"),
                                        src.column_names)
        distinct = con.execute(
            f"SELECT count(DISTINCT (l_orderkey, l_linenumber)) "
            f"FROM read_parquet('{cfg['source_path']}')").fetchone()[0]
        con.close()
        return {"declared_key_probe": {
            "table": "lineitem", "source_rows": src.num_rows,
            "distinct_keys": distinct, "missing_rows": missing, "extra_rows": extra,
            "validated": report.validated, "target_matches_source": not (missing or extra),
        }}

    def layers(self, units: list[Unit], stats: dict[str, GroupStats],
               tracer: Tracer) -> dict[str, float]:
        """Per-round layer metrics. Phase wall times of each table sync come
        from the spans around the callables it makes: diff, from the end of
        the drift check to the start of the merge (this holds the op-count
        collect, where the diff executes); write, the atomic swap write
        (which executes the merge); validation, from the end of the write to
        the end of the sync."""
        per_round = []
        for u in units:
            ph = {"sync.diff_s": 0.0, "sync.write_s": 0.0, "sync.validate_s": 0.0}
            for t in datagen.TABLES:
                by: dict[str, list] = {}
                for s in tracer.in_group(f"sync:{t}:{u.index}"):
                    by.setdefault(s.name, []).append(s)
                if "merge_apply" in by and "_atomic_swap_write" in by:
                    ph["sync.diff_s"] += by["merge_apply"][0].start - by["detect_drift"][0].end
                    ph["sync.write_s"] += by["_atomic_swap_write"][0].seconds
                    ph["sync.validate_s"] += (by["sync_table"][0].end
                                              - by["_atomic_swap_write"][0].end)
            ph["trace.unattributed_s"] = u.seconds - sum(ph.values())
            per_round.append({**ph, **u.counts})
        groups = [g for name, g in stats.items() if name.startswith("sync:")]
        out = {**_mean(per_round), **exec_layer(groups, len(units))}
        out["sync.jobs"] = out["exec.jobs"]
        return out


# The catalog workload's queries: bench qids that between them exercise every
# layer the benchmark traces, with a pass short enough for several passes per
# run (see perfbench/README.md).
CATALOG_QIDS = (
    "graph_pagerank",         # eager localCheckpoint jobs inside fn()
    "text_token_count_bpe",   # Python UDF workers
    "multimodal_decode_png",  # Arrow UDF workers
    "win_range_frame",        # driver materialization dominated
    "join_multiway_chain",    # Catalyst: multi-way join
    "sync_snapshot_diff",     # the diff operator, through the catalog
    "agg_rollup",
    "sort_limit_topk",
)


class Catalog:
    """``CATALOG[qid].fn(spark, data_dir)`` then ``collect()`` for each
    catalog qid, in a seeded order per pass, over the generated tables."""

    name = "catalog"
    sf = 0.001
    unit_name = "pass"
    min_units = 2
    # the first pass after set-up pays each qid's first run; it is checked
    # but not timed
    warmup_unit = True
    # starts the Python workers, the costliest cold path of a fresh session
    WARMUP_QID = "text_token_count_bpe"

    def __init__(self, work: str, seed: int) -> None:
        self.seed = seed
        self.data = os.path.join(work, "tables")
        self.results: dict[str, list[tuple[list[str], list[tuple]]]] = {}
        self.traced: dict[str, dict[str, float]] = {}

    def prepare(self) -> None:
        for t, tb in datagen.base_tables(self.sf).items():
            datagen.write(tb, os.path.join(self.data, f"{t}.parquet"))

    def warmup(self, spark) -> None:
        CATALOG[self.WARMUP_QID].fn(spark, self.data).collect()

    def run_unit(self, spark, pass_no: int, tracer=NullTracer()) -> Unit:
        ops: list[Op] = []
        for qid in datagen.query_order(list(CATALOG_QIDS), self.seed, pass_no):
            fn = CATALOG[qid].fn
            group = f"q:{qid}:{pass_no}"
            try:
                tracer.set_group(spark, group + ":build")
                t0 = time.perf_counter()
                df = fn(spark, self.data)
                build_s = time.perf_counter() - t0
                tracer.set_group(spark, group + ":run")
                t0 = time.perf_counter()
                rows = df.collect()
                collect_s = time.perf_counter() - t0
            except Exception as exc:  # noqa: BLE001 - the op counts as failed
                ops.append(Op(qid, 0.0, [f"raised {exc!r}"[:300]]))
                continue
            ops.append(Op(qid, build_s + collect_s))
            self.results.setdefault(qid, []).append((list(df.columns), [tuple(r) for r in rows]))
            if tracer.enabled:
                self.traced[group] = self._trace_query(spark, tracer, fn, df, group,
                                                       build_s, collect_s, len(rows))
        return Unit(pass_no, sum(op.seconds for op in ops), ops)

    def _trace_query(self, spark, tracer, fn, df, group, build_s, collect_s, n_rows):
        phases = df._jdf.queryExecution().tracker().phases()
        out = {"plans.build_s": build_s, "collect_s": collect_s, "driver.rows": float(n_rows)}
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            out[f"catalyst.{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        # compute-only timing: the same plan into the noop sink, no driver rows
        tracer.set_group(spark, group + ":noop")
        sink = fn(spark, self.data).write.format("noop").mode("overwrite")
        t0 = time.perf_counter()
        sink.save()
        out["exec.noop_s"] = time.perf_counter() - t0
        return out

    def finish(self, spark, units: list[Unit]) -> dict:
        """Compare every collected result with its qid's DuckDB oracle."""
        con = duckdb_connect(self.data)
        oracle: dict[str, tuple] = {}
        seen: dict[str, int] = {}
        for op in (op for u in units for op in u.ops if not op.problems):
            if op.name not in oracle:
                cols, rows, _ = duckdb_result(con, CATALOG[op.name].oracle)
                oracle[op.name] = (cols, rows)
            i = seen.get(op.name, 0)
            seen[op.name] = i + 1
            op.problems += compare_results(*self.results[op.name][i], *oracle[op.name])
        con.close()
        return {}

    def layers(self, units: list[Unit], stats: dict[str, GroupStats],
               tracer: Tracer) -> dict[str, float]:
        """Per-pass layer metrics. A query's wall is its build plus its
        collect; the collect is Catalyst optimization and planning, the
        jobs it runs, and driver materialization (collect minus the noop
        run). What the spans leave over is ``trace.unattributed_s``."""
        per_pass = []
        for u in units:
            qs = [self.traced[f"q:{op.name}:{u.index}"] for op in u.ops if not op.problems]
            tot = {k: sum(q[k] for q in qs) for k in qs[0]}
            tot["driver.materialize_s"] = tot.pop("collect_s") - tot["exec.noop_s"]
            per_pass.append(tot)

        def groups(kind: str) -> list[GroupStats]:
            return [g for name, g in stats.items()
                    if name.startswith("q:") and name.endswith(kind)]

        out = {**_mean(per_pass), **exec_layer(groups(":build") + groups(":run"), len(units))}
        out["plans.build_jobs"] = sum(g.jobs for g in groups(":build")) / len(units)
        run_wall = sum(g.job_wall_ms for g in groups(":run")) / 1e3 / len(units)
        out["trace.unattributed_s"] = (
            sum(u.seconds for u in units) / len(units) - out["plans.build_s"]
            - (out["catalyst.optimization_ms"] + out["catalyst.planning_ms"]) / 1e3
            - run_wall - out["driver.materialize_s"]
        )
        return out


WORKLOADS = {w.name: w for w in (SyncSnapshot, Catalog)}
