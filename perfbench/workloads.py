"""The benchmark's workloads. Each is a closed loop driven by one client
thread: ``run.py`` calls ``prepare`` once (inside ``setup_s``), then
``run_op`` for every op of each seed-shuffled round, and ``verify`` once
after the timed window (untimed).

``run_op`` returns ``("rows", (columns, rows))`` for results consumed by
``collect`` or ``("fp", fingerprint)`` for results consumed
executor-side; ``run.py`` fingerprints collected rows outside the timer.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

from checks import rows_fingerprint, spark_fingerprint

# Results with one row per entity are consumed executor-side (bench.py's
# hash-consume rule); everything else is collected.
_HASH_CONSUMED = {"op_topk_orders_per_customer", "text_token_features", "dedup_lsh_pairs"}


def _consume(tracer, df, name: str):
    with tracer.span("plans.analyze"):
        df.schema
    with tracer.span("exec.action"):
        if name in _HASH_CONSUMED:
            return "fp", spark_fingerprint(df)
        return "rows", (df.columns, df.collect())


class Oracle:
    """DuckDB result fingerprints over the run's input tables, kept on
    disk under ``cache_dir`` keyed by the input bytes and the SQL, so
    later runs on the same inputs do not recompute them."""

    def __init__(self, sf_dir: str, cache_dir: Path) -> None:
        from gen import TABLES

        self.sf_dir, self.cache_dir = sf_dir, cache_dir
        h = hashlib.sha256()
        for t in TABLES:
            h.update(Path(sf_dir, f"{t}.parquet").read_bytes())
        self.key = h.hexdigest()
        self._con = None

    def _connect(self):
        if self._con is None:
            import duckdb

            from gen import TABLES

            self._con = duckdb.connect()
            for t in TABLES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
        return self._con

    def fingerprint(self, sql: str) -> tuple[int, str]:
        path = self.cache_dir / f"{hashlib.sha256((self.key + sql).encode()).hexdigest()}.json"
        if path.exists():
            return tuple(json.loads(path.read_text()))
        cur = self._connect().execute(sql)
        fp = rows_fingerprint([d[0] for d in cur.description], cur.fetchall())
        self.cache_dir.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(fp))
        return fp

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


def storage_mb(spark) -> float:
    """Spark storage (memory + disk) held by persisted RDDs, in MB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def _dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


class Workload:
    """Hooks ``run.py`` calls; the defaults do nothing."""

    name: str
    ops: list[str]
    expected_policy: str | None = None
    base_sf = 0.1  # input scale factor unless --sf is given
    # One round runs every op once; a run measures
    # max(1, seconds // round_budget_s) whole rounds.
    round_budget_s: float
    # JIT warm-up in setup: bench.py's (materialize_warehouse at sf0.001)
    # and/or one untimed round of every op on the run's inputs
    star_warmup = True
    warm_round = False

    def prepare(self, ctx) -> None:
        pass

    def before_op(self, ctx, name: str) -> None:
        pass

    def after_op(self, ctx, name: str) -> None:
        pass

    def verify(self, ctx) -> None:
        pass


class StarQueries(Workload):
    """Read-heavy: a fixed mix of 15 analysis queries over the sf0.1
    warehouse, cached once in setup under the ``cache`` policy."""

    name = "star_queries"
    expected_policy = "cache"
    ops = [
        "g01_complaints_by_borough_pct", "g02_top_complaint_types",
        "g03_agency_resolution", "g04_price_stats_by_borough",
        "g05_room_type_price", "g06_neighbourhood_revenue",
        "g07_airbnb_complaint_ratio", "g08_geohash_density",
        "g09_quarterly_trend", "g10_weekend_weekday",
        "op_q1_pricing_summary", "op_topk_orders_per_customer",
        "op_geohash_merge_rollup", "op_sessionize_events",
        "op_events_tumbling_window",
    ]
    # One round takes 13-20 s on 4 cores. It runs cold: the sf0.1 build
    # in setup is the only warm-up. bench.py's sf0.001 warm-up plus an
    # untimed round added about 25 s to every run and did not steady
    # ops_per_s, and the run budget has no room for them.
    round_budget_s = 10
    star_warmup = False

    def prepare(self, ctx) -> None:
        from adi_226_datawarehouse_project_spark.model.star import materialize_warehouse

        with ctx.tracer.span("star.build"):
            materialize_warehouse(ctx.spark, ctx.sf_dir)
        ctx.layer["star.cache_mb"] = storage_mb(ctx.spark)

    def run_op(self, ctx, name: str):
        with ctx.tracer.span("plans.build"):
            df = ctx.queries[name](ctx.spark, ctx.sf_dir)
        return _consume(ctx.tracer, df, name)

    def verify(self, ctx) -> None:
        """Compare each query's result with DuckDB running its
        ``oracle_sql()`` entry (the goldens' entries inline the star
        chain). A type consumed executor-side is re-run untimed: its
        collected rows are compared with DuckDB and its executor-side
        fingerprint with the timed ops' one, so both checks bear on the
        same result."""
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        oracle = Oracle(ctx.sf_dir, ctx.oracle_cache)
        for name in self.ops:
            if name not in oracles:
                ctx.checker.notes.setdefault(name, "no registry oracle; ops agree")
                continue
            want = oracle.fingerprint(oracles[name])
            got = None
            if name in _HASH_CONSUMED:
                df = ctx.queries[name](ctx.spark, ctx.sf_dir)
                if not ctx.checker.expect(name, ctx.checker.reference.get(name), "timed ops",
                                          got=spark_fingerprint(df)):
                    continue
                got = rows_fingerprint(df.columns, df.collect())
            ctx.checker.expect(name, want, "duckdb", got=got)
        oracle.close()


class TextDedup(Workload):
    """Text and vector operators over sf0.1 ``documents``/``embeddings``;
    every op runs cold with respect to its own persists."""

    name = "text_dedup"
    ops = [
        "dedup_lsh_pairs", "dedup_ngram_jaccard", "dedup_ngram_prefix",
        "sim_cosine_topk", "text_token_features",
    ]
    # One round takes 12-16 s on 4 cores once warm. A cold first round
    # took up to twice as long and spread ops_per_s by about 20%, so an
    # untimed round on the run's own inputs runs in setup (one on the
    # sf0.001 inputs left ops_per_s spread by 24%).
    # bench.py's warm-up runs none of these code paths and is skipped.
    round_budget_s = 10
    star_warmup, warm_round = False, True
    # bench form → registry oracle it must match (both n-gram join
    # strategies return the registry entry's pairs)
    oracle_of = {
        "dedup_ngram_jaccard": "dedup_ngram_jaccard",
        "dedup_ngram_prefix": "dedup_ngram_jaccard",
        "sim_cosine_topk": "sim_cosine_topk",
    }

    def _persisted(self, ctx):
        jvm = ctx.spark.sparkContext._jvm
        rdds = set(ctx.spark.sparkContext._jsc.getPersistentRDDs().keySet())
        data = ctx.spark._jsparkSession.sharedState().cacheManager().cachedData()
        entries = {
            jvm.System.identityHashCode(data.apply(i)): data.apply(i)
            for i in range(data.length())
        }
        return rdds, entries

    def before_op(self, ctx, name: str) -> None:
        self._snapshot = self._persisted(ctx)

    def run_op(self, ctx, name: str):
        with ctx.tracer.span("plans.build"):
            df = ctx.queries[name](ctx.spark, ctx.sf_dir)
        kind, out = _consume(ctx.tracer, df, name)
        ctx.rows_out[name] = out[0] if kind == "fp" else len(out[1])
        return kind, out

    def after_op(self, ctx, name: str) -> None:
        """Release what the op left persisted: its cached-plan entries
        (``uncacheQuery``, so a later op cannot hit them) and any other
        persistent RDD (localCheckpoints). The star cache predates the
        snapshot and is left alone."""
        rdds0, entries0 = self._snapshot
        rdds1, entries1 = self._persisted(ctx)
        leaked = len(rdds1 - rdds0)
        with ctx.tracer.span("cache.release"):
            jsession = ctx.spark._jsparkSession
            cm = jsession.sharedState().cacheManager()
            for key, cd in entries1.items():
                if key not in entries0:
                    cm.uncacheQuery(jsession, cd.plan(), False, True)
            live = ctx.spark.sparkContext._jsc.getPersistentRDDs()
            for rid in set(live.keySet()) - rdds0:
                live.get(rid).unpersist(True)
        ctx.leaked.setdefault(name, []).append(leaked)

    def verify(self, ctx) -> None:
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        oracle = Oracle(ctx.sf_dir, ctx.oracle_cache)
        for name in self.ops:
            src = self.oracle_of.get(name)
            if src is None or src not in oracles:
                ctx.checker.notes.setdefault(name, "no registry oracle; ops agree")
                continue
            ctx.checker.expect(name, oracle.fingerprint(oracles[src]), f"duckdb {src}")
        oracle.close()


class WarehouseLoad(Workload):
    """Write-heavy: reset the warehouse, rebuild the parquet zone, and
    publish the medallion pipeline into a fresh directory, per op."""

    name = "warehouse_load"
    expected_policy = "parquet"
    # replicated in setup (run.py) to the smallest multiple ≥ 4 that the
    # engine's auto policy will not cache under the workload's heap
    base_sf = 0.05
    ops = ["warehouse_load"]
    round_budget_s = 10

    def prepare(self, ctx) -> None:
        self._out: str | None = None
        self._rows: dict[str, int] | None = None

    def before_op(self, ctx, name: str) -> None:
        from adi_226_datawarehouse_project_spark.model import star

        star._REGISTERED.pop(id(ctx.spark), None)
        ctx.spark.catalog.clearCache()
        if self._out is not None:
            shutil.rmtree(self._out, ignore_errors=True)
        self._out = str(ctx.work / "pipeline" / f"op{len(ctx.latencies)}")

    def run_op(self, ctx, name: str):
        from adi_226_datawarehouse_project_spark.model.star import materialize_warehouse
        from adi_226_datawarehouse_project_spark.pipelines.warehouse_pipeline import (
            run_warehouse_pipeline,
        )

        with ctx.tracer.span("star.build"):
            materialize_warehouse(ctx.spark, ctx.sf_dir)
        with ctx.tracer.span("pipeline.publish"):
            res = run_warehouse_pipeline(ctx.spark, ctx.sf_dir, self._out, force=True)
        bad = {k: r.state for k, r in res.items() if r.state != "SUCCESS"}
        if bad:
            raise RuntimeError(f"DAG tasks not SUCCESS: {bad}")
        rows = {k: r.value for k, r in res.items() if isinstance(r.value, int)}
        self._rows = rows
        ctx.layer["pipeline.rows_written"] = sum(
            v for k, v in rows.items() if k not in ("validate_staging", "manifest")
        )
        ctx.layer["pipeline.task_attempts"] = sum(r.attempts for r in res.values())
        ctx.layer["pipeline.tasks_failed"] = len(bad)
        return "fp", tuple(sorted(rows.items()))

    def after_op(self, ctx, name: str) -> None:
        from adi_226_datawarehouse_project_spark.model.star import _zone_dir

        ctx.layer["star.zone_mb"] = _dir_mb(_zone_dir(ctx.sf_dir))
        ctx.layer["pipeline.bytes_written_mb"] = _dir_mb(self._out)

    def verify(self, ctx) -> None:
        """Read the last op's written zone back once and compare counts
        with the rows its tasks reported."""
        if self._rows is None:
            return
        counts = {}
        for zone in ("staging", "warehouse", "gold"):
            base = os.path.join(self._out, zone)
            for t in sorted(os.listdir(base)):
                key = t if zone != "gold" else f"gold_{t}"
                counts[key] = ctx.spark.read.parquet(os.path.join(base, t)).count()
        want = {k: v for k, v in self._rows.items() if k in counts}
        ctx.checker.expect(
            "warehouse_load", tuple(sorted(want.items())), "read-back count",
            got=tuple(sorted(counts.items())),
        )


WORKLOADS = {w.name: w for w in (StarQueries, TextDedup, WarehouseLoad)}
