"""Orchestration-level dataflow (SURVEY §2.12) — the reference's DAG
semantics as plain driver-side Python over Spark actions.

The reference coordinates its engine work with Airflow + Step
Functions: a parallel fan-out with a sync barrier
(`start >> [trigger_airbnb, run_glue_311]` then joined downstream,
`src/311/nyc_hybrid_etl_pipeline.py:403-408`), sensor-polled external
stages (Step Function status polling, `nyc_hybrid_etl_pipeline.py:
361-368`; stage list `README.md:94-97`), per-task retries
(`nyc_ingestion_dag.py:134-136`) and idempotent skip-if-exists
(`nyc_ingestion_dag.py:25-30` → sources.catalog.ingest_if_absent).
This module supplies the two pieces the engine didn't already have —
the fan-out/sync barrier and the sensor — WITHOUT importing a
scheduler: tasks are callables, dependencies are names, and parallel
waves run on driver threads.

Why threads are the right fan-out primitive here: a Spark driver may
submit jobs from many threads concurrently and the cluster interleaves
their stages (optionally under fair-scheduler pools —
``spark.scheduler.mode=FAIR`` — so a long wave-mate can't starve a
short one). The DAG below is therefore REAL parallelism for the
cluster: two loads in the same wave have their scan/shuffle stages
co-scheduled, exactly like the reference's parallel Airflow branches.
Everything stays deterministic from the caller's view: results are
keyed by task name, and a wave completes (barrier) before the next
starts.

Failure semantics mirror Airflow's defaults: a task exhausts its
retries → FAILED; everything transitively downstream is marked
UPSTREAM_FAILED and never runs; independent branches keep going.
``skip_if`` reproduces the skip-if-S3-key-exists short-circuit —
a skipped task counts as satisfied (downstream runs, sees None).
"""

from __future__ import annotations

import time as _time
from collections.abc import Callable, Mapping
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any


class SensorTimeout(TimeoutError):
    """Raised when wait_for exhausts its timeout without the probe
    turning true (the Step-Function-sensor failure mode)."""


def wait_for(
    probe: Callable[[], bool],
    timeout_s: float,
    poke_interval_s: float = 30.0,
    sleep: Callable[[float], None] = _time.sleep,
    clock: Callable[[], float] = _time.monotonic,
) -> int:
    """Sensor: poll ``probe`` every ``poke_interval_s`` until it returns
    True or ``timeout_s`` elapses (then :class:`SensorTimeout`).
    Returns the number of pokes it took. ``sleep``/``clock`` are
    injectable so tests run in virtual time — the production defaults
    are the real clock, mirroring the reference's Step Function status
    loop (`nyc_hybrid_etl_pipeline.py:361-368`)."""
    start = clock()
    pokes = 0
    while True:
        pokes += 1
        if probe():
            return pokes
        if clock() - start >= timeout_s:
            raise SensorTimeout(
                f"sensor: probe still false after {timeout_s}s ({pokes} pokes)"
            )
        sleep(poke_interval_s)


@dataclass
class DagTask:
    """One node: ``fn(upstream_results)`` runs when every name in
    ``upstream`` has succeeded (or been skipped). ``retries`` counts
    re-attempts after the first try with ``retry_delay_s * backoff**i``
    pauses (Airflow ``retries=2, retry_delay=60s`` semantics —
    `nyc_ingestion_dag.py:134-136`). ``skip_if()`` true short-circuits
    the task entirely (K8 idempotent skip). Each attempt runs in a
    ``pin_scope``: its pins are released when it returns or raises, so
    ``fn`` hands downstream values (row counts), never frames over them."""

    name: str
    fn: Callable[[Mapping[str, Any]], Any]
    upstream: list[str] = field(default_factory=list)
    retries: int = 0
    retry_delay_s: float = 0.0
    backoff: float = 1.0
    skip_if: Callable[[], bool] | None = None


@dataclass
class TaskResult:
    state: str  # SUCCESS | SKIPPED | FAILED | UPSTREAM_FAILED
    value: Any = None
    error: BaseException | None = None
    attempts: int = 0
    wave: int = -1


def _waves(tasks: list[DagTask]) -> list[list[DagTask]]:
    """Topological waves (Kahn): wave N holds every task whose
    dependencies all sit in waves < N — the fan-out groups; the wave
    boundary is the sync barrier."""
    by_name = {t.name: t for t in tasks}
    if len(by_name) != len(tasks):
        raise ValueError("dag: duplicate task names")
    for t in tasks:
        for u in t.upstream:
            if u not in by_name:
                raise ValueError(f"dag: task {t.name!r} depends on unknown {u!r}")
    placed: dict[str, int] = {}
    waves: list[list[DagTask]] = []
    remaining = list(tasks)
    while remaining:
        ready = [t for t in remaining if all(u in placed for u in t.upstream)]
        if not ready:
            cyc = ", ".join(sorted(t.name for t in remaining))
            raise ValueError(f"dag: cycle among tasks: {cyc}")
        for t in ready:
            placed[t.name] = len(waves)
        waves.append(ready)
        remaining = [t for t in remaining if t.name not in placed]
    return waves


def _run_one(
    task: DagTask,
    upstream_results: Mapping[str, Any],
    sleep: Callable[[float], None],
) -> TaskResult:
    if task.skip_if is not None and task.skip_if():
        return TaskResult(state="SKIPPED", attempts=0)
    from ..pin import pin_scope

    # Airflow task-retry parity (`nyc_ingestion_dag.py:135-136`): bounded
    # re-attempts, each after a delay; backoff=1.0 is Airflow's fixed delay.
    for attempt in range(task.retries + 1):
        if attempt:
            sleep(task.retry_delay_s * task.backoff ** (attempt - 1))
        try:
            with pin_scope():
                value = task.fn(upstream_results)
            return TaskResult(state="SUCCESS", value=value, attempts=attempt + 1)
        except Exception as e:  # noqa: BLE001 — task boundary
            last = e
    return TaskResult(state="FAILED", error=last, attempts=task.retries + 1)


def run_dag(
    tasks: list[DagTask],
    max_parallel: int | None = None,
    sleep: Callable[[float], None] = _time.sleep,
) -> dict[str, TaskResult]:
    """Execute the DAG wave-by-wave; tasks inside a wave run
    CONCURRENTLY on driver threads (the `start >> [a, b]` fan-out) and
    the wave boundary is the sync barrier. Returns every task's
    :class:`TaskResult`, including UPSTREAM_FAILED nodes that never
    ran. Never raises for task failures — orchestration outcome is
    data, as in the reference's DAG run view; programming errors
    (cycles, unknown deps) raise immediately."""
    waves = _waves(tasks)
    results: dict[str, TaskResult] = {}
    for wave_idx, wave in enumerate(waves):
        runnable: list[DagTask] = []
        for t in wave:
            bad = [
                u for u in t.upstream
                if results[u].state in ("FAILED", "UPSTREAM_FAILED")
            ]
            if bad:
                results[t.name] = TaskResult(state="UPSTREAM_FAILED", wave=wave_idx)
            else:
                runnable.append(t)
        if not runnable:
            continue
        inputs = {
            t.name: {u: results[u].value for u in t.upstream} for t in runnable
        }
        with ThreadPoolExecutor(
            max_workers=max_parallel or max(len(runnable), 1),
            thread_name_prefix="dag-wave",
        ) as pool:
            futs = {
                t.name: pool.submit(_run_one, t, inputs[t.name], sleep)
                for t in runnable
            }
            for name, fut in futs.items():
                res = fut.result()
                res.wave = wave_idx
                results[name] = res
    return results
