"""Streaming dedup (dropDuplicatesWithinWatermark): stream/batch key
equivalence, including duplicates arriving in later micro-batches."""

from __future__ import annotations

import shutil
from pathlib import Path

from adi_226_datawarehouse_project_spark.sources.catalog import load_table
from adi_226_datawarehouse_project_spark.streaming.dedup_stream import (
    DEDUP_KEYS,
    dedup_key_summary,
    run_dedup_stream_once,
)


def _key_set(df):
    return {tuple(r) for r in df.select(*DEDUP_KEYS).collect()}


def test_stream_matches_batch_key_set(spark, sf_dir):
    batch = load_table(spark, sf_dir, "events").dropDuplicates(DEDUP_KEYS)
    streamed = run_dedup_stream_once(spark, sf_dir)
    assert _key_set(streamed) == _key_set(batch)
    # streaming must emit exactly one row per key (no dup survivors)
    assert streamed.count() == len(_key_set(streamed))


def test_cross_microbatch_duplicates_dropped(spark, sf_dir, tmp_path):
    """Replay the same events file as a SECOND micro-batch: every key
    in batch 2 is a duplicate of batch 1 and must be dropped — the
    stateful case a per-batch distinct cannot handle."""
    d = tmp_path / "stream_src"
    d.mkdir()
    src = Path(sf_dir) / "events.parquet"
    shutil.copy(src, d / "events.parquet")
    shutil.copy(src, d / "events_replay.parquet")
    streamed = run_dedup_stream_once(
        spark,
        str(d),
        maxFilesPerTrigger="1",
        pathGlobFilter="*.parquet",
    )
    batch_once = load_table(spark, sf_dir, "events").dropDuplicates(DEDUP_KEYS)
    assert _key_set(streamed) == _key_set(batch_once)
    assert streamed.count() == batch_once.count()


def test_key_summary_is_survivor_invariant(spark, sf_dir):
    """The declared contract (per-type key counts + uid checksum) is
    identical however dropDuplicates breaks per-key ties: compare the
    operator's summary against distinct-keys-only derivation."""
    ev = load_table(spark, sf_dir, "events")
    a = dedup_key_summary(ev.dropDuplicates(DEDUP_KEYS)).collect()
    b = dedup_key_summary(ev.select(*DEDUP_KEYS).distinct()).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_key_reappearing_past_watermark_horizon_reemits(spark, tmp_path):
    """The bounded-state trade-off pinned EMPIRICALLY (r13):
    dropDuplicatesWithinWatermark holds a key's state only within the
    watermark horizon, so the SAME key reappearing far past it is
    re-emitted — streaming dedup of an unbounded source is
    exactly-once only within the horizon, at-least-once across it.
    Two boundary details the test pins:

    - state eviction happens at END of batch under the two-watermark
      model, so the reappearance that arrives in the SAME batch that
      evicts the old state (event 3) is still deduplicated against it
      (and does NOT refresh the expiry — the expiration stays first
      occurrence + delay);
    - the NEXT reappearance (event 4, one batch later) finds no state
      and re-emits.

    Key K=(user 1,'view'): kept @10s, dup @30s dropped (within
    horizon), another key @500s advances the watermark to 440s >>
    K's 70s expiry, K @505s arrives with the eviction batch (still
    dropped), K @510s re-emits."""
    from conftest import write_events_file

    def w(name, rows, mt):
        write_events_file(ev_dir, name, rows, mt)

    ev_dir = tmp_path / "events.parquet"
    ev_dir.mkdir()
    w("a.parquet", [(0, 10, 1, "view")], 1_000_000)
    w("a2.parquet", [(1, 30, 1, "view")], 2_000_000)
    w("b.parquet", [(2, 500, 2, "view")], 3_000_000)
    w("c.parquet", [(3, 505, 1, "view")], 4_000_000)
    w("d.parquet", [(4, 510, 1, "view")], 5_000_000)

    out = run_dedup_stream_once(
        spark, str(tmp_path), watermark="1 minute", maxFilesPerTrigger="1"
    )
    survivors = sorted(r["event_id"] for r in out.collect())
    assert survivors == [0, 2, 4], survivors
