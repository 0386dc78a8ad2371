"""Left-outer stream-stream join at scale: stream == batch on the
watermark-DECIDABLE subset.

On a finite source, an unmatched click whose match horizon
(click_time + range) is not yet past the final watermark has its
null-extended row legitimately withheld in state — so whole-result
stream/batch equality is impossible by construction at the tail. The
final GLOBAL watermark is min(max click ts, max purchase ts) − delay:
each watermarked side contributes its own node and Spark takes the
minimum (the first run of this script used max over ALL events and
missed exactly the 128 boundary clicks between the two bounds). The
decidable subset is every click with
``click_time < min_side_max - watermark - range``: for those the
watermark has provably passed the horizon, null rows included. This script runs
the full left-outer stream, then compares the post-filtered row SETS
(same filter on the batch twin) — exact equality, plus the tail
accounting (how many batch rows sit past the cutoff, split
matched/unmatched, and that the stream withheld exactly the unmatched
ones).

Usage: PYSPARK_SUBMIT_ARGS="--driver-memory 8g pyspark-shell" \
    python scripts/left_join_scale.py [/tmp/spark_graft_x64]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

_repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _repo)

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from adi_226_datawarehouse_project_spark.sources.catalog import load_table  # noqa: E402
from adi_226_datawarehouse_project_spark.streaming.events_stream import (  # noqa: E402
    _with_event_time,
)
from adi_226_datawarehouse_project_spark.streaming.stream_join import (  # noqa: E402
    RANGE_SECONDS,
    _attribution_pairs,
    stream_join_pairs_once,
)

WATERMARK = "30 minutes"
WATERMARK_S = 30 * 60


def _key_set(df):
    """Deterministic comparable form: (user, click_us, purchase_us|-1)
    counts — epoch micros extracted engine-side."""
    return {
        (r["user_id"], int(r["c"]), -1 if r["p"] is None else int(r["p"])): r["n"]
        for r in df.selectExpr(
            "user_id",
            "unix_micros(click_time) AS c",
            "unix_micros(purchase_time) AS p",
        )
        .groupBy("user_id", "c", "p")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_x64"
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()

    ev = load_table(spark, sf_dir, "events")
    side_max = ev.filter(F.col("event_type").isin("click", "purchase")).groupBy(
        "event_type"
    ).agg(F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("m")).collect()
    min_side_max = min(r["m"] for r in side_max)
    # strict bound minus 1µs: stays off the eviction boundary's own
    # strict-vs-inclusive edge
    cutoff_us = min_side_max - (WATERMARK_S + RANGE_SECONDS) * 1_000_000 - 1

    t_s = time.time()
    stream = stream_join_pairs_once(
        spark, sf_dir, watermark=WATERMARK, how="leftOuter",
        query_name="left_join_x_out",
    )
    stream_wall = round(time.time() - t_s, 1)
    t_b = time.time()
    batch = _attribution_pairs(_with_event_time(ev), how="leftOuter")
    cut = F.unix_micros(F.col("click_time")) <= F.lit(cutoff_us)
    s_rows = _key_set(stream.filter(cut))
    b_rows = _key_set(batch.filter(cut))
    batch_wall = round(time.time() - t_b, 1)

    # tail accounting: past-cutoff batch rows split matched/unmatched;
    # the stream must hold every matched one and may withhold only
    # unmatched (null) ones
    tail_b = batch.filter(~cut)
    tail_matched = tail_b.filter(F.col("purchase_time").isNotNull()).count()
    tail_unmatched = tail_b.filter(F.col("purchase_time").isNull()).count()
    tail_s = stream.filter(~cut)
    tail_s_matched = tail_s.filter(F.col("purchase_time").isNotNull()).count()
    tail_s_unmatched = tail_s.filter(F.col("purchase_time").isNull()).count()

    out = {
        "sf_dir": sf_dir,
        "decidable_rows": sum(b_rows.values()),
        "decidable_null_rows": sum(
            n for (u, c, p), n in b_rows.items() if p == -1
        ),
        "decidable_equal": s_rows == b_rows,
        "tail_batch_matched": tail_matched,
        "tail_batch_unmatched": tail_unmatched,
        "tail_stream_matched": tail_s_matched,
        "tail_stream_unmatched_emitted": tail_s_unmatched,
        "tail_matched_all_emitted": tail_s_matched == tail_matched,
        "stream_wall_s": stream_wall,
        "batch_compare_wall_s": batch_wall,
        "total_wall_s": round(time.time() - t0, 1),
    }
    out["all_ok"] = bool(out["decidable_equal"] and out["tail_matched_all_emitted"])
    print(json.dumps(out))
    sys.exit(0 if out["all_ok"] else 1)


if __name__ == "__main__":
    main()
