"""Throughput-scaling sweep: run the scale-critical operators at 1x,
2x, 4x, 8x the sf0.1 corpus and report seconds + output rows per
multiple, to demonstrate how the plans scale with input size (the
100 TB question asked at every round: which operator's cost curve
bends superlinearly?).

Replication is SALTED so the workload's *structure* is constant while
its *size* grows — naive duplication would give every document K-1
exact clones, inflating near-dup pair output quadratically in K and
conflating output-size growth with throughput decay:

- documents: every token is prefixed with a per-copy salt
  (regexp_replace), so shingle sets are disjoint across copies and the
  intra-copy duplicate structure repeats exactly K times → pair counts
  scale linearly by construction, and wall time measures the operator.
- events: event_id offset, user_id offset per copy → per-user session
  structure repeats; windows get K× denser (realistic growth mode).

Scratch parquet goes under /tmp (ephemeral). Usage:

    python scripts/scale_sweep.py [--mults 1 2 4 8] [--sf /root/testdata/sf0.1]

Prints one JSON line per (op, mult) and a final summary line with the
per-op scaling exponent alpha fitted from t ~ c * mult^alpha (alpha ~ 1
is linear scaling; sub-1 means fixed overhead still dominates).
"""

from __future__ import annotations

import argparse
import json
import math
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from adi_226_datawarehouse_project_spark.operators.dedup import (  # noqa: E402
    dedup_exact,
    minhash_near_dup_pairs,
    simhash_near_dup_pairs,
)
from adi_226_datawarehouse_project_spark.operators.decontamination import (  # noqa: E402
    decontaminate,
)
from adi_226_datawarehouse_project_spark.operators.tfidf import tf_idf_terms  # noqa: E402
from adi_226_datawarehouse_project_spark.operators.training import (  # noqa: E402
    global_shuffle_rank,
    pack_chunk_stats,
    pack_sequences,
)
from adi_226_datawarehouse_project_spark.session import get_spark  # noqa: E402
from adi_226_datawarehouse_project_spark.sources.catalog import load_table  # noqa: E402
from adi_226_datawarehouse_project_spark.functions import text as TX  # noqa: E402
from adi_226_datawarehouse_project_spark.streaming.events_stream import (  # noqa: E402
    _windowed,
    _with_event_time,
)

SCRATCH = Path("/tmp/spark_graft_scale")


def _replicate_documents(spark: SparkSession, sf: str, mult: int, out: Path) -> None:
    base = load_table(spark, sf, "documents")
    n = base.agg(F.max("doc_id")).collect()[0][0] + 1
    copies = []
    for c in range(mult):
        salted = base.select(
            (F.col("doc_id") + F.lit(c * n)).alias("doc_id"),
            # prefix every token with a per-copy salt: shingle sets are
            # disjoint across copies, intra-copy structure identical
            F.regexp_replace("text", r"(\S+)", f"c{c}$1").alias("text")
            if c
            else F.col("text"),
            "lang",
            "source",
            "n_chars",
        )
        copies.append(salted)
    df = copies[0]
    for d in copies[1:]:
        df = df.unionByName(d)
    df.write.mode("overwrite").parquet(str(out / "documents.parquet"))


def _replicate_events(spark: SparkSession, sf: str, mult: int, out: Path) -> None:
    base = load_table(spark, sf, "events")
    ne = base.agg(F.max("event_id")).collect()[0][0] + 1
    nu = base.agg(F.max("user_id")).collect()[0][0] + 1
    copies = [
        base.select(
            (F.col("event_id") + F.lit(c * ne)).alias("event_id"),
            (F.col("user_id") + F.lit(c * nu)).alias("user_id"),
            "event_type",
            "ts",
            "value",
            "props",
        )
        for c in range(mult)
    ]
    df = copies[0]
    for d in copies[1:]:
        df = df.unionByName(d)
    df.write.mode("overwrite").parquet(str(out / "events.parquet"))


def _timed(fn, warm: bool = False) -> tuple[float, int]:
    """(best-of-2 seconds, rows) — min-of-2 removes first-run JIT/shuffle
    file-creation noise, same policy as bench.py's warehouse timing."""
    best, rows = math.inf, 0
    for _ in range(2 if warm else 1):
        t0 = time.time()
        rows = fn()
        best = min(best, time.time() - t0)
    return best, rows


def ops(spark: SparkSession, d: str) -> dict[str, callable]:
    def docs() -> DataFrame:
        return load_table(spark, d, "documents")

    return {
        "dedup_exact": lambda: dedup_exact(docs(), ["text"], order_by=["doc_id"]).count(),
        "minhash_lsh_pairs": lambda: minhash_near_dup_pairs(
            docs(), "doc_id", "text", min_jaccard_est=0.7
        ).count(),
        "simhash_pairs": lambda: simhash_near_dup_pairs(
            docs(), "doc_id", "text", max_hamming=8
        ).count(),
        "pack_sequences": lambda: pack_chunk_stats(
            pack_sequences(
                docs().select("doc_id", TX.token_count("text").alias("nt")),
                "doc_id",
                "nt",
                512,
            ),
            "doc_id",
            512,
        ).count(),
        "global_shuffle_rank": lambda: global_shuffle_rank(
            docs().select("doc_id"), "doc_id", seed="sweep"
        ).count(),
        # salting keeps copies' gram sets disjoint, so the per-copy
        # contamination structure repeats exactly: survivors scale
        # linearly and wall time measures the broadcast gram join.
        "decontaminate": lambda: decontaminate(
            docs().filter(F.col("doc_id") % 7 != 0),
            docs().filter(F.col("doc_id") % 7 == 0),
            "doc_id",
            "text",
            n=5,
            min_overlap=2,
        ).count(),
        "tfidf_top2": lambda: tf_idf_terms(docs(), "doc_id", "text", top_k=2).count(),
        "events_tumbling_window": lambda: _windowed(
            _with_event_time(load_table(spark, d, "events")), "5 minutes"
        ).count(),
        # round-4 second-wave operators: importance scoring + selection
        # (broadcast model joins + two-phase rank), URL dedup (narrow
        # normalize + min-id agg), fuzzy cross-corpus minhash (bench
        # side broadcast).
        "dsir_select_30pct": lambda: _dsir_count(spark, d),
        "url_dedup": lambda: _url_dedup_count(spark, d),
        "fuzzy_decontaminate": lambda: _fuzzy_count(spark, d),
        # the text_token_features passage-scrub part: gram-start
        # inverted index + flagged-gram join + HOF rebuild. Salted
        # copies keep the flagged-gram structure constant per copy.
        "passage_scrub": lambda: _passage_scrub_count(spark, d),
    }


def _passage_scrub_count(spark: SparkSession, d: str) -> int:
    from adi_226_datawarehouse_project_spark.operators.passage_dedup import (
        remove_repeated_passages,
    )

    docs = load_table(spark, d, "documents").select("doc_id", "text")
    return remove_repeated_passages(docs, "doc_id", "text", n=5).count()


def _dsir_count(spark: SparkSession, d: str) -> int:
    import math as _m

    from adi_226_datawarehouse_project_spark.operators.dsir import dsir_select

    docs = load_table(spark, d, "documents").select("doc_id", "text")
    tgt = docs.filter(F.col("doc_id") % 7 == 0)
    raw = docs.filter(F.col("doc_id") % 7 != 0)
    k = _m.ceil(0.3 * raw.count())
    return dsir_select(raw, tgt, "doc_id", "text", k=k, n_buckets=4096).count()


def _url_dedup_count(spark: SparkSession, d: str) -> int:
    from adi_226_datawarehouse_project_spark.operators.urls import url_dedup

    docs = load_table(spark, d, "documents").select("doc_id", "source")
    with_url = docs.withColumn(
        "url",
        F.concat(
            F.lit("https://www."),
            F.col("source"),
            F.lit(".example/docs/"),
            (F.col("doc_id") % 5000).cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("?utm=x")).otherwise(F.lit("/")),
        ),
    )
    return url_dedup(with_url, "url", "doc_id").count()


def _fuzzy_count(spark: SparkSession, d: str) -> int:
    from adi_226_datawarehouse_project_spark.operators.decontamination import (
        fuzzy_decontaminate,
    )

    docs = load_table(spark, d, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return fuzzy_decontaminate(
        docs.filter(F.col("doc_id") % 7 != 0),
        bench,
        "doc_id",
        "text",
        "bench_id",
        min_jaccard_est=0.5,
        shingle_size=5,
    ).count()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mults", nargs="+", type=int, default=[1, 2, 4, 8])
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    spark = get_spark(shuffle_partitions=32)
    results: dict[str, list[tuple[int, float, int]]] = {}
    for mult in args.mults:
        out = SCRATCH / f"x{mult}"
        out.mkdir(parents=True, exist_ok=True)
        _replicate_documents(spark, args.sf, mult, out)
        _replicate_events(spark, args.sf, mult, out)
        for name, fn in ops(spark, str(out)).items():
            sec, rows = _timed(fn, warm=True)
            results.setdefault(name, []).append((mult, sec, rows))
            print(
                json.dumps(
                    {"op": name, "mult": mult, "sec": round(sec, 3), "rows": rows}
                ),
                flush=True,
            )
    # fit t = c * mult^alpha by least squares in log space
    summary = {}
    for name, pts in results.items():
        if len(pts) >= 2:
            xs = [math.log(m) for m, _, _ in pts]
            ys = [math.log(s) for _, s, _ in pts]
            mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
            denom = sum((x - mx) ** 2 for x in xs) or 1.0
            alpha = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom
            summary[name] = round(alpha, 2)
    print(json.dumps({"scaling_exponent_alpha": summary}), flush=True)
    shutil.rmtree(SCRATCH, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
