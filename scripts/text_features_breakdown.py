"""Per-part wall times for the `text_token_features` bench suite plus
a stage funnel for its passage-scrub part — the suite is a 5-part
tag-union, so its single bench number hides which part costs what.

The passage-scrub funnel is the scale health metric (same role the
candidates/survivor ratio plays for the LSH family): gram occurrences
→ per-doc-distinct grams → flagged (df ≥ min_docs) grams → hit rows
(the join fan-out — the candidates) → distinct flagged span starts
(the survivors). A boilerplate gram gone corpus-hot shows up as a
candidates/survivor blow-up here long before it shows up as a
straggler task at 100 TB.

Usage: python scripts/text_features_breakdown.py [/root/testdata/sf0.1]
Prints one JSON line; human-readable lines go to stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time

_repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _repo)

from pyspark.sql import functions as F  # noqa: E402

from adi_226_datawarehouse_project_spark.operators.passage_dedup import (  # noqa: E402
    _gram_starts,
    remove_repeated_passages,
)
from adi_226_datawarehouse_project_spark.plans.operators_suite import (  # noqa: E402
    _PASSAGE_N,
    _spark_explode_tokens,
    _spark_token_stats,
    _split_sql,
    _sql,
)
from adi_226_datawarehouse_project_spark import dialect as D  # noqa: E402
from adi_226_datawarehouse_project_spark.functions import text as TX  # noqa: E402
from adi_226_datawarehouse_project_spark.session import get_spark  # noqa: E402
from adi_226_datawarehouse_project_spark.sources.catalog import load_table  # noqa: E402


def _timed(fn) -> tuple[int, float]:
    t0 = time.perf_counter()
    n = fn()
    return n, round(time.perf_counter() - t0, 3)


def passage_funnel(docs, n: int, min_docs: int = 2) -> dict[str, int]:
    occ = _gram_starts(docs, "doc_id", "text", n)
    per_doc = occ.groupBy("doc_id", "gram").agg(F.min("start").alias("__s0"))
    freq = per_doc.groupBy("gram").agg(
        F.count(F.lit(1)).alias("__df"), F.min("doc_id").alias("__owner")
    )
    flagged = freq.filter(F.col("__df") >= min_docs)
    hits = occ.join(flagged.select("gram", "__owner"), "gram").filter(
        F.col("doc_id") != F.col("__owner")
    )
    spans = hits.select("doc_id", "start").distinct()
    return {
        "gram_occurrences": occ.count(),
        "distinct_doc_grams": per_doc.count(),
        "flagged_grams": flagged.count(),
        "hit_rows": hits.count(),
        "flagged_spans": spans.count(),
        "docs_touched": spans.select("doc_id").distinct().count(),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("text_features_breakdown")
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()

    parts: dict[str, dict] = {}
    n, t = _timed(lambda: _spark_token_stats(spark, sf_dir).count())
    parts["token_stats"] = {"rows": n, "sec": t}
    n, t = _timed(lambda: _spark_explode_tokens(spark, sf_dir).count())
    parts["top_tokens"] = {"rows": n, "sec": t}
    n, t = _timed(lambda: _sql(_split_sql(D.SPARK))(spark, sf_dir).count())
    parts["hash_split"] = {"rows": n, "sec": t}
    n, t = _timed(
        lambda: docs.select(
            "doc_id", TX.rolling_fingerprint("text").alias("fp")
        ).count()
    )
    parts["rolling_fp"] = {"rows": n, "sec": t}
    n, t = _timed(
        lambda: remove_repeated_passages(
            docs.select("doc_id", "text"),
            "doc_id",
            "text",
            n=_PASSAGE_N,
        ).count()
    )
    parts["passage_scrub"] = {"rows": n, "sec": t}

    # r14 shared-scan effect: the SUITE now persists one narrow docs
    # projection and fans the five parts over it (operators_suite.py),
    # so the suite total should undercut the sum of the independent
    # per-part scans above. Two timed passes: cold (first persist
    # materialization included) and warm (cache resident).
    from adi_226_datawarehouse_project_spark.plans.operators_suite import (
        _spark_text_token_features,
    )
    from adi_226_datawarehouse_project_spark.measure import hash_consume

    suite = {}
    _, t = _timed(
        lambda: hash_consume(_spark_text_token_features(spark, sf_dir, ordered=False))
    )
    suite["cold_s"] = t
    _, t = _timed(
        lambda: hash_consume(_spark_text_token_features(spark, sf_dir, ordered=False))
    )
    suite["warm_s"] = t
    suite["sum_of_parts_s"] = round(sum(d["sec"] for d in parts.values()), 2)

    t0 = time.perf_counter()
    funnel = passage_funnel(docs.select("doc_id", "text"), _PASSAGE_N)
    funnel_t = round(time.perf_counter() - t0, 2)
    funnel["candidates_per_survivor"] = round(
        funnel["hit_rows"] / max(funnel["flagged_spans"], 1), 1
    )

    for name, d in parts.items():
        print(f"# {name}: {d['sec']}s rows={d['rows']}", file=sys.stderr)
    print(
        f"# passage funnel ({funnel_t}s): occ={funnel['gram_occurrences']} "
        f"doc_grams={funnel['distinct_doc_grams']} flagged={funnel['flagged_grams']} "
        f"hits={funnel['hit_rows']} spans={funnel['flagged_spans']} "
        f"docs={funnel['docs_touched']} ratio={funnel['candidates_per_survivor']}",
        file=sys.stderr,
    )
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "n_docs": n_docs,
                "parts": parts,
                "suite_shared_scan": suite,
                "passage_funnel": funnel,
            }
        )
    )


if __name__ == "__main__":
    main()
