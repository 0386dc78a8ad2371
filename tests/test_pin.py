"""The pin/release contract (``pin.py``): the checkpoint-dir rule for
lineage-cutting pins (the operators' values on that path are checked in
test_training.py and test_graph.py), and ``pin_scope`` bringing a
long-lived session's cache back to its baseline after every corpus."""

from conftest import checkpoint_dir, pinned

from adi_226_datawarehouse_project_spark.operators.dedup import (
    minhash_near_dup_pairs,
    near_dup_clusters,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from adi_226_datawarehouse_project_spark.pin import pin, pin_scope


def test_truncating_pin_is_reliable_under_a_checkpoint_dir(spark, tmp_path):
    """A lineage-cutting pin is a reliable checkpoint (files under the
    dir) once the SparkContext has a checkpoint dir, and the dir does
    not outlive the block."""
    with checkpoint_dir(spark, tmp_path):
        out = pin(spark.range(10), truncate=True, eager=True)
        assert out._jdf.queryExecution().analyzed().rdd().isCheckpointed()
    assert spark.sparkContext.getCheckpointDir() is None
    assert any(p.is_file() for p in tmp_path.rglob("*"))
    assert sorted(r.id for r in out.collect()) == list(range(10))


_CORPORA = [
    [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "the quick brown fox jumped over the lazy dogs"),
        (4, "completely different content about spark engines"),
    ],
    [
        (10, "parquet files store columns in row groups with statistics"),
        (11, "parquet files store columns in row groups with stats"),
        (12, "a star schema joins one fact table to many dimensions"),
        (13, "a star schema joins one fact table to many dimensions"),
    ],
    [
        (20, "near duplicate detection with minhash and locality sensitive hashing"),
        (21, "near duplicate detection with minhash and locality sensitive hashing"),
        (22, "near duplicate detection using simhash fingerprints and hamming"),
        (23, "zzz qqq xxx vvv kkk www uuu mmm"),
        (24, "zzz qqq xxx vvv kkk www uuu nnn"),
    ],
]


def test_corpus_loop_releases_every_pin(spark):
    """A session looping over corpora keeps a bounded cache: every
    dedup operator's pins are released when its scope exits, so the
    persistent RDDs and CacheManager entries are back at the pre-loop
    baseline after every operator."""
    base_rdds, base_entries = pinned(spark)
    for corpus in _CORPORA:
        docs = spark.createDataFrame(corpus, "doc_id BIGINT, text STRING")
        ops = {
            "ngram_prefix": lambda: ngram_jaccard_pairs(docs, "doc_id", "text", prefix_filter=True),
            "ngram_naive": lambda: ngram_jaccard_pairs(docs, "doc_id", "text", prefix_filter=False),
            "minhash": lambda: minhash_near_dup_pairs(docs, "doc_id", "text"),
            "simhash": lambda: simhash_near_dup_pairs(docs, "doc_id", "text"),
            "clusters": lambda: near_dup_clusters(
                docs, "doc_id", ngram_jaccard_pairs(docs, "doc_id", "text", prefix_filter=False)
            ),
        }
        for name, op in ops.items():
            with pin_scope():
                rows = op().collect()
                held_rdds, held_entries = pinned(spark)
            assert rows, name
            assert held_rdds - base_rdds or held_entries - base_entries, f"{name} pinned nothing"
            rdds, entries = pinned(spark)
            assert rdds <= base_rdds and entries <= base_entries, name
