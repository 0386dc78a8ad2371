"""Property tests for the dedup operator family — the correctness
authority for the seeded-hash operators whose driver check is
rows-only (minhash LSH, simhash)."""

from pyspark.sql import functions as F

from adi_226_datawarehouse_project_spark.operators.dedup import (
    dedup_exact,
    minhash_index,
    minhash_lookup,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_dup_pairs,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    # near dup of 1 under word 3-gram shingles: all 7 of doc 1's grams
    # plus 3 more, J = 7/10
    (3, "the quick brown fox jumps over the lazy dog near the river"),
    (4, "completely different content about spark engines and parquet files"),
    (5, "zzz qqq xxx vvv kkk www uuu mmm nnn ooo"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_dedup_exact_deterministic(spark):
    df = _docs(spark)
    kept = dedup_exact(df, ["text"], order_by=["doc_id"])
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [1, 3, 4, 5]  # keeps MIN doc_id per text, always
    # idempotent
    again = dedup_exact(kept, ["text"], order_by=["doc_id"])
    assert sorted(r["doc_id"] for r in again.collect()) == ids


def test_minhash_identical_docs_score_one(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard_est"]
        for r in minhash_near_dup_pairs(
            _docs(spark), "doc_id", "text", min_jaccard_est=0.3
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup caught
    assert all(not (a in (4, 5) or b == 5) for (a, b) in pairs if (a, b) != (4, 5))


def test_minhash_estimates_true_jaccard(spark):
    """The minhash estimate must track the exact word 3-gram shingle
    Jaccard within sketch tolerance (64 hashes → se ≈ 0.06)."""
    from adi_226_datawarehouse_project_spark.functions.text import word_ngrams

    df = _docs(spark)
    sh = df.select(
        "doc_id", F.explode(F.array_distinct(word_ngrams(F.col("text"), 3))).alias("g")
    )
    a = sh.toPandas()
    sets = {i: set(g["g"]) for i, g in a.groupby("doc_id")}
    true_j = len(sets[1] & sets[3]) / len(sets[1] | sets[3])
    assert abs(true_j - 0.7) < 1e-9
    est = {
        (r["id_a"], r["id_b"]): r["jaccard_est"]
        for r in minhash_near_dup_pairs(
            df, "doc_id", "text", min_jaccard_est=0.0
        ).collect()
    }[(1, 3)]
    assert abs(est - true_j) < 0.2


def test_minhash_lookup_matches_self_join_cross_pairs(spark):
    """A batch looked up against an index of the other docs finds the
    same cross pairs, at the same estimates, as the self-join over all
    docs at the same threshold."""
    df = _docs(spark)
    in_batch = F.col("doc_id").isin(2, 3)
    got = {
        (r["id_a"], r["id_b"]): r["jaccard_est"]
        for r in minhash_lookup(
            minhash_index(df.filter(in_batch), "doc_id", "text"),
            minhash_index(df.filter(~in_batch), "doc_id", "text"),
            "doc_id", "doc_id", 0.3,
        ).collect()
    }
    batch = {2, 3}
    want = {}
    for r in minhash_near_dup_pairs(df, "doc_id", "text", min_jaccard_est=0.3).collect():
        a, b = r["id_a"], r["id_b"]
        if (a in batch) != (b in batch):
            want[(a, b) if a in batch else (b, a)] = r["jaccard_est"]
    assert got == want
    assert got[(2, 1)] == 1.0 and (3, 1) in got


def test_simhash_identical_docs_distance_zero(spark):
    fps = {r["doc_id"]: r["simhash"] for r in simhash(_docs(spark), "doc_id", "text").collect()}
    assert fps[1] == fps[2]
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(
            _docs(spark), "doc_id", "text", max_hamming=10
        ).collect()
    }
    assert pairs[(1, 2)] == 0


def test_ngram_jaccard_exact_value(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")], ["doc_id", "text"]
    )
    # bigrams: {ab,bc,cd} vs {ab,bc,ce}: inter=2, union=4 → 0.5
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, "doc_id", "text", n=2, min_jaccard=0.1).collect()
    }
    assert pairs == {(1, 2): 0.5}


def test_simhash_matches_python_reference(spark):
    """The lane-packed SQL simhash must equal a direct per-bit
    majority-vote reference computed in Python over the same xxhash64
    token hashes (hashes read back from Spark so the hash family is
    identical; the packing/majority arithmetic is what's under test)."""
    from adi_226_datawarehouse_project_spark.functions.text import word_tokens
    from adi_226_datawarehouse_project_spark.operators.dedup import simhash

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different text with other words entirely"),
        (4, "a a a a b"),  # repeated tokens: votes weigh duplicates
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["doc_id"]: r["simhash"] for r in simhash(df, "doc_id", "text").collect()}

    tok_hashes = (
        df.select(F.col("doc_id"), F.explode(word_tokens(F.col("text"))).alias("t"))
        .withColumn("h", F.xxhash64("t"))
        .collect()
    )
    by_doc: dict = {}
    for r in tok_hashes:
        by_doc.setdefault(r["doc_id"], []).append(r["h"])
    for doc_id, hashes in by_doc.items():
        fp = 0
        for i in range(64):
            votes = sum(1 if (h >> i) & 1 else -1 for h in hashes)
            if votes > 0:
                fp |= 1 << i
        if fp >= 1 << 63:
            fp -= 1 << 64  # two's complement bigint
        assert got[doc_id] == fp, f"doc {doc_id}"


def _uf_components(n_ids, edges):
    """Reference union-find: id -> min id of its component."""
    parent = {i: i for i in n_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in n_ids}


def test_near_dup_clusters_matches_union_find(spark):
    """Min-label propagation must agree with a Python union-find on
    graphs covering the awkward shapes: chains (worst diameter),
    cliques, singletons, and a component whose min id enters last."""
    import random

    from adi_226_datawarehouse_project_spark.operators.dedup import near_dup_clusters

    cases = [
        # chain 0-1-2-3-4 (diameter 4), plus singleton 9
        ([0, 1, 2, 3, 4, 9], [(0, 1), (1, 2), (2, 3), (3, 4)]),
        # two cliques and a bridge-free singleton
        ([1, 2, 3, 10, 11, 12, 99], [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12)]),
        # min id (0) attached at the END of a chain: labels must flow far
        ([0, 5, 6, 7, 8], [(8, 7), (7, 6), (6, 5), (5, 0)]),
        # no edges at all
        ([3, 1, 4], []),
    ]
    rng = random.Random(7)
    ids = list(range(40))
    rnd_edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(30)]
    rnd_edges = [(min(a, b), max(a, b)) for a, b in rnd_edges if a != b]
    cases.append((ids, rnd_edges))

    for node_ids, edges in cases:
        nodes = spark.createDataFrame([(i,) for i in node_ids], ["doc_id"])
        if edges:
            pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        else:
            pairs = spark.createDataFrame([], "id_a LONG, id_b LONG")
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in near_dup_clusters(nodes, "doc_id", pairs).collect()
        }
        want = _uf_components(node_ids, edges)
        assert got == want, f"nodes={node_ids} edges={edges}"


def test_near_dup_clusters_raises_past_max_iter(spark):
    """A graph that can't converge within max_iter must refuse loudly
    (partial edges would silently under-merge clusters)."""
    import pytest

    from adi_226_datawarehouse_project_spark.operators.dedup import near_dup_clusters

    ids = list(range(50))
    chain = [(i, i + 1) for i in range(49)]
    nodes = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    pairs = spark.createDataFrame(chain, ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="max_iter"):
        near_dup_clusters(nodes, "doc_id", pairs, max_iter=1)


def test_near_dup_clusters_long_chain_converges_in_log_rounds(spark):
    """The star-contraction upgrade's point: a 200-node path (diameter
    199 — min-label propagation needed ~199 rounds and would have hit
    the default max_iter=20 guard) converges in O(log n) contraction
    rounds with every node labeled 0."""
    from adi_226_datawarehouse_project_spark.operators.dedup import near_dup_clusters

    n = 200
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"])
    stats: dict = {}
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in near_dup_clusters(nodes, "doc_id", pairs, _stats=stats).collect()
    }
    assert got == {i: 0 for i in range(n)}
    assert stats["rounds"] <= 12, stats  # log-scale, nowhere near diameter 199


def test_simhash_lane_overflow_guard(spark):
    """The packed vote sum overflows signed bigint once a doc reaches
    32768 tokens (top lane contributes n·2^48; 32768·2^48 = 2^63) — the
    operator must refuse loudly at that bound, never wrap. 40k tokens
    sits BETWEEN the pack-sum bound (32768) and the lane-carry bound
    (65536), pinning that the guard enforces the tighter one."""
    import pytest

    from adi_226_datawarehouse_project_spark.operators.dedup import simhash

    for n_tok in (40_000, 70_000):
        big = spark.createDataFrame([(1, "tok " * n_tok)], ["doc_id", "text"])
        with pytest.raises(Exception, match="16-bit vote lanes"):
            simhash(big, "doc_id", "text").collect()

    # just under the bound: must fingerprint cleanly (no wrap, no raise)
    ok = spark.createDataFrame([(1, "tok " * 32_767)], ["doc_id", "text"])
    rows = simhash(ok, "doc_id", "text").collect()
    assert len(rows) == 1
    # all-identical tokens: every vote is unanimous, so the fingerprint
    # must equal the token's own hash bit pattern.
    h = spark.sql("SELECT xxhash64('tok') AS h").collect()[0]["h"]
    assert rows[0]["simhash"] == h


def test_ngram_jaccard_prefix_filter_is_exact(spark):
    """PPJoin prefix filtering must return the IDENTICAL pair set and
    jaccard values as the naive inverted-index self-join, across
    thresholds (including ones where ceil(t*s) is float-hazardous) and
    on both real docs and a stopword-hot synthetic corpus."""
    from conftest import SF_SMALL

    from adi_226_datawarehouse_project_spark.sources.catalog import load_table

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    for t in (0.5, 0.8):
        naive = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in ngram_jaccard_pairs(
                docs, "doc_id", "text", n=3, min_jaccard=t, prefix_filter=False
            ).collect()
        }
        pf = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in ngram_jaccard_pairs(
                docs, "doc_id", "text", n=3, min_jaccard=t, prefix_filter=True
            ).collect()
        }
        assert pf == naive, f"t={t}"

    # stopword-hot corpus: every doc shares the same hot bigrams, plus
    # a rare discriminating tail; sizes vary so ceil(t*s) hits many
    # boundaries (s=6..15, t=0.8 → 0.8*10=8.000000000000002 class)
    hot = "the cat sat on the mat"
    rows = [
        (i, hot + " " + " ".join(f"tok{i}x{j}" for j in range(i % 10)))
        for i in range(60)
    ]
    # plant a true near-dup pair
    rows.append((1000, rows[7][1]))
    sdf = spark.createDataFrame(rows, "doc_id bigint, text string")
    for t in (0.5, 0.8):
        naive = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in ngram_jaccard_pairs(
                sdf, "doc_id", "text", n=2, min_jaccard=t, prefix_filter=False
            ).collect()
        }
        pf = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in ngram_jaccard_pairs(
                sdf, "doc_id", "text", n=2, min_jaccard=t, prefix_filter=True
            ).collect()
        }
        assert pf == naive, f"hot t={t}"
        assert (7, 1000) in pf


def test_ngram_jaccard_prefix_filter_prunes_hot_candidates(spark):
    """The point of the prefix: hot shingles sort to the SUFFIX, so the
    candidate join never touches them. On a corpus where every doc
    shares 5 hot bigrams, the naive self-join candidate volume is all
    C(n,2) pairs; the prefix join's is a small fraction."""
    from pyspark.sql import functions as F

    from adi_226_datawarehouse_project_spark.functions.text import word_ngrams
    from adi_226_datawarehouse_project_spark.operators.dedup import (
        ngram_jaccard_pairs as _njp,
    )

    hot = "alpha beta gamma delta epsilon zeta"
    rows = [(i, hot + f" uniq{i}a uniq{i}b uniq{i}c uniq{i}d uniq{i}e") for i in range(80)]
    sdf = spark.createDataFrame(rows, "doc_id bigint, text string")

    # naive candidate volume: pairs sharing >=1 shingle = all pairs
    sh = sdf.select(
        "doc_id", F.explode(F.array_distinct(word_ngrams(F.col("text"), 2))).alias("g")
    )
    naive_cand = (
        sh.alias("a")
        .join(sh.alias("b"), "g")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
        .count()
    )
    assert naive_cand == 80 * 79 // 2  # every pair collides on the hot head

    # prefix mode at the measured t=0.8 operating point: each doc has
    # 10 bigrams (5 hot + 1 bridge + 4 unique), so the prefix is the
    # 10 - ceil(0.8*10) + 1 = 3 RAREST shingles — all per-doc-unique —
    # and NO hot shingle enters the candidate join. (At t=0.5 the
    # prefix is 6 > the 5-shingle unique tail, so one hot shingle
    # necessarily leaks in — prefix filtering's win shrinks as the
    # threshold drops; that regime is the naive join's.)
    got = _njp(sdf, "doc_id", "text", n=2, min_jaccard=0.8, prefix_filter=True)
    naive = _njp(sdf, "doc_id", "text", n=2, min_jaccard=0.8, prefix_filter=False)
    assert got.count() == naive.count() == 0

    # and the CANDIDATE volume really collapses (the point of the
    # prefix): measured from the operator's own prefix derivation — a
    # regression that let hot shingles into the prefix (e.g. ordering
    # by descending df) would blow this back up toward C(80,2)
    from adi_226_datawarehouse_project_spark.operators.dedup import _prefix_rows

    sh_hashed = sdf.select(
        "doc_id",
        F.explode(F.array_distinct(word_ngrams(F.col("text"), 2))).alias("g"),
    ).select("doc_id", F.xxhash64("g").alias("__g"))
    pref = _prefix_rows(sh_hashed, "doc_id", 0.8)
    pref_cand = (
        pref.select(F.col("doc_id").alias("a"), "__g")
        .join(pref.select(F.col("doc_id").alias("b"), "__g"), "__g")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        .count()
    )
    assert pref_cand < naive_cand / 20, (pref_cand, naive_cand)


def test_near_dup_clusters_ignores_foreign_ids_in_pairs(spark):
    """Pairs can reference ids absent from `ids` (e.g. edges computed
    before a quality filter dropped docs). The contract: cluster_id is
    the component minimum AMONG `ids`, foreign endpoints neither
    become labels nor bridge components — so the downstream survivor
    rule (cluster_id == id) always keeps exactly one member per
    cluster, and components connected only through a filtered-out doc
    stay separate."""
    from adi_226_datawarehouse_project_spark.operators.dedup import near_dup_clusters

    nodes = spark.createDataFrame([(4,), (5,), (8,), (9,)], ["doc_id"])
    # 3 is foreign: 4-3, 5-3 would make 3 the component min AND bridge
    # 4 with 5; 8-9 is an ordinary in-set pair
    pairs = spark.createDataFrame(
        [(4, 3), (5, 3), (8, 9)], ["id_a", "id_b"]
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in near_dup_clusters(nodes, "doc_id", pairs).collect()
    }
    assert got == {4: 4, 5: 5, 8: 8, 9: 8}
    # every cluster has a survivor under the canonical rule
    assert set(got.values()) <= set(got.keys())


def test_ngram_jaccard_auto_strategy_picks_by_df_skew(spark):
    """``prefix_filter=None`` (the default) must choose the join
    strategy from the measured shingle document-frequency skew: naive
    on a uniform corpus (Σdf²/Σdf ≈ 1, where the prefix machinery is
    pure overhead), prefix on a stopword-hot corpus (every doc shares
    the hot head, so naive candidate volume is ~all-pairs) — and the
    pair set must be the exact one in BOTH regimes."""
    from conftest import SF_SMALL

    from adi_226_datawarehouse_project_spark.sources.catalog import load_table

    # uniform shape → naive (measured cand_per_row ≈ 1.1 at sf0.01/0.1)
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    stats: dict = {}
    auto = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, min_jaccard=0.5, _stats=stats
    )
    got = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9) for r in auto.collect()}
    assert stats["prefix_filter"] is False, stats
    assert stats["cand_per_row"] < 8, stats
    want = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, min_jaccard=0.5, prefix_filter=False
        ).collect()
    }
    assert got == want

    # stopword-hot shape (scripts/ngram_prefix_scale.py's generator,
    # measured cand_per_row ≈ 1000 at 2k docs) → prefix
    hot = "the cat sat on the mat and the dog ran to the park"
    rows = [
        (i, hot + " " + " ".join(f"tok{i}x{j}" for j in range(12)))
        for i in range(300)
    ]
    rows.append((9_000_000, rows[7][1]))  # planted near-dup
    sdf = spark.createDataFrame(rows, "doc_id bigint, text string")
    stats = {}
    auto = ngram_jaccard_pairs(
        sdf, "doc_id", "text", n=2, min_jaccard=0.8, _stats=stats
    )
    got = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9) for r in auto.collect()}
    assert stats["prefix_filter"] is True, stats
    assert stats["cand_per_row"] > 32, stats
    want = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs(
            sdf, "doc_id", "text", n=2, min_jaccard=0.8, prefix_filter=False
        ).collect()
    }
    assert got == want and (7, 9_000_000) in got


def test_dedup_exact_all_columns_are_keys(spark):
    """Keys covering every column leave nothing to order by — the rows
    per key are identical, so the operator degrades to distinct()
    instead of building an empty ORDER BY (which raises)."""
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b")], "k INT, v STRING"
    )
    out = dedup_exact(df, ["k", "v"])
    assert sorted((r["k"], r["v"]) for r in out.collect()) == [(1, "a"), (2, "b")]
