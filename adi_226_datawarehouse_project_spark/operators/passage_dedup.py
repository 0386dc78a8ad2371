"""Repeated-passage removal — cross-document duplicated-span scrubbing
for the training-data pipeline (Lee et al., "Deduplicating Training
Data Makes Language Models Better", arXiv:2107.06499: remove verbatim
substrings that recur across documents — boilerplate headers, license
blocks, navigation chrome — while keeping the surrounding prose).

Doc-level near-dup (MinHash/SimHash, `operators/dedup.py`) drops whole
documents; this operator edits WITHIN documents: any word ``n``-gram
appearing in ≥ 2 distinct documents marks its ``n`` token positions
as duplicated, and duplicated positions are scrubbed from every
occurrence except the one in the lowest-id owning document (the
published keep-one semantic).

Distributed shape (suffix arrays need not apply at 100 TB):

- grams are built NARROWLY per row from the token array (sequence +
  slice under a let-binding — no posexplode of corpus tokens); only
  ``(id, start, gram_hash)`` rows shuffle, with the gram itself a
  bare xxhash64 BIGINT, never the text;
- the gram→doc-frequency table reuses the per-doc-distinct rows (the
  tfidf trick: ``(id, gram)`` is already distinct, so doc frequency
  is a count, not a countDistinct);
- flagged grams (df ≥ 2) are a small table joined back on the
  hashed key — broadcast-able when rare, AQE-skew-splittable when a
  boilerplate gram is corpus-hot;
- covered positions explode only FLAGGED starts (``n``× a small set),
  aggregate to one ``covered`` array per doc, and rejoin the doc
  table; the text rebuild is a pure narrow HOF filter over the token
  array. Corpus text crosses the wire exactly once (the final join's
  build side is per-doc ints).

Gram identity is xxhash64 of the space-joined gram (collision odds
~m²/2⁶⁵ — immaterial beside the fixture scales and deterministic
either way); the DuckDB oracle re-derives everything from the literal
gram strings, so a hash bug cannot self-confirm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import _let, word_tokens


def _tokens(text_col: str, tokens_col: str | None):
    """The token-array expression every stage derives grams/rebuilds
    from: ``tokens_col`` (a pre-tokenized ``word_tokens`` array, the
    shared-tokenization path) when given, else tokenize ``text_col``
    in place. Both produce the identical array, so output values do
    not depend on which path the caller picks."""
    return F.col(tokens_col) if tokens_col else word_tokens(F.col(text_col))


def _gram_starts(
    df: DataFrame, id_col: str, text_col: str, n: int, tokens_col: str | None = None
) -> DataFrame:
    """(id, start, gram) — one row per n-gram occurrence; start is the
    0-based token index; gram is a 64-bit hash identifying the n token
    strings.

    Gram key derivation (r15, guide §1.2 "per-task work"): each token
    is xxhash64-ed ONCE per document, and a gram's key is xxhash64 over
    its n token hashes — pure fixed-width integer reads, no per-gram
    string build. The previous form (xxhash64(concat_ws(" ",
    slice(tokens, i+1, n)))) allocated and hashed a fresh ~30-char
    string per gram, which dominated the gram stage's executor CPU at
    the 64× corpus. Two grams collide iff their token-hash tuples
    collide — same equality semantics and the same ~m²/2⁶⁵ collision
    posture as hashing the joined string (the DuckDB oracle re-derives
    spans from the literal gram STRINGS, so the key change is invisible
    to every value check by construction)."""
    toks = df.select(F.col(id_col), _tokens(text_col, tokens_col).alias("__toks"))
    grams = toks.select(
        id_col,
        F.posexplode(
            _let(
                F.transform(F.col("__toks"), lambda t: F.xxhash64(t)),
                lambda th: F.when(
                    F.size(th) >= n,
                    F.transform(
                        F.sequence(F.lit(0), F.size(th) - n),
                        lambda i: F.xxhash64(
                            *[F.element_at(th, i + k) for k in range(1, n + 1)]
                        ),
                    ),
                ).otherwise(F.array().cast("array<bigint>")),
            )
        ).alias("start", "gram"),
    )
    return grams


def repeated_passage_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    tokens_col: str | None = None,
) -> DataFrame:
    """Flagged duplicated-span starts: ``(id, start)`` rows where the
    word ``n``-gram at ``start`` occurs in ≥ 2 distinct docs, except in
    the lowest-id document containing it (its occurrence survives).
    ``tokens_col`` optionally names a pre-tokenized ``word_tokens``
    array column to derive grams from (``text_col`` is then
    ignored)."""
    # ONE linear pass over the gram occurrences (r15; guide §2.3/§2.4).
    # The previous shape consumed the occurrence frame TWICE — once for
    # the doc-frequency aggregate and once for the flagged-gram
    # join-back — and since `occ` was an unshared subtree, the whole
    # tokenize/slice/hash gram derivation executed twice per action
    # (measured at the 64× corpus: the two gram stages were ~172s
    # executor CPU EACH, dominating text_token_features). A first
    # attempt that shared a collapsed (id, gram, starts) aggregate
    # between the two branches still double-computed: column pruning
    # rewrites the frequency branch's copy WITHOUT the starts
    # collect_set, so the two exchanges are no longer canonically equal
    # and AQE stage reuse cannot fire. This shape instead computes the
    # doc frequency and owner as WINDOW functions over the collapsed
    # frame — a single linear DAG with no shared subtree at all, so
    # grams are derived exactly once by construction:
    #   occ → partial-agg/Exchange(id, gram) → collect_set
    #       → Exchange(gram) → window [count(*), min(id) per gram]
    #       → filter → explode(starts) → distinct
    # count(*) per gram over the (id, gram)-distinct rows IS the
    # distinct-doc frequency, and min(id) the keep-one owner —
    # exactly what the aggregate+join derived. collect_set is safe:
    # starts are distinct per (id, gram) by construction and order is
    # irrelevant (the exploded hits feed a distinct()).
    from pyspark.sql import Window

    occ = _gram_starts(df, id_col, text_col, n, tokens_col)
    per_doc = occ.groupBy(id_col, "gram").agg(
        F.collect_set("start").alias("__starts")
    )
    w = Window.partitionBy("gram")
    hits = per_doc.withColumn("__df", F.count(F.lit(1)).over(w)).withColumn(
        "__owner", F.min(id_col).over(w)
    ).filter(F.col("__df") >= 2).filter(F.col(id_col) != F.col("__owner"))
    return hits.select(
        id_col, F.explode("__starts").alias("start")
    ).distinct()


def remove_repeated_passages(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    tokens_col: str | None = None,
) -> DataFrame:
    """Scrub duplicated spans: every token position covered by a
    flagged ``n``-gram start (positions ``[start, start+n)``) is
    dropped and the survivors are re-joined with single spaces.

    Returns the input columns plus ``n_tokens``, ``covered_tokens``
    (count of scrubbed positions), and ``clean_text``. Documents with
    no flagged span pass through with ``covered_tokens = 0`` and
    ``clean_text = `` the normalized (lowercased, space-joined) token
    stream — normalization is what makes byte-exact cross-engine
    verification possible. ``tokens_col`` optionally names a
    pre-tokenized ``word_tokens`` array column (shared-tokenization
    path: gram derivation AND the rebuild read it; ``text_col`` is
    ignored) — output values are identical either way."""
    spans = repeated_passage_spans(df, id_col, text_col, n, tokens_col)
    covered = (
        spans.select(
            id_col,
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(n - 1))
            ).alias("pos"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("__covered"))
    )
    out = df.join(covered, id_col, "left")
    toks = _tokens(text_col, tokens_col)
    kept = _let(
        F.coalesce(F.col("__covered"), F.array().cast("array<int>")),
        lambda cov: F.filter(
            F.transform(toks, lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
            lambda s: ~F.array_contains(cov, s["i"]),
        ),
    )
    # Output stat columns SHADOW same-named inputs (a cleaned zone
    # often carries its own n_tokens — the recomputed one wins).
    passthrough = [
        c for c in df.columns if c not in ("n_tokens", "covered_tokens", "clean_text")
    ]
    return out.select(
        *[F.col(c) for c in passthrough],
        F.size(toks).alias("n_tokens"),
        # size(NULL) is -1 under legacy (non-ANSI) sessions — coalesce
        # the ARRAY, not the size, so both session flavors agree.
        F.size(
            F.coalesce(F.col("__covered"), F.array().cast("array<int>"))
        ).alias("covered_tokens"),
        F.concat_ws(" ", F.transform(kept, lambda s: s["t"])).alias("clean_text"),
    )
