"""Text-analysis column functions for large-scale training-data
pipelines (north-star additions beyond the reference surface; operate
on the driver's ``documents`` table).

Everything is built from pyspark.sql.functions — whole-stage-codegen
friendly, linear in input size, shuffle-free per row — so the same
code runs unchanged over 100 TB of text.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic stopword inventories for the language heuristic.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "du", "est", "que"],
    "de": ["der", "die", "und", "das", "ein", "ist", "nicht", "mit", "den", "von"],
    "es": ["el", "la", "de", "que", "y", "los", "un", "una", "es", "por"],
}


def word_tokens(col: Column | str) -> Column:
    """Whitespace tokenization of lowercased text, empties removed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(F.trim(c)), r"\s+"), lambda t: t != F.lit(""))


def word_ngram_hashes(col: Column | str, n: int = 2) -> Column:
    """64-bit hash keys of the word n-grams of ``col`` — the
    string-free counterpart of :func:`word_ngrams` for consumers that
    only need gram EQUALITY (inverted-index joins, frequency counts),
    never the gram text. Each token is xxhash64-ed once per document
    and a gram's key is ``xxhash64`` over its n token hashes — pure
    fixed-width integer reads, where hashing ``word_ngrams`` output
    allocates and hashes a fresh string per gram (measured 5-6× the
    executor CPU of the hashed form on the 64× corpus; it dominated
    both n-gram dedup plans and the passage scrub).

    Same gram-equality classes as ``xxhash64(word_ngrams(...))``
    modulo 64-bit collisions (identical posture: two DIFFERENT grams
    colliding was already accepted there), with the same short-document
    clamp: a document with fewer than ``n`` tokens yields ONE gram
    covering all its tokens (chained-hash family, seeded 0 — disjoint
    from the n-token family except by collision, exactly as a short
    gram STRING never equals a full n-gram string). NULL text yields
    ``[NULL]``, one NULL key: joins never match it, while a groupBy
    does bucket NULL keys together. The string form hashed NULL to the
    xxhash64 seed — a key that joined every NULL-text pair as
    "similar"; no fixture contains NULL text (verified), so no declared
    result changes."""
    return _let(
        _let(word_tokens(col), lambda t: F.transform(t, lambda x: F.xxhash64(x))),
        lambda th: F.when(
            F.size(th) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(th) - n),
                lambda i: F.xxhash64(
                    *[F.element_at(th, i + k) for k in range(1, n + 1)]
                ),
            ),
        ).otherwise(
            F.array(
                F.aggregate(
                    th, F.lit(0).cast("bigint"), lambda a, h: F.xxhash64(a, h)
                )
            )
        ),
    )


def _let(bound: Column, body) -> Column:
    """Let-binding for higher-order-function pipelines: evaluate
    ``bound`` ONCE per row and pass it to ``body`` as a lambda variable.

    An expression captured directly by a HOF lambda is re-evaluated for
    EVERY array element (Catalyst does not CSE across the lambda
    boundary), which turns e.g. n-gram generation into O(len²) work per
    document — a 10× slowdown measured on the shingling path. Wrapping
    the expression in a 1-element array and binding it through
    ``transform`` makes the inner references lambda-variable reads."""
    return F.transform(F.array(bound), body)[0]


def token_count(col: Column | str) -> Column:
    """Whitespace token count; NULL for NULL text.

    NOT bare ``size(word_tokens(...))``: with ANSI off,
    ``spark.sql.legacy.sizeOfNull`` makes ``size(NULL)`` return -1, so
    a NULL-text row would SUBTRACT from any ``sum(token_count)`` —
    diverging from the DuckDB oracles (whose ``len(NULL)`` is NULL,
    skipped by ``sum``) on exactly one of the two session configs the
    driver runs (r12 suite review; same class as the bm25 ``__T``
    fix). The guard makes the semantics conf-independent and
    oracle-identical: NULL in, NULL out."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isNotNull(), F.size(word_tokens(c)))


def word_ngrams(col: Column | str, n: int = 2) -> Column:
    """Word n-grams joined by a space.

    DELIBERATE short-document behavior (mirrored by every DuckDB oracle
    that re-derives grams): a document with fewer than ``n`` tokens
    yields ONE gram — the whole document
    (an empty document yields ['']) — so short docs still carry a
    dedup/decontamination signature instead of silently dropping out
    of gram-keyed joins. Consumers that need strict n-grams must
    pre-filter on token_count >= n."""
    return _let(
        word_tokens(col),
        lambda toks: F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    )


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords of `lang`."""
    toks = word_tokens(col)
    sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return hits.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID: highest stopword-hit count wins; 'und'
    when nothing matches. Deterministic tie-break by language code."""
    scores = [(lang, stopword_ratio(col, lang)) for lang in sorted(LANG_STOPWORDS)]
    best_score = F.greatest(*[s for _, s in scores])
    out = F.lit("und")
    # reversed so earlier languages win ties (first greatest match).
    for lang, score in reversed(scores):
        out = F.when((score == best_score) & (best_score > 0), F.lit(lang)).otherwise(out)
    return out


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[\p{Punct}]", ""))
    return n_punct.cast("double") / F.greatest(F.length(c), F.lit(1)).cast("double")


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation
    + healthy stopword ratio + mean word length band. Mirrors the
    shape of public LLM-data quality filters (C4/Gopher-style rules)."""
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c).cast("double")
    mean_wl = F.length(c).cast("double") / F.greatest(n_tok, F.lit(1.0))
    len_ok = F.when((n_tok >= 5) & (n_tok <= 100000), 0.25).otherwise(0.0)
    punct_ok = F.when(punct_ratio(c) <= 0.2, 0.25).otherwise(0.0)
    sw_ok = F.when(stopword_ratio(c) >= 0.05, 0.25).otherwise(0.0)
    wl_ok = F.when((mean_wl >= 2.0) & (mean_wl <= 12.0), 0.25).otherwise(0.0)
    return len_ok + punct_ok + sw_ok + wl_ok


def repeated_token_fraction(col: Column | str) -> Column:
    """Fraction of tokens that are repeats of an earlier token:
    ``1 - |distinct tokens| / |tokens|``. The cheapest of the
    Gopher-style repetition signals (Rae et al. 2021 §A1.1 use
    duplicate line/paragraph fractions; token-level is the word-salad
    analogue). 0 for an all-distinct doc, → 1 for a doc that loops one
    token."""
    return _let(
        word_tokens(col),
        lambda toks: (F.size(toks) - F.size(F.array_distinct(toks))).cast("double")
        / F.greatest(F.size(toks), F.lit(1)).cast("double"),
    )


def repeated_ngram_fraction(col: Column | str, n: int = 2) -> Column:
    """Fraction of word n-grams that are duplicates of an earlier
    n-gram — catches phrase-level loops that token-level repetition
    misses (a doc cycling 'a b c a b c' has low token novelty already,
    but 'x1 y1 x2 y2 x1 y1' only shows up at n≥2)."""
    return _let(
        word_ngrams(col, n),
        lambda g: (F.size(g) - F.size(F.array_distinct(g))).cast("double")
        / F.greatest(F.size(g), F.lit(1)).cast("double"),
    )


# PII patterns chosen to parse identically under Java regex (Spark) and
# RE2 (DuckDB): no backreferences, no lookaround, ASCII word boundaries.
_PII_PATTERNS: list[tuple[str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
]


def scrub_pii(col: Column | str, replacement: str = "[PII]") -> Column:
    """Redact emails, NANP-style phone numbers and IPv4 addresses with
    ``replacement`` — the pre-training PII scrub pass. A chain of
    ``regexp_replace`` Column ops (JVM-side, codegen'd, no UDF); order
    matters: emails first so 'user@1.2.3.4'-style hosts are consumed
    before the IPv4 rule sees them."""
    out = F.col(col) if isinstance(col, str) else col
    for _, pat in _PII_PATTERNS:
        out = F.regexp_replace(out, pat, replacement)
    return out


def pii_match_count(col: Column | str, replacement: str = "[PII]") -> Column:
    """Number of PII spans :func:`scrub_pii` would redact — counted as
    ``regexp_count`` per pattern over the SAME sequential replacement
    chain the scrub runs, so each count is exactly the number of
    replacements that step performs. (The earlier marker-length-delta
    form overcounted when the input text already contained the marker
    literally, and divided by zero for ``replacement=''``.)"""
    cur = F.col(col) if isinstance(col, str) else col
    total = F.lit(0).cast("bigint")
    for _, pat in _PII_PATTERNS:
        total = total + F.regexp_count(cur, F.lit(pat)).cast("bigint")
        cur = F.regexp_replace(cur, pat, replacement)
    return total


def fingerprint(col: Column | str) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted
    distinct token set (key-collapsing fingerprint à la OpenRefine).
    Identical token multisets → identical fingerprint."""
    toks = F.array_sort(F.array_distinct(word_tokens(col)))
    return F.md5(F.array_join(toks, " "))


# Rabin-Karp parameters: mod 2^31-1 keeps every intermediate inside a
# signed 64-bit lane (acc < 2^31, acc·131 + h < 2^39 — no overflow, no
# engine-specific wraparound), so the fold is bit-exact everywhere.
_ROLL_BASE = 131
_ROLL_MOD = (1 << 31) - 1


def rolling_fingerprint(col: Column | str) -> Column:
    """ORDER-SENSITIVE Rabin-Karp document fingerprint: a polynomial
    rolling hash over per-token hashes, ``fp = Σ h(tok_i)·B^(n-1-i)
    mod M`` computed as a left fold. The order-sensitive complement of
    :func:`fingerprint` — 'a b' and 'b a' collide there but not here —
    and the standard sketch for shift-detection / content-defined
    chunking. Per-token hash is the first 48 bits of md5, so the whole
    derivation is engine-portable integer arithmetic (no xxhash64,
    which the DuckDB oracle lacks). Pure fold expression — linear,
    shuffle-free, no UDF."""
    return rolling_fingerprint_of_tokens(word_tokens(col))


def rolling_fingerprint_of_tokens(toks: Column) -> Column:
    """:func:`rolling_fingerprint` over an already-tokenized array —
    the shared-tokenization entry point (a caller that derives several
    token-level features from one persisted ``word_tokens`` column
    must not re-tokenize per feature). Same expression tree as the
    text form, so values are bit-identical; NULL array → NULL fp,
    mirroring NULL text."""
    return F.aggregate(
        F.transform(
            toks,
            lambda t: F.conv(F.substring(F.md5(t), 1, 12), 16, 10).cast("bigint")
            % _ROLL_MOD,
        ),
        F.lit(0).cast("bigint"),
        lambda acc, h: (acc * _ROLL_BASE + h) % _ROLL_MOD,
    )


# --- text normalization (pre-dedup/pre-fingerprint cleanup) ---------
# Typographic variants of the same content (curly vs straight quotes,
# en/em dashes, NBSP, zero-width chars, soft hyphens) defeat exact and
# shingle dedup: two visually-identical documents hash apart. This is
# the C4/CCNet-style normalization pass run BEFORE fingerprint/dedup.
# Scope is stated honestly: typographic folding + control/format-char
# stripping + whitespace collapse, all as JVM translate/regexp
# expressions. FULL Unicode NFKC needs ICU and is out of scope -- for
# corpora where compatibility normalization matters, run an Arrow
# pandas_udf with unicodedata.normalize as the documented slow path.
_QUOTE_SRC = "\u2018\u2019\u201a\u201b\u201c\u201d\u201e\u201f\u00ab\u00bb\u2039\u203a"
_QUOTE_DST = "''''" + '"' * 6 + "''"
_DASH_SRC = "\u2010\u2011\u2012\u2013\u2014\u2015\u2212"
_DASH_DST = "-" * 7
# stripped entirely: zero-width space/joiner/non-joiner, word joiner,
# BOM, soft hyphen, directional marks
_ZERO_WIDTH_RE = "[\u200b\u200c\u200d\u2060\ufeff\u00ad\u200e\u200f]"
# mapped to a plain space: NBSP, narrow NBSP, ogham/ideographic spaces,
# the U+2000-200A typographic space run, plus C0/C1 control chars
_SPACE_RE = "[\u00a0\u202f\u1680\u3000\u2000-\u200a\x00-\x1f\x7f-\x9f]"


def normalize_text(col: Column | str) -> Column:
    """Typographic normalization: fold curly quotes/dashes to ASCII,
    drop zero-width/format characters, map exotic spaces and control
    characters to plain spaces, collapse whitespace runs, trim."""
    c = F.col(col) if isinstance(col, str) else col
    folded = F.translate(c, _QUOTE_SRC + _DASH_SRC, _QUOTE_DST + _DASH_DST)
    stripped = F.regexp_replace(folded, _ZERO_WIDTH_RE, "")
    spaced = F.regexp_replace(stripped, _SPACE_RE, " ")
    return F.trim(F.regexp_replace(spaced, r"\s+", " "))
