"""Text-analysis functions over synthetic rows (LLM-pipeline family)."""

from adi_226_datawarehouse_project_spark.functions.text import (
    fingerprint,
    lang_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
    word_ngrams,
)


def _vals(spark, rows, col):
    df = spark.createDataFrame([(r,) for r in rows], ["text"])
    return [r["v"] for r in df.select(col.alias("v")).collect()]


def test_token_count(spark):
    got = _vals(spark, ["a b  c", "  ", "one"], token_count("text"))
    assert got == [3, 0, 1]


def test_word_ngrams(spark):
    got = _vals(spark, ["a b c"], word_ngrams("text", 2))
    assert got == [["a b", "b c"]]


def test_lang_id(spark):
    rows = [
        "the cat sat on the mat and it is happy",
        "le chat est sur la table et il est content",
        "der Hund ist nicht mit der Katze",
        "xyzzy qwerty asdf",
    ]
    got = _vals(spark, rows, lang_id("text"))
    assert got == ["en", "fr", "de", "und"]


def test_stopword_and_punct_ratio(spark):
    got = _vals(spark, ["the the xyz xyz"], stopword_ratio("text"))
    assert got == [0.5]
    got = _vals(spark, ["ab,."], punct_ratio("text"))
    assert got == [0.5]


def test_quality_score_bounds(spark, sf_dir):
    from adi_226_datawarehouse_project_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    stats = docs.select(quality_score("text").alias("q")).agg(
        {"q": "min"}
    ).collect()[0][0]
    assert 0.0 <= stats <= 1.0


def test_fingerprint_order_insensitive(spark):
    got = _vals(
        spark,
        ["alpha beta gamma", "gamma  alpha beta", "alpha beta delta"],
        fingerprint("text"),
    )
    assert got[0] == got[1] and got[0] != got[2]


def test_repeated_token_fraction(spark):
    from adi_226_datawarehouse_project_spark.functions.text import (
        repeated_ngram_fraction,
        repeated_token_fraction,
    )

    got = _vals(spark, ["a a a a", "a b c d", ""], repeated_token_fraction("text"))
    assert got == [0.75, 0.0, 0.0]
    # 'x y x y x y': bigrams [x y, y x, x y, y x, x y] -> 3 repeats of 5
    got = _vals(spark, ["x y x y x y"], repeated_ngram_fraction("text", 2))
    assert got == [0.6]


def test_scrub_pii(spark):
    from adi_226_datawarehouse_project_spark.functions.text import (
        pii_match_count,
        scrub_pii,
    )

    rows = [
        "mail bob.smith+x@sub.example.co.uk today",
        "call 555-123-4567 or 555.987.6543",
        "host 192.168.1.254 up",
        "clean text with no secrets 12345",
        "v1.2 released",  # version string must NOT look like an IPv4
    ]
    scrubbed = _vals(spark, rows, scrub_pii("text"))
    assert scrubbed[0] == "mail [PII] today"
    assert scrubbed[1] == "call [PII] or [PII]"
    assert scrubbed[2] == "host [PII] up"
    assert scrubbed[3] == rows[3]
    assert scrubbed[4] == rows[4]
    counts = _vals(spark, rows, pii_match_count("text"))
    assert counts == [1, 2, 1, 0, 0]


def test_rolling_fingerprint(spark):
    from adi_226_datawarehouse_project_spark.functions.text import (
        _ROLL_BASE,
        _ROLL_MOD,
        rolling_fingerprint,
    )
    import hashlib

    def _py_roll(text):
        acc = 0
        for t in text.lower().split():
            h = int(hashlib.md5(t.encode()).hexdigest()[:12], 16) % _ROLL_MOD
            acc = (acc * _ROLL_BASE + h) % _ROLL_MOD
        return acc

    rows = ["hello world test", "world hello test", "", "one"]
    got = _vals(spark, rows, rolling_fingerprint("text"))
    assert got == [_py_roll(r) for r in rows]
    # order-sensitive: permuted docs must differ (unlike fingerprint())
    assert got[0] != got[1]


def test_normalize_text_typographic_folding(spark):
    from adi_226_datawarehouse_project_spark.functions.text import normalize_text

    cases = [
        # curly quotes and dashes fold to ASCII
        ("“Hello” — it’s fine", '"Hello" - it\'s fine'),
        # zero-width chars vanish; NBSP and thin space become plain
        ("z​ip and span", "zip and span"),
        # control chars -> space, runs collapse, edges trim
        ("a\x00b\n\n  c\t ", "a b c"),
        # soft hyphen dropped (re-joins the word), guillemets fold
        ("co­operate «q»", 'cooperate "q"'),
        ("", ""),
    ]
    import hashlib

    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(i=i, t=src) for i, (src, _) in enumerate(cases)]
    )
    got = {
        r["i"]: r["n"] for r in df.select("i", normalize_text("t").alias("n")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)
    # the point of the pass: typographic variants of the SAME content
    # now fingerprint identically
    from adi_226_datawarehouse_project_spark.functions.text import fingerprint

    pair = spark.createDataFrame(
        [Row(i=0, t="“quote” – text"), Row(i=1, t='"quote" - text')]
    )
    fps = [
        r["f"]
        for r in pair.select(fingerprint(normalize_text("t")).alias("f")).collect()
    ]
    assert fps[0] == fps[1]
