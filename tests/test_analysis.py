"""Tokenizer golden tests — the reference contract bit-for-bit
(reference analogs: TextAnalyzerTest.java, TokenLengthLimitTest.java,
DefaultTokenizerCaseTest.java)."""

import pandas as pd
import pytest

from tantivy4java_spark.analysis import (
    DEFAULT_TOKEN_LIMIT, parse_tokenizer_name, sql_tokenize_expr,
    tokenize_series, tokenize_text)


def test_default_tokenizer_split_lower():
    assert tokenize_text("Hello, World! FOO_bar") == [
        ("hello", 0), ("world", 1), ("foo", 2), ("bar", 3)]


def test_underscore_splits():
    # Rust char::is_alphanumeric excludes '_'
    assert [t for t, _ in tokenize_text("snake_case_name")] == ["snake", "case", "name"]


def test_no_stopword_removal():
    # README claims stopwords; code does not remove them (text_analyzer.rs:210-216)
    assert [t for t, _ in tokenize_text("the quick THE")] == ["the", "quick", "the"]


def test_numbers_kept():
    assert [t for t, _ in tokenize_text("abc123 456")] == ["abc123", "456"]


def test_long_token_dropped_not_truncated():
    long_tok = "x" * 256
    toks = tokenize_text(f"short {long_tok} tail")
    assert [t for t, _ in toks] == ["short", "tail"]
    # position gap preserved (tantivy filters skip tokens, keep positions)
    assert [p for _, p in toks] == [0, 2]


def test_255_byte_token_kept():
    tok = "y" * 255
    assert (tok, 0) in tokenize_text(tok)


def test_utf8_byte_limit():
    # 128 three-byte chars = 384 bytes > 255 -> dropped
    tok = "中" * 128
    assert tokenize_text(f"a {tok} b") == [("a", 0), ("b", 2)]


def test_whitespace_tokenizer_keeps_punct():
    assert [t for t, _ in tokenize_text("Foo-Bar baz!", "whitespace")] == \
        ["foo-bar", "baz!"]


def test_keyword_raw_whole_value():
    assert tokenize_text("Hello World!", "keyword") == [("Hello World!", 0)]
    assert tokenize_text("CaseSensitive", "raw") == [("CaseSensitive", 0)]
    assert tokenize_text("", "raw") == []


def test_tokenizer_name_with_limit():
    assert parse_tokenizer_name("default-64") == ("default", 64)
    assert parse_tokenizer_name("default") == ("default", DEFAULT_TOKEN_LIMIT)
    with pytest.raises(ValueError):
        parse_tokenizer_name("default-0")


def test_series_matches_scalar():
    texts = pd.Series(["Hello, World!", None, "", "a_b c"])
    out = tokenize_series(texts).tolist()
    assert out[0] == tokenize_text("Hello, World!")
    assert out[1] == [] and out[2] == []
    assert out[3] == tokenize_text("a_b c")


def test_sql_path_matches_python_path(spark):
    """The JVM fast path and the pandas golden path must agree bit-for-bit."""
    from pyspark.sql import functions as F
    rows = [
        ("Hello, World! FOO_bar",), ("the quick THE",), ("abc123 456",),
        ("snake_case_name",), (None,), ("",), ("Unicode: café naïve",),
        ("x" * 256 + " tail",), ("trailing space ",), (" lead",),
    ]
    df = spark.createDataFrame(rows, ["text"])
    got = df.select(sql_tokenize_expr(F.col("text")).alias("toks")).collect()
    for (text,), row in zip(rows, got):
        expected = [{"term": t, "pos": p} for t, p in tokenize_text(text or "")]
        actual = [{"term": s["term"], "pos": s["pos"]} for s in row["toks"]]
        assert actual == expected, f"mismatch for {text!r}"


# -- kernels whose pandas reference was deleted: pinned to the golden path --

_TIGHT_TEXTS = [
    "İstanbul İİ İ ß straße STRASSE ẞ", "ǅemal Ωmega мир 世界 ＡＢＣ x_y",
    "a bb ccc dddd eeeee", "naïve café CAFÉ Œuvre", None, "",
]


@pytest.mark.parametrize("tokenizer", ["default", "whitespace"])
def test_token_len_expr_matches_sql_tokenizer(spark, tokenizer):
    """The docs-table length column counts exactly the tokens
    sql_tokenize_expr keeps, also where lowercasing changes the UTF-8 length
    (İ -> i + U+0307, 2 -> 3 bytes) and the limit cuts multi-byte tokens."""
    from pyspark.sql import functions as F
    from tantivy4java_spark.build import IndexBuilder
    from tantivy4java_spark.schema import FieldConfig, IndexConfig
    df = spark.createDataFrame([(t,) for t in _TIGHT_TEXTS], "text string")
    for limit in (1, 2, 3, 4, 6):
        fc = FieldConfig("text", "text", tokenizer=tokenizer, token_limit=limit)
        b = IndexBuilder(spark, IndexConfig(fields=[fc]), "unused")
        got = df.select(
            b._token_len_expr(fc, df).alias("n"),
            F.size(sql_tokenize_expr(F.col("text"), tokenizer, limit))
            .alias("want")).collect()
        assert [r["n"] for r in got] == [r["want"] for r in got], limit


def _kernel_rows(texts, limit=DEFAULT_TOKEN_LIMIT):
    """(doc, term) -> (tf, norm_id, positions) from the mapInArrow kernel."""
    import pyarrow as pa
    from tantivy4java_spark.build import _tokenize_agg_fn
    from tantivy4java_spark.codec import decode_positions
    rb = pa.RecordBatch.from_arrays(
        [pa.array(range(len(texts)), pa.int64()), pa.array(texts, pa.string())],
        names=["doc_id", "body"])
    out = {}
    for batch in _tokenize_agg_fn("body", "default", limit)(iter([rb])):
        d = batch.to_pydict()
        assert set(d["field"]) == {"body"}
        for doc, term, tf, norm, pb in zip(d["doc_id"], d["term"], d["tf"],
                                           d["norm_id"], d["pos_bin"]):
            out[(doc, term)] = (tf, norm, decode_positions(pb).tolist())
    return out


def _golden_rows(texts, limit=DEFAULT_TOKEN_LIMIT):
    from tantivy4java_spark.fieldnorm import fieldnorm_to_id
    out = {}
    for doc, text in enumerate(texts):
        toks = tokenize_text(text, "default", limit)
        norm = int(fieldnorm_to_id([len(toks)])[0])
        per_term = {}
        for t, p in toks:
            per_term.setdefault(t, []).append(p)
        for t, ps in per_term.items():
            out[(doc, t)] = (len(ps), norm, ps)
    return out


@pytest.mark.parametrize("texts,ascii_kernel", [
    (["Hello World hello", "İstanbul straße İİ", "naïve café CAFÉ",
      None, "", "x" * 300 + " tail x", "snake_case 42 Snake"], False),
    (["Hello, World! FOO_bar foo", "the quick THE", "abc123 456",
      None, "", "y" * 256 + " tail", "a-b a_b A.B"], True),
], ids=["mixed-non-ascii", "pure-ascii"])
@pytest.mark.parametrize("limit", [DEFAULT_TOKEN_LIMIT, 4])
def test_tokenize_kernel_matches_tokenize_text(monkeypatch, texts,
                                               ascii_kernel, limit):
    """Both kernels of the posting tokenizer give tokenize_text's
    (doc, term, tf, positions); the per-batch ASCII gate routes a batch with
    any non-ASCII row to the pandas regex kernel, a pure-ASCII batch to the
    Arrow/RE2 kernel."""
    import pyarrow.compute as pc
    calls = []
    real_split = pc.split_pattern_regex

    def spy(*a, **kw):
        calls.append(1)
        return real_split(*a, **kw)

    monkeypatch.setattr(pc, "split_pattern_regex", spy)
    assert _kernel_rows(texts, limit) == _golden_rows(texts, limit)
    assert bool(calls) == ascii_kernel
