from __future__ import annotations

from data_prep_opensearch_spark.functions.tokenize import (
    TOKENIZERS,
    term_frequencies,
    tokenize_code,
    tokenize_simple,
)


def doc_length(text: str, mode: str = "simple") -> int:
    """A document's length in tokens, as the index counts it."""
    return len(TOKENIZERS[mode](text))


def test_simple_lowercase_and_split():
    assert tokenize_simple("Foo bar-baz 42 foo_bar") == ["foo", "bar", "baz", "42", "foo_bar"]


def test_simple_empty_and_punct():
    assert tokenize_simple("") == []
    assert tokenize_simple("!!! ... ???") == []


def test_code_splits_snake_and_camel():
    toks = tokenize_code("parseJson parse_json HTTPServer x")
    assert "parsejson" in toks and "parse" in toks and "json" in toks
    assert "parse_json" in toks
    assert "httpserver" in toks and "http" in toks and "server" in toks
    assert toks.count("x") == 1  # single-part identifiers not duplicated


def test_term_frequencies_and_doclen():
    tf = term_frequencies("a b a c a", "simple")
    assert tf == {"a": 3, "b": 1, "c": 1}
    assert doc_length("a b a c a", "simple") == 5


def test_arrow_code_path_matches_python_multiset():
    """The Arrow-vectorized 'code' path in index_build._flatten_tokens
    must produce the same per-document token MULTISET (and doclen) as
    functions.tokenize.tokenize_code — property-tested over generated
    identifier soup plus adversarial literals."""
    from collections import Counter

    import numpy as np
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from data_prep_opensearch_spark.operators.index_build import _flatten_tokens

    def flat_multisets(texts):
        pdf = pd.DataFrame({
            "doc_id": np.arange(len(texts), dtype=np.int64),
            "shard": np.zeros(len(texts), dtype=np.int32),
            "content": texts,
        })
        fl = _flatten_tokens(pdf, "code")
        out = [Counter() for _ in texts]
        for code, doc, tf in zip(fl.codes, fl.doc_ids, fl.tfs):
            out[int(doc)][fl.uniques[int(code)]] += int(tf)
        return out, fl.doc_lens

    fixed = [
        "parseJson parse_json HTTPServer x",
        "getXMLHttp2Request __dunder__ a1B2 ABC X9",
        "snake_case_id camelCase MixedHTTPCase 123abc abc123",
        "", "   ", "_", "__", "a", "Z",
        "ÉcoleÀParis naïveBayes",  # non-ASCII stays outside [A-Za-z0-9_]
    ]
    got, lens = flat_multisets(fixed)
    for text, counter, dl in zip(fixed, got, lens):
        want = Counter(tokenize_code(text))
        assert counter == want, (text, counter, want)
        assert int(dl) == sum(want.values())

    ident_chars = st.text(
        alphabet="abcXYZ019_", min_size=0, max_size=12)
    texts_strategy = st.lists(
        st.lists(ident_chars, min_size=0, max_size=6).map(" ".join),
        min_size=1, max_size=8)

    @settings(max_examples=150, deadline=None)
    @given(texts_strategy)
    def prop(texts):
        got, lens = flat_multisets(texts)
        for text, counter, dl in zip(texts, got, lens):
            want = Counter(tokenize_code(text))
            assert counter == want, (text, counter, want)
            assert int(dl) == sum(want.values())

    prop()
