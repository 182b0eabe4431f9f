"""Canonicalization unit tests — the layer-1 pure-function tests of
SURVEY.md §5 (analog: JSON-parsing shape tests at
/root/reference/src/actions/collect/nyse_events.rs:348-468)."""

import hashlib

import pandas as pd
import pytest

from data_collector_spark.functions.urls import (
    canonicalize_series,
    canonicalize_url,
    with_canonical_url,
)

CASES = [
    ("http://Example.COM/path", "http://example.com/path"),
    ("HTTPS://example.com:443/a/", "https://example.com/a"),
    ("http://example.com:80/", "http://example.com/"),
    ("http://example.com", "http://example.com/"),
    ("http://example.com/a#frag", "http://example.com/a"),
    ("http://example.com/a?b=2&a=1", "http://example.com/a?a=1&b=2"),
    ("http://example.com/a?single=1", "http://example.com/a?single=1"),
    ("  http://example.com/x  ", "http://example.com/x"),
    ("http://example.com:8080/x", "http://example.com:8080/x"),
    ("http://example.com/a?", "http://example.com/a"),
    # Python-regex '$' matches before ONE string-final newline (ADVICE r4)
    ("http://h/p\n#frag", "http://h/p"),
    ("http://h/p?a=1\n#f", "http://h/p?a=1"),
    ("http://h\n#frag", "http://h\n/"),
    ("http://h/p\n\n#f", None),
    ("ftp://example.com/x", None),
    ("not a url", None),
    ("", None),
    (None, None),
]


@pytest.mark.parametrize("raw,expected", CASES)
def test_canonicalize_scalar(raw, expected):
    assert canonicalize_url(raw) == expected


def test_canonicalize_vectorized_matches_scalar():
    raw = [c[0] for c in CASES]
    out = canonicalize_series(pd.Series(raw, dtype="object"))
    assert list(out) == [c[1] for c in CASES]


def test_idempotent():
    for raw, expected in CASES:
        if expected is not None:
            assert canonicalize_url(expected) == expected


ADVERSARIAL = [c[0] for c in CASES if c[0] is not None] + [
    "\u00a0http://a.b/x\u3000",          # unicode whitespace strip
    "\t\nhttp://a.b/x \r",
    "HTTP://\u00dcBER.DE/Path",          # unicode host lowercasing
    "http://MiXeD.CaSe:80/P?b=2&a=1#f",
    "http://a.b/p?z&y&x",
    "http://a.b//",
    "http://a.b/p///",
    "http://a.b/p?a=1&",                 # trailing empty param
    "http://a.b/p?b?c=2&a",              # '?' inside the query
    "http://a.b:443/x",                  # non-default port for http: kept
    "https://a.b:80/x",
    "x1+z.a://h/p",                      # valid scheme syntax, not http(s)
    "http:///p",                         # empty authority
    "http://h/p#a#b",
    "http://h/p?q#frag",
    "#onlyfrag",
    "http://h\nx/p",                     # interior newline: no match
    # Python-'$' newline semantics (ADVICE r4): one string-final '\n' in
    # the pre-fragment REST is dropped (matched before by '$'), a trailing
    # '\n' consumed by the authority class is kept, anything else is NULL
    "http://h/p\n#frag",                 # -> http://h/p
    "http://h/p?a=1\n#f",                # -> http://h/p?a=1
    "http://h\n#frag",                   # auth keeps the '\n'
    "http://h/\n#f",                     # -> http://h/
    "http://h/p\n\n#f",                  # two finals: no match -> NULL
    "http://h/a\nb#f",                   # interior in rest -> NULL
    "://h/p",
    "http//h/p",
    "a" * 150,
]


def test_jvm_matches_pandas_reference(spark):
    """canonicalize_col (codegen) must agree byte-for-byte with the pandas
    reference on every adversarial input, including NULL handling."""
    from pyspark.sql import functions as F

    from data_collector_spark.functions.urls import canonicalize_col

    df = spark.createDataFrame([(u,) for u in ADVERSARIAL] + [(None,)], "url string")
    rows = df.select(
        "url",
        canonicalize_col("url").alias("jvm"),
        F.pandas_udf(lambda s: canonicalize_series(s), "string")("url").alias("ref"),
    ).collect()
    for r in rows:
        assert r["jvm"] == r["ref"], (r["url"], r["jvm"], r["ref"])
    # and the JVM form is idempotent through itself
    canon = [r["jvm"] for r in rows if r["jvm"] is not None]
    df2 = spark.createDataFrame([(u,) for u in canon], "url string")
    again = df2.select(canonicalize_col("url").alias("c")).collect()
    assert [r["c"] for r in again] == canon


def test_canonicalize_col_built_once_per_column_name(spark):
    """The expression tree is built once per input column name and reused
    (the df2 pass above already runs a reused one); a Column argument is
    always built fresh."""
    from pyspark.sql import functions as F

    from data_collector_spark.functions.urls import canonicalize_col

    assert canonicalize_col("url") is canonicalize_col("url")
    assert canonicalize_col("url") is not canonicalize_col("link")
    assert canonicalize_col(F.col("url")) is not canonicalize_col(F.col("url"))


def test_with_canonical_url_engines_agree(spark):
    df = spark.createDataFrame([(u,) for u in ADVERSARIAL], "url string")
    a = sorted(
        (r["url_canon"], r["url_sha1"], r["host"])
        for r in with_canonical_url(df, engine="jvm").collect()
    )
    b = sorted(
        (r["url_canon"], r["url_sha1"], r["host"])
        for r in with_canonical_url(df, engine="pandas").collect()
    )
    assert a == b and a


def test_with_canonical_url_spark(spark):
    df = spark.createDataFrame(
        [(c[0],) for c in CASES if c[0] is not None], "url string"
    )
    out = with_canonical_url(df).orderBy("url_canon").collect()
    expected = sorted(c[1] for c in CASES if c[1] is not None)
    assert [r["url_canon"] for r in out] == expected
    for r in out:
        assert r["url_sha1"] == hashlib.sha1(r["url_canon"].encode()).hexdigest()
        # host excludes the port — politeness budgets are per host
        assert r["host"] == r["url_canon"].split("://")[1].split("/")[0].split("?")[0].split(":")[0]
