"""URL canonicalization + keying.

The reference normalizes join keys with ``replace(symbol,'/','-')``
(/root/reference/src/actions/stage/nyse_instruments.rs:135,149,175); the
crawler analog is URL canonicalization before SHA-1 keying (SURVEY.md F1/F16).

Canonicalization exists in two equivalence-pinned forms: the DEFAULT pure
JVM expression (``canonicalize_col`` — regexp/lower/substr/array_sort
built-ins, whole-stage codegen, zero Python on the link hot path) and the
vectorized pandas reference (``canonicalize_series`` via an Arrow-batched
pandas UDF — never row-at-a-time Python-in-Spark). Rules — deterministic,
order matters:

1. trim whitespace; drop the ``#fragment``
2. lowercase scheme and authority (host[:port])
3. strip default ports (http:80 / https:443)
4. empty path -> ``/``; strip one trailing ``/`` from non-root paths
5. sort ``&``-separated query params bytewise; drop an empty ``?``
6. non-http(s)/unparseable input -> NULL (filtered out upstream, counted)

SHA-1 keying and host extraction stay JVM-side (built-in ``sha1`` /
``regexp_extract``) so they run inside whole-stage codegen.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_URL_RE = r"^(?P<scheme>[A-Za-z][A-Za-z0-9+.\-]*)://(?P<auth>[^/?#]*)(?P<rest>.*)$"


def canonicalize_series(s: pd.Series) -> pd.Series:
    """Vectorized canonicalization of a pandas Series of URL strings."""
    s = s.astype("object").fillna("").astype(str).str.strip()
    s = s.str.split("#", n=1).str[0]
    parts = s.str.extract(_URL_RE).astype("object")  # keep .str usable when all-NaN
    scheme = parts["scheme"].str.lower()
    auth = parts["auth"].str.lower()

    is_http = scheme == "http"
    is_https = scheme == "https"
    auth = auth.mask(is_http & auth.str.endswith(":80"), auth.str.slice(0, -3))
    auth = auth.mask(is_https & auth.str.endswith(":443"), auth.str.slice(0, -4))

    rest = parts["rest"].fillna("")
    pq = rest.str.split("?", n=1)
    path = pq.str[0].astype("object")
    query = pq.str[1]  # NaN where no '?'
    query = query.where(query.notna(), None).astype("object")

    # strip ALL trailing slashes (idempotency: '///' must not survive a
    # pass), then restore the root slash
    path = path.str.replace(r"/+$", "", regex=True)
    path = path.mask(path == "", "/")

    has_multi = query.notna() & query.str.contains("&", regex=False)
    if has_multi.any():
        query = query.mask(
            has_multi,
            query[has_multi].map(lambda q: "&".join(sorted(q.split("&")))),
        )
    qsuffix = ("?" + query.fillna("")).where(query.notna() & (query != ""), "")

    out = scheme + "://" + auth + path + qsuffix
    valid = (is_http | is_https) & (auth.notna()) & (auth != "")
    return out.where(valid, None)


def canonicalize_url(url: str) -> str | None:
    """Scalar convenience wrapper (tests / driver-side seeds)."""
    return canonicalize_series(pd.Series([url])).iloc[0]


@F.pandas_udf(T.StringType())
def canonicalize_udf(s: pd.Series) -> pd.Series:
    return canonicalize_series(s)


# Python str.strip()'s whitespace set as literal characters (F.trim strips
# only 0x20; the pandas reference strips all of these)
_PY_WS_CHARS = (
    "\t\n\x0b\f\r \x1c\x1d\x1e\x1f\x85\xa0 "
    + "".join(chr(cp) for cp in range(0x2000, 0x200B))
    + "    　"
)
_INT_MAX = 2147483647


def _bind(expr: Column, fn) -> Column:
    """Evaluate ``expr`` exactly ONCE per row and pass it to ``fn``.

    A bare Column reused n times in a Catalyst expression tree is
    re-evaluated n times (references duplicate the whole subtree —
    a naive chained form of this function measured 10x slower than the
    pandas UDF it replaces purely from recomputation). A single-element
    higher-order ``transform`` introduces a true lambda binding the
    optimizer will not inline — explicit common-subexpression
    elimination."""
    return F.get(F.transform(F.array(expr), fn), 0)


# built canonicalize_col Columns, per input column name: (gateway, Column)
_CANON_BUILT: dict[str, tuple[object, Column]] = {}


def canonicalize_col(url: Column | str) -> Column:
    """JVM-side canonicalization — the same rules as ``canonicalize_series``;
    see ``_build_canonicalize_col``. Building the expression tree costs
    hundreds of py4j calls, so the Column built for a column NAME is kept
    and reused for as long as the JVM gateway that built it is alive (a
    Column is an unresolved expression, valid in any plan of that JVM)."""
    if not isinstance(url, str):
        return _build_canonicalize_col(url)
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    built = _CANON_BUILT.get(url)
    # identity, not id(): a later gateway may reuse a dead one's id
    if built is None or built[0] is not gateway:
        built = (gateway, _build_canonicalize_col(F.col(url)))
        _CANON_BUILT[url] = built
    return built[1]


def _build_canonicalize_col(c: Column) -> Column:
    """The rules of ``canonicalize_series`` as pure built-in expressions,
    so the biggest per-row pass of the crawl loop (every extracted link,
    1-2M rows/round at bench scale) runs JVM-side with NO Python worker
    hop. Deliberately REGEX-FREE on the per-row hot path (btrim /
    substring_index / instr / substr arithmetic): a java.util.regex port of the reference pattern
    measured SLOWER than the Arrow+pandas single-extract it replaced.
    Intermediates are staged through ``_bind`` so each evaluates once.

    Equivalence to the pandas reference is exact and pinned
    (``test_urls.py::test_jvm_matches_pandas_reference`` adversarial
    battery incl. unicode whitespace/case/newlines, plus the engine-agree
    test). Two subtle reference behaviors reproduced deliberately: a
    '\\n' inside the AUTHORITY is accepted (the ``[^/?#]*`` class crosses
    it) while a '\\n' in path/query rejects the URL (Python's ``.*$``
    crosses neither '.', nor '$' past a non-final newline); and
    query-param sort order matches Python ``sorted()`` because UTF-8 byte
    order == code-point order."""
    prep = F.substring_index(F.btrim(c, F.lit(_PY_WS_CHARS)), "#", 1)

    def with_s(s):
        return _bind(F.instr(s, "://"), lambda p: with_p(s, p))

    def with_p(s, p):
        scheme = F.lower(s.substr(F.lit(1), F.greatest(p - 1, F.lit(0))))
        after = s.substr(p + F.lit(3), F.length(s))
        return _bind(
            F.struct(scheme.alias("sch"), after.alias("aft")),
            lambda t: with_after(t["sch"], t["aft"]),
        )

    def with_after(scheme, after):
        a1 = F.instr(after, "/")
        a2 = F.instr(after, "?")
        has_delim = (a1 > 0) | (a2 > 0)
        end = F.least(
            F.when(a1 > 0, a1).otherwise(F.lit(_INT_MAX)),
            F.when(a2 > 0, a2).otherwise(F.lit(_INT_MAX)),
        )
        auth0 = F.lower(
            F.when(has_delim, after.substr(F.lit(1), end - 1)).otherwise(after)
        )
        rest0 = F.when(has_delim, after.substr(end, F.length(after))).otherwise(
            F.lit("")
        )
        # Mirror Python's '$': it matches BEFORE a single string-final
        # newline, so the pandas reference silently drops exactly one
        # trailing '\n' from the rest portion ('http://h/p\n#frag' ->
        # 'http://h/p'). Strip it here so rest_ok only rejects INTERIOR
        # newlines. NOT applied to the authority: '[^/?#]*' crosses '\n',
        # so a trailing newline that lands inside the authority is KEPT by
        # the reference ('http://h\n#f' -> 'http://h\n/') — rest0 is
        # already '' in that case and stays untouched.
        rest = _bind(
            rest0,
            lambda r: F.when(
                r.endswith("\n"), r.substr(F.lit(1), F.length(r) - 1)
            ).otherwise(r),
        )
        return _bind(
            F.struct(auth0.alias("auth0"), rest.alias("rest")),
            lambda t: with_rest(scheme, t["auth0"], t["rest"]),
        )

    def with_rest(scheme, auth0, rest):
        is_http = scheme == "http"
        is_https = scheme == "https"
        auth = (
            F.when(
                is_http & auth0.endswith(":80"),
                auth0.substr(F.lit(1), F.length(auth0) - 3),
            )
            .when(
                is_https & auth0.endswith(":443"),
                auth0.substr(F.lit(1), F.length(auth0) - 4),
            )
            .otherwise(auth0)
        )
        q = F.instr(rest, "?")
        path0 = F.rtrim(
            F.when(q > 0, rest.substr(F.lit(1), q - 1)).otherwise(rest),
            F.lit("/"),
        )
        path = F.when(path0 == "", F.lit("/")).otherwise(path0)
        query = F.when(q > 0, rest.substr(q + F.lit(1), F.length(rest)))
        return _bind(
            F.struct(
                auth.alias("auth"), path.alias("path"), query.alias("query"),
                (F.instr(rest, "\n") == 0).alias("rest_ok"),
            ),
            lambda t: finish(
                scheme, is_http | is_https,
                t["auth"], t["path"], t["query"], t["rest_ok"],
            ),
        )

    def finish(scheme, is_httpish, auth, path, query, rest_ok):
        qsorted = F.array_join(F.array_sort(F.split(query, "&", -1)), "&")
        qsuffix = F.when(
            query.isNotNull() & (query != ""), F.concat(F.lit("?"), qsorted)
        ).otherwise(F.lit(""))
        out = F.concat(scheme, F.lit("://"), auth, path, qsuffix)
        valid = is_httpish & (auth != "") & rest_ok
        return F.when(valid, out).otherwise(F.lit(None).cast("string"))

    return _bind(prep, with_s)


def host_col(url: Column | str) -> Column:
    """Host of an already-canonical URL — JVM-side regexp, codegen-friendly."""
    c = F.col(url) if isinstance(url, str) else url
    return F.regexp_extract(c, r"^[a-z0-9+.\-]+://([^/:?#]+)", 1)


def sha1_col(url: Column | str) -> Column:
    """Lowercase hex SHA-1 of the canonical URL (the URL-seen key, F16)."""
    c = F.col(url) if isinstance(url, str) else url
    return F.sha1(c)


def with_canonical_url(
    df: DataFrame, url_col: str = "url", engine: str = "jvm"
) -> DataFrame:
    """Add url_canon, url_sha1, host; drop rows that fail canonicalization.

    ``engine="jvm"`` (default) uses the codegen expression form
    (``canonicalize_col``) — no Python workers on the link hot path;
    ``engine="pandas"`` keeps the Arrow-batched reference implementation
    (the two are equivalence-pinned and interchangeable)."""
    canon = (
        canonicalize_col(url_col)
        if engine == "jvm"
        else canonicalize_udf(F.col(url_col))
    )
    return (
        df.withColumn("url_canon", canon)
        .filter(F.col("url_canon").isNotNull())
        .withColumn("url_sha1", sha1_col("url_canon"))
        .withColumn("host", host_col("url_canon"))
    )
