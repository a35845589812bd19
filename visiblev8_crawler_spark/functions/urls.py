"""URL canonicalization + validation.

Re-expresses, as one deterministic contract, three places in the reference:
- protocol normalization (prepend https:// when scheme-less) — url_sender.py:93-101
- validity filter (scheme in {http,https}, non-empty netloc) — backend/app/api/
  api_v1/endpoints/tasks.py:29-52
- URL-part decomposition (scheme/host/port/path/query/etld1/stemmed) — the
  ``urls`` dimension contract, vv8_backend_database/init/
  2_mega_vv8_postgres_schema.sql:15-26

Design note (Spark-first): SURVEY.md §2.11 suggested an Arrow UDF here, but
every rule below is expressible with JVM-side builtins (regexp_extract /
lower / concat / sha2 / xxhash64), which keeps canonicalization inside
whole-stage codegen with zero Python in the hot path. The pure-Python mirror
(``canonicalize``) uses the *same regexes* so the reference simulator and the
Spark plan agree bit-for-bit.

Canonical form:
    trim -> prepend "https://" when no "scheme://" prefix -> lowercase
    scheme+host -> drop :port and userinfo -> path defaults to "/" ->
    drop #fragment -> keep ?query.
    canon_url = scheme://host + path + ('?'+query if query)
    etld1     = public-suffix eTLD+1 (functions/psl.py: the full PSL
                longest-match algorithm over the COMPLETE published list —
                psl_data.py generated from public_suffix_list.dat by
                tools/gen_psl_data.py, ~8.3k multi-label rules incl.
                IDNA/punycode twins — as InSet expressions). Matches the
                url_etld1 contract of 2_mega:24; the unabridged official
                publicsuffix.org checkPublicSuffix corpus (IDN rows
                included) passes in tests/test_urls.py.
    stemmed   = scheme://host + path  (the url_stemmed column, 2_mega:25)
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .psl import etld1_col, etld1_py

_SCHEME_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://"
_AUTH_RE = r"^[^:]+://([^/?#]*)"
_PATH_RE = r"^[^:]+://[^/?#]*(/[^?#]*)"
_QUERY_RE = r"\?([^#]*)"

VALID_SCHEMES = ("http", "https")  # backend tasks.py:29 `valid_schemas`


def _canon_cols(url: Column) -> dict[str, Column]:
    trimmed = F.trim(url)
    with_scheme = F.when(
        trimmed.rlike(_SCHEME_RE) | (F.length(trimmed) == 0), trimmed
    ).otherwise(F.concat(F.lit("https://"), trimmed))
    scheme = F.lower(F.regexp_extract(with_scheme, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    authority = F.regexp_extract(with_scheme, _AUTH_RE, 1)
    no_user = F.element_at(F.split(authority, "@"), -1)
    host = F.lower(F.element_at(F.split(no_user, ":"), 1))
    raw_path = F.regexp_extract(with_scheme, _PATH_RE, 1)
    path = F.when(raw_path == "", F.lit("/")).otherwise(raw_path)
    query = F.regexp_extract(with_scheme, _QUERY_RE, 1)
    stemmed = F.concat(scheme, F.lit("://"), host, path)
    canon = F.when(query != "", F.concat(stemmed, F.lit("?"), query)).otherwise(stemmed)
    valid = scheme.isin(*VALID_SCHEMES) & (F.length(host) > 0)
    return {
        "scheme": scheme,
        "host": host,
        "path": path,
        "query": query,
        "stemmed": stemmed,
        "canon_url": canon,
        "valid": valid,
    }


def with_canonical(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Add the full ``urls``-dimension columns (scheme, host, path, query,
    etld1, stemmed, canon_url, valid) + hash keys (url_sha256, url_hash64).
    Replaces the frontier row's own ``host`` column with the canonical host
    (derived, not trusted); etld1 is derived over that column. Frontier
    prep (operators/dedup.py) takes only canon_url, url_hash64, host, path
    and valid, from ``_canon_cols``, so it never builds etld1's public-suffix
    expression (psl.py: seconds of driver time per build)."""
    out = df
    for name, c in _canon_cols(F.col(url_col)).items():
        out = out.withColumn(name, c)
    return (
        out.withColumn("etld1", etld1_col(F.col("host")))
        .withColumn("url_sha256", F.sha2(F.col("canon_url"), 256))
        .withColumn("url_hash64", F.xxhash64(F.col("canon_url")))
    )


# ---------------------------------------------------------------------------
# Pure-Python mirror (reference simulator side) — same regexes, same rules.
# ---------------------------------------------------------------------------

_P_SCHEME = re.compile(_SCHEME_RE)
_P_SCHEME_CAP = re.compile(r"^([A-Za-z][A-Za-z0-9+.\-]*)://")
_P_AUTH = re.compile(_AUTH_RE)
_P_PATH = re.compile(_PATH_RE)
_P_QUERY = re.compile(_QUERY_RE)


def canonicalize(url: str) -> dict:
    trimmed = url.strip()
    s = trimmed if (_P_SCHEME.search(trimmed) or not trimmed) else "https://" + trimmed
    m = _P_SCHEME_CAP.search(s)
    scheme = m.group(1).lower() if m else ""
    m = _P_AUTH.search(s)
    authority = m.group(1) if m else ""
    no_user = authority.split("@")[-1]
    host = no_user.split(":")[0].lower()
    m = _P_PATH.search(s)
    path = m.group(1) if (m and m.group(1)) else "/"
    m = _P_QUERY.search(s)
    query = m.group(1) if m else ""
    stemmed = f"{scheme}://{host}{path}"
    canon = stemmed + (f"?{query}" if query else "")
    return {
        "scheme": scheme,
        "host": host,
        "path": path,
        "query": query,
        "etld1": etld1_py(host),
        "stemmed": stemmed,
        "canon_url": canon,
        "valid": scheme in VALID_SCHEMES and len(host) > 0,
    }


_P_IMAGE_ID = re.compile(r"/(img_\d{12})$")
IMAGE_ID_PATH_RE = r"/(img_\d{12})$"


def image_id_from_path(path: str) -> str | None:
    """The frontier->images resolution contract: urls look like
    https://host/img/img_000000000123 (FIXTURES.md §2)."""
    m = _P_IMAGE_ID.search(path)
    return m.group(1) if m else None


def image_id_col(path: Column) -> Column:
    got = F.regexp_extract(path, IMAGE_ID_PATH_RE, 1)
    return F.when(got != "", got)  # null when no match
