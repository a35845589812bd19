"""Canonicalization contract: python mirror == Spark builtins, plus the
validity truth table from the reference's own unit test
(backend/tests/unit/test_api_v1.py:30-48 shape; rules at backend tasks.py:29-52)."""

import pytest

from visiblev8_crawler_spark.functions import urls as U
from visiblev8_crawler_spark.sources import synth

CASES = [
    ("https://example.com/a/b?x=1", True, "https://example.com/a/b?x=1"),
    ("http://Example.COM/A", True, "http://example.com/A"),
    ("example.com/path", True, "https://example.com/path"),  # url_sender.py:93-101
    ("  https://pad.example.com  ", True, "https://pad.example.com/"),
    ("https://example.com", True, "https://example.com/"),
    ("https://example.com:8443/x", True, "https://example.com/x"),
    ("https://user@example.com/x", True, "https://example.com/x"),
    ("https://example.com/x#frag", True, "https://example.com/x"),
    ("ftp://example.com/x", False, None),  # invalid scheme
    ("", False, None),  # blank line, url_sender.py:72-74
    ("   ", False, None),
    ("https:///nopath", False, None),  # empty netloc
]


@pytest.mark.parametrize("url,valid,canon", CASES)
def test_python_canonicalize(url, valid, canon):
    c = U.canonicalize(url)
    assert c["valid"] == valid
    if valid:
        assert c["canon_url"] == canon


def test_spark_matches_python(spark):
    """The Spark builtin plan and the simulator mirror agree on every case
    plus the full dirty synthetic frontier."""
    urls = [c[0] for c in CASES] + [
        r["url"] for r in synth.generate_frontier_pdf(500, 200, 20).to_dict("records")
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {
        r["url"]: r
        for r in U.with_canonical(df).select(
            "url", "valid", "canon_url", "scheme", "host", "path", "query", "etld1", "stemmed"
        ).collect()
    }
    for u in urls:
        py = U.canonicalize(u)
        sp = got[u]
        for k in ("valid", "canon_url", "scheme", "host", "path", "query", "etld1", "stemmed"):
            assert sp[k] == py[k], (u, k, sp[k], py[k])


def test_etld1():
    assert U.canonicalize("https://a.b.site7.example/x")["etld1"] == "site7.example"


PSL_CASES = [
    # (host, etld1) — the 2_mega:24 url_etld1 contract on multi-label suffixes
    ("example.com", "example.com"),
    ("a.b.example.com", "example.com"),
    ("example.co.uk", "example.co.uk"),  # exact 2-label rule
    ("www.example.co.uk", "example.co.uk"),
    ("deep.sub.example.co.uk", "example.co.uk"),
    ("example.gov.uk", "example.gov.uk"),
    ("foo.act.edu.au", "foo.act.edu.au"),  # exact 3-label rule
    ("bar.foo.act.edu.au", "foo.act.edu.au"),
    ("something.ck", ""),  # *.ck wildcard: something.ck IS a suffix
    ("shop.something.ck", "shop.something.ck"),
    ("www.ck", "www.ck"),  # !www.ck exception: registrable
    ("a.www.ck", "www.ck"),
    ("city.kawasaki.jp", "city.kawasaki.jp"),  # !city.kawasaki.jp exception
    ("ward.kawasaki.jp", ""),  # *.kawasaki.jp wildcard
    ("x.ward.kawasaki.jp", "x.ward.kawasaki.jp"),
    ("user.github.io", "user.github.io"),  # private-section rule
    ("a.user.github.io", "user.github.io"),
    ("co.uk", ""),  # the host IS a public suffix
    ("com", ""),
    ("localhost", ""),
    ("", ""),
]


@pytest.mark.parametrize("host,expected", PSL_CASES)
def test_etld1_public_suffix_python(host, expected):
    from visiblev8_crawler_spark.functions.psl import etld1_py

    assert etld1_py(host) == expected


# The checkPublicSuffix cases from publicsuffix.org's official test file
# (test_psl.txt, public domain) — unabridged since round 4 (IDN/punycode
# block included; the generated tables carry every unicode rule in both
# forms) except the leading-dot rows, which are rejected upstream by the F1
# validity filter before etld1 is ever computed. None (= no registrable
# domain) maps to the engine's '' contract. Mixed-case rows are lowercased
# first — canonicalize lowercases the host before the PSL runs.
PSL_OFFICIAL_CORPUS = [
    # Mixed case.
    ("COM", None),
    ("example.COM", "example.com"),
    ("WwW.example.COM", "example.com"),
    # Unlisted TLD (default rule).
    ("example", None),
    ("example.example", "example.example"),
    ("b.example.example", "example.example"),
    ("a.b.example.example", "example.example"),
    # Listed, but non-Internet, TLD analog behaves the same.
    ("biz", None),
    ("domain.biz", "domain.biz"),
    ("b.domain.biz", "domain.biz"),
    ("a.b.domain.biz", "domain.biz"),
    # TLD with only 1 rule.
    ("com", None),
    ("example.com", "example.com"),
    ("b.example.com", "example.com"),
    ("a.b.example.com", "example.com"),
    ("uk.com", None),  # private-section 2-label suffix
    ("example.uk.com", "example.uk.com"),
    ("b.example.uk.com", "example.uk.com"),
    ("a.b.example.uk.com", "example.uk.com"),
    ("test.ac", "test.ac"),
    # TLD with only 1 (wildcard) rule.
    ("mm", None),
    ("c.mm", None),
    ("b.c.mm", "b.c.mm"),
    ("a.b.c.mm", "b.c.mm"),
    # More complex TLD.
    ("jp", None),
    ("test.jp", "test.jp"),
    ("www.test.jp", "test.jp"),
    ("ac.jp", None),
    ("test.ac.jp", "test.ac.jp"),
    ("www.test.ac.jp", "test.ac.jp"),
    ("kyoto.jp", None),
    ("test.kyoto.jp", "test.kyoto.jp"),
    ("ide.kyoto.jp", None),
    ("b.ide.kyoto.jp", "b.ide.kyoto.jp"),
    ("a.b.ide.kyoto.jp", "b.ide.kyoto.jp"),
    ("c.kobe.jp", None),
    ("b.c.kobe.jp", "b.c.kobe.jp"),
    ("a.b.c.kobe.jp", "b.c.kobe.jp"),
    ("city.kobe.jp", "city.kobe.jp"),
    ("www.city.kobe.jp", "city.kobe.jp"),
    # TLD with a wildcard rule and exceptions.
    ("ck", None),
    ("test.ck", None),
    ("b.test.ck", "b.test.ck"),
    ("a.b.test.ck", "b.test.ck"),
    ("www.ck", "www.ck"),
    ("www.www.ck", "www.ck"),
    # US K12.
    ("us", None),
    ("test.us", "test.us"),
    ("www.test.us", "test.us"),
    ("ak.us", None),
    ("test.ak.us", "test.ak.us"),
    ("www.test.ak.us", "test.ak.us"),
    ("k12.ak.us", None),
    ("test.k12.ak.us", "test.k12.ak.us"),
    ("www.test.k12.ak.us", "test.k12.ak.us"),
    # IDN labels (restored in round 4 — the generated full-list tables carry
    # every unicode rule in both forms, so the previously-excluded block of
    # the official file now passes verbatim).
    ("食狮.com.cn", "食狮.com.cn"),
    ("食狮.公司.cn", "食狮.公司.cn"),
    ("www.食狮.公司.cn", "食狮.公司.cn"),
    ("shishi.公司.cn", "shishi.公司.cn"),
    ("公司.cn", None),
    ("食狮.中国", "食狮.中国"),
    ("www.食狮.中国", "食狮.中国"),
    ("shishi.中国", "shishi.中国"),
    ("中国", None),
    # Same as above, but punycoded.
    ("xn--85x722f.com.cn", "xn--85x722f.com.cn"),
    ("xn--85x722f.xn--55qx5d.cn", "xn--85x722f.xn--55qx5d.cn"),
    ("www.xn--85x722f.xn--55qx5d.cn", "xn--85x722f.xn--55qx5d.cn"),
    ("shishi.xn--55qx5d.cn", "shishi.xn--55qx5d.cn"),
    ("xn--55qx5d.cn", None),
    ("xn--85x722f.xn--fiqs8s", "xn--85x722f.xn--fiqs8s"),
    ("www.xn--85x722f.xn--fiqs8s", "xn--85x722f.xn--fiqs8s"),
    ("shishi.xn--fiqs8s", "shishi.xn--fiqs8s"),
    ("xn--fiqs8s", None),
]


def test_etld1_official_psl_corpus_python():
    from visiblev8_crawler_spark.functions.psl import etld1_py

    for host, want in PSL_OFFICIAL_CORPUS:
        got = etld1_py(host.lower())
        assert got == (want or ""), (host, got, want)


def test_etld1_official_psl_corpus_spark(spark):
    from visiblev8_crawler_spark.functions.psl import etld1_col

    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(h.lower(),) for h, _ in PSL_OFFICIAL_CORPUS], "host string"
    )
    got = {
        r["host"]: r["e"]
        for r in df.select("host", etld1_col(F.col("host")).alias("e")).collect()
    }
    for host, want in PSL_OFFICIAL_CORPUS:
        assert got[host.lower()] == (want or ""), (host, got[host.lower()], want)


def test_etld1_public_suffix_spark(spark):
    """The InSet expression tree and the Python mirror agree on every PSL case."""
    from visiblev8_crawler_spark.functions.psl import etld1_col

    import pyspark.sql.functions as F

    df = spark.createDataFrame([(h,) for h, _ in PSL_CASES], "host string")
    got = {r["host"]: r["e"] for r in df.select("host", etld1_col(F.col("host")).alias("e")).collect()}
    for host, expected in PSL_CASES:
        assert got[host] == expected, (host, got[host], expected)


def test_etld1_full_list_plan_compile_bounded(spark):
    """The full generated list is ~8.3k InSet entries across the decision
    chain. Building the expression makes one py4j call per literal
    (PySpark's ``Column.isin``): measured 3.0-4.2 s of driver time on a
    4-core box, plus 0.2-1.6 s of analysis and physical planning — which is
    why frontier prep never builds it. Gate at 10 s so only a pathological
    blowup fails."""
    import time

    import pyspark.sql.functions as F

    from visiblev8_crawler_spark.functions.psl import etld1_col
    from visiblev8_crawler_spark.functions.psl_data import COUNTS

    assert COUNTS["exact"] > 8000, COUNTS  # the full list, not the old subset
    df = spark.createDataFrame([("www.example.co.uk",)], "host string")
    t0 = time.perf_counter()
    out = df.select(etld1_col(F.col("host")).alias("e"))
    out.explain(mode="simple")  # forces analysis + physical planning
    dt = time.perf_counter() - t0
    assert dt < 10.0, f"plan compile took {dt:.1f}s at {COUNTS} rules"
    assert out.collect()[0]["e"] == "example.co.uk"


def test_image_id_extraction():
    assert U.image_id_from_path("/img/img_000000000042") == "img_000000000042"
    assert U.image_id_from_path("/nope") is None


def test_psl_data_matches_source_list():
    """The checked-in generated tables must equal a fresh parse of the
    source list — catches silent corruption in the generator's emission
    path (round-4 near-miss: textwrap's break_on_hyphens split rules like
    ap-northeast-1.elasticbeanstalk.com into garbage entries that no
    corpus row happened to exercise)."""
    import os
    import sys

    dat = "/usr/share/publicsuffix/public_suffix_list.dat"
    if not os.path.exists(dat):
        import pytest

        pytest.skip("no system public_suffix_list.dat")
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from gen_psl_data import parse

    from visiblev8_crawler_spark.functions import psl_data as d

    exact, wild, exc, _ = parse(dat)
    assert {k: set(v) for k, v in d.EXACT.items()} == {k: set(v) for k, v in exact.items()}
    assert {k: set(v) for k, v in d.WILD.items()} == {k: set(v) for k, v in wild.items()}
    assert {k: set(v) for k, v in d.EXC.items()} == {k: set(v) for k, v in exc.items()}
