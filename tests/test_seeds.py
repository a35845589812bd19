"""Seed-source scans (sources/seeds.py): line order -> seq, blank handling,
Tranco CSV mapping — checked against plain-Python file reads, and fed
end-to-end into prepare_frontier."""

from pyspark.sql import functions as F

from visiblev8_crawler_spark import schemas
from visiblev8_crawler_spark.operators.dedup import prepare_frontier
from visiblev8_crawler_spark.sources.seeds import frontier_from_text, frontier_from_tranco_csv


def test_text_seed_order_and_blanks(spark, tmp_path):
    urls = [f"https://h{i % 5}.example/img/img_{i:012d}" for i in range(200)]
    urls[7] = ""  # blank line
    urls[50] = "  "  # whitespace line
    p = tmp_path / "seeds.txt"
    p.write_text("\n".join(urls) + "\n")

    rows = frontier_from_text(spark, str(p)).collect()
    got = {r["seq"]: r["url"] for r in rows}
    assert got == {i + 1: u.strip() for i, u in enumerate(urls)}

    # blank lines flow into the rejected ledger as 'invalid'
    robots = spark.createDataFrame(
        [], "host string, full_block boolean, disallow_prefixes array<string>, "
        "crawl_delay_s double, max_per_wave int"
    )
    prep = prepare_frontier(frontier_from_text(spark, str(p)), robots)
    bad = {r["seq"] for r in prep.filter(F.col("reason") == "invalid").collect()}
    assert bad == {8, 51}


def test_tranco_csv(spark, tmp_path):
    p = tmp_path / "tranco.csv"
    p.write_text("1,example.com\n2,foo.org\nbadrank,x.com\n3,\n4,bar.net\n")
    rows = frontier_from_tranco_csv(spark, str(p)).collect()
    got = {r["seq"]: r["url"] for r in rows}
    assert got == {1: "http://example.com", 2: "http://foo.org", 4: "http://bar.net"}


def test_prepare_frontier_never_builds_psl(spark, monkeypatch):
    """Frontier prep takes only the canonical columns FRONTIER_PREPARED
    keeps, so it must never build the public-suffix expression (seconds of
    driver time per build, and etld1 is dropped at conform). Its rows still
    equal the Python mirror's canonical form and the simulator's reasons."""
    from visiblev8_crawler_spark.functions import psl
    from visiblev8_crawler_spark.functions import urls as U
    from visiblev8_crawler_spark.simulator import simulate_campaign
    from visiblev8_crawler_spark.sources import synth

    def _no_psl(*_a, **_k):
        raise AssertionError("frontier prep built the public-suffix expression")

    monkeypatch.setattr(psl, "etld1_col", _no_psl)
    monkeypatch.setattr(U, "etld1_col", _no_psl)

    fpdf = synth.generate_frontier_pdf(500, 200, 20)
    rpdf = synth.generate_robots_pdf(20)
    rpdf.loc[0, "full_block"] = True  # host0: the zipf head, many rows
    rpdf.at[1, "disallow_prefixes"] = ["/img/img_00000000001"]
    robots = spark.createDataFrame(rpdf, schema=schemas.ROBOTS)
    prep = prepare_frontier(spark.createDataFrame(fpdf, schema=schemas.FRONTIER), robots)
    rows = prep.withColumn("_h", F.xxhash64("canon_url")).collect()

    assert sorted(r["seq"] for r in rows) == sorted(fpdf["seq"])
    for r in rows:
        c = U.canonicalize(r["url"])
        assert (r["canon_url"], r["host"], r["path"]) == (
            c["canon_url"], c["host"], c["path"]
        ), r["url"]
        assert r["url_hash64"] == r["_h"]

    sim = simulate_campaign(
        fpdf.to_dict("records"),
        {r["host"]: r for r in rpdf.to_dict("records")},
        {},
        max_waves=0,
    )
    want = {seq: reason for seq, _u, reason in sim.rejected}
    got = {r["seq"]: r["reason"] for r in rows if r["reason"] is not None}
    assert got == want
    assert set(want.values()) == {"invalid", "duplicate", "robots"}
