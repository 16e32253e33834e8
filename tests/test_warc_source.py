"""WARC.gz source: Common-Crawl-layout round-trip + crawl integration.

The reader's unit of parallelism is the file (gzip members are not
splittable), records inflate member-by-member, bodies slice by
Content-Length - see sources/warc.py. These tests prove:
- byte-exact (url, html) round-trip through write_warc_gz -> read_warc_gz,
  including timestamps and the lang header,
- non-response records (warcinfo/request) are skipped like a Common Crawl
  reader must,
- a record whose html contains WARC-like separator bytes still parses
  (Content-Length slicing, not separator scanning),
- the WARC-sourced pages table feeds run_crawl end-to-end with the same
  result as the parquet-sourced one.
"""

from __future__ import annotations

import gzip
from datetime import datetime, timezone

import pandas as pd
import pytest

from high_performance_parallel_search_engine_spark.sources.synth import (
    corpus_rows,
    page_url,
)
from high_performance_parallel_search_engine_spark.sources.warc import (
    iter_warc_records,
    make_warc_gz,
    make_warc_record,
    read_warc_gz,
    write_warc_gz,
)


def _pages_df(spark, rows):
    pdf = pd.DataFrame(rows)[["url", "warc_ts", "html", "lang"]]
    return spark.createDataFrame(pdf)


def test_warc_gz_round_trip(spark, tmp_path):
    rows = list(corpus_rows(n_hosts=2, pages_per_host=9, n_medium=2,
                            with_oracle_text=False))
    src = _pages_df(spark, rows)
    out = str(tmp_path / "warc")
    n_files = write_warc_gz(src, out, records_per_file=7)
    assert n_files >= 3  # multiple gzip files -> multiple reader tasks

    back = read_warc_gz(spark, out)
    a = {r["url"]: r for r in src.collect()}
    b = {r["url"]: r for r in back.collect()}
    assert set(a) == set(b)
    for url in a:
        assert bytes(b[url]["html"]) == bytes(a[url]["html"])  # byte-exact
        assert b[url]["lang"] == a[url]["lang"]
        # WARC-Date has second resolution; synth timestamps are whole secs
        assert b[url]["warc_ts"] == a[url]["warc_ts"]


def test_warc_reader_skips_non_response_and_separator_bodies():
    ts = datetime(2026, 1, 2, 3, 4, 5, tzinfo=timezone.utc)
    # html that contains WARC-ish separator bytes: slicing must not split it
    tricky = b"<html>\r\n\r\nWARC/1.0\r\n\r\n<b>x</b></html>"
    info = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n"
            b"\r\nabcd\r\n\r\n")
    req = (b"WARC/1.0\r\nWARC-Type: request\r\n"
           b"WARC-Target-URI: https://h/x\r\nContent-Length: 2\r\n"
           b"\r\nhi\r\n\r\n")
    resp = make_warc_record("https://h/p", ts, tricky, "en")
    data = (gzip.compress(info, mtime=0) + gzip.compress(req, mtime=0)
            + gzip.compress(resp, mtime=0))
    got = list(iter_warc_records(data))
    assert len(got) == 1
    url, wdate, html, lang, status = got[0]
    assert url == "https://h/p" and html == tricky and lang == "en"
    assert wdate == "2026-01-02T03:04:05Z" and status == 200


def test_warc_reader_rejects_garbage():
    with pytest.raises(ValueError, match="WARC"):
        list(iter_warc_records(gzip.compress(b"HTTP/1.1 200 OK\r\n\r\nx")))


def test_crawl_over_warc_sourced_pages(spark, tmp_path):
    """The WARC-sourced pages table is a drop-in crawl input: same rounds,
    same pages fetched as the parquet-sourced crawl of the same corpus."""
    from high_performance_parallel_search_engine_spark.operators.crawl import (
        CrawlConfig,
        run_crawl,
    )

    rows = list(corpus_rows(n_hosts=2, pages_per_host=12, n_medium=0,
                            with_oracle_text=False))
    src = _pages_df(spark, rows)
    out = str(tmp_path / "warc")
    write_warc_gz(src, out, records_per_file=10)
    pages = read_warc_gz(spark, out)

    cfg = CrawlConfig(max_depth=3, max_pages=1 << 30, failure_stop=1 << 30,
                      max_rounds=8, trace=False)
    wd1 = str(tmp_path / "wd_warc")
    st1 = run_crawl(spark, pages, [page_url(0, 0), page_url(1, 0)], wd1, cfg)
    wd2 = str(tmp_path / "wd_pq")
    st2 = run_crawl(spark, src, [page_url(0, 0), page_url(1, 0)], wd2, cfg)
    assert st1.pages_crawled == st2.pages_crawled > 0
    assert st1.round == st2.round


def test_warc_reader_member_boundary_splits_separator():
    """A gzip member ending exactly at a record's Content-Length boundary
    leaves the inter-record CRLFCRLF at the START of the next member; the
    parser must strip it there too, not only after slicing a record."""
    ts = datetime(2026, 1, 1, tzinfo=timezone.utc)
    r1 = make_warc_record("https://h/1", ts, b"<a>", "en")
    r2 = make_warc_record("https://h/2", ts, b"<b>", "en")
    body_end = r1.rfind(b"\r\n\r\n")  # split r1's trailing separator off
    data = (gzip.compress(r1[:body_end], mtime=0)
            + gzip.compress(r1[body_end:] + r2, mtime=0))
    got = list(iter_warc_records(data))
    assert [g[0] for g in got] == ["https://h/1", "https://h/2"]
    assert got[0][2] == b"<a>" and got[1][2] == b"<b>"


def test_warc_reader_decodes_chunked_and_gzipped_http_bodies():
    """Real Common Crawl captures preserve raw HTTP framing: chunked
    transfer encoding is de-framed and gzip content encoding inflated."""
    html = b"<html><body>hello chunked world</body></html>"
    chunked = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
               + b"10\r\n" + html[:16] + b"\r\n"
               + format(len(html) - 16, "x").encode() + b"\r\n"
               + html[16:] + b"\r\n0\r\n\r\n")
    gz_body = gzip.compress(html, mtime=0)
    gzipped = (b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n"
               b"Content-Length: " + str(len(gz_body)).encode()
               + b"\r\n\r\n" + gz_body)

    def record(url, http):
        return (b"WARC/1.0\r\nWARC-Type: response\r\n"
                b"WARC-Target-URI: " + url + b"\r\n"
                b"WARC-Date: 2026-01-01T00:00:00Z\r\n"
                b"Content-Type: application/http; msgtype=response\r\n"
                b"Content-Length: " + str(len(http)).encode()
                + b"\r\n\r\n" + http + b"\r\n\r\n")

    data = (gzip.compress(record(b"https://h/c", chunked), mtime=0)
            + gzip.compress(record(b"https://h/g", gzipped), mtime=0))
    got = {u: h for u, _, h, _, _ in iter_warc_records(data)}
    assert got["https://h/c"] == html
    assert got["https://h/g"] == html


def test_warc_writer_treats_naive_timestamps_as_utc():
    """The engine's Spark session is pinned to UTC, so collected warc_ts
    values are NAIVE UTC wall times; the writer must not reinterpret them
    in the machine's local timezone (astimezone on naive = local)."""
    from datetime import timedelta, timezone as _tz

    naive = datetime(2026, 3, 4, 5, 6, 7)  # no tzinfo
    rec = make_warc_record("https://h/t", naive, b"<x>", None)
    assert b"WARC-Date: 2026-03-04T05:06:07Z" in rec
    # and an aware non-UTC timestamp still converts correctly
    aware = datetime(2026, 3, 4, 5, 6, 7,
                     tzinfo=_tz(timedelta(hours=-5)))
    rec2 = make_warc_record("https://h/t", aware, b"<x>", None)
    assert b"WARC-Date: 2026-03-04T10:06:07Z" in rec2


def test_cli_rejects_both_page_sources():
    import pytest as _pt

    from high_performance_parallel_search_engine_spark.__main__ import (
        build_parser,
    )

    with _pt.raises(SystemExit):
        build_parser().parse_args(["-c", "x", "--pages-table", "t",
                                   "--pages-warc", "w"])


def test_robots_df_from_warc(spark, tmp_path):
    """robots.txt captures read from the same WARC layout feed the robots
    rules pipeline end to end."""
    from high_performance_parallel_search_engine_spark.operators.robots import (
        robots_rules_from_df,
    )
    from high_performance_parallel_search_engine_spark.sources.warc import (
        robots_df_from_warc,
    )

    ts = datetime(2026, 1, 1, tzinfo=timezone.utc)
    robots_a = b"User-agent: *\nDisallow: /private\nAllow: /private/ok\n"
    recs = [
        ("https://a.example.com/robots.txt", ts, robots_a, None),
        ("https://b.example.com/robots.txt?x=1", ts,
         b"User-agent: *\nDisallow: /\n", None),
        ("https://a.example.com/page", ts, b"<html>not robots</html>", None),
    ]
    d = tmp_path / "rw"
    d.mkdir()
    (d / "r.warc.gz").write_bytes(make_warc_gz(recs))

    df = robots_df_from_warc(spark, str(d))
    got = {r["host"]: r["robots_txt"] for r in df.collect()}
    assert set(got) == {"a.example.com", "b.example.com"}
    assert "Disallow: /private" in got["a.example.com"]

    rules = robots_rules_from_df(df).collect()
    by_host = {}
    for r in rules:
        by_host.setdefault(r["host"], []).append((r["rule"], r["path_prefix"]))
    assert ("disallow", "/private") in by_host["a.example.com"]
    assert ("allow", "/private/ok") in by_host["a.example.com"]
    assert ("disallow", "/") in by_host["b.example.com"]


def test_cli_robots_warc_blocks_paths(spark, tmp_path, capsys):
    """--robots-warc end to end: a Disallow rule read from a WARC robots
    capture prunes the crawl exactly like --robots-table."""
    from high_performance_parallel_search_engine_spark.__main__ import main

    rows = list(corpus_rows(n_hosts=1, pages_per_host=15, n_medium=0,
                            with_oracle_text=False))
    src = _pages_df(spark, rows)
    warc_dir = str(tmp_path / "pages")
    write_warc_gz(src, warc_dir, records_per_file=10)

    ts = datetime(2026, 1, 1, tzinfo=timezone.utc)
    rdir = tmp_path / "robots"
    rdir.mkdir()
    (rdir / "r.warc.gz").write_bytes(make_warc_gz([
        ("https://host0.example.com/robots.txt", ts,
         b"User-agent: *\nDisallow: /\n", None)]))

    wd_blocked = str(tmp_path / "wb")
    rc = main(["-c", "https://host0.example.com/p/0", "-d", "3", "-p", "15",
               "--pages-warc", warc_dir, "--robots-warc", str(rdir),
               "--workdir", wd_blocked])
    out = capsys.readouterr().out
    # Disallow: / blocks everything except... the seed itself is subject
    # to robots too, so the crawl fetches nothing
    assert rc == 1 and "Failed to crawl" in out

    wd_open = str(tmp_path / "wo")
    rc2 = main(["-c", "https://host0.example.com/p/0", "-d", "3", "-p", "15",
                "--pages-warc", warc_dir, "--workdir", wd_open])
    out2 = capsys.readouterr().out
    assert rc2 == 0 and "Successfully crawled" in out2


def test_robots_from_warc_latest_capture_and_status_semantics(spark, tmp_path):
    """Archives carry the full capture history and fetch-chain statuses:
    only the LATEST capture per host rules (a stale Disallow must not
    override the current policy), a 5xx capture means conservative
    disallow-all, and a 3xx/4xx capture means no rules (allow-all)."""
    from high_performance_parallel_search_engine_spark.operators.robots import (
        robots_rules_from_df,
    )
    from high_performance_parallel_search_engine_spark.sources.warc import (
        make_warc_record,
        robots_df_from_warc,
    )

    old = datetime(2026, 1, 1, tzinfo=timezone.utc)
    new = datetime(2026, 2, 1, tzinfo=timezone.utc)
    recs = [
        # host a: stale full Disallow, then a newer open policy
        ("https://a.ex.com/robots.txt", old,
         b"User-agent: *\nDisallow: /\n", None),
        ("https://a.ex.com/robots.txt", new,
         b"User-agent: *\nDisallow: /private\n", None),
        # host b: latest capture is a 503 -> conservative disallow-all
        ("https://b.ex.com/robots.txt", new, b"<html>err</html>", None, 503),
        # host c: latest capture is a 301 -> no rules
        ("https://c.ex.com/robots.txt", new, b"<html>moved</html>", None,
         301),
        # host d: redirect + final fetch share host AND WARC-Date (a fetch
        # chain at second resolution): the 2xx capture must win the tie
        # deterministically
        ("http://d.ex.com/robots.txt", new, b"<html>moved</html>", None,
         301),
        ("https://d.ex.com/robots.txt", new,
         b"User-agent: *\nDisallow: /secret\n", None, 200),
    ]
    d = tmp_path / "rw2"
    d.mkdir()
    (d / "r.warc.gz").write_bytes(make_warc_gz(recs))

    df = robots_df_from_warc(spark, str(d))
    got = {r["host"]: r["robots_txt"] for r in df.collect()}
    assert "Disallow: /private" in got["a.ex.com"]
    assert "Disallow: /\n" not in got["a.ex.com"]  # stale capture dropped
    assert got["b.ex.com"].strip().endswith("Disallow: /")
    assert got["c.ex.com"] == ""
    assert "Disallow: /secret" in got["d.ex.com"]  # 2xx wins the date tie

    rules = robots_rules_from_df(df).collect()
    by_host = {}
    for r in rules:
        by_host.setdefault(r["host"], []).append((r["rule"], r["path_prefix"]))
    assert by_host["a.ex.com"] == [("disallow", "/private")]
    assert by_host["b.ex.com"] == [("disallow", "/")]
    assert "c.ex.com" not in by_host


def test_cli_pages_warc_resume_reuses_completed_staging(spark, tmp_path,
                                                        capsys):
    """--resume reuses the staged pages table only when staging COMPLETED
    (bucketing sidecar present); a fresh run always re-stages."""
    import os

    from high_performance_parallel_search_engine_spark.__main__ import main
    from high_performance_parallel_search_engine_spark.sources.tables import (
        BUCKETING_META,
    )

    rows = list(corpus_rows(n_hosts=1, pages_per_host=12, n_medium=0,
                            with_oracle_text=False))
    src = _pages_df(spark, rows)
    warc_dir = str(tmp_path / "pages")
    write_warc_gz(src, warc_dir, records_per_file=10)
    wd = str(tmp_path / "w")

    args = ["-c", "https://host0.example.com/p/0", "-d", "2", "-p", "10",
            "--pages-warc", warc_dir, "--workdir", wd]
    assert main(args) == 0
    out = capsys.readouterr().out
    assert "Parsed WARC archives" in out
    staged = f"{wd}/_pages_from_warc.parquet"
    assert os.path.isfile(f"{staged}/{BUCKETING_META}")

    # resume: completed staging is reused, no re-parse
    assert main(args + ["--resume"]) == 0
    out2 = capsys.readouterr().out
    assert "Reusing staged WARC pages table" in out2
    assert "Parsed WARC archives" not in out2

    # resume with INCOMPLETE staging (sidecar missing): re-stage
    os.remove(f"{staged}/{BUCKETING_META}")
    assert main(args + ["--resume"]) == 0
    out3 = capsys.readouterr().out
    assert "Parsed WARC archives" in out3

    # resume pointed at a DIFFERENT archive dir: warn + re-stage (must not
    # silently crawl the stale staged corpus)
    import shutil

    warc_dir2 = str(tmp_path / "pages2")
    shutil.copytree(warc_dir, warc_dir2)
    args2 = ["-c", "https://host0.example.com/p/0", "--pages-warc",
             warc_dir2, "--workdir", wd, "--resume"]
    assert main(args2) == 0
    out4 = capsys.readouterr().out
    assert "re-staging from" in out4
    assert "Parsed WARC archives" in out4


def test_cli_export_warc_round_trips(spark, tmp_path, capsys):
    """--export-warc re-emits exactly the fetched pages as .warc.gz; the
    archives read back byte-identical and re-crawl to the same result."""
    from high_performance_parallel_search_engine_spark.__main__ import main

    wd = str(tmp_path / "w")
    exp = str(tmp_path / "exported")
    rc = main(["-c", "https://host0.example.com/p/0", "-d", "2", "-p", "10",
               "--workdir", wd, "--export-warc", exp])
    out = capsys.readouterr().out
    assert rc == 0 and "Exported" in out

    back = read_warc_gz(spark, exp)
    crawled = spark.read.parquet(f"{wd}/round=*/pages.parquet")
    urls = {r["url"] for r in crawled.select("url").distinct().collect()}
    got = {r["url"]: r for r in back.collect()}
    assert set(got) == urls
    assert all(bytes(r["html"])[:1] for r in got.values())  # real bytes
