"""Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md §1).

Generates a pages table ``(url, warc_ts, html binary, text string, lang)``
with an embedded link graph, exercising every branch of the reference's URL
and HTML semantics: medium vs non-medium pages, entity escapes, head/script/
style/comment skipping, useful-content-failing paragraphs, both href quote
styles, absolute / root-relative / page-relative / protocol-relative /
javascript: / mailto: / fragment / asset / tracking-param / trailing-slash /
cross-domain / dead links, Zipf-ish in-link concentration (hot pages), and
pages small enough (<=100 bytes) to fail the fetch gate.

Everything is a pure function of (seed, host, page) so the corpus can be
generated identically on the driver (tests) or distributed via mapInPandas
(bench scale) with no data movement. `text` is the oracle extraction
(kernel.html_to_text) - the byte-identity target.

No external data; page URLs are canonical under normalize_url by
construction (no fragments, no trailing slash, no tracking params).
"""

from __future__ import annotations

import datetime as _dt
import random
from collections.abc import Iterator

from ..kernel.html import html_to_text

_WARC_EPOCH = _dt.datetime(2025, 1, 1, 0, 0, 0)

_PARA_POOL = [
    "Distributed crawling requires careful frontier management and polite "
    "fetch scheduling across many hosts.",
    "The quick brown fox jumps over the lazy dog while the crawler follows "
    "every outgoing hyperlink it discovers.",
    "Breadth first search over the web graph visits pages level by level "
    "and records every canonical address once.",
    "Inverted indexes map terms to posting lists so that queries can rank "
    "documents with the BM25 weighting scheme.",
    "Politeness budgets bound the number of requests sent to a single host "
    "within one scheduling round of the crawl.",
    "Checkpointed snapshots let a long crawl resume exactly where it "
    "stopped without refetching finished pages.",
]
_JUNK_PARAS = [
    "!!!???...;;;###@@@***&&&%%%$$$",              # fails alpha ratio
    "tiny",                                        # fails length < 10
    "xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx",  # fails space ratio
]
_ENTITY_SNIPPETS = [
    "Fish &amp; Chips", "5 &lt; 6 &gt; 4", "say &quot;hi&quot;",
    "non&nbsp;breaking", "it&#039;s fine", "odd &unknown; entity",
    "dangling &amp", "custom &myent12345; tail",
]


def host_name(h: int) -> str:
    return f"host{h}.example.com"


def page_url(h: int, p: int) -> str:
    return f"https://{host_name(h)}/p/{p}"


def medium_profile_url(k: int) -> str:
    return f"https://medium.com/@user{k}"


def medium_article_url(k: int) -> str:
    return f"https://medium.com/p/story-{k}"


def _zipf_target(rng: random.Random, n: int) -> int:
    """Zipf-ish page pick: low ids are hot (in-link skew)."""
    r = rng.random()
    return min(int(n * (r ** 3)), n - 1)


def _links_for_page(rng: random.Random, h: int, p: int, n_hosts: int,
                    pages_per_host: int, n_medium: int,
                    link_mode: str = "zipf") -> list[tuple[str, str]]:
    """(href_attr_value, anchor_text) pairs, ~30 per page pre-filter.

    link_mode 'zipf' (default): hot-page skew, duplicates, partial reach -
    exercises dedup. 'tree': page p links to distinct children 18p+1..18p+18
    (full deterministic reach, no dedup loss) - the bench corpus shape where
    crawl size is exactly predictable."""
    links: list[tuple[str, str]] = []
    if link_mode == "tree":
        base_child = 18 * p
        for k in range(1, 19):
            t = base_child + k
            if t < pages_per_host:
                links.append((page_url(h, t), f"page {t}"))
    # same-host absolute links (the crawlable core), Zipf-ish targets
    for _ in range(rng.randint(10, 14) if link_mode == "zipf" else 0):
        t = _zipf_target(rng, pages_per_host)
        url = page_url(h, t)
        style = rng.random()
        if style < 0.15:
            url += "/"                      # trailing slash variant
        elif style < 0.3:
            url += f"#sec{rng.randint(1, 5)}"  # fragment variant
        elif style < 0.4:
            url += f"?utm_source=synth&v={rng.randint(1, 9)}"  # tracking
        links.append((url, f"page {t}"))
    # relative forms resolving to same-host pages
    for _ in range(rng.randint(3, 5) if link_mode == "zipf" else 0):
        t = _zipf_target(rng, pages_per_host)
        form = rng.random()
        if form < 0.4:
            links.append((f"/p/{t}", f"rel {t}"))
        elif form < 0.7:
            links.append((f"{t}", f"pagerel {t}"))   # relative to /p/
        else:
            links.append((f"//{host_name(h)}/p/{t}", f"proto {t}"))
    # cross-host links (dropped by the extractor's domain check)
    for _ in range(rng.randint(2, 4)):
        oh = rng.randrange(n_hosts)
        links.append((page_url(oh, _zipf_target(rng, pages_per_host)), "xhost"))
    # medium links (kept only when crawling medium)
    for _ in range(rng.randint(1, 3)):
        k = rng.randrange(max(n_medium, 1))
        links.append((medium_article_url(k) if rng.random() < 0.5
                      else medium_profile_url(k), "medium"))
    # junk + asset links (filtered)
    links.append(("javascript:void(0)", "js"))
    links.append(("mailto:a@b.c", "mail"))
    links.append((f"#frag{p}", "anchor"))
    links.append((f"/static/img{p}.png", "img"))
    links.append((f"/assets/site.css", "css"))
    # dead link (no such page -> fetch failure when enqueued); tree mode
    # keeps the graph failure-free so bench counts are exact
    if link_mode == "zipf":
        links.append(
            (f"https://{host_name(h)}/p/{pages_per_host + 1000 + p}", "dead"))
    # duplicate of an earlier link (self-dedup exercise)
    if links:
        links.append(links[0])
    rng.shuffle(links)
    return links


def _host_page_html(rng: random.Random, h: int, p: int, n_hosts: int,
                    pages_per_host: int, n_medium: int,
                    link_mode: str = "zipf", pad_paras: int = 0) -> bytes:
    links = _links_for_page(rng, h, p, n_hosts, pages_per_host, n_medium,
                            link_mode)
    parts = [
        "<!DOCTYPE html><html>",
        f"<head><title>Page {p} of {host_name(h)} &amp; friends</title>",
        "<script>var tracked = 'x < y';</script>",
        "<style>.main { color: #333; }</style>",
        "</head>",
        f"<!-- build {rng.randint(0, 999)} <p>commented out</p> -->",
        "<body>",
        f"<h1>Host {h} page {p}</h1>",
    ]
    for i in range(rng.randint(2, 4) + pad_paras):
        para = rng.choice(_PARA_POOL)
        ent = rng.choice(_ENTITY_SNIPPETS)
        parts.append(f"<p>{para} {ent} (p{p}s{i})</p>")
    parts.append(f"<p>{rng.choice(_JUNK_PARAS)}</p>")
    parts.append("<ul>")
    for url, anchor in links:
        quote = '"' if rng.random() < 0.7 else "'"
        parts.append(f"<li><a href={quote}{url}{quote}>{anchor}</a></li>")
    parts.append("</ul></body></html>")
    return "".join(parts).encode("utf-8")


def _medium_page_html(rng: random.Random, k: int, n_medium: int,
                      is_profile: bool) -> bytes:
    """Medium-style page: contains 'medium.com', an <article> jump target,
    h1/h2/p medium handling, and medium-internal links."""
    links = []
    for _ in range(rng.randint(8, 12)):
        t = rng.randrange(max(n_medium, 1))
        url = medium_article_url(t) if rng.random() < 0.6 else medium_profile_url(t)
        if rng.random() < 0.3:
            url += f"?source=home-------{rng.randint(0, 9)}"
        links.append(url)
    links.append("https://medium.com/m/signin?operation=register")
    links.append("https://medium.com/plans?source=upsell")
    links.append("https://help.medium.com/hc/en-us")
    kind = "profile" if is_profile else "story"
    parts = [
        "<!DOCTYPE html><html>",
        f"<head><title>Medium {kind} {k}</title>",
        '<meta property="og:site_name" content="medium.com">',
        "<script>window.m = 'medium.com';</script></head>",
        "<body><nav>",
    ]
    for url in links[:4]:
        parts.append(f'<a href="{url}">nav</a>')
    parts.append("</nav><article>")
    parts.append(f"<h1>The {kind} number {k} headline</h1>")
    for i in range(rng.randint(2, 4)):
        parts.append(f"<p>{rng.choice(_PARA_POOL)} (m{k}s{i})</p>")
    parts.append(f"<p>{rng.choice(_JUNK_PARAS)}</p>")
    parts.append(f"<h2>Section two of {kind} {k}</h2>")
    parts.append(f"<p>{rng.choice(_PARA_POOL)} closing thoughts.</p>")
    for url in links[4:]:
        parts.append(f'<a href="{url}">more</a>')
    parts.append("</article></body></html>")
    return "".join(parts).encode("utf-8")


def page_record(kind: str, h: int, p: int, *, n_hosts: int, pages_per_host: int,
                n_medium: int, seed: int, with_oracle_text: bool = True,
                link_mode: str = "zipf", pad_paras: int = 0) -> dict:
    """Pure per-page generator. kind: 'host' | 'medium_profile' |
    'medium_article' | 'tiny' (fails the >100-byte fetch gate)."""
    # string seeds hash via sha512 - stable across processes/interpreters
    rng = random.Random(f"{seed}:{kind}:{h}:{p}")
    if kind == "host":
        url = page_url(h, p)
        html = _host_page_html(rng, h, p, n_hosts, pages_per_host, n_medium,
                               link_mode, pad_paras)
        lang = "en" if p % 17 else "xx"
    elif kind == "medium_profile":
        url = medium_profile_url(p)
        html = _medium_page_html(rng, p, n_medium, True)
        lang = "en"
    elif kind == "medium_article":
        url = medium_article_url(p)
        html = _medium_page_html(rng, p, n_medium, False)
        lang = "en"
    elif kind == "tiny":
        url = f"https://{host_name(h)}/p/tiny{p}"
        html = b"<html><body>ok</body></html>"  # 27 bytes < 100 -> fetch fail
        lang = "en"
    else:
        raise ValueError(kind)
    idx = (h * 1_000_003 + p * 7919) % 86_400
    return {
        "url": url,
        "warc_ts": _WARC_EPOCH + _dt.timedelta(seconds=idx),
        "html": html,
        "text": (html_to_text(html).decode("utf-8") if with_oracle_text else None),
        "lang": lang,
    }


def corpus_rows(n_hosts: int = 3, pages_per_host: int = 25, n_medium: int = 12,
                n_tiny_per_host: int = 2, seed: int = 42,
                with_oracle_text: bool = True, link_mode: str = "zipf",
                pad_paras: int = 0) -> Iterator[dict]:
    kw = dict(n_hosts=n_hosts, pages_per_host=pages_per_host,
              n_medium=n_medium, seed=seed, with_oracle_text=with_oracle_text,
              link_mode=link_mode, pad_paras=pad_paras)
    for h in range(n_hosts):
        for p in range(pages_per_host):
            yield page_record("host", h, p, **kw)
        for t in range(n_tiny_per_host):
            yield page_record("tiny", h, t, **kw)
    for k in range(n_medium):
        yield page_record("medium_profile", 0, k, **kw)
        yield page_record("medium_article", 0, k, **kw)


def seed_urls(n_hosts: int = 3, include_medium: bool = True) -> list[str]:
    """Default seed list: page 0 of each host (with a tracking param and a
    trailing slash to exercise seed normalization) + a medium profile."""
    seeds = [page_url(h, 0) + "?utm_source=seed" for h in range(n_hosts)]
    if include_medium:
        seeds.append(medium_profile_url(0) + "/")
    return seeds


def pages_dict(**kwargs) -> dict[str, bytes]:
    """url -> html map for the serial oracle."""
    return {r["url"]: r["html"] for r in corpus_rows(**kwargs)}


PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")


def build_corpus_df(spark, n_hosts: int = 3, pages_per_host: int = 25,
                    n_medium: int = 12, n_tiny_per_host: int = 2,
                    seed: int = 42, with_oracle_text: bool = True,
                    link_mode: str = "zipf", pad_paras: int = 0,
                    distributed_threshold: int = 20_000):
    """Pages DataFrame. Small corpora are built on the driver; large ones are
    generated distributed: a (kind, h, p) spine via spark.range, expanded
    per-partition with the same pure page_record - no data movement, scales
    linearly with cores."""
    total = n_hosts * (pages_per_host + n_tiny_per_host) + 2 * n_medium
    if total <= distributed_threshold:
        import pandas as pd

        pdf = pd.DataFrame(list(corpus_rows(
            n_hosts=n_hosts, pages_per_host=pages_per_host, n_medium=n_medium,
            n_tiny_per_host=n_tiny_per_host, seed=seed,
            with_oracle_text=with_oracle_text, link_mode=link_mode,
            pad_paras=pad_paras)))
        return spark.createDataFrame(pdf, schema=PAGES_SCHEMA)

    from pyspark.sql import functions as F

    kw = dict(n_hosts=n_hosts, pages_per_host=pages_per_host,
              n_medium=n_medium, seed=seed, with_oracle_text=with_oracle_text,
              link_mode=link_mode, pad_paras=pad_paras)

    spine = spark.range(n_hosts * pages_per_host).select(
        (F.col("id") / pages_per_host).cast("int").alias("h"),
        (F.col("id") % pages_per_host).cast("int").alias("p"),
        F.lit("host").alias("kind"),
    )
    tiny = spark.range(n_hosts * n_tiny_per_host).select(
        (F.col("id") / n_tiny_per_host).cast("int").alias("h"),
        (F.col("id") % n_tiny_per_host).cast("int").alias("p"),
        F.lit("tiny").alias("kind"),
    )
    medium = spark.range(n_medium).select(
        F.lit(0).alias("h"), F.col("id").cast("int").alias("p"),
        F.lit("medium_profile").alias("kind"),
    ).unionByName(spark.range(n_medium).select(
        F.lit(0).alias("h"), F.col("id").cast("int").alias("p"),
        F.lit("medium_article").alias("kind"),
    ))
    spine = spine.unionByName(tiny).unionByName(medium)
    # spread generation across all cores regardless of spine size
    spine = spine.repartition(max(spark.sparkContext.defaultParallelism * 2, 8))

    def gen(batches):
        import pandas as pd

        for b in batches:
            rows = [page_record(k, int(h), int(p), **kw)
                    for k, h, p in zip(b["kind"], b["h"], b["p"])]
            yield pd.DataFrame(rows)

    return spine.mapInPandas(gen, schema=PAGES_SCHEMA)
