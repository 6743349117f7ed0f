"""Deterministic synthetic Common-Crawl-style ``pages`` table.

The engine's one input table (BASELINE.json input_hint):

    pages(url string, warc_ts timestamp, html binary, text string,
          lang string)

Two row sources, both fully deterministic (seed 42, FIXTURES.md §1):

1. the five reference test pages, loaded verbatim at runtime from the
   read-only mount (never copied into this repo);
2. a seeded generated link graph: hosts drawn Zipf-ish over
   ``host{NN}.test`` with a hot-host skew factor, messy hrefs
   (uppercase scheme/host, fragments, unsorted query params, relative
   paths) to exercise canonicalization, politeness, and salting.

Every generated page is a PURE FUNCTION of ``(i, params)`` — the same
bytes whether built on the driver (oracle path) or inside executors
(``synth_pages_df`` generates distributed via ``spark.range`` +
``mapInPandas``, which is how the bench corpus scales without pushing
hundreds of MB through the driver). At 100 TB this table is an
Iceberg table bucketed by host hash; the generator stands in for the
scan with the same schema.
"""

from __future__ import annotations

import datetime
import os
import random

REFERENCE_PAGES_DIR = "/root/reference/test-pages"

FIXTURE_URLS = {
    "page.html": "http://fixture.test/page",
    "page2.html": "http://fixture.test/page2",
    "rustwiki.html": "http://fixture.test/rustwiki",
    "hacker_news.html": "http://fixture.test/hn",
    "wisburg.html": "http://fixture.test/wisburg",
}

_EPOCH = datetime.datetime(2024, 1, 1)

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")

_WORDS = ("crawl frontier spark arrow parquet shuffle partition bloom "
          "politeness budget host queue depth score lineage checkpoint "
          "skew salt broadcast catalyst tungsten codegen scan filter "
          "page link anchor text body title meta header footer nav").split()


def fixture_pages_rows() -> list[tuple]:
    """The five reference test pages as pages-table rows."""
    rows = []
    for i, (fname, url) in enumerate(sorted(FIXTURE_URLS.items())):
        path = os.path.join(REFERENCE_PAGES_DIR, fname)
        with open(path, "rb") as f:
            html = f.read()
        lang = "zh-CN" if fname == "wisburg.html" else "en"
        rows.append((url, _EPOCH + datetime.timedelta(seconds=i), html,
                     None, lang))
    return rows


def page_host_index(i: int, n_hosts: int, skew: float, seed: int) -> int:
    """Zipf(skew)-distributed host index for page i — pure in (i,
    params), so executors and the driver-side oracle agree byte-for-
    byte. Host 0 is the hot host."""
    rng = random.Random((seed * 1000003 + i * 2654435761) & 0xFFFFFFFF)
    while True:
        k = int(rng.paretovariate(skew))
        if k <= n_hosts:
            return k - 1


def page_url(i: int, n_hosts: int, skew: float, seed: int) -> str:
    h = page_host_index(i, n_hosts, skew, seed)
    return f"http://host{h:02d}.test/page/{i}"


def synth_page(i: int, n_pages: int, links_per_page: int, n_hosts: int,
               skew: float, seed: int) -> tuple[str, str]:
    """→ (url, html). Hrefs are intentionally messy — canonicalizing
    them folds back into the same URL space."""
    rng = random.Random((seed << 20) ^ (i * 0x9E3779B9))
    my_host = f"host{page_host_index(i, n_hosts, skew, seed):02d}.test"
    url = f"http://{my_host}/page/{i}"

    paras = []
    for _ in range(1 + rng.randrange(3)):
        words = " ".join(rng.choice(_WORDS)
                         for _ in range(5 + rng.randrange(20)))
        paras.append(f"<p>{words}</p>")
    links = []
    for _ in range(links_per_page):
        j = rng.randrange(n_pages)
        th = f"host{page_host_index(j, n_hosts, skew, seed):02d}.test"
        style = rng.randrange(5)
        if style == 0:
            href = f"http://{th}/page/{j}"
        elif style == 1:  # uppercase scheme+host → canonicalization
            href = f"HTTP://{th.upper()}/page/{j}"
        elif style == 2:  # fragment to strip
            href = f"http://{th}/page/{j}#frag{rng.randrange(9)}"
        elif style == 3:  # unsorted query params to sort
            href = (f"http://{th}/page/{j}?b={rng.randrange(9)}"
                    f"&a={rng.randrange(9)}")
        else:  # relative when same host
            href = f"/page/{j}" if th == my_host else f"http://{th}/page/{j}"
        links.append(f'<a href="{href}">link {j}</a>')
    html = ("<!DOCTYPE html><html><head><title>Page %d</title></head>"
            "<body><h1>Page %d</h1>%s<div class=\"links\">%s</div>"
            "</body></html>"
            % (i, i, "".join(paras), " ".join(links)))
    return url, html


def synth_pages_rows(n_pages: int = 200, links_per_page: int = 8,
                     n_hosts: int = 20, skew: float = 1.2,
                     seed: int = 42) -> list[tuple]:
    """Driver-side generation (FIXTURES.md §1 'scaled synthetic rows');
    identical bytes to the distributed generator."""
    rows = []
    for i in range(n_pages):
        url, html = synth_page(i, n_pages, links_per_page, n_hosts, skew,
                               seed)
        rows.append((url, _EPOCH + datetime.timedelta(seconds=i),
                     html.encode("utf-8"), None, "en"))
    return rows


def synth_pages_df(spark, n_pages: int, links_per_page: int = 8,
                   n_hosts: int = 20, skew: float = 1.2, seed: int = 42,
                   partitions: int | None = None):
    """Distributed generation: executors build their own shard of the
    corpus from index ranges (nothing big crosses the driver)."""
    import pandas as pd

    params = (n_pages, links_per_page, n_hosts, skew, seed)
    parts = partitions or max(8, spark.sparkContext.defaultParallelism)

    def _gen(batches):
        for pdf in batches:
            urls, tss, htmls = [], [], []
            for i in pdf["id"]:
                i = int(i)
                url, html = synth_page(i, *params)
                urls.append(url)
                tss.append(_EPOCH + datetime.timedelta(seconds=i))
                htmls.append(html.encode("utf-8"))
            yield pd.DataFrame({
                "url": urls, "warc_ts": tss, "html": htmls,
                "text": pd.Series([None] * len(urls), dtype="object"),
                "lang": ["en"] * len(urls)})

    return (spark.range(0, n_pages, numPartitions=parts)
            .mapInPandas(_gen, schema=PAGES_SCHEMA))


def pages_df(spark, include_fixtures: bool = True, n_pages: int = 200,
             links_per_page: int = 8, n_hosts: int = 20,
             seed: int = 42, partitions: int | None = None):
    """Small-scale pages DataFrame (fixtures + driver-side synth). In
    production this is ``spark.read.table("pages")`` (Iceberg, bucketed
    by host hash); use ``synth_pages_df`` for big benchmark corpora."""
    from nipper_spark.session import local_df
    rows = synth_pages_rows(n_pages, links_per_page, n_hosts, seed=seed)
    if include_fixtures:
        rows = fixture_pages_rows() + rows
    df = local_df(spark, rows, PAGES_SCHEMA)
    if partitions:
        df = df.repartition(partitions, "url")
    return df
