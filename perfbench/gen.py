"""Seeded input generator for the benchmark workloads.

Every input is a pure function of the workload seed and the sizes
below; nothing here imports the engine, so no edit to the package
(its own synthetic sources included) can change what a workload runs.
The seed changes the bytes (host names, paths, words, link targets);
the *shape* that the engine's cost depends on stays fixed across seeds:
host sizes follow one fixed allocation, every page carries the same
number of links, every record page the same number of rows, and the
planted duplicate shares are exact counts.

Where a shape comes from: the crawl corpus copies the shape of the
corpus bench.py builds (see ``crawl_corpus``), the record pages the
30-story Hacker News page its q1 replicates, and the documents the
``documents`` table its q4-q7 read (see ``documents``). The pseudo-word
vocabulary and the refetch share of the record pages are assumed.
"""

from __future__ import annotations

import random

_SYLLABLES = ("ba be bi bo bu ca ce ci co cu da de di do du fa fe fi fo "
              "ga ge go gu ha he hi ho la le li lo lu ma me mi mo mu na "
              "ne ni no nu pa pe pi po pu ra re ri ro ru sa se si so su "
              "ta te ti to tu va ve vi vo za ze zi zo").split()


def _vocabulary(n: int = 4000) -> tuple[str, ...]:
    # a fixed pseudo-word vocabulary (seeded once, independent of the
    # workload seed): random documents over 4000 words share almost no
    # word 3-grams, so only planted duplicates look alike
    rng = random.Random(20240101)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(_SYLLABLES)
                    for _ in range(2 + rng.randrange(3)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return tuple(words)


VOCAB = _vocabulary()


def host_counts(n_pages: int, n_hosts: int, skew: float) -> list[int]:
    """Pages per host, the expected split of the package's synthetic
    source: it draws each page's host as ``int(paretovariate(skew))``
    truncated to ``n_hosts``, so host h holds a share proportional to
    (h+1)^-skew - (h+2)^-skew (host 0 is the hot host). Rounded by
    largest remainder, so the split is the same for every seed; tail
    hosts may get no page."""
    w = [(h + 1) ** -skew - (h + 2) ** -skew for h in range(n_hosts)]
    exact = [n_pages * x / sum(w) for x in w]
    counts = [int(x) for x in exact]
    by_remainder = sorted(range(n_hosts), key=lambda h: counts[h] - exact[h])
    for h in by_remainder[:n_pages - sum(counts)]:
        counts[h] += 1
    return counts


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(n))


# ----------------------------------------------------------------------
# crawl corpus: a Pareto-host link graph with messy hrefs
# ----------------------------------------------------------------------

# the shape of bench.py's corpus (its CORPUS and the defaults of
# synth_pages_df it calls): host skew, host count, links per page, and
# the share of pages the frontier query seeds (2000 of 60000)
BENCH_CORPUS_PAGES = 60000
SKEW = 1.2
N_HOSTS = 200
LINKS_PER_PAGE = 20
SEED_SHARE = 2000 / BENCH_CORPUS_PAGES


def crawl_corpus(seed: int, n_pages: int, n_hosts: int = N_HOSTS,
                 links: int = LINKS_PER_PAGE) -> dict:
    """→ {"pages": [(url, html bytes)], "hosts": [host], "seeds":
    [(url, score)]}.

    Host h holds ``host_counts(...)[h]`` pages, in a seeded random page
    order. As in the package's synthetic source, every page has
    ``links`` anchors to pages drawn uniformly from the corpus (so a
    host is linked in proportion to its size), 1-3 paragraphs of 5-24
    words, and an href form drawn from five equally likely ones:
    absolute, upper-case scheme and host, with a fragment, with an
    unsorted query (which names no page of the corpus, so a fifth of
    the links are dead), and path-relative when the target shares the
    page's host. The crawl seeds are the first ``SEED_SHARE`` of the
    pages in page order."""
    rng = random.Random(f"crawl:{seed}")
    hosts = [f"h{h:03d}-{rng.choice(VOCAB)}.bench" for h in range(n_hosts)]
    site: list[tuple[int, str]] = []  # (host, path) per page
    for h, count in enumerate(host_counts(n_pages, n_hosts, SKEW)):
        site.extend((h, f"/{rng.choice(VOCAB)}/{k}") for k in range(count))
    rng.shuffle(site)
    urls = [f"http://{hosts[h]}{path}" for h, path in site]

    pages = []
    for i, (h, _) in enumerate(site):
        anchors = []
        for _ in range(links):
            j = rng.randrange(n_pages)
            th, path = site[j]
            style = rng.randrange(5)
            if style == 0:
                href = urls[j]
            elif style == 1:
                href = f"HTTP://{hosts[th].upper()}{path}"
            elif style == 2:
                href = f"{urls[j]}#{rng.choice(VOCAB)}"
            elif style == 3:
                href = f"{urls[j]}?b={rng.randrange(9)}&a={rng.randrange(9)}"
            else:
                href = path if th == h else urls[j]
            anchors.append(f'<a href="{href}">{_words(rng, 2)}</a>')
        paras = "".join(f"<p>{_words(rng, 5 + rng.randrange(20))}</p>"
                        for _ in range(1 + rng.randrange(3)))
        html = (f"<!DOCTYPE html><html><head><title>{_words(rng, 3)}"
                f"</title></head><body><h1>{_words(rng, 4)}</h1>{paras}"
                f"<div class=\"links\">{' '.join(anchors)}</div>"
                f"</body></html>")
        pages.append((urls[i], html.encode("utf-8")))
    n_seeds = max(1, round(n_pages * SEED_SHARE))
    return {"pages": pages, "hosts": hosts,
            "seeds": [(u, 1.0) for u in urls[:n_seeds]]}


# ----------------------------------------------------------------------
# record pages: Hacker-News-shaped story tables
# ----------------------------------------------------------------------

RECORD_SPEC = {"title": (".title a", "text", None),
               "href": (".storylink", "attr", "href")}
RECORD_ROW = "tr.athing"
# assumed: every 10th page repeats its predecessor (10% refetches), so
# the parse memo of the extraction UDF is neither idle nor flattered
REFETCH_EVERY = 10


def record_pages(seed: int, n_pages: int, rows: int) -> list[tuple]:
    """→ [(url, html bytes)], ``rows`` ``tr.athing`` records per page.
    Page i with i % REFETCH_EVERY == REFETCH_EVERY-1 is a byte-identical
    refetch of page i-1 (same URL), adjacent in input order."""
    rng = random.Random(f"records:{seed}")
    out: list[tuple] = []
    for i in range(n_pages):
        if i % REFETCH_EVERY == REFETCH_EVERY - 1:
            out.append(out[-1])
            continue
        trs = []
        for k in range(rows):
            trs.append(
                f'<tr class="athing" id="{i * rows + k}">'
                f'<td class="rank">{k + 1}.</td><td class="title">'
                f'<a class="storylink" href="https://{rng.choice(VOCAB)}'
                f'.example/{rng.choice(VOCAB)}/{rng.randrange(10**6)}">'
                f'{_words(rng, 3 + rng.randrange(8))}</a></td></tr>'
                f'<tr><td class="subtext">{rng.randrange(500)} points by '
                f'{rng.choice(VOCAB)}</td></tr>'
                f'<tr class="spacer"></tr>')
        html = ("<html><head><title>news</title></head><body>"
                "<table class=\"itemlist\">" + "".join(trs) +
                "</table></body></html>")
        out.append((f"http://news.bench/page/{i}", html.encode("utf-8")))
    return out


# ----------------------------------------------------------------------
# documents with planted exact and near duplicates
# ----------------------------------------------------------------------

def _exact_variant(rng: random.Random, text: str) -> str:
    # differs only in case and whitespace: dedup_exact's normalized
    # form (trim, collapse whitespace, lower-case) is identical
    out = []
    for w in text.split(" "):
        out.append(w.upper() if rng.random() < 0.2 else w)
        out.append(rng.choice((" ", "  ", "\t", "\n ")))
    return "  " + "".join(out[:-1]) + " "


def _near_variant(rng: random.Random, text: str) -> str:
    # one word replaced in a base of at least NEAR_MIN_WORDS words
    # changes at most 3 of its word 3-grams: Jaccard >= 65/71 = 0.915
    words = text.split(" ")
    k = rng.randrange(len(words))
    # a replacement equal to the old word would leave an unplanted
    # exact duplicate behind
    words[k] = next(w for w in rng.sample(VOCAB, 2) if w != words[k])
    return " ".join(words)


# the documents table bench.py's dedup queries read (5000 docs of 10-100
# words): 8 docs (0.16%) repeat another after case and whitespace
# normalization, and 244 (4.9%) are the larger id of a pair with word
# 3-gram Jaccard >= 0.9, the MinHash threshold of its q5
EXACT_SHARE = 0.0016
NEAR_SHARE = 0.049
MIN_WORDS, MAX_WORDS = 10, 100
NEAR_MIN_WORDS = 70
THRESHOLD = 0.9


def documents(seed: int, n_docs: int) -> dict:
    """→ {"docs": [(doc_id, text)], "exact_ids": set, "near_ids": set}.

    Exactly round(n·share) planted copies of each kind, each copying a
    random earlier base document (so the base keeps the smaller id and
    survives). Base documents are MIN_WORDS-MAX_WORDS random vocabulary
    words; a near copy replaces one word of a base of at least
    NEAR_MIN_WORDS words, so it clears THRESHOLD against its base."""
    rng = random.Random(f"docs:{seed}")
    n_exact = round(n_docs * EXACT_SHARE)
    n_near = round(n_docs * NEAR_SHARE)
    kinds = (["exact"] * n_exact + ["near"] * n_near
             + ["base"] * (n_docs - n_exact - n_near))
    rng.shuffle(kinds)
    first_base = kinds.index("base")
    kinds[0], kinds[first_base] = kinds[first_base], kinds[0]
    docs: list[tuple[int, str]] = []
    bases: list[int] = []
    long_bases: list[int] = []
    exact_ids: set[int] = set()
    near_ids: set[int] = set()
    for i, kind in enumerate(kinds):
        if kind == "base":
            # document 0 is long, so every near copy has a base to copy
            lo = NEAR_MIN_WORDS if i == 0 else MIN_WORDS
            text = _words(rng, lo + rng.randrange(MAX_WORDS - lo + 1))
            bases.append(i)
            if len(text.split(" ")) >= NEAR_MIN_WORDS:
                long_bases.append(i)
        elif kind == "exact":
            text = _exact_variant(rng, docs[rng.choice(bases)][1])
            exact_ids.add(i)
        else:
            text = _near_variant(rng, docs[rng.choice(long_bases)][1])
            near_ids.add(i)
        docs.append((i, text))
    return {"docs": docs, "exact_ids": exact_ids, "near_ids": near_ids}
