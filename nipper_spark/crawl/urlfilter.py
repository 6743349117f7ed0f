"""Frontier URL filtering — the pre-queue hygiene pass every
production crawler runs on candidate links before they ever reach the
URL-seen join (the Nutch/StormCrawler "basic + suffix + host blocklist"
filter stack, restated over canonical URLs).

Rules, applied to CANONICAL urls (lowercase scheme/host, fragment
stripped — see functions/url.py) in fixed order; the first violated
rule is the drop ``reason``:

1. ``scheme``        — not http(s) (defence-in-depth; canonicalize
                       already rejects exotic schemes);
2. ``host_blocked``  — the registered domain (last two labels; IPv6
                       literals are matched whole) appears in the
                       blocklist;
3. ``extension``     — the final path segment's extension is in the
                       banned set (media/binary assets a text crawl
                       never fetches);
4. ``query_too_long``— query string longer than ``max_query_len``
                       (calendar/session-id crawler traps);
5. ``too_deep``      — more than ``max_path_depth`` path segments
                       (infinite-directory traps).

Scale shape: pure Catalyst — regexp_extract / substring_index /
translate arithmetic, zero Python in the per-URL path; the blocklist
is a broadcast hash join on the derived registered domain, so the
candidate table never shuffles and cost is O(1) in blocklist size per
row. Every derivation has an operation-identical twin in
:func:`url_filter_oracle`, so the driver gate is hash-exact.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nipper_spark.functions.url import HOST_RE_SQL
from nipper_spark.session import local_df

DEFAULT_BANNED_EXTS = (
    "jpg", "jpeg", "png", "gif", "webp", "ico", "svg",
    "css", "js", "woff", "woff2", "ttf",
    "mp3", "mp4", "avi", "mov", "webm",
    "zip", "gz", "tar", "rar", "exe", "dmg", "iso")
DEFAULT_MAX_QUERY_LEN = 64
DEFAULT_MAX_PATH_DEPTH = 8


def _reg_domain_col(host):
    # IPv6 literals ([::1]) are bracketed by canonicalization — they
    # have no label structure, match them whole
    return F.when(host.startswith("["), host).otherwise(
        F.substring_index(host, ".", -2))


def url_frontier_filter(cands: DataFrame,
                        blocked_domains: list | tuple = (),
                        banned_exts: tuple = DEFAULT_BANNED_EXTS,
                        max_query_len: int = DEFAULT_MAX_QUERY_LEN,
                        max_path_depth: int = DEFAULT_MAX_PATH_DEPTH,
                        url_col: str = "url") -> DataFrame:
    """cands → (url, host, allowed, reason); reason is NULL when kept.

    ``blocked_domains`` is a list of registered domains ("tracker.com"
    blocks every subdomain of it). The list becomes a broadcast-joined
    one-column table — pass tens of thousands of entries without
    changing the plan shape.
    """
    url = F.col(url_col)
    host = F.regexp_extract(url, HOST_RE_SQL, 1)
    # path starts at the first '/' at 1-based position ≥ 9: past
    # "http(s)://" plus a non-empty host, and hosts contain no '/'
    slash = F.locate("/", url, 9)
    pathq = F.when(slash == 0, F.lit("/")).otherwise(F.substr(url, slash))
    path = F.substring_index(pathq, "?", 1)
    has_q = F.instr(pathq, "?") > 0
    qlen = F.when(has_q,
                  F.length(pathq) - F.length(path) - 1).otherwise(0)
    seg = F.substring_index(path, "/", -1)
    ext = F.when(F.instr(seg, ".") > 0,
                 F.lower(F.substring_index(seg, ".", -1))).otherwise("")
    depth = F.length(path) - F.length(F.translate(path, "/", ""))

    base = cands.select(
        url.alias("url"), host.alias("host"),
        _reg_domain_col(host).alias("_rd"),
        ext.alias("_ext"), qlen.alias("_qlen"), depth.alias("_depth"))
    if blocked_domains:
        bdf = local_df(cands.sparkSession,
                       [(d, True) for d in blocked_domains],
                       "reg_domain string, _blocked boolean")
        base = base.join(F.broadcast(bdf),
                         F.col("_rd") == F.col("reg_domain"), "left")
    else:
        base = base.withColumn("_blocked", F.lit(None).cast("boolean"))

    reason = (
        F.when(~(F.col("url").startswith("http://")
                 | F.col("url").startswith("https://")), "scheme")
        .when(F.col("_blocked"), F.lit("host_blocked"))
        .when(F.col("_ext").isin(*banned_exts), F.lit("extension"))
        .when(F.col("_qlen") > max_query_len, F.lit("query_too_long"))
        .when(F.col("_depth") > max_path_depth, F.lit("too_deep")))
    return base.select(
        "url", "host", reason.isNull().alias("allowed"),
        reason.alias("reason"))


_HOST_RE = re.compile(HOST_RE_SQL)


def url_filter_row(url: str, blocked: frozenset,
                   banned_exts: tuple = DEFAULT_BANNED_EXTS,
                   max_query_len: int = DEFAULT_MAX_QUERY_LEN,
                   max_path_depth: int = DEFAULT_MAX_PATH_DEPTH
                   ) -> tuple:
    """Operation-identical twin of one :func:`url_frontier_filter`
    row: same regex, same substring/count arithmetic. Returns
    (url, host, allowed, reason)."""
    m = _HOST_RE.match(url)
    host = m.group(1) if m else ""
    # 0-based find from 8 == Spark's 1-based locate from 9
    j = url.find("/", 8)
    pathq = url[j:] if j >= 0 else "/"
    path = pathq.split("?", 1)[0]
    qlen = len(pathq) - len(path) - 1 if "?" in pathq else 0
    seg = path.rsplit("/", 1)[-1]
    ext = seg.rsplit(".", 1)[-1].lower() if "." in seg else ""
    depth = path.count("/")
    rd = host if host.startswith("[") else \
        ".".join(host.rsplit(".", 2)[-2:])
    reason = None
    if not (url.startswith("http://") or url.startswith("https://")):
        reason = "scheme"
    elif rd in blocked:
        reason = "host_blocked"
    elif ext in banned_exts:
        reason = "extension"
    elif qlen > max_query_len:
        reason = "query_too_long"
    elif depth > max_path_depth:
        reason = "too_deep"
    return (url, host, reason is None, reason)


def url_filter_oracle(urls: list, blocked_domains: list | tuple = (),
                      **kw) -> list:
    """[(url,)] → [(url, host, allowed, reason)] via the row twin."""
    blocked = frozenset(blocked_domains)
    return [url_filter_row(u, blocked, **kw) for u in urls]
