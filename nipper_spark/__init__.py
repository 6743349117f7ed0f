"""nipper_spark — a PySpark-native crawl-frontier + HTML-extraction engine.

A brand-new engine with the query/data-processing capabilities of the
reference HTML library (importcjj/nipper, Rust): WHATWG HTML parsing,
CSS-selector querying, text/attr/html extraction and DOM mutation —
re-expressed Spark-first. Per-document work runs inside Arrow-batched
pandas UDFs (never per-row Python); everything cross-document (URL
dedup, politeness scheduling, frontier priority queues, dedup/similarity
of extracted text) is declarative DataFrame/SQL so Catalyst+AQE plan it.

Layout
------
- ``nipper_spark.html``      pure-Python WHATWG parser, CSS selectors,
                             serializer, mutations (the in-UDF kernel)
- ``nipper_spark.functions`` pandas/Arrow UDFs + URL canonicalization +
                             text-analysis / dedup / similarity kernels
- ``nipper_spark.crawl``     URL-seen (bloom + exact anti-join),
                             politeness, frontier batch rounds, oracle
- ``nipper_spark.sources``   pages table loaders + deterministic
                             synthetic Common-Crawl-style generator
- ``nipper_spark.operators`` reusable DataFrame operator combinators
- ``nipper_spark.plans``     plan inspection / explain assertions
- ``nipper_spark.streaming`` incremental (batch-round) drivers
"""

from nipper_spark import zipimport_cache
from nipper_spark.html import (  # noqa: F401
    Document, Matcher, Selection, SelectorError)

# every engine UDF unpickles through this package, so each reused
# Python worker gets the stat-checked archive invalidation
zipimport_cache.install()

__version__ = "0.1.0"
