"""cmoncrawl_spark — a PySpark-native crawl-frontier + extraction engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference toolkit hynky1999/CmonCrawl (see /root/reference, MIT):

- index-query semantics (CDX/Athena match types, date ranges, crawl
  pruning)                                   -> operators/ccindex.py
- URL canonicalization + URL-seen dedup      -> functions/urls.py,
                                                operators/frontier.py
- routing, encoding cascade, HTML extraction -> operators/routing.py,
                                                extraction/
- crawl frontier scheduling rounds (bloom
  dedupe, politeness, per-host top-k)        -> operators/frontier.py,
                                                operators/bloom.py
- training-data pipeline ops (dedup flavors,
  similarity search, text analysis)          -> operators/dedup.py,
                                                operators/similarity.py,
                                                operators/textstats.py

Everything is declared through the DataFrame/SQL API so Catalyst picks
physical plans; Python appears only inside Arrow-batched pandas UDFs.
"""

__version__ = "0.1.0"

import sys as _sys

if "pyspark.worker" in _sys.modules:
    # a PySpark worker: Spark's per-task invalidate_caches() re-reads
    # only the zip archives that changed (worker_imports).
    from cmoncrawl_spark import worker_imports as _worker_imports

    _worker_imports.install()
