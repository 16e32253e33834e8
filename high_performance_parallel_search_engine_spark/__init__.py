"""PySpark-native web-crawl frontier + fetch scheduler + search analytics.

A from-scratch rebuild (NOT a port) of the capabilities of the reference C
engine PramithaMJ/High-Performance-Parallel-Search-Engine: a distributed URL
frontier over parquet/Iceberg-style snapshot tables of Common-Crawl-style
pages ``(url, warc_ts, html, text, lang)``, with

- exact URL canonicalization + URL-seen dedup (xxhash64 left-anti join),
- per-host politeness budgets, robots rules, priority scheduling,
- vectorized Arrow/pandas UDFs for byte-identical HTML->text extraction and
  link extraction,
- checkpointed, resumable BFS fetch rounds with per-partition lineage metrics,
- the downstream inverted-index / BM25 query path,
- and large-scale training-data pipeline operators (dedup families,
  similarity search, text analysis, multimodal plumbing).

Layout:
  kernel/     pure-Python semantic kernel (exact ports of the reference's
              per-row semantics; shared by UDFs, SQL builders and the oracle)
  functions/  pandas UDFs + pure-Column (Catalyst-native) builders
  sources/    synthetic corpus generator + testdata table readers
  operators/  crawl rounds, dedup, politeness, index, ranking, similarity
  plans/      lineage / explain capture helpers
"""

__version__ = "0.1.0"
