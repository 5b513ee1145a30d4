"""pixcrawler_spark — a PySpark-native URL-frontier / fetch-scheduler engine.

A from-scratch, Spark-first rebuild of the query & data-processing
capabilities of the reference crawler (alaamer12/PixCrawler): a URL
frontier + fetch scheduler over Common-Crawl-style page tables
(url, warc_ts, html, text, lang), with

- an exact URL-seen set (a left-anti join against the url-bucketed
  ``seen`` table),
- per-domain politeness (robots rules + crawl-delay token buckets),
- a window-ranked priority queue per micro-round,
- text / outlink extraction as JVM regex expressions,
- a full dedup suite (exact, minhash-LSH, simhash, n-gram jaccard,
  embedding cosine),
- text analytics (lang-id, quality, tokens, fingerprints), and
- similarity search over embedding columns.

Everything is declarative DataFrame/SQL so Catalyst + AQE choose the
physical plan. A crawl round runs no Python evaluation at all; the
operators outside the round that do (media decode, streaming state)
use Arrow-batched pandas UDFs, never row-at-a-time UDFs.
"""

__version__ = "0.1.0"
