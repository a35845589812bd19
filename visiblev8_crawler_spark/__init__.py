"""visiblev8_crawler_spark — a PySpark-native rebuild of the crawl/analytics
capabilities of ``aswad546/visiblev8-crawler`` (reference at /root/reference,
read-only).

This is NOT a port: the reference's FastAPI/Celery/Redis/Postgres/Chromium
stack (see SURVEY.md §0) is re-expressed as Spark DataFrame plans:

- URL frontier + fetch scheduler  -> ``streaming.scheduler`` (micro-batch waves,
                                     append-only commits, derived pending)
- always-on submit/ingest plane   -> ``streaming.ingest`` (readStream ->
                                     foreachBatch -> add_seeds), ``operators.candidates``
- URL-seen set (reference dedup, backend tasks.py:148-156)
                                  -> ``operators.bloom`` (broadcast Bloom +
                                     exact anti-join), ``operators.dedup``
- politeness / robots gating      -> ``operators.waves`` (salted window budgets)
- browser fetch (crawler.js)      -> ``operators.fetch`` (Arrow UDF decode+verify,
                                     ``codecs``/``verify`` kernels)
- staging-then-merge bulk loads   -> ``operators.merge`` (MERGE-when-not-matched)
- ledger / checkpoint / resume    -> ``catalog`` (atomic manifest snapshots)
- streaming analytics             -> ``streaming.windows`` (watermarked windows)
- Postgres analytics SQL + the training-data pipeline (dedup/ANN/text/
  multimodal/inference)            -> ``plans.*`` (DataFrame plans + SQL oracles)
"""

__version__ = "0.1.0"
