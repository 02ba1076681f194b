"""greatex_spark — a PySpark-native web-text quality-filter engine.

A from-scratch re-expression of the capabilities of the reference repo
``ismaildawoodjee/GreatEx`` (read-only at /root/reference): declarative
expectation suites validated as gates between pipeline stages, staged
table movement (bronze → silver → gold), per-run validation-result and
lineage artifacts, idempotent / resumable runs — recast as a
Common-Crawl-style web-text quality-filter pipeline (language-ID,
perplexity, Gopher/C4 heuristics, MinHash dedup, regex PII scrub).

Architecture is Spark-first: every expectation compiles to Column
expressions fused into ONE ``df.agg(...)`` pass per suite; filters and
scrubbers are pure ``DataFrame -> DataFrame`` functions built from
``pyspark.sql.functions``; the only Python-side execution is Arrow
UDF batch kernels: featurize's page signals (which also make the
pipeline's language decision), perplexity, an optional external langid
model and the xxhash64 MinHash.  The pandas-UDF langid scorer in
``functions/langid.py`` is a library function the pipeline does not
call.  No RDDs, no per-row Python UDFs anywhere.
"""

__version__ = "0.1.0"

from greatex_spark.session import get_spark  # noqa: F401
