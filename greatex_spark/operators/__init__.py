"""Corpus-assembly operators, one module per family: import each from
its defining module (``greatex_spark.operators.dedup`` and so on), so a
caller loads only the operators it runs."""
