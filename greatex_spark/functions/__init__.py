"""Quality-signal functions, one module per family: import each from
its defining module (``greatex_spark.functions.heuristics`` and so on),
so a caller loads only the functions it runs."""
