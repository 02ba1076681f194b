"""Cross-micro-batch exact dedup via ``applyInPandasWithState``.

:func:`streaming_exact_dedup` keeps one ``seen`` flag per content
fingerprint in managed state, so a page whose normalized text already
arrived in an earlier micro-batch is dropped: state is an explicit
typed tuple, updates arrive as Arrow batches, and the operator emits
only first-seen rows.

Scale: state lives in the state store partitioned by the fingerprint
key and shards across executors.  Each micro-batch shuffles only that
batch's rows by key; the state store is incremental (RocksDB-backed on
a real cluster via ``spark.sql.streaming.stateStore.providerClass``).
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


DEDUP_OUTPUT_SCHEMA = "url string, text string, lang string"
DEDUP_STATE_SCHEMA = "seen boolean"


def _emit_first_seen(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    if state.exists:
        yield pd.DataFrame(columns=["url", "text", "lang"])
        return
    state.update((True,))
    first = None
    for pdf in pdfs:
        cand = pdf.sort_values("url").iloc[:1]
        if first is None or cand["url"].iloc[0] < first["url"].iloc[0]:
            first = cand
    yield first[["url", "text", "lang"]]


def streaming_exact_dedup(pages: DataFrame) -> DataFrame:
    """Exact dedup ACROSS micro-batches: the streaming counterpart of
    ``operators.dedup.exact_dedup`` — the first page (lowest url) per
    normalized-content fingerprint is emitted once, every later
    duplicate in any later batch is dropped via a ``seen`` flag in
    managed state.

    Scale: state is one boolean per distinct fingerprint, sharded by
    the state store across executors (RocksDB-backed on a cluster);
    each micro-batch shuffles only its own rows by fingerprint.  This
    is how continuous ingest stays deduped without ever re-reading the
    committed corpus — the streaming twin of
    ``exact_dedup_incremental``, with the state store playing the
    fingerprint index."""
    from pyspark.sql import functions as F

    from greatex_spark.functions.textstats import normalize_for_fingerprint

    keyed = pages.select(
        F.xxhash64(normalize_for_fingerprint("text")).alias("fp"),
        "url", "text", "lang",
    )
    return keyed.groupBy("fp").applyInPandasWithState(
        _emit_first_seen,
        DEDUP_OUTPUT_SCHEMA,
        DEDUP_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
