"""Streaming NEAR-duplicate detection for live document ingestion
(driver-prompt dedup modality × SURVEY §2.14 stateful streaming; no
reference counterpart).

streaming_exact_dedup catches byte-identical re-crawls; this operator
catches near-duplicates (boilerplate edits, timestamps, templating) AS
THEY ARRIVE, using the same MinHash-LSH banding as the batch path:
a document whose band bucket was already claimed by an earlier document
is reported as a candidate near-dup pair (anchor_id, dup_id).

Shape: minhash signatures (the shuffle-free Arrow pass from
webtext/dedup.py, event-time column carried through) → band-bucket
explode (shared band_buckets helper — identical keys to the batch join)
→ ``applyInPandasWithState`` keyed by (band, bucket): state is ONE long
per bucket (the first-seen anchor id), each batch emits (anchor, new_id)
for every later arrival in that bucket.

Contracts / scale notes:

- A pair sharing k bands is emitted up to k times (once per bucket) —
  downstream compaction (dropDuplicates / connected_components in the
  batch layer) collapses them, the same division of labor as
  streaming_exact_dedup vs exact_dedup. Keeping the pair-dedup out of
  the stream avoids chaining a second stateful operator.
- State is one long per DISTINCT band bucket seen — bounded by corpus
  vocabulary of buckets, not by document count, and evictable via the
  ``timeout`` param (ProcessingTimeTimeout) for forever-running jobs;
  after eviction a bucket's next arrival becomes the new anchor (misses
  only cross-horizon pairs — batch compaction's job, as above).
- Within a micro-batch, rows are ordered by (event time, id) before
  anchoring, so the anchor is deterministic for a replayed stream.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

from anofox_forecast_spark._worker import release_zip_finders
from anofox_forecast_spark.webtext.dedup import band_buckets, minhash_signatures

_OUT_SCHEMA = StructType([
    StructField("band", LongType()),
    StructField("bucket", LongType()),
    StructField("anchor_id", LongType()),
    StructField("dup_id", LongType()),
])
_STATE_SCHEMA = StructType([StructField("first_id", LongType())])


def streaming_minhash_near_dups(
    docs_stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    seed: int = 7,
    watermark: str = "1 hour",
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Candidate near-dup pairs from a document stream:
    (band, bucket, anchor_id, dup_id) — anchor is the bucket's first-seen
    document; one row per later arrival per shared bucket.

    ``timeout='ProcessingTimeTimeout'`` lets bucket anchors expire (set
    the timeout duration inside the state function if customizing);
    default keeps anchors forever (bounded by distinct buckets).
    """
    sig = minhash_signatures(
        docs_stream.withWatermark(ts_col, watermark),
        id_col, text_col, n_hashes, shingle_n, seed, carry_cols=[ts_col],
    )
    bb = band_buckets(sig, n_hashes, bands).select(
        "id", ts_col, "band", "bucket")

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        release_zip_finders()
        if state.hasTimedOut:
            state.remove()
            return
        band, bucket = key
        first = state.get[0] if state.exists else None
        out_a, out_b = [], []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values([ts_col, "id"])
            for i in pdf["id"].tolist():
                if first is None:
                    first = int(i)
                elif int(i) != first:
                    out_a.append(first)
                    out_b.append(int(i))
        state.update((first,))
        if out_a:
            yield pd.DataFrame({
                "band": [band] * len(out_a),
                "bucket": [bucket] * len(out_a),
                "anchor_id": out_a,
                "dup_id": out_b,
            })

    return (
        bb.groupBy("band", "bucket")
        .applyInPandasWithState(
            update, _OUT_SCHEMA, _STATE_SCHEMA, "append",
            getattr(GroupStateTimeout, timeout),
        )
    )
