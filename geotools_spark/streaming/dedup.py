"""Streaming exact-dedup — the ingestion-time twin of
``operators.dedup.exact_dedup`` (keep one row per distinct text), the
fourth stateful streaming op next to finalize.py / flips.py /
sessions.py.

Batch keeps the LOWEST-id row per key; a stream cannot see future
ids, so the streaming contract is FIRST-SEEN wins — identical output
when the stream delivers docs in ascending id order (the natural
ingestion order), which the parity test pins across micro-batch
boundaries.

State shape (the 100 TB argument): the built-in streaming
``dropDuplicates`` keyed by a 128-bit text fingerprint (two
independent ``xxhash64`` lanes), NOT by the text itself — state is 16
bytes + row overhead per DISTINCT document instead of multi-KB text,
the difference between a bounded state store and shipping the corpus
into the state backend at 10^12 docs. The fingerprint trades the
batch operator's in-partition collision verify (dedup.py:74) for a
~2^-128 birthday bound — a documented deviation; keying state by full
text is the non-scalable alternative. ``within`` bounds state further
when duplicates only arrive inside a known event-time window
(``dropDuplicatesWithinWatermark``): expired fingerprints are evicted
by the watermark, making state proportional to the window's distinct
keys, not the stream's.

NULL texts: both lanes hash NULL to the lane's seed constant, so NULL
docs dedupe against each other (one survivor) exactly like the batch
operator's NULL-safe key compare (ADVICE r04 fix).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# second-lane salt: any constant makes xxhash64(key, salt) independent
# of xxhash64(key) (different input length -> different mix path);
# value must fit a signed 64-bit literal
_FP_SALT = 0x517CC1B727220A95


def exact_dedup_stream(
    docs: DataFrame,
    *,
    key: str = "text",
    within: str | None = None,
    event_time: str = "ingest_ts",
) -> DataFrame:
    """First-seen-wins dedup over a streaming document source.

    Returns an append-mode stream carrying each distinct ``key``'s
    first row, all input columns intact. With ``within`` (e.g.
    ``"24 hours"``), duplicates are only suppressed inside the
    event-time window around the first sighting and state is evicted
    past the ``event_time`` watermark — the bounded-state mode for
    never-ending ingestion where re-crawls cluster in time.
    """
    fp1 = F.xxhash64(F.col(key))
    fp2 = F.xxhash64(F.col(key), F.lit(_FP_SALT))
    out = docs.select("*", fp1.alias("_fp1"), fp2.alias("_fp2"))
    if within is not None:
        out = out.withWatermark(event_time, within).dropDuplicatesWithinWatermark(
            ["_fp1", "_fp2"]
        )
    else:
        out = out.dropDuplicates(["_fp1", "_fp2"])
    return out.drop("_fp1", "_fp2")
