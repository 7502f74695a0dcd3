"""Custom stateful streaming operator: first-seen content dedup.

The batch pipeline's memoization (anti-join vs the committed memo
table) has a streaming twin: as media spans arrive continuously, only
the FIRST occurrence of each content hash should reach the expensive
OCR stage; later occurrences wait for (or reuse) the first's result.

Implemented with `applyInPandasWithState` — the Structured Streaming
custom-stateful-operator API (the round brief's named tool for
operators Spark's built-in streaming aggregations can't express):

- stream is keyed by a hash prefix (bounded key cardinality; state
  scales with distinct prefixes × hashes, sharded across executors);
- per-key state = the admission-ordered list of content hashes already
  admitted;
- each micro-batch emits only rows whose hash wasn't in state, then
  folds the new hashes into state;
- retention: an optional per-shard cap evicts the OLDEST admissions
  first — the streaming analogue of the reference cache's max-entries
  eviction (cache.go:29-198, config.go cache_size).  An evicted hash
  that reappears is re-admitted (recomputed), exactly like a TTL-cache
  miss; correctness is preserved because admission is a cache policy,
  not an exactly-once guarantee (that lives in the batch memo table).

The stream key is `content_hash_col(cfg)` — sha256(bytes‖language‖
preprocess-bool), the SAME key space as the batch memo (C1,
cache.go:188-198) — so streaming-admitted hashes can be joined against
and reused by the batch memo table and vice versa.

`dropDuplicates` on a stream would grow unbounded state with no
control and no timeout hook; the explicit operator owns its state
shape and eviction policy.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..config import DEFAULT_CONFIG, JobConfig
from ..plans.pipeline import content_hash_col

OUTPUT_SCHEMA = "content_hash string, media_ref string, admit_ordinal long"
STATE_SCHEMA = "seen array<string>, n_admitted long"


def _make_dedup_fn(max_state_per_shard: int | None):
    """First-seen admission state function over `content_hash`.

    State per shard: (admission-ordered list of seen hashes, total
    admitted count); each micro-batch emits (content_hash, media_ref,
    admit_ordinal) for rows whose hash is new, folds the new hashes
    into state, and (optionally) FIFO-evicts past the cap."""

    def _fn(
        key: Tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            order: list[str] = list(state.get[0])  # admission order
            n_admitted = int(state.get[1])
        else:
            order, n_admitted = [], 0
        seen = set(order)
        out: dict[str, list] = {"content_hash": [], "media_ref": []}
        out_ord: list[int] = []
        for pdf in pdfs:
            for h, ref in zip(pdf["content_hash"], pdf["media_ref"]):
                if h not in seen:
                    out_ord.append(n_admitted)  # shard admission ordinal
                    n_admitted += 1
                    seen.add(h)
                    order.append(h)
                    out["content_hash"].append(h)
                    out["media_ref"].append(ref)
        if max_state_per_shard is not None and len(order) > max_state_per_shard:
            order = order[-max_state_per_shard:]  # FIFO eviction
        state.update((order, n_admitted))
        out["admit_ordinal"] = out_ord
        yield pd.DataFrame(out)

    return _fn


def streaming_first_seen(
    media_stream: DataFrame,
    cfg: JobConfig = DEFAULT_CONFIG,
    max_state_per_shard: int | None = None,
) -> DataFrame:
    """media stream (media_ref, bytes) -> first-seen (hash, ref) rows.

    Key = 2-hex-char hash prefix: 256 state shards, each holding its
    own seen-set — the state is partitioned exactly like a shuffle.
    """
    hashed = media_stream.select(
        content_hash_col(cfg).alias("content_hash"),
        "media_ref",
    ).withColumn("shard", F.substring("content_hash", 1, 2))
    return (
        hashed.groupBy("shard")
        .applyInPandasWithState(
            _make_dedup_fn(max_state_per_shard),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_streaming_dedup(
    spark,
    media_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """File-source wiring: watch a media landing dir, emit first-seen rows."""
    stream = (
        spark.readStream.schema(
            "media_ref string, bytes binary, degradation string, true_text string"
        )
        .option("maxFilesPerTrigger", 4)
        .parquet(media_dir)
    )
    deduped = streaming_first_seen(stream)
    writer = (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
