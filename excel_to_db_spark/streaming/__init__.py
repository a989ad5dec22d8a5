"""Structured Streaming operators (SURVEY.md §2.C streaming tier).

The reference is strictly single-shot batch (reference src/main.rs:130-177
— one load, one REPL); streaming is a Tier C extension. Design rule:
every streaming aggregation here is the SAME `pyspark.sql.functions`
window expression as its batch twin in `queries/extensions.py`, so the
batch oracle checks the streaming semantics (Spark guarantees the two
paths agree on finite input).

- `windows.py` and `stateful.py` hold the runners: each says what its
  stream aggregates.
- `replay.py` is the one module that stages, starts and drains a finite
  stream: the memory sink, the availableNow trigger, the state-partition
  scope, and the staging and checkpoint directories, which it removes
  once the stream is drained.
"""

from .replay import events_stream_reader  # noqa: F401
from .stateful import (  # noqa: F401
    run_stateful_totals,
    stateful_user_totals,
)
from .windows import (  # noqa: F401
    hopping_agg,
    run_hopping_stream,
    run_session_stream,
    run_stream_dedup,
    run_stream_static_join,
    run_stream_stream_join,
    run_stream_stream_left_join,
    run_stream_dedup_watermark,
    run_stream_topk_trending,
    run_stream_scd2_enrich,
    run_tumbling_stream_rocksdb,
    run_stream_update_mode,
    run_tumbling_stream_multibatch,
    run_tumbling_stream,
    session_agg,
    tumbling_agg,
)
