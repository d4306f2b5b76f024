"""Structured Streaming variants of the engine's event and snapshot paths
(SURVEY §2.10 / §7 step 7).

The reference's step loop (DSGT.py:98-115) is a batch scan over time; its
natural streaming reading — snapshot files arriving per time-step — is
implemented here as a file-source stream into the same decode + encode tail
the batch pipeline uses. Event analytics (tumbling / session windows with
watermarks) stream over the driver's events table and are batch-equivalence
tested against their twins in queries/relational.py.

Every foreachBatch path runs on one microbatch-log primitive
(``start_logs`` / ``run_logs`` / ``read_log``): microbatch ``batch_id``
writes each log to ``<root>/<log>/batch-<batch_id>`` in overwrite mode, so
a replayed microbatch rewrites its own directory. Snapshot ingest stages
to ``<staging_dir>/snapshots/batch-<batch_id>``.
"""

from seisdb_spark.streaming.ingest import (  # noqa: F401
    dedup_events_stream,
    enrich_stream_static,
    finalize_sgt_from_staging,
    novelty_probe,
    read_events_stream,
    read_log,
    read_table_stream,
    run_logs,
    run_to_memory,
    sessionize_stream,
    sliding_counts_stream,
    snapshot_ingest_stream,
    start_logs,
    tumbling_counts_stream,
)
from seisdb_spark.streaming.stateful import (  # noqa: F401
    running_user_totals_stream,
)
