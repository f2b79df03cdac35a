from .joins import interval_join  # noqa: F401
from .pipeline import CountStore, streaming_windowed_counts  # noqa: F401
from .sinks import DictKVStore, start_parquet_ingest  # noqa: F401
from .stateful import running_ewma, running_page_stats, stream_dedup  # noqa: F401
from .cc_stream import (  # noqa: F401
    apply_pair_batch,
    latest_labels,
    stream_incremental_dup_clusters,
)
