from .pipeline import CountStore, streaming_windowed_counts  # noqa: F401
from .sinks import DictKVStore  # noqa: F401
