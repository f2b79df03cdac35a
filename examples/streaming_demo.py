"""End-to-end live demo of the reference's whole loop, self-contained:

    rate source (5 PageEvents/s, the reference supplier cadence)
      → filter(duration > 100) → re-key(page) → 5 s tumbling count
      → queryable count-store (update mode, 1 s trigger)
      → 1 Hz analytics snapshots (the reference's SSE endpoint body)

Run:  python examples/streaming_demo.py [seconds]

This is the reference's README demo (Smoothie.js live chart fed by
`/analytics` SSE). The snapshots come from a real SSE endpoint + live
page (serving/http.py — open the printed URL while the demo runs); the
demo prints the frames it reads from that same `/analytics` stream.
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_streams_spring_cloud_stream_tp1_spark.serving import AnalyticsServer
from kafka_streams_spring_cloud_stream_tp1_spark.session import get_spark
from kafka_streams_spring_cloud_stream_tp1_spark.sources.generators import page_event_stream
from kafka_streams_spring_cloud_stream_tp1_spark.streaming import CountStore


def main(seconds: float = 12.0) -> None:
    spark = get_spark(app_name="streaming-demo")
    spark.sparkContext.setLogLevel("ERROR")

    events = page_event_stream(spark, rows_per_second=5).selectExpr(
        "name AS event_type", "user AS user_id", "date AS ts", "duration AS value"
    )
    store = CountStore.start(
        spark, events, window="5 seconds", watermark="10 seconds", trigger_seconds=1.0
    )
    srv = AnalyticsServer.for_store(store).start()
    print(f"live chart: {srv.url}/  (SSE: {srv.url}/analytics)")
    n = max(1, round(seconds))
    print(f"streaming 5 events/s; reading {n} snapshots from /analytics at 1 Hz …")
    try:
        # ?n=K: the server closes the stream after K snapshots
        with urllib.request.urlopen(f"{srv.url}/analytics?n={n}") as sse:
            for line in sse:
                if line.startswith(b"data: "):
                    print("analytics:", json.loads(line[len(b"data: ") :]), flush=True)
    finally:
        srv.stop()
        store.stop()
        spark.stop()


if __name__ == "__main__":
    main(float(sys.argv[1]) if len(sys.argv) > 1 else 12.0)
