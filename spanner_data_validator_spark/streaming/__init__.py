"""Streaming validation: watermarked join classifier, stateful engine, sinks."""

from spanner_data_validator_spark.streaming.validate_stream import (  # noqa: F401
    classify_stream,
    fingerprint_stream,
    session_mismatch_windows,
    windowed_status_counts,
)
from spanner_data_validator_spark.streaming.stateful import classify_stateful  # noqa: F401
from spanner_data_validator_spark.streaming.sink import (  # noqa: F401
    AtomicMultiParquetSink,
    CommitLedger,
    ExactlyOnceParquetSink,
    TallyForeachBatch,
    merge_into_iceberg,
)
from spanner_data_validator_spark.streaming.jdbc_sink import (  # noqa: F401
    JdbcAtomicMultiSink,
    JdbcExactlyOnceSink,
)
from spanner_data_validator_spark.streaming.listener import (  # noqa: F401
    ValidationMetricsListener,
)
from spanner_data_validator_spark.streaming.tws import (  # noqa: F401
    ConversationDigestProcessor,
    batch_equivalent,
    conversation_digest_stream,
    tws_available,
)
from spanner_data_validator_spark.streaming.neardup_stream import (  # noqa: F401
    build_lsh_index,
    neardup_guard,
)
from spanner_data_validator_spark.streaming.frontier_sink import (  # noqa: F401
    FrontierMaintenanceSink,
)
from spanner_data_validator_spark.streaming.state_inspect import (  # noqa: F401
    batch_lineage,
    read_state,
    read_state_metadata,
    state_partition_profile,
)
from spanner_data_validator_spark.streaming.lag_monitor import (  # noqa: F401
    LagMonitorSink,
)
