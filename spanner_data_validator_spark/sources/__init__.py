"""Sources: transcript batch/stream readers (Iceberg-gated), ranged JDBC,
session-file / tablespec / shard-config ingestion."""

from spanner_data_validator_spark.sources.transcript_source import (  # noqa: F401
    KEY_COLS,
    PAYLOAD_COLS,
    TRANSCRIPT_SCHEMA,
    read_transcripts,
    stream_transcripts,
    write_transcripts,
)
from spanner_data_validator_spark.sources.files import (  # noqa: F401
    read_csv_strict,
    read_jsonl_strict,
    split_quarantine,
)
from spanner_data_validator_spark.sources.pyds import (  # noqa: F401
    TranscriptGenDataSource,
    drain_stream,
    rows_oracle_sql,
    source_offset,
)
from spanner_data_validator_spark.sources.jdbc_source import (  # noqa: F401
    range_predicates,
    ranged_predicates_for,
    read_jdbc_ranged,
)
from spanner_data_validator_spark.sources.bucketed import (  # noqa: F401
    validate_bucketed,
    write_bucketed,
)
from spanner_data_validator_spark.sources.session_file import (  # noqa: F401
    DroppedTableError,
    Schema,
    determine_partition_key,
    read_session_file,
    table_specs_from_session,
)
from spanner_data_validator_spark.sources.shard_config import (  # noqa: F401
    ShardSpec,
    read_sharded_union,
    read_sharding_config,
)
from spanner_data_validator_spark.sources.tablespec import (  # noqa: F401
    QueryTableSpec,
    generate_table_specs,
    specs_from_json_file,
    specs_to_json_file,
)
from spanner_data_validator_spark.sources import snapshots  # noqa: F401
from spanner_data_validator_spark.sources.snapshot_sink import (  # noqa: F401
    SnapshotCommitDataSource,
)
from spanner_data_validator_spark.sources.snapshot_stream import (  # noqa: F401
    SnapshotTailDataSource,
    drain_to_version,
)
