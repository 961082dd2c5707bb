from ros_sql_spark.streaming.replay import (  # noqa: F401
    session_counts,
    stream_events,
    tumbling_counts,
)
from ros_sql_spark.streaming.rollup import (  # noqa: F401
    continuous_rollup,
    hourly_rollup,
    rollup_upsert_batch,
)
