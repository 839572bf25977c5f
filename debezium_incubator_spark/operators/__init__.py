from debezium_incubator_spark.operators.dedup import (  # noqa: F401
    filter_processed,
    lww_latest,
)
from debezium_incubator_spark.operators.merge import merge_upsert  # noqa: F401
