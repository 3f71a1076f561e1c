from thanos_parquet_gateway_spark.convert.convert import (  # noqa: F401
    convert_samples,
    convert_streams,
    open_table,
    read_manifest,
    read_stream_descriptors,
    write_manifest,
    write_stream_descriptors,
)
from thanos_parquet_gateway_spark.convert.planner import plan_days  # noqa: F401
from thanos_parquet_gateway_spark.convert.retention import (  # noqa: F401
    apply_retention,
    mark_for_deletion,
)
