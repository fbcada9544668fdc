"""Importing this package loads every operator module, which registers
its queries into ``registry.REGISTRY``."""

from oracle_parquet_dumper_spark.plans.registry import (  # noqa: F401
    REGISTRY,
    QuerySpec,
    all_oracles,
    all_queries,
    bench_queries,
    query,
)

# Operator modules register queries at import time.
from oracle_parquet_dumper_spark.operators import (  # noqa: F401,E402
    cleaning,
    dedup,
    events_analytics,
    graph,
    iterative,
    layout_queries,
    multimodal,
    pipeline_prep,
    profiling,
    relational,
    scalars,
    setops,
    similarity,
    streaming_batch,
    text,
    udfs,
    validation,
    windows,
)
