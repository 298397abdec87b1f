"""The harness query registry: every ``q_`` query with its oracle.

Each family module registers its queries at import through
``_common.query``; importing this package imports every family, in the
order below, which is the registration order ``REGISTRY`` keeps. The
driver contract (``__spark_entry__``) reads ``REGISTRY``. The package
``databricks_flight_etl_spark`` does not import this subpackage, so a
library user never pays for the registry.
"""

from __future__ import annotations

from databricks_flight_etl_spark.registry import (  # noqa: F401 (registers)
    relational,
    quality,
    text,
    dedup,
    similarity,
    graph,
    sampling,
    sketches,
    model_eval,
    temporal,
    multimodal,
    streaming,
    pipelines,
)
from databricks_flight_etl_spark.registry._common import REGISTRY  # noqa: F401
