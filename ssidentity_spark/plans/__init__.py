"""Query plans, one module per SURVEY.md §2 family. Importing this package
imports every module, whose ``@register`` decorators fill ``REGISTRY``, then
puts the bench headliners first with one stable sort (each group keeps its
registration order), so a reader that samples the leading ``queries()``
entries gets the headline set.
"""

from ssidentity_spark.plans import (  # noqa: F401
    analytics,
    dedup,
    extras,
    graph,
    multimodal,
    pipeline,
    reference_pipeline,
    scalars,
    similarity,
    sources,
    sqlapi,
    text,
    timeseries,
    tpch,
    tpch2,
    tpch3,
    tpch4,
)
from ssidentity_spark.registry import REGISTRY

_ordered = sorted(REGISTRY.items(), key=lambda kv: not kv[1].bench)
REGISTRY.clear()
REGISTRY.update(_ordered)
