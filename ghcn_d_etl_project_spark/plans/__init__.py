"""Query plans: importing this package registers every named query.

Each module covers one operator family from SURVEY.md §2; the registry in
``registry.py`` is the single source of truth consumed by
``__spark_entry__.py``, the pytest oracle-parity suite, and the perfbench
``olap_queries`` workload.
"""

# Import order IS registry order, and the round driver evaluates entries in
# registry order under a bounded correctness budget — so SURVEY §2 core
# operator families (scans/filters/joins/aggregates/reshape/windows/
# streaming/sampling/quality) must register BEFORE the llm/multimodal
# extension families, or the tail gets no driver correctness row.
from ghcn_d_etl_project_spark.plans import (  # noqa: F401
    core,
    aggregates,
    joins,
    reshape,
    windows,
    streaming,
    sampling,
    quality,
    llm,
    multimodal,
    curation,
    mining,
)
from ghcn_d_etl_project_spark.plans.registry import Query, all_queries, register

__all__ = ["Query", "all_queries", "register"]
