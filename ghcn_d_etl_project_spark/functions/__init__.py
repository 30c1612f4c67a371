"""The engine's scalar/column function library — one import surface for
every reusable Column-level function the operators are built from.

Mirrors the role of ``pyspark.sql.functions`` for engine-specific
functions: text analysis (tokens, shingles, fingerprints, language ID),
vector math (dot/norm/cosine), deterministic-aggregation helpers for
oracle parity (dsum/davg/count_if), and sketch primitives (simhash).
Everything here is a pure Column expression or JVM-side fold — UDF-free,
codegen-friendly, scale-safe (SURVEY.md §2.9, §2.11).
"""

from ghcn_d_etl_project_spark.operators.contamination import (  # noqa: F401
    word_ngrams,
)
from ghcn_d_etl_project_spark.operators.common import (  # noqa: F401
    bootstrap_uniform,
    poisson_weight,
)
from ghcn_d_etl_project_spark.operators.dedup import simhash64  # noqa: F401
from ghcn_d_etl_project_spark.operators.geo import haversine_km  # noqa: F401
from ghcn_d_etl_project_spark.operators.linkage import (  # noqa: F401
    deletion_variants,
)
from ghcn_d_etl_project_spark.operators.timeseries import (  # noqa: F401
    business_days_between,
    business_days_to_date,
)
from ghcn_d_etl_project_spark.operators.similarity import (  # noqa: F401
    cosine,
    dot,
    norm,
    sign_lsh_bucket,
)
from ghcn_d_etl_project_spark.operators.textops import (  # noqa: F401
    char_shingles,
    chunk_spans,
    fingerprint,
    lang_id,
    normalize_text,
    pii_redact,
    punct_ratio,
    rolling_hash,
    stopword_hits,
    text_quality_score,
    token_count,
    tokens,
    word_shingles,
)
from ghcn_d_etl_project_spark.plans._util import (  # noqa: F401
    as_date_str,
    count_if,
    davg,
    dsum,
    lsum,
)

__all__ = [
    "as_date_str",
    "bootstrap_uniform",
    "char_shingles",
    "chunk_spans",
    "cosine",
    "count_if",
    "davg",
    "deletion_variants",
    "dot",
    "dsum",
    "fingerprint",
    "haversine_km",
    "lang_id",
    "lsum",
    "norm",
    "normalize_text",
    "pii_redact",
    "poisson_weight",
    "punct_ratio",
    "rolling_hash",
    "sign_lsh_bucket",
    "simhash64",
    "stopword_hits",
    "text_quality_score",
    "token_count",
    "tokens",
    "word_ngrams",
    "word_shingles",
]
