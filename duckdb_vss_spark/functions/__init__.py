from .distance import (  # noqa: F401
    METRIC_IS_DESCENDING,
    METRICS,
    array_cosine_distance,
    array_cosine_similarity,
    array_distance,
    array_distance_sq,
    array_inner_product,
    array_negative_inner_product,
    canonical_metric,
    distance_expr,
)
