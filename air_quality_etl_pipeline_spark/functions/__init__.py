from air_quality_etl_pipeline_spark.functions.core import (
    safe_div,
    md5_long,
    char_shingles,
    token_array,
    dot_product,
    l2_norm,
)

__all__ = [
    "safe_div",
    "md5_long",
    "char_shingles",
    "token_array",
    "dot_product",
    "l2_norm",
]
