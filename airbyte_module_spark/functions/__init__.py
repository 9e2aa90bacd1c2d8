from airbyte_module_spark.functions.content import normalize_content_expr, sha256_expr

__all__ = [
    "normalize_content_expr",
    "sha256_expr",
]
