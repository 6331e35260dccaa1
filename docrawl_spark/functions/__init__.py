"""Vectorized scalar function surface (the engine's "UDF registry").

The reference's spider-function dispatch (docrawl_core.py:1098) is a
string→method registry; here the registry is this package: every
function is either a built-in Column expression factory or an
Arrow-batched UDF. URL canonicalization has one implementation,
``canonicalize_arrow``, behind the Arrow-native ``abs_url_arrow``. No
row-at-a-time Python UDFs anywhere.
"""

from docrawl_spark.functions.canon import (  # noqa: F401
    abs_url_arrow,
    build_abs_url,
    canonicalize_arrow,
    host_of_col,
    normalize_seed_url_col,
    url_hash_col,
    with_abs_url,
)
