"""Scalar function layer: pure-Python reference twins, Arrow UDFs where a
parser has no JVM form, and JVM-side Column expressions (the hot paths)."""

from .parsers_ref import (  # noqa: F401
    canonical_label,
    canonicalize_url,
    extract_links,
    extract_text,
    format_label,
    host_of,
    parse_percentage,
    parse_xrp_amount,
)
from .udfs import (  # noqa: F401
    canonical_label_col,
    canonicalize_url_udf,
    canonicalize_urls_split,
    extract_links_col,
    extract_text_col,
    format_label_col,
    host_col,
    parse_percentage_udf,
    parse_xrp_amount_udf,
    safe_ratio_col,
)
