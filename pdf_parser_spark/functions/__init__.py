"""Column-level scalar functions (SURVEY.md §2.9) — all JVM-side F.* exprs.

Each mirrors a scalar helper in the reference; none of these cross into
Python (whole-stage codegen keeps them fused with surrounding filters).
"""
from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["pdf_date_parse", "content_name"]


def pdf_date_parse(col: Column) -> Column:
    """PDF 'D:YYYYMMDDHHmmSS' → timestamp (X2; ``pdfplumber/pdf_page_extractor.py:43-60``)."""
    digits = F.regexp_replace(col, r"^D:", "")
    return F.to_timestamp(F.substring(digits, 1, 14), "yyyyMMddHHmmss")


def content_name(prefix: Column, idx: Column, md5_hex: Column, ext: Column) -> Column:
    """Content-addressed name 'img{i}_{md5[:8]}.{ext}' (X5;
    ``pdfplumber/smart_pdf_extractor.py:261``)."""
    return F.format_string(
        "%s%d_%s.%s", prefix, idx, F.substring(md5_hex, 1, 8), ext
    )
