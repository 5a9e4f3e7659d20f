"""Pure-Python extraction core.

Shared by the golden-fixture generator (tests) and the Spark Arrow
kernel (pdfwf_spark.operators.extract) so both sides run exactly one
normalization code path.
"""

from pdfwf_spark.core.route import ExtractResult, Span, extract_payload, route_payload

__all__ = ["ExtractResult", "Span", "extract_payload", "route_payload"]
