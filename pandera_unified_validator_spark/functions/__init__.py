"""Reusable column-function library (Arrow vector UDFs)."""

from .vectors import cosine_pandas_udf, hyperplane_signature_udf

__all__ = ["cosine_pandas_udf", "hyperplane_signature_udf"]
