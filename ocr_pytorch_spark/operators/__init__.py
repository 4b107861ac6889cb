"""Spark operators: the OCR extraction pipeline plus the web-scale
training-data operators (dedup, similarity, text analysis)."""
