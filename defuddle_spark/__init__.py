"""defuddle_spark — PySpark-native main-content extraction engine.

A from-scratch reimplementation of the semantics of kaptinlin/defuddle-go
(reference at /root/reference, read-only) as a Spark-first pipeline:
a pure-Python per-document kernel (no Spark imports) wrapped in
Arrow-batched ``mapInPandas``, with all job-level structure (scan, filter,
salted repartition, metrics, manifests, resume) expressed as native
DataFrame operations. The kernel also decides each url's extractor route.
"""

from .kernel import Options, Result, extract_document, extract_document_bytes  # noqa: F401

__version__ = "0.1.0"
