"""spark_xml_spark — a PySpark-native XML analytics engine.

A from-scratch rebuild of the capabilities of databricks/spark-xml
(reference at /root/reference, studied for behavior only) as idiomatic
PySpark: a Python Data Source for ``spark.read.format("xml")``-style IO,
Arrow-batched column functions (``from_xml``/``to_xml``/``schema_of_xml``),
XSD tooling, and the LLM-data-pipeline operator suite (dedup, similarity
search, text analysis, multimodal columns) — all designed for 100 TB scale.
"""

from spark_xml_spark import _worker  # noqa: F401  (worker import-cache fix)
from spark_xml_spark.options import XmlOptions

__all__ = ["XmlOptions"]
__version__ = "0.1.0"
