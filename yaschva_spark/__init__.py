"""yaschva_spark — a PySpark-native schema + constraint validation engine.

A from-scratch re-expression of the capabilities of the reference validator
(mmagyar/yaschva, a single-value TypeScript interpreter) as vectorized Spark
DataFrame operators over tables, plus the table-level data-quality checks a
100 TB training-data pipeline needs (column stats, uniqueness, referential
integrity, distribution drift, dedup, similarity search, text analysis).

Layout
------
- ``errors``    exact reference error strings + rule ids
- ``schema``    schema language: parse / guards / $and merge / $types env
- ``interp``    reference-faithful pure-Python interpreter (executable spec;
                also the Arrow-batched pandas UDF fallback for dynamic schemas)
- ``generate``  seeded fixture generator (reference generate() semantics)
- ``typed``     schema -> Spark StructType + the typed Catalyst fast path
- ``engine``    DataFrame-level validate() entry points
- ``checks``    table-level checks (stats, uniqueness, RI, drift, histograms)
- ``ops``       pipeline operators (dedup, similarity, text, multimodal)
- ``fixtures``  synthetic code_files / repos tables + spec-case corpus
- ``pipeline``  full checkpoint-resumable validation job with manifest
- ``session``   SparkSession builder with scale-appropriate defaults
"""

from yaschva_spark.errors import rule_id_for  # noqa: F401
from yaschva_spark.schema import SchemaError, load_json  # noqa: F401
from yaschva_spark.interp import UNDEFINED, validate  # noqa: F401

__version__ = "0.1.0"
