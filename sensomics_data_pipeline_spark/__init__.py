"""sensomics_data_pipeline_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference pipeline ``johnzcao/sensomics_data_pipeline``
(a single-node pandas batch pipeline for smartwatch sensor data), extended
with the breadth operators (joins / aggregations / windows / set ops) and
large-scale training-data operators (dedup, similarity search, text
analysis, multimodal plumbing) that a 100-TB Spark deployment needs.

Design principles (see SURVEY.md):
- DataFrame/SQL first: every operator is a composition of Catalyst-
  optimizable built-ins; ``applyInPandas`` only where semantics are
  irreducibly sequential (the greedy accelerometer alignment that the
  parity tests compare against; no pipeline runs it).
- Fixed schemas, no inference in production paths (``schemas.py``).
- Partition-aware: window functions always take explicit partition keys;
  small sides of range joins are broadcast; sinks partition by date.
"""

__version__ = "0.1.0"

from sensomics_data_pipeline_spark.session import get_spark  # noqa: F401
