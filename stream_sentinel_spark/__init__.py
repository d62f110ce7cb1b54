"""stream_sentinel_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of saurabhcr007/stream-sentinel.

The reference engine (see /root/reference, SURVEY.md) is a Kafka → Flink
anomaly-detection pipeline: schema-free JSON events, keyed by a
configurable field, evaluated against YAML-declared detection rules
(threshold / rate / statistical), emitting structured alerts.

This package re-expresses those semantics Spark-first:

- rules are *queries*: a small compiler turns each YAML rule into a
  Catalyst logical plan (``operators/``), executed either in batch
  (DataFrame over parquet — window functions reproduce the per-event
  sliding semantics exactly) or streaming (Structured Streaming with
  per-key state, ``streaming/``).
- the standard relational surface (joins, aggregation, windows, set ops,
  scalar functions) is Spark SQL itself — nothing to build, everything
  declared and oracle-tested (see ``__spark_entry__.py``).
- large-scale training-data operators (dedup, similarity search, text
  analysis, multimodal plumbing) live in ``operators/`` as first-class
  DataFrame transformations designed for 100 TB inputs.

Importing the package also installs :mod:`stream_sentinel_spark.zipcache`,
which spares every Python-worker task the re-read of unchanged zip
archives that pyspark's per-task ``importlib.invalidate_caches()`` costs.
"""

from stream_sentinel_spark import zipcache

zipcache.install()

from stream_sentinel_spark.config import EngineConfig
from stream_sentinel_spark.rules import DetectionRule, RulesConfig
from stream_sentinel_spark.loader import load_rules, loads_rules
from stream_sentinel_spark.plans.pipeline import compile_rule, compile_rules
from stream_sentinel_spark.health import HealthServer
from stream_sentinel_spark.metrics import SentinelMetricsListener

__version__ = "0.1.0"

__all__ = [
    "EngineConfig",
    "DetectionRule",
    "RulesConfig",
    "HealthServer",
    "SentinelMetricsListener",
    "load_rules",
    "loads_rules",
    "compile_rule",
    "compile_rules",
    "__version__",
]
