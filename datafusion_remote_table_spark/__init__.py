"""PySpark-native engine with the capabilities of
systemxlabs/datafusion-remote-table (federated remote-table reads with
pushdown, insert-back, transforms, plan serde) plus a relational query
surface and LLM-training-data-pipeline operators, all designed for
100TB-scale Spark execution.
"""

from . import zipcache

zipcache.install_in_worker()

from .session import get_spark, load_tables  # noqa: E402,F401

__version__ = "0.1.0"
