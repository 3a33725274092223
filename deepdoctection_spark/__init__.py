"""deepdoctection_spark — a PySpark-native document/transcript extraction engine.

A from-scratch re-expression of the capabilities of deepdoctection
(reference: /root/reference, Apache-2.0) on Apache Spark: the reference's
pull-based DataFlow pipeline (deepdoctection/dataflow/base.py:41) becomes a
lazy DataFrame plan; its per-row pipeline components (deepdoctection/pipe/*)
become Arrow-batched pandas UDF stages; its Image/Annotation record
(deepdoctection/datapoint/image.py:41, annotation.py:246) becomes a typed
nested row (struct/array/map columns).

Nothing in this package is a port of the reference's execution engine — the
physical layer is Catalyst + Tungsten; only the *semantics* (what each
operator computes) follow the reference, cited per-module as file:line.
"""

__version__ = "0.1.0"

from deepdoctection_spark import zipcache as _zipcache

_zipcache.install()  # Python workers stop re-reading zips at every task

from deepdoctection_spark.config import get_spark  # noqa: F401,E402
from deepdoctection_spark.analyzer import Analyzer, get_analyzer  # noqa: F401,E402
