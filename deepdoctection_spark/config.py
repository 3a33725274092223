"""SparkSession construction + engine configuration.

The reference's analogue is config resolution in get_dd_analyzer
(/root/reference/deepdoctection/analyzer/dd.py:404-465): a YAML AttrDict that
selects which pipeline components run. Here the session itself carries the
scale-relevant knobs (AQE, shuffle partitions, Arrow batching); the pipeline
shape is a plain dataclass (see plans/pipeline.py).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pyspark.sql import SparkSession

# Arrow batch size: the Python<->JVM crossing happens once per batch — the
# engine's replacement for the reference's pickle-over-ZeroMQ transport
# (/root/reference/deepdoctection/dataflow/parallel_map.py:377-429, buffer_size=200).
DEFAULT_ARROW_BATCH = 2048


_ENV_MASTER = "env"  # sentinel: derive master from SPARK_GRAFT_CPUS


def _tungsten_page_size(heap: str) -> str:
    """Tungsten page size heap/8192 (at least 1m) for a JVM heap of ``heap``
    (a Spark size string, MiB when unitless).

    Spark's default page, up to 64m, is a G1 humongous object. Allocating
    one can start a concurrent mark, and Spark pools freed pages through
    weak references that a mark clears, so a shuffle-heavy job can fall into
    reallocating pages and marking on every pass, at up to 40% more CPU
    (the reassembly benchmark did in about one run in three). heap/8192 is
    below the humongous threshold (half a region, heap/4096, for heaps up
    to 64g), and a task's 8192-entry page table still spans the heap."""
    m = re.fullmatch(r"(\d+)([kmgtp]?)b?", heap.strip().lower())
    if m is None:
        raise ValueError(f"not a JVM memory size: {heap!r}")
    mib = int(m[1]) * 1024 ** "kmgtp".index(m[2] or "m") // 1024
    return f"{max(1, mib // 8192)}m"


def get_spark(
    app_name: str = "deepdoctection_spark",
    master: str | None = _ENV_MASTER,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a session tuned for the extraction workload.

    local[N] in the sandbox; on a real cluster the same conf applies except
    master/memory come from spark-submit — pass ``master=None`` there so the
    submit-provided master wins (scripts/extract_job.py does). AQE is on so
    the reassembly shuffle coalesces and skew-splits at runtime
    (mega-conversation handling).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master == _ENV_MASTER:
        master = f"local[{cpus}]"
    # In local[N] there is no cluster: shuffle partitions should track cores,
    # not the 200 default (which just adds task-scheduling overhead).
    n_shuffle = shuffle_partitions or max(8, int(cpus) if cpus.isdigit() else 32)
    driver_mem = os.environ.get("SPARK_DRIVER_MEM", "8g")
    b = SparkSession.builder.appName(app_name)
    if master is not None:
        b = b.master(master)
    b = (
        b
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(DEFAULT_ARROW_BATCH)
        )
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
    )
    if master is not None and master.startswith("local"):
        # the driver JVM runs every task, so its heap sizes the pages
        b = b.config("spark.buffer.pageSize", _tungsten_page_size(driver_mem))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@dataclass
class PipelineConfig:
    """Which extraction stages run — the analogue of conf_dd_one.yaml
    (/root/reference/configs/conf_dd_one.yaml) driving build_analyzer
    (/root/reference/deepdoctection/analyzer/dd.py:256-401)."""

    # boilerplate strip threshold: drop a block when link_density > this
    # (readability-style; reference analogue: score/NMS filtering in
    # pipe/layout.py + pipe/common.py:239-301)
    link_density_threshold: float = 0.5
    # second boilerplate signal: drop a TEXT block with ≥3 descendant
    # elements and fewer than this many text chars per element (share
    # widgets / breadcrumbs / icon rows that pass the link-density test)
    tag_density_threshold: float = 8.0
    # pdfish column clustering: new column when x-gap exceeds this
    column_gap: float = 100.0


DEFAULT_CONFIG = PipelineConfig()
