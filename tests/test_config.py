"""Session tuning: local sessions size Tungsten pages from the driver heap."""

from __future__ import annotations

import os

import pytest

from deepdoctection_spark.config import _tungsten_page_size


@pytest.mark.parametrize(
    "heap, page",
    [("8g", "1m"), ("8G", "1m"), ("8192", "1m"), ("8192m", "1m"), ("16gb", "2m"),
     ("64g", "8m"), ("4g", "1m"), ("512m", "1m"), ("1048576k", "1m")],
)
def test_page_is_heap_over_8192_at_least_1m(heap, page):
    assert _tungsten_page_size(heap) == page


def test_unparseable_heap_raises():
    with pytest.raises(ValueError):
        _tungsten_page_size("lots")


def test_local_session_carries_page_size(spark):
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    assert spark.sparkContext.getConf().get("spark.buffer.pageSize") == _tungsten_page_size(heap)
