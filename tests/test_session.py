"""Session defaults that must hold on any host (no Spark started)."""

import os

from yelp_review_data_analysis_using_big_data_technologies_spark.session import (
    _default_driver_memory,
)


def test_default_driver_heap_fits_the_host():
    heap = _default_driver_memory()
    assert heap.endswith("m")
    heap_bytes = int(heap[:-1]) * 2**20
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < heap_bytes <= phys // 2
    assert heap_bytes <= 16 * 2**30
