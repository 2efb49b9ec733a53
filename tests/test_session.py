"""Session factory helpers: the worker import path and the SMJ switch."""

from __future__ import annotations

import os

import kafka_stream_aggregator_spark
from kafka_stream_aggregator_spark.session import (
    prefer_sort_merge_join,
    worker_pythonpath,
)

PARENT = os.path.dirname(os.path.dirname(os.path.abspath(kafka_stream_aggregator_spark.__file__)))


def test_worker_pythonpath_puts_the_package_first_and_keeps_the_callers():
    assert worker_pythonpath(None) == PARENT
    assert worker_pythonpath("") == PARENT
    assert worker_pythonpath(os.pathsep.join(["/a", "/b"])) == os.pathsep.join([PARENT, "/a", "/b"])
    # a caller that already lists the package directory gets it once
    merged = worker_pythonpath(os.pathsep.join(["/a", PARENT, "", "/a"]))
    assert merged == os.pathsep.join([PARENT, "/a"])


def test_prefer_sort_merge_join_parses_the_value():
    for on in ("1", "true", "TRUE", "yes", " Yes "):
        assert prefer_sort_merge_join(on), on
    for off in (None, "", "0", "false", "no", "off", "2"):
        assert not prefer_sort_merge_join(off), off
