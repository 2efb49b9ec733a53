"""Session factory helpers: the worker import path, the driver class path
and the SMJ switch."""

from __future__ import annotations

import os

import kafka_stream_aggregator_spark
from kafka_stream_aggregator_spark.session import (
    FORKLESS_FS_JAR,
    driver_classpath,
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


def test_driver_classpath_puts_the_jar_first_and_keeps_the_callers():
    assert os.path.isfile(FORKLESS_FS_JAR)
    assert driver_classpath(None) == FORKLESS_FS_JAR
    assert driver_classpath("") == FORKLESS_FS_JAR
    caller = os.pathsep.join(["/x/b.jar", "/x/a.jar", "/x/lib/*"])
    assert driver_classpath(caller) == os.pathsep.join([FORKLESS_FS_JAR, caller])
    # each entry once, in the caller's order, the jar still first
    merged = driver_classpath(os.pathsep.join(["/x/b.jar", FORKLESS_FS_JAR, "", "/x/a.jar", "/x/b.jar"]))
    assert merged == os.pathsep.join([FORKLESS_FS_JAR, "/x/b.jar", "/x/a.jar"])


def test_prefer_sort_merge_join_parses_the_value():
    for on in ("1", "true", "TRUE", "yes", " Yes "):
        assert prefer_sort_merge_join(on), on
    for off in (None, "", "0", "false", "no", "off", "2"):
        assert not prefer_sort_merge_join(off), off
