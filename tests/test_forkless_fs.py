"""The forkless ``file:`` Hadoop file system (kafka_stream_aggregator_spark/jvm).

It is Hadoop's local file system with ``setPermission`` and
``getFileLinkStatus`` done through java.nio instead of ``chmod`` /
``readlink`` subprocesses. These tests check that (1) the committed jar
was built from the committed sources, (2) sessions from ``get_spark`` use
it and a drain plus a parquet write start no process at all, (3) every
result it gives matches stock Hadoop's on the same directory, and (4) a
JVM started without the jar is never pointed at it.
"""

from __future__ import annotations

import json
import os
import stat
import subprocess
import sys
from collections import Counter

import pytest
from py4j.protocol import Py4JJavaError

from kafka_stream_aggregator_spark.session import FORKLESS_FS_CONFS, FORKLESS_FS_JAR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FORKLESS_RAW = "kafkastreamaggregator.fs.ForklessRawLocalFileSystem"


def test_committed_jar_matches_its_sources():
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from build_forkless_fs_jar import JAR, jar_source_sha256, source_sha256

    assert os.path.samefile(JAR, FORKLESS_FS_JAR)
    assert jar_source_sha256(JAR) == source_sha256(), (
        "the jar is stale: run python tools/build_forkless_fs_jar.py"
    )


def _java_class(obj) -> str:
    return obj.getClass().getName()


def test_get_spark_binds_both_file_apis(spark):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    for key, cls in FORKLESS_FS_CONFS.items():
        assert conf.get(key.removeprefix("spark.hadoop.")) == cls
    local = jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf)
    assert _java_class(local) == FORKLESS_FS_CONFS["spark.hadoop.fs.file.impl"]
    assert _java_class(local.getRawFileSystem()) == FORKLESS_RAW
    fc = jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf)
    assert _java_class(fc.getDefaultFileSystem()) == (
        FORKLESS_FS_CONFS["spark.hadoop.fs.AbstractFileSystem.file.impl"]
    )


class ProcessStarts:
    """An in-JVM JFR recording of ``jdk.ProcessStart`` events only."""

    def __init__(self, jvm, directory: str):
        self.jvm = jvm
        self.path = jvm.java.io.File(os.path.join(directory, "process-starts.jfr")).toPath()
        self.commands: list[str] = []

    def __enter__(self):
        self.rec = self.jvm.jdk.jfr.Recording()
        self.rec.enable("jdk.ProcessStart")
        self.rec.start()
        return self

    def __exit__(self, *exc):
        self.rec.stop()
        self.rec.dump(self.path)
        self.rec.close()
        events = self.jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(self.path)
        self.commands = [events.get(i).getString("command") for i in range(events.size())]
        return False


def _drain_and_write(spark, root: str, tag: str) -> None:
    """A three-trigger availableNow drain (parquet file source ->
    streaming_windowed_ewma -> foreach_batch_parquet_writer), then a plain
    four-task parquet write."""
    from pyspark.sql import functions as F

    from kafka_stream_aggregator_spark.streaming.pipeline import streaming_windowed_ewma
    from kafka_stream_aggregator_spark.streaming.sinks import foreach_batch_parquet_writer
    from kafka_stream_aggregator_spark.streaming.sources import file_stream

    src = os.path.join(root, f"{tag}-src")
    rows = spark.range(300).select(
        F.timestamp_seconds(F.lit(1_704_067_200) + F.col("id") * 7).alias("ts"),
        F.col("id").alias("event_id"),
        (F.col("id") % 13 + 1).cast("double").alias("value"),
    )
    rows.repartition(3).write.parquet(src)
    windows = streaming_windowed_ewma(file_stream(spark, src, rows.schema, max_files_per_trigger=1))
    query = (
        windows.writeStream.foreachBatch(foreach_batch_parquet_writer(os.path.join(root, f"{tag}-sink")))
        .option("checkpointLocation", os.path.join(root, f"{tag}-checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    assert query.exception() is None
    assert sum(p.numInputRows for p in query.recentProgress) == 300
    spark.range(1000).repartition(4).write.parquet(os.path.join(root, f"{tag}-write"))


def test_drain_and_parquet_write_start_no_process(spark, tmp_path):
    """Stock Hadoop without native libhadoop runs chmod for every file and
    directory it creates and readlink for every FileContext rename: about
    130 processes per trigger of a stateful drain, 18 for a four-task
    write. The warm-up pass takes the JVM's one-off starts out of the
    recording."""
    _drain_and_write(spark, str(tmp_path), "warm")
    with ProcessStarts(spark.sparkContext._jvm, str(tmp_path)) as starts:
        _drain_and_write(spark, str(tmp_path), "timed")
    assert starts.commands == [], Counter(c.split()[0] for c in starts.commands)
    sink = spark.read.parquet(str(tmp_path / "timed-sink"))
    assert sink.count() > 0 and sink.count() == spark.read.parquet(str(tmp_path / "warm-sink")).count()


# --- conformance against stock Hadoop, on one temp directory -------------


@pytest.fixture(scope="module")
def hadoop(spark):
    """(jvm, {"stock": conf, "forkless": conf}) with an explicit umask."""
    jvm = spark.sparkContext._jvm
    confs = {}
    for name in ("stock", "forkless"):
        conf = jvm.org.apache.hadoop.conf.Configuration()
        conf.set("fs.permissions.umask-mode", "027")
        if name == "forkless":
            for key, cls in FORKLESS_FS_CONFS.items():
                conf.set(key.removeprefix("spark.hadoop."), cls)
        # a private instance: FileSystem.get would hand back a cached one
        conf.setBoolean("fs.file.impl.disable.cache", True)
        confs[name] = conf
    return jvm, confs


def _raw_fs(jvm, conf, name):
    if name == "stock":
        raw = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    else:
        raw = jvm.kafkastreamaggregator.fs.ForklessRawLocalFileSystem()
    raw.initialize(jvm.java.net.URI("file:///"), conf)
    return raw


def _local_fs(jvm, conf):
    return jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)


def _file_context(jvm, conf):
    return jvm.org.apache.hadoop.fs.FileContext.getFileContext(jvm.java.net.URI("file:///"), conf)


def _java_array(cls, values):
    from pyspark import SparkContext

    arr = SparkContext._gateway.new_array(cls, len(values))
    for i, v in enumerate(values):
        arr[i] = v
    return arr


def _permission(jvm, octal: int):
    return jvm.org.apache.hadoop.fs.permission.FsPermission(f"{octal:o}")


def _path(jvm, p):
    return jvm.org.apache.hadoop.fs.Path(str(p))


def _mode(p) -> int:
    return stat.S_IMODE(os.lstat(p).st_mode)


def test_bindings_resolve_to_the_forkless_classes(hadoop):
    jvm, confs = hadoop
    assert _java_class(_local_fs(jvm, confs["stock"]).getRawFileSystem()) == "org.apache.hadoop.fs.RawLocalFileSystem"
    assert _java_class(_local_fs(jvm, confs["forkless"]).getRawFileSystem()) == FORKLESS_RAW
    assert _java_class(_file_context(jvm, confs["stock"]).getDefaultFileSystem()) == "org.apache.hadoop.fs.local.LocalFs"
    assert _java_class(_file_context(jvm, confs["forkless"]).getDefaultFileSystem()) == "kafkastreamaggregator.fs.ForklessLocalFs"


def test_file_system_rename_matches_the_default_file_class(hadoop, tmp_path):
    """Without the binding, ``file:`` resolves (through pyspark's bundled
    hive-exec) to Hive's ProxyLocalFileSystem, whose rename refuses an
    existing destination file; the forkless class keeps that."""
    jvm, confs = hadoop
    proxy = jvm.org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem()
    proxy.initialize(jvm.java.net.URI("file:///"), confs["stock"])
    for name, fs in (("stock", proxy), ("forkless", _local_fs(jvm, confs["forkless"]))):
        d = tmp_path / name
        d.mkdir()
        (d / "src").write_text("new")
        (d / "dst").write_text("old")
        assert fs.rename(_path(jvm, d / "src"), _path(jvm, d / "dst")) is False, name
        assert (d / "dst").read_text() == "old" and (d / "src").exists()
        assert fs.rename(_path(jvm, d / "src"), _path(jvm, d / "moved")) is True, name
        assert (d / "moved").read_text() == "new" and not (d / "src").exists()


def test_mode_bits_match_stock(hadoop, tmp_path):
    jvm, confs = hadoop
    modes = {}
    for name, conf in confs.items():
        fs = _raw_fs(jvm, conf, name)
        d = tmp_path / name
        fs.mkdirs(_path(jvm, d / "a" / "b"))
        fs.create(_path(jvm, d / "a" / "b" / "f"), True).close()
        got = [_mode(d / "a"), _mode(d / "a" / "b"), _mode(d / "a" / "b" / "f")]
        for octal in (0o600, 0o750, 0o755):
            fs.setPermission(_path(jvm, d / "a" / "b" / "f"), _permission(jvm, octal))
            got.append(_mode(d / "a" / "b" / "f"))
        modes[name] = got
    # umask 027: directories 0750, files 0640
    assert modes["stock"][:3] == [0o750, 0o750, 0o640]
    assert modes["forkless"] == modes["stock"]


def test_sticky_bit_goes_through_the_parent(hadoop, tmp_path):
    """java.nio cannot set the sticky bit: the parent's chmod does."""
    jvm, confs = hadoop
    for name, conf in confs.items():
        fs = _raw_fs(jvm, conf, name)
        d = tmp_path / name
        d.mkdir()
        with ProcessStarts(jvm, str(tmp_path)) as starts:
            fs.setPermission(_path(jvm, d), _permission(jvm, 0o1777))
        assert stat.S_IMODE(os.stat(d).st_mode) == 0o1777, name
        assert len(starts.commands) == 1 and "chmod" in starts.commands[0], (name, starts.commands)


def _read_outcome(fs, p):
    """The bytes read, or the exception class the read raised."""
    stream = fs.open(p)
    try:
        return len(stream.readAllBytes())
    except Py4JJavaError as err:
        return _java_class(err.java_exception)
    finally:
        stream.close()


@pytest.mark.parametrize("api", ["FileSystem", "FileContext"])
def test_crc_written_and_corruption_detected(hadoop, tmp_path, api):
    """Both write APIs leave a .crc sidecar, and the checksummed FileSystem
    reader rejects a flipped data byte. (Stock LocalFs's FileContext reader
    does not check the sidecar; Spark 4.1's checkpoint files carry their own
    checksums.) Every outcome equals stock Hadoop's."""
    jvm, confs = hadoop
    outcomes = {}
    for name, conf in confs.items():
        f = tmp_path / name / "data"
        f.parent.mkdir()
        p = _path(jvm, f)
        if api == "FileSystem":
            out = _local_fs(jvm, conf).create(p, True)
        else:
            flags = jvm.java.util.EnumSet.of(jvm.org.apache.hadoop.fs.CreateFlag.CREATE)
            out = _file_context(jvm, conf).create(p, flags, _java_array(getattr(jvm.org.apache.hadoop.fs, "Options$CreateOpts"), []))
        out.write(bytearray(b"0123456789" * 100))
        out.close()
        assert (tmp_path / name / ".data.crc").is_file(), name
        raw = bytearray(f.read_bytes())
        raw[500] ^= 0x01
        f.write_bytes(bytes(raw))
        outcomes[name] = (_read_outcome(_local_fs(jvm, conf), p), _read_outcome(_file_context(jvm, conf), p))
    assert outcomes["forkless"] == outcomes["stock"]
    assert outcomes["stock"][0] == "org.apache.hadoop.fs.ChecksumException"


def test_file_context_rename_none_refuses_an_existing_destination(hadoop, tmp_path):
    jvm, confs = hadoop
    rename = getattr(jvm.org.apache.hadoop.fs, "Options$Rename")
    for name, conf in confs.items():
        fc = _file_context(jvm, conf)
        d = tmp_path / name
        d.mkdir()
        (d / "src").write_text("new")
        (d / "dst").write_text("old")
        opts = _java_array(rename, [rename.NONE])
        with pytest.raises(Py4JJavaError) as err:
            fc.rename(_path(jvm, d / "src"), _path(jvm, d / "dst"), opts)
        assert _java_class(err.value.java_exception) == "org.apache.hadoop.fs.FileAlreadyExistsException", name
        assert (d / "dst").read_text() == "old" and (d / "src").exists()
        opts = _java_array(rename, [rename.OVERWRITE])
        fc.rename(_path(jvm, d / "src"), _path(jvm, d / "dst"), opts)
        assert (d / "dst").read_text() == "new" and not (d / "src").exists()


def _link_status(get, p):
    """The FileStatus fields a caller can see, or the exception class."""
    try:
        st = get(p)
    except Py4JJavaError as err:
        return _java_class(err.java_exception)
    return (
        st.getPath().toString(), st.isFile(), st.isDirectory(), st.isSymlink(),
        st.getSymlink().toString() if st.isSymlink() else None,
        st.getLen(), st.getModificationTime(), st.getPermission().toShort(),
        st.getOwner(), st.getGroup(),
    )


def test_get_file_link_status_matches_stock(hadoop, tmp_path):
    jvm, confs = hadoop
    (tmp_path / "file").write_text("x")
    (tmp_path / "dir").mkdir()
    os.symlink(tmp_path / "file", tmp_path / "link")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")
    cases = ["file", "dir", "missing", "link", "dangling"]
    got = {}
    for name, conf in confs.items():
        raw = _raw_fs(jvm, conf, name)
        fc = _file_context(jvm, conf)
        for case in cases:
            for form in (str(tmp_path / case), f"file:{tmp_path / case}"):
                p = _path(jvm, form)
                got[name, case, form, "raw"] = _link_status(raw.getFileLinkStatus, p)
                got[name, case, form, "fc"] = _link_status(fc.getFileLinkStatus, p)
    stock = {k[1:]: v for k, v in got.items() if k[0] == "stock"}
    forkless = {k[1:]: v for k, v in got.items() if k[0] == "forkless"}
    assert forkless == stock
    assert stock["missing", str(tmp_path / "missing"), "raw"] == "java.io.FileNotFoundException"
    assert stock["file", str(tmp_path / "file"), "fc"][1] is True
    assert stock["dir", str(tmp_path / "dir"), "fc"][2] is True
    assert stock["link", str(tmp_path / "link"), "raw"][3] is True


# --- the session guard ------------------------------------------------------

_GUARD_SCRIPT = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])
from pyspark import SparkContext
from kafka_stream_aggregator_spark.session import get_spark

out = sys.argv[2]
if sys.argv[3] == "vanilla-first":
    SparkContext(master="local[1]", appName="vanilla").stop()
else:
    get_spark("first", cpus=1, extra={"spark.driver.memory": "512m"}).stop()
spark = get_spark("second", cpus=1, extra={"spark.driver.memory": "512m"})
spark.range(100).write.parquet(os.path.join(out, "t"))
print(json.dumps({
    "rows": spark.read.parquet(os.path.join(out, "t")).count(),
    "fs": spark.sparkContext._jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext._jsc.hadoopConfiguration()).getClass().getName(),
}))
spark.stop()
"""


@pytest.mark.parametrize("order, forkless", [("vanilla-first", False), ("get-spark-first", True)])
def test_session_guard_on_a_reused_jvm(tmp_path, order, forkless):
    """A JVM started without the jar keeps stock Hadoop (and parquet still
    works); one an earlier get_spark launched keeps the forkless classes."""
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_GATEWAY_PORT"}
    proc = subprocess.run(
        [sys.executable, "-c", _GUARD_SCRIPT, REPO, str(tmp_path), order],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["rows"] == 100
    assert (result["fs"] == FORKLESS_FS_CONFS["spark.hadoop.fs.file.impl"]) is forkless, result
