"""Build the forkless ``file:`` file system jar from its Java sources.

    python tools/build_forkless_fs_jar.py

Compiles ``kafka_stream_aggregator_spark/jvm/src`` with ``javac --release 17``
against the jars bundled with pyspark, and writes
``kafka_stream_aggregator_spark/jvm/forkless-localfs.jar`` with fixed entry
times. The manifest's ``Source-SHA256`` is the digest of the sources
(``source_sha256``); tests/test_forkless_fs.py fails when the committed jar
was not rebuilt after a source change. Nothing compiles at run time:
``session.get_spark`` only puts the committed jar on the driver class path.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
JVM_DIR = ROOT / "kafka_stream_aggregator_spark" / "jvm"
SRC = JVM_DIR / "src"
JAR = JVM_DIR / "forkless-localfs.jar"
DIGEST_KEY = "Source-SHA256"
FIXED_TIME = (1980, 1, 1, 0, 0, 0)


def source_sha256(src: Path = SRC) -> str:
    """SHA-256 over every ``.java`` file under ``src``: relative path and
    bytes, in path order."""
    h = hashlib.sha256()
    for path in sorted(src.rglob("*.java")):
        h.update(path.relative_to(src).as_posix().encode() + b"\0")
        h.update(path.read_bytes() + b"\0")
    return h.hexdigest()


def jar_source_sha256(jar: Path = JAR) -> str | None:
    """The ``Source-SHA256`` recorded in a jar's manifest, or None."""
    with zipfile.ZipFile(jar) as zf:
        manifest = zf.read("META-INF/MANIFEST.MF").decode()
    for line in manifest.splitlines():
        key, _, value = line.partition(": ")
        if key == DIGEST_KEY:
            return value.strip()
    return None


def build(out: Path = JAR) -> None:
    import pyspark

    classpath = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    sources = sorted(str(p) for p in SRC.rglob("*.java"))
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            ["javac", "--release", "17", "-cp", classpath, "-d", classes, *sources],
            check=True,
        )
        manifest = (
            "Manifest-Version: 1.0\r\n"
            f"Created-By: tools/{Path(__file__).name}\r\n"
            f"{DIGEST_KEY}: {source_sha256()}\r\n\r\n"
        )
        entries = sorted(Path(classes).rglob("*.class"))
        with zipfile.ZipFile(out, "w") as zf:
            # fixed entry times: the same sources and javac give the same bytes
            zf.writestr(zipfile.ZipInfo("META-INF/MANIFEST.MF", FIXED_TIME), manifest)
            for path in entries:
                info = zipfile.ZipInfo(path.relative_to(classes).as_posix(), FIXED_TIME)
                zf.writestr(info, path.read_bytes(), zipfile.ZIP_DEFLATED)
    print(f"wrote {out} ({len(entries)} classes, {DIGEST_KEY} {source_sha256()})")


if __name__ == "__main__":
    build(Path(sys.argv[1]) if len(sys.argv) > 1 else JAR)
