#!/usr/bin/env python
"""Rebuild the local file system jar that ``get_spark`` puts on the driver
classpath, from the Java sources beside it.

    python scripts/build_localfs_jar.py

Compiles ``fineventstream_spark/jvm/src/**/*.java`` with the local JDK
(``javac --release 17``) against the Hadoop client API jar bundled with
pyspark, and writes the jar with fixed entry timestamps, so the same
sources and JDK give the same bytes. The manifest records the sources'
SHA-256 (``Sources-SHA256``); a tier-1 test fails when the committed jar's
digest no longer matches the sources. The jar is committed so that the
engine needs only a JRE and no session start pays for a compile.
"""

from __future__ import annotations

import glob
import hashlib
import os
import subprocess
import sys
import tempfile
import zipfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fineventstream_spark.session import LOCALFS_JAR

SRC_DIR = os.path.join(os.path.dirname(LOCALFS_JAR), "src")
DIGEST_KEY = "Sources-SHA256"
ZIP_EPOCH = (1980, 1, 1, 0, 0, 0)


def sources() -> list[str]:
    return sorted(glob.glob(os.path.join(SRC_DIR, "**", "*.java"), recursive=True))


def sources_sha256() -> str:
    """SHA-256 over every source's path (relative to ``SRC_DIR``) and bytes."""
    h = hashlib.sha256()
    for path in sources():
        h.update(os.path.relpath(path, SRC_DIR).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read() + b"\0")
    return h.hexdigest()


def jar_sha256() -> str | None:
    """The sources digest recorded in the jar's manifest, or None."""
    with zipfile.ZipFile(LOCALFS_JAR) as z:
        manifest = z.read("META-INF/MANIFEST.MF").decode()
    for line in manifest.splitlines():
        key, _, value = line.partition(": ")
        if key == DIGEST_KEY:
            return value.strip()
    return None


def hadoop_api_jar() -> str:
    import pyspark

    jars = glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar")
    )
    if len(jars) != 1:
        raise SystemExit(f"expected one hadoop-client-api jar in pyspark, found {jars}")
    return jars[0]


def build() -> None:
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            ["javac", "--release", "17", "-cp", hadoop_api_jar(), "-d", classes,
             *sources()],
            check=True,
        )
        manifest = (
            "Manifest-Version: 1.0\r\n"
            f"{DIGEST_KEY}: {sources_sha256()}\r\n\r\n"
        )
        tmp = LOCALFS_JAR + ".tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            z.writestr(zipfile.ZipInfo("META-INF/MANIFEST.MF", ZIP_EPOCH), manifest)
            for path in sorted(glob.glob(os.path.join(classes, "**", "*.class"),
                                         recursive=True)):
                info = zipfile.ZipInfo(os.path.relpath(path, classes), ZIP_EPOCH)
                info.compress_type = zipfile.ZIP_DEFLATED
                with open(path, "rb") as f:
                    z.writestr(info, f.read())
        os.replace(tmp, LOCALFS_JAR)


if __name__ == "__main__":
    build()
    print(f"{LOCALFS_JAR}: {DIGEST_KEY} {sources_sha256()}")
