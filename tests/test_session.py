"""The engine session's ``file:`` file system (``session.py`` docstring).

``get_spark`` binds ``file:`` to ``NioLocalFileSystem``, which sets
permissions without forking ``chmod``. These tests pin what it must keep
from Hadoop's default: the same modes under the configured umask, a
``.crc`` companion for every data file, and a committed jar built from the
sources beside it.
"""

from __future__ import annotations

import importlib.util
import os
import stat

from fineventstream_spark.session import LOCALFS_IMPL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _local_fs(spark):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    umask = jvm.org.apache.hadoop.fs.permission.FsPermission.getUMask(conf).toShort()
    return fs, umask


def _mode(path: str) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


def test_file_scheme_resolves_to_nio_local_file_system(spark):
    fs, _ = _local_fs(spark)
    assert fs.getClass().getName() == LOCALFS_IMPL
    assert fs.getRawFileSystem().getClass().getName() == (
        "fineventstream.localfs.NioRawLocalFileSystem"
    )


def test_writes_keep_umask_modes_and_crc_companions(spark, tmp_path):
    fs, umask = _local_fs(spark)
    out = tmp_path / "out"
    spark.range(100).selectExpr("id", "id % 3 AS k").write.partitionBy("k").parquet(
        str(out)
    )
    made = tmp_path / "made" / "nested"
    assert fs.mkdirs(spark._jvm.org.apache.hadoop.fs.Path(made.as_uri()))

    file_mode, dir_mode = 0o666 & ~umask, 0o777 & ~umask
    parts = []
    for root, dirs, files in os.walk(out):
        assert _mode(root) == dir_mode, root
        for name in files:
            assert _mode(os.path.join(root, name)) == file_mode, name
            if name.startswith("part-"):
                parts.append((root, name))
                assert f".{name}.crc" in files, (root, name)
    assert len(parts) >= 3
    assert _mode(made) == _mode(made.parent) == dir_mode

    # the sticky bit has no NIO form: it takes Hadoop's own path
    fs.setPermission(
        spark._jvm.org.apache.hadoop.fs.Path(made.as_uri()),
        spark._jvm.org.apache.hadoop.fs.permission.FsPermission("1755"),
    )
    assert stat.S_IMODE(os.stat(made).st_mode) == 0o1755


def test_committed_jar_matches_its_sources():
    # a source edit without `python scripts/build_localfs_jar.py` would
    # leave the session running the old classes
    path = os.path.join(REPO, "scripts", "build_localfs_jar.py")
    spec = importlib.util.spec_from_file_location("build_localfs_jar", path)
    build = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(build)
    assert build.sources(), build.SRC_DIR
    assert build.jar_sha256() == build.sources_sha256()
