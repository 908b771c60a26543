"""The engine session's ``file:`` file system (``session.py`` docstring).

``get_spark`` binds ``file:`` to ``NioLocalFileSystem``, which sets
permissions without forking ``chmod``. These tests pin what it must keep
from Hadoop's default: the same modes under the configured umask, a
``.crc`` companion for every data file, and a committed jar built from the
sources beside it. A driver that found the package through ``sys.path``
alone still gets Python workers that can import it.
"""

from __future__ import annotations

import importlib.util
import os
import stat
import subprocess
import sys

import pytest

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


# A driver that puts the repository on sys.path (not PYTHONPATH) and runs
# from another directory: the query's Python data source runs on workers,
# which must import the package to unpickle it.
SYS_PATH_DRIVER = """
import sys
sys.path.insert(0, {repo!r})
if sys.argv[1] == "get_spark":
    from fineventstream_spark.registry import all_queries
    from fineventstream_spark.session import get_spark

    spark = get_spark(app_name="sys-path-driver", cpus=2, driver_memory="1g")
    query = all_queries()["q_source_datasource_quotes"].fn
else:
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[2]").appName("sys-path-driver")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "1g").getOrCreate())
    import __spark_entry__

    query = __spark_entry__.queries()["q_source_datasource_quotes"]
print("rows", query(spark, {sf_dir!r}).count())
spark.stop()
"""


@pytest.mark.parametrize("session", ["get_spark", "vanilla"])
def test_python_workers_import_the_package_from_a_sys_path_driver(
    session, sf_dir, tmp_path
):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    code = SYS_PATH_DRIVER.format(repo=REPO, sf_dir=sf_dir)
    run = subprocess.run(
        [sys.executable, "-c", code, session],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert "rows " in run.stdout
