"""The local FileSystem ``get_spark`` installs on a local master
(``poc_juma_etl_spark/jvm/NioLocalFileSystem.java``): it keeps the stock
FileSystem's permissions, checksum files, read-time verification and rename
rule, and the committed jar is a build of the committed source."""

import datetime as dt
import os
import shutil
import sys
import zipfile
from pathlib import Path

import pytest

from poc_juma_etl_spark.session import JVM_JAR, LOCAL_CONF

REPO = Path(__file__).resolve().parent.parent


def _fs(spark, path):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(str(path))
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def test_file_scheme_resolves_to_nio_fs(spark, tmp_path):
    fs, _ = _fs(spark, f"file://{tmp_path}")
    assert fs.getClass().getName() == LOCAL_CONF["spark.hadoop.fs.file.impl"]


def test_partitioned_write_keeps_modes_and_checksums(spark, tmp_path):
    conf = spark._jsc.hadoopConfiguration()
    umask = spark._jvm.org.apache.hadoop.fs.permission.FsPermission.getUMask(conf).toShort()
    p = tmp_path / "t"
    rows = [(i, dt.date(2024, 1, 1 + i % 3)) for i in range(6)]
    df = spark.createDataFrame(rows, "id long, d date").coalesce(1)
    df.write.partitionBy("d").parquet(str(p))
    files, crcs, dirs = [], [], [p]
    for root, ds, fs in os.walk(p):
        dirs += [Path(root, d) for d in ds]
        for f in fs:
            (crcs if f.endswith(".crc") else files).append(Path(root, f))
    assert len(dirs) == 4 and len(files) == 4  # 3 data files + _SUCCESS
    assert {f".{f.name}.crc" for f in files} == {c.name for c in crcs}
    assert {f.stat().st_mode & 0o7777 for f in files + crcs} == {0o666 & ~umask}
    assert {d.stat().st_mode & 0o7777 for d in dirs} == {0o777 & ~umask}


def test_flipped_byte_fails_the_read(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.range(2000).selectExpr("id * 7 AS v").coalesce(1).write.parquet(p)
    (data,) = Path(p).glob("part-*.parquet")
    raw = bytearray(data.read_bytes())
    raw[len(raw) // 2] ^= 0xFF  # inside v's column chunk, before the footer
    data.write_bytes(bytes(raw))
    with pytest.raises(Exception, match="ChecksumException"):
        spark.read.parquet(p).select("v").collect()


def test_rename_onto_existing_file_fails(spark, tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.write_text("a")
    b.write_text("b")
    fs, src = _fs(spark, a)
    assert fs.rename(src, _fs(spark, b)[1]) is False
    assert (a.read_text(), b.read_text()) == ("a", "b")


def test_sticky_bit_permission_applies(spark, tmp_path):
    d = tmp_path / "d"
    d.mkdir()
    fs, p = _fs(spark, d)
    fs.setPermission(p, spark._jvm.org.apache.hadoop.fs.permission.FsPermission("1777"))
    assert d.stat().st_mode & 0o7777 == 0o1777


@pytest.mark.skipif(shutil.which("javac") is None, reason="javac not installed")
def test_committed_jar_matches_committed_source(tmp_path):
    sys.path.insert(0, str(REPO / "tools"))
    try:
        from build_jvm import build
    finally:
        sys.path.remove(str(REPO / "tools"))

    def classes(jar):
        with zipfile.ZipFile(jar) as z:
            return {n: z.read(n) for n in z.namelist() if n.endswith(".class")}

    assert classes(build(tmp_path / "rebuilt.jar")) == classes(JVM_JAR)
