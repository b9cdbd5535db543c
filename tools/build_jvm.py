"""Build the engine's JVM jar from ``poc_juma_etl_spark/jvm/*.java``.

Compiles with ``javac --release 17`` against the Hadoop client API jar that
ships inside pyspark (nothing is downloaded), then packs the classes with
``jar cf``. The jar is committed; rebuild it after editing the source:

    python tools/build_jvm.py                # writes the committed jar
    python tools/build_jvm.py /tmp/out.jar   # writes elsewhere
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
JVM_DIR = REPO / "poc_juma_etl_spark" / "jvm"
JAR = JVM_DIR / "nio-local-fs.jar"


def hadoop_api_jar() -> str:
    import pyspark

    (jar,) = glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar")
    )
    return jar


def build(out: Path = JAR) -> Path:
    """Compile every source under ``poc_juma_etl_spark/jvm`` into ``out``."""
    sources = sorted(str(p) for p in JVM_DIR.glob("*.java"))
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            ["javac", "--release", "17", "-nowarn", "-cp", hadoop_api_jar(),
             "-d", classes, *sources],
            check=True,
        )
        subprocess.run(["jar", "cf", str(out), "-C", classes, "."], check=True)
    return out


if __name__ == "__main__":
    print(build(Path(sys.argv[1]) if len(sys.argv) > 1 else JAR))
