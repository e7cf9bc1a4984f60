"""Build `doris_spark_ext.jar` from `src/` offline, byte for byte.

    python -m doris_spark.jvm.build [OUT_JAR]

Compiles with `javac --release 17` against the jars that ship inside the
installed pyspark, and writes the classes uncompressed, in sorted order,
with one fixed timestamp: the same sources and JDK give the same bytes.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import zipfile

import pyspark

from doris_spark.jvm import JAR

SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "src")
_EPOCH = (1980, 1, 1, 0, 0, 0)
_MANIFEST = b"Manifest-Version: 1.0\r\n\r\n"


def _entry(zf: zipfile.ZipFile, name: str, data: bytes) -> None:
    info = zipfile.ZipInfo(name, date_time=_EPOCH)
    info.external_attr = 0o644 << 16
    zf.writestr(info, data, compress_type=zipfile.ZIP_STORED)


def build(out: str = JAR) -> str:
    sources = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(SRC) for f in fs if f.endswith(".java")
    )
    classpath = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            ["javac", "--release", "17", "-cp", classpath, "-d", classes, *sources],
            check=True,
        )
        names = sorted(
            os.path.relpath(os.path.join(d, f), classes).replace(os.sep, "/")
            for d, _, fs in os.walk(classes)
            for f in fs
        )
        with zipfile.ZipFile(out, "w") as zf:
            _entry(zf, "META-INF/MANIFEST.MF", _MANIFEST)
            for name in names:
                with open(os.path.join(classes, name), "rb") as f:
                    _entry(zf, name, f.read())
    return out


if __name__ == "__main__":
    print(build(*sys.argv[1:]))
