"""Rebuild ``sqlite_cdc_spark/jvm/nio-localfs.jar`` from its Java source.

Compiles ``sqlite_cdc_spark/jvm/*.java`` with ``javac --release 17``
against the jars bundled with pyspark, then zips the classes with fixed
timestamps and a fixed entry order, so the same source and compiler give
the same jar bytes.

Usage: python tools/build_jvm.py [out.jar]   (default: the committed jar)
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC_DIR = os.path.join(ROOT, "sqlite_cdc_spark", "jvm")
JAR = os.path.join(SRC_DIR, "nio-localfs.jar")
MANIFEST = b"Manifest-Version: 1.0\r\n\r\n"
FIXED_TIME = (1980, 1, 1, 0, 0, 0)  # the zip format's epoch


def compile_classes(out_dir: str) -> dict[str, bytes]:
    """``javac --release 17`` the sources into ``out_dir``; returns
    ``{jar entry name: class bytes}``."""
    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    sources = sorted(glob.glob(os.path.join(SRC_DIR, "*.java")))
    subprocess.run(
        ["javac", "--release", "17", "-nowarn", "-cp", jars, "-d", out_dir, *sources],
        check=True,
    )
    classes = {}
    for path in glob.glob(os.path.join(out_dir, "**", "*.class"), recursive=True):
        with open(path, "rb") as f:
            classes[os.path.relpath(path, out_dir).replace(os.sep, "/")] = f.read()
    return classes


def write_jar(path: str, classes: dict[str, bytes]) -> None:
    entries = {"META-INF/MANIFEST.MF": MANIFEST, **dict(sorted(classes.items()))}
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in entries.items():
            info = zipfile.ZipInfo(name, FIXED_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            z.writestr(info, data)


def main(argv: list[str]) -> int:
    out = argv[0] if argv else JAR
    with tempfile.TemporaryDirectory() as tmp:
        classes = compile_classes(tmp)
    write_jar(out, classes)
    print(f"{out}: {len(classes)} classes")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
