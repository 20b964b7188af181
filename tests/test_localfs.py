"""Tests for the java.nio local filesystem that ``get_spark`` installs
(``sqlite_cdc_spark/jvm/NioLocalFs.java``, built into ``nio-localfs.jar``).

It must behave as Hadoop's stock local filesystem does — same modes, same
``.crc`` sidecars, same statuses — while starting no ``chmod`` or
``readlink`` process.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import sqlite3
import stat
import zipfile

import pytest
from py4j.protocol import Py4JJavaError

from sqlite_cdc_spark import session, sinks, sqlite_bridge, streaming

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def hadoop(spark):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    fc = jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf)
    return jvm, conf, fs, fc


def _mode(path) -> int:
    return stat.S_IMODE(os.lstat(path).st_mode)


def _crc(path) -> str:
    d, n = os.path.split(str(path))
    return os.path.join(d, f".{n}.crc")


def test_session_installs_both_filesystem_classes(hadoop):
    _, _, fs, fc = hadoop
    assert fs.getClass().getName() == "sqlitecdc.NioLocalFs$Local"
    assert fs.getRawFileSystem().getClass().getName() == "sqlitecdc.NioLocalFs$Raw"
    assert fc.getDefaultFileSystem().getClass().getName() == "sqlitecdc.NioLocalFs$Context"


def test_filesystem_create_and_mkdirs_modes_and_checksums(hadoop, tmp_path):
    jvm, _, fs, _ = hadoop
    Path, FsPermission = jvm.org.apache.hadoop.fs.Path, jvm.org.apache.hadoop.fs.permission.FsPermission

    d = tmp_path / "dir"
    assert fs.mkdirs(Path(str(d)))
    assert _mode(d) == 0o755
    f = d / "f"
    out = fs.create(Path(str(f)))
    out.write(b"abc")
    out.close()
    assert _mode(f) == 0o644
    assert os.path.exists(_crc(f)) and _mode(_crc(f)) == 0o644

    d2 = tmp_path / "dir2"
    assert fs.mkdirs(Path(str(d2)), FsPermission(0o750))
    assert _mode(d2) == 0o750
    f2 = d2 / "f2"
    out = fs.create(Path(str(f2)), FsPermission(0o640), True, 4096, 1, 32 << 20, None)
    out.close()
    assert _mode(f2) == 0o640
    assert os.path.exists(_crc(f2))


def test_filecontext_create_and_mkdir_modes_and_checksums(spark, hadoop, tmp_path):
    jvm, _, _, fc = hadoop
    hfs = jvm.org.apache.hadoop.fs
    CreateOpts = hfs.Options.CreateOpts

    def create(path, perm=None) -> None:
        opts = spark.sparkContext._gateway.new_array(CreateOpts, 1 if perm else 0)
        if perm:
            opts[0] = CreateOpts.perms(hfs.permission.FsPermission(perm))
        flags = jvm.java.util.EnumSet.of(hfs.CreateFlag.CREATE)
        out = fc.create(hfs.Path(str(path)), flags, opts)
        out.write(b"abc")
        out.close()

    d = tmp_path / "dir"
    fc.mkdir(hfs.Path(str(d)), hfs.permission.FsPermission.getDirDefault(), True)
    assert _mode(d) == 0o755
    create(d / "f")
    assert _mode(d / "f") == 0o644
    assert os.path.exists(_crc(d / "f"))

    d2 = tmp_path / "dir2"
    fc.mkdir(hfs.Path(str(d2)), hfs.permission.FsPermission(0o750), True)
    assert _mode(d2) == 0o750
    create(d2 / "f2", 0o640)
    assert _mode(d2 / "f2") == 0o640
    assert os.path.exists(_crc(d2 / "f2"))

    # a FileContext rename (how the checkpoint's offset and commit logs
    # publish) carries the sidecar along
    no_opts = spark.sparkContext._gateway.new_array(hfs.Options.Rename, 0)
    fc.rename(hfs.Path(str(d2 / "f2")), hfs.Path(str(d2 / "g2")), no_opts)
    assert os.path.exists(_crc(d2 / "g2")) and not os.path.exists(_crc(d2 / "f2"))


def _status(st) -> tuple:
    return (
        st.getPath().toString(), st.getLen(), st.isDirectory(), st.isSymlink(),
        st.getSymlink().toString() if st.isSymlink() else None,
        st.getPermission().toString(), st.getModificationTime(),
    )


def test_file_link_status(hadoop, tmp_path):
    jvm, conf, fs, _ = hadoop
    Path = jvm.org.apache.hadoop.fs.Path
    raw = fs.getRawFileSystem()
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), conf)

    f = tmp_path / "f"
    f.write_text("abc")
    for p in (Path(str(f)), Path(f"file:{f}")):
        assert _status(raw.getFileLinkStatus(p)) == _status(raw.getFileStatus(p))
        assert _status(raw.getFileLinkStatus(p)) == _status(stock.getFileLinkStatus(p))

    with pytest.raises(Py4JJavaError, match="java.io.FileNotFoundException"):
        raw.getFileLinkStatus(Path(str(tmp_path / "missing")))

    link = tmp_path / "link"
    os.symlink(f, link)
    st = raw.getFileLinkStatus(Path(str(link)))
    assert st.isSymlink() and st.getSymlink().toUri().getPath() == str(f)
    for p in (Path(str(link)), Path(f"file:{link}")):
        assert _status(raw.getFileLinkStatus(p)) == _status(stock.getFileLinkStatus(p))


def _clones() -> int:
    """Processes and threads created since boot, machine-wide."""
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("processes "):
                return int(line.split()[1])
    raise RuntimeError("no processes line in /proc/stat")


def test_cdc_round_starts_no_processes(spark, tmp_path):
    """A 5-page catch-up round creates under 50 processes and threads.

    The stock local filesystem creates about 400 (a ``chmod`` per file
    and directory, a ``readlink`` per checkpoint rename). The minimum of
    three rounds is taken because Spark's context cleaner sometimes
    starts a few dozen pool threads of its own during a round."""
    db = str(tmp_path / "app.db")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT)")
    conn.commit()
    sqlite_bridge.setup(conn, ["t"])
    log_dir, ckpt, sink_dir = (str(tmp_path / n) for n in ("log", "ckpt", "sink"))
    eng = streaming.StreamEngine(spark, log_dir, ckpt)
    eng.setup()
    handler = sinks.parquet_sink_handler(sink_dir)
    counts = []
    try:
        for r in range(4):
            conn.executemany("INSERT INTO t (v) VALUES (?)", [(str(i),) for i in range(5 * 256)])
            conn.commit()
            c0 = _clones()
            assert sqlite_bridge.poll_log(conn, log_dir, batch_size=256) == 5 * 256
            eng.deliver(eng.read_log_stream(), handler, available_now=True).awaitTermination(120)
            if r:  # round 0 starts the stream's pools and JIT threads
                counts.append(_clones() - c0)
    finally:
        conn.close()
    assert spark.read.parquet(sink_dir).count() == 4 * 5 * 256
    assert min(counts) < 50, counts

    # modes as the stock filesystem leaves them; the sink publishes its
    # files from Python, so only the checkpoint carries .crc sidecars
    for root in (ckpt, sink_dir):
        for d, dirs, files in os.walk(root):
            assert _mode(d) == 0o755, d
            for n in files:
                p = os.path.join(d, n)
                assert _mode(p) == 0o644, p
                if root == ckpt and not n.startswith("."):
                    assert os.path.exists(_crc(p)), p
    assert len(os.listdir(sink_dir)) == 4 * 5


def _build_jvm():
    spec = importlib.util.spec_from_file_location(
        "build_jvm", os.path.join(ROOT, "tools", "build_jvm.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_committed_jar_matches_source(tmp_path):
    if shutil.which("javac") is None:
        pytest.skip("javac not on PATH: cannot recompile the jar's source")
    build = _build_jvm()
    assert build.JAR == session.LOCALFS_JAR
    classes = build.compile_classes(str(tmp_path))
    with zipfile.ZipFile(session.LOCALFS_JAR) as z:
        committed = {n: z.read(n) for n in z.namelist() if n.endswith(".class")}
    assert committed == classes
