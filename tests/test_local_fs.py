"""The fork-free local file system that `session.get_spark` installs on a
local session (`psql_streamer_spark/jvm/NoForkLocalFs.java`), checked
against stock Hadoop: the classes the `file` scheme resolves to, the
modes files and directories get, link probes, Hive's rename rule, the
checksum check on read, and overwrites that replace a file instead of
truncating it. Also the one project jar it ships in, with every
`jvm/*.java`."""

from __future__ import annotations

import os
import stat

import pytest

from psql_streamer_spark.session import (
    _JVM_DIR,
    EPOCH_FILES,
    LOCAL_ABSTRACT_FS,
    LOCAL_FS,
    _jar_key,
    _with_local_fs,
)
from psql_streamer_spark.streaming import ParquetSink


@pytest.fixture()
def hadoop(spark):
    return spark._jvm.org.apache.hadoop


@pytest.fixture()
def local_fs(spark, hadoop):
    return hadoop.fs.FileSystem.getLocal(spark._jsc.hadoopConfiguration())


def _mode(path) -> int:
    return stat.S_IMODE(os.lstat(path).st_mode)


def test_file_scheme_resolves_to_the_shim(spark, hadoop, local_fs):
    conf = spark._jsc.hadoopConfiguration()
    assert local_fs.getClass().getName() == LOCAL_FS
    fc = hadoop.fs.FileContext.getLocalFSFileContext(conf)
    assert fc.getDefaultFileSystem().getClass().getName() == LOCAL_ABSTRACT_FS


def test_conf_merge_appends_the_jar_and_keeps_a_callers_scheme(spark):
    out = _with_local_fs({
        "spark.driver.extraClassPath": "/opt/x.jar",
        "spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem",
    })
    first, jar = out["spark.driver.extraClassPath"].split(os.pathsep)
    assert first == "/opt/x.jar" and jar.endswith(".jar") and os.path.isfile(jar)
    assert out["spark.hadoop.fs.file.impl"] == "org.apache.hadoop.fs.LocalFileSystem"
    assert out["spark.hadoop.fs.AbstractFileSystem.file.impl"] == LOCAL_ABSTRACT_FS


def test_one_jar_holds_every_jvm_source(spark):
    for cls in (LOCAL_FS, EPOCH_FILES):
        assert spark._jvm.java.lang.Class.forName(cls).getName() == cls


def test_jar_key_covers_every_source_and_the_class_path(tmp_path):
    """Editing any one `jvm/*.java`, or another set of pyspark jars,
    builds a new jar instead of loading a stale one."""
    import shutil

    sources = []
    for src in sorted(os.listdir(_JVM_DIR)):
        if src.endswith(".java"):
            sources.append(str(tmp_path / src))
            shutil.copy(os.path.join(_JVM_DIR, src), sources[-1])
    assert len(sources) >= 2
    jars = ["/jars/hadoop-client-api-3.4.2.jar", "/jars/spark-sql_2.13-4.1.2.jar"]
    key = _jar_key(sources, jars)
    assert _jar_key(list(reversed(sources)), jars) == key
    assert _jar_key(sources, jars[:1]) != key
    assert _jar_key(sources, [jars[0], "/jars/spark-sql_2.13-4.1.3.jar"]) != key
    for src in sources:
        with open(src, "a") as f:
            f.write("\n")
        edited = _jar_key(sources, jars)
        assert edited != key, src
        key = edited


def test_a_build_drops_the_stale_jars_of_its_own_dir(tmp_path, monkeypatch):
    """A new jar in the package's `jvm/.build` deletes the older ones
    there; the temp dir, shared with other checkouts, keeps its jars."""
    import shutil
    import tempfile
    import zipfile

    from psql_streamer_spark import session

    jvm, shared = tmp_path / "jvm", tmp_path / "tmp"
    (jvm / ".build").mkdir(parents=True)
    (shared / "psql_streamer_spark-jvm").mkdir(parents=True)
    for src in os.listdir(_JVM_DIR):
        if src.endswith(".java"):
            shutil.copy(os.path.join(_JVM_DIR, src), jvm / src)
    stale = [jvm / ".build" / "psqlstreamer-0123456789abcdef.jar",
             jvm / ".build" / "noforklocalfs-0123456789abcdef.jar",
             shared / "psql_streamer_spark-jvm" / "psqlstreamer-0123456789abcdef.jar"]
    for jar in stale:
        jar.write_bytes(b"")
    monkeypatch.setattr(session, "_JVM_DIR", str(jvm))
    monkeypatch.setattr(tempfile, "tempdir", str(shared))
    session._project_jar.cache_clear()
    try:
        jar = session._project_jar()
        session._project_jar.cache_clear()
        assert session._project_jar() == jar
    finally:
        session._project_jar.cache_clear()
    assert os.listdir(jvm / ".build") == [os.path.basename(jar)]
    assert stale[2].exists()
    names = set(zipfile.ZipFile(jar).namelist())
    assert {f"{c.replace('.', '/')}.class" for c in (LOCAL_FS.split("$")[0], EPOCH_FILES)} <= names


def test_written_files_and_dirs_keep_their_modes(spark, tmp_path):
    out = tmp_path / "out"
    spark.range(20).selectExpr("id", "id % 3 AS k").write.partitionBy("k").parquet(str(out))
    dirs, files = [str(out)], []
    for root, ds, fs in os.walk(out):
        dirs += [os.path.join(root, d) for d in ds]
        files += [os.path.join(root, f) for f in fs]
    assert len(dirs) == 4 and any(f.endswith(".crc") for f in files)
    assert {_mode(d) for d in dirs} == {0o755}
    assert {_mode(f) for f in files} == {0o644}


def test_set_permission_applies_plain_and_sticky_modes(hadoop, local_fs, tmp_path):
    f, d = tmp_path / "f", tmp_path / "d"
    f.write_text("x")
    d.mkdir()
    FsPermission = hadoop.fs.permission.FsPermission
    local_fs.setPermission(hadoop.fs.Path(str(f)), FsPermission("640"))
    local_fs.setPermission(hadoop.fs.Path(str(d)), FsPermission("1777"))
    assert _mode(f) == 0o640
    assert _mode(d) == 0o1777


def test_link_status_agrees_with_stock(spark, hadoop, local_fs, tmp_path):
    stock = hadoop.fs.RawLocalFileSystem()
    stock.initialize(spark._jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    shim = local_fs.getRaw()
    target = tmp_path / "target"
    target.write_text("payload")
    (tmp_path / "link").symlink_to(target)

    def status(fs, path):
        try:
            st = fs.getFileLinkStatus(hadoop.fs.Path(path))
        except Exception as e:  # py4j wraps the Java exception
            assert "java.io.FileNotFoundException" in str(e)
            return "missing"
        return (str(st.getPath()), st.isSymlink(), st.isFile(), st.isDirectory(),
                st.getLen(), str(st.getSymlink()) if st.isSymlink() else None)

    for name in ("link", "target", "missing"):
        for path in (str(tmp_path / name), f"file:{tmp_path / name}"):
            assert status(shim, path) == status(stock, path), path
    assert status(shim, str(tmp_path / "link"))[1] is True
    assert status(shim, str(tmp_path / "missing")) == "missing"


def test_rename_onto_an_existing_file_is_refused(hadoop, local_fs, tmp_path):
    src, dst = tmp_path / "src", tmp_path / "dst"
    src.write_text("new")
    dst.write_text("old")
    assert local_fs.rename(hadoop.fs.Path(str(src)), hadoop.fs.Path(str(dst))) is False
    assert src.read_text() == "new" and dst.read_text() == "old"


def test_flipped_byte_fails_the_checksum_on_read(spark, tmp_path):
    out = tmp_path / "out"
    spark.range(5000).selectExpr("id", "cast(id * 7 AS string) AS s").coalesce(1) \
        .write.parquet(str(out))
    (data,) = [p for p in out.iterdir() if p.name.endswith(".parquet")]
    raw = bytearray(data.read_bytes())
    raw[len(raw) // 2] ^= 0xFF
    data.write_bytes(bytes(raw))
    with pytest.raises(Exception, match="ChecksumException"):
        spark.read.parquet(str(out)).collect()


def _write(hadoop, fs, path, data: bytes, overwrite: bool = True) -> None:
    out = fs.create(hadoop.fs.Path(str(path)), overwrite)
    out.write(bytearray(data))
    out.close()


def _read(hadoop, fs, path) -> bytes:
    # a checksummed read: a stale or foreign .crc raises ChecksumException
    stream = fs.open(hadoop.fs.Path(str(path)))
    try:
        return bytes(hadoop.io.IOUtils.readFullyToByteArray(stream))
    finally:
        stream.close()


def test_overwrite_replaces_the_file(hadoop, local_fs, tmp_path):
    f, crc = tmp_path / "f", tmp_path / ".f.crc"
    _write(hadoop, local_fs, f, b"old bytes, several of them")
    os.chmod(f, 0o600)
    witness, crc_witness = tmp_path / "witness", tmp_path / "crc_witness"
    os.link(f, witness)
    os.link(crc, crc_witness)

    _write(hadoop, local_fs, f, b"new")

    # the witnesses hold the old inodes, so ext4 cannot hand their numbers back
    assert not os.path.samefile(f, witness)
    assert not os.path.samefile(crc, crc_witness)
    assert witness.read_bytes() == b"old bytes, several of them"
    assert _read(hadoop, local_fs, f) == b"new"
    fresh = tmp_path / "fresh"
    _write(hadoop, local_fs, fresh, b"new")
    assert _mode(f) == _mode(fresh) == 0o644


def test_overwrite_through_a_symlink_writes_the_target(spark, hadoop, local_fs, tmp_path):
    stock = hadoop.fs.LocalFileSystem()
    stock.initialize(spark._jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    for name, fs in (("shim", local_fs), ("stock", stock)):
        d = tmp_path / name
        d.mkdir()
        target, link = d / "target", d / "link"
        _write(hadoop, fs, target, b"old")
        link.symlink_to(target)
        _write(hadoop, fs, link, b"new through the link")
        assert link.is_symlink() and os.readlink(link) == str(target), name
        assert target.read_bytes() == b"new through the link", name
        assert _read(hadoop, fs, link) == b"new through the link", name


def test_create_without_overwrite_still_refuses(hadoop, local_fs, tmp_path):
    f = tmp_path / "f"
    _write(hadoop, local_fs, f, b"kept")
    with pytest.raises(Exception, match="FileAlreadyExistsException"):
        _write(hadoop, local_fs, f, b"refused", overwrite=False)
    assert _read(hadoop, local_fs, f) == b"kept"


def test_partitioned_append_replaces_the_success_marker(spark, tmp_path):
    """The second append into a partitioned parquet directory rewrites its
    `_SUCCESS` marker and `._SUCCESS.crc`. Truncating the non-empty `.crc`
    in place stalled each job commit on ext4: in the `cdc_trickle` shape,
    the `table=`-partitioned sink spent about 86 ms between its job's end
    and its SQL execution's end, against about 3 ms once the marker is
    replaced. A replaced marker is a new inode."""
    out = tmp_path / "lake"
    sink = ParquetSink(str(out), partition_cols=["table"])
    frame = spark.range(6).selectExpr("id", "IF(id % 2 = 0, 'users', 'orders') AS table")
    sink.write(frame, 0)
    marker, crc = out / "_SUCCESS", out / "._SUCCESS.crc"
    os.link(marker, tmp_path / "marker_witness")
    os.link(crc, tmp_path / "crc_witness")

    sink.write(frame.limit(4), 1)

    assert not os.path.samefile(marker, tmp_path / "marker_witness")
    assert not os.path.samefile(crc, tmp_path / "crc_witness")
    assert spark.read.parquet(str(out)).count() == 6 + 4
