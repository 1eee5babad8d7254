"""A stream's checkpoint and state files on ``file:`` paths
(``borsa_spark/streaming/LocalCheckpointFileManager.java``): written with
no forked process, in the layout of Hadoop's local file system, so that a
checkpoint restarts under either manager and a corrupted log file fails
its restart under both."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest
from py4j.protocol import Py4JJavaError

from borsa_spark import jvm
from borsa_spark.streaming import candle_stream, fan_in, streaming_monotonic_gate
from tests.test_streaming import _TickBacklog

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KEY = jvm.CHECKPOINT_MANAGER_KEY
LOCAL = jvm.CHECKPOINT_MANAGER
STOCK = ("org.apache.spark.sql.execution.streaming.checkpointing."
         "FileContextBasedCheckpointFileManager")


@pytest.fixture()
def use_manager(spark):
    """Sets the session's checkpoint manager for one test; restores the
    session's value afterwards."""
    jvm.load(spark)
    prev = spark.conf.get(KEY, None)
    yield lambda name: spark.conf.set(KEY, name)
    if prev is None:
        spark.conf.unset(KEY)
    else:
        spark.conf.set(KEY, prev)


def _manager(spark, name, path):
    """The manager ``name`` for ``path``, made as Spark makes it."""
    j = spark._jvm
    conf = j.org.apache.hadoop.conf.Configuration(
        spark._jsc.hadoopConfiguration())
    conf.set(KEY, name)
    cfm = j.org.apache.spark.sql.execution.streaming.checkpointing
    fm = cfm.CheckpointFileManager.create(
        j.org.apache.hadoop.fs.Path(str(path)), conf)
    assert fm.getClass().getName() == name
    return fm, j


def _write(fm, j, path, data: bytes, overwrite: bool):
    out = fm.createAtomic(j.org.apache.hadoop.fs.Path(str(path)), overwrite)
    out.write(bytearray(data))
    out.close()


def _read(fm, j, path) -> bytes:
    stream = fm.open(j.org.apache.hadoop.fs.Path(str(path)))
    try:
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


class TestLocalCheckpointFileManager:
    def test_no_overwrite_write_fails_when_the_target_exists(
            self, spark, use_manager, tmp_path):
        fm, j = _manager(spark, LOCAL, tmp_path)
        target = tmp_path / "0"
        _write(fm, j, target, b"first", overwrite=False)
        with pytest.raises(Py4JJavaError, match="FileAlreadyExistsException"):
            _write(fm, j, target, b"second", overwrite=False)
        assert _read(fm, j, target) == b"first"
        _write(fm, j, target, b"third", overwrite=True)
        assert _read(fm, j, target) == b"third"
        # no temporary file is left behind, and listings hide the checksums
        assert sorted(p.name for p in tmp_path.iterdir()) == [".0.crc", "0"]
        listed = fm.list(j.org.apache.hadoop.fs.Path(str(tmp_path)))
        assert [s.getPath().getName() for s in listed] == ["0"]

    @pytest.mark.parametrize("writer,reader", [(LOCAL, STOCK), (STOCK, LOCAL)])
    def test_each_manager_reads_the_others_files(
            self, spark, use_manager, tmp_path, writer, reader):
        """Both write the same checksum companion, which the package's
        manager checks on read. (Spark's default manager does not check it:
        its ``FileContext`` opens local files through
        ``FilterFs.open(Path)``, which goes to the raw file system.)"""
        w, j = _manager(spark, writer, tmp_path)
        r, _ = _manager(spark, reader, tmp_path)
        local, _ = _manager(spark, LOCAL, tmp_path)
        body = bytes(range(256)) * 5  # three checksum chunks, the last short
        _write(w, j, tmp_path / "f", body, overwrite=True)
        assert _read(r, j, tmp_path / "f") == body
        raw = bytearray((tmp_path / "f").read_bytes())
        raw[700] ^= 1
        (tmp_path / "f").write_bytes(bytes(raw))
        with pytest.raises(Py4JJavaError, match="Checksum error"):
            _read(local, j, tmp_path / "f")

    def test_loader_keeps_a_manager_the_session_names(
            self, spark, use_manager):
        use_manager(STOCK)
        jvm.load(spark)
        assert spark.conf.get(KEY) == STOCK
        spark.conf.unset(KEY)
        hadoop = spark._jsc.hadoopConfiguration()
        hadoop.set(KEY, STOCK)
        try:
            jvm.load(spark)
            assert spark.conf.get(KEY, None) is None
        finally:
            hadoop.unset(KEY)
        jvm.load(spark)
        assert spark.conf.get(KEY) == LOCAL


class TestCheckpointAcrossManagers(_TickBacklog):
    """The fan_in -> gate -> candle_stream query, drained over half the
    backlog and restarted from its checkpoint under the other manager for
    the rest, writes the bars of a one-shot drain; a flipped byte in a committed
    offset-log file fails the restart under either manager."""

    def _drain(self, spark, root, out, ckpt):
        sources = [
            spark.readStream.schema(self.SCHEMA)
            .option("maxFilesPerTrigger", "2")
            .parquet(str(root / f"p{p}" / "f*"))
            for p in range(3)
        ]
        bars = candle_stream(
            streaming_monotonic_gate(fan_in(sources)),
            interval_seconds=60, watermark="10 seconds",
        )
        q = (
            bars.writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        return q

    @pytest.mark.parametrize("first,second", [(STOCK, LOCAL), (LOCAL, STOCK)])
    def test_restart_under_the_other_manager_gives_one_shot_bars(
            self, spark, use_manager, tmp_path, first, second):
        ticks, out, ckpt = (tmp_path / n for n in ("ticks", "out", "ckpt"))
        half = self.N_FILES // 2
        self._write_backlog(spark, ticks, range(half))
        use_manager(first)
        assert self._drain(spark, ticks, out, ckpt).exception() is None
        self._write_backlog(spark, ticks, range(half, self.N_FILES))
        use_manager(second)
        assert self._drain(spark, ticks, out, ckpt).exception() is None
        restarted = self._bars(spark, out)

        fresh_out = tmp_path / "fresh_out"
        assert self._drain(
            spark, ticks, fresh_out, tmp_path / "fresh_ckpt"
        ).exception() is None
        one_shot = self._bars(spark, fresh_out)
        assert len(one_shot) > 3 * self.N_FILES
        assert restarted == one_shot

    def _committed_offsets(self, spark, tmp_path):
        """Drain two files per provider; the last committed offset-log
        file, its bytes, and a function that restarts the drain."""
        ticks, out, ckpt = (tmp_path / n for n in ("ticks", "out", "ckpt"))
        self._write_backlog(spark, ticks, range(2))
        assert self._drain(spark, ticks, out, ckpt).exception() is None
        latest = max((f for f in (ckpt / "offsets").iterdir()
                      if f.name.isdigit()), key=lambda f: int(f.name))
        return latest, bytearray(latest.read_bytes()), (
            lambda: self._drain(spark, ticks, out, ckpt))

    @pytest.mark.parametrize("manager", [STOCK, LOCAL])
    def test_flipped_byte_in_offset_log_fails_restart(
            self, spark, use_manager, tmp_path, manager):
        use_manager(manager)
        latest, raw, restart = self._committed_offsets(spark, tmp_path)
        assert raw.startswith(b"v1\n")
        raw[0] ^= 1  # the version line now reads "w1"
        latest.write_bytes(bytes(raw))
        with pytest.raises(Exception, match="STREAM_FAILED"):
            restart()

    def test_flipped_digit_in_offset_log_fails_its_checksum(
            self, spark, use_manager, tmp_path):
        """A flip that leaves the file well formed: only the checksum
        tells. Spark's default manager reads local files through
        ``FileContext``, whose ``LocalFs`` opens them without their
        checksums (``FilterFs.open(Path)`` goes to the raw file system), so
        this restart passes there; the package's manager reads through
        ``LocalFileSystem``, which checks them."""
        use_manager(LOCAL)
        latest, raw, restart = self._committed_offsets(spark, tmp_path)
        # The last digit of the batch timestamp: flipping its low bit
        # leaves a digit.
        at = raw.index(b",", raw.index(b'"batchTimestampMs":')) - 1
        raw[at] ^= 1
        assert chr(raw[at]).isdigit()
        latest.write_bytes(bytes(raw))
        with pytest.raises(Exception, match="Checksum error"):
            restart()


# Hadoop's local file system, without its native library, forks these for
# every file it creates and every rename it checks.
SHIMMED = ("chmod", "readlink", "stat", "ls")


def test_drain_forks_nothing_for_its_checkpoint(tmp_path):
    """A fan_in -> gate -> candle_stream drain into a memory sink, in a
    child interpreter whose ``PATH`` puts a logging shim before each
    command in ``SHIMMED``: no shim logs a path under the checkpoint. The
    backlog's parquet files go through Hadoop's file system, so without
    native IO the shims log those, which shows that they work."""
    shims, log = tmp_path / "shims", tmp_path / "forks.log"
    shims.mkdir()
    log.touch()
    for cmd in SHIMMED:
        real = shutil.which(cmd)
        (shims / cmd).write_text(
            f'#!/bin/sh\necho "{cmd} $*" >> {log}\nexec {real} "$@"\n')
        (shims / cmd).chmod(0o755)
    env = dict(os.environ, PATH=f"{shims}{os.pathsep}{os.environ['PATH']}",
               SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("SPARK_GRAFT_MASTER", None)
    probe = (
        "import pathlib\n"
        "from borsa_spark.session import get_spark\n"
        "from borsa_spark.streaming import (candle_stream, fan_in,\n"
        "                                   streaming_monotonic_gate)\n"
        "from tests.test_streaming import _TickBacklog\n"
        f"root = pathlib.Path({str(tmp_path)!r})\n"
        "s = get_spark('fork-probe')\n"
        "b = _TickBacklog()\n"
        "b._write_backlog(s, root / 'ticks', range(b.N_FILES))\n"
        "src = [s.readStream.schema(b.SCHEMA).option('maxFilesPerTrigger', 1)\n"
        "       .parquet(str(root / 'ticks' / f'p{p}' / 'f*')) for p in range(3)]\n"
        "bars = candle_stream(streaming_monotonic_gate(fan_in(src)), 60,\n"
        "                     watermark='10 seconds')\n"
        "q = (bars.writeStream.format('memory').queryName('bars')\n"
        "     .option('checkpointLocation', str(root / 'ckpt'))\n"
        "     .trigger(availableNow=True).start())\n"
        "q.awaitTermination()\n"
        "assert q.exception() is None\n"
        "assert s.table('bars').count() > 0\n"
        "print(s._jvm.org.apache.hadoop.io.nativeio.NativeIO.isAvailable())\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=600, check=True,
    )
    native = out.stdout.strip().splitlines()[-1] == "true"
    forks = log.read_text().splitlines()
    assert (tmp_path / "ckpt" / "commits" / "0").exists()
    assert [f for f in forks if str(tmp_path / "ckpt") in f] == []
    assert native or any(str(tmp_path / "ticks") in f for f in forks)
