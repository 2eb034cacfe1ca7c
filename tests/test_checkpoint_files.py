"""Stream checkpoint files go through Spark's FileSystem-based checkpoint
manager (``session.STREAM_CONFS``), and still carry ``.crc`` checksums.

The default FileContext-based manager forks ``chmod``/``readlink`` per
checkpoint file on a JVM without libhadoop; these tests pin the manager
that avoids that, on both session routes, and show that the checkpoint a
stateful drain leaves is the same checksummed layout as before."""

import glob
import json
import os

from pyspark.sql import functions as F

from duckdb_extension_kafquack_spark.session import ensure_session_conf
from duckdb_extension_kafquack_spark.sources.datasource import read_kafquack
from duckdb_extension_kafquack_spark.streaming.state import dedup_within_watermark
from tests.conftest import SF_DIR

FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def _manager_class(session, path: str) -> str:
    """The class a stream started on ``session`` would write its
    checkpoint at ``path`` through (Spark resolves it from the session's
    Hadoop conf at ``start()``)."""
    jvm = session._jvm
    conf = session._jsparkSession.sessionState().newHadoopConf()
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path), conf
    )
    return manager.getClass().getName()


def _committed_files(sink: str) -> set[str]:
    """Files the file sink's ``_spark_metadata`` log lists as committed."""
    files: set[str] = set()
    # glob's "*" skips the hidden ".N.crc" sidecars
    for log in glob.glob(os.path.join(sink, "_spark_metadata", "*")):
        with open(log) as fh:
            for line in fh.read().splitlines()[1:]:
                entry = json.loads(line)
                path = entry["path"].removeprefix("file://")
                if entry.get("action") == "delete":
                    files.discard(path)
                else:
                    files.add(path)
    return files


def _crc_sidecars(directory: str) -> list[str]:
    return glob.glob(os.path.join(directory, "**", ".*.crc"), recursive=True)


def test_sessions_resolve_filesystem_manager(spark, tmp_path):
    assert _manager_class(spark, str(tmp_path)) == FS_MANAGER
    # a session that never saw get_spark's builder: Spark's default until
    # ensure_session_conf applies the engine's stream confs
    bare = spark.newSession()
    bare.conf.unset(MANAGER_KEY)
    assert _manager_class(bare, str(tmp_path)) != FS_MANAGER
    ensure_session_conf(bare)
    assert _manager_class(bare, str(tmp_path)) == FS_MANAGER


def test_stateful_drain_keeps_checksums_and_sink_log(spark, tmp_path):
    ckpt, sink = str(tmp_path / "ckpt"), str(tmp_path / "sink")
    stream = read_kafquack(
        spark, "localhost:9092", "events", "g", stream=True, fixture_dir=SF_DIR
    )
    out = dedup_within_watermark(stream).filter(F.col("error").isNull()).select(
        "partition", "offset"
    )
    q = (
        out.writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(sink)
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert not q.isActive

    for sub in ("offsets", "commits", "state"):
        assert _crc_sidecars(os.path.join(ckpt, sub)), f"no .crc sidecar under {sub}/"
    # the RocksDB changelogs themselves are checksummed
    changelogs = glob.glob(os.path.join(ckpt, "state", "**", "*.changelog"), recursive=True)
    assert changelogs
    for log in changelogs:
        head, name = os.path.split(log)
        assert os.path.exists(os.path.join(head, f".{name}.crc"))

    committed = _committed_files(sink)
    written = set(glob.glob(os.path.join(sink, "*.parquet")))
    assert committed and committed == written
    assert spark.read.parquet(sink).count() > 0
