"""The session's JVM<->Python transport (proj_spark/session.py): workers
talk over Unix-domain sockets in a short private directory, one daemon
serves Python-RDD and pandas-UDF tasks alike, and a checkout or temp path
of any length starts a session."""

from __future__ import annotations

import glob
import os
import stat
import subprocess
import sys

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _children(pid: int) -> list[int]:
    kids = []
    for p in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            kids.append(int(p))
    return kids


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode()
    except OSError:
        return ""


def test_workers_talk_over_unix_domain_sockets(spark):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def uds(s: pd.Series) -> pd.Series:
        return pd.Series([os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED")] * len(s))

    got = {r[0] for r in spark.range(4, numPartitions=2).select(uds("id")).collect()}
    assert {g.lower() for g in got} == {"true"}
    sock_dir = spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir")
    assert len(sock_dir) + len("/.00000000-0000-0000-0000-000000000000.sock") < 108
    assert stat.S_IMODE(os.stat(sock_dir).st_mode) == 0o700


def test_one_daemon_serves_python_rdd_and_pandas_udf(spark):
    """A local list's Python-RDD scan and a pandas UDF share one worker
    factory, so the JVM keeps one daemon for both."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def ident(s: pd.Series) -> pd.Series:
        return s

    local = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "x double")
    made = spark.range(8, numPartitions=2).selectExpr("cast(id as double) as x")
    rows = made.union(local).select(ident("x").alias("x")).collect()
    assert sorted(r.x for r in rows) == [0, 1, 1, 2, 2, 3, 3, 4, 5, 6, 7]
    jvm = spark.sparkContext._gateway.proc.pid
    daemons = [p for p in _children(jvm) if "proj_spark._daemon" in _cmdline(p)]
    assert len(daemons) == 1


_LONG_PATH_SESSION = """
import os, sys
import pandas as pd
from pyspark.sql.functions import pandas_udf
from proj_spark.session import get_spark

tmp = os.environ["TMPDIR"]
spark = get_spark("long-tmp", cores=1, extra={
    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    "spark.ui.showConsoleProgress": "false"})
spark.sparkContext.setLogLevel("ERROR")

@pandas_udf("long")
def plus1(s: pd.Series) -> pd.Series:
    return s + 1

n = spark.range(10, numPartitions=2).select(plus1("id").alias("v")).groupBy().sum("v")
sock_dir = spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir")
print("sum", n.collect()[0][0])
print("dir", sock_dir)
spark.stop()
print("left", os.path.exists(sock_dir))
"""


def test_session_with_long_temp_paths_runs_a_pandas_udf(tmp_path):
    """Socket files are ``<dir>/.<uuid4>.sock`` and ``sun_path`` holds 107
    bytes: a ``java.io.tmpdir`` and ``TMPDIR`` of 120+ characters must not
    decide where they go, and stopping the session leaves none behind."""
    long_tmp = tmp_path / ("t" * max(1, 121 - len(str(tmp_path))))
    long_tmp.mkdir()
    assert len(str(long_tmp)) > 100
    env = dict(os.environ, TMPDIR=str(long_tmp), SPARK_DRIVER_MEM="512m",
               PYTHONPATH=os.pathsep.join(
                   p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run([sys.executable, "-c", _LONG_PATH_SESSION], cwd=ROOT,
                         env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-4000:]
    got = dict(line.split(" ", 1) for line in out.stdout.splitlines()
               if line.split(" ", 1)[0] in ("sum", "dir", "left"))
    assert got["sum"] == "55"
    assert not got["dir"].startswith(str(tmp_path))
    assert got["left"] == "False"
    assert not os.path.exists(got["dir"])
    assert glob.glob(os.path.join(long_tmp, "**", ".*.sock"), recursive=True) == []
