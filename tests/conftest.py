import os
import time

import pytest
from pyspark.sql import SparkSession

from bitfilters_spark.session import WORKER_CONF

# /tmp is disk-backed (ext4) in this environment while /dev/shm is a
# large tmpfs; streaming checkpoints, state-store deltas and shuffle
# files are fsync-ish small-file I/O that costs real wall time on disk
# (A/B: a 3-batch stateful sessionize runs 10.1 s with /tmp local dirs
# vs 7.4 s on tmpfs). Point BOTH pytest's tmp_path factory and Spark's
# local dirs at tmpfs when it exists. Test data is tiny (KBs per test),
# nothing persists past the run.
_SHM = "/dev/shm"


def _age(path):
    try:
        return time.time() - os.path.getmtime(path)
    except OSError:  # reaped by a concurrent run
        return 0.0


def pytest_configure(config):
    if os.path.isdir(_SHM) and config.option.basetemp is None:
        base = os.path.join(_SHM, f"bf-pytest-{os.getuid()}")
        os.makedirs(base, exist_ok=True)
        # reap tmp trees left by runs whose pytest process is gone, or
        # older than a day (a reused pid must not pin a dead run's tree)
        import shutil

        for d in os.listdir(base):
            path = os.path.join(base, d)
            if d.isdigit() and (not os.path.exists(f"/proc/{d}") or _age(path) > 86400):
                shutil.rmtree(path, ignore_errors=True)
        config.option.basetemp = os.path.join(base, str(os.getpid()))


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master(
            f"local[{os.environ.get('BF_TEST_CPUS', '4')}]"
        )
        .appName("bitfilters-tests")
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("BF_TEST_SHUFFLE", "8"),
        )
        # mirror the session factory's join posture (r14: SHJ preference)
        # so plan-shape tests and the PLAN_AUDIT gate compare like for
        # like with production plans
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m"
        )
        # whole-stage codegen OFF by default for the suite: Janino
        # compilation of one-off generated classes dominates tiny test
        # plans (A/B: similarity+graph 167.7 s -> 144.6 s, streaming
        # ~flat); results are engine-identical (Spark falls back to the
        # same interpreted expressions codegen compiles). Production
        # sessions (bitfilters_spark.session.make_session) keep codegen
        # ON — this is a test-harness wall-time lever only. The one
        # test ABOUT codegen spans pins the conf on locally.
        .config(
            "spark.sql.codegen.wholeStage",
            os.environ.get("BF_TEST_CODEGEN", "false"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        # the production Python-worker path (session.WORKER_CONF)
        .config(map=WORKER_CONF)
    )
    if os.path.isdir(_SHM):
        local = os.path.join(_SHM, f"bf-pytest-{os.getuid()}", "spark-local")
        os.makedirs(local, exist_ok=True)
        s = s.config("spark.local.dir", local)
    s = s.getOrCreate()
    yield s
