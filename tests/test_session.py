"""Session factory: what a session leaves behind on the machine."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
from mongo2neo_spark.session import get_spark
spark = get_spark(app_name="m2n-checkpoint-dir", master="local[1]")
sc = spark.sparkContext
rdd = sc.parallelize([1, 2])
rdd.checkpoint()
rdd.count()
print(sc.getCheckpointDir())
spark.stop()
"""


def test_checkpoint_dir_is_removed_at_exit(tmp_path):
    """Each session checkpoints into a directory of its own, which is
    gone once the process exits: Spark adds a subdirectory per
    SparkContext to it and never deletes it."""
    pythonpath = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    env = dict(os.environ, M2N_DRIVER_MEM="1g", PYTHONPATH=pythonpath,
               PYSPARK_PYTHON=sys.executable, TMPDIR=str(tmp_path))
    proc = subprocess.run([sys.executable, "-c", _SCRIPT], cwd=ROOT, env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    checkpoint_dir = proc.stdout.strip().splitlines()[-1]
    assert checkpoint_dir.startswith("file:"), checkpoint_dir
    path = checkpoint_dir[len("file:"):]
    assert path.startswith(str(tmp_path)), path
    # the session's own directory goes too, not only Spark's subdirectory
    assert not os.path.exists(os.path.dirname(path))
