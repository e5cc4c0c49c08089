"""``get_spark``'s per-batch settings, in a session of their own: a Python
task runs from any working directory, and a file-stream micro-batch of
many new files lists them without a Spark job."""

import json
import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
N_FILES = 40  # over Spark's default parallel-listing threshold of 32

SCRIPT = textwrap.dedent("""
    import json, sys
    sys.path.insert(0, sys.argv[1])
    from covid19_spark.measure import job_rows
    from covid19_spark.session import get_spark

    spark = get_spark("test_session", extra_conf={"spark.ui.showConsoleProgress": "false"})
    out = {}

    def double(frames):
        for pdf in frames:
            yield pdf.assign(id=pdf["id"] * 2)

    try:
        out["mapInPandas"] = sorted(
            r.id for r in spark.range(8).repartition(4).mapInPandas(double, "id long").collect())
    except Exception as e:
        out["mapInPandas"] = repr(e)[:2000]

    since = max((r["job"] for r in job_rows(spark, 0)), default=-1) + 1
    q = (spark.readStream.schema("v long").json(sys.argv[2])
         .writeStream.format("memory").queryName("picked")
         .option("checkpointLocation", sys.argv[3]).trigger(availableNow=True).start())
    q.awaitTermination()
    out["jobs"] = [r["desc"] for r in job_rows(spark, since)]
    out["stream_rows"] = spark.table("picked").count()
    print(json.dumps(out))
""")


@pytest.fixture(scope="module")
def session_run(tmp_path_factory):
    """Run SCRIPT in a fresh process: cwd a temporary dir and no
    PYTHONPATH, so nothing but the session's own settings lets the Python
    workers import the package."""
    tmp = tmp_path_factory.mktemp("session")
    src = tmp / "src"
    src.mkdir()
    for i in range(N_FILES):
        (src / f"part-{i:03d}.json").write_text(json.dumps({"v": i}) + "\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(ROOT), str(src), str(tmp / "ckpt")],
        cwd=tmp, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_python_task_runs_from_any_cwd(session_run):
    assert session_run["mapInPandas"] == [2 * i for i in range(8)]


def test_stream_batch_of_many_files_runs_no_listing_job(session_run):
    assert session_run["stream_rows"] == N_FILES
    assert session_run["jobs"], "the micro-batch ran no job at all"
    listing = [d for d in session_run["jobs"] if "Listing leaf files" in d]
    assert not listing, listing
