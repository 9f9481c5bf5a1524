"""Self-test of the benchmark.

    python3 -m pytest perfbench -q -p no:cacheprovider

- The status-store collector reports q34 (one tumbling-window aggregate)
  as 2 jobs with shuffle write > 0, with the Spark UI disabled.
- A minimal run of each trace mode prints, as its last line, every metric
  named in BENCHMARK.json with that metric's unit.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen, run  # noqa: E402
from perfbench import trace as tr  # noqa: E402


@pytest.fixture(scope="module")
def bench():
    args = run.argparse.Namespace(workload="olap", seed=0, seconds=0, trace=1)
    b = run.Bench(args)
    b.work = os.path.join(HERE, "_work", "selftest")
    b.data_dir = os.path.join(b.work, "data")
    shutil.rmtree(b.work, ignore_errors=True)
    gen.write_tables(0, b.data_dir)
    b.spark = b.build_session()
    yield b
    run.stop_spark(b.spark)
    shutil.rmtree(b.work, ignore_errors=True)


def test_q34_collector(bench):
    from dbkit_spark.catalog import load_all

    spark = bench.spark
    assert spark.conf.get("spark.ui.enabled") == "false"
    store = tr.StatusStore(spark)
    q34 = load_all()["q34_tumbling_window"]
    group = "selftest-q34"
    spark.sparkContext.setJobGroup(group, "q34")
    t0 = time.time()
    q34.fn(spark, bench.data_dir).write.format("noop").mode("overwrite").save()
    m = store.collect(group, [], t0, time.time())
    assert m["exec.jobs"] == 2, m
    assert m["exec.shuffle_write_mb"] > 0, m
    assert m["exchange.count"] >= 1, m


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_smoke_prints_every_metric(trace, section):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "olap",
         "--seed", "0", "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in spec[section]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
