"""Tests of the benchmark harness itself.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402


def _clean_env() -> dict[str, str]:
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    return env


def test_inputs_repeat_for_a_seed_and_differ_across_seeds():
    a, b, c = (datagen.tables(s, 0.001) for s in (5, 5, 6))
    for name in datagen.TABLES:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["events"].schema.field("ts").type == pa.timestamp("us")
    assert a["embeddings"].num_rows == 500


def test_udf_entry_runs_from_a_foreign_cwd(tmp_path):
    """A registry entry whose Python workers import the package
    (suite_multimodal's mapInPandas stages) runs with the caller's cwd
    outside the repo and no PYTHONPATH set: without run.prepare_env its
    workers raise ModuleNotFoundError."""
    run_dir, data = str(tmp_path / "run"), str(tmp_path / "data")
    code = f"""
import sys
sys.path.insert(0, {HERE!r})
import datagen, run
run.prepare_env({run_dir!r})
from datawarehouse_spark.queries import QUERIES
d = datagen.write(7, 0.001, {data!r})
spark = run.start_session({run_dir!r})
try:
    print("rows", QUERIES["suite_multimodal"](spark, d).count())
finally:
    run.stop_jvm(spark)
"""
    out = subprocess.run([sys.executable, "-c", code], cwd=tmp_path, env=_clean_env(),
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    assert int(out.stdout.split("rows")[-1]) > 0


def test_checkout_without_the_package_fails_without_a_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "warehouse_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=_clean_env(), capture_output=True, text=True, timeout=180)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
