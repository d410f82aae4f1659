"""The spark-submit entrypoint: each subcommand runs, then resumes, and
``get_spark`` keeps the launcher's settings under spark-submit."""

import importlib.util
import os
import pathlib
import random
import subprocess
import sys

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
_spec = importlib.util.spec_from_file_location("run_pipeline", ROOT / "scripts" / "run_pipeline.py")
run_pipeline = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(run_pipeline)


@pytest.fixture(scope="module")
def toy_docs(spark, tmp_path_factory):
    """60 short seeded docs, 10 of them one-word edits of another doc."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    texts = [[rng.choice(vocab) for _ in range(25)] for _ in range(50)]
    for i in range(10):
        edit = list(texts[i])
        edit[rng.randrange(25)] = rng.choice(vocab)
        texts.append(edit)
    rows = [(i, " ".join(t), "en" if i % 2 else "zh") for i, t in enumerate(texts)]
    path = str(tmp_path_factory.mktemp("toy") / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(path)
    return path


@pytest.mark.parametrize("plan", ["linkage", "dedup", "curation"])
def test_entrypoint_runs_then_resumes(spark, toy_docs, tmp_path, plan):
    argv = {
        "linkage": ["--docs-a", "synthetic:100", "--docs-b", "synthetic:100", "--evaluate"],
        "dedup": ["--docs", toy_docs, "--sample", "en=0.5"],
        "curation": ["--docs", toy_docs],
    }[plan]
    args = run_pipeline.parse_args([plan, *argv, "--base-dir", str(tmp_path)])
    first = run_pipeline.run(args, spark)
    assert first["executed"] and first["skipped"] == []
    assert set(first["rows"]) == set(first["executed"])
    assert first["rows"]["kept_docs" if plan != "linkage" else "matches"] > 0
    second = run_pipeline.run(args, spark)
    assert second["executed"] == [] and second["skipped"] == first["executed"]
    assert second["rows"] == first["rows"]
    if plan == "linkage":
        assert second["matches"] == first["matches"] and first["f1"] >= 0.99


PROBE = """\
from pprl_spark.session import get_spark
spark = get_spark()
conf = spark.sparkContext.getConf()
rows = spark.range(6, numPartitions=2).mapInPandas(lambda it: it, "id long").count()
print("PROBE", conf.get("spark.master"), conf.get("spark.driver.memory"),
      spark.conf.get("spark.sql.shuffle.partitions"),
      conf.get("spark.python.daemon.module", "unset"), rows)
"""


def test_get_spark_keeps_spark_submit_settings(tmp_path):
    """Builder settings beat the launcher's, so get_spark must not set a
    key spark-submit already set (the script would otherwise run on
    local[SPARK_GRAFT_CPUS] whatever --master said). Nor may it name its
    own Python daemon there: ``--py-files`` reach the workers only after
    the daemon has started, so the daemon could not import it."""
    from pyspark.find_spark_home import _find_spark_home

    probe = tmp_path / "probe.py"
    probe.write_text(PROBE)
    env = {k: v for k, v in os.environ.items() if not k.startswith("PYSPARK_GATEWAY")}
    env["PYTHONPATH"] = os.pathsep.join([str(ROOT), env.get("PYTHONPATH", "")])
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    out = subprocess.run(
        [os.path.join(_find_spark_home(), "bin", "spark-submit"),
         "--master", "local[2]", "--driver-memory", "1g",
         "--conf", "spark.sql.shuffle.partitions=3", str(probe)],
        env=env, capture_output=True, text=True, timeout=300,
    )
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("PROBE")]
    assert line, out.stderr[-2000:]
    assert line[0].split()[1:] == ["local[2]", "1g", "3", "unset", "6"]
